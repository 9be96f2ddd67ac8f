#!/bin/bash
# Core-count gate: every query's result must not depend on the core
# count or the partitioning. Runs graft.Verify on one fixture at 1
# core and at N cores, then compares every query's output as a
# multiset in DuckDB (EXCEPT ALL both ways, plus row counts). No
# tolerance: any difference, a query present in one run only, or a
# failed Verify run exits non-zero.
#
#   tools/corecount_gate.sh [SF_DIR] [N]
#
# SF_DIR defaults to /root/testdata/sf0.01; N defaults to 3 (odd, so
# the scan re-split rule fires where a table has fewer row groups
# than cores). Outputs go to ${TMPDIR:-/tmp}/graft-corecount.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
N="${2:-3}"
OUT="${TMPDIR:-/tmp}/graft-corecount"
rm -rf "$OUT"
SPARK_GRAFT_CPUS=1 sbt -batch "runMain graft.Verify $SF $OUT/c1"
SPARK_GRAFT_CPUS="$N" sbt -batch "runMain graft.Verify $SF $OUT/c$N"
python3 - "$OUT/c1" "$OUT/c$N" <<'PY'
import os, sys
import duckdb

a_dir, b_dir = sys.argv[1], sys.argv[2]
def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
qa, qb = queries(a_dir), queries(b_dir)
con = duckdb.connect()
fail = 0
for n in sorted(qa ^ qb):
    print(f"FAIL {n}: present in one run only")
    fail += 1
for n in sorted(qa & qb):
    a = f"read_parquet('{a_dir}/{n}/*.parquet')"
    b = f"read_parquet('{b_dir}/{n}/*.parquet')"
    try:
        na = con.sql(f"SELECT count(*) FROM {a}").fetchone()[0]
        nb = con.sql(f"SELECT count(*) FROM {b}").fetchone()[0]
        ab = con.sql(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
        ba = con.sql(f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})").fetchone()[0]
    except Exception as e:
        print(f"FAIL {n}: compare error {e}")
        fail += 1
        continue
    if na != nb or ab or ba:
        print(f"FAIL {n}: rows {na} vs {nb}, {ab} only at 1 core, {ba} only at N cores")
        fail += 1
    else:
        print(f"SAME {n} ({na} rows)")
print(f"\n{len(qa & qb)} queries compared, {fail} differences")
sys.exit(1 if fail else 0)
PY
