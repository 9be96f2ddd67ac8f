#!/usr/bin/env python3
"""Compare two graft.PlanDump output dirs, query by query.

    python3 tools/plandiff.py <dirA> <dirB>

Each dir holds one `explain("formatted")` file per query, as written by
`runMain graft.PlanDump <outDir> <sfDir>` (GRAFT_PLAN_ONLY=1 skips the
timed passes). Before comparing, the tokens that change from run to run
without the plan changing are masked:

  - expression ids (`doc_id#123L` -> `doc_id#N`);
  - `plan_id=N` tags;
  - RDD ids (`MapPartitionsRDD[329]`);
  - JVM lambda class names and identity hashes
    (`$$Lambda$4303/0x00007fce5d272b68@834944`);
  - source line numbers (`KMeansVec.scala:950`);
  - the checkout a session's `spark-warehouse` lives in, so two
    checkouts of the same tree compare equal.

Prints every query whose masked plan differs (with its first differing
line) or that exists in one dir only, then a summary line. Exits 1 if
any query differs, 0 if all are identical.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda[$\w]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda@N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:<checkout>/spark-warehouse/"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    a = {f for f in os.listdir(a_dir) if f.endswith(".txt")}
    b = {f for f in os.listdir(b_dir) if f.endswith(".txt")}
    differ = 0
    for f in sorted(a ^ b):
        print(f"ONLY-IN-{'A' if f in a else 'B'} {f}")
        differ += 1
    for f in sorted(a & b):
        la, lb = masked(os.path.join(a_dir, f)), masked(os.path.join(b_dir, f))
        if la != lb:
            diff = [d for d in difflib.unified_diff(la, lb, lineterm="", n=0)
                    if d[:1] in "+-" and d[:3] not in ("+++", "---")]
            print(f"DIFF {f}: {diff[0] if diff else '(whitespace)'}")
            differ += 1
    print(f"{len(a & b)} plans compared, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
