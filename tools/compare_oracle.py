#!/usr/bin/env python3
"""Dev-side mimic of the driver's DuckDB-oracle gate: for each query
result parquet under OUT_DIR, run the matching oracle SQL from
oracle_sql.json in DuckDB over the fixture tables, sort columns by
name, and compare row counts, schemas (loosely), and values."""
import json, sys, math
import duckdb

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    try:
        ours = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        theirs = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: exec error {e}")
        fail += 1
        continue
    ours = ours.reindex(sorted(ours.columns), axis=1)
    theirs = theirs.reindex(sorted(theirs.columns), axis=1)
    if list(ours.columns) != list(theirs.columns):
        print(f"FAIL {name}: columns ours={list(ours.columns)} oracle={list(theirs.columns)}")
        fail += 1
        continue
    if len(ours) != len(theirs):
        print(f"FAIL {name}: rows ours={len(ours)} oracle={len(theirs)}")
        fail += 1
        continue
    mismatch = None
    for c in ours.columns:
        a, b = ours[c].tolist(), theirs[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            try:
                import pandas as pd
                if pd.isna(x) and pd.isna(y):
                    continue
            except (TypeError, ValueError):
                pass
            same = (x == y) or (x is None and y is None)
            if not same and isinstance(x, float) and isinstance(y, float):
                same = (math.isnan(x) and math.isnan(y)) or \
                    math.copysign(1, x) == math.copysign(1, y) and x == y
            if not same:
                # exact bitwise check for floats: repr compare
                mismatch = (c, i, x, y)
                break
        if mismatch:
            break
    # schema dtype check (loose: numpy kinds)
    kinds = [(c, ours[c].dtype.kind, theirs[c].dtype.kind) for c in ours.columns
             if ours[c].dtype.kind != theirs[c].dtype.kind]
    if mismatch:
        c, i, x, y = mismatch
        print(f"FAIL {name}: value col={c} row={i} ours={x!r} oracle={y!r}")
        fail += 1
    elif kinds:
        # The driver hashes serialized values, so an int64-vs-float64 (or
        # hugeint) kind difference fails its gate even when every value is
        # equal. Mirror that: dtype-kind mismatch is a FAIL here, full stop.
        print(f"FAIL {name}: dtype kinds differ {kinds} (values match)")
        fail += 1
    else:
        print(f"PASS {name} ({len(ours)} rows)")
rowsonly = [n for n in __import__('os').listdir(out_dir)
            if n not in oracle and __import__('os').path.isdir(f"{out_dir}/{n}")]
for n in sorted(rowsonly):
    cnt = con.sql(f"SELECT count(*) FROM '{out_dir}/{n}/*.parquet'").fetchone()[0]
    print(f"ROWS {n}: {cnt} rows")
print(f"\n{fail} failures")
sys.exit(1 if fail else 0)
