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

One ordering is also made canonical. For a query with several distinct
aggregates, Spark's `Expand` lists the distinct groups in an order that
follows expression ids, so it moves when an earlier query allocates a
different number of ids. That order sets three things, and each is put
in a canonical order: the groups' own output columns (sorted by name,
in the `Expand` and in every attribute list that repeats its output),
the projection rows (sorted), and the `gid` literals (renumbered by the
row order everywhere in the plan, `FILTER (WHERE (gid#N = k))`
included). Nothing else about the operator is masked.

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


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def split_top(s):
    """Split on the commas outside any () or [] nesting."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


EXPAND_ARGS = re.compile(r"^Arguments: (\[\[.*\]\]), (\[.*\])$")


def canonical_gids(text):
    """Put each distinct-aggregate Expand's groups in a canonical order."""
    lines = text.split("\n")
    renums, reorders = {}, []
    node = None
    for n, line in enumerate(lines):
        head = re.match(r"^\(\d+\) (\w+)", line)
        if head:
            node = head.group(1)
        m = EXPAND_ARGS.match(line) if node == "Expand" else None
        if not m:
            continue
        out = split_top(m.group(2)[1:-1])
        gid = [j for j, o in enumerate(out) if re.fullmatch(r"gid#\d+", o)]
        rows = [split_top(r[1:-1]) for r in split_top(m.group(1)[1:-1])]
        if len(gid) != 1 or not all(r[gid[0]].isdigit() for r in rows):
            continue
        g = gid[0]
        # the distinct groups' own columns (null in some row) sort by
        # name, in the Expand and in every list that repeats its output
        own = [j for j in range(g) if any(r[j] == "null" for r in rows)]
        pick = list(range(len(out)))
        for dst, src in zip(own, sorted(own, key=lambda j: mask(out[j]))):
            pick[dst] = src
        reorders.append((", ".join(out[:g + 1]), ", ".join(out[j] for j in pick[:g + 1])))
        out = [out[j] for j in pick]
        rows = [[r[j] for j in pick] for r in rows]
        # then the rows sort, and gid is renumbered by that order
        old = [int(r[g]) for r in rows]
        order = sorted(range(len(rows)),
                       key=lambda i: mask(", ".join(rows[i][:g] + rows[i][g + 1:])))
        renum = {old[i]: v for i, v in zip(order, sorted(old))}
        for r in rows:
            r[g] = str(renum[int(r[g])])
        lines[n] = ("Arguments: [" + ", ".join("[" + ", ".join(rows[i]) + "]" for i in order)
                    + "], [" + ", ".join(out) + "]")
        renums[out[g]] = renum
    text = "\n".join(lines)
    for before, after in reorders:
        text = text.replace(before, after)
    for attr, renum in renums.items():
        text = re.sub(re.escape(attr) + r" = (\d+)\b",
                      lambda k: f"{attr} = {renum.get(int(k.group(1)), k.group(1))}", text)
    return text


def masked(path):
    with open(path, encoding="utf-8") as f:
        return mask(canonical_gids(f.read())).splitlines()


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
