#!/usr/bin/env python3
"""A/B a change against its parent commit on one lvbench workload.

    python3 tools/lvbench_ab.py --workload index_tree --seeds 201-210 --seconds 15

Runs `lvbench/run.py` once per seed on each side, alternating which side
goes first (even pairs: parent first). The change side is the checkout this
script is run from, working tree included. The parent side is a `git
worktree` of `--parent` (default HEAD~1), added under a temporary directory
and removed afterwards, or an existing checkout given with `--parent-dir`.
Each side keeps its own `.bench_build/`, so each builds once.

Prints, for every end-to-end metric that BENCHMARK.json declares: the median
and quartiles of each side, the parent's IQR (the distance between its
quartiles), the change in the median, and in how many pairs the change was
better (ties count for neither side). A gain on a metric holds when the
change wins at least 9 pairs in 10 and the medians differ by more than the
parent's IQR. Failed operations are summed per side.

Beside that verdict, each metric is read against its BENCHMARK.json bound
(a relative change): the relative IQR (IQR / median) of each side, then
`worse` when the change's median is worse than the parent's by more than the
bound, and `unresolved` when the parent's relative IQR exceeds the bound, so
the runs spread too widely to tell a move of that size, unless every run of
the change reads better than every run of the parent (either may show alone,
both together, or `within` when neither holds).

With `--trace`, one more run per side follows, with `--trace 1` on the
first seed, and the per-layer metrics BENCHMARK.json declares are printed
side by side (parent, change, relative change), so a gain can be shown in
the layer that makes it.
"""
import argparse
import json
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_side(checkout, workload, seed, seconds, trace=False):
    """The result line of one run, or None if the run failed."""
    done = subprocess.run(
        [sys.executable, "lvbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, q2, q3


def bound_verdict(both, parent_q, change_q, bound, lower):
    """`worse` and/or `unresolved` against a relative bound, else `within`.

    Unresolved: the parent's relative IQR exceeds the bound, unless every
    run of the change reads better than every run of the parent."""
    p, c = parent_q[1], change_q[1]
    worse_by = ((c - p) if lower else (p - c)) / abs(p) if p else 0.0
    ps, cs = [x for x, _ in both], [y for _, y in both]
    all_better = max(cs) < min(ps) if lower else min(cs) > max(ps)
    flags = []
    if worse_by > bound:
        flags.append("worse")
    if p and (parent_q[2] - parent_q[0]) / abs(p) > bound and not all_better:
        flags.append("unresolved")
    return ", ".join(flags) or "within"


def rel_iqr(q):
    return (q[2] - q[0]) / abs(q[1]) * 100 if q[1] else float("nan")


def report(metrics, pairs):
    print(f"{'metric':<14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'parent IQR':>11} {'delta':>8} {'wins':>7}  gain  "
          f"{'rIQR p':>7} {'rIQR c':>7} {'bound':>6}  vs bound")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"]) for p, c in pairs]
        if not both:
            continue
        pq, cq = quartiles([p for p, _ in both]), quartiles([c for _, c in both])
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        iqr = pq[2] - pq[0]
        holds = wins >= 0.9 * len(both) and abs(cq[1] - pq[1]) > iqr
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        print(f"{name:<14} {pq[1]:>12.4g} [{pq[0]:.4g}, {pq[2]:.4g}] {cq[1]:>12.4g} [{cq[0]:.4g}, {cq[2]:.4g}] "
              f"{iqr:>11.4g} {delta:>7.1f}% {wins:>3}/{len(both):<3}  {'yes' if holds else 'no':<4}  "
              f"{rel_iqr(pq):>6.1f}% {rel_iqr(cq):>6.1f}% {m['bound'] * 100:>5.0f}%  "
              f"{bound_verdict(both, pq, cq, m['bound'], lower)}")


def report_layers(metrics, parent, change):
    def show(x):
        return f"{'-':>12}" if x is None else f"{x:>12.4g}"
    print(f"{'layer metric':<32} {'parent':>12} {'change':>12} {'delta':>8}")
    for m in metrics:
        name = m["name"]
        p, c = (None if r is None else r["metrics"].get(name, {}).get("value") for r in (parent, change))
        if p is None and c is None:
            continue
        delta = f"{(c - p) / p * 100:7.1f}%" if p and c is not None else f"{'':>8}"
        print(f"{name:<32} {show(p)} {show(c)} {delta}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 201,205,300-302")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--parent", default="HEAD~1", help="commit to compare against")
    ap.add_argument("--parent-dir", help="an existing checkout of the parent, instead of a worktree")
    ap.add_argument("--trace", action="store_true",
                    help="also run one traced run per side and print its per-layer metrics")
    a = ap.parse_args()
    change = pathlib.Path.cwd()
    spec = json.loads((change / "BENCHMARK.json").read_text())
    worktree = None
    if a.parent_dir:
        parent = pathlib.Path(a.parent_dir).resolve()
    else:
        worktree = pathlib.Path(tempfile.mkdtemp(prefix="lvbench-parent-"))
        subprocess.run(["git", "worktree", "add", "--detach", str(worktree), a.parent],
                       cwd=change, check=True, stdout=subprocess.DEVNULL)
        parent = worktree
    seeds = parse_seeds(a.seeds)
    pairs, failed = [], {"parent": [0, 0], "change": [0, 0]}
    try:
        for i, seed in enumerate(seeds):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {}
            for side, checkout in order:
                got[side] = run_side(checkout, a.workload, seed, a.seconds)
                res = got[side]
                status = "run failed" if res is None else \
                    f"{res['failed']}/{res['attempted']} failed, " + \
                    ", ".join(f"{k} {v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"seed {seed} {side:<6}: {status}", flush=True)
                if res is not None:
                    failed[side][0] += res["failed"]
                    failed[side][1] += res["attempted"]
            if got["parent"] and got["change"]:
                pairs.append((got["parent"], got["change"]))
        if a.trace:
            traced = {side: run_side(checkout, a.workload, seeds[0], a.seconds, trace=True)
                      for side, checkout in (("parent", parent), ("change", change))}
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", str(worktree)], cwd=change)
            shutil.rmtree(worktree, ignore_errors=True)
    print(f"\n{a.workload}: {len(pairs)} complete pairs of {len(seeds)}, {a.seconds} s runs; "
          f"failed operations: parent {failed['parent'][0]}/{failed['parent'][1]}, "
          f"change {failed['change'][0]}/{failed['change'][1]}")
    report(spec["end_to_end"], pairs)
    if a.trace:
        print(f"\n{a.workload}: one traced run per side, seed {seeds[0]}"
              + "".join(f"; {side} run failed" for side, r in traced.items() if r is None))
        report_layers(spec["per_layer"], traced["parent"], traced["change"])


if __name__ == "__main__":
    main()
