#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 lvbench/run.py --workload index_tree --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The build (sbt, offline) happens once per
source state: its classpath is cached under .bench_build/lvbench, keyed on a
hash of every source and build file. The benchmark JVM then prints one JSON
result line as the last line of standard output. Generated inputs, indexes
and traces stay under .bench_build/lvbench.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "lvbench"
OUT = ROOT / ".bench_build" / "lvbench"
RUN_TIMEOUT_S = 170


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        if tree.is_dir():
            files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.is_file() else b"<missing>")
    return h.hexdigest()


def build():
    """JVM options and classpath of the built benchmark, one per line."""
    stamp, launch = OUT / "build.stamp", OUT / "launch.txt"
    key = source_hash()
    if stamp.is_file() and launch.is_file() and stamp.read_text() == key:
        return launch.read_text().splitlines()
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    with open(log, "w") as f:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "lvbench/launchFile"],
            cwd=BENCH, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=600)
    built = BENCH / "target" / "launch.txt"
    if done.returncode != 0 or not built.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        sys.exit(f"lvbench: build failed (exit {done.returncode}), see {log}")
    lines = built.read_text().splitlines()
    launch.write_text("\n".join(lines) + "\n")
    stamp.write_text(key)
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit("lvbench: run from the root of a checkout of the program")
    lines = build()
    opts, classpath = lines[:-1], lines[-1]
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + opts + ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                              "lvbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", a.trace,
                              "--work", str(OUT / "work")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"lvbench: run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
