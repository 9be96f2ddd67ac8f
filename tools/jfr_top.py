#!/usr/bin/env python3
"""Top inclusive and self frames of a JFR recording's CPU samples.

    python3 tools/jfr_top.py rec.jfr --thread main --frame graft.Graft --top 25

Reads the `jdk.ExecutionSample` events of a recording (through `jfr print
--json --stack-depth 4096`; a file already printed that way, ending in
`.json`, is read as is)
and counts, per frame `class.method`, the samples whose stack holds it
(inclusive, each frame counted once per sample) and the samples it is the
leaf of (self). `--thread` keeps the samples of threads whose name contains
the text; `--frame` keeps the samples with a frame containing the text, so
"98 of 223 samples" reads as: 98 of the thread's 223 samples pass through
that frame. Stacks are as deep as the recording kept them: 64 frames
unless the JVM ran with `-XX:FlightRecorderOptions=stackdepth=<n>`, and a
Spark job's stacks are deeper, so without it a frame far from the leaf
(the caller that started the job) is undercounted.
"""
import argparse
import collections
import json
import signal
import subprocess


def load(path):
    if path.endswith(".json"):
        with open(path) as f:
            return json.load(f)
    # `jfr print` keeps 5 frames a stack unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "4096",
                          "--events", "jdk.ExecutionSample", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)


def frame_name(frame):
    """`pkg.Class.method`: JFR names classes in internal form (`pkg/Class`)."""
    method = frame["method"]
    return f"{method['type']['name'].replace('/', '.')}.{method['name']}"


def thread_name(thread):
    return (thread or {}).get("javaName") or (thread or {}).get("osName") or ""


def samples(recording):
    """(thread name, frames leaf first) per execution sample."""
    for event in recording["recording"]["events"]:
        if event["type"] != "jdk.ExecutionSample":
            continue
        values = event["values"]
        stack = values.get("stackTrace") or {}
        yield thread_name(values.get("sampledThread")), [frame_name(f) for f in stack.get("frames", [])]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="a .jfr file, or its `jfr print --json` output (.json)")
    ap.add_argument("--thread", default="", help="keep threads whose name contains this")
    ap.add_argument("--frame", default="", help="keep samples with a frame containing this")
    ap.add_argument("--top", type=int, default=20)
    a = ap.parse_args()
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    in_thread = [frames for thread, frames in samples(load(a.recording)) if a.thread in thread]
    kept = [frames for frames in in_thread if not a.frame or any(a.frame in f for f in frames)]
    inclusive, self_time = collections.Counter(), collections.Counter()
    for frames in kept:
        inclusive.update(set(frames))
        if frames:
            self_time[frames[0]] += 1
    where = f"thread ~ '{a.thread}'" if a.thread else "all threads"
    print(f"{len(kept)} of {len(in_thread)} samples ({where})"
          + (f" pass through a frame ~ '{a.frame}'" if a.frame else ""))
    for title, counter in (("inclusive", inclusive), ("self", self_time)):
        print(f"\n{title:>9}  share  frame")
        for name, n in counter.most_common(a.top):
            print(f"{n:>9}  {n / max(len(kept), 1):5.1%}  {name}")


if __name__ == "__main__":
    main()
