#!/usr/bin/env python3
"""List the src/main defs that nothing outside their own definition uses.

    python3 tools/unreferenced.py [repo_root]

A def counts as referenced when its name occurs, as a whole word, in
src/main, lvbench/src or tools anywhere other than its own `def` lines.
Comments are stripped first (Scala `//` and `/* */` as tools/loc.py
strips them, Python `#` lines), so a name that only a scaladoc link or
a comment mentions is unreferenced. The match is by name, not by
type: two defs that share a name reference each other, so the list
errs toward missing a dead def, never toward listing a live one.
Skipped: `main`, `apply`, `unapply` and `override` defs, which callers
reach without naming them.

Prints one line per unreferenced def, `path:line name tests=N` (N =
whole-word occurrences in src/test, comments stripped: the tests that
would break if it went), then a total line.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import strip_comments  # noqa: E402

DEF = re.compile(r"^(?P<mods>[^\n]*?)\bdef\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)", re.M)
SKIP = {"main", "apply", "unapply"}


def sources(root, exts):
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(exts):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    text = f.read()
                if name.endswith(".py"):
                    text = re.sub(r"(?m)^\s*#.*$", "", text)
                else:
                    text = strip_comments(text)
                yield path, text


def word_counts(texts):
    counts = {}
    for text in texts:
        for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", text):
            counts[w] = counts.get(w, 0) + 1
    return counts


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    main_src = list(sources(os.path.join(repo, "src/main"), (".scala",)))
    others = list(sources(os.path.join(repo, "lvbench/src"), (".scala",))) + \
        list(sources(os.path.join(repo, "tools"), (".py", ".sh", ".scala")))
    tests = list(sources(os.path.join(repo, "src/test"), (".scala",)))
    uses = word_counts(t for _, t in main_src + others)
    test_uses = word_counts(t for _, t in tests)

    defs = []  # (path, line, name)
    for path, text in main_src:
        for m in DEF.finditer(text):
            if m.group("name") in SKIP or "override" in m.group("mods"):
                continue
            defs.append((path, text.count("\n", 0, m.start()) + 1, m.group("name")))
    n_defs = {}
    for _, _, name in defs:
        n_defs[name] = n_defs.get(name, 0) + 1

    dead = [(p, ln, name) for p, ln, name in defs if uses.get(name, 0) <= n_defs[name]]
    for path, line, name in dead:
        rel = os.path.relpath(path, repo)
        print(f"{rel}:{line} {name} tests={test_uses.get(name, 0)}")
    print(f"{len(dead)} of {len(defs)} src/main defs unreferenced outside their definition")


if __name__ == "__main__":
    main()
