#!/usr/bin/env python3
"""Count Scala source lines under src/main and src/test.

    python3 tools/loc.py [repo_root]

Prints, per tree, the total line count and the count of code lines:
lines that still hold a non-blank character once `//` line comments and
`/* ... */` block comments (scaladoc included, nesting as in Scala) are
dropped. Comment markers inside string and character literals are not
comments, so SQL text such as `a // b` (DuckDB integer division) or a
`"dir/*"` glob counts as code.
"""
import os
import sys


def strip_comments(text):
    """Return `text` with its comments removed and every newline kept."""
    out = []
    n = len(text)
    i = 0
    depth = 0          # block-comment nesting
    string = None      # None, '"' or '"""'
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
            continue
        if string == '"""':
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                out.append(text[i:j])
                string = None
                i = j
            else:
                out.append(c)
                i += 1
            continue
        if string == '"':
            if c == "\\":
                out.append(text[i:i + 2])
                i += 2
            else:
                if c == '"':
                    string = None
                out.append(c)
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            out.append('"""')
            i += 3
        elif c == '"':
            string = '"'
            out.append(c)
            i += 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal: 'x' or an escape such as '\''
            end = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            j = (end + 1) if end > 0 else i + 1
            out.append(text[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def code_lines(text):
    """Return the number of lines with code outside comments."""
    return sum(1 for line in strip_comments(text).split("\n") if line.strip())


def count_tree(root):
    total = code = files = 0
    for dirpath, _, names in os.walk(root):
        for name in sorted(names):
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                text = f.read()
            files += 1
            total += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
            code += code_lines(text)
    return files, total, code


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    for tree in ("src/main", "src/test"):
        files, total, code = count_tree(os.path.join(repo, tree))
        print(f"{tree}: {files} files, {total} lines, {code} code lines "
              "(non-blank, comments dropped)")


if __name__ == "__main__":
    main()
