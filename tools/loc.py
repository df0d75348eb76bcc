#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines under src/main.

A line counts when, once `/* ... */` blocks (scaladoc included) are
removed, it holds something other than whitespace or a `//` comment.
Prints the total, then one line per package directory one level below
the root package (`graft/core`, `graft/sources`, ...); files directly in
`graft/` count as `graft/*.scala`.

    python3 tools/loc.py            # from the repository root
    python3 tools/loc.py path/to/src/main
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line
        code = ""
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:]
            else:
                start = rest.find("/*")
                if start < 0:
                    code += rest
                    rest = ""
                else:
                    code += rest[:start]
                    in_block = True
                    rest = rest[start + 2:]
        code = code.strip()
        if code and not code.startswith("//"):
            n += 1
    return n


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main")
    root = os.path.normpath(root)
    per = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".scala"):
                continue
            p = os.path.join(d, f)
            rel = os.path.relpath(p, root).split(os.sep)
            if rel[0] == "scala":
                rel = rel[1:]
            group = "/".join(rel[:2]) if len(rel) > 2 else rel[0] + "/*.scala"
            with open(p, encoding="utf-8") as fh:
                per[group] = per.get(group, 0) + code_lines(fh.read())
    print(f"total {sum(per.values())}")
    for g in sorted(per):
        print(f"{per[g]:7d}  {g}")


if __name__ == "__main__":
    main()
