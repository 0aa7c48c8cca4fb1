#!/usr/bin/env python3
"""Count code lines per Scala file under src/main, and their total.

Usage:
  python3 tools/code_lines.py [root]

`root` defaults to src/main. A code line is any line that is not blank,
not a `//` line, and not inside a `/* ... */` block (scaladoc included).
A line that opens or closes a block comment counts only if code sits
outside the comment on that line. Prints `<lines>  <path>` per file,
sorted by path, then `<total>  total`.
"""
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = ""
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                # code up to a block comment opened later on the line
                start = line.find("/*")
                if start < 0 or '"' in line[:start]:
                    code, line = line, ""
                else:
                    code, line = line[:start], line[start:]
        if code.strip():
            n += 1
    return n


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    counts = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    counts.append((path, code_lines(f.read())))
    counts.sort()
    for path, n in counts:
        print(f"{n:6d}  {path}")
    print(f"{sum(n for _, n in counts):6d}  total")


if __name__ == "__main__":
    main(sys.argv)
