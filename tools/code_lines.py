#!/usr/bin/env python3
"""Count code lines per Scala file under src/main, and their total.

Usage:
  python3 tools/code_lines.py [root]
  python3 tools/code_lines.py --against <git-ref> [root]

`root` defaults to src/main. A code line is any line that is not blank,
not a `//` line, and not inside a `/* ... */` block (scaladoc included).
A line that opens or closes a block comment counts only if code sits
outside the comment on that line. Prints `<lines>  <path>` per file,
sorted by path, then `<total>  total`.

With `--against <git-ref>` it compares the working tree with the files
under `root` at that ref (read through `git ls-tree` and `git show`, so
no second checkout is needed) and prints `<before> <after> <delta>
<path>` for every file that changed or exists on one side only, then the
same three numbers for the whole of `root`. Run it from the repo root.
"""
import os
import subprocess
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


def tree_counts(root):
    """{path: code lines} for the Scala files under `root` on disk."""
    counts = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    counts[path] = code_lines(f.read())
    return counts


def ref_counts(ref, root):
    """{path: code lines} for the Scala files under `root` at git `ref`."""
    def git(*args):
        return subprocess.run(("git",) + args, check=True,
                              capture_output=True, text=True).stdout
    counts = {}
    for path in git("ls-tree", "-r", "--name-only", ref, "--", root).split("\n"):
        if path.endswith(".scala"):
            counts[path] = code_lines(git("show", f"{ref}:{path}"))
    return counts


def main(argv):
    args = argv[1:]
    ref = None
    if args[:1] == ["--against"]:
        if len(args) < 2:
            sys.exit("usage: code_lines.py --against <git-ref> [root]")
        ref, args = args[1], args[2:]
    root = os.path.normpath(args[0]) if args else "src/main"
    after = tree_counts(root)
    if ref is None:
        for path in sorted(after):
            print(f"{after[path]:6d}  {path}")
        print(f"{sum(after.values()):6d}  total")
        return
    before = ref_counts(ref, root)
    for path in sorted(set(before) | set(after)):
        b, a = before.get(path, 0), after.get(path, 0)
        if a != b or path not in before or path not in after:
            print(f"{b:6d} {a:6d} {a - b:+6d}  {path}")
    b, a = sum(before.values()), sum(after.values())
    print(f"{b:6d} {a:6d} {a - b:+6d}  total")


if __name__ == "__main__":
    main(sys.argv)
