#!/usr/bin/env python3
"""Code lines per Scala file under src/main and src/test.

A code line is a line that is neither blank nor comment: `//` line
comments and `/* ... */` block comments (Scaladoc included) are left
out, and a line that holds code beside a comment counts. String
literals are skipped, so a `//` or `/*` inside one is not a comment.

    python3 tools/loc.py [--files] [ROOT]

prints the code lines of src/main and src/test (ROOT defaults to the
repository root), and with --files every file's count first. An
unknown flag, or a ROOT with no src/main, prints the usage line and
exits with status 1.
"""
import os
import sys


def code_lines(path):
    """Code lines of one file; block comments may span lines."""
    n = 0
    in_block = False
    in_triple = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            code = in_triple
            i = 0
            while i < len(line):
                if in_block:
                    end = line.find("*/", i)
                    if end < 0:
                        break
                    in_block, i = False, end + 2
                elif in_triple:
                    end = line.find('"""', i)
                    if end < 0:
                        break
                    in_triple, i = False, end + 3
                elif line.startswith("//", i):
                    break
                elif line.startswith("/*", i):
                    in_block, i = True, i + 2
                elif line.startswith('"""', i):
                    code, in_triple, i = True, True, i + 3
                elif line[i] == '"':
                    code = True
                    i += 1
                    while i < len(line) and line[i] != '"':
                        i += 2 if line[i] == "\\" else 1
                    i += 1
                else:
                    code = code or not line[i].isspace()
                    i += 1
            n += code
    return n


USAGE = "usage: tools/loc.py [--files] [ROOT]"


def main(argv):
    files = "--files" in argv
    args = [a for a in argv if a != "--files"]
    root = args[0] if args else os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    # an unknown flag or a ROOT without src/main would count 0 lines
    # silently; refuse instead
    if len(args) > 1 or any(a.startswith("-") for a in args) or \
            not os.path.isdir(os.path.join(root, "src/main")):
        sys.exit(USAGE)
    for tree in ("src/main", "src/test"):
        total = 0
        for d, _, names in sorted(os.walk(os.path.join(root, tree))):
            for name in sorted(names):
                if name.endswith(".scala"):
                    p = os.path.join(d, name)
                    count = code_lines(p)
                    total += count
                    if files:
                        print(f"{count:7d}  {os.path.relpath(p, root)}")
        print(f"{total:7d}  {tree}")


if __name__ == "__main__":
    main(sys.argv[1:])
