"""Count non-blank, non-comment Scala lines.

A line counts when, after removing comments, it still holds anything but
whitespace. `//` ends a line; `/* ... */` block comments (scaladoc included)
may span lines and nest, as Scala's do. Comment markers inside string and
character literals (`"image/*"`, `'/'`) are text, not comments; triple-quoted
strings may span lines.

Run: python3 tools/loc.py [PATH ...]   (default: src/main)
Each PATH is a .scala file or a directory searched for them. Prints one
count per PATH, then the total when there is more than one.
"""

import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    count = 0
    depth = 0  # block-comment nesting depth carried across lines
    in_triple = False  # inside a """...""" literal carried across lines
    for line in text.splitlines():
        has_code = False
        i, n = 0, len(line)
        while i < n:
            two = line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # A character literal ('x' or '\n'); a lone ' is a symbol.
                has_code = True
                i += 2 if line[i + 1] != "\\" else 3
                while i < n and line[i] != "'":
                    i += 1
                i += 1
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found.extend(os.path.join(root, f) for f in sorted(files) if f.endswith(".scala"))
    return found


def count_path(path):
    total = 0
    for f in scala_files(path):
        with open(f, encoding="utf-8") as fh:
            total += code_lines(fh.read())
    return total


def main(argv):
    paths = argv or ["src/main"]
    total = 0
    for p in paths:
        if not os.path.exists(p):
            print(f"no such path: {p}", file=sys.stderr)
            return 2
        c = count_path(p)
        total += c
        print(f"{c:>8,}  {p}")
    if len(paths) > 1:
        print(f"{total:>8,}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
