#!/usr/bin/env python3
"""Count code, comment and blank lines of every Scala file under src/main
and src/test, at a git revision and in the working tree, and print the
per-file and total deltas.

    python3 tools/loc.py [REV]          # REV defaults to HEAD

A line is blank when it holds only whitespace, a comment line when
everything on it besides whitespace is comment (`//`, `/* */`, nested
block comments and scaladoc), and a code line otherwise. String literals
(plain, interpolated and triple-quoted) are scanned so that `//` or `/*`
inside them is not taken for a comment. Run it from the root of the
repository.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def classify(text):
    """(code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    depth = 0          # nesting depth of /* */ comments
    in_str = None      # None, '"' or '"""' while inside a string literal
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()                    # the final newline ends the last line
    for line in lines:
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                has_comment = True
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str:
                has_code = True
                if in_str == '"""':
                    if line.startswith('"""', i):
                        i += 3
                        while i < n and line[i] == '"':
                            i += 1
                        in_str = None
                    else:
                        i += 1
                elif c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif c.isspace():
                i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                depth = 1
                has_comment = True
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
            elif c == '"':
                in_str = '"'
                has_code = True
                i += 1
            elif c == "'" and line.startswith("\\", i + 1) and "'" in line[i + 2:i + 8]:
                has_code = True          # escaped char literal: '\n', '\u0000'
                i = line.index("'", i + 3) + 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                has_code = True          # plain char literal: 'x', '"'
                i += 3
            else:
                has_code = True
                i += 1
        if in_str == '"':
            in_str = None                # a plain string never spans lines
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def scala_files_at(rev):
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", *ROOTS],
                         check=True, capture_output=True, text=True).stdout
    return [p for p in out.splitlines() if p.endswith(".scala")]


def counts_at(rev):
    res = {}
    for p in scala_files_at(rev):
        blob = subprocess.run(["git", "show", f"{rev}:{p}"], check=True,
                              capture_output=True).stdout
        res[p] = classify(blob.decode("utf-8", "replace"))
    return res


def counts_in_tree():
    res = {}
    for root in ROOTS:
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8", errors="replace") as fh:
                        res[p] = classify(fh.read())
    return res


def fmt(t):
    return "code %6d  comment %6d  blank %5d  total %6d" % (*t, sum(t))


def delta(a, b):
    d = tuple(y - x for x, y in zip(a, b))
    return "code %+6d  comment %+6d  blank %+5d  total %+6d" % (*d, sum(d))


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    before, after = counts_at(rev), counts_in_tree()
    zero = (0, 0, 0)
    print(f"# Scala lines, {rev} -> working tree")
    for p in sorted(set(before) | set(after)):
        a, b = before.get(p, zero), after.get(p, zero)
        if a != b:
            state = "added" if p not in before else "deleted" if p not in after else ""
            print(f"{p}: {delta(a, b)}  ({fmt(b)}) {state}".rstrip())
    for root in ROOTS:
        def total(c):
            return tuple(sum(v[k] for p, v in c.items() if p.startswith(root + "/"))
                         for k in range(3))
        a, b = total(before), total(after)
        print(f"{root} total: {delta(a, b)}")
        print(f"  {rev}: {fmt(a)}")
        print(f"  tree: {fmt(b)}")


if __name__ == "__main__":
    main()
