#!/usr/bin/env python3
"""List the names defined in src/main that nothing else uses.

    python3 tools/unreferenced.py

Every `def`, `val`, `var`, `object`, `class` and `trait` name declared in a
Scala file under src/main is counted, as a whole word, across every file
under src/, perfbench/ and tools/. A name is unreferenced when it occurs no
more often than it is declared: the only mentions are its own definitions.
Scala and Java comments (`//` and nested `/* */`) are stripped first, so a
name that only a comment mentions is listed; string literals and every
other file type still count in full, so the check errs towards keeping a
name that is looked up by its text. `override` definitions (Spark API
implementations) and the names in ENTRY_POINTS, which are called without
being named, are not listed. Run it from the root of the repository. It prints one
`path:line  kind name` line per unreferenced name, then their count, and
exits 0: it is a report, not a gate.
"""
import os
import re
import sys
from collections import Counter

SEARCHED = ("src", "perfbench", "tools")
DEFINED = "src/main"

# Called without being named: JVM mains, and extractors that pattern
# matches call.
ENTRY_POINTS = {"main", "unapply"}

DEFINITION = re.compile(
    r"^\s*((?:(?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|implicit|"
    r"lazy|case|override)\s+)*)(def|val|var|object|class|trait)\s+"
    r"([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# what starts a literal or a comment in Scala/Java source
LEXEME = re.compile(r'"""|"|\'(?:\\u[0-9A-Fa-f]{4}|\\.|[^\\\'\n])\'|//|/\*')


def files(root):
    for d, dirs, names in os.walk(root):
        dirs[:] = [x for x in dirs if x not in ("target", "__pycache__")]
        for n in sorted(names):
            yield os.path.join(d, n)


def read(path):
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except (UnicodeDecodeError, OSError):
        return ""


def strip_comments(src):
    """`src` without its `//` and (nested) `/* */` comments; string and
    char literals are kept whole, so a `//` inside one is not a comment."""
    out, i, n = [], 0, len(src)
    while True:
        m = LEXEME.search(src, i)
        if not m:
            out.append(src[i:])
            return "".join(out)
        out.append(src[i:m.start()])
        tok, j = m.group(), m.end()
        if tok == "//":
            j = src.find("\n", j)
            j = n if j < 0 else j
        elif tok == "/*":
            depth = 1
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" ")
        elif tok == '"""':
            j = src.find('"""', j)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[m.start():j])
        elif tok == '"':
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(src[m.start():j])
        else:  # a char literal
            out.append(tok)
        i = j


def main():
    uses = Counter()
    for root in SEARCHED:
        for path in files(root):
            text = read(path)
            if path.endswith((".scala", ".java")):
                text = strip_comments(text)
            uses.update(WORD.findall(text))

    definitions = []
    for path in files(DEFINED):
        if not path.endswith(".scala"):
            continue
        for no, line in enumerate(read(path).split("\n"), 1):
            m = DEFINITION.match(line)
            if m and "override" not in m.group(1):
                definitions.append((path, no, m.group(2), m.group(3)))

    declared = Counter(name for _, _, _, name in definitions)
    unreferenced = [(p, no, kind, name) for p, no, kind, name in definitions
                    if uses[name] <= declared[name] and name not in ENTRY_POINTS]
    for p, no, kind, name in unreferenced:
        print(f"{p}:{no}  {kind} {name}")
    print(f"{len(unreferenced)} unreferenced of {len(definitions)} definitions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
