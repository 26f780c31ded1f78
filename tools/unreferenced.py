#!/usr/bin/env python3
"""List the names defined in src/main that nothing else uses.

    python3 tools/unreferenced.py

Every `def`, `val`, `var`, `object`, `class` and `trait` name declared in a
Scala file under src/main is counted, as a whole word, across every file
under src/, perfbench/ and tools/. A name is unreferenced when it occurs no
more often than it is declared: the only mentions are its own definitions.
Comments and strings count as uses, as they do for `grep -w`, so the check
errs towards keeping a name. `override` definitions (Spark API
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


def main():
    uses = Counter()
    for root in SEARCHED:
        for path in files(root):
            uses.update(WORD.findall(read(path)))

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
