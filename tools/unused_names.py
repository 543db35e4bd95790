#!/usr/bin/env python3
"""List names defined in src/main that nothing in the program uses.

A name (def, val, var, object, class, trait or type) defined in a
src/main Scala file is listed when, with comments removed, its only
occurrences in src/main and perfbench/src are its own definitions.
Definitions marked `override` or `implicit` are skipped (the compiler or
a supertype calls them), as are `main`, `apply`/`unapply` and the
objects of files that define a `main` (entry points, run by name).

Each listed name carries two notes for the sweep's decision:
  tests=N    occurrences in src/test (a name only specs use belongs there)
  COVERAGE   COVERAGE.md names it (library surface: keep it)

The scan is lexical: a name shared with an unrelated identifier counts
as used, so the list errs toward keeping names.

A listed name that no spec uses (tests=0) and COVERAGE.md does not name
is dead code: the scan prints it on a final DEAD line and fails.

usage: python3 tools/unused_names.py [repo_root]
exit status: 1 if a listed name is dead, else 0.
"""

import os
import re
import sys

DEF = re.compile(r"\b(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
SKIP = {"main", "apply", "unapply"}


def strip_comments(src):
    """Blank out // and /* */ comments (nested, as Scala allows), keeping
    string literals and line numbers."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" closes at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    for d, _, fs in os.walk(root):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def count_tokens(paths):
    counts = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for t in TOKEN.findall(strip_comments(fh.read())):
                counts[t] = counts.get(t, 0) + 1
    return counts


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    main_files = list(scala_files(os.path.join(root, "src/main")))
    program = count_tokens(main_files + list(scala_files(os.path.join(root, "perfbench/src"))))
    tests = count_tokens(scala_files(os.path.join(root, "src/test")))
    cov_path = os.path.join(root, "COVERAGE.md")
    coverage = set()
    if os.path.exists(cov_path):
        with open(cov_path, encoding="utf-8") as fh:
            coverage = set(TOKEN.findall(fh.read()))

    defs = {}
    for p in main_files:
        with open(p, encoding="utf-8") as fh:
            text = strip_comments(fh.read())
        entry = re.search(r"\bdef\s+main\s*\(", text) is not None
        for lineno, line in enumerate(text.split("\n"), 1):
            for m in DEF.finditer(line):
                head = line[:m.start()]
                if "override" in head or "implicit" in head or m.group(2) in SKIP:
                    continue
                if entry and m.group(1) == "object":
                    continue
                defs.setdefault(m.group(2), []).append((os.path.relpath(p, root), lineno, m.group(1)))

    listed = []
    for name, sites in defs.items():
        if program.get(name, 0) <= len(sites):
            for path, lineno, kind in sites:
                listed.append((path, lineno, kind, name))
    dead = []
    for path, lineno, kind, name in sorted(listed):
        notes = [f"tests={tests.get(name, 0)}"] + (["COVERAGE"] if name in coverage else [])
        print(f"{path}:{lineno}: {kind} {name}  {' '.join(notes)}")
        if tests.get(name, 0) == 0 and name not in coverage:
            dead.append(name)
    print(f"{len(listed)} unused names")
    if dead:
        print(f"DEAD (tests=0, no COVERAGE row): {', '.join(dead)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
