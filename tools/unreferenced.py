#!/usr/bin/env python3
"""Two reports, not gates; run `python3 tools/unreferenced.py` from anywhere.

1. src/main definitions (def/val/object/class) whose name appears in no other
   src/main or perfbench/src file and at most once more in its own file.
2. Members of an `object O` in src/main that some spec references as `O.name`
   but that no src/main or perfbench/src file references: not as `O.name`,
   not as a bare `name` in a file that imports `O._`, and not as a bare
   `name` in O's own file. Comments and string literals do not count.

Two entries of report 2 stay on purpose:
- StreamingIngest.appendStreamWithUpkeep, the one streaming entry point
  (COVERAGE.md S9); perfbench's stream pass copies its upkeep policy inline
  (perfbench/src/perfbench/Stream.scala) rather than calling it.
- Metrics.trackedSessions, a leak probe: moving it into test code would
  widen the private `sessionRoots` it reads."""
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEF = re.compile(r"\b(?:def|val|object|class)\s+([A-Za-z_]\w*)")


def counts(path):
    c = {}
    for w in re.findall(r"[A-Za-z_]\w*", path.read_text()):
        c[w] = c.get(w, 0) + 1
    return c


files = sorted(p for d in ("src/main", "perfbench/src") for p in (ROOT / d).rglob("*.scala"))
words = {p: counts(p) for p in files}
for p in files:
    if not p.is_relative_to(ROOT / "src/main"):
        continue
    for lineno, line in enumerate(p.read_text().splitlines(), 1):
        for name in DEF.findall(line.split("//")[0]):
            if words[p][name] <= 2 and not any(name in c for q, c in words.items() if q != p):
                print(f"{p.relative_to(ROOT)}:{lineno} {name}")

# ---- 2. object members only specs reference

CODE_NOISE = re.compile(r'/\*.*?\*/|//[^\n]*|"""(?:.|\n)*?"""|"(?:[^"\\\n]|\\.)*"', re.S)


def code(path):
    """`path`'s text with comments and string literals blanked (newlines kept)."""
    return CODE_NOISE.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), path.read_text())


src = {p: code(p) for p in files}
owner = {}  # object name -> the src/main file defining it
for p in files:
    if p.is_relative_to(ROOT / "src/main"):
        for o in re.findall(r"\bobject\s+([A-Za-z_]\w*)", src[p]):
            owner.setdefault(o, p)


def bare(text, name):
    return re.findall(rf"(?<![\w.]){re.escape(name)}\b", text)


def member_line(o, name):
    """The line of `name`'s definition in O's file, or None if O's file defines no such member."""
    m = re.search(rf"\b(?:def|val|var|object|class)\s+{re.escape(name)}\b", src[owner[o]])
    return m and src[owner[o]].count("\n", 0, m.start()) + 1


def used_in_main(o, name):
    for p, text in src.items():
        if re.search(rf"\b{o}\.{re.escape(name)}\b", text):
            return True
        if re.search(rf"\bimport\s+[\w.]*\b{o}\._", text) and bare(text, name):
            return True
    own = src[owner[o]]
    defs = re.findall(rf"\b(?:def|val|var|object|class)\s+{re.escape(name)}\b", own)
    return len(bare(own, name)) > len(defs)


specs = sorted((ROOT / "src/test").rglob("*.scala"))
refs = sorted({(o, n) for s in specs
               for o, n in re.findall(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)", code(s)) if o in owner})
for o, name in refs:
    line = member_line(o, name)
    if line and not used_in_main(o, name):
        print(f"{owner[o].relative_to(ROOT)}:{line} {o}.{name} (specs only)")
