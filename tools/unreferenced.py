#!/usr/bin/env python3
"""Report src/main definitions (def/val/object/class) whose name appears in no
other src/main or perfbench/src file and at most once more in its own file.
A report, not a gate: run `python3 tools/unreferenced.py` from anywhere."""
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
