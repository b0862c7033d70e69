#!/usr/bin/env python3
"""Doc-lint: validate file:line citations in the repo's docs.

Scans COVERAGE.md / README.md / SURVEY.md for `<Name>.scala:<line>[ - <line>]`
citations, resolves each basename against src/**, and fails when the
file is missing or the cited line exceeds the file's length. Cheap
insurance against rows describing code that moved (round-13 verdict
found one such drift).

SURVEY.md also cites the reference implementation's files. Without a
reference checkout those citations cannot be checked: they are counted
as unverifiable and do not fail the lint. A SURVEY citation of a file
this repo has is checked like any other.

Usage: python3 scripts/doclint.py  → exit 0 = clean
"""
import glob
import os
import re
import sys

DOCS = ["COVERAGE.md", "README.md", "SURVEY.md"]
CITE = re.compile(r"([A-Za-z0-9_]+\.(?:scala|py)):(\d+)(?:-(\d+))?")

REPO_PATTERNS = 3  # roots[:3] are this repo's files, the rest the reference
by_name = {}
reference_files = 0
# repo sources first; SURVEY.md also cites the REFERENCE repo's files
# (its operator inventory points at reference code), so resolve those
# against /root/reference when present
roots = ["src/**/*.scala", "scripts/*.py", "*.scala",
         "/root/reference/**/*.scala", "/root/reference/**/*.java",
         "/root/reference/**/*.rs", "/root/reference/**/*.py"]
for i, pattern in enumerate(roots):
    for path in glob.glob(pattern, recursive=True):
        by_name.setdefault(os.path.basename(path), []).append(path)
        reference_files += i >= REPO_PATTERNS

bad = 0
unverifiable = 0
for doc in DOCS:
    if not os.path.exists(doc):
        continue
    for lineno, line in enumerate(open(doc, encoding="utf-8"), 1):
        for m in CITE.finditer(line):
            name, a, b = m.group(1), int(m.group(2)), m.group(3)
            hi = int(b) if b else a
            paths = by_name.get(name)
            if not paths and doc == "SURVEY.md" and not reference_files:
                unverifiable += 1
                continue
            if not paths:
                print(f"{doc}:{lineno}: cites {name}:{a} — no such file "
                      "under src/")
                bad += 1
                continue
            if not any(hi <= sum(1 for _ in open(p, encoding="utf-8"))
                       for p in paths):
                print(f"{doc}:{lineno}: cites {name}:{m.group(0)} — "
                      f"beyond end of file ({paths})")
                bad += 1
if unverifiable:
    print(f"-- doclint: {unverifiable} SURVEY.md citation(s) of reference "
          "files unverifiable (no reference checkout)")
print(f"-- doclint: {'%d bad citation(s)' % bad if bad else 'clean'}")
sys.exit(1 if bad else 0)
