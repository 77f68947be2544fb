#!/usr/bin/env python3
"""Classify the per-query oracle SQL of two oracle_sql.json dumps.

Usage: python3 tools/oracle_diff.py A/oracle_sql.json B/oracle_sql.json ROOT_A ROOT_B

ROOT_A / ROOT_B are the artifact-store roots each dump was written under
(q54/q142 and the trained family bake the root into their read_parquet
paths); each side's root is replaced by one placeholder before comparing.
Every key then lands in one class:

  byte-identical   the two strings are equal;
  whitespace-only  equal once every whitespace run outside '...' literals
                   collapses to one space (ends stripped);
  changed          anything else.

A key present on one side only is reported as missing. Exits 1 if any key
is changed or missing, else 0.
"""
import json
import re
import sys

PLACEHOLDER = "<ARTIFACT_ROOT>"
# a single-quoted SQL literal ('' is an escaped quote inside it)
LITERAL = re.compile(r"'(?:[^']|'')*'")


def squash(sql):
    """Collapse whitespace runs outside string literals to one space."""
    out, pos = [], 0
    for m in LITERAL.finditer(sql):
        out.append(re.sub(r"\s+", " ", sql[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(re.sub(r"\s+", " ", sql[pos:]))
    return "".join(out).strip()


def classify(a, b):
    if a == b:
        return "byte-identical"
    if squash(a) == squash(b):
        return "whitespace-only"
    return "changed"


def load(path, root):
    with open(path) as f:
        raw = json.load(f)
    return {k: v.replace(root, PLACEHOLDER) for k, v in raw.items()}


def main(argv):
    if len(argv) != 5:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = load(argv[1], argv[3]), load(argv[2], argv[4])
    classes = {"byte-identical": [], "whitespace-only": [], "changed": []}
    for k in sorted(a.keys() & b.keys()):
        classes[classify(a[k], b[k])].append(k)
    missing = sorted(a.keys() ^ b.keys())
    for name, keys in classes.items():
        print(f"{name}: {len(keys)}")
        if name != "byte-identical":
            for k in keys:
                print(f"  {k}")
    print(f"missing: {len(missing)}")
    for k in missing:
        print(f"  {k} (only in {'A' if k in a else 'B'})")
    return 1 if classes["changed"] or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
