#!/usr/bin/env python3
"""Compare two `graft.Dev plans <dir> <mode> q1,...` output directories.

    python3 tools/plandiff.py A B

Each `<query>.txt` in A is compared with the same file in B after
masking what changes from run to run without changing the plan:
expression ids (`#123`), `plan_id=`, RDD ids (`MapPartitionsRDD[251]`)
and temp paths (`/tmp/graft-mat.../frame-7`). Prints a unified diff per
query that differs and a one-line summary; exits 1 on any difference,
including a query present on one side only.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(file:)?/tmp/[^\s,\]]*"), "<tmp>"),
]


def normalize(text):
    for pat, repl in MASKS:
        text = pat.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(a, b):
    pa, pb = plans(a), plans(b)
    differ = sorted(pa ^ pb)
    for q in differ:
        print(f"{q}: only in {a if q in pa else b}")
    for q in sorted(pa & pb):
        with open(os.path.join(a, q + ".txt"), encoding="utf-8") as fa, \
                open(os.path.join(b, q + ".txt"), encoding="utf-8") as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        diff = list(difflib.unified_diff(la, lb, f"{a}/{q}.txt", f"{b}/{q}.txt"))
        if diff:
            differ.append(q)
            sys.stdout.writelines(diff)
    same = len(pa & pb) - (len(differ) - len(pa ^ pb))
    print(f"{same} identical, {len(differ)} different" +
          (f": {', '.join(sorted(differ))}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
