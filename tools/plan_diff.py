#!/usr/bin/env python3
"""Compare two sets of plan snapshots written by graft.PlanDump.

    python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds the `<query>_<suffix>.txt` files of one
`runMain graft.PlanDump <outDir> <suffix> <names>` run. Before comparing,
every plan is normalized: expression ids (`#123`), plan ids
(`[plan_id=45]`), RDD ids (`MapPartitionsRDD[67]`), RDD call sites
(`at localCheckpoint at Dedup.scala:118`) and Spark application ids
(`local-1761062400000`) differ between any two runs and are replaced by
placeholders. Prints a unified diff of every query whose normalized plan
still differs, then the queries present in only one directory and a
summary line. Exits 0 whatever differs.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at [\w$]+\.(?:scala|java):\d+"), " at <site>"),
    (re.compile(r"local-\d+"), "local-N"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines()


def snapshots(d):
    """query name -> path; the suffix is the text after the last `_`."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[: -len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main(dir_a, dir_b):
    a, b = snapshots(dir_a), snapshots(dir_b)
    both = [q for q in a if q in b]
    differ = []
    for q in both:
        with open(a[q]) as fa, open(b[q]) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la != lb:
            differ.append(q)
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    la, lb, a[q], b[q], n=2, lineterm=""))
    for q in a:
        if q not in b:
            print(f"only in {dir_a}: {q}")
    for q in b:
        if q not in a:
            print(f"only in {dir_b}: {q}")
    print(f"{len(differ)} of {len(both)} plans differ"
          + (": " + ", ".join(differ) if differ else ""))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
