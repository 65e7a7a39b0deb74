#!/usr/bin/env python3
"""Compare two per-query Spark count files written by graft.Verify.

    python3 tools/counts_diff.py <old.json> <new.json>

Prints every query whose jobs, stages or tasks moved, as old -> new,
then the queries present in only one file and the totals of the queries
both files hold. Exits 0 whatever moved.
"""
import json
import sys

FIELDS = ("jobs", "stages", "tasks")


def main(old_path, new_path):
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    both = [q for q in new if q in old]
    moved = [q for q in both if any(old[q][k] != new[q][k] for k in FIELDS)]
    width = max((len(q) for q in moved), default=0)
    for q in moved:
        cells = "  ".join(
            f"{k} {old[q][k]} -> {new[q][k]} ({new[q][k] - old[q][k]:+d})"
            for k in FIELDS)
        print(f"{q:<{width}}  {cells}")
    for q in old:
        if q not in new:
            print(f"only in {old_path}: {q}")
    for q in new:
        if q not in old:
            print(f"only in {new_path}: {q}")
    totals = "  ".join(
        f"{k} {sum(old[q][k] for q in both)} -> {sum(new[q][k] for q in both)}"
        for k in FIELDS)
    print(f"{len(moved)} of {len(both)} queries moved; totals: {totals}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
