#!/usr/bin/env python3
"""A/B tool: runs the benchmark on two commits in alternating pairs and
judges each (metric, workload) by the rule of choosing-metrics section 8.

    python3 perfbench/ab.py --parent HEAD~1 --change HEAD --workdir ../ab-scratch

Each side is exported with `git archive` into <workdir>/<side>, gets this
checkout's perfbench/ and BENCHMARK.json (so both sides run identical
benchmark code), and is built once. Then, for every workload, --pairs
pairs run with one seed per pair, alternating which side goes first.

Per (metric, workload) it prints each side's median and quartiles, the
change's win rate (ties count for neither side), and a verdict:
  gain        at least 10 pairs ran, the change wins at least 9/10 of
              them, and the medians differ by more than the parent's own
              quartile distance;
  worse       the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's spread is wider than the bound, unless every
              change run beats every parent run;
  within      none of the above.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def export(rev, dest):
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    for p in BENCH["paths"]:
        shutil.rmtree(dest / p, ignore_errors=True)
        shutil.copytree(ROOT / p, dest / p, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", dest / "BENCHMARK.json")
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=dest, check=True)


def run(tree, workload, seed):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(BENCH["run_seconds"]), "--trace", "0"]
    res = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=600)
    if res.returncode != 0:
        raise SystemExit(f"{tree.name} {workload} seed {seed} failed:\n{res.stderr[-3000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in out["metrics"].items()}, out


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    bound = metric["bound"]
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and abs(cm - pm) > p3 - p1:
        v = "gain"
    elif worse_by > bound:
        v = "worse"
    elif pm and (p3 - p1) / pm > bound and not all(
            better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "within"
    return wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workdir", required=True, type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    args = ap.parse_args()
    if args.pairs < 10:
        print(f"note: {args.pairs} pairs is fewer than the 10 a claim needs", file=sys.stderr)

    trees = {"parent": args.workdir.resolve() / "parent",
             "change": args.workdir.resolve() / "change"}
    export(args.parent, trees["parent"])
    export(args.change, trees["change"])

    report = []
    for w in args.workloads.split(","):
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                metrics, out = run(trees[side], w, args.seed + i)
                if not out["correct"] or out["failed"]:
                    print(f"warning: {side} {w} seed {args.seed + i} reported "
                          f"correct={out['correct']} failed={out['failed']}", file=sys.stderr)
                runs[side].append(metrics)
        for m in BENCH["end_to_end"]:
            p = [r[m["name"]] for r in runs["parent"]]
            c = [r[m["name"]] for r in runs["change"]]
            wins, v = verdict(m, p, c)
            row = {"workload": w, "metric": m["name"], "unit": m["unit"],
                   "parent": quartiles(p), "change": quartiles(c),
                   "wins": wins, "pairs": len(p), "verdict": v}
            report.append(row)
            print(f"{w:16s} {m['name']:14s} parent {row['parent'][1]:11.4f} "
                  f"[{row['parent'][0]:.4f}, {row['parent'][2]:.4f}]  change "
                  f"{row['change'][1]:11.4f} [{row['change'][0]:.4f}, "
                  f"{row['change'][2]:.4f}] {m['unit']:5s} wins {wins}/{len(p)}  {v}")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
