#!/usr/bin/env python3
"""Paired A/B runs of one workload on two commits.

    python3 perfbench/ab.py --base <commit> --change <commit> \\
        --workload W [--pairs 10] [--seed 1000]

Run from a git checkout. Each commit's tree is extracted with
`git archive` into its own directory under perfbench/.work/ab/, and
this checkout's perfbench/ is copied over both, so the two sides run
identical benchmark code and settings. The two sides then build and
run the workload in alternating pairs (base first in even pairs,
change first in odd ones), one seed per pair, each run as long as
`run_seconds` of BENCHMARK.json. For every end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles, the pairs
each side won (ties count for neither) and two verdicts:

* gain: the change wins at least nine tenths of the pairs, its median
  is better by more than the base's own interquartile distance, and
  it fails no more operations;
* no regression: the change's median is not worse than the base's by
  more than the metric's bound; unresolved where the base's own
  interquartile distance is wider than the bound, unless every run of
  the change beats every run of the base.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work", "ab")


def tree(commit):
    sha = subprocess.run(["git", "rev-parse", "--verify", commit + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    d = os.path.join(WORK, sha[:12])
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.replace(tmp, d)
    bench = os.path.join(d, "perfbench")
    for name in os.listdir(HERE):
        if name == ".work":
            continue
        src, dst = os.path.join(HERE, name), os.path.join(bench, name)
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst, ignore=shutil.ignore_patterns(
                "target", "__pycache__"))
        else:
            os.makedirs(bench, exist_ok=True)
            shutil.copy(src, dst)
    return sha[:12], d


def run(root, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed in {root}:\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"outputs incorrect in {root}:\n{p.stderr[-2000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}, res["failed"]


def summary(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return f"median {q2:.4f}  quartiles [{q1:.4f}, {q3:.4f}]  n={len(xs)}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"base": tree(a.base), "change": tree(a.change)}
    vals = {side: {m["name"]: [] for m in metrics} for side in sides}
    failed = {side: 0 for side in sides}
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            got, f = run(sides[side][1], a.workload, a.seed + i,
                         bench["run_seconds"])
            for m in metrics:
                vals[side][m["name"]].append(got[m["name"]])
            failed[side] += f
        print(f"pair {i} (base/change): " + "  ".join(
            f"{m['name']} {vals['base'][m['name']][-1]:.4f}/"
            f"{vals['change'][m['name']][-1]:.4f}" for m in metrics), flush=True)
    for side in sides:
        print(f"{side:6} {sides[side][0]}  failed ops: {failed[side]}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base, change = vals["base"][name], vals["change"][name]

        def better(x, y):
            return x < y if lower else x > y
        wins = sum(better(c, b) for b, c in zip(base, change))
        losses = sum(better(b, c) for b, c in zip(base, change))
        q1, mb, q3 = statistics.quantiles(base, n=4)
        mc = statistics.median(change)
        gain = (wins >= 0.9 * a.pairs and abs(mc - mb) > q3 - q1
                and better(mc, mb) and failed["change"] <= failed["base"])
        worse = (mc - mb) / mb if lower else (mb - mc) / mb
        if worse > m["bound"]:
            verdict = "REGRESSION"
        elif (q3 - q1) / mb > m["bound"] and not all(
                better(c, b) for c in change for b in base):
            verdict = "unresolved: the base's spread is wider than the bound"
        else:
            verdict = "no regression"
        print(f"{name}:\n  base   {summary(base)}\n  change {summary(change)}\n"
              f"  change wins {wins} of {a.pairs} pairs, base wins {losses}; "
              f"median {mc - mb:+.4f} against a base IQR of {q3 - q1:.4f}: "
              f"{'gain' if gain else 'no gain shown'}\n"
              f"  change median {worse:+.1%} worse than base (bound "
              f"{m['bound']:.0%}): {verdict}")


if __name__ == "__main__":
    main()
