#!/usr/bin/env python3
"""A/B the repo benchmark between a parent commit and the working tree.

Usage:
    tools/perfbench_ab.py --parent REF --workload kv_store|library \\
        --seeds 31-40 [--seconds 15] [--trace 0|1] [--workdir DIR] [--json OUT]

Extracts `git archive REF` into a temp dir (or into --workdir, which is
kept and reused when it already holds the copy), then runs
`perfbench/run.py --workload W --seed S --seconds X --trace T` once in the
parent copy and once in this checkout for each seed, alternating which
side goes first, so host drift lands on both sides alike. Each side
builds and runs its own committed-or-working sources in its own
`.bench_build`.

For every metric BENCHMARK.json declares for the trace mode it prints the
per-side median and interquartile range (IQR), the change of the medians
in %, the number of pairs the change won (by the metric's `better`
direction), and whether the median gap exceeds the parent's IQR. A gain
claim needs at least 9 wins of 10 pairs and a gap larger than the parent
IQR. Every run's `correct` flag and failed-op count are printed too. The
script only reads perfbench's outputs; it edits nothing under perfbench/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def parent_copy(ref, workdir):
    tree = os.path.join(workdir, "parent")
    stamp = os.path.join(tree, ".ab_ref")
    sha = subprocess.check_output(["git", "rev-parse", ref], cwd=ROOT, text=True).strip()
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return tree, sha
    shutil.rmtree(tree, ignore_errors=True)
    os.makedirs(tree)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", tree], stdin=archive.stdout)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {ref} failed")
    with open(stamp, "w") as f:
        f.write(sha)
    return tree, sha


def run(tree, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"run failed in {tree} (seed {seed}, exit {p.returncode})")
    last = json.loads(lines[-1])
    return {"correct": last["correct"], "failed": last["failed"], "attempted": last["attempted"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()}}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [(m["name"], m["better"], m.get("bound")) for m in bench["per_layer" if trace else "end_to_end"]]


def report(pairs, trace):
    n = len(pairs)
    print(f"{'metric':<30}{'parent med':>12}{'IQR':>10}{'change med':>12}{'IQR':>10}"
          f"{'change %':>10}{'wins':>7}  gap>IQR")
    for name, better, bound in declared(trace):
        p = [pr["parent"]["metrics"][name] for pr in pairs]
        c = [pr["change"]["metrics"][name] for pr in pairs]
        mp, mc = statistics.median(p), statistics.median(c)
        sign = 1 if better == "lower" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
        pct = (mc - mp) / mp * 100 if mp else float("nan")
        gap = abs(mc - mp) > iqr(p) and sign * (mc - mp) < 0
        note = f"  (bound {bound * 100:.0f} %)" if bound is not None else ""
        print(f"{name:<30}{mp:>12.4g}{iqr(p):>10.3g}{mc:>12.4g}{iqr(c):>10.3g}"
              f"{pct:>9.1f}%{wins:>4}/{n:<2}  {'yes' if gap else 'no'}{note}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--workload", required=True, choices=["library", "kv_store"])
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 5,7,9")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", help="keep the parent copy here (reused across calls)")
    ap.add_argument("--json", help="write every run's record here")
    a = ap.parse_args()
    workdir = a.workdir or tempfile.mkdtemp(prefix="perfbench-ab-")
    os.makedirs(workdir, exist_ok=True)
    try:
        tree, sha = parent_copy(a.parent, workdir)
        pairs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(tree if side == "parent" else ROOT, a, seed)
            pairs.append(pair)
            print(f"seed {seed}: " + "  ".join(
                f"{s} correct={pair[s]['correct']} failed={pair[s]['failed']}/{pair[s]['attempted']}"
                for s in ("parent", "change")), flush=True)
        print(f"\n{a.workload}, trace {a.trace}, {len(pairs)} pairs, parent {sha[:10]} vs working tree")
        report(pairs, a.trace)
        if a.json:
            with open(a.json, "w") as f:
                json.dump({"parent": sha, "workload": a.workload, "trace": a.trace, "pairs": pairs}, f, indent=1)
    finally:
        if not a.workdir:
            shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
