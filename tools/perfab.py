#!/usr/bin/env python3
"""Alternating A/B of the benchmark between a base commit and a change.

    python3 tools/perfab.py --base REV --seeds 1-10 \\
        [--workloads ingest_pipeline,iterative_loops] \\
        [--claim ingest_pipeline/ops_per_s] [--out results.json]

Run from the repository root. The base commit is exported (`git archive`)
into a temporary directory, removed at the end; the change is the working
tree. Each side's harness is built once, then runs every workload once
untimed (a cold host's first run can read far off its median, and one
such run can flip a short A/B), before the first pair. There is
one pair per seed: pair i runs `perfbench/run.py` for every workload with
the i-th seed and BENCHMARK.json's `run_seconds` on both sides, base first
on even pairs and change first on odd ones, so a slow stretch of the host
lands on both sides.

Printed per workload and per end-to-end metric (BENCHMARK.json): each
side's median and quartiles (statistics.quantiles, n=4) and the number of
pairs the change won. With --claim W/M the exit code is 0 only if the
change won at least nine in ten pairs on that metric and the gap between
the medians is larger than the base's q1-q3 distance. A failed or wrong
run stops the A/B with exit code 2. Nothing under perfbench/ is edited;
each checkout builds and runs in its own perfbench/ directory.
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


def export(rev, dest):
    """Writes the tree of `rev` into `dest`."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def build(checkout):
    """Builds a checkout's harness outside any timed run."""
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    p = subprocess.run([sys.executable, "-c", code], cwd=checkout,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"perfab: build failed in {checkout}\n{p.stderr[-3000:]}")


def bench(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    out = p.stdout.strip().splitlines()
    line = json.loads(out[-1]) if out else None
    if p.returncode != 0 or not line or not line["correct"]:
        print(f"perfab: {checkout} {workload} seed {seed}: exit {p.returncode}\n"
              f"{p.stdout[-2000:]}{p.stderr[-2000:]}", file=sys.stderr)
        sys.exit(2)
    return {k: m["value"] for k, m in line["metrics"].items()}


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def summarise(runs, metrics):
    """runs: [{"base": {w: {m: v}}, "change": {...}}, ...] → rows per (w, m)."""
    rows = {}
    for w in runs[0]["base"]:
        for name, better in metrics:
            if name not in runs[0]["base"][w]:
                continue
            b = [r["base"][w][name] for r in runs]
            c = [r["change"][w][name] for r in runs]
            won = sum((y > x) if better == "higher" else (y < x) for x, y in zip(b, c))
            bq, cq = quartiles(b), quartiles(c)
            rows[f"{w}/{name}"] = {"better": better, "base": bq, "change": cq,
                                   "won": won, "pairs": len(runs)}
    return rows


def claim_holds(row):
    (q1, bmed, q3), (_, cmed, _) = row["base"], row["change"]
    gap = cmed - bmed if row["better"] == "higher" else bmed - cmed
    return row["won"] * 10 >= row["pairs"] * 9 and gap > q3 - q1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="base commit")
    ap.add_argument("--seeds", default="1-10", help="one pair per seed, e.g. 1-10 or 1,5,9")
    ap.add_argument("--workloads", default="ingest_pipeline,iterative_loops")
    ap.add_argument("--claim", help="W/M that must win, e.g. ingest_pipeline/ops_per_s")
    ap.add_argument("--out", help="write every run's metrics and the summary here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench_def = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench_def["end_to_end"]]
    seconds = bench_def["run_seconds"]
    workloads = a.workloads.split(",")

    tmp = tempfile.mkdtemp(prefix="perfab-")
    try:
        sides = {"base": export(a.base, os.path.join(tmp, "base")), "change": ROOT}
        for checkout in sides.values():
            build(checkout)
        for checkout in sides.values():
            for w in workloads:
                bench(checkout, w, seeds(a.seeds)[0], seconds)
        runs = []
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            run = {"seed": seed, "first": order[0], "base": {}, "change": {}}
            for side in order:
                for w in workloads:
                    run[side][w] = bench(sides[side], w, seed, seconds)
            runs.append(run)
            print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "; ".join(
                f"{w} {m} {run['base'][w][m]:.4g} -> {run['change'][w][m]:.4g}"
                for w in workloads for m, _ in metrics if m in run["base"][w]), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = summarise(runs, metrics)
    print(f"\n{'workload/metric':<32} {'base median (q1-q3)':>28} {'change median (q1-q3)':>28}  won")
    def fmt(q):
        return f"{q[1]:.4g} ({q[0]:.4g}-{q[2]:.4g})"
    for key, r in rows.items():
        print(f"{key:<32} {fmt(r['base']):>28} {fmt(r['change']):>28}  {r['won']}/{r['pairs']}")
    verdict = None
    if a.claim:
        if a.claim not in rows:
            sys.exit(f"perfab: no metric {a.claim} in the runs")
        verdict = claim_holds(rows[a.claim])
        print(f"claim {a.claim}: {'holds' if verdict else 'NOT met'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": seconds, "runs": runs, "summary": rows,
                       "claim": a.claim, "claim_holds": verdict}, f, indent=1)
    sys.exit(0 if verdict in (None, True) else 1)


if __name__ == "__main__":
    main()
