#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    python3 perfbench/sweep.py spread --workloads W[,W..] --seeds 1-10 [--trace 0|1]
    python3 perfbench/sweep.py determinism --workloads W[,W..] --seed N

`spread` runs each workload once per seed and prints, per metric, the
median and the distance between the first and third quartile as a share
of the median (Python's statistics.quantiles, n=4) -- the figure each
end-to-end metric's bound in BENCHMARK.json is held to.

`determinism` makes two traced runs with the same seed and compares,
op by op over the ops both runs reached, the counters that must repeat
exactly: jobs, stages and tasks per op, commits per batch and the store
size per input byte.

Both print JSON on the last line.
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
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SECONDS = json.load(_f)["run_seconds"]

COUNTERS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "sources.commits"]


def bench(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    line = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None
    if p.returncode != 0 or not line or not line["correct"]:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    return line


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(a):
    out = {}
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            line = bench(w, s, a.trace)
            for k, m in line["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: " + ", ".join(f"{k}={m['value']:.4g}"
                                                for k, m in line["metrics"].items()), flush=True)
        out[w] = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            out[w][k] = {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0}
            print(f"  {w:<16} {k:<36} median {med:12.5g}  iqr/median {out[w][k]['iqr_share']:.3f}")
    print(json.dumps(out))


def determinism(a):
    out = {}
    for w in a.workloads.split(","):
        results = []
        for _ in range(2):
            bench(w, a.seed, 1)
            src = os.path.join(run.WORK, f"{w}-{a.seed}-1", "result.json")
            with open(src) as f:
                results.append(json.load(f))
        r1, r2 = (r["ops"] for r in results)
        n = min(len(r1), len(r2))
        diffs = []
        for o1, o2 in zip(r1[:n], r2[:n]):
            for k in COUNTERS:
                if k in o1["layers"] and o1["layers"].get(k) != o2["layers"].get(k):
                    diffs.append(f"op {o1['i']} {o1['op']}: {k} {o1['layers'][k]} != {o2['layers'].get(k)}")
        sized = [[o["layers"] for o in ops if o["layers"].get("batch") == run.STORE_SIZE_BATCH]
                 for ops in (r1, r2)]
        if all(sized):
            x, y = (s[0]["sources.store_bytes"] / s[0]["sources.input_bytes_total"] for s in sized)
            if x != y:
                diffs.append(f"store_bytes_per_input_byte {x} != {y}")
        out[w] = {"ops_compared": n, "differences": diffs}
        print(f"{w}: {n} ops compared, {len(diffs)} differences", flush=True)
        for d in diffs:
            print(f"  {d}")
        shutil.rmtree(os.path.join(run.WORK, f"{w}-{a.seed}-1"), ignore_errors=True)
    print(json.dumps(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workloads", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--trace", type=int, default=0, choices=(0, 1))
    d = sub.add_parser("determinism")
    d.add_argument("--workloads", required=True)
    d.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    spread(a) if a.cmd == "spread" else determinism(a)


if __name__ == "__main__":
    main()
