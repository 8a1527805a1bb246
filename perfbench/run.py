#!/usr/bin/env python3
"""graft's benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (an sbt
project in this directory that compiles against graft's sources), later
runs reuse the build while no source changed. A run starts one JVM
(`perfbench.Main`), which sets the workload up, runs its closed loop for
S seconds and dumps its outputs; this script then checks every output,
prints a table and, as its last line, one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. An op that threw or whose output is wrong counts as
failed and gets no time. The exit code is 0 only if every op and every
output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORKLOADS = ("ingest_pipeline", "iterative_loops")
# Task slots: one core is left to the driver thread, GC and JIT. On a
# 4-core host local[4] gave no more throughput (tasks fill under a third
# of the slots) and a wider run-to-run spread.
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
XMX = "2g"
# Set-ups per run; setup_s is their median, setup.cold_s the first.
SETUP_REPS = 3
# The whole run, build excluded, must end within this many seconds; a
# build and the run after it within their sum.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 700
# Batch at which ingest_pipeline's store size is read: table version 7,
# after vacuum (3 snapshots kept) has expired four of them. The loop
# always runs up to it (IngestWorkload.SizeBatch), so it is the same
# figure in every run of one seed.
STORE_SIZE_BATCH = 6
# Percentile of op time reported as op_tail_s.
TAIL_PCT = 75

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("rows_per_s", "1/s")]
LAYER_MEDIANS = [
    ("operators.build_s", "s"), ("operators.eager_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimizer_ms", "ms"),
    ("plans.physical_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_busy_s", "s"),
    ("scheduler.driver_gap_s", "s"), ("scheduler.driver_gap_share", "ratio"),
    ("scheduler.slot_busy_ratio", "ratio"),
    ("executor.cpu_s", "s"), ("executor.run_s", "s"), ("executor.gc_s", "s"),
    ("executor.input_bytes", "B"), ("executor.shuffle_write_bytes", "B"),
    ("executor.shuffle_read_bytes", "B"), ("executor.fetch_wait_s", "s"),
    ("executor.spill_bytes", "B"),
    ("sources.merge_s", "s"), ("sources.merge_share", "ratio"),
    ("sources.commits", "count"), ("sources.bytes_written", "B"),
    ("sources.files_written", "count"), ("sources.write_amp", "ratio"),
    ("sources.live_bytes", "B"), ("sources.current_read_s", "s"),
    ("sources.state_write_s", "s"),
    ("cache.release_s", "s"), ("cache.persisted_rdds", "count"),
]
# Tracker phase names behind the plans.* metrics.
PLAN_PHASES = {"plans.analysis_ms": "plans.analysis",
               "plans.optimizer_ms": "plans.optimization",
               "plans.physical_ms": "plans.planning"}
KERNELS = ["functions.minhash_ns_per_row", "functions.shingle_ns_per_row",
           "functions.simhash_ns_per_row", "functions.l2_ns_per_pair",
           "functions.cosine_ns_per_pair", "functions.simd_affine_ns_per_row"]
# op_tail_s and peak_rss_mb are per-layer: on a 4-core 2.1 GHz host their
# run-to-run spread reached the largest bound BENCHMARK.json allows (the
# heap's high-water mark follows the timing of G1's collections).
PER_LAYER_EXTRA = [("op_tail_s", "s"), ("peak_rss_mb", "MB"), ("setup.cold_s", "s"),
                   ("sources.store_build_s", "s"),
                   ("sources.store_bytes_per_input_byte", "ratio"),
                   ("trace.ops_per_s", "1/s"), ("check.fail_ratio", "ratio")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the harness and graft with sbt unless nothing changed
    since the last build; returns (classpath, JVM options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = sources_digest()
    fresh = (os.path.exists(LAUNCH) and os.path.exists(STAMP)
             and open(STAMP).read() == digest)
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("perfbench: building (sbt launchFile)")
        t0 = time.time()
        out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                          HERE, env, BUILD_BUDGET_S, os.path.join(HERE, "target", "build.log"))
        if out != 0:
            fail(f"build failed (exit {out}); see perfbench/target/build.log")
        with open(STAMP, "w") as f:
            f.write(digest)
        log(f"perfbench: built in {time.time() - t0:.0f} s")
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def run_bounded(cmd, cwd, env, budget, log_path):
    """Runs `cmd` in its own process group with output to `log_path`;
    kills the whole group if it outlives `budget` seconds. Always waits
    for the process to end."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, budget))
        except BaseException:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            raise


# ---------------------------------------------------------------- checks

def oracle_check(work, oracle):
    """Each distinct query's first result against its DuckDB oracle,
    compared the way tools/check.py compares (its `norm`). Returns
    {query: error or None}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t + '.parquet')}'")
    verdict = {}
    for q, sql in sorted(oracle.items()):
        d = os.path.join(work, "check", q)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
            verdict[q] = compare(got, exp, norm)
        except Exception as e:  # a missing dump or a broken oracle is a failure
            verdict[q] = f"{type(e).__name__}: {e}"
    return verdict


def compare(got, exp, norm):
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = sorted(tuple(norm(v) for v in r) for r in got[gc].itertuples(index=False, name=None))
    e = sorted(tuple(norm(v) for v in r) for r in exp[ec].itertuples(index=False, name=None))
    if g != e:
        bad = [(a, b) for a, b in zip(g, e) if a != b][:2]
        return f"value mismatch, first diffs: {bad}"
    return None


def check_queries(work, res):
    return mark_query_ops(res, oracle_check(work, res["oracle"]))


def mark_query_ops(res, verdict):
    """Marks each op ok only if it did not throw and returned what its
    query's first set-up run returned, and that result passed its
    oracle (`verdict`: query -> error or None). Returns the problems
    found outside the loop's ops."""
    warm = res["warmup"]
    first = {o["op"]: o for o in warm if o["rep"] == 1}
    problems = [f"{q}: {err}" for q, err in verdict.items() if err]
    problems += [f"{o['op']} (set-up {o['rep']}): {o['error']}" for o in warm if not o["ok"]]
    for o in warm:
        if o["ok"] and o["digest"] != first[o["op"]]["digest"]:
            problems.append(f"{o['op']}: set-up {o['rep']} result differs from set-up 1")
    for o in res["ops"]:
        ref = first.get(o["op"])
        if o["ok"] and (ref is None or verdict.get(o["op"]) or o["digest"] != ref["digest"]):
            o["ok"] = False
            o["error"] = "result differs from the oracle-checked result"
    return problems


def check_ingest(work, res):
    """Every batch's current view (rows, Σ N_CHARS), and the final view
    and ingest log row by row, against the plain-Python model."""
    import duckdb
    import ingest_model
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import norm
    batches = [int(o["op"][len("batch"):]) for o in res["warmup"] + res["ops"]]
    last = max(batches)
    views, view, log_rows = ingest_model.predict(res["seed"], last)
    problems = []
    for o in res["warmup"] + res["ops"]:
        b = int(o["op"][len("batch"):])
        want = "%d:%d:%d" % ((b,) + views[b])
        if o["ok"] and o["digest"] != want:
            o["ok"] = False
            o["error"] = f"current view {o['digest']} != predicted {want}"
        if not o["ok"] and o["i"] < 0:
            problems.append(f"set-up {o['op']}: {o['error']}")
    if any(not o["ok"] for o in res["ops"]):
        return problems  # the final state no longer follows the model
    import pandas as pd
    con = duckdb.connect()
    for name, rows in (("current", view), ("ingest_log", log_rows)):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(work, 'check', name)}/*.parquet')"
            ).fetchdf()
            err = compare(got, pd.DataFrame(rows, columns=list(got.columns)), norm)
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        if err:
            problems.append(f"{name}: {err}")
    return problems


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    k = max(0, min(len(xs) - 1, -(-p * len(xs) // 100) - 1))
    return xs[int(k)]


def end_to_end(res, ok, workload):
    times = [o["t_s"] for o in ok]
    total = sum(times)
    rows = sum(o["rows_in"] if workload == "ingest_pipeline" else o["rows_out"] for o in ok)
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "ops_per_s": len(ok) / total,
        "op_p50_s": statistics.median(times),
        "rows_per_s": rows / total,
    }


def per_layer(res, ok, attempted):
    m = {"op_tail_s": pct([o["t_s"] for o in ok], TAIL_PCT),
         "setup.cold_s": res["setup_s"][0], "peak_rss_mb": res["peak_rss_mb"]}
    for name, _ in LAYER_MEDIANS:
        key = PLAN_PHASES.get(name, name)
        vals = []
        for o in ok:
            L = o["layers"]
            if name == "scheduler.driver_gap_share":
                v = L["scheduler.driver_gap_s"] / L["wall_s"]
            elif name == "sources.merge_share":
                v = L["sources.merge_s"] / L["wall_s"]
            else:
                v = L.get(key)
            if v is not None:
                vals.append(v)
        m[name] = statistics.median(vals) if vals else 0.0
    builds = res.get("store_build_s") or {}
    m["sources.store_build_s"] = statistics.median(builds.values()) if builds else 0.0
    sized = [o["layers"] for o in ok if o["layers"].get("batch") == STORE_SIZE_BATCH]
    m["sources.store_bytes_per_input_byte"] = (
        sized[0]["sources.store_bytes"] / sized[0]["sources.input_bytes_total"] if sized else 0.0)
    for k in KERNELS:
        m[k] = res.get("kernels", {}).get(k, 0.0)
    m["trace.ops_per_s"] = len(ok) / sum(o["t_s"] for o in ok)
    m["check.fail_ratio"] = (attempted - len(ok)) / attempted
    return m


def units():
    u = dict(END_TO_END)
    u.update(LAYER_MEDIANS)
    u.update(PER_LAYER_EXTRA)
    u.update({k: "ns" for k in KERNELS})
    return u


def score(res, problems, trace, workload):
    """The result line for a checked run: failed ops count in `failed`
    and get no time; any problem makes the run incorrect."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    problems = problems + [f"op {o['i']} {o['op']}: {o['error']}" for o in ops if not o["ok"]]
    if not ok:
        problems.append("no op succeeded")
        metrics = {}
    elif trace:
        metrics = per_layer(res, ok, len(ops))
    else:
        metrics = end_to_end(res, ok, workload)
    u = units()
    return ({"correct": not problems, "attempted": len(ops), "failed": len(ops) - len(ok),
             "metrics": {k: {"value": v, "unit": u[k]} for k, v in metrics.items()}},
            problems)


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--inject", choices=("throw", "wrong"),
                    help="make the second loop op throw or return a wrong result")
    a = ap.parse_args(argv)

    cp, jvm_opts = build()
    started = time.time()
    if not os.path.isdir(DATA):
        fail(f"input tables not found under {os.path.relpath(DATA, ROOT)}")
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + jvm_opts + ["-cp", cp, "perfbench.Main",
                         "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", DATA, "--work", work, "--cores", str(CORES),
                         "--setup-reps", str(SETUP_REPS)]
           + (["--inject", a.inject] if a.inject else []))
    budget = RUN_BUDGET_S - (time.time() - started) - 20
    code = run_bounded(cmd, ROOT, dict(os.environ), budget, os.path.join(work, "jvm.log"))
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM exited {code}; see {os.path.relpath(work, ROOT)}/jvm.log")
    with open(result_path) as f:
        res = json.load(f)
    jvm_s = time.time() - started

    sys.path.insert(0, HERE)
    if a.workload == "ingest_pipeline":
        problems = check_ingest(work, res)
    else:
        problems = check_queries(work, res)
    summary, problems = score(res, problems, a.trace, a.workload)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cores {res['cores']}"
          f"  xmx {res['xmx_mb']} MB  ops {summary['attempted']}  failed {summary['failed']}")
    print(f"  wall: set-up {sum(res['setup_s']):.1f} s, loop {res['loop_s']:.1f} s, "
          f"after loop {res['after_loop_s']:.1f} s, checks {time.time() - started - jvm_s:.1f} s, "
          f"run {time.time() - started:.1f} s")
    if a.trace:
        n = summary["attempted"] - summary["failed"]
        print(f"  op_tail_s is p{TAIL_PCT} of {n} op times"
              f" ({n - -(-TAIL_PCT * n // 100)} beyond it)")
    for k, m in summary["metrics"].items():
        print(f"  {k:<40} {m['value']:>16.6g} {m['unit']}")
    for p in problems:
        print(f"  FAIL {p}")
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(dict(summary, problems=problems, tail_pct=TAIL_PCT), f, indent=1)
    print(json.dumps(summary))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
