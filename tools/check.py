#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify's output (outDir/<name>/ parquet, expected.json and
oracle_sql.json) against DuckDB on the same sf dir. Every key in
expected.json or oracle_sql.json is checked: a key with no output
directory is a FAIL (its query threw); one with an oracle is compared
on schema (sorted column names), row count, and exact values (columns
sorted by name, rows sorted); one without is reported rows-only.
Exits 1 if any key failed.
Usage:  python3 tools/check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """Canonicalize a cell to a sortable, equality-stable token.

    Handles the cross-engine representation skew: NULL→None vs NaN,
    numpy scalars, tz-aware vs naive timestamps, nested lists.
    """
    if v is None:
        return ("null",)
    if isinstance(v, float):  # covers numpy float64 too
        if v != v:
            return ("f", "nan")
        return ("f", repr(float(v)))
    if hasattr(v, "isoformat"):  # datetime/pd.Timestamp/date; NaT too
        try:
            if getattr(v, "tzinfo", None) is not None:
                try:
                    v = v.tz_convert("UTC").tz_localize(None)
                except (TypeError, AttributeError):
                    import datetime as _dt
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return ("t", v.isoformat())
        except ValueError:  # NaT
            return ("t", "NaT")
    if hasattr(v, "tolist"):
        v = v.tolist()
        if not isinstance(v, list):
            return norm(v)
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(norm(x) for x in v)
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, int):
        return ("i", str(v))
    if isinstance(v, bytes):
        return ("y", v.hex())
    return ("s", str(v))


def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    # big recursive-CTE oracles spill; keep the spill off the repo cwd
    # (concurrent checkers sharing ./.tmp corrupt each other's files)
    con.execute("SET temp_directory='/tmp/graft_check_spill'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, "expected.json")) as f:
        expected = json.load(f)

    n_pass = n_fail = 0
    for name in sorted(set(expected) | set(oracle)):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no output")
            n_fail += 1
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        if name not in oracle:
            print(f"  [rows-only] {name}: {len(got)} rows")
            continue
        exp = con.execute(oracle[name]).fetchdf()
        ok = True
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}")
            ok = False
        elif len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            ok = False
        else:
            g = sorted(tuple(norm(v) for v in row)
                       for row in got[gc].itertuples(index=False, name=None))
            e = sorted(tuple(norm(v) for v in row)
                       for row in exp[ec].itertuples(index=False, name=None))
            if g != e:
                ok = False
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {bad}")
        if ok:
            n_pass += 1
            print(f"  PASS {name} ({len(got)} rows)")
        else:
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
