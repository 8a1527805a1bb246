#!/usr/bin/env python3
"""Exhaustive bench-ledger diff (round 18, r17 judge item #2c;
--driver mode round 19, r18 judge item #3).

Default mode compares a committed BENCH_DETAIL snapshot's per-row
`floor` against the PRIOR committed snapshot's and prints EVERY row
past the watch band — floor > prior_floor + max(0.25 s, 20%) — so the
§5 addendum can disposition each one instead of claiming "in-band
everywhere else". Also prints rows that cleared (floor below prior)
on request.

--driver mode makes the CROSS-SESSION read first-class: it diffs the
DRIVER's bench detail against the builder's committed floors and emits
the strike table the r18 driver printed by hand. Input note: the
driver's per-round BENCH_rNN.json is NOT usable here — it carries only
{n, rc, sf, tail, parsed} with the per-query JSON truncated inside the
`tail` string; the driver's full per-query reads live in the
BENCH_DETAIL.json it overwrites in the working tree, so pass THAT
(take the builder's committed floors from git first:
`git show <builder-commit>:BENCH_DETAIL.json`). FLOOR RULE (the governing
text the r18 verdict asked to be written down): the BUILDER's
committed multi-rep floor governs a row's grade — a driver strike
whose row reads AT or BELOW its prior floor in the builder's committed
snapshot is dispositioned as driver-session ambient (one elevated
single-shot read cannot re-base a floor); a driver strike that REPEATS
across two rounds, or lands on a row the committed snapshot also shows
out of band, escalates to per-commit instrumentation (a same-JVM
graft.tools.PropAB A/B or a graft.tools.JobProfile decomposition).

Rows whose `status` is not "ok" (a query or build that threw) carry no
floor: they are listed as FAILED and the ledger exits 1.

Usage:
  python3 tools/ledger.py <prior_detail.json> <new_detail.json> [--cleared]
  python3 tools/ledger.py <committed_detail.json> <driver_BENCH_DETAIL.json> --driver
"""
import json
import sys


def floors(path):
    """(floor per ok row, total, {failed row: error})."""
    d = json.load(open(path))
    q = d.get("queries")
    if not isinstance(q, dict):
        raise SystemExit(f"{path}: no 'queries' dict — not a bench snapshot")
    out, failed = {}, {}
    for k, v in q.items():
        if isinstance(v, dict) and v.get("status", "ok") != "ok":
            failed[k] = v.get("error", v.get("status"))
            continue
        f = v.get("floor") if isinstance(v, dict) else v
        if not isinstance(f, (int, float)):
            raise SystemExit(f"{path}: row {k!r} has no numeric floor ({v!r})")
        out[k] = f
    # missing top-level total (a partial snapshot): fall back to the
    # floor sum so the f-string never formats None (r18 advisor)
    tot = d.get("value")
    return out, tot if isinstance(tot, (int, float)) else sum(out.values()), failed


def band(pv):
    return max(0.25, 0.20 * pv)


def diff(prior, new):
    over, cleared, added, gone = [], [], [], []
    for k, nv in sorted(new.items()):
        if k not in prior:
            added.append((k, nv))
            continue
        pv = prior[k]
        if nv > pv + band(pv):
            over.append((k, pv, nv, nv - pv, nv / pv if pv else float("inf")))
        elif nv <= pv:
            cleared.append((k, pv, nv))
    gone = [k for k in sorted(prior) if k not in new]
    return over, cleared, added, gone


def main():
    prior_path, new_path = sys.argv[1], sys.argv[2]
    show_cleared = "--cleared" in sys.argv
    driver_mode = "--driver" in sys.argv
    prior, ptot, pfailed = floors(prior_path)
    new, ntot, nfailed = floors(new_path)
    over, cleared, added, gone = diff(prior, new)
    gone = [k for k in gone if k not in nfailed]  # listed under FAILED
    who = "driver read" if driver_mode else "new floor"
    print(f"committed total {ptot:.1f}s ({len(prior)} rows) -> "
          f"{who} total {ntot:.1f}s ({len(new)} rows)")
    carried = [k for k in new if k in prior]
    ratios = sorted(new[k] / prior[k] for k in carried if prior[k] > 0)
    med = ratios[len(ratios) // 2] if ratios else float("nan")
    print(f"carried rows: {len(carried)}, median ratio {med:.2f}")
    label = ("DRIVER STRIKES (driver read > committed floor + "
             "max(0.25s, 20%))" if driver_mode else
             "OUT OF BAND (> prior + max(0.25s, 20%))")
    print(f"\n{label}: {len(over)} rows")
    for k, pv, nv, d, r in sorted(over, key=lambda x: -x[3]):
        print(f"  {k:36s} {pv:7.2f} -> {nv:7.2f}  (+{d:.2f}, x{r:.2f})")
    if driver_mode and over:
        print("\nfloor rule: the builder's committed multi-rep floor "
              "governs; a strike on a row whose committed floor is "
              "in-band vs ITS prior is driver-session ambient — it "
              "escalates only on a second-round repeat or a matching "
              "committed-snapshot violation (see module docstring).")
    if added:
        print(f"\nNEW rows: {len(added)}")
        for k, nv in added:
            print(f"  {k:36s}          -> {nv:7.2f}")
    if gone:
        print(f"\nDROPPED rows: {gone}")
    if show_cleared:
        print(f"\nCLEARED (at or below {'committed floor' if driver_mode else 'prior floor'}): {len(cleared)} rows")
        for k, pv, nv in sorted(cleared, key=lambda x: x[1] - x[2]):
            print(f"  {k:36s} {pv:7.2f} -> {nv:7.2f}")
    failed = [(p, k, e) for p, fs in ((prior_path, pfailed), (new_path, nfailed))
              for k, e in sorted(fs.items())]
    if failed:
        print(f"\nFAILED rows: {len(failed)}")
        for p, k, e in failed:
            print(f"  {k:36s} {p}: {e}")
        sys.exit(1)


if __name__ == "__main__":
    main()
