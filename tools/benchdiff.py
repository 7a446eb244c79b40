#!/usr/bin/env python3
"""Cross-round per-lane bench diff (round 21, r20 verdict item 1).

Usage: benchdiff.py OLD.json NEW.json [--band 1.21]

Reads two bench artifacts (the full line: queries + optional per-lane
plan metrics + optional run stamp) and emits, per shared lane:
  - wall ratio new/old
  - shuffle/rows/bytes metric ratios (when both sides carry "metrics")
  - plan_ms/glue_ms ratios (when both sides carry the lane's wall split)
  - the lane's Spark job and SQL execution counts, old -> new (when both
    sides carry them), so a change in how many jobs a lane runs shows up
  - a verdict: FASTER / SLOWER / NOISE / PLAN-CHANGE
The point (r20's lesson): a wall-only drift with unchanged plan metrics is
host load, not a code regression — classify it mechanically from artifacts
instead of hand-joining three JSONs. The default noise band is the measured
identical-code band from BASELINE.md §Round-20 A/B (max 1.21).
"""
import json
import sys


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # bench_out.json is one JSON line; BENCH_rN.json wraps it under "parsed"
    d = json.loads(txt.splitlines()[-1] if txt.startswith("{\"metric\"")
                   else txt)
    if "parsed" in d:
        d = d["parsed"]
    return d


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    band = 1.21
    for a in sys.argv[1:]:
        if a.startswith("--band"):
            band = float(a.split("=", 1)[1] if "=" in a
                         else sys.argv[sys.argv.index(a) + 1])
    old, new = load(args[0]), load(args[1])
    oq, nq = old["queries"], new["queries"]
    om, nm = old.get("metrics", {}), new.get("metrics", {})
    shared = sorted(set(oq) & set(nq), key=lambda k: -nq[k])
    print(f"# benchdiff {args[0]} -> {args[1]}  band={band}")
    for tag, d in (("old", old), ("new", new)):
        s = d.get("stamp")
        if s:
            print(f"# {tag}: commit={s.get('commit')} utc={s.get('utc')} "
                  f"host={s.get('host')} cpus={s.get('cpus')}")
    tot_o = sum(oq[k] for k in shared if oq[k] >= 0)
    tot_n = sum(nq[k] for k in shared if nq[k] >= 0)
    print(f"# shared lanes: {len(shared)}  total {tot_o:.2f}s -> "
          f"{tot_n:.2f}s  ratio {tot_n / tot_o:.3f}" if tot_o else "")
    hdr = f"{'lane':28s} {'old_s':>7s} {'new_s':>7s} {'wall':>6s} " \
          f"{'shuf':>6s} {'rows':>6s} {'plan':>6s} {'glue':>6s} " \
          f"{'jobs':>9s} {'sql_execs':>9s} verdict"
    print(hdr)
    for k in shared:
        o, n = oq[k], nq[k]
        if o <= 0 or n <= 0:
            print(f"{k:28s} {o:7.3f} {n:7.3f}    ERR lane failed")
            continue
        wall = n / o

        def mratio(field):
            a = om.get(k, {}).get(field)
            b = nm.get(k, {}).get(field)
            if not a or b is None:
                return None
            return b / a if a else None

        def counts(field):
            a = om.get(k, {}).get(field)
            b = nm.get(k, {}).get(field)
            return "-" if a is None or b is None else f"{a}->{b}"

        shuf, rows = mratio("shuffle_bytes"), mratio("rows_read")
        plan, glue = mratio("plan_ms"), mratio("glue_ms")
        plan_moved = any(r is not None and abs(r - 1.0) > 0.05
                         for r in (shuf, rows))
        if plan_moved:
            verdict = "PLAN-CHANGE"
        elif wall > band:
            verdict = "SLOWER (wall-only: host load if metrics flat)"
        elif wall < 1.0 / band:
            verdict = "FASTER"
        else:
            verdict = "NOISE"
        fmt = lambda r: f"{r:6.2f}" if r is not None else "     -"
        print(f"{k:28s} {o:7.3f} {n:7.3f} {wall:6.2f} "
              f"{fmt(shuf)} {fmt(rows)} {fmt(plan)} {fmt(glue)} "
              f"{counts('jobs'):>9s} {counts('sql_execs'):>9s} {verdict}")
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print(f"# only in old ({len(only_old)}): {', '.join(only_old)}")
    if only_new:
        print(f"# only in new ({len(only_new)}): {', '.join(only_new)}")


if __name__ == "__main__":
    main()
