#!/usr/bin/env python3
"""Steadiness tool: runs workloads k times each and reports, for every
end-to-end metric, the median, the quartiles and the spread (the distance
between the first and third quartile as a share of the median), next to
the metric's bound in BENCHMARK.json. It also compares two such sets.

    python3 perfbench/steady.py run --runs 10 --out set1.json [--workload W ...]
        [--first-seed 1] [--seconds N] [--trace 0]
    python3 perfbench/steady.py show set1.json
    python3 perfbench/steady.py compare set1.json set2.json

Run from the repository root. A set file holds every run's result line,
its wall time, the share of the machine's CPU time the hypervisor stole
during it (from /proc/stat; null where that file is missing) and the time
of a fixed single-threaded Python loop run just before it (`probe_s`), so
a drift between runs can be told apart from a change in the host's
speed. `show` flags a
spread at or beyond a third of its bound; `compare` flags a second
median worse than the first by more than the bound, and any difference
in the share of failed operations, and exits 1 if it flagged anything.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def spec():
    return json.load(open("BENCHMARK.json"))


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields[:8])


def probe():
    """Seconds a fixed single-threaded loop takes: the host's speed."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def run(args):
    s = spec()
    workloads = args.workload or [w["name"] for w in s["workloads"]]
    seconds = args.seconds or s["run_seconds"]
    out = {}
    for w in workloads:
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(seconds),
                                  "--trace", str(args.trace)]
            probe_s = probe()
            t, c0 = time.monotonic(), cpu_times()
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            wall, c1 = time.monotonic() - t, cpu_times()
            steal = (c1[0] - c0[0]) / max(1, c1[1] - c0[1]) if c0 else None
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            print(f"{w} seed={seed} rc={r.returncode} wall={wall:.1f}s "
                  f"steal={steal if steal is None else round(steal, 4)} "
                  f"probe={probe_s:.3f}s "
                  f"{json.dumps(res) if res else '(no result)'}", flush=True)
            out.setdefault(w, []).append({"seed": seed, "rc": r.returncode,
                                          "wall_s": wall, "steal": steal,
                                          "probe_s": probe_s,
                                          "result": res})
            json.dump(out, open(args.out, "w"), indent=1)
    show_set(out)


def metric_values(runs):
    vals = {}
    for r in runs:
        if r["result"]:
            for k, v in r["result"]["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
    return vals


def show_set(data):
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    for w, runs in data.items():
        ok = [r for r in runs if r["result"]]
        att = sum(r["result"]["attempted"] for r in ok)
        fail = sum(r["result"]["failed"] for r in ok)
        wrong = sum(1 for r in ok if not r["result"]["correct"])
        walls = [r["wall_s"] for r in runs if "wall_s" in r]
        steals = [r["steal"] for r in runs if r.get("steal") is not None]
        probes = [r["probe_s"] for r in runs if "probe_s" in r]
        print(f"\n{w}: {len(ok)}/{len(runs)} runs, attempted {att}, "
              f"failed {fail}, incorrect runs {wrong}"
              + (f", median run {statistics.median(walls):.1f} s" if walls else "")
              + (f", steal {min(steals):.1%}..{max(steals):.1%}" if steals else "")
              + (f", probe {min(probes):.3f}..{max(probes):.3f} s" if probes else ""))
        for k, vs in sorted(metric_values(ok).items()):
            if len(vs) < 2:
                continue
            q1, med, q3 = quartiles(vs)
            spread = (q3 - q1) / med if med else float("inf")
            b = bounds.get(k)
            flag = ""
            if b is not None and spread >= b / 3:
                flag = "  <-- spread >= bound/3"
            print(f"  {k:16s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                  f"  spread {spread:7.2%}  bound {b}{flag}")


def compare(a, b):
    s = spec()
    better = {m["name"]: m["better"] for m in s["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    bad = 0
    for w in a:
        if w not in b:
            continue
        ra = [r for r in a[w] if r["result"]]
        rb = [r for r in b[w] if r["result"]]
        share = [sum(r["result"]["failed"] for r in rs) /
                 max(1, sum(r["result"]["attempted"] for r in rs))
                 for rs in (ra, rb)]
        print(f"\n{w}: failed share {share[0]:.6f} vs {share[1]:.6f}"
              + ("" if share[0] == share[1] else "  <-- differs"))
        bad += share[0] != share[1]
        va, vb = metric_values(ra), metric_values(rb)
        for k in sorted(va):
            ma, mb = statistics.median(va[k]), statistics.median(vb[k])
            change = (mb - ma) / ma if ma else float("inf")
            worse = change if better[k] == "lower" else -change
            flag = "  <-- worse than bound" if worse > bounds[k] else ""
            bad += bool(flag)
            print(f"  {k:16s} {ma:12.4f} -> {mb:12.4f}  {change:+7.2%}"
                  f"  bound {bounds[k]}{flag}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--out", required=True)
    r.add_argument("--workload", action="append")
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    sh = sub.add_parser("show")
    sh.add_argument("set")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    elif args.cmd == "show":
        show_set(json.load(open(args.set)))
    else:
        sys.exit(1 if compare(json.load(open(args.a)),
                              json.load(open(args.b))) else 0)


if __name__ == "__main__":
    main()
