#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py [sf_dir] [out_dir] [--skip-verify]

1. runs `sbt "runMain graft.Verify <sf_dir> <out_dir>"` (unless --skip-verify)
2. loads each <out_dir>/<name> parquet result
3. runs the matching oracle_sql.json SQL in DuckDB over the same tables
4. compares row count, column names, dtypes, and values (exact)

Exits 1 when any lane FAILs (or none was compared), and 2 when an
--only=a,b name is neither in oracle_sql.json nor a produced (rows-only)
output.
"""
import sys, os, glob, subprocess, json, re
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def lint_floor_div(oracle):
    """r15 VERDICT item 8 — the floor-division sweep, made mechanical.

    Spark's `div` and DuckDB's `//` BOTH truncate toward zero, so a bare
    `//` hash-matches a bare `div` even on negative numerators — which is
    exactly why a lane whose DECLARED contract is floor division (the
    engine's pinned `(x - pmod(x, y)) div y` form) can silently drift:
    the oracle replays truncation, the hash passes, and the declared
    statistic is wrong for negative numerators (the jackknife escape
    class). Rule enforced here, per `//` use-site:

      - the ~160 chars before the site contain the explicit floor guard
        `((x % y) + y) % y` (detected by its `) + d) % d` tail), OR
      - the lane's oracle declares a non-negative contract with a
        COUNTED `-- nonneg-div(N):` comment naming WHY every bare-`//`
        numerator in that lane is >= 0 (truncate == floor, no
        ambiguity). N must EQUAL the lane's current bare-site count
        (round-17 ADVICE fix: the marker used to be lane-wide, so a
        negative-numerator site later ADDED to an already-marked lane
        sailed through — now any new bare site fails until its
        non-negativity is re-argued and the count bumped). A legacy
        uncounted `-- nonneg-div:` marker is itself an error.

    Returns {lane: problem} for lanes that violate the rule."""
    # `((x % y) + y) % y // y` — y may be a bare column, count(*), or a
    # parenthesized expression like (t.n_all - n_g)
    guard_tail = re.compile(
        r"\)\s*\+\s*[^/]{1,60}?\)\s*%\s*[^/%]{1,60}?\)*\s*(//)\s*$")
    problems = {}
    for name, sql in oracle.items():
        if "//" not in sql and "nonneg-div" not in sql:
            continue
        bare = 0
        for m in re.finditer(r"//", sql):
            head = sql[max(0, m.start() - 200):m.end()]
            # a site is guarded when the floor-correction idiom
            # `... + den) % den` immediately precedes the division
            if guard_tail.search(head.replace("\n", " ")):
                continue
            bare += 1
        declared = [int(n) for n in re.findall(r"nonneg-div\((\d+)\):", sql)]
        if re.search(r"nonneg-div(?!\(\d+\):)", sql):
            problems[name] = ("uncounted 'nonneg-div' marker — use "
                              "'-- nonneg-div(N): why' with N = the bare "
                              "'//' site count")
        elif declared and sum(declared) != bare:
            problems[name] = (f"marker licenses {sum(declared)} bare '//' "
                              f"site(s) but the lane has {bare} — re-argue "
                              "non-negativity and bump the count")
        elif not declared and bare:
            problems[name] = (f"{bare} bare '//' site(s) without the "
                              "((x%y)+y)%y guard and no nonneg-div(N) marker")
    return problems

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    # --only=a,b,c : dev-loop subset (sets GRAFT_VERIFY_ONLY for Verify and
    # restricts the oracle compare to those names)
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = {n.strip() for n in a[len("--only="):].split(",") if n.strip()}
    if "--skip-verify" not in sys.argv:
        env = dict(os.environ)
        if only:
            env["GRAFT_VERIFY_ONLY"] = ",".join(sorted(only))
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd="/root/repo", capture_output=True, text=True, timeout=1800,
            env=env)
        sys.stdout.write(r.stdout[-3000:])
        sys.stderr.write(r.stderr[-40000:])
        if r.returncode != 0:
            print("VERIFY RUN FAILED rc=", r.returncode)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    results = {}
    produced = {os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                if os.path.isdir(p)}
    if only:
        unknown = sorted(only - set(oracle) - produced)
        if unknown:
            print(f"UNKNOWN --only lane(s): {', '.join(unknown)} "
                  "(not in oracle_sql.json, no Spark output)")
            sys.exit(2)
        oracle = {k: v for k, v in oracle.items() if k in only}
        produced = {p for p in produced if p in only}
    for name in sorted(oracle):
        status = []
        if name not in produced:
            results[name] = "MISSING SPARK OUTPUT"
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            results[name] = f"SPARK OUTPUT UNREADABLE: {e}"
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE SQL ERROR: {str(e).splitlines()[0][:200]}"
            continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            results[name] = f"COLS got={list(got.columns)} exp={list(exp.columns)}"
            continue
        if len(got) != len(exp):
            results[name] = f"ROWS got={len(got)} exp={len(exp)}"
            continue
        if len(got) == 0:
            status.append("WARN-EMPTY")
        dt_g = [str(t) for t in got.dtypes]
        dt_e = [str(t) for t in exp.dtypes]
        if dt_g != dt_e:
            status.append(f"DTYPES got={dt_g} exp={dt_e}")
        # value compare (exact; NaN==NaN)
        try:
            pd.testing.assert_frame_equal(
                got.reset_index(drop=True), exp.reset_index(drop=True),
                check_dtype=False, check_exact=True)
            status.append("VALUES-OK")
        except AssertionError as e:
            msg = str(e).splitlines()
            status.append("VALUES-DIFF: " + " | ".join(msg[:4]))
        results[name] = "; ".join(status) if status else "OK"

    for name in sorted(set(produced) - set(oracle)):
        try:
            n = len(pd.read_parquet(f"{out_dir}/{name}"))
            results[name] = f"rows-only n={n}" + (" WARN-EMPTY" if n == 0 else "")
        except Exception as e:
            results[name] = f"rows-only UNREADABLE: {e}"

    lint = lint_floor_div(json.load(open(f"{out_dir}/oracle_sql.json")))
    if only:
        lint = {k: v for k, v in lint.items() if k in only}
    for name, msg in sorted(lint.items()):
        results[name] = results.get(name, "") + f"; LINT floor-div: {msg}"

    npass = 0
    for name in sorted(results):
        r = results[name]
        ok = r in ("OK",) or r == "VALUES-OK" or r.startswith("rows-only n=") \
            and "WARN" not in r
        flag = "PASS" if (r == "VALUES-OK" or (r.startswith("rows-only") and "WARN" not in r)) else "FAIL"
        if flag == "PASS":
            npass += 1
        print(f"{flag:4} {name}: {r}")
    print(f"== {npass}/{len(results)} pass ==")
    sys.exit(0 if results and npass == len(results) else 1)

if __name__ == "__main__":
    main()
