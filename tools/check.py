#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate (driver-side python deps).

Runs graft.Verify (unless --no-run) at the given SF dir, then replays every
oracle_sql.json entry in DuckDB over the same parquet tables and compares
with the Spark parquet output: columns matched by (sorted) name, rows
compared in order, exact equality (floats exact — the engine uses
decimal-cast aggregation precisely so this holds).

Usage: python3 tools/check.py [--sf /root/testdata/sf0.01] [--no-run] [names...]
"""
import argparse, json, math, os, subprocess, sys, glob

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]


def verify_heap_gb():
    """Verify's -Xmx: 60% of the host's memory, leaving the rest for
    DuckDB's replay and the OS, within [2, 48] GiB (48 GiB was the fixed
    heap before, sized for a large host; on a 16 GB host it got the JVM
    killed)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return max(2, min(48, int(kb / 1048576 * 0.6)))


def run_verify(sf_dir, out_dir):
    jar = [j for j in glob.glob(f"{REPO}/target/scala-2.13/*.jar")
           if not j.endswith(("-tests.jar", "-sources.jar", "-javadoc.jar"))]
    assert jar, "run `sbt package` first"
    cp = f"/opt/spark/jars/*:{jar[0]}"
    cmd = ["java", *ADD_OPENS, f"-Xmx{verify_heap_gb()}g",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
           "graft.Verify", sf_dir, out_dir]
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    if run_verify.only:
        env["SPARK_GRAFT_ONLY"] = ",".join(run_verify.only)
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  " + line)
    if r.returncode != 0:
        print(r.stderr[-4000:])
        sys.exit(f"Verify exited {r.returncode}")


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--no-run", action="store_true")
    # separate dump dirs let two gates run concurrently (e.g. a
    # local-cluster battery and an sf-scale probe) without clobbering
    # each other's parquet mid-compare
    ap.add_argument("--out", default=f"{REPO}/target/verify_out")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    out_dir = args.out

    if not args.no_run:
        run_verify.only = args.names
        run_verify(args.sf, out_dir)

    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # The attempted-query set comes from Verify's manifest (every SELECTED
    # query, including rows-only ones with no oracle entry) so a crashed
    # no-oracle query still surfaces as FAIL below. Fallback for a
    # pre-manifest dump: output dirs ∪ oracle keys — weaker (a crashed
    # rows-only query is invisible to it), so warn. Stray non-directory
    # files (editor temps, .crc) never enter `names` either way.
    mf = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mf):
        attempted = set(json.load(open(mf)))
    else:
        print("WARN: no manifest.json (old Verify dump?) — crashed "
              "rows-only queries cannot be detected")
        attempted = {n for n in os.listdir(out_dir)
                     if os.path.isdir(os.path.join(out_dir, n))}
    names = args.names or sorted(attempted | set(oracles))
    n_pass = n_fail = n_noracle = 0
    for name in names:
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            # a selected query whose Spark dump never materialized is a
            # FAILURE (it crashed in Verify), not a skip — silently
            # skipping hid 17 crashed event queries once
            print(f"FAIL {name}: no Verify output (query crashed or was not run)")
            n_fail += 1
            continue
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output files")
            n_fail += 1
            continue
        sq = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        scols = [d[0] for d in sq.description]
        srows = sq.fetchall()
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, no oracle)")
            n_noracle += 1
            continue
        try:
            oq = con.execute(oracles[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        ocols = [d[0] for d in oq.description]
        orows = oq.fetchall()
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns differ spark={sorted(scols)} oracle={sorted(ocols)}")
            n_fail += 1
            continue
        sidx = [scols.index(c) for c in sorted(scols)]
        oidx = [ocols.index(c) for c in sorted(ocols)]
        sr = [tuple(norm(r[i]) for i in sidx) for r in srows]
        orr = [tuple(norm(r[i]) for i in oidx) for r in orows]
        if len(sr) != len(orr):
            print(f"FAIL {name}: row count spark={len(sr)} oracle={len(orr)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
        if not bad:
            print(f"PASS {name} ({len(sr)} rows)")
            n_pass += 1
        else:
            # distinguish ordering-only mismatch from value mismatch
            if sorted(map(repr, sr)) == sorted(map(repr, orr)):
                print(f"FAIL {name}: values match but ROW ORDER differs ({len(bad)} rows)")
            else:
                i, a, b = bad[0]
                print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first at {i}:")
                print(f"  cols   {sorted(scols)}")
                print(f"  spark  {a}")
                print(f"  oracle {b}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
