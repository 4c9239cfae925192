#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one fresh JVM, one result line.

    python3 whbench/run.py --workload cube_maintain --seed 1 --seconds 12 --trace 0

Run from the repository root. The first call builds the engine plus the
benchmark driver (whbench/build.sbt) and generates the sf0.1-sized base
fixture with tools/gen_fixture.py, both under .bench_build/. Each run
then starts a JVM with a pinned heap, derives its inputs from the
fixture and --seed inside a fresh directory, measures a closed loop of a
fixed number of steps, checks the outputs and deletes the directory.
--seconds is accepted for the calling harness; the step count does not
depend on it (see NOTES.md). The last stdout line is
the JSON result; the lines before it list every metric with its unit
and sample count. See whbench/NOTES.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
FIXTURE = os.path.join(BUILD, "fixture")
WORKLOADS = ("star_etl", "cube_maintain", "curate_ingest")
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[whbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("set SPARK_HOME to a Spark distribution with jars/")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def build():
    """Compile engine + driver and generate the base fixture, once per
    source state; both are reused by later runs in this checkout.
    Returns whether anything was built."""
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "gen_fixture.py")):
        if not os.path.exists(need):
            raise SystemExit(f"not a repository checkout: {need} is missing")
    spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = sources_digest()
    built = False
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        log("building engine and driver (sbt compile)")
        built = True
        sbt_tmp = os.path.join(BUILD, "tmp")
        os.makedirs(sbt_tmp, exist_ok=True)
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "")
                           + f" -Dsbt.offline=true -Djava.io.tmpdir={sbt_tmp}").strip()
        r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as f:
            f.write(digest)
    if not os.path.exists(os.path.join(FIXTURE, "lineitem.parquet")):
        log("generating the sf0.1-sized base fixture")
        tmp = FIXTURE + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_fixture.py"), "1", tmp],
                           stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit("fixture generation failed")
        os.replace(tmp, FIXTURE)
        built = True
    return built


def cpu_times():
    """The aggregate cpu line of /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def run_jvm(workload, seed, trace, deadline):
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # large pages for the pinned heap: on a 4-core host they were faster in
    # each of four interleaved pairs (commits 4-13%), see NOTES.md
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:+UseTransparentHugePages",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + work,
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{CLASSES}:{spark_jars()}/*", "whbench.Main",
              "--workload", workload, "--seed", str(seed), "--trace", str(trace),
              "--fixture", FIXTURE, "--work", work,
              "--out", out, "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{workload}: JVM did not finish in time")
    finally:
        # also reached on SIGTERM (see main) or Ctrl-C: leave no JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    try:
        if proc.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"{workload}: JVM exited {proc.returncode} without a result")
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rec


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the calling harness; runs have a fixed step count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also write the JVM's raw record to this file")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(f"{a.workload}: terminated"))
    built = build()
    # set-up time counts from here: the build is a once-per-checkout cost
    launch = time.time()
    cpu0 = cpu_times()
    rec = run_jvm(a.workload, a.seed, a.trace,
                  (launch if built else start) + RUN_TIMEOUT_S)
    steal = metrics.steal_share(cpu0, cpu_times())
    if a.raw:
        with open(a.raw, "w") as f:
            json.dump(rec, f)
    for msg in rec["failures"]:
        print(f"[whbench] {msg}", file=sys.stderr)
    cb, ca = rec["calib_before"], rec["calib_after"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={rec['cores']} heap={HEAP} "
          f"calib cpu {cb['cpu_s']:.3f}->{ca['cpu_s']:.3f}s io {cb['io_s']:.3f}->{ca['io_s']:.3f}s "
          f"load1 {cb['load1']:.2f}->{ca['load1']:.2f} "
          f"steal {'n/a' if steal is None else f'{steal:.1%}'}")
    e2e = metrics.end_to_end(rec, launch)
    # a traced run lists its end-to-end figures too, marked, so they can
    # be set beside an untraced run's
    mark = " (traced)" if a.trace else ""
    for k, m in e2e.items():
        v = "missing" if m["value"] is None else f"{m['value']:.6g}"
        print(f"# {k} = {v} {m['unit']} (n={m['samples']}){mark}")
    q = rec["scalars"]
    for k in ("recall_at_10", "dedup_recall"):
        if k in q:
            print(f"# quality {k} = {q[k]:.4f}")
    if a.trace:
        ms = metrics.layer_metrics(rec)
        for k, m in ms.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
        for p, share in metrics.phase_coverage(metrics.build_spans(rec["spans"])).items():
            print(f"# trace coverage of phase {p} = {share:.4f}")
    else:
        ms = e2e
    missing = [k for k, m in ms.items() if m["value"] is None]
    failed = rec["failed"] + len(missing)
    for k in missing:
        print(f"[whbench] FAILED [workload={a.workload}] metric {k} could not be measured",
              file=sys.stderr)
        ms[k]["value"] = 0.0
    print(f"# attempted={rec['attempted']} failed={failed}")
    print(metrics.result_line(failed == 0, rec["attempted"], failed, ms), flush=True)


if __name__ == "__main__":
    main()
