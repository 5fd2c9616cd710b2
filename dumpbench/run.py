#!/usr/bin/env python3
"""Floorplan dump benchmark: whole dumps through graft's Floorista.

    python3 dumpbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (once per
source state), generates the workload's inputs from the seed, runs the
floorplan through `new Floorista(spark, config).run()` in one fresh JVM,
checks every committed dump of every pass against an independent
computation (DuckDB, or psql for the Postgres workload), and prints one JSON
line. With --trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run. See dumpbench/README.md.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

import check      # noqa: E402
import fixtures   # noqa: E402
import layers     # noqa: E402
import pgserver   # noqa: E402

ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build", "dumpbench")
CORES = 4
# The serial collector grows the heap by the free share left after each
# collection. G1 grows it by GC-time goals, which depend on the host's speed
# at the moment: on a shared 4-vCPU machine, small_dumps' peak RSS ranged
# 1,040-1,430 MB over four seeds under G1 and 970-1,070 MB under the serial
# collector, at the same pass times.
JVM_MEMORY = ["-Xmx3g", "-XX:+UseSerialGC"]
# Pass 0 is cold and pass 1 still compiles hot code, so the later-pass
# metrics are taken from passes 2 .. LAST_MEASURED (two more when traced). A
# run always makes them, however short --seconds; passes that the remaining
# time allows beyond them are checked but not measured.
FIRST_MEASURED = 2
LAST_MEASURED = 3

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[dumpbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SOURCES, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(f"program sources not found at {PROGRAM_SOURCES}")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        log("building the program and the harness with sbt")
        proc = subprocess.run(["sbt", "-batch", "compile", "writeClasspath"], cwd=HERE,
                              env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            raise SystemExit("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return open(cp_file).read().strip()


def run_harness(classpath, conf, workdir):
    conf_path = os.path.join(workdir, "harness.json")
    result_path = os.path.join(workdir, "result.json")
    conf["spawned_at_ms"] = int(time.time() * 1000)
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    cmd = ["java", *JVM_MEMORY, "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={workdir}",
           f"-Dderby.system.home={workdir}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "dumpbench.DumpBench", conf_path, result_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    proc = subprocess.run(cmd, cwd=workdir, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(result_path) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(fixtures.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # A terminated run still stops its Postgres server and child JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    server = None
    try:
        t0 = time.time()
        spec = fixtures.make(args.workload, args.seed, workdir)
        last_measured = LAST_MEASURED + 2 * args.trace
        measured = slice(FIRST_MEASURED, last_measured + 1)
        conf = {"seconds": args.seconds,
                "last_measured": last_measured,
                "trace": bool(args.trace), "cores": CORES, "contract": spec["contract"],
                "floorplan": spec["floorplan"], "out_root": os.path.join(workdir, "out"),
                "views": spec["views"], "table_dir": spec["lake"] if spec["tables"] else None,
                "jdbc": None}
        if args.workload == "pg_export":
            server = pgserver.start(workdir)
            server.load(fixtures.pg_tables(args.seed))
            conf["jdbc"] = server.jdbc()
            conf["table_dir"] = None
        day0 = time.strftime("%Y-%m-%d", time.localtime())
        t1 = time.time()
        result = run_harness(classpath, conf, workdir)
        t2 = time.time()
        day1 = time.strftime("%Y-%m-%d", time.localtime())
        checker = check.Checker(spec, server, result["oracle_sql"], {day0, day1})
        passes = result["passes"]
        outcomes = [checker.check_pass(os.path.join(conf["out_root"], f"pass-{p['id']}"))
                    for p in passes]
        log(f"inputs {t1 - t0:.1f} s, program {t2 - t1:.1f} s ({len(passes)} passes), "
            f"checks {time.time() - t2:.1f} s")
        if args.trace:
            metrics = layers.report(result, measured, spec,
                                    os.path.join(WORK, "traces",
                                                 f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(result, outcomes, measured)
    finally:
        if server is not None:
            server.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    correct = all(o.correct for o in outcomes)
    for o in outcomes:
        for problem in o.problems:
            log(problem)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def end_to_end(result, outcomes, measured):
    passes = result["passes"]
    later = passes[measured]
    later_out = outcomes[measured]
    pass_s = median([p["wall_s"] for p in later])
    rows = median([o.rows for o in later_out])

    def m(value, unit):
        return {"value": value, "unit": unit}

    return {
        "setup_s": m(result["setup_s"], "s"),
        "first_pass_s": m(passes[0]["wall_s"], "s"),
        "pass_s": m(pass_s, "s"),
        "rows_per_s": m(rows / pass_s, "rows/s"),
        "cpu_s": m(median([p["cpu_s"] for p in later]), "s"),
        "peak_rss_mb": m(result["peak_rss_mb"], "MB"),
        "output_bytes": m(median([o.bytes for o in later_out]), "bytes"),
        "files": m(median([o.files for o in later_out]), "count"),
    }


if __name__ == "__main__":
    main()
