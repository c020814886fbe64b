#!/usr/bin/env python3
"""graft benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs one JVM with
one Spark session at local[N] (N = usable cores), and prints every metric
by name with its unit, the output checks, and as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("etl_incremental", "corpus_dedup", "staging_queries")
# a run must end within 180 s; the JVM gets what is left after start-up
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(args, jar, jars, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # class-data sharing: the checkout's first run dumps the classes it
    # loaded; later runs map them instead of loading them from ~300 jars
    jsa = build.archive()
    dump = None
    if os.path.exists(jsa):
        cds = [f"-XX:SharedArchiveFile={jsa}"]
    else:
        dump = f"{jsa}.tmp{os.getpid()}"
        cds = [f"-XX:ArchiveClassesAtExit={dump}"]
    # a fixed, pre-touched heap: resident memory then varies only with
    # what the program keeps off the heap, not with heap growth timing
    cmd = [build.java(), "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"] + cds + [
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores), "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark process exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark process exited with code {code}")
    if dump and os.path.exists(dump):
        os.replace(dump, jsa)
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    try:
        jar = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build: {e}")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, jar, jars, work, os.path.join(work, "result.json"))
        checks = res["checks"]
        failed = res["failed"]
        if args.workload == "staging_queries":
            import oracle
            data = res["info"]["data_dir"]
            per_q = oracle.compare(data, os.path.join(data, "results"),
                                   sorted(res["ops_by_name"]), os.path.join(work, "tmp"))
            for q, ok, detail in per_q:
                checks.append({"name": f"oracle.{q}", "ok": ok, "detail": detail})
                if not ok:
                    failed += res["ops_by_name"][q]
            failed = min(failed, res["attempted"])
        if args.trace:
            keep = os.path.join(ROOT, ".bench_work", "trace")
            os.makedirs(keep, exist_ok=True)
            for ext in ("spans.tsv", "jobs.tsv"):
                shutil.copy(os.path.join(work, "result.json." + ext),
                            os.path.join(keep, f"{args.workload}.{ext}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = all(c["ok"] for c in checks)
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for k, v in res["info"].items():
        print(f"info {k} = {v}")
    print(f"metric failed_ratio = {failed / res['attempted']:.4f} ratio")
    for k, m in res["metrics"].items():
        print(f"metric {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
