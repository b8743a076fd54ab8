#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark (perfbench/build.py), starts one
fresh JVM for the run, checks its outputs and prints one JSON object as
the last line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics, from the run's spans
(perfbench/METRICS.md says which module and end-to-end metric each one
belongs to). Temporary stores, checkpoints and the JVM's temp dir live
under .bench_build/ and are removed when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402

WORKLOADS = ("market_ingest", "ann_live")
DEADLINE_S = 170

# build.sbt's forked-JVM flags (Spark on JDK 17 outside spark-submit)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_command(classpath, work, args):
    flags = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # build.sbt's -Xmx rule: SPARK_DRIVER_MEM, else 8g
    # -XX:-UsePerfData: no /tmp/hsperfdata file, the run writes only under `work`
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:ReservedCodeCacheSize=1g",
              f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData"]
    return ["java"] + flags + ["-cp", ":".join(classpath), "graftbench.Main"] + args


def run_jvm(cmd, work, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         env=env, cwd=work, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit("benchmark JVM timed out")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    line = next((l for l in reversed(out.splitlines()) if l.startswith("BENCH_RESULT ")), None)
    if p.returncode != 0 or line is None:
        sys.stderr.write(err[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {p.returncode})")
    return json.loads(line[len("BENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no library sources next to the benchmark: run from a full checkout")
    import build
    classpath = build.build()
    # the deadline covers the run, not a compile after a source change
    started = time.time()
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    try:
        launch_ms = int(time.time() * 1000)
        raw = run_jvm(jvm_command(classpath, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--launch-ms", str(launch_ms), "--cpus", str(cpus())]),
            work, max(30, DEADLINE_S - (time.time() - started)))
        for n in raw["notes"]:
            print(n, file=sys.stderr)
        spans = os.path.join(work, "spans.jsonl")
        result = analyze.result(raw, spans if a.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
