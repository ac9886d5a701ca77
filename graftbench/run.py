#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one timed window.

Usage:
  python3 graftbench/run.py --workload meta_plan|mor_cdc|pipeline \
      --seed N --seconds S --trace 0|1
  python3 graftbench/run.py --self-test

Builds graft from source when needed (graftbench/build.py), generates the
workload's inputs from the seed, runs graftbench.Main in one JVM with
Sessions.local at nproc cores, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the span
file and self-time summary go to .bench_build/trace/<workload>-seed<N>/.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("meta_plan", "mor_cdc", "pipeline")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(classes, work, main, args, timeout):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(classes), main] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[graftbench] JVM killed after {timeout:.0f} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    classes = build.build(OUT)
    work = OUT / "work" / f"{a.workload or 'selftest'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.self_test:
            return java(classes, work, "graftbench.HelpersTest", [], JVM_TIMEOUT_S)
        t0 = time.monotonic()
        data = work / "data"
        if a.workload == "pipeline":
            subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(data), str(a.seed)],
                           check=True, stdout=sys.stderr)
        result = work / "result.json"
        trace_dir = OUT / "trace" / f"{a.workload}-seed{a.seed}"
        code = java(classes, work, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--data", str(data),
            "--bench-dir", str(BENCH), "--trace-dir", str(trace_dir), "--result", str(result)],
            JVM_TIMEOUT_S - (time.monotonic() - t0))
        if code != 0 or not result.is_file():
            print(f"[graftbench] run failed (exit {code})", file=sys.stderr)
            return 1
        line = result.read_text().strip()
        parsed = json.loads(line)
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed.keys()
        print(json.dumps(parsed), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
