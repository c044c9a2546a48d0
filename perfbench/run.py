#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_near --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), then runs one workload in one driver JVM at
local[nproc] and prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are the
per-layer metrics, from a traced run that also writes its spans to
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dedup_near", "clip_job", "matcher", "queries")
# a run must end within 180 s; the JVM gets what is left after the build
JVM_BUDGET_S = 165.0

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """JVM heap from MemTotal, as the repository's test command sizes the
    Spark driver: MemTotal / 2 GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def java_cmd(classes, main, args, local_dir, heap_opts):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    return (["java"] + heap_opts + opens +
            ["-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={local_dir}",
             "-cp", cp, main] + args)


def run_child(cmd, out_path, deadline):
    """Run a JVM to completion (or kill it at the deadline). Returns
    (exit code, peak RSS in KiB of that process)."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=sys.stderr,
                             start_new_session=True)
        try:
            while time.monotonic() < deadline:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if pid == p.pid:
                    p.returncode = os.waitstatus_to_exitcode(status)
                    return p.returncode, ru.ru_maxrss
                time.sleep(0.05)
            print("perfbench: JVM killed at the deadline", file=sys.stderr)
        finally:
            if p.returncode is None:
                os.killpg(p.pid, signal.SIGKILL)
                _, _, ru = os.wait4(p.pid, 0)
                p.returncode = -9
        return -9, ru.ru_maxrss


def last_json(path):
    with open(path, "rb") as f:
        lines = [l for l in f.read().decode("utf-8", "replace").splitlines() if l.strip()]
    for line in reversed(lines):
        if line.startswith("{"):
            return json.loads(line)
    return None


def main():
    # a terminated run still stops and reaps its JVM (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = "BENCHMARK.json"
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    deadline = time.monotonic() + JVM_BUDGET_S
    run_dir = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    local_dir = os.path.join(run_dir, "local")
    work_dir = os.path.join(run_dir, "work")
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    for d in (local_dir, work_dir, trace_dir):
        os.makedirs(d, exist_ok=True)
    # a fixed young generation keeps the collector's heap sizing (and so
    # peak RSS) from following the timing of each run
    heap_opts = [f"-Xmx{heap()}", "-Xmn1g"]
    cores = os.cpu_count() or 1
    try:
        calib = []

        def calibrate():
            out = os.path.join(run_dir, "calib.out")
            code, _ = run_child(java_cmd(classes, "perfbench.Calib", [str(cores)],
                                         local_dir, ["-Xmx1g"]), out, deadline)
            if code != 0:
                raise SystemExit("perfbench: calibration failed")
            calib.append(last_json(out)["calib_s"])

        calibrate()
        out = os.path.join(run_dir, "workload.out")
        trace_file = os.path.join(
            trace_dir, f"{a.workload}-seed{a.seed}-{os.getpid()}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work_dir, "--cores", str(cores),
                "--trace-file", trace_file]
        code, maxrss_kib = run_child(
            java_cmd(classes, "perfbench.Main", args, local_dir, heap_opts), out, deadline)
        res = last_json(out) if code == 0 else None
        if res is None:
            raise SystemExit(f"perfbench: workload JVM exited {code} without a result")
        calibrate()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    if a.trace:
        metrics["host.calib_s"] = {"value": calib[0], "unit": "s"}
        metrics["host.calib_after_s"] = {"value": calib[1], "unit": "s"}
        metrics["error_rate"] = {"value": res["failed"] / res["attempted"], "unit": "ratio"}
    else:
        metrics["peak_rss_mb"] = {"value": maxrss_kib / 1024.0, "unit": "MB"}
        print(f"perfbench: host.calib_s before={calib[0]:.4f} after={calib[1]:.4f}",
              file=sys.stderr)
    names = [m["name"] for m in wanted]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise SystemExit(f"perfbench: metrics missing from the run: {missing}")
    units = {m["name"]: m["unit"] for m in wanted}
    out_metrics = {n: {"value": metrics[n]["value"], "unit": units[n]} for n in names}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
