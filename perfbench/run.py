"""Lakehouse lifecycle benchmark: ingest_maintain, late_corrections, read_mix.

Run from the repository root:

    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

``--workload`` is late_corrections, read_mix or all; every run also
ingests and maintains the table it works on (see perfbench/README.md).
Human-readable lines go to stdout first; the last stdout line is one
JSON object with the keys correct, attempted, failed and metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Exit code 0 means the run completed; its correctness is in the JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "e_commerce_lakehouse_spark"
DRIVER_MEMORY = "2g"


def _pin_environment(run_dir: str) -> None:
    """Everything the engine and Spark write goes under ``run_dir``; the
    Python workers import the engine from the checkout."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_SHM"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark, sampler) -> None:
    """Stop the session, then the JVM, then wait for every process the
    run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    left = set(sampler.pids)
    while left and time.monotonic() < deadline:
        left = {p for p in left if os.path.exists(f"/proc/{p}")}
        if left:
            time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("late_corrections", "read_mix", "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(run_dir)

    from spans import RssSampler, Tracer

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        import pyarrow
        import pyspark

        from e_commerce_lakehouse_spark.session import get_spark
        from lifecycle import Lifecycle

        cores = len(os.sched_getaffinity(0))  # what nproc reports
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cores=cores, shuffle_partitions=2 * cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        session_s = time.perf_counter() - t0
        env = {
            "nproc": cores, "mem_total_mb": round(_mem_total_mb()),
            "driver_memory": DRIVER_MEMORY, "master": spark.sparkContext.master,
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "session_start_s": round(session_s, 3),
        }
        print("env " + json.dumps(env, sort_keys=True))
        tracer = Tracer(bool(args.trace), spark.sparkContext if args.trace else None)
        bench = Lifecycle(spark, os.path.join(run_dir, "work"), args.seed, args.workload,
                          args.seconds, tracer)
        print("plan " + json.dumps({"workload": args.workload, "seed": args.seed, **bench.units}))
        bench.run()
        sampler.stop()
        print("phase_s " + json.dumps(bench.phase_s))
        print("peak_mb_by_process " + json.dumps(sampler.by_process()))
        e2e = bench.end_to_end()
        e2e["peak_rss_mb"] = (sampler.peak_bytes / 2**20, "MB",
                              "sum of per-process peaks: driver, JVM, Python workers")
        error_rate = bench.failed / max(1, bench.attempted)
        for name, (value, unit, note) in e2e.items():
            print(f"e2e {args.workload} {name} = {value} {unit} ({note})")
        print(f"e2e {args.workload} error_rate = {error_rate:.6g} ratio "
              f"({bench.failed} failed of {bench.attempted} attempted)")
        metrics = e2e
        if args.trace:
            layer = bench.per_layer()
            for name, (value, unit, note) in layer.items():
                print(f"layer {name} = {value} {unit} ({note})")
            for name, secs in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                print(f"self {name} = {secs:.4f} s")
            spans = os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans)
            print(f"spans written to {os.path.relpath(spans, ROOT)}")
            metrics = layer
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_spark(spark, sampler)
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # left only when no other run uses it
            os.rmdir(os.path.dirname(run_dir))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
