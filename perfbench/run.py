#!/usr/bin/env python3
"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload nvd_refresh_read --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics from a traced run. Diagnostics, the
run stamp and the tail percentile with its sample count go to standard
error; a traced run also writes its spans to ``perfbench/out/``.
Everything the run writes stays under ``perfbench/`` and is removed at
the end, except that trace file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nvd_refresh_read", "llm_dedup_admit")
DRIVER_MEMORY = "2g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _prepare_env(work: str) -> None:
    """Pin the load shape and keep every file the run writes in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # options of the driver JVM only (not of Spark's launcher JVM). The
    # heap is fixed in size and touched at start: how much of it a short
    # run happens to touch depends on the collector's young-generation
    # sizing (one run read 1.9 GB, its neighbours 2.4 GB), so the peak
    # resident set moves only with memory outside the heap (classes,
    # generated code, threads, buffers) and the Python driver's
    os.environ["SPARK_SUBMIT_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                       f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("JAVA_TOOL_OPTIONS", None)
    os.environ.pop("SPARK_CONF_DIR", None)


def _stop(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _stamp(spark, probes: bool) -> dict:
    """Host facts of this run; the ambient probes run in traced runs."""
    import pyspark
    out = {"nproc": os.cpu_count(),
           "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "driver_heap": DRIVER_MEMORY, "pyspark": pyspark.__version__,
           "python": platform.python_version(), "loadavg_1m": _loadavg()}
    if probes:
        import bench
        out["calibrate_s"] = bench.calibrate(spark)
        out["membw_gbps"] = bench.calibrate_membw(spark)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import nvd2mysqlloader_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the program is not importable from {ROOT}: {e}")
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    import metrics
    from common import peak_rss_mb
    from spans import Recorder

    from nvd2mysqlloader_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    startup_s = time.perf_counter() - t0
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        stamp = _stamp(spark, probes=bool(args.trace))
        rec = Recorder(spark, enabled=bool(args.trace))
        if args.workload == "nvd_refresh_read":
            import nvd as workload
        else:
            import admit as workload
        workload.install(rec)
        try:
            t_run = time.perf_counter()
            run = workload.run_workload(spark, args.seed, args.seconds,
                                        os.path.join(work, "data"), rec)
            run_wall_s = time.perf_counter() - t_run
        finally:
            rec.restore()
        run.info["peak_rss_mb"], run.info["python_workers_rss_mb"] = \
            peak_rss_mb(jvm_pid)
        if args.trace:
            run.info.update(trace_overhead_s=rec.overhead_s,
                            trace_sql_s=rec.sql_s)
        stamp_after = _stamp(spark, probes=bool(args.trace))
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamp["after"] = {k: v for k, v in stamp_after.items()
                      if k in ("loadavg_1m", "calibrate_s", "membw_gbps")}

    if args.trace:
        values, detail = metrics.per_layer(run, rec, startup_s, run_wall_s)
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "stamp": stamp,
                       "info": run.info, "layers": detail["spans"],
                       "named": detail["named"],
                       "metrics": values, "spans": rec.spans}, f, default=str)
        log(f"perfbench: spans written to {os.path.relpath(path, ROOT)}")
    else:
        values = metrics.end_to_end(run)
    log("perfbench: stamp " + json.dumps(stamp))
    log("perfbench: info " + json.dumps(run.info, default=str))
    for note in run.notes:
        log(f"perfbench: failed: {note}")
    units = metrics.units(bool(args.trace))
    print(json.dumps({
        "correct": run.incorrect == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
