"""CDC ingest benchmark: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 14 --trace 0

Run from the repository root. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``{"perfbench_context": ...}``) records the host (cores,
MemAvailable, heap, sha256 calibration) and the run's details. The exit
code is 1 when any correctness gate fails and 2 when the engine package is
missing. ``--corrupt-oracle`` feeds the oracle a truncated changelog to
show that the gate fails.
"""

from __future__ import annotations

import time

T_PROCESS0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "embulk_output_bigquery_java_spark"


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "wal_tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-oracle", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import host
    from perfbench.stats import highest_percentile, percentile

    cores = host.nproc()
    avail = host.mem_available_mb()
    heap = host.heap_mb(avail)
    runs_dir = os.path.join(REPO, ".perfbench_run")
    rundir = os.path.join(runs_dir, str(os.getpid()))
    log_dir = os.path.join(rundir, "eventlog") if args.trace else None
    extra = []
    if log_dir:
        os.makedirs(log_dir)
        # one plain JSON file: Spark 4 otherwise rolls and compresses the log
        extra = ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.rolling.enabled=false", "spark.eventLog.compress=false"]
    host.configure_env(rundir, cores, heap, extra)

    spark = None
    try:
        with host.PeakRss() as rss:
            from perfbench import report, workloads
            from embulk_output_bigquery_java_spark.session import get_spark

            t = time.monotonic()
            spark = get_spark("perfbench", cores=cores, shuffle_partitions=2 * cores)
            ctx = workloads.Ctx(
                spark, rundir, args.seed, args.seconds, cores, bool(args.trace),
                args.corrupt_oracle, T_PROCESS0,
            )
            ctx.info["spark_start_s"] = time.monotonic() - t
            reps, checks = workloads.WORKLOADS[args.workload](ctx)
        ctx.info["peak_rss_mb"] = rss.peak_mb
        _stop_spark(spark)
        spark = None
        calib = host.host_calibration(cores)
        if args.trace:
            metrics, detail = report.per_layer(ctx, reps, checks, log_dir)
        else:
            metrics, detail = report.end_to_end(ctx, reps, checks), {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        if os.path.isdir(runs_dir) and not os.listdir(runs_dir):
            os.rmdir(runs_dir)

    failed = sum(not c["ok"] for c in checks)
    lat = [x for r in reps for x in r.latencies_s]
    tail_q = highest_percentile(len(lat))
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "mem_available_mb": avail, "heap_mb": heap,
        "host_calib_mh_s": round(calib, 2),
        "reps": [{"traced": r.traced, "wall_s": round(r.wall_s, 3),
                  "events": r.events, "batches": r.batches,
                  "batch_latency_s": [round(x, 3) for x in r.latencies_s]}
                 for r in reps],
        "checks": checks,
        # the highest percentile with ten samples beyond it, if any
        "batch_latency": {"n": len(lat), "tail_q": tail_q,
                          "tail_s": percentile(lat, tail_q) if tail_q else None},
        "phases_s": {k: round(v, 3) for k, v in ctx.info.items() if k.endswith("_s")},
        **detail,
    }
    print(json.dumps({"perfbench_context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r.batches for r in reps) + len(checks),
        "failed": failed,
        "metrics": {k: _metric(v, u) for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
