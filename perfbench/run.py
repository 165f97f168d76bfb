"""tokenstore benchmark: run one workload, print one JSON result line.

    python3 perfbench/run.py --workload bulk_synth --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (see BASELINE.md in this
directory): ``bulk_synth`` and ``epochs_compact``.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` first makes the same untraced measurement, then starts a
fresh Spark session with the event log on, repeats set-up and runs one
cycle with every call tagged by job group, runs the layer probes, and
prints the per-layer metrics, including each end-to-end metric's tracing
overhead.

All load comes from this one process on ``local[4]``; shuffle, spill,
temporary and store files live under ``.perfbench_work/`` in the
checkout and are removed at exit.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's settings and versions.  The exit code is 1 when any
output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from layers import E2E, E2E_SAMPLES, PER_LAYER, per_layer
from procs import PeakRss, stop_spark_and_wait
from tracing import EventLog, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# session.py defaults to a 24 GB driver heap, more than a 16 GB host has;
# the largest input here (6.3M tokens, cached) needs well under 3 GB
DRIVER_MEMORY = "3g"


def _env(work: str) -> None:
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVM's own temporary files (native-library extraction, perf data)
    # stay in the work directory too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"


def run_phase(workload_cls, seed: int, seconds: float, work: str, trace: bool):
    """One Spark session: set-up, the measured loop and (traced) probes."""
    from etl_sql_duckdb_parquet__spark.session import get_spark
    from workloads import Ctx

    os.makedirs(work, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark(cores=CORES, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, Tracer(spark.sparkContext, workload_cls.name, trace), work, seed, seconds)
        wl = workload_cls()
        wl.setup(ctx)
        wl.measure(ctx)
        if trace:
            wl.probes(ctx)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark_and_wait(spark)
    return ctx, wl, session_s, app_id


def end_to_end(ctx, wl, session_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": session_s + sum(ctx.setup.values()),
        **{m: statistics.median(ctx.samples[k]) for m, k in E2E_SAMPLES.items()},
        "size_vs_reference": wl.size_vs_reference,
        "peak_rss_mb": peak_rss_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine lives beside this directory; without it, fail before any
    # process starts
    sys.path.insert(0, ROOT)
    import etl_sql_duckdb_parquet__spark.encode  # noqa: F401

    import pyarrow
    import pyspark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _env(work)
    units = {n: u for n, u, _b in E2E}
    try:
        with PeakRss() as rss:
            ctx, wl, session_s, _ = run_phase(
                cls, args.seed, args.seconds, os.path.join(work, "untraced"), False
            )
        e2e = end_to_end(ctx, wl, session_s, rss.peak_mb)
        attempted, failed = ctx.attempted, ctx.failed
        info = {
            "samples_s": ctx.samples,
            "setup_parts_s": dict(ctx.setup, session=session_s),
            "end_to_end": e2e,
        }
        if args.trace:
            tdir = os.path.join(work, "traced")
            with PeakRss() as rss_t:
                tctx, twl, tsession_s, app_id = run_phase(cls, args.seed, 0, tdir, True)
            traced_e2e = end_to_end(tctx, twl, tsession_s, rss_t.peak_mb)
            log = EventLog(os.path.join(tdir, "eventlog", app_id))
            values = per_layer(tctx, ctx, log, tsession_s, e2e, traced_e2e, CORES)
            units = {n: u for n, u, _b in PER_LAYER}
            attempted += tctx.attempted
            failed += tctx.failed
            info["traced_end_to_end"] = traced_e2e
        else:
            values = e2e
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        cores=CORES,
        tmpdir=os.environ["TMPDIR"],
        spark_local_dirs=os.environ["SPARK_LOCAL_DIRS"],
        pyspark=pyspark.__version__,
        pyarrow=pyarrow.__version__,
    )
    correct = failed == 0 and attempted > 0
    print(json.dumps({"perfbench": info}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": float(v), "unit": units[n]} for n, v in values.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
