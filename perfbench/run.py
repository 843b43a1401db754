"""Lakehouse benchmark runner.

    python3 perfbench/run.py --workload lakehouse_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the seed's inputs under
``.perfbench_work/``, builds one ``local[nproc]`` session, runs the
workload, checks every output, prints a human-readable report and, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Exits non-zero on any wrong result or
failed operation. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_fraud_revenue_intelligence_lakehouse_spark"
sys.path.insert(0, HERE)

import batch  # noqa: E402
import datagen  # noqa: E402
import gate  # noqa: E402
import stream  # noqa: E402
from stats import failed_fraction, median  # noqa: E402
from spans import RssSampler, SparkStatus, Tracer, load_avg_1m  # noqa: E402

WORKLOADS = ("lakehouse_batch", "stream_ingest")
#: Set-ups per run; set-up time is their median.
SETUPS = 3


def configure_environment(work: str, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit: the repo root
    on PYTHONPATH (workers import the package for applyInPandasWithState),
    and scratch, warehouse and temp dirs inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # no JVM writes outside the checkout: temp files go to work/tmp, and
    # the perf-counter file HotSpot would keep in /tmp is off
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        # the untraced run does not need the UI or its status store
        "spark.ui.enabled": str(trace).lower(),
    }
    if trace:
        # three slates already exceed the default retention of 1000 stages
        confs.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def set_up(nproc: int, warm):
    """Build the session and warm it: ``(spark, start_s, warmup_s)``."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def batch_warmer(data_dir: str):
    def warm(spark):
        from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry
        from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

        qs = registry.all_queries()
        for name in batch.WARMUP:
            qs[name](spark, data_dir).toPandas()
        clear_cache()

    return warm


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"error: package {PACKAGE}/ not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(work, trace)
    data_dir = os.path.join(work, "data")
    if args.workload != "stream_ingest":  # the stream makes its own event files
        datagen.write_tables(data_dir, args.seed)
    load_before = load_avg_1m()

    if args.workload == "stream_ingest":
        warm = stream.warmer(work, args.seed)
    else:
        warm = batch_warmer(data_dir)

    tracer = Tracer()
    report: dict = {}
    spark = None
    try:
        with RssSampler() as rss:
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, start_s, warm_s = set_up(nproc, warm)
                setups.append((start_s, warm_s))
            sc = spark.sparkContext
            if args.workload != "stream_ingest":
                # one untimed pass, so the timed passes run with warm JIT and codegen caches
                t = time.perf_counter()
                priming = batch.run_batch(spark, data_dir, args.seed + 1, 0, False)
                report["priming_pass_s"] = time.perf_counter() - t
            persisted_before = sc._jsc.getPersistentRDDs().size()

            if args.workload == "stream_ingest":
                res = stream.run_stream(spark, work, args.seed, args.seconds)
                e2e = stream.end_to_end(res)
                attempted, failed = res.attempted, res.failed
                wrong = stream.check(spark, res)
            else:
                res = batch.run_batch(spark, data_dir, args.seed, args.seconds, trace)
                e2e = batch.end_to_end(res)
                runs = priming.runs + res.runs
                attempted = len(runs)
                failed = sum(not r.ok for r in runs)
                from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

                wrong = gate.check_batch(res.outputs, registry.all_oracles(), data_dir)
                wrong.update({r.name: f"failed: {r.error}" for r in runs if not r.ok and r.name not in wrong})
                report["queries"] = {
                    name: round(median([r.wall for r in res.runs if r.name == name and r.ok] or [0.0]), 3)
                    for name in batch.SLATE
                }

            from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.shared_frames import clear_cache

            clear_cache()
            persisted_growth = sc._jsc.getPersistentRDDs().size() - persisted_before

            if trace:
                if args.workload == "stream_ingest":
                    layer = stream.per_layer(res, tracer)
                else:
                    layer = batch.per_layer(res, SparkStatus(spark), tracer, nproc)
    finally:
        shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    load_after = load_avg_1m()
    setup_s = median(a + b for a, b in setups)
    metrics = {
        "setup_s": (setup_s, "s"),
        "slate_wall_s": (e2e["slate_wall_s"], "s"),
        "latency_p50_s": (e2e["latency_p50_s"], "s"),
        "latency_tail_s": (e2e["latency_tail_s"], "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    if trace:
        layer.update({
            "session.start_s": median(a for a, _ in setups),
            "session.warmup_s": median(b for _, b in setups),
            "plans.persisted_rdd_growth": float(persisted_growth),
        })
        # a layer the workload does not run reads 0
        metrics = {k: (float(layer.get(k, 0.0)), unit) for k, unit in LAYER_UNITS.items()}
        tracer_path = os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(tracer_path)
        report["trace_file"] = os.path.relpath(tracer_path, ROOT)

    report.update({
        "workload": args.workload, "seed": args.seed, "nproc": nproc, "trace": trace,
        "load_1m_before": load_before, "load_1m_after": load_after,
        "host_noisy": max(load_before, load_after) > nproc,
        "setups_s": [round(a + b, 3) for a, b in setups],
        "ops_failed_frac": failed_fraction(failed, attempted),
        "wrong_results": len(wrong),
        "persisted_rdd_growth": persisted_growth,
        **{k: v for k, v in e2e.items() if k.startswith("_") or k not in metrics},
    })
    for name, reason in sorted(wrong.items()):
        print(f"WRONG {name}: {reason}")
    print("report " + json.dumps(report, default=str))
    for k, (v, unit) in metrics.items():
        print(f"{k:32s} {v:14.6f} {unit}")
    correct = not wrong and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0 if correct else 1


LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.exec_s": "s", "plans.exec_jobs": "count",
    "plans.stages": "count", "plans.tasks": "count", "plans.task_busy_share": "ratio",
    "plans.shuffle_read_bytes": "bytes", "plans.shuffle_write_bytes": "bytes", "plans.spill_bytes": "bytes",
    "plans.failed_tasks": "count", "plans.persisted_rdd_growth": "count",
    "sources.input_bytes": "bytes", "sources.input_records": "count", "sources.scan_run_s": "s",
    "ext.train_build_s": "s", "ext.train_jobs": "count", "ext.jobs_per_s": "1/s",
    "ext.python_exec_s": "s", "ext.python_queries": "count",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.batch_tail_s": "s",
    "streaming.addBatch_s": "s", "streaming.walCommit_s": "s", "streaming.queryPlanning_s": "s",
    "streaming.latestOffset_s": "s", "streaming.input_rows_per_s": "1/s",
    "streaming.processed_rows_per_s": "1/s", "streaming.sink_files": "count",
    "streaming.state_rows": "count", "streaming.state_memory_bytes": "bytes",
    "bench.generator_lag_s": "s", "bench.trace_overhead_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
