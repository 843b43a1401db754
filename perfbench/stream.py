"""The streaming workload: JSON event files through the bronze ingest
path and the stateful per-user profile stream.

1. Closed-loop drain, ``DRAINS`` times: ``DRAIN_FILES`` pre-staged
   files go through ``read_file_stream → stamp_bronze →
   start_append_sink(partition_by=["event_date"], available_now=True)``
   into a fresh sink. The drain time is the median of the repeats.
2. Open loop: one generator thread renames seeded files into the source
   directory, file ``i`` due at ``t0 + i / OPEN_FILES_PER_S``, whether or
   not the streams keep up. The bronze sink and ``running_user_profiles``
   (applyInPandasWithState) run concurrently on that source. A file's
   latency runs from its due time to the commit of the bronze
   micro-batch that wrote it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from stats import due_latencies, median, tail
from spans import Tracer, parse_spark_time

DRAINS = 3
DRAIN_FILES = 8
OPEN_FILES_PER_S = 8
EVENTS_PER_FILE = 250
#: files per micro-batch in the drain, so each drain runs several batches
DRAIN_FILES_PER_TRIGGER = 4
#: how long the streams may take to catch up after the last arrival
CATCH_UP_S = 60


@dataclass
class StreamResult:
    drain_events: int = 0  # per drain
    drain_walls: list = field(default_factory=list)
    drain_sinks: list = field(default_factory=list)  # (sink dir, generated event ids)
    drain_progress: list = field(default_factory=list)
    open_events: list = field(default_factory=list)  # per file: arrays of (event_id, user_id, cents)
    due: list = field(default_factory=list)
    sent: list = field(default_factory=list)
    bronze_progress: list = field(default_factory=list)
    profile_progress: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    dirs: dict = field(default_factory=dict)


def _write_file(path: str, table) -> None:
    """One JSON event per line, ``ts`` at whole seconds."""
    cols = table.to_pydict()
    with open(path, "w") as f:
        for i in range(table.num_rows):
            f.write(json.dumps({
                "event_id": cols["event_id"][i],
                "ts": cols["ts"][i].strftime("%Y-%m-%d %H:%M:%S"),
                "user_id": cols["user_id"][i],
                "event_type": cols["event_type"][i],
                "value": cols["value"][i],
                "props": cols["props"][i],
            }) + "\n")


def _stage(rng, out_dir: str, n_files: int, first_id: int) -> list[np.ndarray]:
    """Write ``n_files`` files into ``out_dir``; returns per-file
    (event_id, user_id, cents) arrays for the correctness check."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i in range(n_files):
        t = datagen.events_table(rng, EVENTS_PER_FILE, first_id + i * EVENTS_PER_FILE)
        _write_file(os.path.join(out_dir, f"part-{i:05d}.json"), t)
        files.append(np.stack([
            t["event_id"].to_numpy(), t["user_id"].to_numpy(),
            np.round(t["value"].to_numpy() * 100).astype("int64"),
        ], axis=1))
    return files


def _bronze(spark, src: str, sink: str, ckpt: str, available_now: bool, per_trigger: int | None = None):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
        read_file_stream, stamp_bronze, start_append_sink,
    )

    return start_append_sink(
        stamp_bronze(read_file_stream(spark, src, max_files_per_trigger=per_trigger)),
        sink, ckpt, partition_by=["event_date"], available_now=available_now,
    )


def _profiles(spark, src: str, ckpt: str, name: str, available_now: bool):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import read_file_stream
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import running_user_profiles

    w = (running_user_profiles(read_file_stream(spark, src)).writeStream.format("memory")
         .queryName(name).outputMode("update").option("checkpointLocation", ckpt))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def warmer(work: str, seed: int):
    """Set-up warm-up: one file through the stateful stream (available-now),
    which loads the streaming classes and starts the Python workers. The
    first of the repeated drains warms the bronze sink path."""
    counter = itertools.count()

    def warm(spark):
        k = next(counter)
        d = os.path.join(work, f"warm{k}")
        _stage(np.random.default_rng(seed + 1000 + k), os.path.join(d, "src"), 1, 0)
        q = _profiles(spark, os.path.join(d, "src"), os.path.join(d, "ck"), f"warm_profiles_{k}", True)
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(f"warm-up stream failed: {q.exception()}")

    return warm


def _generator(res: StreamResult, stage_dir: str, src_dir: str, t0: float, n_files: int) -> None:
    """The only generator thread: renames file ``i`` into the source at
    its due time. It never waits for the streams."""
    for i in range(n_files):
        due = t0 + i / OPEN_FILES_PER_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"part-{i:05d}.json"
        os.rename(os.path.join(stage_dir, name), os.path.join(src_dir, name))
        res.due.append(due)
        res.sent.append(time.time())


def _stop_collect(q, sink: list, res: StreamResult) -> None:
    """Stop ``q``; append its input-bearing micro-batches' progress to
    ``sink`` and count them, plus one failed micro-batch if it raised."""
    batches = [p for p in (json.loads(p.json) for p in q.recentProgress) if p["numInputRows"] > 0]
    sink.extend(batches)
    res.attempted += len(batches)
    if q.exception() is not None:
        res.failed += 1
        res.attempted += 1
        res.errors.append(str(q.exception())[:300])
    q.stop()


def run_stream(spark, work: str, seed: int, seconds: float) -> StreamResult:
    rng = np.random.default_rng(seed)
    res = StreamResult()
    d = res.dirs = {k: os.path.join(work, k) for k in ("stage", "src", "sink", "ck_bronze", "ck_profiles")}

    # 1. closed-loop drains
    res.drain_events = DRAIN_FILES * EVENTS_PER_FILE
    for k in range(DRAINS):
        src, sink = os.path.join(work, f"drain{k}_src"), os.path.join(work, f"drain{k}_sink")
        files = _stage(rng, src, DRAIN_FILES, k * res.drain_events)
        t = time.perf_counter()
        q = _bronze(spark, src, sink, os.path.join(work, f"drain{k}_ck"), True, DRAIN_FILES_PER_TRIGGER)
        q.awaitTermination(CATCH_UP_S * 2)
        res.drain_walls.append(time.perf_counter() - t)
        _stop_collect(q, res.drain_progress, res)
        res.drain_sinks.append((sink, np.concatenate(files)[:, 0]))

    # 2. open loop at a fixed arrival rate
    n_open = max(1, int(seconds * OPEN_FILES_PER_S))
    res.open_events = _stage(rng, d["stage"], n_open, DRAINS * res.drain_events)
    os.makedirs(d["src"], exist_ok=True)
    bronze = _bronze(spark, d["src"], d["sink"], d["ck_bronze"], False)
    profiles = _profiles(spark, d["src"], d["ck_profiles"], "bench_profiles", False)
    gen = threading.Thread(target=_generator, name="generator",
                           args=(res, d["stage"], d["src"], time.time() + 0.5, n_open))
    gen.start()
    gen.join()
    total = n_open * EVENTS_PER_FILE
    deadline = time.time() + CATCH_UP_S
    while time.time() < deadline:
        done = [sum(p.numInputRows for p in (q.recentProgress or [])) >= total for q in (bronze, profiles)]
        if all(done) or bronze.exception() or profiles.exception():
            break
        time.sleep(0.05)
    _stop_collect(bronze, res.bronze_progress, res)
    _stop_collect(profiles, res.profile_progress, res)
    res.latencies = _latencies(spark, res)
    return res


def _spark_ts(s: str) -> float:
    return parse_spark_time(s.replace("Z", "GMT"))


def _latencies(spark, res: StreamResult) -> list[float]:
    """Due-to-commit latency per open-loop file. Each sink row carries
    its micro-batch's ``_bronze_loaded_at``; the distinct stamps, in
    order, are the input-bearing micro-batches in order, whose commit
    is progress ``timestamp`` + ``triggerExecution``."""
    from pyspark.sql import functions as F

    rows = (spark.read.parquet(res.dirs["sink"])
            .groupBy("_bronze_loaded_at").agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi"),
                                              F.count(F.lit(1)).alias("n"))
            .orderBy("_bronze_loaded_at").collect())
    progress = sorted(res.bronze_progress, key=lambda p: p["batchId"])
    if len(rows) != len(progress) or any(r["n"] != p["numInputRows"] for r, p in zip(rows, progress)):
        raise RuntimeError("sink batches do not line up with the bronze query's progress")
    commits = [(r["lo"], r["hi"], _spark_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
               for r, p in zip(rows, progress)]
    due, committed = [], []
    for ev, d in zip(res.open_events, res.due):
        c = next((c for lo, hi, c in commits if lo <= ev[0, 0] <= hi), None)
        if c is None:  # a file never written: a failed arrival, not a sample
            res.failed += 1
            res.attempted += 1
        else:
            due.append(d)
            committed.append(c)
    return due_latencies(due, committed)


def check(spark, res: StreamResult) -> dict[str, str]:
    """Sink row counts equal the generated events; the stateful stream's
    final per-user totals equal the same totals computed in batch."""
    wrong = {}
    sinks = [(f"drain{k}_sink", path, ids) for k, (path, ids) in enumerate(res.drain_sinks)]
    for name, path, want in sinks + [("open_sink", res.dirs["sink"], np.concatenate(res.open_events)[:, 0])]:
        n, distinct = spark.read.parquet(path).selectExpr("count(*)", "count(distinct event_id)").first()
        if n != len(want) or distinct != len(want):
            wrong[name] = f"{n} rows ({distinct} distinct ids), expected {len(want)}"
    ev = np.concatenate(res.open_events)
    want_totals: dict[int, tuple[int, int]] = {}
    for _, user, cents in ev:
        c, s = want_totals.get(int(user), (0, 0))
        want_totals[int(user)] = (c + 1, s + int(cents))
    got = {}
    for r in spark.table("bench_profiles").collect():
        if r["user_id"] not in got or r["total_events"] > got[r["user_id"]][0]:
            got[r["user_id"]] = (r["total_events"], r["total_value"])
    expected = {u: (c, s / 100.0) for u, (c, s) in want_totals.items()}
    if got != expected:
        bad = sorted(u for u in set(got) | set(expected) if got.get(u) != expected.get(u))
        wrong["profiles"] = f"{len(bad)} users differ, e.g. user {bad[0]}: {got.get(bad[0])} vs {expected.get(bad[0])}"
    return wrong


def end_to_end(res: StreamResult) -> dict:
    value, pct, n = tail(res.latencies)
    return {
        "slate_wall_s": median(res.drain_walls),
        "latency_p50_s": median(res.latencies),
        "latency_tail_s": value,
        "_tail_pct": pct,
        "_samples": n,
        "_drain_events": res.drain_events,
        "_stream_drain_eps": res.drain_events / median(res.drain_walls),
        "_drain_walls_s": [round(w, 3) for w in res.drain_walls],
        "_open_rate_events_per_s": OPEN_FILES_PER_S * EVENTS_PER_FILE,
        "_generator_lag_max_s": max(s - d for s, d in zip(res.sent, res.due)),
    }


def per_layer(res: StreamResult, tracer: Tracer) -> dict:
    open_batches = res.bronze_progress + res.profile_progress
    every = res.drain_progress + open_batches
    run = tracer.add("run:stream_ingest", min(_spark_ts(p["timestamp"]) for p in every), max(
        _spark_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0 for p in every))
    for label, batches in (("drain", res.drain_progress), ("bronze", res.bronze_progress),
                           ("profiles", res.profile_progress)):
        for p in batches:
            s = _spark_ts(p["timestamp"])
            tracer.add(f"microbatch:{label}:{p['batchId']}", s, s + p["durationMs"]["triggerExecution"] / 1000.0,
                       run, rows=p["numInputRows"], durations_ms=p["durationMs"])
    dur = [p["durationMs"]["triggerExecution"] / 1000.0 for p in open_batches]
    part = lambda k: sum(p["durationMs"].get(k, 0) for p in open_batches) / 1000.0  # noqa: E731
    state = (res.profile_progress[-1]["stateOperators"] or [{}])[0] if res.profile_progress else {}
    sink_files = sum(f.endswith(".parquet") for sink, _ in res.drain_sinks for _, _, fs in os.walk(sink) for f in fs)
    return {
        "streaming.batches": float(len(res.bronze_progress)),
        "streaming.batch_p50_s": median(dur),
        "streaming.batch_tail_s": tail(dur)[0],
        "streaming.addBatch_s": part("addBatch"),
        "streaming.walCommit_s": part("walCommit"),
        "streaming.queryPlanning_s": part("queryPlanning"),
        "streaming.latestOffset_s": part("latestOffset"),
        "streaming.input_rows_per_s": median(p["inputRowsPerSecond"] for p in res.drain_progress),
        "streaming.processed_rows_per_s": median(p["processedRowsPerSecond"] for p in res.drain_progress),
        "streaming.sink_files": float(sink_files),
        "streaming.state_rows": float(state.get("numRowsTotal", 0)),
        "streaming.state_memory_bytes": float(state.get("memoryUsedBytes", 0)),
        "bench.generator_lag_s": max(s - d for s, d in zip(res.sent, res.due)),
    }
