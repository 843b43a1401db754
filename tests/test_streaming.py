"""Structured Streaming tests — deterministic file micro-batches.

Stream-only semantics (watermark late-drop, checkpointed append,
foreachBatch merge) aren't DuckDB-oracle-checkable (SURVEY §7 risks);
these tests drive them with known file sequences instead.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
    EVENTS_SCHEMA,
    read_file_stream,
    stamp_bronze,
    start_append_sink,
    start_foreach_batch_merge,
    tumbling_agg,
    with_watermark,
)


def _write_json(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _ev(i, ts, user=1, etype="click", value=1.0):
    return {
        "event_id": i, "ts": ts, "user_id": user,
        "event_type": etype, "value": value, "props": "{}",
    }


def test_stream_tumbling_matches_batch(spark, tmp_path):
    """The tumbling plan produces identical results via writeStream
    and via plain batch execution (same-plan guarantee behind
    q_stream_tumbling's batch oracle)."""
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        _ev(1, "2024-01-01 10:05:00"),
        _ev(2, "2024-01-01 10:50:00"),
        _ev(3, "2024-01-01 11:10:00"),
        _ev(4, "2024-01-01 11:20:00"),
    ]
    _write_json(str(src / "a.json"), rows, time.time())

    stream = tumbling_agg(read_file_stream(spark, str(src)), "1 hour")
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_smoke")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"].isoformat(): r["n_events"]
        for r in spark.table("tumbling_smoke").collect()
    }
    batch = tumbling_agg(spark.read.schema(EVENTS_SCHEMA).json(str(src)), "1 hour")
    want = {r["window_start"].isoformat(): r["n_events"] for r in batch.collect()}
    assert got == want == {"2024-01-01T10:00:00": 2, "2024-01-01T11:00:00": 2}


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a 10-min watermark: a row
    arriving after the watermark passed its window end is dropped
    (the SYSTEM_DESIGN.md:364-371 behavior the reference never
    shipped). Two micro-batches via maxFilesPerTrigger=1."""
    src = tmp_path / "late_src"
    src.mkdir()
    now = time.time()
    # mb0: two rows in [10:00, 11:00) and one at 12:30 → watermark
    # advances to 12:20, past the 11:00 window end.
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:05:00"), _ev(2, "2024-01-01 10:50:00"),
         _ev(3, "2024-01-01 12:30:00")],
        now - 120,
    )
    # mb1: fresh row only; the [10,11) window finalizes (emit 2) here
    # because Spark's late-event filter lags the eviction watermark by
    # one batch (watermarkForLateEvents = previous batch's watermark).
    _write_json(str(src / "b2.json"), [_ev(5, "2024-01-01 12:40:00")], now - 60)
    # mb2: a LATE row for the closed window + a fresh row. Without the
    # watermark drop this would re-open [10,11) and append-emit a
    # spurious second row for that window.
    _write_json(
        str(src / "b3.json"),
        [_ev(4, "2024-01-01 10:55:00"), _ev(6, "2024-01-01 12:50:00")],
        now,
    )
    stream = tumbling_agg(
        with_watermark(read_file_stream(spark, str(src), max_files_per_trigger=1)),
        "1 hour",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("late_drop").collect()
    emitted = [(r["window_start"].isoformat(), r["n_events"]) for r in rows]
    # The 10:00 window finalized ONCE with 2 rows — late event 4 was
    # dropped and did not re-open the window.
    assert emitted.count(("2024-01-01T10:00:00", 2)) == 1
    assert len([e for e in emitted if e[0] == "2024-01-01T10:00:00"]) == 1
    # The 12:00 window never finalized (watermark never passed 13:00).
    assert all(e[0] != "2024-01-01T12:00:00" for e in emitted)


def test_bronze_append_sink_and_stamping(spark, tmp_path):
    """End-to-end bronze: file stream → stamp → partitioned append
    sink with checkpoint (ingest_stream.py:84-114 semantics)."""
    src, out, ckpt = tmp_path / "s", tmp_path / "bronze", tmp_path / "ckpt"
    src.mkdir()
    _write_json(
        str(src / "a.json"),
        [_ev(1, "2024-01-01 10:05:00"), _ev(2, "2024-01-02 09:00:00")],
        time.time(),
    )
    stamped = stamp_bronze(read_file_stream(spark, str(src)))
    q = start_append_sink(
        stamped, str(out), str(ckpt), partition_by=["event_date"], available_now=True
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert {r["event_date"].isoformat() for r in got.select("event_date").collect()} == {
        "2024-01-01", "2024-01-02",
    }
    assert got.filter(F.col("_source_system") == "events-stream").count() == 2
    # Partition directories exist → event-date pruning works on read.
    assert (out / "event_date=2024-01-01").exists()


@pytest.mark.parametrize("partitioned", [True, False], ids=["partitioned", "unpartitioned"])
def test_append_sink_writes_one_file_per_partition_value(spark, tmp_path, capsys, partitioned):
    """One micro-batch of 4 files (4 scan tasks), each holding one
    event on each of 3 dates. The partitioned sink hash-repartitions
    by event_date first, so each date gets ONE file, not one per scan
    task (4); the unpartitioned sink keeps its shuffle-free plan."""
    src, out, ckpt = tmp_path / "s", tmp_path / "bronze", tmp_path / "ckpt"
    src.mkdir()
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    now = time.time()
    for f in range(4):
        _write_json(
            str(src / f"f{f}.json"),
            [_ev(10 * f + d, f"{day} 12:00:00") for d, day in enumerate(days)],
            now,
        )
    q = start_append_sink(
        stamp_bronze(read_file_stream(spark, str(src), max_files_per_trigger=4)),
        str(out),
        str(ckpt),
        partition_by=["event_date"] if partitioned else None,
        available_now=True,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert spark.read.parquet(str(out)).count() == 12
    q.explain()
    plan = capsys.readouterr().out
    if partitioned:
        files = {
            day: sum(p.endswith(".parquet") for p in os.listdir(out / f"event_date={day}"))
            for day in days
        }
        assert files == dict.fromkeys(days, 1)
        assert "Exchange" in plan, plan
    else:
        assert "Exchange" not in plan, plan


def test_session_windows_in_stream(spark, tmp_path):
    """Gap-based session windows under writeStream (the batch form is
    oracle-checked as q_session_window): a 5-min gap splits a user's
    events into sessions; sessions finalize (append-emit) once the
    watermark passes their end."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import session_agg

    src = tmp_path / "sess_src"
    src.mkdir()
    now = time.time()
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:00:00", user=7),
         _ev(2, "2024-01-01 10:02:00", user=7),   # same session (gap < 5m)
         _ev(3, "2024-01-01 10:30:00", user=7),   # new session
         _ev(4, "2024-01-01 11:00:00", user=1)],  # advances watermark
        now - 60,
    )
    # second batch pushes the watermark far enough to finalize all
    # user-7 sessions (late-filter lags one batch behind eviction).
    _write_json(str(src / "b2.json"), [_ev(5, "2024-01-01 11:30:00", user=1)], now)
    stream = session_agg(
        with_watermark(read_file_stream(spark, str(src), max_files_per_trigger=1)),
        gap="5 minutes",
        keys=["user_id"],
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["session_start"].isoformat(), r["session_end"].isoformat(), r["n_events"])
        for r in spark.table("sessions").collect()
        if r["user_id"] == 7
    )
    assert got == [
        (7, "2024-01-01T10:00:00", "2024-01-01T10:07:00", 2),
        (7, "2024-01-01T10:30:00", "2024-01-01T10:35:00", 1),
    ]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """S6's exactly-once contract: stop a checkpointed query, add new
    input, restart with the SAME checkpoint — already-committed files
    are not reprocessed, new files are, nothing duplicates."""
    src, out, ckpt = tmp_path / "rsrc", tmp_path / "rout", tmp_path / "rck"
    src.mkdir()
    _write_json(str(src / "b1.json"), [_ev(1, "2024-01-01 10:00:00"),
                                       _ev(2, "2024-01-01 10:01:00")], time.time())

    def run_once():
        q = start_append_sink(
            stamp_bronze(read_file_stream(spark, str(src))),
            str(out), str(ckpt), available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(out)).count() == 2
    # second input lands while the query is DOWN
    _write_json(str(src / "b2.json"), [_ev(3, "2024-01-01 10:02:00")], time.time())
    run_once()  # restart from checkpoint
    ids = sorted(
        r["event_id"] for r in spark.read.parquet(str(out)).select("event_id").collect()
    )
    assert ids == [1, 2, 3]  # 1,2 not reprocessed; 3 picked up


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dedup_stream: a duplicate event_id arriving in a later
    micro-batch (within the watermark horizon) is dropped."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import dedup_stream

    src = tmp_path / "dsrc"
    src.mkdir()
    now = time.time()
    _write_json(str(src / "b1.json"), [_ev(1, "2024-01-01 10:00:00"),
                                       _ev(2, "2024-01-01 10:00:30")], now - 60)
    _write_json(str(src / "b2.json"), [_ev(1, "2024-01-01 10:00:00"),   # dup of 1
                                       _ev(3, "2024-01-01 10:01:00")], now)
    deduped = dedup_stream(
        with_watermark(read_file_stream(spark, str(src), max_files_per_trigger=1),
                       delay="1 hour"),
        ["event_id"],
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.table("dedup_smoke").collect())
    assert ids == [1, 2, 3]


def test_multi_stream_concurrency(spark, tmp_path):
    """S7 (`ingest_stream.py:126-138`): N independent streams run
    concurrently in one session; the driver awaits them as a group.
    Two file streams → two sinks, both drain under availableNow."""
    outs = []
    for topic in ("orders_t", "payments_t"):
        src = tmp_path / f"src_{topic}"
        src.mkdir()
        _write_json(
            str(src / "a.json"),
            [_ev(1, "2024-01-01 10:00:00", etype=topic),
             _ev(2, "2024-01-01 11:00:00", etype=topic)],
            time.time(),
        )
        out, ckpt = tmp_path / f"out_{topic}", tmp_path / f"ck_{topic}"
        q = start_append_sink(
            stamp_bronze(read_file_stream(spark, str(src)), source_system=topic),
            str(out), str(ckpt), available_now=True,
        )
        outs.append((topic, out, q))
    for _, _, q in outs:
        q.awaitTermination(120)
    for topic, out, _ in outs:
        got = spark.read.parquet(str(out))
        assert got.count() == 2
        assert got.filter(F.col("_source_system") == topic).count() == 2


def test_stateful_running_profiles(spark, tmp_path):
    """applyInPandasWithState: per-user totals accumulate across
    micro-batches (state survives batch boundaries and new keys join
    cleanly)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles,
    )

    src = tmp_path / "state_src"
    src.mkdir()
    now = time.time()
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:00:00", user=7, value=2.0),
         _ev(2, "2024-01-01 10:01:00", user=7, value=3.0),
         _ev(3, "2024-01-01 10:02:00", user=9, value=5.0)],
        now - 60,
    )
    _write_json(
        str(src / "b2.json"),
        [_ev(4, "2024-01-01 11:00:00", user=7, value=10.0),
         _ev(5, "2024-01-01 11:01:00", user=11, value=1.0)],
        now,
    )
    out = running_user_profiles(
        read_file_stream(spark, str(src), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r["user_id"], r["batch_events"], r["total_events"], r["total_value"])
        for r in spark.table("profiles").collect()
    ]
    assert (7, 2, 2, 5.0) in rows          # user 7 after batch 1
    assert (7, 1, 3, 15.0) in rows         # user 7 after batch 2 (state carried)
    assert (9, 1, 1, 5.0) in rows          # user 9, batch 1 only
    assert (11, 1, 1, 1.0) in rows         # new key in batch 2


def test_stateful_batch_twin(spark, tmp_path):
    """The applyInPandas batch twin replays the applyInPandasWithState
    stream exactly: feeding one month per micro-batch, the stream's
    per-(user, batch) running totals equal the batch twin's
    per-(user, month) rows — the same-state-machine guarantee behind
    q_stateful_profile's batch oracle."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles,
        running_user_profiles_batch,
    )

    src = tmp_path / "twin_src"
    src.mkdir()
    now = time.time()
    jan = [
        _ev(1, "2024-01-05 10:00:00", user=7, value=2.25),
        _ev(2, "2024-01-06 10:01:00", user=7, value=3.10),
        _ev(3, "2024-01-07 10:02:00", user=9, value=5.00),
    ]
    feb = [
        _ev(4, "2024-02-01 11:00:00", user=7, value=10.40),
        _ev(5, "2024-02-02 11:01:00", user=11, value=1.99),
        _ev(6, "2024-02-03 11:02:00", user=9, value=0.01),
    ]
    _write_json(str(src / "b1.json"), jan, now - 60)
    _write_json(str(src / "b2.json"), feb, now)

    out = running_user_profiles(
        read_file_stream(spark, str(src), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("twin_profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r["user_id"], r["batch_events"], r["total_events"], r["total_value"])
        for r in spark.table("twin_profiles").collect()
    }

    from datetime import datetime

    batch_df = spark.createDataFrame(
        [
            tuple(
                datetime.fromisoformat(v) if k == "ts" else v
                for k, v in e.items()
            )
            for e in jan + feb
        ],
        schema=EVENTS_SCHEMA,
    )
    twin = running_user_profiles_batch(
        batch_df, F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM")
    )
    twin_rows = {
        (r["user_id"], r["batch_events"], r["total_events"], r["total_value"])
        for r in twin.collect()
    }
    assert stream_rows == twin_rows
    assert (7, 1, 3, 15.75) in twin_rows  # exact cents: 2.25+3.10+10.40


def test_mg_stream_equals_batch_twin(spark, tmp_path):
    """Misra-Gries heavy hitters: the applyInPandasWithState stream
    (one MG merge per micro-batch, O(k) state per shard) and the
    batch twin replaying the same batch structure produce IDENTICAL
    final summaries — and the summary under-counts every item by at
    most total/(k+1). k=2 with 4 distinct event types forces real
    decrements in every batch."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        heavy_hitters_batch,
        running_heavy_hitters,
    )

    src = tmp_path / "mg_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-05 10:00:00", user=1, etype="click"),
         _ev(2, "2024-01-05 10:01:00", user=1, etype="click"),
         _ev(3, "2024-01-05 10:02:00", user=1, etype="view"),
         _ev(4, "2024-01-05 10:03:00", user=2, etype="purchase")],
        [_ev(5, "2024-02-05 11:00:00", user=1, etype="click"),
         _ev(6, "2024-02-05 11:01:00", user=1, etype="refund"),
         _ev(7, "2024-02-05 11:02:00", user=1, etype="view"),
         _ev(8, "2024-02-05 11:03:00", user=2, etype="purchase")],
        [_ev(9, "2024-03-05 12:00:00", user=1, etype="view"),
         _ev(10, "2024-03-05 12:01:00", user=1, etype="view"),
         _ev(11, "2024-03-05 12:02:00", user=2, etype="refund")],
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 60 * (len(batches) - i))

    out = running_heavy_hitters(
        read_file_stream(spark, str(src), max_files_per_trigger=1), k=2
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mg_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("mg_stream").collect()
    final = {}
    for r in rows:  # latest (max total_rows) emission per shard
        if r["shard"] not in final or r["total_rows"] > final[r["shard"]]["total_rows"]:
            final[r["shard"]] = r
    stream_rows = {
        (r["shard"], r["total_rows"], tuple(r["items"]), tuple(r["counts"]))
        for r in final.values()
    }

    from datetime import datetime

    batch_df = spark.createDataFrame(
        [
            tuple(datetime.fromisoformat(v) if k == "ts" else v for k, v in e.items())
            for b in batches
            for e in b
        ],
        schema=EVENTS_SCHEMA,
    )
    twin = heavy_hitters_batch(
        batch_df, F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM"), k=2
    )
    twin_rows = {
        (r["shard"], r["total_rows"], tuple(r["items"]), tuple(r["counts"]))
        for r in twin.collect()
    }
    assert stream_rows == twin_rows

    # MG error law on the final summaries: estimate ≤ exact, and
    # every item's under-count (tracked or not) ≤ total/(k+1).
    from collections import Counter

    for shard, row in final.items():
        exact = Counter(
            e["event_type"] for b in batches for e in b if e["user_id"] % 4 == shard
        )
        summary = dict(zip(row["items"], row["counts"]))
        assert len(summary) <= 2
        bound = row["total_rows"] / (2 + 1)
        for item, c in exact.items():
            est = summary.get(item, 0)
            assert est <= c, (shard, item)
            assert c - est <= bound, (shard, item, c, est, bound)


def test_value_histogram_stream_equals_batch(spark, tmp_path):
    """Streaming decimal log-histogram: because histogram merge is a
    pure function of the multiset, the stream's final per-shard state
    must equal the one-shot JVM batch build EXACTLY — buckets,
    counts, and total — regardless of how micro-batches split the
    feed (the strongest stream≡batch law: no error band, no order
    sensitivity)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_value_histogram,
        value_histogram_batch,
    )

    src = tmp_path / "qh_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-05 10:00:00", user=1, value=12.34),
         _ev(2, "2024-01-05 10:01:00", user=1, value=12.99),
         _ev(3, "2024-01-05 10:02:00", user=2, value=0.05),   # cents 5 < 10 → dropped
         _ev(4, "2024-01-05 10:03:00", user=2, value=130.00)],
        [_ev(5, "2024-02-05 11:00:00", user=1, value=1.27),
         _ev(6, "2024-02-05 11:01:00", user=2, value=130.55),
         _ev(7, "2024-02-05 11:02:00", user=1, value=12.50)],
        [_ev(8, "2024-03-05 12:00:00", user=2, value=9.99),
         _ev(9, "2024-03-05 12:01:00", user=1, value=0.11)],
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 60 * (len(batches) - i))

    out = running_value_histogram(
        read_file_stream(spark, str(src), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("qh_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.table("qh_stream").collect():
        if r["shard"] not in final or r["total_rows"] > final[r["shard"]]["total_rows"]:
            final[r["shard"]] = r
    stream_rows = {
        (r["shard"], r["total_rows"], tuple(r["buckets"]), tuple(r["counts"]))
        for r in final.values()
    }

    from datetime import datetime

    batch_df = spark.createDataFrame(
        [
            tuple(datetime.fromisoformat(v) if k == "ts" else v for k, v in e.items())
            for b in batches
            for e in b
        ],
        schema=EVENTS_SCHEMA,
    )
    twin_rows = {
        (r["shard"], r["total_rows"], tuple(r["buckets"]), tuple(r["counts"]))
        for r in value_histogram_batch(batch_df).collect()
    }
    assert stream_rows == twin_rows
    # spot-check the bucketing itself: user 1 (shard 1) saw cents
    # 1234, 1299, 127, 1250, 11 → buckets 1200 (x3), 120, 11
    shard1 = next(r for r in final.values() if r["shard"] == 1)
    assert dict(zip(shard1["buckets"], shard1["counts"])) == {11: 1, 120: 1, 1200: 3}


def test_stateful_state_expiry(spark, tmp_path):
    """EventTimeTimeout state expiry — the 100 TB state-store OOM
    guard: a key abandoned for longer than expire_after_ms of EVENT
    time (as measured by the watermark) has its state DROPPED, and a
    later event for that key re-creates state from zero. The same
    feed under NoTimeout keeps the state and keeps accumulating —
    asserting both directions proves expiry (not just absence of
    output) caused the reset."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_user_profiles,
    )

    def feed(name: str) -> str:
        src = tmp_path / name
        src.mkdir()
        now = time.time()
        # b1: users 1 and 2 at 10:00. user 1 then goes silent.
        _write_json(
            str(src / "b1.json"),
            [_ev(1, "2024-01-01 10:00:00", user=1, value=2.0),
             _ev(2, "2024-01-01 10:00:00", user=2, value=1.0)],
            now - 90,
        )
        # b2: user 2 at 11:30 → watermark(10m) advances to 11:20,
        # past user 1's armed stamp 10:00 + 30 min = 10:30.
        _write_json(
            str(src / "b2.json"),
            [_ev(3, "2024-01-01 11:30:00", user=2, value=1.0)],
            now - 60,
        )
        # b3: filler — the timeout FIRES while processing this batch
        # (Spark times out keys against the PREVIOUS batch's
        # watermark), dropping user 1's state.
        _write_json(
            str(src / "b3.json"),
            [_ev(4, "2024-01-01 11:31:00", user=2, value=1.0)],
            now - 30,
        )
        # b4: user 1 returns → state must be FRESH under expiry.
        _write_json(
            str(src / "b4.json"),
            [_ev(5, "2024-01-01 11:40:00", user=1, value=7.0)],
            now,
        )
        return str(src)

    def run(src: str, qname: str, expire_ms):
        out = running_user_profiles(
            with_watermark(read_file_stream(spark, src, max_files_per_trigger=1)),
            expire_after_ms=expire_ms,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            (r["user_id"], r["batch_events"], r["total_events"], r["total_value"])
            for r in spark.table(qname).collect()
        ]

    expired = run(feed("exp_src"), "profiles_expiring", 30 * 60 * 1000)
    # user 1's return row: state was dropped at timeout, so totals
    # restart at this one event instead of carrying (2, 4.0).
    assert (1, 1, 1, 7.0) in expired
    assert (1, 1, 2, 9.0) not in expired
    # user 2 stayed active (each batch re-arms its timeout): carried.
    assert (2, 1, 3, 3.0) in expired

    kept = run(feed("noexp_src"), "profiles_noexpiry", None)
    # same feed, NoTimeout: user 1's state survives the silence.
    assert (1, 1, 2, 9.0) in kept
    assert (1, 1, 1, 7.0) not in kept


def test_foreach_batch_merge_upserts(spark, tmp_path):
    """Streaming-silver: two micro-batches of upserts land in the
    target with latest-per-key semantics and idempotent keys."""
    src, tgt, ckpt = tmp_path / "s2", tmp_path / "silver", tmp_path / "ckpt2"
    src.mkdir()
    now = time.time()
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:00:00", value=1.0), _ev(2, "2024-01-01 10:01:00", value=2.0)],
        now - 60,
    )
    _write_json(
        str(src / "b2.json"),
        # update for key 1 (later ts) + new key 3
        [_ev(1, "2024-01-01 11:00:00", value=10.0), _ev(3, "2024-01-01 11:01:00", value=3.0)],
        now,
    )
    q = start_foreach_batch_merge(
        read_file_stream(spark, str(src), max_files_per_trigger=1),
        spark,
        str(tgt),
        keys=["event_id"],
        checkpoint=str(ckpt),
        order_col="ts",
        available_now=True,
    )
    q.awaitTermination(120)
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(str(tgt)).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 3.0}


def test_concurrent_multi_stream_ingest(spark, tmp_path):
    """S7 — two file streams (the reference's 6-Kafka-topic analog)
    run CONCURRENTLY through the full bronze pipeline into separate
    checkpointed sinks; await_streams blocks on both and surfaces
    per-stream failures. Both sinks must land every row, partitioned
    by event_date."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
        await_streams,
        start_concurrent_ingest,
    )

    now = time.time()
    sources = {}
    for topic, n_rows in [("clicks", 5), ("payments", 3)]:
        src = tmp_path / f"src_{topic}"
        src.mkdir()
        _write_json(
            str(src / "a.json"),
            [_ev(i, f"2024-01-0{1 + i % 2} 10:00:0{i}") for i in range(n_rows)],
            now,
        )
        bronze = stamp_bronze(
            read_file_stream(spark, str(src)), source_system=f"{topic}-stream"
        )
        sources[topic] = (
            bronze,
            str(tmp_path / f"bronze_{topic}"),
            str(tmp_path / f"ckpt_{topic}"),
        )

    queries = start_concurrent_ingest(spark, sources)
    assert len(queries) == 2  # both running from one driver
    await_streams(spark, queries)

    clicks = spark.read.parquet(str(tmp_path / "bronze_clicks"))
    payments = spark.read.parquet(str(tmp_path / "bronze_payments"))
    assert clicks.count() == 5 and payments.count() == 3
    assert set(r["_source_system"] for r in clicks.select("_source_system").distinct().collect()) == {"clicks-stream"}
    assert "event_date" in clicks.columns


def test_await_streams_raises_on_stream_failure(spark, tmp_path):
    """await_streams must re-raise a stream's exception (the
    awaitAnyTermination contract) instead of swallowing it."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import await_streams

    class _DeadQuery:
        def awaitTermination(self, timeout=None):
            return True

        def exception(self):
            return RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="stream 'bad' failed"):
        await_streams(spark, {"bad": _DeadQuery()})


def test_stream_stream_join_within_watermark(spark, tmp_path):
    """Stream-stream inner join with event-time range condition — the
    Structured Streaming capability a fraud pipeline needs to pair a
    click stream with a payment stream (reference pairs them in batch
    silver; the streaming form bounds both sides' state with
    watermarks). Clicks join payments of the same user within
    [click, click + 10 min]."""
    clicks_src = tmp_path / "ss_clicks"
    pays_src = tmp_path / "ss_pays"
    clicks_src.mkdir()
    pays_src.mkdir()
    now = time.time()
    _write_json(
        str(clicks_src / "c.json"),
        [
            _ev(1, "2024-01-01 10:00:00", user=7, etype="click"),
            _ev(2, "2024-01-01 11:00:00", user=7, etype="click"),
            _ev(3, "2024-01-01 10:00:00", user=9, etype="click"),
        ],
        now,
    )
    _write_json(
        str(pays_src / "p.json"),
        [
            _ev(100, "2024-01-01 10:05:00", user=7, etype="payment", value=50.0),
            _ev(101, "2024-01-01 12:30:00", user=7, etype="payment", value=60.0),
            _ev(102, "2024-01-01 10:20:00", user=9, etype="payment", value=70.0),
        ],
        now,
    )
    clicks = (
        read_file_stream(spark, str(clicks_src))
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    pays = (
        read_file_stream(spark, str(pays_src))
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("pay_id"),
            F.col("user_id"),
            F.col("ts").alias("pay_ts"),
            F.col("value"),
        )
    )
    joined = clicks.join(
        pays,
        (clicks["user_id"] == pays["user_id"])
        & (pays["pay_ts"] >= clicks["click_ts"])
        & (pays["pay_ts"] <= clicks["click_ts"] + F.expr("INTERVAL 10 MINUTES")),
    ).select("click_id", "pay_id", "value")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["click_id"], r["pay_id"]) for r in spark.table("ss_join").collect()}
    # click1→pay100 (5 min), click3→pay102 would be 20 min — outside range;
    # click2 has no payment within 10 min (pay101 is 90 min later).
    assert got == {(1, 100)}


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join — the bronze→silver enrichment shape: each
    micro-batch joins against a static dimension (no state, no
    watermark needed on the static side; Spark re-plans the static
    side per batch, so a Delta dim picks up updates between batches)."""
    src = tmp_path / "enrich_src"
    src.mkdir()
    _write_json(
        str(src / "a.json"),
        [_ev(1, "2024-01-01 10:00:00", user=7), _ev(2, "2024-01-01 10:01:00", user=9)],
        time.time(),
    )
    dim = spark.createDataFrame(
        [(7, "gold"), (9, "basic")], "user_id LONG, tier STRING"
    )
    enriched = read_file_stream(spark, str(src)).join(dim, "user_id")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["event_id"], r["tier"]) for r in spark.table("enrich_join").collect()}
    assert got == {(1, "gold"), (2, "basic")}


def test_malformed_payloads_yield_null_columns_not_failures(spark, tmp_path):
    """from_json with an explicit schema must degrade per-ROW, not
    per-stream: a malformed payload parses to null fields while good
    rows in the same micro-batch land intact (PERMISSIVE semantics —
    the reference's ingest contract for poison-pill messages)."""
    import json as _json

    src = tmp_path / "poison_src"
    src.mkdir()
    lines = [
        _json.dumps({"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7,
                     "event_type": "click", "value": 1.0, "props": "{}"}),
        "{not valid json at all",
        _json.dumps({"event_id": 3, "ts": "2024-01-01 10:02:00", "user_id": 9,
                     "event_type": "click", "value": 3.0, "props": "{}"}),
    ]
    with open(src / "a.json", "w") as f:
        f.write("\n".join(lines) + "\n")

    # Kafka-shaped frame: payload as a binary column, exactly what
    # parse_kafka_payload sees; batch-check the same parse expression
    # the stream uses.
    batch = spark.read.text(str(src / "a.json")).select(
        F.lit(None).cast("string").alias("key"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.lit(0).cast("long").alias("offset"),
        F.lit(None).cast("timestamp").alias("timestamp"),
        F.col("value").cast("binary").alias("value"),
    )
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import parse_kafka_payload

    parsed = parse_kafka_payload(batch, EVENTS_SCHEMA)
    rows = {r["event_id"]: r for r in parsed.collect()}
    assert set(rows) == {1, 3, None}
    assert rows[None]["_raw_payload"].startswith("{not valid")  # original preserved
    assert rows[1]["user_id"] == 7 and rows[3]["value"] == 3.0


def test_sliding_windows_in_stream(spark, tmp_path):
    """Sliding (hopping) windows under writeStream — the batch form is
    oracle-checked as q_sliding_window. Each event must land in
    exactly two 1h/30min windows; results finalize once the watermark
    passes the window end."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import tumbling_agg

    src = tmp_path / "slide_src"
    src.mkdir()
    now = time.time()
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:05:00"),
         _ev(2, "2024-01-01 10:40:00")],
        now - 60,
    )
    # watermark pusher: far-future event finalizes the earlier windows
    _write_json(str(src / "b2.json"), [_ev(3, "2024-01-01 13:00:00")], now)
    stream = tumbling_agg(
        with_watermark(read_file_stream(spark, str(src), max_files_per_trigger=1)),
        "1 hour",
        slide="30 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sliding")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "slide_ck"))
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["window_start"].isoformat(), r["n_events"])
        for r in spark.table("sliding").collect()
        if r["window_start"].isoformat() < "2024-01-01T12"
    )
    # event 1 (10:05) → windows starting 09:30 and 10:00;
    # event 2 (10:40) → windows starting 10:00 and 10:30.
    assert got == [
        ("2024-01-01T09:30:00", 1),
        ("2024-01-01T10:00:00", 2),
        ("2024-01-01T10:30:00", 1),
    ]


def test_streaming_cusum_state_carries_and_matches_batch_twin(spark, tmp_path):
    """Streaming CUSUM: the integer-micros recursion carries across
    micro-batches, alarms fire on a planted shift, and the stream's
    final per-key state equals the batch twin run on the full history
    (bit-for-bit — the state is int64, so micro-batch boundaries
    cannot change it)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_cusum,
        running_cusum_batch,
    )

    src = tmp_path / "cusum_src"
    src.mkdir()
    now = time.time()
    # mean=10, std=2, k=0.5: values at 10 → dev=-0.5 (s pinned at 0);
    # values at 16 → dev=+2.5/row → s crosses h=5 on the 3rd shifted row
    _write_json(
        str(src / "b1.json"),
        [_ev(i, f"2024-01-01 10:{i:02d}:00", user=1, value=10.0) for i in range(1, 6)],
        now - 60,
    )
    _write_json(
        str(src / "b2.json"),
        [_ev(10 + i, f"2024-01-01 11:{i:02d}:00", user=1, value=16.0) for i in range(1, 6)],
        now,
    )
    stream = running_cusum(
        read_file_stream(spark, str(src), max_files_per_trigger=1),
        mean=10.0, std=2.0, k=0.5, h=5.0, key_col="event_type",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        spark.table("cusum_stream").collect(), key=lambda r: r["total_rows"]
    )
    assert rows[0]["s_end"] == 0.0 and rows[0]["n_alarms"] == 0  # stable batch
    final_stream = rows[-1]
    assert final_stream["total_rows"] == 10
    assert final_stream["s_end"] == 12.5  # 5 shifted rows x 2.5
    assert final_stream["n_alarms"] == 3  # rows 3,4,5 after crossing h
    # batch twin over the SAME history → identical final state
    hist = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).json(str(src))
    twin = running_cusum_batch(
        hist, mean=10.0, std=2.0, k=0.5, h=5.0, key_col="event_type"
    ).collect()[0]
    assert twin["s_end"] == final_stream["s_end"]
    assert twin["n_alarms"] == final_stream["n_alarms"]
    assert twin["total_rows"] == final_stream["total_rows"]


def test_cusum_state_expiry_drops_and_recreates(spark, tmp_path):
    """EventTimeTimeout on running_cusum (VERDICT r10 #3): a series
    silent past expire_after_ms of event time has its state dropped —
    its next event restarts the recursion at s = 0 — while the same
    feed under NoTimeout carries the accumulated s across the gap.
    Asserting both directions proves expiry caused the reset."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import running_cusum

    def feed(name: str) -> str:
        src = tmp_path / name
        src.mkdir()
        now = time.time()
        # mean=10 std=2 k=0.5: value 16 → dev +2.5. b1 leaves series
        # "hot" at s=2.5 (one row, no alarm). "keep" idles alongside.
        _write_json(
            str(src / "b1.json"),
            [_ev(1, "2024-01-01 10:00:00", etype="hot", value=16.0),
             _ev(2, "2024-01-01 10:00:00", etype="keep", value=10.0)],
            now - 90,
        )
        # b2: only "keep" at 11:30 → watermark(10m) → 11:20, past
        # hot's stamp 10:00 + 30 min.
        _write_json(
            str(src / "b2.json"),
            [_ev(3, "2024-01-01 11:30:00", etype="keep", value=10.0)],
            now - 60,
        )
        # b3: filler batch — the timeout fires against b2's watermark.
        _write_json(
            str(src / "b3.json"),
            [_ev(4, "2024-01-01 11:31:00", etype="keep", value=10.0)],
            now - 30,
        )
        # b4: "hot" returns with a +3.5 row (value distinct from b1
        # so the fresh-vs-carried emissions can't collide with b1's).
        _write_json(
            str(src / "b4.json"),
            [_ev(5, "2024-01-01 11:40:00", etype="hot", value=18.0)],
            now,
        )
        return str(src)

    def run(src: str, qname: str, expire_ms):
        out = running_cusum(
            with_watermark(read_file_stream(spark, src, max_files_per_trigger=1)),
            mean=10.0, std=2.0, k=0.5, h=5.0,
            key_col="event_type", expire_after_ms=expire_ms,
        )
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [
            (r["series_key"], r["total_rows"], r["s_end"])
            for r in spark.table(qname).collect()
        ]

    expired = run(feed("cusum_exp"), "cusum_expiring", 30 * 60 * 1000)
    # hot's return row: state dropped → recursion restarted at 0,
    # so the +3.5 row lands at s=3.5 with total_rows reset to 1.
    assert ("hot", 1, 3.5) in expired
    assert ("hot", 2, 6.0) not in expired

    kept = run(feed("cusum_noexp"), "cusum_noexpiry", None)
    # same feed, NoTimeout: hot's s carries 2.5 + 3.5 across the gap.
    assert ("hot", 2, 6.0) in kept
    assert ("hot", 1, 3.5) not in kept


def test_value_histogram_batch_last_batch_rows(spark):
    """ADVICE r10: with a batch_key, the batch twin's batch_rows is
    the LAST batch group's count — matching the stream twin's final
    emission column-for-column (heavy_hitters_batch's convention)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import value_histogram_batch

    rows = [
        _ev(1, "2024-01-05 10:00:00", user=1, value=12.34),
        _ev(2, "2024-01-05 10:01:00", user=1, value=12.99),
        _ev(3, "2024-02-05 11:00:00", user=1, value=1.27),
    ]
    df = spark.createDataFrame(
        [tuple(datetime.fromisoformat(v.replace(" ", "T")) if k == "ts" else v
               for k, v in e.items()) for e in rows],
        schema=EVENTS_SCHEMA,
    )
    got = value_histogram_batch(
        df, batch_key=F.date_format("ts", "yyyy-MM")
    ).collect()
    r = next(x for x in got if x["shard"] == 1)
    assert r["total_rows"] == 3 and r["batch_rows"] == 1  # Feb batch has 1 row
    # no batch_key → whole build is one batch, by definition
    r2 = next(x for x in value_histogram_batch(df).collect() if x["shard"] == 1)
    assert r2["batch_rows"] == r2["total_rows"] == 3


def test_half_up_cents_matches_jvm_decimal_cast(spark):
    """ADVICE r10: the stream histogram's pandas cents derivation must
    round half-cent doubles exactly as the JVM decimal(18,2) cast —
    2.125 is exactly representable and must land at 213, not pandas
    round()'s half-to-even 212."""
    import pandas as pd

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import _half_up_cents, cents_col

    vals = [2.125, 0.005, 1.0, 12.345, 99.995, 0.625]
    got = list(_half_up_cents(pd.Series(vals)))
    jvm = [
        r["c"]
        for r in spark.createDataFrame([(v,) for v in vals], "value double")
        .select(cents_col("value").alias("c"))
        .collect()
    ]
    assert got == jvm
    assert got[0] == 213  # the half-to-even trap


def test_stream_stream_interval_join_matches_batch_twin(spark, tmp_path):
    """Watermarked stream-stream interval join (click→purchase within
    1 h, same user): the SAME builder on two file streams produces
    exactly the batch join's rows — and the append-mode query runs
    under Spark's stream-stream state contract (watermarks + range
    condition), proving the state-cleanup shape, not just the
    semantics."""
    from datetime import datetime

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.joins import interval_pair_join

    src = tmp_path / "ssj_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-01 10:00:00", user=1, etype="click", value=1.0),
         _ev(2, "2024-01-01 10:20:00", user=1, etype="purchase", value=50.0),
         _ev(3, "2024-01-01 10:30:00", user=2, etype="click", value=1.0)],
        [_ev(4, "2024-01-01 11:30:00", user=1, etype="purchase", value=70.0),   # outside 1h of click 1
         _ev(5, "2024-01-01 10:59:00", user=1, etype="purchase", value=60.0),   # inside
         _ev(6, "2024-01-01 12:00:00", user=2, etype="purchase", value=80.0)],  # outside for click 3
        [_ev(7, "2024-01-01 13:00:00", user=2, etype="click", value=1.0),
         _ev(8, "2024-01-01 13:01:00", user=2, etype="purchase", value=90.0)],
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 60 * (len(batches) - i))

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    clicks_s, purchases_s = split(read_file_stream(spark, str(src), max_files_per_trigger=1))
    out = interval_pair_join(clicks_s, purchases_s, within="1 hour", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in spark.table("ssj_stream").collect()
    }

    batch_df = spark.createDataFrame(
        [tuple(datetime.fromisoformat(v.replace(" ", "T")) if kk == "ts" else v
               for kk, v in e.items()) for b in batches for e in b],
        schema=EVENTS_SCHEMA,
    )
    clicks_b, purchases_b = split(batch_df)
    batch_rows = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_pair_join(clicks_b, purchases_b, within="1 hour").collect()
    }
    assert stream_rows == batch_rows
    assert (1, 1, 2) in stream_rows and (1, 1, 5) in stream_rows
    assert (1, 1, 4) not in stream_rows  # outside the 1 h horizon
    assert (2, 7, 8) in stream_rows


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Streaming LEFT OUTER interval join: a click with no purchase in
    its 1 h horizon emits with null right columns — but only once the
    right-side watermark PROVES no match can still arrive (Spark's
    outer-join contract; the filler batches advance the watermark the
    same way the state-expiry tests do)."""
    from datetime import datetime

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.joins import interval_pair_join

    src = tmp_path / "ssj_outer"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-01 10:00:00", user=1, etype="click", value=1.0),     # will match
         _ev(2, "2024-01-01 10:10:00", user=1, etype="purchase", value=5.0),
         _ev(3, "2024-01-01 10:00:00", user=2, etype="click", value=1.0)],    # never matches
        [_ev(4, "2024-01-01 13:00:00", user=9, etype="purchase", value=1.0)], # watermark → ~12:50
        [_ev(5, "2024-01-01 14:00:00", user=9, etype="purchase", value=1.0)], # outer result flushes
        [_ev(6, "2024-01-01 15:00:00", user=9, etype="purchase", value=1.0)],
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 60 * (len(batches) - i))

    # Watermark the SOURCE before splitting (the joins.py trap note):
    # watermarking the click-only branch after its filter would pin
    # the min-policy global watermark at the last CLICK (10:00) and
    # the unmatched row would never flush.
    stream = with_watermark(
        read_file_stream(spark, str(src), max_files_per_trigger=1)
    )
    out = interval_pair_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        within="1 hour",
        watermark=None,
        how="left_outer",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in spark.table("ssj_outer").collect()
    }
    assert (1, 1, 2) in rows            # matched pair
    assert (2, 3, None) in rows         # unmatched click flushed with nulls
    assert not any(u == 2 and rid is not None for (u, _, rid) in rows)

    # stream ≡ batch: the same builder on a static frame produces the
    # same pair set (the q_stream_interval_join_outer contract —
    # its declared query is the null-filtered projection of this)
    from datetime import datetime as _dt

    batch_df = spark.createDataFrame(
        [tuple(_dt.fromisoformat(v.replace(" ", "T")) if kk == "ts" else v
               for kk, v in e.items()) for b in batches for e in b],
        schema=EVENTS_SCHEMA,
    )
    batch_rows = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_pair_join(
            batch_df.filter(F.col("event_type") == "click"),
            batch_df.filter(F.col("event_type") == "purchase"),
            within="1 hour",
            how="left_outer",
        ).collect()
    }
    assert rows == batch_rows


def test_streaming_ewma_matches_batch_twin_and_expires(spark, tmp_path):
    """Streaming recursive EWMA: integer-micros state carries across
    micro-batches and the final per-key level equals the batch twin
    bit-for-bit; with expire_after_ms an abandoned key re-seeds at
    its next value instead of blending with pre-gap history."""
    from datetime import datetime

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        running_ewma,
        running_ewma_batch,
    )

    src = tmp_path / "ewma_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-01 10:00:00", etype="a", value=10.0),
         _ev(2, "2024-01-01 10:01:00", etype="a", value=20.0)],
        [_ev(3, "2024-01-01 10:02:00", etype="a", value=30.0),
         _ev(4, "2024-01-01 10:03:00", etype="b", value=5.0)],
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 30 * (len(batches) - i))

    out = running_ewma(read_file_stream(spark, str(src), max_files_per_trigger=1))
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.table("ewma_stream").collect():
        if r["series_key"] not in final or r["total_rows"] > final[r["series_key"]]["total_rows"]:
            final[r["series_key"]] = r
    # hand-check: seed 10 → 0.2*20+0.8*10 = 12 → 0.2*30+0.8*12 = 15.6
    assert final["a"]["ewma"] == 15.6 and final["a"]["total_rows"] == 3
    assert final["b"]["ewma"] == 5.0

    batch_df = spark.createDataFrame(
        [tuple(datetime.fromisoformat(v.replace(" ", "T")) if k == "ts" else v
               for k, v in e.items()) for b in batches for e in b],
        schema=EVENTS_SCHEMA,
    )
    twin = {r["series_key"]: (r["ewma"], r["total_rows"])
            for r in running_ewma_batch(batch_df).collect()}
    assert twin == {k: (r["ewma"], r["total_rows"]) for k, r in final.items()}

    # expiry: key "hot" seeds at 10, goes silent past the horizon,
    # returns at 50 → must RE-SEED (50.0), not blend (0.2*50+0.8*10=18)
    src2 = tmp_path / "ewma_exp"
    src2.mkdir()
    feeds = [
        [_ev(1, "2024-01-01 10:00:00", etype="hot", value=10.0),
         _ev(2, "2024-01-01 10:00:00", etype="keep", value=1.0)],
        [_ev(3, "2024-01-01 11:30:00", etype="keep", value=1.0)],
        [_ev(4, "2024-01-01 11:31:00", etype="keep", value=1.0)],
        [_ev(5, "2024-01-01 11:40:00", etype="hot", value=50.0)],
    ]
    for i, rows in enumerate(feeds):
        _write_json(str(src2 / f"b{i}.json"), rows, now - 20 * (len(feeds) - i))
    out2 = running_ewma(
        with_watermark(read_file_stream(spark, str(src2), max_files_per_trigger=1)),
        expire_after_ms=30 * 60 * 1000,
    )
    q2 = (
        out2.writeStream.format("memory")
        .queryName("ewma_expiring")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = [(r["series_key"], r["total_rows"], r["ewma"])
            for r in spark.table("ewma_expiring").collect()]
    assert ("hot", 1, 50.0) in rows      # re-seeded fresh
    assert ("hot", 2, 18.0) not in rows  # NOT blended across the gap


def test_streaming_hll_registers_equal_batch_exactly(spark, tmp_path):
    """Streaming HLL distinct count: the final per-shard registers
    equal the batch build EXACTLY (elementwise max is multiset-pure —
    the value-histogram-class law), regardless of micro-batch split;
    and the merged registers estimate the true distinct count within
    the 256-register error band."""
    from datetime import datetime

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.catalog_behavior import hll_estimate
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.stateful import (
        distinct_hll_batch,
        running_distinct_hll,
    )

    src = tmp_path / "hll_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(i, f"2024-01-01 10:{i % 60:02d}:00", user=i % 37) for i in range(1, 40)],
        [_ev(100 + i, f"2024-01-02 11:{i % 60:02d}:00", user=20 + (i % 55)) for i in range(40)],
        [_ev(300 + i, f"2024-01-03 12:{i % 60:02d}:00", user=i % 37) for i in range(25)],  # all repeats
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 30 * (len(batches) - i))

    out = running_distinct_hll(read_file_stream(spark, str(src), max_files_per_trigger=1))
    q = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in spark.table("hll_stream").collect():
        if r["shard"] not in final or r["total_rows"] > final[r["shard"]]["total_rows"]:
            final[r["shard"]] = r
    stream_regs = {
        r["shard"]: (tuple(r["idxs"]), tuple(r["rs"]), r["total_rows"])
        for r in final.values()
    }

    batch_df = spark.createDataFrame(
        [tuple(datetime.fromisoformat(v.replace(" ", "T")) if k == "ts" else v
               for k, v in e.items()) for b in batches for e in b],
        schema=EVENTS_SCHEMA,
    )
    twin_regs = {
        r["shard"]: (tuple(r["idxs"]), tuple(r["rs"]), r["total_rows"])
        for r in distinct_hll_batch(batch_df).collect()
    }
    assert stream_regs == twin_regs  # EXACT, including split-invariant totals

    # merged estimate lands near the true distinct count
    merged = [
        (0, int(i), int(m))
        for r in final.values()
        for i, m in zip(r["idxs"], r["rs"])
    ]
    df = spark.createDataFrame(merged, "g int, idx long, m_j int")
    est = hll_estimate(df, ["g"]).collect()[0]["est"]
    true_n = len({e["user_id"] for b in batches for e in b})
    assert abs(est - true_n) / true_n < 0.25


def _chunk_twins():
    """(stream builder, batch twin, key column) per stateful operator."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming import stateful as S

    def cusum(fn):
        return lambda ev: fn(ev, mean=10.0, std=2.0, k=0.5, h=5.0)

    return {
        "running_user_profiles": (
            S.running_user_profiles,
            lambda ev: S.running_user_profiles_batch(ev, F.lit("all")),
            "user_id",
        ),
        "running_heavy_hitters": (
            lambda ev: S.running_heavy_hitters(ev, k=2),
            lambda ev: S.heavy_hitters_batch(ev, F.lit("all"), k=2),
            "shard",
        ),
        "running_value_histogram": (
            S.running_value_histogram, S.value_histogram_batch, "shard"
        ),
        "running_cusum": (cusum(S.running_cusum), cusum(S.running_cusum_batch), "series_key"),
        "running_ewma": (S.running_ewma, S.running_ewma_batch, "series_key"),
        "running_distinct_hll": (S.running_distinct_hll, S.distinct_hll_batch, "shard"),
    }


@pytest.mark.parametrize(
    "op",
    [
        "running_user_profiles",
        "running_heavy_hitters",
        "running_value_histogram",
        "running_cusum",
        "running_ewma",
        "running_distinct_hll",
    ],
)
def test_stateful_ops_invariant_to_arrow_chunking(spark, tmp_path, op):
    """Every stateful operator folds a key's WHOLE micro-batch, however
    Arrow splits it: with maxRecordsPerBatch=3 and one file (one
    micro-batch) whose rows run in DESCENDING event time, each key's
    stream row equals its batch twin. Sorting each 3-row chunk on its
    own would feed the order-sensitive recursions the newest chunk
    first: CUSUM would end at s=12.0 with 10 alarms instead of 15.0
    with 4, and EWMA at 11.57 instead of 14.43."""
    stream_fn, batch_fn, key = _chunk_twins()[op]
    src = tmp_path / "chunk_src"
    src.mkdir()
    # one series in time order: six readings at 10.0, then six at 16.0
    # (mean=10, std=2, k=0.5: dev -0.5 then +2.5 per row); the file
    # lists them newest first
    rows = [
        _ev(t, f"2024-01-01 10:{t:02d}:00", user=1 + t % 5, etype="a",
            value=10.0 if t < 6 else 16.0)
        for t in range(12)
    ][::-1]
    _write_json(str(src / "b0.json"), rows, time.time())

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        q = (
            stream_fn(read_file_stream(spark, str(src)))
            .writeStream.format("memory")
            .queryName(f"chunk_{op}")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        stream = [r.asDict() for r in spark.table(f"chunk_{op}").collect()]
        hist = spark.read.schema(EVENTS_SCHEMA).json(str(src))
        batch = [r.asDict() for r in batch_fn(hist).collect()]
    finally:
        spark.conf.set(conf, old)

    cols = list(stream[0])
    assert len(stream) == len({r[key] for r in stream}) == len(batch)
    got = {r[key]: r for r in stream}
    want = {r[key]: {c: r[c] for c in cols} for r in batch}
    assert got == want


def test_split_corrupt_quarantines_malformed_payloads(spark):
    """Bronze dead-letter split: a malformed Kafka payload must land
    in the quarantine frame WITH its raw bytes and offsets (for
    replay), never as an all-null row in the clean stream — the
    reference's PERMISSIVE parse ships such rows straight into silver
    (§2.12-class gap, fixed not replicated)."""
    import json as _json

    from pyspark.sql import types as T

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.ingest import (
        parse_kafka_payload,
        split_corrupt,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    good1 = _json.dumps({"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7,
                         "event_type": "click", "value": 1.5})
    good2 = _json.dumps({"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 7,
                         "event_type": "purchase", "value": 9.0})
    garbage = "{not json at all"
    # valid JSON but `ts` (a required field) is absent — downstream
    # watermarks would silently drop or misplace it (ADVICE r11 #1)
    missing_ts = _json.dumps({"event_id": 3, "user_id": 8,
                              "event_type": "click", "value": 2.0})
    raw = spark.createDataFrame(
        [("k1", "events", 0, 100, None, good1),
         ("k2", "events", 0, 101, None, garbage),
         ("k3", "events", 1, 102, None, good2),
         ("k4", "events", 1, 103, None, None),        # Kafka tombstone
         ("k5", "events", 0, 104, None, missing_ts)],
        "key string, topic string, partition int, offset long, timestamp timestamp, value string",
    )
    parsed = parse_kafka_payload(raw, schema)
    clean, quarantined = split_corrupt(parsed)
    assert {r["event_id"] for r in clean.collect()} == {1, 2}
    q = {r["_kafka_offset"]: r for r in quarantined.collect()}
    assert set(q) == {101, 103, 104}
    assert q[101]["_raw_payload"] == garbage
    assert q[103]["_raw_payload"] is None          # tombstone routed too
    assert q[104]["_raw_payload"] == missing_ts    # any-null, not all-null


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Stop/restart recovery — THE Structured Streaming guarantee a
    bronze pipeline stands on: a SECOND query started against the
    same checkpoint must process only the files that arrived after
    the first run drained, never re-appending the already-committed
    batch (the file-source offsets live in the checkpoint, the sink's
    commit log dedups partial writes)."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()
    now = time.time()
    _write_json(
        str(src / "b1.json"),
        [_ev(1, "2024-01-01 10:00:00", value=1.0),
         _ev(2, "2024-01-01 10:01:00", value=2.0)],
        now - 60,
    )
    q1 = start_append_sink(
        read_file_stream(spark, str(src)),
        str(sink), str(ckpt), available_now=True,
    )
    q1.awaitTermination(120)
    assert spark.read.parquet(str(sink)).count() == 2

    # new files arrive AFTER the first run stopped
    _write_json(
        str(src / "b2.json"),
        [_ev(3, "2024-01-01 10:02:00", value=3.0)],
        now,
    )
    q2 = start_append_sink(
        read_file_stream(spark, str(src)),
        str(sink), str(ckpt), available_now=True,
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(str(sink)).collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3], ids  # exactly once: no b1 reprocessing, no loss


def test_stream_scoring_matches_batch_and_alert_rollup(spark, tmp_path):
    """Streaming model serving (streaming/scoring.py): the trained
    model scores INSIDE the micro-batch as a stateless projection —
    stream rows carry bit-identical scores/bands to the batch twin
    (the REST-hop-free counterpart of the reference's `/predict`,
    `ml/serving/api.py:198-258`) — and the high-risk alert rollup
    emits finalized tumbling windows under a watermark that match
    the batch twin exactly."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import (
        high_risk_alerts,
        score_stream,
    )

    src = tmp_path / "score_src"
    src.mkdir()
    now = time.time()
    batches = [
        [_ev(1, "2024-01-01 10:05:00", value=480.0),   # high score
         _ev(2, "2024-01-01 10:20:00", value=30.0),    # low
         _ev(3, "2024-01-01 10:40:00", value=450.0)],  # high
        [_ev(4, "2024-01-01 11:10:00", value=470.0),   # high, next window
         _ev(5, "2024-01-01 13:00:00", value=1.0)],    # advances watermark
        [_ev(6, "2024-01-01 14:00:00", value=1.0)],    # flushes [11,12)
    ]
    for i, rows in enumerate(batches):
        _write_json(str(src / f"b{i}.json"), rows, now - 60 * (len(batches) - i))

    w = {"bias": -1.0, "value": 5.0}
    feats = ("value",)
    scales = {"value": 500.0}

    scored_s = score_stream(
        read_file_stream(spark, str(src), max_files_per_trigger=1), w, feats, scales
    )
    q = (
        scored_s.writeStream.format("memory")
        .queryName("scored_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["fraud_score"], r["risk_label"])
        for r in spark.table("scored_stream").collect()
    }

    batch_df = spark.read.schema(EVENTS_SCHEMA).json(str(src))
    scored_b = score_stream(batch_df, w, feats, scales)
    want = {
        r["event_id"]: (r["fraud_score"], r["risk_label"])
        for r in scored_b.collect()
    }
    assert got == want and len(got) == 6   # bit-identical scores+bands
    assert got[1][1] == "high" and got[2][1] == "low"

    # alert rollup: stream (watermarked, append) ≡ batch twin
    qa = (
        high_risk_alerts(scored_s, threshold=0.7, window="1 hour")
        .writeStream.format("memory")
        .queryName("alerts_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qa.awaitTermination(120)
    got_a = {
        r["window_start"].isoformat(): (r["n_alerts"], str(r["score_mass"]))
        for r in spark.table("alerts_stream").collect()
    }
    want_a = {
        r["window_start"].isoformat(): (r["n_alerts"], str(r["score_mass"]))
        for r in high_risk_alerts(scored_b, threshold=0.7, window="1 hour",
                                  watermark=None).collect()
    }
    # the stream emits only watermark-finalized windows — every one of
    # them must match the batch twin cell for cell
    assert got_a
    for k, v in got_a.items():
        assert want_a[k] == v, (k, v, want_a)
    assert got_a["2024-01-01T10:00:00"][0] == 2  # events 1 and 3


def test_stream_explained_scoring_matches_batch(spark, tmp_path):
    """Streaming GBT serving WITH per-row attribution
    (streaming/scoring.explain_stream): the fitted booster's score,
    band, top SHAP driver, and its |φ| ride the micro-batch as pure
    literal-array projections (φ tables are training-time constants),
    so every stream row is bit-identical to the batch twin — the
    reference's /predict + explain payload with the REST hop removed."""
    import numpy as np

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_ETA, train_gbt
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.shap import shap_terms
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import explain_stream
    from pyspark.sql import functions as F
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import GBT_BINS, _bin_expr

    # train on a separable batch frame over the stream's value column
    rng = np.random.RandomState(5)
    v = rng.uniform(0, 500, 400).round(2)
    y = ((v > 280) ^ (rng.uniform(0, 1, 400) < 0.1)).astype(int)
    train = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(v, y)], "value double, label int"
    )
    feats = ("value",)
    scales = {"value": 500.0}
    trees = train_gbt(train, features=feats, scales=scales)
    # covers from the training frame (the q_gbt_shap recipe)
    tables = []
    for tr in trees:
        i_a, i_b, i_c = (
            _bin_expr("value", scales, GBT_BINS) <= tr["splits"][k][1] for k in (1, 2, 3)
        )
        row = train.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(i_a.cast("long")).alias("nl"),
            F.sum((i_a & i_b).cast("long")).alias("nll"),
            F.sum(((~i_a) & i_c).cast("long")).alias("nrl"),
        ).first()
        n, nl = int(row["n"]), int(row["nl"])
        covers = dict(zip(range(1, 8), (
            n, nl, n - nl, int(row["nll"]), nl - int(row["nll"]),
            int(row["nrl"]), (n - nl) - int(row["nrl"]),
        )))
        tables.append(shap_terms(tr, covers, GBT_ETA))

    src = tmp_path / "explain_src"
    src.mkdir()
    now = time.time()
    rows = [
        _ev(1, "2024-01-01 10:05:00", value=480.0),
        _ev(2, "2024-01-01 10:20:00", value=30.0),
        _ev(3, "2024-01-01 10:40:00", value=290.0),
        _ev(4, "2024-01-01 11:10:00", value=120.0),
    ]
    _write_json(str(src / "b0.json"), rows[:2], now - 120)
    _write_json(str(src / "b1.json"), rows[2:], now - 60)

    stream = explain_stream(
        read_file_stream(spark, str(src), max_files_per_trigger=1),
        trees, tables, feats, scales,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("explained_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (
            r["fraud_score"], r["risk_label"], r["top_feature"], r["top_abs_phi"]
        )
        for r in spark.table("explained_stream").collect()
    }
    batch = explain_stream(
        spark.read.schema(EVENTS_SCHEMA).json(str(src)), trees, tables, feats, scales
    )
    want = {
        r["event_id"]: (
            r["fraud_score"], r["risk_label"], r["top_feature"], r["top_abs_phi"]
        )
        for r in batch.collect()
    }
    assert got == want and len(got) == 4  # bit-identical score+explanation
    # the single-feature booster attributes everything to `value`,
    # and the high-value row carries a strictly positive driver
    assert all(g[2] == "value" for g in got.values())
    assert got[1][3] > 0.0


def test_hot_reload_scores_with_the_registry_head_per_microbatch(spark, tmp_path):
    """The retrain→serve loop (VERDICT r14 #6) — the reference's
    `/model/reload` (`ml/serving/api.py:279-289`: swap serving to the
    registry's latest after a promotion, no restart): a model
    committed MID-STREAM must score every later micro-batch while
    earlier rows keep the old version's scores, each segment
    bit-identical to its batch twin (score_stream's stream ≡ batch
    law, per segment), and every row stamped with the version that
    scored it."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import save_model
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import (
        score_stream,
        start_hot_reload_scoring,
    )

    src = tmp_path / "reload_src"
    src.mkdir()
    reg = str(tmp_path / "registry")
    out = str(tmp_path / "scored_out")
    ckpt = str(tmp_path / "reload_ckpt")
    feats = ("value",)
    scales = {"value": 500.0}
    w0 = {"bias": -1.0, "value": 5.0}
    w1 = {"bias": -2.0, "value": 8.0}

    assert save_model(reg, "logreg", {"weights": w0}, list(feats)) == 0
    now = time.time()
    _write_json(str(src / "b0.json"), [
        _ev(1, "2024-01-01 10:05:00", value=480.0),
        _ev(2, "2024-01-01 10:20:00", value=30.0),
        _ev(3, "2024-01-01 10:40:00", value=450.0),
    ], now - 120)

    stream = read_file_stream(spark, str(src), max_files_per_trigger=1)
    q = start_hot_reload_scoring(stream, reg, feats, out, ckpt, scales)
    try:
        q.processAllAvailable()  # b0 scored with v0
        # the mid-stream retrain promotion: commit v1, then more data
        assert save_model(reg, "logreg", {"weights": w1}, list(feats)) == 1
        _write_json(str(src / "b1.json"), [
            _ev(4, "2024-01-01 11:10:00", value=480.0),
            _ev(5, "2024-01-01 11:30:00", value=30.0),
        ], now - 60)
        q.processAllAvailable()  # b1 scored with v1
    finally:
        q.stop()

    rows = {r["event_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 5
    assert {rows[i]["model_version"] for i in (1, 2, 3)} == {0}
    assert {rows[i]["model_version"] for i in (4, 5)} == {1}

    # per-segment batch twins: old rows ≡ w0 scoring, new rows ≡ w1
    batch = spark.read.schema(EVENTS_SCHEMA).json(str(src))
    twin0 = {r["event_id"]: (r["fraud_score"], r["risk_label"])
             for r in score_stream(batch, w0, feats, scales).collect()}
    twin1 = {r["event_id"]: (r["fraud_score"], r["risk_label"])
             for r in score_stream(batch, w1, feats, scales).collect()}
    for i in (1, 2, 3):
        assert (rows[i]["fraud_score"], rows[i]["risk_label"]) == twin0[i]
    for i in (4, 5):
        assert (rows[i]["fraud_score"], rows[i]["risk_label"]) == twin1[i]
    # and the swap was REAL: the same event value scores differently
    assert rows[4]["fraud_score"] != rows[1]["fraud_score"]


def test_hot_reload_compiles_gbt_documents_roundtrip(spark, tmp_path):
    """compile_registry_model on a `gbt` document reproduces the
    trainer's own scores bit-exactly (the save → load → score law,
    now on the serving path)."""
    import numpy as np

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import train_gbt, gbt_trained_logit_expr
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import gbt_doc, load_model, save_model
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import compile_registry_model

    rng = np.random.RandomState(3)
    x1 = rng.uniform(0, 1, 400).round(4)
    x2 = rng.uniform(0, 1, 400).round(4)
    y = ((x2 > 0.5) ^ (rng.uniform(0, 1, 400) < 0.1)).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), int(v)) for a, b, v in zip(x1, x2, y)],
        "x1 double, x2 double, label int",
    )
    trees = train_gbt(df, features=("x1", "x2"), scales={})
    reg = str(tmp_path / "gbtreg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    save_model(reg, kind, params, ["x1", "x2"])
    expr = compile_registry_model(load_model(reg), ("x1", "x2"), {})
    direct = det_round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-gbt_trained_logit_expr(trees, ("x1", "x2"), scales={}))), 6
    )
    got = df.select(expr.alias("a"), direct.alias("b")).collect()
    assert all(r["a"] == r["b"] for r in got)


def test_hot_reload_replay_does_not_duplicate_rows(spark, tmp_path):
    """ADVICE r15: foreachBatch is at-least-once — a crash between
    the parquet write and the checkpoint commit replays the
    micro-batch on restart, and a blind append would then duplicate
    every replayed row. The sink now writes each batch to its own
    batch-id partition with overwrite, so a FULL replay (checkpoint
    wiped, identical source → identical batch ids) lands on the same
    directories and the output row set is unchanged."""
    import shutil

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import save_model
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import start_hot_reload_scoring

    src = tmp_path / "replay_src"
    src.mkdir()
    reg = str(tmp_path / "replay_registry")
    out = str(tmp_path / "replay_out")
    ckpt = str(tmp_path / "replay_ckpt")
    feats = ("value",)
    scales = {"value": 500.0}
    save_model(reg, "logreg", {"weights": {"bias": -1.0, "value": 5.0}}, list(feats))
    now = time.time()
    _write_json(str(src / "b0.json"), [
        _ev(1, "2024-01-01 10:05:00", value=480.0),
        _ev(2, "2024-01-01 10:20:00", value=30.0),
    ], now - 120)
    _write_json(str(src / "b1.json"), [
        _ev(3, "2024-01-01 10:40:00", value=450.0),
    ], now - 60)

    def run_once():
        stream = read_file_stream(spark, str(src), max_files_per_trigger=1)
        q = start_hot_reload_scoring(stream, reg, feats, out, ckpt, scales)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = sorted(
        (r["event_id"], r["fraud_score"], r["model_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert len(first) == 3
    # the replay: wipe the checkpoint so the SAME source replays from
    # batch 0 — the worst-case at-least-once scenario
    shutil.rmtree(ckpt)
    run_once()
    replayed = sorted(
        (r["event_id"], r["fraud_score"], r["model_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert replayed == first  # no duplicates, bit-identical rows
    # and the partition column is discoverable for pruning
    assert "ingest_batch" in spark.read.parquet(out).columns


def test_input_gate_stream_equals_batch_and_applies_contract(spark, tmp_path):
    """The pre-scoring validation gate (VERDICT r15 #4 — the serving
    contract's pydantic bounds/defaults, `ml/serving/api.py:92-130`)
    is a stateless projection: a streamed micro-batch carries
    BIT-IDENTICAL gate columns to the batch twin, quarantine reasons
    follow field order, and the always-missing optional imputes its
    documented default."""
    import json as _json

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import gate_report, input_gate

    src = tmp_path / "gate_src"
    src.mkdir()
    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")
    now = time.time()

    def ev(i, value, props):
        return {
            "event_id": i, "ts": "2024-01-01 10:00:00", "user_id": 1,
            "event_type": "click", "value": value, "props": _json.dumps(props),
        }

    rows = [
        ev(1, 50.0, {"k": 10}),            # pass, hour defaulted
        ev(2, 130.0, {"k": 10}),           # amount over cap → quarantine
        ev(3, 50.0, {"k": 99}),            # velocity over cap → quarantine
        ev(4, 130.0, {"k": 99}),           # both bad → FIRST field wins
        ev(5, 50.0, {}),                   # required velocity missing
        ev(6, 50.0, {"k": 10, "h": 25}),   # present optional out of range
        ev(7, 50.0, {"k": 10, "h": 9}),    # present optional in range
    ]
    _write_json(str(src / "b0.json"), rows, now - 60)

    gated_stream = input_gate(read_file_stream(spark, str(src)))
    q = (
        gated_stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_id"]: (
            r["gate_outcome"], r["gate_reason"], r["hour_of_day"],
            r["hour_was_defaulted"],
        )
        for r in spark.read.parquet(out).collect()
    }
    batch = input_gate(spark.read.schema(EVENTS_SCHEMA).json(str(src)))
    want = {
        r["event_id"]: (
            r["gate_outcome"], r["gate_reason"], r["hour_of_day"],
            r["hour_was_defaulted"],
        )
        for r in batch.collect()
    }
    assert got == want and len(got) == 7  # stream ≡ batch, bit-identical
    assert got[1] == ("pass", None, 12.0, 1)              # default imputed
    assert got[2][:2] == ("quarantined", "total_amount")
    assert got[3][:2] == ("quarantined", "velocity_k")
    assert got[4][:2] == ("quarantined", "total_amount")  # field order
    assert got[5][:2] == ("quarantined", "velocity_k")    # missing required
    assert got[6][:2] == ("quarantined", "hour_of_day")   # present + out
    assert got[7] == ("pass", None, 9.0, 0)               # present + valid

    # and the audit rollup counts the same world
    rep = {(r["field"], r["outcome"]): r["n"] for r in gate_report(batch).collect()}
    assert rep[("_all_", "pass")] == 2
    assert rep[("_all_", "quarantined")] == 5
    assert rep[("total_amount", "out_of_range")] == 2
    assert rep[("velocity_k", "out_of_range")] == 2
    assert rep[("hour_of_day", "out_of_range")] == 1
    assert rep[("hour_of_day", "defaulted")] == 1


def test_gate_then_score_composes_on_the_stream(spark, tmp_path):
    """The full serving path (`ml/serving/api.py`: validate → impute
    defaults → predict): input_gate feeds score_stream directly —
    pass rows score on the gate's derived+imputed fields, quarantined
    rows never reach the model — and the streamed composition is
    bit-identical to its batch twin."""
    import json as _json

    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import input_gate, score_stream

    src = tmp_path / "gs_src"
    src.mkdir()
    out = str(tmp_path / "gs_out")
    ckpt = str(tmp_path / "gs_ckpt")
    now = time.time()

    def ev(i, value, props):
        return {
            "event_id": i, "ts": "2024-01-01 10:00:00", "user_id": 1,
            "event_type": "click", "value": value, "props": _json.dumps(props),
        }

    rows = [
        ev(1, 50.0, {"k": 10}),          # pass (hour defaulted)
        ev(2, 130.0, {"k": 10}),         # quarantined
        ev(3, 90.0, {"k": 80, "h": 3}),  # pass (hour present)
    ]
    _write_json(str(src / "b0.json"), rows, now - 60)
    feats = ("total_amount", "velocity_k", "hour_of_day")
    w = {"bias": -2.0, "total_amount": 3.0, "velocity_k": 1.0, "hour_of_day": 0.5}
    scales = {"total_amount": 120.0, "velocity_k": 94.0, "hour_of_day": 23.0}

    def pipeline(df):
        gated = input_gate(df)
        return score_stream(gated.filter("gate_outcome = 'pass'"), w, feats, scales)

    q = (
        pipeline(read_file_stream(spark, str(src)))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["fraud_score"], r["risk_label"])
        for r in spark.read.parquet(out).collect()
    }
    batch = pipeline(spark.read.schema(EVENTS_SCHEMA).json(str(src)))
    want = {
        r["event_id"]: (r["fraud_score"], r["risk_label"])
        for r in batch.collect()
    }
    assert got == want
    assert set(got) == {1, 3}  # the quarantined row never reached the model
