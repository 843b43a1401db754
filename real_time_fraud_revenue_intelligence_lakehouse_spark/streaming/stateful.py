"""Custom stateful streaming operators: six fold specs, one
applyInPandasWithState driver, one batch replay.

Spark's built-in stateful operators (windows, stream dedup) cover the
reference's surface; this module adds the escape hatch for semantics
they can't express — arbitrary per-key state machines over Arrow
batches. Every operator is a `_Fold` spec: an initial state tuple, a
``step(state, frame) -> (state, batch_rows)`` over one key's rows, an
``emit`` of the post-batch output row, the output and state schemas,
and an optional in-batch row order. Two drivers run the specs:

- `_stateful` — the module's one applyInPandasWithState call. Per key
  per micro-batch it concatenates every Arrow chunk into ONE frame,
  sorts it by the spec's order, and applies ``step`` once, so no
  result depends on how Arrow splits a micro-batch
  (``spark.sql.execution.arrow.maxRecordsPerBatch``). It also owns the
  one event-time expiry protocol (below).
- `_replay` — the batch twin: the same ``step`` once over each key's
  full history via applyInPandas (`running_cusum_batch`,
  `running_ewma_batch`).

The six specs, each behind a public operator of a few lines:

- running user profiles (`running_user_profiles`) — the streaming form
  of the per-entity aggregates in `fraud_summary.py:91-134`: where the
  batch job recomputes user profiles from all history every 2 h, the
  stream maintains them incrementally with O(keys) state;
- Misra-Gries heavy hitters, decimal log-histogram and HLL registers
  (`running_heavy_hitters`, `running_value_histogram`,
  `running_distinct_hll`) — per-shard, size-capped sketches
  (`_sketch_fold`);
- CUSUM drift alarm and recursive EWMA (`running_cusum`,
  `running_ewma`) — order-sensitive integer-micros recursions over
  (ts, event_id)-sorted micro-batches.

The other batch twins are independent of the drivers on purpose: the
vectorized per-partition profile fold behind q_stateful_profile
(`running_user_profiles_batch`), `heavy_hitters_batch`, and the
JVM-only `value_histogram_batch` / `distinct_hll_batch`.

Exactness: values accumulate as integer CENTS (int64), never float —
float summation is order-dependent and pandas' pairwise sum would
drift from any SQL oracle. The batch profile twin computes a
Spark-side `cents` column (decimal cast, `cents_col`); the stream
folds use that column when the input carries one and otherwise derive
HALF_UP cents from `value` (`_frame_cents`), exact for 2-decimal
inputs.

Scale: state lives in the executor state store partitioned by key
(one shuffle per micro-batch). The operators that may key on
unbounded-cardinality columns — profiles, CUSUM and EWMA — take
``expire_after_ms``, which arms watermark-based
`GroupStateTimeout.EventTimeTimeout` so abandoned keys expire instead
of accumulating forever: state is bounded by ACTIVE keys, the guard
that keeps a 100 TB-of-keys state store alive. The shard-keyed
sketches are exempt by design (fixed shard cardinality + size-capped
per-shard state; see running_cusum's docstring).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60, hll_register

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

OUTPUT_SCHEMA = (
    "user_id BIGINT, batch_events BIGINT, total_events BIGINT, total_value DOUBLE"
)
STATE_SCHEMA = "total_events BIGINT, total_cents BIGINT"

BATCH_OUTPUT_SCHEMA = (
    "user_id BIGINT, batch_key STRING, batch_events BIGINT, "
    "total_events BIGINT, total_value DOUBLE"
)


def cents_col(value_col: str = "value") -> Column:
    """Exact integer cents from a 2-decimal money double: decimal cast
    (engine-portable rounding) then *100 — never float arithmetic."""
    return (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")


def _half_up_cents(values: "pd.Series"):
    """Pandas twin of :func:`cents_col`: floor(v·100 + 0.5) is
    ROUND_HALF_UP for non-negative money (Spark's decimal(18,2) cast
    rounding), NOT pandas' default half-to-even round() — an
    exactly-representable half-cent double like 2.125 must bucket as
    213 cents in the stream exactly as the JVM batch build buckets it.
    Callers hold non-negative money values (negative halves would
    round toward +inf here but away from zero in the JVM)."""
    import numpy as np

    return np.floor(values.astype(float) * 100 + 0.5).astype("int64")


def _frame_cents(pdf: "pd.DataFrame", value_col: str = "value") -> "pd.Series":
    """Integer cents of a batch: the exact `cents` column when the
    caller provided one, otherwise the HALF_UP derivation from
    ``value_col`` (:func:`_half_up_cents`)."""
    if "cents" in pdf.columns:
        return pdf["cents"].astype("int64")
    return _half_up_cents(pdf[value_col])


def _event_timeout_ms(max_ts, session_tz: str, expire_ms: int, state: GroupState) -> int:
    """Watermark-clamped EventTimeTimeout stamp from the batch's max
    event time. Arrow hands the worker tz-NAIVE timestamps rendered in
    the SESSION timezone, so the epoch derives via tz_localize of the
    captured session tz — with DST transitions handled explicitly
    (``ambiguous=True`` keeps the DST interpretation of a repeated
    wall-clock hour, ``nonexistent='shift_forward'`` moves a
    spring-forward gap time onto the next valid instant) so a
    non-UTC session timezone cannot crash the state-update function
    mid-stream. Clamps to watermark + 1 ms: a key fed only LATE events
    must still survive to the next watermark advance."""
    import pandas as pd

    event_ms = int(
        pd.Timestamp(max_ts)
        .tz_localize(session_tz, ambiguous=True, nonexistent="shift_forward")
        .value
        // 1_000_000
    )
    return max(event_ms + expire_ms, state.getCurrentWatermarkMs() + 1)


# --- the fold spec and its two drivers ----------------------------------------


@dataclass(frozen=True)
class _Fold:
    """One per-key state machine. ``step(state, frame)`` folds a key's
    rows (one micro-batch, or its whole history) into the state and
    returns ``(state, batch_rows)``; ``emit(key, state, batch_rows)``
    builds the output row; ``order`` sorts the frame before ``step``
    (empty: order-free)."""

    init: tuple
    step: Callable[[tuple, "pd.DataFrame"], tuple[tuple, int]]
    emit: Callable[[Any, tuple, int], dict]
    output_schema: str
    state_schema: str
    order: tuple[str, ...] = ()

    def apply(self, state: tuple, pdf: "pd.DataFrame") -> tuple[tuple, int]:
        """``step`` over ``pdf`` sorted by ``order``."""
        if self.order:
            pdf = pdf.sort_values(list(self.order))
        return self.step(state, pdf)


#: deterministic in-batch order of the recursions: event time, then
#: the unique event id
_TIME_ORDER = ("ts", "event_id")


def _one_row(row: dict) -> "pd.DataFrame":
    import pandas as pd

    return pd.DataFrame({c: [v] for c, v in row.items()})


def _stateful(
    events: DataFrame, key_col: str, fold: _Fold, expire_after_ms: int | None = None
) -> DataFrame:
    """Run ``fold`` per ``key_col`` across micro-batches: one output
    row per (key, micro-batch) with the post-batch state.

    ``step`` sees the key's whole micro-batch as one frame — every
    Arrow chunk concatenated, then sorted by ``fold.order`` — so the
    result is independent of the Arrow batch size.

    With ``expire_after_ms`` the state machine runs under
    ``GroupStateTimeout.EventTimeTimeout`` (``events`` must carry a
    watermark): every batch re-arms the key's timeout at (max event
    time in batch + expire_after_ms); when the WATERMARK passes that
    stamp without new data, Spark calls once more with
    ``state.hasTimedOut`` and the key's state is dropped — a later
    event re-creates it from ``fold.init``. The stamp derives from
    EVENT time (never wall clock), so replays expire identically; its
    pitfalls are handled in :func:`_event_timeout_ms`."""
    tz = events.sparkSession.conf.get("spark.sql.session.timeZone")

    def update(
        key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if state.hasTimedOut:
            # watermark passed the armed stamp with no new events:
            # free the key's state store entry (the 100 TB OOM guard)
            state.remove()
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        st, n = fold.apply(state.get if state.exists else fold.init, pdf)
        state.update(st)
        if expire_after_ms is not None:
            state.setTimeoutTimestamp(
                _event_timeout_ms(pdf["ts"].max(), tz, expire_after_ms, state)
            )
        yield _one_row(fold.emit(key[0], st, n))

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        fold.output_schema,
        fold.state_schema,
        "update",
        GroupStateTimeout.NoTimeout
        if expire_after_ms is None
        else GroupStateTimeout.EventTimeTimeout,
    )


def _replay(events: DataFrame, key_col: str, fold: _Fold) -> DataFrame:
    """Batch twin of :func:`_stateful`: ``step`` once over each key's
    full history (sorted by ``fold.order``) from ``fold.init`` — the
    stream's FINAL state when the whole history is one micro-batch."""

    def run(key: tuple[Any, ...], pdf: "pd.DataFrame") -> "pd.DataFrame":
        st, n = fold.apply(fold.init, pdf)
        return _one_row(fold.emit(key[0], st, n))

    return events.groupBy(key_col).applyInPandas(run, fold.output_schema)


# --- running user profiles ----------------------------------------------------


def _profile_step(st: tuple, pdf: "pd.DataFrame") -> tuple[tuple, int]:
    """Fold one batch's (count, cents) into the running (events, cents)."""
    n = len(pdf)
    return (st[0] + n, st[1] + int(_frame_cents(pdf).sum())), n


_PROFILE = _Fold(
    init=(0, 0),
    step=_profile_step,
    emit=lambda user, st, n: {
        "user_id": user,
        "batch_events": n,
        "total_events": st[0],
        "total_value": st[1] / 100.0,
    },
    output_schema=OUTPUT_SCHEMA,
    state_schema=STATE_SCHEMA,
)


def running_user_profiles(
    events: DataFrame, expire_after_ms: int | None = None
) -> DataFrame:
    """Incrementally-maintained per-user totals over a stream of
    events(user_id, value, …) — one output row per (user, micro-batch)
    with the post-batch running totals.

    ``expire_after_ms`` is the production state-expiry lever: when
    set, ``events`` must carry a watermark (``withWatermark``), the
    state machine runs under ``GroupStateTimeout.EventTimeTimeout``,
    and a key whose last event is ``expire_after_ms`` of EVENT time
    behind the watermark has its state dropped instead of living
    forever. At 100 TB of keys this bound — state ∝ ACTIVE keys, not
    all keys ever seen — is what keeps the state store from OOM
    (tests/test_streaming.py::test_stateful_state_expiry exercises
    drop + fresh re-creation). Default (None) keeps NoTimeout for
    replay-style jobs where every key must stay resumable."""
    return _stateful(events, "user_id", _PROFILE, expire_after_ms)


def _fold_partition(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """Replay the state machine for EVERY user in one partition with
    one vectorized pass: rows arrive hash-partitioned by user and
    sorted by (user, batch), so a grouped cumulative sum IS repeated
    `_profile_step` (integer addition is associative) applied in batch
    order.

    One Python invocation per partition — NOT per key. Per-group
    applyInPandas costs ~2 ms of Arrow/call overhead per key, which
    at high key cardinality (millions of users) dominates the stage;
    the per-partition fold amortizes that to ~one call per task.
    Buffering bound: a partition holds (|users|/N) × |batches|
    pre-reduced summary rows, not raw events."""
    import pandas as pd

    pdfs = list(batches)
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    g = pdf.groupby("user_id", sort=False)
    yield pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "batch_key": pdf["batch_key"],
            "batch_events": pdf["n"],
            "total_events": g["n"].cumsum(),
            "total_value": g["cents"].cumsum() / 100.0,
        }
    )


def running_user_profiles_batch(
    events: DataFrame,
    batch_key: Column,
    value_col: str = "value",
) -> DataFrame:
    """Deterministic batch twin of :func:`running_user_profiles`:
    replays the per-user state machine over `batch_key` (a data-derived
    micro-batch stand-in, e.g. event month) and emits one row per
    (user, batch) with post-batch running totals.

    Scale shape, stage by stage:
    1. per-(user, batch) reduction (count + exact cents sum) happens
       in the JVM as a map-side-combined groupBy BEFORE any Python —
       never ship raw rows into Python when an associative reduce
       works; only the (user × batch) summary rows cross Arrow;
    2. an EXPLICIT repartition(defaultParallelism, user) — explicit so
       AQE cannot coalesce the (bytes-tiny, group-heavy) exchange into
       one partition and serialize the Python stage;
    3. sortWithinPartitions(user, batch) + one mapInPandas fold per
       partition (`_fold_partition`) — per-partition, not per-key,
       Python invocation.
    """
    n_parts = events.sparkSession.sparkContext.defaultParallelism
    reduced = (
        events.select(
            "user_id",
            batch_key.cast("string").alias("batch_key"),
            cents_col(value_col).alias("cents"),
        )
        .groupBy("user_id", "batch_key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    return (
        reduced.repartition(n_parts, "user_id")
        .sortWithinPartitions("user_id", "batch_key")
        .mapInPandas(_fold_partition, BATCH_OUTPUT_SCHEMA)
    )


# --- per-shard sketches ---------------------------------------------------------


def _sketch_fold(
    cells: str,
    values: str,
    output_schema: str,
    state_schema: str,
    add: Callable[["pd.DataFrame"], tuple[dict, int]],
    merge: Callable[[list, list, dict], tuple[list, list]],
) -> _Fold:
    """Spec of a per-shard sketch held as two parallel arrays plus a
    row total: ``add(frame)`` reduces a batch to ({cell: value},
    batch_rows) and ``merge`` folds that into the (cells, values)
    arrays in canonical order."""

    def step(st: tuple, pdf: "pd.DataFrame") -> tuple[tuple, int]:
        xs, ys, total = st
        batch, n = add(pdf)
        xs, ys = merge(list(xs), list(ys), batch)
        return (xs, ys, int(total) + n), n

    return _Fold(
        init=([], [], 0),
        step=step,
        emit=lambda shard, st, n: {
            "shard": shard,
            "batch_rows": n,
            "total_rows": st[2],
            cells: st[0],
            values: st[1],
        },
        output_schema=output_schema,
        state_schema=state_schema,
    )


# --- streaming Misra-Gries heavy hitters ------------------------------------

#: summaries are emitted (and stored) in canonical order — count
#: desc, item asc — so stream and batch twin compare as plain rows.
MG_OUTPUT_SCHEMA = (
    "shard BIGINT, batch_rows BIGINT, total_rows BIGINT, "
    "items ARRAY<STRING>, counts ARRAY<BIGINT>"
)
MG_STATE_SCHEMA = "items ARRAY<STRING>, counts ARRAY<BIGINT>, total_rows BIGINT"


def _mg_merge(
    items: list, counts: list, add: dict, k: int
) -> tuple[list, list]:
    """THE shared Misra-Gries fold (stream and batch twin): combine a
    summary with a batch's exact counts, then compress back to ≤ k
    counters by subtracting the (k+1)-th largest count and keeping
    strictly-positive remainders (the mergeable-summaries merge of
    Agarwal et al. — per-merge error = the subtracted value; total
    ≤ N/(k+1) over any merge tree, a left-deep stream included).
    Integer arithmetic throughout; canonical (count desc, item asc)
    output order makes summaries directly comparable."""
    m = dict(zip(items, counts))
    for it, c in add.items():
        m[it] = m.get(it, 0) + int(c)
    if len(m) > k:
        t = sorted(m.values(), reverse=True)[k]  # (k+1)-th largest
        m = {it: c - t for it, c in m.items() if c - t > 0}
    pairs = sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))
    return [it for it, _ in pairs], [int(c) for _, c in pairs]


def running_heavy_hitters(
    events: DataFrame,
    k: int = 8,
    item_col: str = "event_type",
    shard: Column | None = None,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per shard, a ≤ k-counter
    summary maintained across micro-batches with O(k) state — the
    incremental form of q_misra_gries' shard-merge batch plan, for
    when the hot-key report must exist WITHIN the stream. Each
    micro-batch folds its exact in-batch counts into the summary via
    the mergeable-summaries merge (`_mg_merge`), so every frequency
    is under-counted by at most total_rows/(k+1) — state NEVER grows
    with item cardinality, the property that lets a 100 TB key space
    stream through fixed executor memory. Emits the post-batch
    summary per (shard, micro-batch); the latest row per shard (max
    total_rows) is the current summary."""
    shard = shard if shard is not None else F.pmod(F.col("user_id"), F.lit(4))
    fold = _sketch_fold(
        "items", "counts", MG_OUTPUT_SCHEMA, MG_STATE_SCHEMA,
        add=lambda pdf: (pdf[item_col].value_counts().to_dict(), len(pdf)),
        merge=lambda items, counts, add: _mg_merge(items, counts, add, k),
    )
    return _stateful(events.withColumn("shard", shard.cast("long")), "shard", fold)


def heavy_hitters_batch(
    events: DataFrame,
    batch_key: Column,
    k: int = 8,
    item_col: str = "event_type",
    shard: Column | None = None,
) -> DataFrame:
    """Deterministic batch twin of :func:`running_heavy_hitters`:
    replays the per-shard MG fold over `batch_key` order and returns
    each shard's FINAL summary row (identical to the stream's last
    emission when micro-batches == batch_key groups). Scale shape
    mirrors running_user_profiles_batch: the (shard, batch, item)
    exact counts reduce in the JVM with map-side combine BEFORE any
    Python — only the pre-reduced summary rows cross Arrow."""

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        items: list = []
        counts: list = []
        total = 0
        last_n = 0
        for _, g in pdf.sort_values("batch_key").groupby("batch_key", sort=True):
            add = dict(zip(g[item_col], g["n"].astype(int)))
            items, counts = _mg_merge(items, counts, add, k)
            last_n = int(g["n"].sum())
            total += last_n
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "batch_rows": [last_n],
                "total_rows": [total],
                "items": [items],
                "counts": [counts],
            }
        )

    shard = shard if shard is not None else F.pmod(F.col("user_id"), F.lit(4))
    reduced = (
        events.withColumn("shard", shard.cast("long"))
        .select("shard", batch_key.cast("string").alias("batch_key"), item_col)
        .groupBy("shard", "batch_key", item_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return reduced.groupBy("shard").applyInPandas(run, MG_OUTPUT_SCHEMA)


# --- streaming decimal log-histogram (quantile sketch) -----------------------

#: canonical order: ascending bucket lower bound. Buckets are the
#: q_quantile_sketch decimal log-histogram cells ((digit count, two
#: leading digits), keyed here by their integer lower bound — the
#: mapping is bijective for values ≥ 10).
QH_OUTPUT_SCHEMA = (
    "shard BIGINT, batch_rows BIGINT, total_rows BIGINT, "
    "buckets ARRAY<BIGINT>, counts ARRAY<BIGINT>"
)
QH_STATE_SCHEMA = "buckets ARRAY<BIGINT>, counts ARRAY<BIGINT>, total_rows BIGINT"


def _qh_lo(v: int) -> int:
    """Bucket lower bound of an integer value ≥ 10: two leading
    digits scaled back to the value's magnitude (the pure-Python twin
    of the Catalyst/SQL bucketing in q_quantile_sketch)."""
    s = str(v)
    return int(s[:2]) * 10 ** (len(s) - 2)


def _qh_merge(buckets: list, counts: list, add: dict) -> tuple[list, list]:
    """Histogram merge: per-bucket count addition (no compression
    step — the bucket family itself bounds state at ≤ 90 cells per
    decade of the value range). Unlike Misra-Gries, the result is a
    pure function of the multiset: batch-split invariant, so the
    stream equals its batch twin exactly rather than merely sharing
    the error bound."""
    m = dict(zip(buckets, counts))
    for lo, c in add.items():
        m[lo] = m.get(lo, 0) + int(c)
    pairs = sorted(m.items())
    return [lo for lo, _ in pairs], [int(c) for _, c in pairs]


def running_value_histogram(
    events: DataFrame,
    value_col: str = "value",
    shard: Column | None = None,
) -> DataFrame:
    """Streaming decimal log-histogram of a money column (in integer
    cents), maintained per shard with applyInPandasWithState — the
    incremental form of q_quantile_sketch's histogram build: any
    quantile of everything-seen-so-far reads off the cumulative
    counts with the same < 1/11 relative-error bound, without
    re-scanning history. State is the histogram itself (≤ 90 cells
    per decade of the observed value range, regardless of row count);
    because histogram merge is a pure function of the multiset, the
    stream's final state equals the batch computation EXACTLY — the
    strongest stream≡batch law in this module (MG is split-dependent,
    CUSUM order-dependent; this is neither)."""

    def add(pdf: "pd.DataFrame") -> tuple[dict, int]:
        cents = _frame_cents(pdf, value_col)
        cents = cents[cents >= 10]
        counts = cents.map(_qh_lo).value_counts()
        return {int(lo): int(c) for lo, c in counts.items()}, len(cents)

    shard = shard if shard is not None else F.pmod(F.col("user_id"), F.lit(4))
    fold = _sketch_fold(
        "buckets", "counts", QH_OUTPUT_SCHEMA, QH_STATE_SCHEMA, add, _qh_merge
    )
    return _stateful(events.withColumn("shard", shard.cast("long")), "shard", fold)


def value_histogram_batch(
    events: DataFrame,
    value_col: str = "value",
    shard: Column | None = None,
    batch_key: Column | None = None,
) -> DataFrame:
    """Batch twin of :func:`running_value_histogram`: the same
    histogram from one JVM-side groupBy (cents → bucket lower bound
    via string ops, map-side combined) — no Python in the build; the
    arrays assemble from the ≤ cells-per-shard aggregate rows.

    ``batch_key`` mirrors heavy_hitters_batch: when given, batch_rows
    is the LAST batch group's count — matching the stream twin's
    final emission exactly, column for column. When None, the whole
    build IS one batch and batch_rows == total_rows by definition
    (not an oversight: there is no micro-batch split to report).

    REQUIREMENT (ADVICE r11 #3): "last" is the lexicographic max of
    ``batch_key`` AFTER the string cast, so the key must sort the
    same as strings as it does typed — timestamps and zero-padded
    indices do; a bare numeric index does NOT ('9' > '10'). Pass
    `F.lpad(idx.cast("string"), 6, "0")` for numeric batch ids."""
    shard = shard if shard is not None else F.pmod(F.col("user_id"), F.lit(4))
    cents = cents_col(value_col)
    sv = F.col("cents").cast("string")
    lo = (
        F.substring(sv, 1, 2).cast("long")
        * F.pow(F.lit(10), F.length(sv) - 2).cast("long")
    )
    base = (
        events.withColumn("shard", shard.cast("long"))
        .withColumn(
            "batch_key",
            (batch_key if batch_key is not None else F.lit("all")).cast("string"),
        )
        .select("shard", "batch_key", cents.alias("cents"))
        .filter(F.col("cents") >= 10)
        .select("shard", "batch_key", lo.alias("lo"))
    )
    per_bucket_batch = base.groupBy("shard", "batch_key", "lo").agg(
        F.count(F.lit(1)).alias("n")
    )
    last = per_bucket_batch.groupBy("shard").agg(F.max("batch_key").alias("__last_bk"))
    per_bucket = (
        per_bucket_batch.join(F.broadcast(last), "shard")
        .groupBy("shard", "lo")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.when(F.col("batch_key") == F.col("__last_bk"), F.col("n")).otherwise(0)).alias("n_last"),
        )
    )
    pairs = F.array_sort(F.collect_list(F.struct("lo", "n")))
    return per_bucket.groupBy("shard").agg(
        F.sum("n_last").alias("batch_rows"),
        F.sum("n").alias("total_rows"),
        F.transform(pairs, lambda x: x["lo"]).alias("buckets"),
        F.transform(pairs, lambda x: x["n"]).alias("counts"),
    )


# --- streaming CUSUM drift alarm --------------------------------------------

#: s is held in integer MICROS (1e-6 z-units): the recursion
#: s = max(0, s + dev) runs in exact int64 arithmetic, so the stream
#: and its batch twin agree bit-for-bit regardless of batch split
#: (float state would accumulate differently across micro-batches).
CUSUM_OUTPUT_SCHEMA = (
    "series_key STRING, batch_rows BIGINT, total_rows BIGINT, "
    "s_end DOUBLE, n_alarms BIGINT"
)
CUSUM_STATE_SCHEMA = "s_micros BIGINT, total_rows BIGINT, n_alarms BIGINT"

_M = 1_000_000


def _cusum_fold(
    s_micros: int, n_alarms: int, values, mean: float, std: float, k: float, h: float
) -> tuple[int, int, int]:
    """THE shared per-row fold (stream and batch twin): dev in micros
    via the det_round convention (floor(x·1e6 + 0.5)), then the
    clipped integer recursion; alarms counted when s crosses h."""
    import math

    h_micros = int(math.floor(h * _M + 0.5))
    n = 0
    for v in values:
        dev = int(math.floor(((v - mean) / std - k) * _M + 0.5))
        s_micros = max(0, s_micros + dev)
        if s_micros > h_micros:
            n_alarms += 1
        n += 1
    return s_micros, n_alarms, n


def _cusum_spec(mean: float, std: float, k: float, h: float) -> _Fold:
    def step(st: tuple, pdf: "pd.DataFrame") -> tuple[tuple, int]:
        s_micros, total_rows, n_alarms = st
        s_micros, n_alarms, n = _cusum_fold(
            s_micros, n_alarms, pdf["value"].tolist(), mean, std, k, h
        )
        return (s_micros, total_rows + n, n_alarms), n

    return _Fold(
        init=(0, 0, 0),
        step=step,
        emit=lambda key, st, n: {
            "series_key": key,
            "batch_rows": n,
            "total_rows": st[1],
            "s_end": st[0] / _M,
            "n_alarms": st[2],
        },
        output_schema=CUSUM_OUTPUT_SCHEMA,
        state_schema=CUSUM_STATE_SCHEMA,
        order=_TIME_ORDER,
    )


#: The stream's CUSUM slack ``k`` and alarm threshold ``h`` (z-units).
CUSUM_K = 0.5
CUSUM_H = 5.0


def running_cusum(
    events: DataFrame,
    mean: float,
    std: float,
    key_col: str = "event_type",
    expire_after_ms: int | None = None,
) -> DataFrame:
    """Streaming CUSUM drift alarm: per key, the one-sided
    s = max(0, s + ((value − mean)/std − k)) recursion (k =
    :data:`CUSUM_K`, alarm above h = :data:`CUSUM_H`) maintained
    across micro-batches with O(keys) state — the incremental form of
    q_cusum's batch reflection closed form, for when the drift gate
    must fire WITHIN the stream instead of at the nightly rollup.
    ``mean``/``std`` are reference statistics (from the training
    window, like PSI's baseline) — a drift detector that re-estimates
    its own baseline from the drifting stream defeats itself.

    ``expire_after_ms`` matters here MORE than anywhere else in this
    module: CUSUM keys on an unbounded-cardinality column (user,
    series) — without expiry that is exactly the state-store OOM the
    profile operator fixed. When set, ``events`` must carry a
    watermark and abandoned series are dropped (restart at s = 0 on
    return — the right semantics for a drift detector: a series
    silent for longer than the expiry horizon has no meaningful
    accumulated drift). The MG heavy-hitter and value-histogram twins
    stay NoTimeout BY DESIGN, not omission: they key on a fixed,
    small shard id (cardinality chosen at plan time) and their state
    is size-capped per shard (≤ k counters / ≤ 90 cells per decade),
    so state is bounded without expiry — and expiring a shard would
    silently discard the whole-history summary those sketches exist
    to maintain."""
    return _stateful(
        events, key_col, _cusum_spec(mean, std, CUSUM_K, CUSUM_H), expire_after_ms
    )


def running_cusum_batch(
    events: DataFrame,
    mean: float,
    std: float,
    k: float = CUSUM_K,
    h: float = CUSUM_H,
    key_col: str = "event_type",
) -> DataFrame:
    """Batch twin: one applyInPandas pass per key over the full
    history in (ts, event_id) order — produces the stream's FINAL
    state per key (same integer-micros fold).

    Equality with the stream holds only under IN-ORDER ARRIVAL: the
    clipped max(0, s+dev) recursion is order-sensitive, and the
    stream sorts only WITHIN each micro-batch, so micro-batch
    boundaries must respect global (ts, event_id) order for the two
    folds to agree bit-for-bit. File-source replay of time-ordered
    partitions satisfies this; an out-of-order event-time stream
    needs watermark-based reordering before the fold (integer-micros
    state removes float drift, not ordering sensitivity)."""
    return _replay(events, key_col, _cusum_spec(mean, std, k, h))


# --- streaming recursive EWMA -------------------------------------------------

#: like CUSUM, the EWMA level is held in integer MICROS and the
#: recursion s' = floor((A·x + (M−A)·s)/M) runs in exact int64
#: arithmetic — bit-stable across micro-batch splits under in-order
#: arrival (the float recursion would drift with the split points).
EWMA_OUTPUT_SCHEMA = (
    "series_key STRING, batch_rows BIGINT, total_rows BIGINT, ewma DOUBLE"
)
EWMA_STATE_SCHEMA = "s_micros BIGINT, total_rows BIGINT, started BOOLEAN"

EWMA_ALPHA_MICROS = 200_000  # α = 0.2 in millionths


def _ewma_fold(s_micros: int, started: bool, values) -> tuple[int, bool, int]:
    """THE shared per-row fold: seed at the first value, then the
    integer convex combination. floor-division is the quantization —
    both twins apply it identically per row, so state is split-point
    free. Micros derive via floor(v·1e6 + 0.5) (HALF_UP), matching
    the SQL oracle's floor(+0.5) — NOT Python round(), whose
    half-to-even would diverge on exact half-micro doubles. Values
    are non-negative money/latency readings (floor-division and
    HALF_UP both assume it)."""
    import math

    a = EWMA_ALPHA_MICROS
    n = 0
    for v in values:
        x = int(math.floor(v * _M + 0.5))
        if not started:
            s_micros, started = x, True
        else:
            s_micros = (a * x + (_M - a) * s_micros) // _M
        n += 1
    return s_micros, started, n


def _ewma_spec() -> _Fold:
    def step(st: tuple, pdf: "pd.DataFrame") -> tuple[tuple, int]:
        s_micros, total_rows, started = st
        s_micros, started, n = _ewma_fold(s_micros, started, pdf["value"].tolist())
        return (s_micros, total_rows + n, started), n

    return _Fold(
        init=(0, 0, False),
        step=step,
        emit=lambda key, st, n: {
            "series_key": key,
            "batch_rows": n,
            "total_rows": st[1],
            "ewma": st[0] / _M,
        },
        output_schema=EWMA_OUTPUT_SCHEMA,
        state_schema=EWMA_STATE_SCHEMA,
        order=_TIME_ORDER,
    )


def running_ewma(
    events: DataFrame,
    key_col: str = "event_type",
    expire_after_ms: int | None = None,
) -> DataFrame:
    """Streaming recursive EWMA per key — the infinite-history
    smoother (s' = α·x + (1−α)·s, α = :data:`EWMA_ALPHA_MICROS`) next
    to the batch q_ewma's trailing-frame form: where the frame EWMA
    re-reads its window every run, this carries ONE integer across
    micro-batches, the level a latency/price monitor consults
    mid-stream. Same state
    policy as running_cusum: unbounded-cardinality keys should pass
    ``expire_after_ms`` (EventTimeTimeout; a returning key re-seeds
    at its next value — exactly a fresh smoother); the default
    event_type key is bounded. Stream ≡ batch twin exactly under
    in-order arrival (integer-micros state; the same caveat as
    running_cusum_batch documents)."""
    return _stateful(events, key_col, _ewma_spec(), expire_after_ms)


def running_ewma_batch(events: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Batch twin: one applyInPandas pass per key over the full
    history in (ts, event_id) order — the stream's FINAL state."""
    return _replay(events, key_col, _ewma_spec())


# --- streaming HyperLogLog distinct count -------------------------------------

#: registers emit in canonical ascending-idx order; 256 cells split
#: across 4 shards by pmod(idx, 4) — state is ≤ 64 (idx, max-rho)
#: pairs per shard, FIXED regardless of key cardinality (the
#: MG/histogram exemption class: size-capped, NoTimeout by design).
HLL_OUTPUT_SCHEMA = (
    "shard BIGINT, batch_rows BIGINT, total_rows BIGINT, "
    "idxs ARRAY<BIGINT>, rs ARRAY<BIGINT>"
)
HLL_STATE_SCHEMA = "idxs ARRAY<BIGINT>, rs ARRAY<BIGINT>, total_rows BIGINT"

HLL_SHARDS = 4


def hll_rho_cols(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """JVM pre-reduce before any Python (the module discipline): the
    q_hll_registers md5-60 construction — 8 index bits, string-search
    leading-zero rank of the 52-bit tail — as Catalyst expressions, so
    only (shard, idx, r) triples cross Arrow into the state op."""
    h = hash60(F.col(key_col).cast("string"))
    idx, r = hll_register(F.col("h"))
    return events.select(h.alias("h")).select(
        idx.alias("idx"), r.cast("long").alias("r")
    ).withColumn("shard", F.pmod(F.col("idx"), F.lit(HLL_SHARDS)).cast("long"))


def _hll_merge(idxs: list, rs: list, add: dict) -> tuple[list, list]:
    """Register merge: elementwise max, in ascending-idx order — like
    the histogram merge, a pure function of the multiset."""
    m = dict(zip(idxs, rs))
    for idx, r in add.items():
        m[int(idx)] = max(m.get(int(idx), 0), int(r))
    pairs = sorted(m.items())
    return [i for i, _ in pairs], [int(r) for _, r in pairs]


def running_distinct_hll(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Streaming HLL distinct count of ``key_col``: 256 registers
    maintained across micro-batches in ≤ 64-cell-per-shard state —
    the incremental form of q_hll_registers / q_active_users_hll's
    register build, for when "distinct users so far" must exist
    WITHIN the stream. Because elementwise max is a pure function of
    the multiset (idempotent + commutative + associative), the
    stream's final registers equal the batch build EXACTLY — the
    value-histogram-class law, the strongest in this module — and
    any point-in-time estimate reads off the merged shard registers
    via `hll_estimate` (catalog_behavior.py). State never grows with
    key cardinality: the size-capped NoTimeout exemption class."""
    fold = _sketch_fold(
        "idxs", "rs", HLL_OUTPUT_SCHEMA, HLL_STATE_SCHEMA,
        add=lambda pdf: (pdf.groupby("idx")["r"].max().to_dict(), len(pdf)),
        merge=_hll_merge,
    )
    return _stateful(hll_rho_cols(events, key_col), "shard", fold)


def distinct_hll_batch(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Batch twin: the same (shard, idx, max r) registers from one
    JVM map-side-combined groupBy — no Python anywhere."""
    per_cell = (
        hll_rho_cols(events, key_col)
        .groupBy("shard", "idx")
        .agg(F.max("r").alias("r"), F.count(F.lit(1)).alias("n"))
    )
    pairs = F.array_sort(F.collect_list(F.struct("idx", "r")))
    return per_cell.groupBy("shard").agg(
        F.sum("n").alias("batch_rows"),
        F.sum("n").alias("total_rows"),
        F.transform(pairs, lambda x: x["idx"]).alias("idxs"),
        F.transform(pairs, lambda x: x["r"]).alias("rs"),
    )
