"""Distributed exact global ranking — row_number without the
single-partition window.

``row_number().over(Window.orderBy(...))`` with an empty partition
spec plans as ``Exchange SinglePartition`` + one-partition sort: every
row moves to one task, which is the one plan shape that cannot survive
a 100 TB fact table. But exact global rank does not need a global
window — it needs band boundaries (any boundaries) plus the
observation that per-band *counts* are enough to offset band-local
ranks into exact global ones:

1. one aggregate pass builds quantile-sketch boundaries over the score
   (``percentile_approx`` — a mergeable sketch, map-side combined) and
   ships the ~``bands`` values to the driver (tiny scalar collect, the
   same sanctioned pattern as the IVF centroid broadcast);
2. every row's band is a *pure literal expression* of its score —
   deterministic by construction, so every branch of a multi-branch
   plan assigns identical bands (this is why the band id is NOT
   ``spark_partition_id()`` after a sampled range exchange: the sample
   is nondeterministic and plan branches that re-execute the exchange
   can disagree);
3. ``row_number`` partitioned by band — ``bands``-way parallel
   WindowExec, never SinglePartition;
4. per-band counts (≤ bands+1 rows) → prefix-sum offsets, broadcast
   back; global rank = offset + band-local rank.

The result is bit-identical to the single-partition form: ties on the
score all land in one band (bands are half-open score intervals), so
the tiebreak columns only ever order rows *within* a band, and sketch
error only skews band *sizes*, never band *order*. Exactness holds for
any boundary quality.

Reference parity: the reference ranks scored orders driver-side after
a full sort (`ml/models/evaluate.py` gains-table helper); this is the
shape that replaces it at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BAND = "__rank_band"
_LOCAL_RN = "__local_rn"

#: percentile_approx accuracy for the band-boundary sketches. Band
#: boundaries only shape band SIZES — every operator here is exact for
#: any boundary quality (ties share a band by construction; selection
#: and offsets are positional) — so the sketch does not need the
#: 10000-default precision. 1000 still bounds band-size error well
#: under the band width (bands ≤ 64 ≪ 1000) and cuts the dominant
#: sketch-update cost of the eager boundary job ~2-3x (measured on
#: q_theil_sen's 2.9M-slope multiset: 10.8 s → 4.5 s build).
SKETCH_ACC = 1000

#: r16 (guide §1.2 step 1): the boundary sketch also does not need
#: every ROW — a deterministic 1/16 value-hash sample skews band
#: sizes by at most a few percent while cutting the eager boundary
#: job's sketch-update cost 16x. Sampling by xxhash64 of the VALUE
#: keeps the predicate deterministic across retries and plan
#: branches (ties sample together — they already share a band). A
#: sample too small to yield boundaries degrades to fewer (at worst
#: one) bands — still positionally exact, just less parallel, and
#: only reachable for inputs of a few dozen rows.
_SAMPLE_MOD = 16


def _boundary_sketch(col: Column, qs: list[float]) -> Column:
    """Sketch over the hash-sampled values: non-sampled rows feed
    NULL (percentile_approx skips nulls), so the sample rides the
    same aggregate job as any sibling accumulators."""
    sampled = F.when(F.pmod(F.xxhash64(col), F.lit(_SAMPLE_MOD)) == 0, col)
    return F.percentile_approx(
        sampled, F.array(*[F.lit(q) for q in qs]), F.lit(SKETCH_ACC)
    )


def distributed_row_number(
    df: DataFrame,
    score: str,
    tiebreak: list[Column],
    descending: bool = True,
    bands: int = 32,
    rn_col: str = "rn",
    total_col: str | None = None,
) -> DataFrame:
    """Append exact global ``row_number`` under
    ``(score DESC|ASC, *tiebreak)`` — which must be a total order, so
    include a unique tiebreak — as ``rn_col``, plus the total row count
    as ``total_col`` when requested. No unpartitioned window anywhere:
    one sketch-aggregate job at plan time (eager, like the iterative
    operators), then one ``bands``-way window + one tiny broadcast
    join. ``score`` must be non-null and numeric.
    """
    qs = [j / bands for j in range(1, bands)]
    row = df.select(
        _boundary_sketch(F.col(score).cast("double"), qs).alias("b")
    ).first()
    raw = row["b"] if row is not None and row["b"] is not None else []
    # Duplicate boundaries (heavy ties) collapse into one band.
    bounds = sorted(set(raw), reverse=descending)

    score_d = F.col(score).cast("double")
    band = F.lit(0)
    for b in bounds:
        # Descending rank: band 0 holds score >= b_max, ties inclusive
        # on the high side; ascending mirrors. Half-open intervals ⇒
        # equal scores always share a band.
        band = band + F.when(score_d < F.lit(b) if descending else score_d > F.lit(b), 1).otherwise(0)

    order = [F.desc(score) if descending else F.asc(score), *tiebreak]
    banded = df.withColumn(_BAND, band.cast("int"))
    local = banded.withColumn(
        _LOCAL_RN, F.row_number().over(Window.partitionBy(_BAND).orderBy(*order))
    )
    counts = banded.groupBy(_BAND).agg(F.count(F.lit(1)).alias("__n"))
    # ≤ bands+1 rows: the prefix sum every distributed sort does on the
    # driver; kept as a plan node so lineage stays pure.
    off_w = Window.orderBy(_BAND).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _BAND,
        F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__offset"),
        F.sum("__n").over(Window.partitionBy(F.lit(1))).alias("__total"),
    )
    out = (
        local.join(F.broadcast(offsets), _BAND)
        .withColumn(rn_col, (F.col("__offset") + F.col(_LOCAL_RN)).cast("long"))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__total").cast("long"))
    return out.drop(_BAND, _LOCAL_RN, "__offset", "__total")


def ntile_banded(
    df: DataFrame,
    k: int,
    score: str,
    tiebreak: list[Column],
    descending: bool = False,
    bands: int = 32,
    out_col: str = "ntile",
) -> DataFrame:
    """Exact SQL ``ntile(k)`` over ``(score, *tiebreak)`` (a total
    order) without a single-partition window: global rank from
    :func:`distributed_row_number`, then the standard remainder rule
    — with n rows, q = n÷k and r = n mod k, the first r tiles hold
    q+1 rows, the rest q — as a row-local expression. Bit-identical
    to ``ntile(k) OVER (ORDER BY ...)``; pinned by
    tests/test_operators.py against the window form."""
    ranked = distributed_row_number(
        df, score, tiebreak, descending=descending, bands=bands,
        rn_col="__rn", total_col="__n",
    )
    q = F.floor(F.col("__n") / k)
    r = F.col("__n") % k
    cut = r * (q + 1)
    # greatest(q, 1): when n < k the otherwise-branch is unreachable
    # (cut = n), but ANSI mode must never see a division by zero.
    tile = F.when(
        F.col("__rn") <= cut, F.floor((F.col("__rn") - 1) / (q + 1)) + 1
    ).otherwise(r + F.floor((F.col("__rn") - cut - 1) / F.greatest(q, F.lit(1))) + 1)
    return ranked.withColumn(out_col, tile.cast("int")).drop("__rn", "__n")


def rank_positions(
    df: DataFrame,
    score: str,
    tiebreak: list[Column],
    bands: int = 32,
    pct_col: str | None = "pct_rank",
    cume_col: str | None = "cume_dist",
) -> DataFrame:
    """``percent_rank`` / ``cume_dist`` over a TOTAL ascending order
    (the tiebreak makes every row's rank unique, so percent_rank's
    tie-group semantics reduce to (rn−1)/(n−1) and cume_dist's to
    rn/n) — again rank-distributed instead of single-partition.
    n = 1 degenerates percent_rank to 0 (the SQL convention)."""
    ranked = distributed_row_number(
        df, score, tiebreak, descending=False, bands=bands,
        rn_col="__rn", total_col="__n",
    )
    if pct_col is not None:
        pct = F.when(F.col("__n") > 1,
                     (F.col("__rn") - 1).cast("double") / (F.col("__n") - 1)).otherwise(0.0)
        ranked = ranked.withColumn(pct_col, pct)
    if cume_col is not None:
        ranked = ranked.withColumn(
            cume_col, F.col("__rn").cast("double") / F.col("__n")
        )
    return ranked.drop("__rn", "__n")


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    bands: int = 32,
    exclusive: bool = False,
    prefix: str = "cum_",
    total_sums: list[str] | None = None,
):
    """Exact global cumulative sums of ``value_cols`` in ascending
    ``order_col`` order without a single-partition window — the prefix-sum sibling
    of :func:`distributed_row_number` (CDFs, rank sums, gains curves):
    sketch-banded boundaries, per-band local cumulative windows
    (bands-way parallel), and per-band totals prefix-summed over the
    ≤ bands+1-row frame then broadcast back as offsets.

    ``order_col`` values must be UNIQUE (callers pass distinct-value
    tables — the KS/AUC reductions); with ties an inclusive running
    sum is not well-defined independently of sort stability.
    ``exclusive=True`` gives the sum of STRICTLY-preceding rows (0 for
    the global first row). Output columns: ``prefix + value_col``.

    ``total_sums`` (r16, guide §1.2): column names whose GRAND totals
    the caller needs anyway (AUC's n_pos/n_neg, KS's class counts) —
    they ride the already-eager boundary-sketch job as extra exact
    sums and come back as Python scalars, so the caller folds them in
    as literals instead of growing the plan a totals subtree + a
    broadcast crossJoin over the same input. Returns
    ``(DataFrame, {col: total})`` when given, a bare DataFrame
    otherwise."""
    qs = [j / bands for j in range(1, bands)]
    aggs = [_boundary_sketch(F.col(order_col).cast("double"), qs).alias("b")]
    for v in total_sums or []:
        aggs.append(F.sum(v).alias(f"__tot_{v}"))
    row = df.select(*aggs).first()
    total_vals = (
        {v: (row[f"__tot_{v}"] if row is not None else None) for v in total_sums}
        if total_sums is not None
        else None
    )
    raw = row["b"] if row is not None and row["b"] is not None else []
    bounds = sorted(set(raw))
    od = F.col(order_col).cast("double")
    band = F.lit(0)
    for b in bounds:
        band = band + F.when(od > F.lit(b), 1).otherwise(0)

    order = [F.asc(order_col)]
    banded = df.withColumn(_BAND, band.cast("int"))
    frame_end = -1 if exclusive else 0
    w_local = (
        Window.partitionBy(_BAND)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    out = banded
    for v in value_cols:
        out = out.withColumn(
            f"__local_{v}", F.coalesce(F.sum(v).over(w_local), F.lit(0))
        )
    totals = banded.groupBy(_BAND).agg(
        *[F.sum(v).alias(f"__t_{v}") for v in value_cols]
    )
    off_w = Window.orderBy(_BAND).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _BAND,
        *[
            F.coalesce(F.sum(f"__t_{v}").over(off_w), F.lit(0)).alias(f"__off_{v}")
            for v in value_cols
        ],
    )
    out = out.join(F.broadcast(offsets), _BAND)
    for v in value_cols:
        out = out.withColumn(prefix + v, F.col(f"__off_{v}") + F.col(f"__local_{v}"))
    drop = [_BAND] + [f"__local_{v}" for v in value_cols] + [f"__off_{v}" for v in value_cols]
    out = out.drop(*drop)
    if total_vals is not None:
        return out, total_vals
    return out


def select_kth(
    df: DataFrame, col: str, k: int | None = None, bands: int = 64,
    n: int | None = None,
):
    """Exact k-th smallest of ``df[col]`` (1-indexed; default k =
    floor((n+1)/2), the lower median) by distributed SELECTION, not
    sorting: one fused count+boundary-sketch aggregate, count per band
    (≤ bands+1 numbers to the driver), then index into the one
    ~n/bands-sized band that contains rank k via a sorted collect_list
    aggregate — three cheap scans, no global sort, no
    single-partition window. This is the classic two-pass selection
    every distributed median needs once |values| stops fitting a
    groupBy-CDF comfortably (Theil-Sen's |days|² slope multiset).
    Returns a Python scalar (the IVF-centroid-class tiny collect);
    None on empty input. Duplicate values are handled exactly — bands
    count multiplicity and the in-band index is positional. Pass
    ``n`` when the caller already counted (skips nothing — the count
    rides the boundary aggregate — but keeps k consistent with the
    caller's bookkeeping)."""
    if n is not None and 0 < n <= 100_000:
        # r16 (guide §1.2): when the caller already knows n (Theil-Sen
        # counted the 2.4k-day frame) and the input is small-path
        # sized, the count+sketch aggregate buys nothing — one
        # sorted-array agg IS the selection AND the validation: the
        # collected length is the true count, checked against the
        # caller's n before indexing (the ADVICE r11 #4 guard, just
        # enforced from the same single job).
        kk = (n + 1) // 2 if k is None else k
        row = df.agg(F.sort_array(F.collect_list(col)).alias("arr")).first()
        arr = row["arr"] if row is not None else []
        if len(arr) != n:
            raise ValueError(
                f"select_kth: caller-supplied n={n} outside actual row "
                f"count {len(arr)}"
            )
        if not 1 <= kk <= n:
            raise ValueError(
                f"select_kth: k={kk} outside actual row count {n} "
                f"(caller-supplied n={n})"
            )
        return arr[kk - 1]
    qs = [j / bands for j in range(1, bands)]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        _boundary_sketch(F.col(col).cast("double"), qs).alias("b"),
    ).first()
    n = row["n"] if n is None else n
    if row["n"] == 0:
        return None
    k = (n + 1) // 2 if k is None else k
    # Validate k against the freshly computed count, not the caller's
    # n: an overstated n would otherwise surface as a null getItem or
    # a TypeError deep in the band scan (ADVICE r11 #4).
    if not 1 <= k <= row["n"]:
        raise ValueError(
            f"select_kth: k={k} outside actual row count {row['n']} "
            f"(caller-supplied n={n})"
        )
    if n <= 100_000:
        # Small input: one sorted-array agg IS the selection — skips
        # the band-count and band-filter jobs (each eager job costs
        # ~0.2 s of scheduling at any size; Theil-Sen's residual
        # median runs over |days| ~ 2.4k rows).
        return (
            df.agg(F.sort_array(F.collect_list(col)).getItem(k - 1).alias("v"))
            .first()["v"]
        )
    bounds = sorted(set(row["b"] if row["b"] is not None else []))
    cd = F.col(col).cast("double")
    band = F.lit(0)
    for b in bounds:
        band = band + F.when(cd > F.lit(b), 1).otherwise(0)
    banded = df.withColumn("__band", band.cast("int"))
    counts = {
        r["__band"]: r["cnt"]
        for r in banded.groupBy("__band").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    seen = 0
    target, local_k = max(counts), None
    for t in sorted(counts):
        if seen + counts[t] >= k:
            target, local_k = t, k - seen
            break
        seen += counts[t]
    assert local_k is not None  # unreachable after the k<=actual gate
    return (
        banded.filter(F.col("__band") == target)
        .agg(F.sort_array(F.collect_list(col)).getItem(local_k - 1).alias("v"))
        .first()["v"]
    )


def rank_distributed(spark) -> bool:
    """Deployment switch for the rank-family physical strategy:
    ``spark.rtfril.rank.distributed=true`` makes the ntile/percentile
    queries over per-entity aggregates use the banded operators above
    instead of a one-partition window. Default false: at bench scale
    the aggregate frames are small and the single sort is measured
    ~3× cheaper; at 1e9-entity scale the switch flips — same results
    bit-for-bit (equality-tested at operator and query level), the
    stats-driven choice Catalyst itself makes between broadcast and
    shuffle joins, surfaced as a conf because Spark has no cardinality
    estimate for "how big will this aggregate be"."""
    return (
        str(spark.conf.get("spark.rtfril.rank.distributed", "false")).lower()
        == "true"
    )
