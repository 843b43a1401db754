"""Scale probes — data-bound rows that make parallelism visible to
the bench's multi-core-count scaling comparison (r17, VERDICT r16 #3).

At sf0.1 the declared suite is fixed-overhead-bound (eager driver
jobs, AQE stage scheduling, py4j — the r16 profiler finding), so its
wall time barely responds to the core count and a cores-halved bench
run reads ≈1.0 ratios on almost every row. These two rows amplify the
fact tables in-plan to the point where executor compute dominates:
their 8-core/32-core wall ratio tracks the core ratio, which is the
property the scaling block needs at least one honest witness for.

Amplification is a Generate node — ``explode(sequence(0, N-1))``
appends a copy index to every scanned row, so each scan task
manufactures its own copies in place: one parquet scan, O(1) plan
size, no join, and the generated work divides evenly across however
many cores the session has (a 16-arm UNION ALL was measured first
and rejected: its per-arm planning and scan scheduling are
core-independent, so it saturated at ~8 cores).

Rules these rows obey like every declared row: computed from the
parquet inputs on every invocation (the amplification is plan-side —
nothing is persisted or memoized), exact decimal folds so any
partition layout hashes identically, and a DuckDB oracle that unrolls
the same copies (``CROSS JOIN range(N)``). The amplification factors
are module constants — part of the query identity; the oracle bakes
the same count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import (
    R4_SQL,
    SUM_SQL,
    WIDE_SUM_SQL,
    det_round,
    exact_sum,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.plans.registry import query
from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.tables import read_table


#: Scan-probe amplification: 64 generated copies of lineitem put
#: ~38M decimal-summed rows through one aggregate at sf0.1 — enough
#: that the fold stage is compute-bound on any local core count.
AMP_SCAN = 64

#: Join-probe amplification: 24 copies of lineitem AND orders; the
#: copy offset keys each copy into its own orderkey space so the join
#: cardinality scales linearly with the data volume, not
#: quadratically across copies. 10^12 clears TPC-H orderkeys up to
#: ~SF1000.
AMP_JOIN = 24
_KEY_OFF = 10**12


def _amp(df: DataFrame, copies: int, shift: str | None = None) -> DataFrame:
    """``copies`` generated copies of every row (one Generate node);
    the ``shift`` key column, if given, moves copy ``i`` into its own
    key space at ``+ i * 10^12``. Pure Catalyst — recomputed from the
    parquet scan on every run.

    The skinny base rows are first spread to the session's
    defaultParallelism: the Generate multiplies rows *within* its
    task, so without the spread the amplified fold inherits the scan's
    split count (one small parquet file at bench scale → a handful of
    tasks → core count invisible, measured 24.8 s flat at 8 and 32
    cores). The exchange moves only the un-amplified rows — a few MB —
    and its width tracks whatever core count the session has, which is
    the very thing the probe exists to expose."""
    sc = df.sparkSession.sparkContext
    out = df.repartition(sc.defaultParallelism).withColumn(
        "__copy", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(copies - 1).cast("long")))
    )
    if shift is not None:
        out = out.withColumn(shift, F.col(shift) + F.col("__copy") * F.lit(_KEY_OFF))
    return out.drop("__copy")


def _amp_sql(table: str, copies: int, shift: str | None = None) -> str:
    if shift is None:
        return f"SELECT t.* FROM {table} t CROSS JOIN range({copies}) c(i)"
    return (
        f"SELECT t.* EXCLUDE ({shift}), t.{shift} + c.i * {_KEY_OFF} AS {shift} "
        f"FROM {table} t CROSS JOIN range({copies}) c(i)"
    )


@query(
    "q_scale_probe_scan",
    oracle=f"""
    WITH amp AS ({_amp_sql("lineitem", AMP_SCAN)})
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           {WIDE_SUM_SQL.format(c='l_quantity')} AS sum_qty,
           {WIDE_SUM_SQL.format(c='l_extendedprice')} AS sum_price,
           {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l_extendedprice * (1 - l_discount)'))} AS sum_disc,
           {WIDE_SUM_SQL.format(c=R4_SQL.format(c='l_extendedprice * (1 - l_discount) * (1 + l_tax)'))} AS sum_charge
    FROM amp
    GROUP BY 1, 2
    """,
    tags=("scale-probe", "aggregate"),
)
def q_scale_probe_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compute-bound scan/aggregate witness for the scaling block:
    AMP_SCAN generated copies of lineitem through one grouped
    chained-arithmetic decimal aggregate (the q_pricing_summary shape
    at ~64x the rows). Map-side partial aggregation makes the
    exchange a few dozen rows; all the wall time is the amplified
    fold, which is exactly the work that should halve when the core
    count doubles (measured 4.3 s at 32 cores vs 10.2 s at 8)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    )
    amp = _amp(li, AMP_SCAN)
    dec = lambda c: c.cast("decimal(38,4)")
    # chained double products take the portable floor-round BEFORE
    # decimal accumulation — double->decimal casts tie-break
    # differently across engines (see q_pricing_summary).
    disc = dec(det_round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
    charge = dec(det_round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 4
    ))
    return amp.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_price"),
        F.sum(disc).cast("double").alias("sum_disc"),
        F.sum(charge).cast("double").alias("sum_charge"),
    )


@query(
    "q_scale_probe_join",
    oracle=f"""
    WITH li AS ({_amp_sql("lineitem", AMP_JOIN, "l_orderkey")}),
         o AS ({_amp_sql("orders", AMP_JOIN, "o_orderkey")})
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           {SUM_SQL.format(c="li.l_extendedprice")} AS revenue
    FROM li JOIN o ON li.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    tags=("scale-probe", "join"),
)
def q_scale_probe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-bound join witness for the scaling block: AMP_JOIN
    key-shifted copies of lineitem joined to the matching copies of
    orders (offsets keep copies disjoint, so join cardinality scales
    linearly with the amplification) and reduced per priority. The
    sort-merge/shuffled-hash exchange over the amplified fact rows is
    the dominant stage — the shuffle-read path whose core-count
    response the scaling comparison wants to see."""
    li = _amp(
        read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        AMP_JOIN,
        "l_orderkey",
    )
    o = _amp(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        AMP_JOIN,
        "o_orderkey",
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum("l_extendedprice", "revenue"),
        )
    )
