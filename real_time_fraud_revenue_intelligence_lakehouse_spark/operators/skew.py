"""Skew-mitigation operators for hot keys at 100 TB.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
kept on in session.py) covers sort-merge joins; two cases remain
manual and are provided here:

- :func:`salted_agg` — two-phase aggregation for hot *groupBy* keys:
  shard each group across ``salt`` sub-keys (partial agg), then
  reduce the shards (final agg). Converts one giant reducer into
  ``salt`` even ones at the cost of a second (tiny) shuffle. Only
  algebraic aggregates compose this way — the helper takes the
  partial and merge expression pairs explicitly.
- :func:`salted_broadcast_join` — replicate-and-salt for a skewed
  equi-join where the small side fits in a broadcast anyway; included
  for the pattern, since `F.broadcast` alone already solves that
  case. The genuinely hard case (both sides huge, one key hot) is
  AQE's job.

The fraud domain hits this on user_id (a bot account with millions of
events — `README.md:141` calls out the skew) and the LLM corpus on
stop-shingle LSH buckets (ext/dedup docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial: list[tuple[Column, str]],
    merge: list[tuple[str, str]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``partial``: (aggregate expression, alias) computed per
    (keys, shard). ``merge``: (merge function name, alias) folding the
    shards — e.g. partial ``(F.count(lit(1)), "n")`` merges with
    ``("sum", "n")``; partial max merges with max.

    Sharding uses a hash of the whole row's key columns plus
    `spark_partition_id` — deterministic enough to spread, cheap, and
    requiring no extra entropy column.
    """
    # pmod, not abs(hash)%salt: hash() can return Integer.MIN_VALUE,
    # whose abs() overflows negative and would land outside 0..salt-1.
    shard = F.pmod(F.hash(*[F.col(k) for k in keys], F.spark_partition_id()), F.lit(salt))
    staged = df.withColumn("_shard", shard)
    phase1 = staged.groupBy(*keys, "_shard").agg(
        *[expr.alias(alias) for expr, alias in partial]
    )
    phase2 = phase1.groupBy(*keys).agg(
        *[getattr(F, fn)(F.col(alias)).alias(alias) for fn, alias in merge]
    )
    return phase2


#: Replication factor of :func:`salted_broadcast_join`'s small side.
SALT = 8


def salted_broadcast_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Replicate the small side :data:`SALT`× with a salt column; salt the
    big side's key; equi-join on (key, salt). Shown for the pattern —
    prefer plain ``big.join(F.broadcast(small), key)`` whenever the
    small side fits in memory (Spark replicates a broadcast to every
    executor anyway, which is strictly better)."""
    salt = SALT
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    # pmod: abs(Integer.MIN_VALUE) is negative — a %-salted value with
    # no match in the replicated 0..salt-1 range silently drops the row.
    big_salted = big.withColumn("_salt", F.pmod(F.hash(F.col(key)), F.lit(salt)))
    return big_salted.join(small_rep, [key, "_salt"]).drop("_salt")
