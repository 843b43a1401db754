"""Trailing-window velocity counts — the fraud-feature workhorse.

The reference computes per-order user velocity (orders by the same
user in the trailing 1h/24h/7d, excluding the current one) as THREE
band self-joins + groupBy + three re-joins
(`build_fraud_features.py:68-134`) — six shuffles of the full fact
table. The engine's primary form is a single pass of range-frame
window aggregates: one shuffle on the user key, all windows computed
in the same sort, linear scan per partition. At 100 TB this is the
difference between 6 full-table shuffles and 1.

Semantics (must match exactly, SURVEY §7 risk list): strict interval
``[ts - W, ts)`` in epoch **milliseconds** — rows at exactly
``ts - W`` are included, rows at ``ts`` (peers) are excluded. The
range frame ``rangeBetween(-W, -1)`` on the ms column encodes this
directly; the self-join form uses ``h.ms >= e.ms - W AND h.ms < e.ms``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MS = {"1h": 3_600_000, "24h": 86_400_000, "7d": 604_800_000}


def velocity_rangeframe(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    windows: dict[str, int] = MS,
    prefix: str = "velocity_",
) -> DataFrame:
    """Idiomatic form: one sort per user, N range-frame counts.

    Adds ``{prefix}{name}`` long columns. Single exchange on
    ``user_col`` (hash partition) + in-partition sort on the epoch-ms
    key; skewed power-users are handled by AQE skew splitting since
    the window is per-user (a single user's rows must co-locate —
    salting is not applicable; for a pathological single-user skew,
    pre-aggregate per (user, ms) first).
    """
    ms = F.unix_millis(F.col(ts_col))
    out = df.withColumn("_ms", ms)
    for name, width in windows.items():
        w = Window.partitionBy(user_col).orderBy("_ms").rangeBetween(-width, -1)
        out = out.withColumn(prefix + name, F.count(F.lit(1)).over(w))
    return out.drop("_ms")


def velocity_selfjoin(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    key_cols: list[str],
    prefix: str = "velocity_",
) -> DataFrame:
    """Reference-shaped form (`build_fraud_features.py:68-134`): a
    band self-join + count per window, re-joined on the row key.
    Kept as a cross-check oracle for the range-frame form (tests
    assert equality) and for engines/cases where a range frame is
    unavailable. O(windows) shuffles — do not use at scale."""
    ms = F.unix_millis(F.col(ts_col))
    cur = df.withColumn("_ms", ms)
    hist = cur.select(
        F.col(user_col).alias("_h_user"), F.col("_ms").alias("_h_ms")
    )
    out = cur
    for name, width in MS.items():
        cond = (
            (F.col(user_col) == F.col("_h_user"))
            & (F.col("_h_ms") >= F.col("_ms") - width)
            & (F.col("_h_ms") < F.col("_ms"))
        )
        counts = (
            cur.join(hist, cond, "left")
            .groupBy(*key_cols)
            .agg(F.count("_h_ms").alias(prefix + name))
        )
        out = out.join(counts, key_cols, "left")
    return out.drop("_ms").fillna({prefix + n: 0 for n in MS})
