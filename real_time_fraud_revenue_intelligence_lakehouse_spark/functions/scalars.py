"""Scalar/aggregate expression helpers shared across operators.

All JVM-native Catalyst expressions (zero Python UDFs — reference's
only UDF, the country-risk dict lookup at
`transform_transactions.py:41-48`, is re-expressed as a literal map /
CASE so plans stay inside whole-stage codegen).

Determinism note: `sum(double)` is order-dependent, and at 100 TB the
partial-aggregation order is never stable. Money aggregates therefore
sum through `decimal(18,2)` (exact, associative) and only cast back to
double at the end — same trick the DuckDB oracle uses, so results are
bit-identical AND plan-stable. This replaces the reference's implicit
"double sums + round(…, 2)" convention (`revenue_aggregations.py:66-79`).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DEC = "decimal(18,2)"
# Wide accumulator for sums of money at 100 TB row counts.
SUM_DEC = "decimal(38,2)"


def det_round(col: Column, ndigits: int = 4) -> Column:
    """Engine-portable deterministic rounding.

    `round()` tie-breaking differs between engines (Spark HALF_UP
    BigDecimal vs DuckDB's float rounding), which flips the last digit
    on exact half-way doubles. `floor(x*10^n + 0.5)/10^n` is plain
    IEEE-754 arithmetic — bit-identical everywhere for identical
    inputs. The DuckDB oracles use the same formula (ROUND_SQL).

    DOMAIN BOUND: Spark's floor(double) returns LONG, so |x|·10^n
    must stay below 2^63 (DuckDB floors in double and silently keeps
    going — the engines DIVERGE past the bound instead of erroring;
    q_cusum round 6 hit this on raw rev² moments). For squares or
    products of large values, center first (two-pass variance — see
    q_cusum/q_ols_trend/q_seasonal_anomaly) or accumulate exact
    decimals without rounding (q_stats_agg's decimal moments).
    """
    scale = F.lit(float(10**ndigits))
    return F.floor(col * scale + F.lit(0.5)) / scale


#: SQL twin of :func:`det_round` — format with ``c`` (expression) and
#: ``s`` (10**ndigits, as a float literal).
ROUND_SQL = "(floor(({c}) * {s} + 0.5) / {s})"

#: :data:`ROUND_SQL` at 6 digits — format with ``c`` only.
R6_SQL = "(floor(({c}) * 1000000.0 + 0.5) / 1000000.0)"

#: 10**6 as a float: the fixed-point scale of 6-digit micro-unit sums.
MICRO = 1_000_000.0


def r6(x: float) -> float:
    """:func:`det_round` to 6 digits of a driver-side Python float."""
    return math.floor(x * MICRO + 0.5) / MICRO


#: The 80/20 train/validation split key of an order, as DuckDB SQL:
#: the first 15 hex digits (60 bits) of md5(o_orderkey), mod 100.
H60_OK_SQL = "('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 100"


def exact_sum(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent money sum: decimal-accumulated, double out."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(MONEY_DEC)).cast("double")
    return out.alias(alias) if alias else out


def exact_avg(col: str | Column, ndigits: int = 4, alias: str | None = None) -> Column:
    """Deterministic mean: exact decimal sum / count, rounded.

    Plain `avg(double)` differs across partition orders; this form is
    reproducible on any cluster layout.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = det_round(F.sum(c.cast(MONEY_DEC)).cast("double") / F.count(c), ndigits)
    return out.alias(alias) if alias else out


def rate(num: Column, den: Column, ndigits: int = 4, eps: float = 0.001) -> Column:
    """ε-guarded ratio, reproducing the reference's hash-visible
    `round(x / (y + 0.001), 4)` convention (`revenue_aggregations.py:80-85`)."""
    return det_round(num / (den + F.lit(eps)), ndigits)


def epoch_ms(ts: str | Column) -> Column:
    """Timestamp → epoch milliseconds (the reference's load-bearing
    `created_at` convention, FIXTURES.md §conventions)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_millis(c)


def amount_tier(amount: str | Column) -> Column:
    """5-way amount tiering ladder, cuts 50/200/1000/5000
    (`transform_transactions.py:109-117`)."""
    c = F.col(amount) if isinstance(amount, str) else amount
    return (
        F.when(c < 50, "micro")
        .when(c < 200, "low")
        .when(c < 1000, "medium")
        .when(c < 5000, "high")
        .otherwise("premium")
    )


def mask_dotted(col: str | Column, keep: int = 2, total: int = 4) -> Column:
    """PII masking: keep the first ``keep`` dot-separated octets,
    star the rest (`transform_transactions.py:118-123`)."""
    c = F.col(col) if isinstance(col, str) else col
    parts = [F.split(c, r"\.")[i] for i in range(keep)] + [F.lit("*")] * (total - keep)
    return F.concat_ws(".", *parts)


def surrogate_key(*cols: str | Column) -> Column:
    """md5 surrogate key over '-'-joined string casts
    (dbt `generate_surrogate_key.sql:1-18`)."""
    casted = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(""))
        for c in cols
    ]
    return F.md5(F.concat_ws("-", *casted))
