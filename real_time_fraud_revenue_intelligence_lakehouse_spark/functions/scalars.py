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


def det_round_sql(c: str, ndigits: int = 4) -> str:
    """:data:`ROUND_SQL` of the SQL expression ``c`` at ``ndigits``."""
    return ROUND_SQL.format(c=c, s=float(10**ndigits))


#: :data:`ROUND_SQL` at 2, 4, 6 and 8 digits — format with ``c`` only.
R2_SQL, R4_SQL, R6_SQL, R8_SQL = (det_round_sql("{c}", k) for k in (2, 4, 6, 8))

#: The round6 sigmoid of a logit ``z`` (SQL text, format with ``z``).
SIGMOID6_SQL = R6_SQL.format(c="1.0 / (1.0 + exp(-({z})))")
#: The round6 sigmoid of a rows CTE's ensemble logit column ``f``.
SIGMOID6_F_SQL = R6_SQL.format(c="1.0 / (1.0 + exp(-f))")

#: SQL twins of :func:`exact_sum` / :func:`exact_avg` (4 digits) —
#: format with ``c``, a column name.
SUM_SQL = f"cast(sum(cast({{c}} as {MONEY_DEC})) as double)"
AVG_SQL = R4_SQL.format(c=f"{SUM_SQL} / count({{c}})")

#: A sum at 4 decimal places in a wide accumulator, double out (SQL,
#: format with ``c``) — for values with four decimals, such as
#: price × (1 − discount).
WIDE_SUM_SQL = "cast(sum(cast({c} as decimal(38,4))) as double)"

#: Decimal-exact lineitem revenue sum, Σ extendedprice · (1 − discount),
#: as a double (SQL; :func:`rev_sum` is the Spark twin).
REV_SUM_SQL = (
    f"cast(sum(cast(l_extendedprice as {MONEY_DEC}) "
    f"* (1 - cast(l_discount as {MONEY_DEC}))) as double)"
)

#: 52-bit md5 fraction numerator of the VARCHAR ``x`` (SQL): 13 hex
#: chars = 52 bits < 2^53, so the integer is EXACT in a double and
#: h / TWO52 is one correctly-rounded IEEE division — bit-identical in
#: any engine. :func:`h52` is the Spark twin.
H52_SQL = "('0x' || substr(md5({x}), 1, 13))::BIGINT"
TWO52 = float(2**52)

#: The first 15 hex digits (60 bits) of md5 of the VARCHAR ``x`` (SQL).
H60_SQL = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

#: HyperLogLog register (idx, r) of a 60-bit hash column ``h`` (SQL):
#: the top 8 bits, and the leading-zero rank of the 52-bit tail (53
#: for a zero tail). ext/text.hll_register is the Spark twin.
HLL_REGISTER_SQL = """(h >> 52) AS idx,
             CASE WHEN (h & 4503599627370495) = 0 THEN 53
                  ELSE strpos(lpad(bin(h & 4503599627370495), 52, '0'), '1')
             END AS r"""

#: 10**6 as a float: the fixed-point scale of 6-digit micro-unit sums.
MICRO = 1_000_000.0


def r6(x: float) -> float:
    """:func:`det_round` to 6 digits of a driver-side Python float."""
    return math.floor(x * MICRO + 0.5) / MICRO


#: The 80/20 train/validation split key of an order, as DuckDB SQL:
#: the first 15 hex digits (60 bits) of md5(o_orderkey), mod 100.
H60_OK_SQL = H60_SQL.format(x="o_orderkey::VARCHAR") + " % 100"


def exact_sum(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent money sum: decimal-accumulated, double out."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(MONEY_DEC)).cast("double")
    return out.alias(alias) if alias else out


def rev_sum() -> Column:
    """Spark twin of :data:`REV_SUM_SQL`: the decimal-exact revenue
    sum over l_extendedprice / l_discount."""
    p = F.col("l_extendedprice").cast(MONEY_DEC)
    d = F.col("l_discount").cast(MONEY_DEC)
    return F.sum(p * (F.lit(1) - d)).cast("double")


def h52(c: Column) -> Column:
    """Spark twin of :data:`H52_SQL` (same md5 hex prefix, same
    52-bit integer)."""
    return F.conv(F.substring(F.md5(c), 1, 13), 16, 10).cast("long")


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
