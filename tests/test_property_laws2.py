"""Property-law tests, batch 2: SimHash (signature bits + pigeonhole
blocking) and the rolling hash replicated in pure Python from the
md5 definition, and the DQ fused-counts ≡ per-check law.

The Python references here re-derive the ENGINE's own hash math
(md5-60bit, ±1 bit votes, Rabin–Karp fold) from its documented
definition — so a passing run pins the cross-engine contract the
DuckDB oracles rely on, not just internal consistency.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=10,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

SIMHASH_BITS = 16
ROLL_BASE = 31
ROLL_MOD = (1 << 31) - 1


def h60(tok: str) -> int:
    """Python twin of text.hash60: first 15 md5 hex digits as int."""
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)


def py_simhash(toks: list[str], bits: int = SIMHASH_BITS) -> int:
    votes = [0] * bits
    for t in toks:
        h = h60(t)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(bits) if votes[b] > 0)


texts_strategy = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "x"]), min_size=1, max_size=6),
    min_size=0,
    max_size=8,
)


@given(docs=texts_strategy)
@SETTINGS
def test_simhash_pigeonhole_equals_python_brute(spark, docs):
    """Blocked simhash_pairs == brute force over signatures computed
    INDEPENDENTLY in Python from the md5 definition: same signatures,
    and the pigeonhole block join loses no pair with Hamming <= 3."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import simhash, simhash_pairs

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = (
        spark.createDataFrame(rows, "doc_id LONG, text STRING")
        if rows
        else spark.createDataFrame([], "doc_id LONG, text STRING")
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    want_sigs = {i: py_simhash(t) for i, t in enumerate(docs)}
    assert sigs == want_sigs

    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(df, "doc_id", "text").collect()
    )
    want = []
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            d = bin(want_sigs[a] ^ want_sigs[b]).count("1")
            if d <= 3:
                want.append((a, b, d))
    assert got == sorted(want)


@given(
    toks=st.lists(
        st.sampled_from(["red", "blue", "green", "z"]), min_size=0, max_size=10
    )
)
@SETTINGS
def test_rolling_hash_equals_python_fold(spark, toks):
    """rolling_hash == the pure-Python Rabin–Karp fold over md5-60bit
    token hashes — the exact integer recurrence the DuckDB oracle
    (list_reduce) must also hit, including the empty-text [''] case
    and order sensitivity."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import rolling_hash

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text STRING")
    got = df.select(rolling_hash(F.col("text")).alias("h")).collect()[0]["h"]
    seq = toks if toks else [""]  # split of "" tokenizes to ['']
    acc = 0
    for t in seq:
        acc = (acc * ROLL_BASE + (h60(t) % ROLL_MOD)) % ROLL_MOD
    assert got == acc


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-5, 15)), min_size=0, max_size=20
    )
)
@SETTINGS
def test_fused_counts_equals_percheck_counts(spark, vals):
    """fused_counts (one-scan stack unpivot) reports the same
    violation counts as independently-computed per-check answers:
    not-null, uniqueness (non-null dups), and range [0, 10]."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.quality import (
        fused_counts,
        not_null_violations,
        range_violations,
        unique_violations,
    )

    df = (
        spark.createDataFrame([(v,) for v in vals], "x INT")
        if vals
        else spark.createDataFrame([], "x INT")
    )
    got = {
        r["check_name"]: (r["violations"], r["passed"])
        for r in fused_counts(
            df,
            {
                "nn": not_null_violations("x"),
                "uq": unique_violations("x"),
                "rg": range_violations("x", 0, 10),
            },
        ).collect()
    }
    nn = sum(1 for v in vals if v is None)
    nonnull = [v for v in vals if v is not None]
    uq = len(nonnull) - len(set(nonnull))
    rg = sum(1 for v in nonnull if v < 0 or v > 10)
    want = {k: (v, v == 0) for k, v in {"nn": nn, "uq": uq, "rg": rg}.items()}
    assert got == want
