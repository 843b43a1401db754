"""Property-based law tests, batch 7: the ANN index tier.

IVF and hyperplane-LSH make exactness claims AROUND the approximation:
the candidate set is an exact set-algebra function of the index
geometry (cell membership / bucket sign bits), and ranking within
candidates is exact rounded cosine. These tests re-derive the full
pipelines in plain Python — md5-seeded planes, sequential IEEE dots,
det_round, (sim DESC, id ASC) ranking — and require the DataFrame
plans (each operator's one kernel) to match exactly, probed-cell
selection and all.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=8,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _fold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _r6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _cos6(a, b) -> float:
    return _r6(_fold_dot(a, b) / (math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))))


# --- IVF: probed-cell candidates + exact in-cell ranking --------------------

ivf_vecs = st.lists(
    st.lists(st.integers(-3, 3), min_size=3, max_size=3).filter(
        lambda v: any(x != 0 for x in v)
    ),
    min_size=2,
    max_size=6,
)


@given(vecs=ivf_vecs, nprobe=st.integers(1, 2), k=st.integers(1, 3))
@SETTINGS
def test_ivf_topk_equals_python_pipeline(spark, vecs, nprobe, k):
    """ivf_topk == the Python replay of its own
    definition: centroids = every 2nd id, each corpus vector in its
    single nearest centroid's cell, each query probing its nprobe
    nearest cells (rounded cosine DESC, centroid_id ASC), exact
    rounded-cosine ranking over the probed cells' members minus self
    — for ANY vectors including centroid self-assignment ties."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.similarity import ivf_topk

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = sorted(
        (r["query_id"], r["match_id"], r["cosine_sim"], r["rank"])
        for r in ivf_topk(df, df, k=k, nprobe=nprobe, centroid_mod=2).collect()
    )

    cents = [(i, v) for i, v in rows if i % 2 == 0]

    def nearest_cells(v, n):
        scored = sorted(
            ((cid, _cos6(v, cv)) for cid, cv in cents), key=lambda t: (-t[1], t[0])
        )
        return [cid for cid, _ in scored[:n]]

    corpus_cell = {i: nearest_cells(v, 1)[0] for i, v in rows}
    want = []
    for qi, qv in rows:
        probed = set(nearest_cells(qv, nprobe))
        cands = sorted(
            (mi for mi, mv in rows if mi != qi and corpus_cell[mi] in probed)
        )
        ranked = sorted(
            ((mi, _cos6(qv, dict(rows)[mi])) for mi in cands),
            key=lambda t: (-t[1], t[0]),
        )
        want.extend((qi, mi, s, rk) for rk, (mi, s) in enumerate(ranked[:k], start=1))
    assert got == sorted(want)


# --- hyperplane LSH: sign-bit buckets + candidate OR over tables -----------


def _plane_py(table: int, plane: int, dim: int) -> float:
    h = hashlib.md5(f"plane:{table}:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:15], 16) % 2000) / 1000.0 - 1.0


def _bucket_py(v, table: int, n_planes: int = 4) -> int:
    out = table * (1 << n_planes)
    for p in range(n_planes):
        plane = [_plane_py(table, p, d) for d in range(len(v))]
        if _fold_dot(v, plane) > 0:
            out += 1 << p
    return out


lsh_vecs = st.lists(
    st.lists(st.integers(-2, 2), min_size=64, max_size=64).filter(
        lambda v: any(x != 0 for x in v)
    ),
    min_size=2,
    max_size=4,
)


@given(vecs=lsh_vecs, k=st.integers(1, 3))
@SETTINGS
def test_ann_topk_equals_python_pipeline(spark, vecs, k):
    """ann_topk (Arrow index and pair dots, 2 tables) == the Python replay:
    bucket = table-offset sign bits of the md5-seeded hyperplane dots
    (sequential fold, strict > 0), candidates = pairs sharing a bucket
    in ANY table, ranking = exact rounded cosine with match-id
    tie-break — for ANY 64-dim vectors including sign-boundary dots
    and opposite-sign pairs that land in disjoint buckets."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.similarity import ann_topk

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = sorted(
        (r["query_id"], r["match_id"], r["cosine_sim"], r["rank"])
        for r in ann_topk(df, df, k=k, n_tables=2).collect()
    )
    buckets = {i: {_bucket_py(v, t) for t in range(2)} for i, v in rows}
    want = []
    for qi, qv in rows:
        cands = [
            (mi, _cos6(qv, mv))
            for mi, mv in rows
            if mi != qi and buckets[qi] & buckets[mi]
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        want.extend((qi, mi, s, rk) for rk, (mi, s) in enumerate(cands[:k], start=1))
    assert got == sorted(want)
