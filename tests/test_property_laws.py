"""Property-based law tests (hypothesis) for the operators whose
headline claims are *exactness* statements: the lossless PPJoin
similarity join, star connected components, interval union, Bloom
pruning, and Hamilton allocation.

These complement the fixture tests: the fixtures prove the operators
on realistic corpus shapes; hypothesis hunts the adversarial shapes
(empty docs, tie storms, self-loops, containment chains, hash
collisions under a deliberately tiny filter) where a "lossless"
claim would quietly break. House rules from test_properties.py:
one Spark job per example is expensive → few examples, tiny rows —
the value is shape adversarialism, not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=10,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# --- lossless PPJoin prefix-filtered similarity join ----------------------

docs_strategy = st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=0, max_size=8),
    min_size=0,
    max_size=8,
)


@given(docs=docs_strategy)
@SETTINGS
def test_prefix_jaccard_lossless_vs_brute(spark, docs):
    """prefix_jaccard_pairs (theta=1/2, 1-gram shingles) returns
    EXACTLY the pairs with distinct-token Jaccard >= 1/2 — no false
    negatives (the lossless prefix+positional filter claim) and no
    false positives (the verify stage), with exact n_common/n_union.

    The 6-letter alphabet forces heavy overlap, duplicate docs, and
    containment; empty docs tokenize to {""} on both sides.
    """
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import prefix_jaccard_pairs

    texts = [" ".join(toks) for toks in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = (
        spark.createDataFrame(rows, "doc_id LONG, text STRING")
        if rows
        else spark.createDataFrame([], "doc_id LONG, text STRING")
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_union"])
        for r in prefix_jaccard_pairs(df, "doc_id", "text", shingle_n=1).collect()
    }
    # Brute force over the same token-set semantics: whitespace split
    # of the trimmed text; empty text is the single empty shingle.
    sets = [set(t.split()) if t else {""} for t in texts]
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if 2 * inter >= uni:  # theta_den*inter >= theta_num*uni
                want[(a, b)] = (inter, uni)
    assert got == want


# --- star connected components vs union-find ------------------------------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=20
    )
)
@SETTINGS
def test_star_cc_equals_union_find(spark, edges):
    """connected_components_star == textbook union-find on ANY small
    graph: every edge-touched node labeled with its component min;
    self-loop-only nodes are absent (canonicalization drops them)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.dedup import connected_components_star

    df = (
        spark.createDataFrame(edges, "id_a INT, id_b INT")
        if edges
        else spark.createDataFrame([], "id_a INT, id_b INT")
    )
    got = {
        r["node"]: r["cluster_id"] for r in connected_components_star(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {n: min(ns) for ns in comps.values() for n in ns}
    assert got == want


# --- interval union (gaps-and-islands) ------------------------------------


@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 5)),
        min_size=1,
        max_size=15,
    ),
    adjacency=st.integers(0, 1),
)
@SETTINGS
def test_union_intervals_equals_brute_sweep(spark, ivs, adjacency):
    """union_intervals == the textbook sweep for ANY interval multiset
    and either adjacency mode: same islands (start, end, member
    count), per key, including duplicate intervals, containment, and
    equal-start ties (tie order provably can't matter: an equal start
    is always <= the running max end)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.intervals import union_intervals

    rows = [(k, s, s + ln) for k, s, ln in ivs]
    df = spark.createDataFrame(rows, "k INT, s INT, e INT")
    got = sorted(
        (r["k"], r["island_id"], r["start"], r["end"], r["n_intervals"])
        for r in union_intervals(df, ["k"], "s", "e", adjacency=adjacency).collect()
    )
    want = []
    for k in sorted({k for k, _, _ in rows}):
        mine = sorted((s, e) for kk, s, e in rows if kk == k)
        islands: list[list[int]] = []  # [start, max_end, count]
        for s, e in mine:
            if islands and s <= islands[-1][1] + adjacency:
                islands[-1][1] = max(islands[-1][1], e)
                islands[-1][2] += 1
            else:
                islands.append([s, e, 1])
        for i, (s, e, n) in enumerate(islands, start=1):
            want.append((k, i, s, e, n))
    assert got == sorted(want)


# --- Bloom prune: no false negatives, pruned is a sub-multiset ------------


@given(
    build=st.lists(st.integers(0, 500), min_size=0, max_size=12),
    probe=st.lists(st.integers(0, 500), min_size=0, max_size=15),
)
@SETTINGS
def test_bloom_prune_no_false_negatives(spark, build, probe):
    """For ANY build/probe key sets — under a deliberately tiny filter
    (m=64) that forces position collisions — every probe row whose key
    is in the build set survives the prune, and the pruned frame is a
    sub-multiset of the probe frame (rows pass through unmodified)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.bloom import bloom_build, bloom_prune

    bdf = (
        spark.createDataFrame([(k,) for k in build], "k INT")
        if build
        else spark.createDataFrame([], "k INT")
    )
    pdf = (
        spark.createDataFrame(list(enumerate(probe)), "row_id INT, k INT")
        if probe
        else spark.createDataFrame([], "row_id INT, k INT")
    )
    bits = bloom_build(bdf, "k", m=64, k=2)
    pruned = sorted(
        (r["row_id"], r["k"]) for r in bloom_prune(pdf, "k", bits, m=64, k=2).collect()
    )
    all_rows = sorted(enumerate(probe))
    bset = set(build)
    must_keep = [(i, k) for i, k in all_rows if k in bset]
    kept = set(pruned)
    assert all(row in kept for row in must_keep)  # no false negatives
    assert set(pruned) <= set(all_rows) and len(pruned) == len(set(pruned))


# --- Hamilton largest-remainder allocation --------------------------------


@given(
    weights=st.lists(st.integers(0, 40), min_size=1, max_size=10).filter(
        lambda ws: sum(ws) > 0
    ),
    budget=st.integers(0, 60),
)
@SETTINGS
def test_largest_remainder_quota_law(spark, weights, budget):
    """For ANY non-degenerate weights and budget: allocations sum to
    the budget EXACTLY, and each allocation satisfies the quota rule
    |alloc - exact_share| < 1 (Hamilton's method never strays a full
    unit from proportionality)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.allocation import largest_remainder

    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "k INT, w DOUBLE")
    got = {r["k"]: r["alloc"] for r in largest_remainder(df, "k", "w", budget).collect()}
    assert sum(got.values()) == budget
    total = float(sum(weights))
    for i, w in enumerate(weights):
        exact = w / total * budget
        assert abs(got[i] - exact) < 1.0, (i, got[i], exact)
