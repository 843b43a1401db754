"""Every shared oracle CTE block and its Spark twin is written once.

The dedup, similarity, graph and sketch oracles read the same
intermediates: the MinHash band candidates, the nearest-centroid IVF
cells, the exact top-k tail, the co-service and trade graphs, and the
HyperLogLog register. Each is one generator beside the Spark code it
replays, and every oracle calls it. This test reads the package source
and finds, for each block's anchor text, the module-level definitions
whose source holds it; a pasted copy is a second definition and fails
here.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "real_time_fraud_revenue_intelligence_lakehouse_spark"
)

#: anchor regex -> the one set of (module, definition) allowed to hold it
ANCHORS: dict[str, set[tuple[str, str]]] = {
    # MinHash LSH candidates: the bands CTE's self-join
    r"ON a\.band_idx = b\.band_idx AND a\.band_key = b\.band_key": {
        ("ext/dedup.py", "LSH_CANDIDATES_SQL"),
    },
    # its verify + connected-components continuation
    r"SELECT e\.dst, c\.lbl FROM comp c JOIN edges e ON e\.src = c\.node": {
        ("ext/dedup.py", "DUP_LABELS_SQL"),
    },
    # IVF centroids and cell assignment
    r"cent AS \(SELECT vec_id AS centroid_id": {("ext/similarity.py", "IVF_CENT_SQL")},
    r"PARTITION BY e\.vec_id": {("ext/similarity.py", "IVF_CELLS_SQL")},
    # exact top-k tail, SQL and Spark
    r"PARTITION BY query_id ORDER BY cosine_sim DESC, match_id": {
        ("ext/similarity.py", "topk_sql"),
    },
    r'Window\.partitionBy\("query_id"\)\.orderBy\(F\.desc\("cosine_sim"\), F\.asc\("match_id"\)\)': {
        ("ext/similarity.py", "_topk"),
    },
    # a per-query rank by det-rounded cosine written in place: only
    # the IVF cell assignment; every other top-k goes through topk_sql
    r"ORDER BY \{det_round_sql\(COS_SQL": {("ext/similarity.py", "IVF_CELLS_SQL")},
    # co-service graph and its kNN continuation
    r"SELECT DISTINCT o\.o_custkey AS cust, l\.l_suppkey AS supp": {
        ("plans/shared_frames.py", "CUST_SUPP_SQL"),
    },
    r"FROM cs a JOIN cs b ON a\.cust = b\.cust AND a\.supp < b\.supp": {
        ("plans/shared_frames.py", "CO_SERVICE_SQL"),
    },
    r"ORDER BY common_cust DESC, dst ASC\) AS rn": {("plans/catalog_graph.py", "_KNN_SQL")},
    # trade graph
    r"SELECT DISTINCT -\(l\.l_suppkey \+ 1\) AS s_node": {
        ("plans/shared_frames.py", "trade_graph_sql"),
    },
    # HLL register: one SQL template, one Spark expression
    r"4503599627370495": {
        ("functions/scalars.py", "HLL_REGISTER_SQL"),
        ("ext/text.py", "hll_register"),
    },
    # the 5-way amount tier and the 3-way risk band: one cut list or
    # cut pair each, read by the Spark ladder and its SQL template
    r"THEN 'micro'|\"micro\"": {("functions/scalars.py", "AMOUNT_TIERS")},
    r">= (0\.7|\{RISK_HIGH\}) THEN 'high'": {("ext/scoring.py", "RISK_LABEL_SQL")},
    # the BPE run-parity merge round, training and applying
    r"PARTITION BY word, m, grp ORDER BY i": {("plans/catalog_corpus3.py", "_bpe_round_cte")},
    # the encode queries' per-source word count and fertility tail
    r'F\.col\("text"\)\), F\.lit\("\[a-z\]\+"\), 0\)\s*\)\.alias\("word"\),': {
        ("plans/catalog_corpus3.py", "_source_words"),
    },
    r'F\.length\("word"\) \+ 1': {("plans/catalog_corpus3.py", "_encode_stats")},
    # the SCD2 change rows
    r"prev_seg IS NULL OR prev_seg <> event_type": {("plans/catalog_scd2.py", "_SCD2_CHANGES_SQL")},
    # promote a booster into a scratch registry, then report its gates
    r"promote_model\(": {
        ("ext/model_registry.py", "promote_model"),
        ("plans/catalog_scoring.py", "_promoted_gate_rows"),
    },
    # the 60-bit md5 hash as Spark SQL text: only ext/text's docstring
    r"conv\(substr(?:ing)?\(md5\(": {("ext/text.py", "__doc__")},
}


def _definitions(tree: ast.Module) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of each module-level statement,
    decorators included; the module docstring is ``__doc__``."""
    out = []
    for i, node in enumerate(tree.body):
        start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            name = node.name
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            name = node.targets[0].id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            name = node.target.id
        elif i == 0 and isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
            name = "__doc__"
        else:
            name = f"<line {start}>"
        out.append((start, node.end_lineno, name))
    return out


def _sites(pattern: str) -> set[tuple[str, str]]:
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        defs = _definitions(ast.parse(src))
        for m in re.finditer(pattern, src):
            line = src.count("\n", 0, m.start()) + 1
            name = next(n for a, b, n in defs if a <= line <= b)
            found.add((path.relative_to(PKG).as_posix(), name))
    return found


def test_each_shared_block_has_one_defining_site():
    wrong = [
        f"{p!r}: found in {sorted(got)}, expected {sorted(want)}"
        for p, want in ANCHORS.items()
        if (got := _sites(p)) != want
    ]
    assert not wrong, "\n".join(wrong)
