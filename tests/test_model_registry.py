"""Model registry (ext/model_registry.py) — the reference's
save/load artifact lifecycle (`fraud_detector.py:193-233`) with the
versioned-table commit discipline.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import (
    gbt_trained_logit_expr,
    train_gbt,
)
from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import (
    ModelExistsError,
    gbt_doc,
    gbt_from_doc,
    list_models,
    load_model,
    save_model,
)


def _fit(spark, seed=13):
    rng = np.random.RandomState(seed)
    x1 = rng.uniform(0, 1, 300).round(4)
    x2 = rng.uniform(0, 1, 300).round(4)
    y = ((x2 > 0.5) ^ (rng.uniform(0, 1, 300) < 0.15)).astype(int)
    df = spark.createDataFrame(
        [(float(a), float(b), int(v)) for a, b, v in zip(x1, x2, y)],
        "x1 double, x2 double, label int",
    )
    return df, train_gbt(df, features=("x1", "x2"), scales={})


def test_save_load_roundtrip_is_bit_exact(spark, tmp_path):
    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    v = save_model(p, kind, params, ["x1", "x2"], metrics={"roc_auc": 0.9})
    assert v == 0
    doc = load_model(p)
    assert doc["kind"] == "gbt"
    assert doc["features"] == ["x1", "x2"]
    assert doc["metrics"] == {"roc_auc": 0.9}
    assert gbt_from_doc(doc) == trees  # leaf doubles bit-identical through JSON


def test_loaded_model_scores_identically(spark, tmp_path):
    """save → load → compile → score ≡ train → score (the serving
    swap the reference does through joblib, done through JSON +
    Catalyst re-compilation)."""
    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    save_model(p, kind, params, ["x1", "x2"])
    loaded = gbt_from_doc(load_model(p))
    a = df.select(
        gbt_trained_logit_expr(trees, ("x1", "x2"), scales={}).alias("z")
    ).collect()
    b = df.select(
        gbt_trained_logit_expr(loaded, ("x1", "x2"), scales={}).alias("z")
    ).collect()
    assert [r["z"] for r in a] == [r["z"] for r in b]


def test_versions_are_immutable_and_head_is_derived(spark, tmp_path):
    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    save_model(p, kind, params, ["x1", "x2"], metrics={"tag": "first"})
    save_model(p, kind, params, ["x1", "x2"], metrics={"tag": "second"})
    assert list_models(p) == [0, 1]
    assert load_model(p)["metrics"]["tag"] == "second"  # head
    assert load_model(p, 0)["metrics"]["tag"] == "first"  # old version intact


def test_commit_is_put_if_absent(spark, tmp_path, monkeypatch):
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import model_registry as MR

    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    save_model(p, kind, params, ["x1", "x2"])
    # racer claims v1 AFTER this writer's stale listing ([0]) but
    # before its publish — the O_EXCL claim must lose cleanly
    with open(os.path.join(p, "v000001.json"), "w") as fh:
        json.dump({"version": 1}, fh)
    monkeypatch.setattr(MR, "list_models", lambda path: [0])
    with pytest.raises(ModelExistsError):
        MR.save_model(p, kind, params, ["x1", "x2"])
    # and no temp debris was left behind
    assert all(not f.startswith("_tmp_") for f in os.listdir(p))


def test_stray_files_are_ignored(spark, tmp_path):
    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    save_model(p, kind, params, ["x1", "x2"])
    for stray in ("latest", "vfinal.json", "v000000.json.bak", "notes.txt"):
        with open(os.path.join(p, stray), "w") as fh:
            fh.write("x")
    assert list_models(p) == [0]
    assert load_model(p)["version"] == 0


def test_missing_registry_raises_clearly(tmp_path):
    with pytest.raises(FileNotFoundError, match="no committed models"):
        load_model(str(tmp_path / "nope"))


def test_quality_gate_promotes_and_rejects_like_the_dag(spark, tmp_path):
    """The ml_training_dag branch: pass all floors → new version with
    the gate report attached; fail any (or a MISSING metric) → no
    commit at all, so serving's head never regresses."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import (
        promote_model,
        quality_gate,
    )

    df, trees = _fit(spark)
    p = str(tmp_path / "reg")
    kind, params = gbt_doc(trees, ("x1", "x2"))
    good = {"roc_auc": 0.91, "precision_at": 0.8, "recall_at": 0.7}
    v, report = promote_model(p, kind, params, ["x1", "x2"], good)
    assert v == 0 and all(r["ok"] for r in report.values())
    assert load_model(p)["metrics"]["gate_report"]["roc_auc"]["ok"] is True

    bad = {"roc_auc": 0.91, "precision_at": 0.8, "recall_at": 0.59}
    v2, report2 = promote_model(p, kind, params, ["x1", "x2"], bad)
    assert v2 is None and report2["recall_at"]["ok"] is False
    assert list_models(p) == [0]  # rejected candidate never committed

    missing = {"roc_auc": 0.91, "precision_at": 0.8}
    passed, rep = quality_gate(missing)
    assert not passed and rep["recall_at"]["value"] is None
    assert list_models(p) == [0]


def test_gate_report_uses_model_card_column_names(spark, tmp_path):
    """The gate keys are q_model_card's output columns — the card row
    IS the metrics.json the gate reads (train → card → gate → promote
    without renaming anything)."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.model_registry import QUALITY_GATES
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.training import model_metrics

    import numpy as np

    rng = np.random.RandomState(3)
    s = rng.uniform(0, 1, 200).round(3)
    y = (rng.uniform(0, 1, 200) < s).astype(int)
    scored = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "label int, s double"
    )
    card = model_metrics(scored).collect()[0].asDict()
    assert set(QUALITY_GATES) <= set(card)


def test_crash_mid_write_leaves_no_committed_looking_slot(tmp_path, monkeypatch):
    """ADVICE r13: the old O_CREAT|O_EXCL pre-claim exposed an EMPTY
    committed-looking file between claim and publish — a crash there
    permanently bricked the head with JSONDecodeError. The link-based
    commit publishes only fully-written bytes: crash the serializer
    mid-save and the registry must look EMPTY (and recover on the
    next save), never half-committed."""
    import json as _json

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import model_registry as MR

    p = str(tmp_path / "reg")

    def boom(*a, **k):
        raise OSError("disk vanished mid-write")

    monkeypatch.setattr(MR.json, "dump", boom)
    with pytest.raises(OSError):
        MR.save_model(p, "gbt", {"trees": []}, ["x1"])
    monkeypatch.undo()
    # no v*.json exists at all — readers see "no models", not garbage
    assert MR.list_models(p) == []
    with pytest.raises(FileNotFoundError):
        MR.load_model(p)
    # and the next writer commits version 0 normally
    assert MR.save_model(p, "gbt", {"trees": []}, ["x1"]) == 0
    assert _json.load(open(os.path.join(p, "v000000.json")))["version"] == 0


def test_seven_digit_versions_stay_visible(tmp_path):
    """ADVICE r13: v1000000 formats to SEVEN digits ({:06d} pads a
    minimum, not a cap); the lister must still see it or every later
    commit recomputes the same number and fails put-if-absent
    forever."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import model_registry as MR
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources import versioned as V

    p = str(tmp_path / "reg")
    os.makedirs(p)
    with open(os.path.join(p, "v1000000.json"), "w") as fh:
        json.dump({"version": 1000000, "kind": "gbt", "params": {"trees": []},
                   "features": [], "metrics": {}}, fh)
    assert MR.list_models(p) == [1000000]
    assert MR.save_model(p, "gbt", {"trees": []}, []) == 1000001
    assert MR.list_models(p) == [1000000, 1000001]

    mdir = tmp_path / "tbl" / "_manifests"
    mdir.mkdir(parents=True)
    with open(mdir / "v1000000.json", "w") as fh:
        json.dump({"version": 1000000, "files": []}, fh)
    assert V.list_versions(str(tmp_path / "tbl")) == [1000000]


def test_noncanonical_zero_padded_names_are_not_listed(tmp_path):
    """ADVICE r14: v0000007.json is a name the writer can NEVER
    produce ({:06d} pads to 6, and 7+ digit versions have no leading
    zero). Listing it as version 7 while _doc_path resolves 7 to
    v000007.json makes load_model(7) raise on a LISTED version — so
    the lister must ignore it, same as any other stray file."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import model_registry as MR
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources import versioned as V

    p = str(tmp_path / "reg")
    os.makedirs(p)
    with open(os.path.join(p, "v0000007.json"), "w") as fh:
        json.dump({"version": 7}, fh)
    assert MR.list_models(p) == []
    # canonical names on either side of the boundary still list
    with open(os.path.join(p, "v000007.json"), "w") as fh:
        json.dump({"version": 7, "kind": "gbt", "params": {"trees": []},
                   "features": [], "metrics": {}}, fh)
    assert MR.list_models(p) == [7]
    assert MR.load_model(p, 7)["version"] == 7

    mdir = tmp_path / "tbl" / "_manifests"
    mdir.mkdir(parents=True)
    with open(mdir / "v0000007.json", "w") as fh:
        json.dump({"version": 7, "files": []}, fh)
    assert V.list_versions(str(tmp_path / "tbl")) == []


def test_stale_tmp_files_are_swept_on_save(tmp_path):
    """ADVICE r14: a writer that dies between writing _tmp_*.json and
    the link/remove pair leaves an orphan; repeated crashes grow the
    directory unboundedly. save_model GCs stale temps (older than the
    threshold) but must NEVER touch a fresh one — that could be a
    concurrent writer's live commit."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext import model_registry as MR

    p = str(tmp_path / "reg")
    os.makedirs(p)
    stale = os.path.join(p, "_tmp_deadbeef.json")
    fresh = os.path.join(p, "_tmp_cafebabe.json")
    for f in (stale, fresh):
        with open(f, "w") as fh:
            fh.write("{}")
    old = time.time() - 2 * MR._TMP_STALE_SECONDS
    os.utime(stale, (old, old))
    MR.save_model(p, "gbt", {"trees": []}, [])
    assert not os.path.exists(stale), "stale orphan must be GC'd"
    assert os.path.exists(fresh), "fresh temp may be a live concurrent commit"
    # registry itself is intact
    assert MR.list_models(p) == [0]


def test_gbt_doc_rejects_non_heap_trees_and_reader_rejects_malformed_docs():
    """One writer, one reader: gbt_doc refuses a tree without the heap
    keys BEFORE it can become a committed version, and gbt_from_doc
    refuses a document whose trees are neither heap trees nor the
    depth-2 dicts earlier versions wrote — a clear ValueError, not a
    KeyError on the hot-reload serving path."""
    with pytest.raises(ValueError, match="lacks heap keys"):
        gbt_doc([{"splits": {1: (0, 3)}, "leaves": {2: 0.1, 3: -0.1}}], ("x1",))
    with pytest.raises(ValueError, match="lacks heap keys"):
        gbt_doc([json.loads(_PARENT_GBT_DOC)["params"]["trees"][0]], ("x1", "x2"))
    for trees in ([{"splits": []}], [{"root": [0, 3], "left": [0, 1], "right": [1, 2]}]):
        with pytest.raises(ValueError, match="neither a heap tree"):
            gbt_from_doc({"version": 9, "kind": "gbt", "params": {"trees": trees}})


def test_gbt_deep_doc_roundtrip_compiles_on_serving_path(spark, tmp_path):
    """save → load → score for the DEEP booster: the one `gbt`
    document restores train_gbt_deep's int-keyed heap dicts exactly,
    and compile_registry_model reproduces the trainer's own scores
    bit-for-bit (the round-trip law at depth 3)."""
    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt_deep import train_gbt_deep
    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import compile_registry_model

    df, _ = _fit(spark)
    deep = train_gbt_deep(df, features=("x1", "x2"), scales={}, rounds=2)
    reg = str(tmp_path / "deepreg")
    kind, params = gbt_doc(deep, ("x1", "x2"))
    assert kind == "gbt"
    save_model(reg, kind, params, ["x1", "x2"])
    doc = load_model(reg)
    assert gbt_from_doc(doc) == deep  # exact heap-dict restore
    expr = compile_registry_model(doc, ("x1", "x2"), {})
    direct = det_round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-gbt_trained_logit_expr(deep, ("x1", "x2"), scales={}))),
        6,
    )
    got = df.select(expr.alias("a"), direct.alias("b")).collect()
    assert all(r["a"] == r["b"] for r in got)


#: A `gbt` document as earlier versions wrote it: two depth-2 trees
#: fitted by train_gbt, in the {"root", "left", "right", "w_ll"…}
#: dict shape.
_PARENT_GBT_DOC = """{"version": 0, "kind": "gbt", "params": {"trees": [
 {"root": [1, 7], "gain_root": 135.01179365188605,
  "left": [0, 2], "gain_left": -1.0072847682119246, "w_ll": -1.5, "w_lr": -1.2,
  "right": [1, 8], "gain_right": -1.0583635908646585,
  "w_rl": 0.9473684210526315, "w_rr": 1.352112676056338},
 {"root": [1, 7], "gain_root": 72.27853069598513,
  "left": [1, 4], "gain_left": -0.4148159917445966,
  "w_ll": -1.0453389074331476, "w_lr": -0.8041710560957821,
  "right": [0, 13], "gain_right": -0.2219855443108827,
  "w_rl": 0.9177599443334422, "w_rr": 1.336314893264672}]},
 "features": ["x1", "x2"], "metrics": {}, "committed_at": 0.0}"""

#: The heap trees that document encodes.
_PARENT_GBT_TREES = [
    {
        "depth": 2,
        "splits": {1: (1, 7), 2: (0, 2), 3: (1, 8)},
        "gains": {1: 135.01179365188605, 2: -1.0072847682119246, 3: -1.0583635908646585},
        "leaves": {4: -1.5, 5: -1.2, 6: 0.9473684210526315, 7: 1.352112676056338},
    },
    {
        "depth": 2,
        "splits": {1: (1, 7), 2: (1, 4), 3: (0, 13)},
        "gains": {1: 72.27853069598513, 2: -0.4148159917445966, 3: -0.2219855443108827},
        "leaves": {
            4: -1.0453389074331476, 5: -0.8041710560957821,
            6: 0.9177599443334422, 7: 1.336314893264672,
        },
    },
]

#: A `gbt_deep` document as earlier versions wrote it: one depth-3
#: tree fitted by train_gbt_deep, already heap-shaped.
_PARENT_DEEP_DOC = """{"version": 0, "kind": "gbt_deep", "params": {"trees": [
 {"depth": 3,
  "splits": [[1, 1, 7], [2, 0, 2], [3, 1, 8], [4, 1, 0], [5, 0, 3], [6, 0, 7], [7, 0, 2]],
  "gains": [[1, 135.01179365188605], [2, -1.0072847682119246], [3, -1.0583635908646585],
            [4, -0.22222222222222143], [5, -0.3487179487179475],
            [6, -0.44497607655502414], [7, -0.8936111797490582]],
  "leaves": [[8, -0.5], [9, -1.5555555555555556], [10, -0.6666666666666666],
             [11, -1.2307692307692308], [12, 0.5454545454545454], [13, 1.0],
             [14, 1.0526315789473684], [15, 1.4074074074074074]]}]},
 "features": ["x1", "x2"], "metrics": {}, "committed_at": 0.0}"""

_PARENT_DEEP_TREES = [
    {
        "depth": 3,
        "splits": {1: (1, 7), 2: (0, 2), 3: (1, 8), 4: (1, 0), 5: (0, 3), 6: (0, 7), 7: (0, 2)},
        "gains": {
            1: 135.01179365188605, 2: -1.0072847682119246, 3: -1.0583635908646585,
            4: -0.22222222222222143, 5: -0.3487179487179475,
            6: -0.44497607655502414, 7: -0.8936111797490582,
        },
        "leaves": {
            8: -0.5, 9: -1.5555555555555556, 10: -0.6666666666666666,
            11: -1.2307692307692308, 12: 0.5454545454545454, 13: 1.0,
            14: 1.0526315789473684, 15: 1.4074074074074074,
        },
    },
]


@pytest.mark.parametrize(
    "text, heap",
    [(_PARENT_GBT_DOC, _PARENT_GBT_TREES), (_PARENT_DEEP_DOC, _PARENT_DEEP_TREES)],
    ids=["gbt", "gbt_deep"],
)
def test_earlier_documents_load_and_score_bit_identically(spark, tmp_path, text, heap):
    """Both document kinds earlier versions committed stay loadable:
    gbt_from_doc returns the heap trees each encodes, and
    compile_registry_model scores the committed version bit-for-bit
    like those heap trees compiled directly."""
    from pyspark.sql import functions as F

    from real_time_fraud_revenue_intelligence_lakehouse_spark.functions.scalars import det_round
    from real_time_fraud_revenue_intelligence_lakehouse_spark.streaming.scoring import compile_registry_model

    reg = tmp_path / "reg"
    reg.mkdir()
    (reg / "v000000.json").write_text(text)
    doc = load_model(str(reg))
    assert gbt_from_doc(doc) == heap
    rng = np.random.RandomState(13)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in rng.uniform(0, 1, (300, 2)).round(4)],
        "x1 double, x2 double",
    )
    expr = compile_registry_model(doc, ("x1", "x2"), {})
    direct = det_round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-gbt_trained_logit_expr(heap, ("x1", "x2"), scales={}))),
        6,
    )
    got = df.select(expr.alias("a"), direct.alias("b")).collect()
    assert all(r["a"] == r["b"] for r in got)
    assert len({r["a"] for r in got}) > 2  # the trees really route rows
