"""Versioned model registry — the reference's artifact lifecycle.

The reference serializes its fitted model to a registry directory
(`ml/models/fraud_detector.py:193-233`: joblib model + scaler,
metrics.json, features.json, and a `latest` symlink; `load()` reads a
version back and re-wraps it for serving). The engine's models are
deterministic *data* — a tree list / weight dict, not a pickled
object — so the registry stores them as versioned JSON documents with
the same commit discipline sources/versioned.py uses for tables:

- **Atomic commit**: the document is FULLY written under a temp name
  first, then committed via `os.link` (put-if-absent hard link,
  sources/versioned.commit_json, the primitive table commits use) — the
  version name exists only once the bytes behind it are complete, so
  a reader never sees a half-written model and a crash mid-publish
  leaves only an unreferenced temp file, never a committed-looking
  empty slot.
- **Put-if-absent**: two concurrent trainers racing to publish the
  same version number — one wins, the other gets
  :class:`ModelExistsError` and must re-read the head (the
  optimistic-concurrency contract, mirrored from table commits).
- **No `latest` symlink**: the newest version is derived from the
  listing (symlinks are a mutable second source of truth — the exact
  class of bug `delta_utils.py`'s history-vs-files mismatch warns
  about); `load_model(path)` with no version reads the head.

Boosters have one document: :func:`gbt_doc` writes the engine's heap
trees (``depth`` plus [node, …] lists for splits, gains and leaves)
under kind ``gbt``, at any depth, and :func:`gbt_from_doc` reads them
back. The reader also loads the two formats earlier versions wrote:
``gbt`` documents of depth-2 ``{"root", "left", "right", "w_ll"…}``
trees, converted to heap form in that one place, and ``gbt_deep``
documents, which are already heap-shaped. A loaded model re-compiles
to the same Catalyst expression the trainer produced
(`ext/gbt.gbt_trained_logit_expr`), so save → load → score is
bit-identical to training → score — round-trip-tested in
tests/test_model_registry.py.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.versioned import commit_json, json_versions


class ModelExistsError(RuntimeError):
    """Another writer claimed this model version first — re-read
    list_models and retry with the new head."""


def _doc_path(path: str, version: int) -> str:
    return os.path.join(path, f"v{version:06d}.json")


def list_models(path: str) -> list[int]:
    """Committed version numbers, ascending. Strict name match: a
    stray file in the registry directory must not brick every load."""
    return json_versions(path)


def save_model(
    path: str,
    kind: str,
    params: dict,
    features: list[str],
    metrics: dict | None = None,
) -> int:
    """Commit a model document as the next registry version.

    ``kind`` names the archetype (``gbt``, ``logreg``, ...); ``params``
    is its full deterministic parameterization (tree list / weight
    dict / hyperparameters — everything needed to re-compile the
    scoring expression); ``metrics`` is the model-card dict the
    reference writes as metrics.json (q_model_card's row, typically).
    """
    os.makedirs(path, exist_ok=True)
    _sweep_stale_tmps(path)
    versions = list_models(path)
    version = (versions[-1] + 1) if versions else 0
    doc = {
        "version": version,
        "kind": kind,
        "params": params,
        "features": list(features),
        "metrics": metrics or {},
        "committed_at": time.time(),
    }
    tmp = os.path.join(path, f"_tmp_{uuid.uuid4().hex}.json")
    # Put-if-absent commit (sources/versioned.commit_json, which also
    # removes the temp document on every exit path). A pre-claim
    # O_CREAT|O_EXCL would expose an empty committed-looking file
    # between claim and publish (ADVICE r13); link cannot. Crashes
    # before the remove are covered by _sweep_stale_tmps on the next save.
    try:
        commit_json(doc, tmp, _doc_path(path, version), indent=1)
    except FileExistsError as e:
        raise ModelExistsError(
            f"version {version} already committed at {path}"
        ) from e
    return version


#: Temp documents older than this are crash debris — no writer holds
#: a commit open for minutes; the sweep must never race a LIVE temp
#: (written moments ago by a concurrent save_model), hence the
#: generous threshold rather than "delete all".
_TMP_STALE_SECONDS = 3600.0


def _sweep_stale_tmps(path: str) -> None:
    """Best-effort GC of `_tmp_*.json` left by writers that died
    between writing the temp document and the link/remove pair
    (ADVICE r14) — otherwise they accumulate unboundedly under
    repeated crashes. Errors are swallowed: GC must never fail a
    commit, and a concurrent sweep may legitimately win the remove."""
    try:
        now = time.time()
        for name in os.listdir(path):
            if not (name.startswith("_tmp_") and name.endswith(".json")):
                continue
            full = os.path.join(path, name)
            try:
                if now - os.path.getmtime(full) > _TMP_STALE_SECONDS:
                    os.remove(full)
            except OSError:
                pass
    except OSError:
        pass


def load_model(path: str, version: int | None = None) -> dict:
    """Read a committed model document (head version by default)."""
    versions = list_models(path)
    if not versions:
        raise FileNotFoundError(f"no committed models at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in registry {path} ({versions})")
    with open(_doc_path(path, v)) as fh:
        return json.load(fh)


#: The reference's promotion gates (`airflow/dags/ml_training_dag.py:
#: 22-24`): a retrained model reaches production only if every metric
#: clears its floor; otherwise the DAG branches to reject_model.
QUALITY_GATES: dict[str, float] = {
    "roc_auc": 0.85,
    "precision_at": 0.70,
    "recall_at": 0.60,
}


def quality_gate(metrics: dict) -> tuple[bool, dict]:
    """(passed, report): every :data:`QUALITY_GATES` metric must exist
    and clear its floor — a MISSING metric rejects, exactly like the
    DAG's can't-read-metrics branch (`ml_training_dag.py:59-61`)."""
    report = {}
    for name, floor in QUALITY_GATES.items():
        value = metrics.get(name)
        report[name] = {
            "value": value,
            "min": floor,
            "ok": value is not None and value >= floor,
        }
    return all(r["ok"] for r in report.values()), report


def promote_model(
    path: str,
    kind: str,
    params: dict,
    features: list[str],
    metrics: dict,
) -> tuple[int | None, dict]:
    """The DAG's quality_gate → promote_model/reject_model branch
    (`ml_training_dag.py:51-75,145-165`) against this registry:
    commit the candidate ONLY if every gate clears — a rejected model
    never becomes a version, so serving (which loads the head) can't
    regress. Returns (version | None, gate_report); the report is
    stored on promoted models under metrics['gate_report']."""
    passed, report = quality_gate(metrics)
    if not passed:
        return None, report
    doc_metrics = dict(metrics)
    doc_metrics["gate_report"] = report
    version = save_model(path, kind, params, features, doc_metrics)
    return version, report


_HEAP_KEYS = ("depth", "splits", "gains", "leaves")

#: The depth-2 tree dict earlier versions stored: key → heap node.
_LEGACY_SPLITS = {"root": 1, "left": 2, "right": 3}
_LEGACY_LEAVES = {"w_ll": 4, "w_lr": 5, "w_rl": 6, "w_rr": 7}
_LEGACY_KEYS = (
    *_LEGACY_SPLITS, *(f"gain_{k}" for k in _LEGACY_SPLITS), *_LEGACY_LEAVES
)


def gbt_doc(trees: list[dict], features: tuple[str, ...]) -> tuple[str, dict]:
    """(kind, params) for a fitted booster of any depth — the engine's
    heap trees. JSON objects key by string, so the int node ids are
    serialized as sorted [node, ...] lists; :func:`gbt_from_doc`
    restores the int-keyed dicts. A tree without the heap keys is
    rejected here, BEFORE it becomes a version: a committed model must
    never fail to load on the serving path."""
    out = []
    for i, tr in enumerate(trees):
        missing = [k for k in _HEAP_KEYS if k not in tr]
        if missing:
            raise ValueError(f"gbt_doc: tree {i} lacks heap keys {missing}")
        out.append(
            {
                "depth": int(tr["depth"]),
                "splits": [
                    [n, tr["splits"][n][0], tr["splits"][n][1]]
                    for n in sorted(tr["splits"])
                ],
                "gains": [[n, tr["gains"][n]] for n in sorted(tr["gains"])],
                "leaves": [[n, tr["leaves"][n]] for n in sorted(tr["leaves"])],
            }
        )
    return "gbt", {"trees": out}


def gbt_from_doc(doc: dict) -> list[dict]:
    """The int-keyed heap trees of a loaded booster document — the
    inverse of :func:`gbt_doc`. Documents written before the one tree
    shape load too: a ``gbt_deep`` document is already heap-shaped,
    and a ``gbt`` document of depth-2 ``root``/``left``/``right``
    trees is converted here. Anything else raises ValueError."""
    trees = []
    for i, tr in enumerate(doc["params"]["trees"]):
        if all(k in tr for k in _HEAP_KEYS):
            trees.append(
                {
                    "depth": int(tr["depth"]),
                    "splits": {
                        int(n): (int(f), int(b)) for n, f, b in tr["splits"]
                    },
                    "gains": {int(n): float(g) for n, g in tr["gains"]},
                    "leaves": {int(n): float(w) for n, w in tr["leaves"]},
                }
            )
        elif all(k in tr for k in _LEGACY_KEYS):
            trees.append(
                {
                    "depth": 2,
                    "splits": {
                        n: (int(tr[k][0]), int(tr[k][1]))
                        for k, n in _LEGACY_SPLITS.items()
                    },
                    "gains": {
                        n: float(tr[f"gain_{k}"]) for k, n in _LEGACY_SPLITS.items()
                    },
                    "leaves": {n: float(tr[k]) for k, n in _LEGACY_LEAVES.items()},
                }
            )
        else:
            raise ValueError(
                f"{doc.get('kind')} document v{doc.get('version')}: tree {i} "
                f"is neither a heap tree {list(_HEAP_KEYS)} nor a depth-2 "
                f"tree {list(_LEGACY_KEYS)}"
            )
    return trees
