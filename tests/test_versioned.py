"""Manifest-based versioned tables (sources/versioned.py): snapshot
reads, append vs overwrite lineage, history, vacuum retention, and
commit atomicity — the live stand-in for the sandbox-gated Delta
time-travel surface (`delta_utils.py:78-116`)."""

from __future__ import annotations

import os

import pytest

from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.versioned import (
    list_versions,
    read_version,
    table_history,
    vacuum_versions,
    write_version,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_versions_are_isolated_snapshots(spark, tmp_path):
    p = str(tmp_path / "t")
    assert write_version(_df(spark, [(1, "a")]), p, operation="init") == 0
    assert write_version(_df(spark, [(2, "b")]), p, mode="append") == 1
    assert write_version(_df(spark, [(9, "z")]), p, mode="overwrite") == 2

    def rows(v):
        return {(r["k"], r["v"]) for r in read_version(spark, p, v).collect()}

    assert rows(0) == {(1, "a")}
    assert rows(1) == {(1, "a"), (2, "b")}   # append = parent + new
    assert rows(2) == {(9, "z")}              # overwrite = new only
    # default read = latest
    assert {(r["k"], r["v"]) for r in read_version(spark, p).collect()} == {(9, "z")}
    # old versions stayed readable after the overwrite
    assert rows(1) == {(1, "a"), (2, "b")}


def test_history_is_newest_first_with_metadata(spark, tmp_path):
    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p, operation="init")
    write_version(_df(spark, [(2, "b")]), p, mode="append", operation="load")
    h = table_history(p)
    assert [e["version"] for e in h] == [1, 0]
    assert h[0]["mode"] == "append" and h[0]["operation"] == "load"
    assert h[1]["n_files"] >= 1 and h[0]["n_files"] > h[1]["n_files"] - 1


def test_vacuum_drops_unreferenced_files_and_old_manifests(spark, tmp_path):
    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p)
    write_version(_df(spark, [(2, "b")]), p, mode="overwrite")
    removed = vacuum_versions(p, keep_last=1)
    assert removed  # v0's files are unreferenced by v1 (overwrite)
    assert list_versions(p) == [1]
    # the retained version still reads; the vacuumed one is gone
    assert {r["k"] for r in read_version(spark, p, 1).collect()} == {2}
    with pytest.raises(ValueError, match="version 0 not in"):
        read_version(spark, p, 0)
    # append lineage: vacuum keeps files the retained manifest shares
    write_version(_df(spark, [(3, "c")]), p, mode="append")
    removed = vacuum_versions(p, keep_last=1)
    assert removed == []  # v2 references v1's files too — all live
    assert {r["k"] for r in read_version(spark, p).collect()} == {2, 3}


def test_half_committed_version_is_invisible(spark, tmp_path):
    """Crash before the manifest rename: data files exist, version
    does not — the atomicity the os.replace protocol buys."""
    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p)
    # simulate a crashed writer: staged manifest + orphan data files
    os.makedirs(os.path.join(p, "data", "c000001-deadbeef"))
    with open(
        os.path.join(p, "_manifests", "v000001.json.tmp-deadbeef"), "w"
    ) as fh:
        fh.write("{corrupt")
    assert list_versions(p) == [0]
    assert {r["k"] for r in read_version(spark, p).collect()} == {1}
    # a new commit claims the next version number cleanly
    assert write_version(_df(spark, [(2, "b")]), p, mode="append") == 1
    assert {r["k"] for r in read_version(spark, p).collect()} == {1, 2}


def test_mode_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="overwrite|append"):
        write_version(_df(spark, [(1, "a")]), str(tmp_path / "t"), mode="merge")


def test_random_commit_sequences_match_model(spark, tmp_path):
    """Model-based check: any sequence of append/overwrite commits
    must satisfy snapshot semantics — version v's visible rows equal
    the model's replay (append = parent multiset + batch, overwrite =
    batch), for EVERY v, after the whole sequence ran. Deterministic
    'random' sequences (seeded) keep the run reproducible without
    hypothesis's shrink loop spawning hundreds of Spark jobs."""
    import random

    rng = random.Random(1234)
    for case in range(4):
        p = str(tmp_path / f"t{case}")
        model: list[list[tuple]] = []  # model[v] = expected multiset
        next_key = 0
        for step in range(rng.randint(2, 6)):
            batch = []
            for _ in range(rng.randint(1, 4)):
                batch.append((next_key, f"v{next_key % 3}"))
                next_key += 1
            mode = rng.choice(["append", "overwrite"])
            df = _df(spark, batch)
            v = write_version(df, p, mode=mode, operation=f"s{step}")
            if mode == "append" and model:
                model.append(model[-1] + batch)
            else:
                model.append(list(batch))
            assert v == len(model) - 1
        assert list_versions(p) == list(range(len(model)))
        for v, want in enumerate(model):
            got = sorted(
                (r["k"], r["v"]) for r in read_version(spark, p, v).collect()
            )
            assert got == sorted(want), (case, v)
        # vacuum to the latest only — it must still replay the model tail
        vacuum_versions(p, keep_last=1)
        last = len(model) - 1
        got = sorted((r["k"], r["v"]) for r in read_version(spark, p).collect())
        assert got == sorted(model[last]), case


def test_concurrent_commit_is_put_if_absent(spark, tmp_path, monkeypatch):
    """Two writers racing for the same version number: the second
    commit must FAIL loudly (ConcurrentCommitError), never silently
    overwrite the first writer's manifest — the optimistic-concurrency
    contract Delta's log provides. The race window (between reading
    the version list and linking the manifest) is simulated by
    handing the losing writer a STALE version listing while the
    winner's manifest already sits at the contested number."""
    import json as _json
    import os

    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources import versioned as V
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.versioned import (
        ConcurrentCommitError,
    )

    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p)
    # a "racing writer" claims v1 directly
    winner = {
        "version": 1, "mode": "overwrite", "operation": "racer",
        "files": [], "n_files": 0, "committed_at": 0.0,
    }
    with open(os.path.join(p, "_manifests", "v000001.json"), "w") as fh:
        _json.dump(winner, fh)
    # the loser read the versions BEFORE the winner committed
    monkeypatch.setattr(V, "list_versions", lambda path: [0])
    with pytest.raises(ConcurrentCommitError, match="version 1"):
        V.write_version(_df(spark, [(2, "b")]), p, mode="overwrite")
    monkeypatch.undo()
    # the winner's manifest is intact and the loser left no manifest
    with open(os.path.join(p, "_manifests", "v000001.json")) as fh:
        assert _json.load(fh)["operation"] == "racer"
    assert list_versions(p) == [0, 1]
    # retry against the fresh head succeeds with the NEXT number
    assert write_version(_df(spark, [(2, "b")]), p, mode="overwrite") == 2
    assert {r["k"] for r in read_version(spark, p, 2).collect()} == {2}


def test_failed_commit_link_leaves_no_staged_manifest(spark, tmp_path, monkeypatch):
    """A manifest link that fails for any reason, not only a lost
    race, removes the staged temp manifest and commits nothing."""
    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p)

    def deny(src, dst):
        raise PermissionError("link denied")

    monkeypatch.setattr(os, "link", deny)
    with pytest.raises(PermissionError):
        write_version(_df(spark, [(2, "b")]), p)
    monkeypatch.undo()
    assert [f for f in os.listdir(os.path.join(p, "_manifests")) if ".tmp-" in f] == []
    assert list_versions(p) == [0]


def test_stray_manifest_files_are_ignored(spark, tmp_path):
    """ADVICE r12: a foreign file in _manifests (editor backup,
    'vfinal.json') must not brick list_versions/read/history with a
    ValueError — only strict v{6 digits}.json names are versions."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.sources.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    p = str(tmp_path / "t")
    write_version(_df(spark, [(1, "a")]), p)
    mdir = os.path.join(p, "_manifests")
    for stray in ("vfinal.json", "v000000.json.bak", "notes.txt", "v12.json"):
        with open(os.path.join(mdir, stray), "w") as fh:
            fh.write("{}")
    assert list_versions(p) == [0]
    assert read_version(spark, p).count() == 1
