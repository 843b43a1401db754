"""Manifest-based versioned parquet tables — executable time travel.

The reference reads Delta snapshots with `versionAsOf`
(`spark_jobs/utils/delta_utils.py:78-92`) and lists commits via
`history()` (`delta_utils.py:112-116`). delta-spark cannot run in
this sandbox (no build for pyspark 4.1.2 — settled round 2), so
sources/delta_maintenance.py gate-tests the real binary path. This
module is the LIVE stand-in: the same snapshot semantics from first
principles — a write is (immutable parquet files) + (one new manifest
listing every file visible at that version), a versioned read is a
manifest replay, history is the manifest list. That is precisely
Delta's transaction-log design reduced to its load-bearing minimum:

- **Atomic commit**: data files land first, then the manifest
  appears via a put-if-absent `os.link` (atomic on POSIX) — a reader
  never sees a half-written version; a crash before the link leaves
  garbage data files but NO new version (cleaned by vacuum).
- **Snapshot isolation**: manifests are immutable; reading version N
  while version N+1 commits is safe by construction.
- **Append vs overwrite**: append's manifest = parent's file list +
  the new files; overwrite's = the new files only. Old versions stay
  readable either way.
- **VACUUM**: drop data files no RETAINED manifest references — the
  retention/time-travel interaction `delta_utils.py:101-109` warns
  about, made concrete.

At 100 TB this is how Iceberg/Delta actually scale: the metadata
layer is O(files-per-version) JSON, the data layer is immutable
parquet, and a versioned read plans exactly like a plain parquet scan
(same pushdown, same pruning) because it IS one — `read_version`
hands Spark the file list and Catalyst never knows the difference.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"


class ConcurrentCommitError(RuntimeError):
    """Another writer claimed this version number first — the
    optimistic-concurrency conflict Delta surfaces the same way
    (commit = put-if-absent on the next log entry). Re-read
    list_versions and retry with the new head."""


def json_versions(dirpath: str) -> list[int]:
    """Version numbers of the committed ``v<NNNNNN>.json`` documents in
    ``dirpath``, ascending (a missing directory has none) — the one
    listing behind table manifests and ext/model_registry."""
    if not os.path.isdir(dirpath):
        return []
    out = []
    for name in os.listdir(dirpath):
        # strict match: a stray 'vfinal.json' or editor backup must not
        # brick every read/history call with a ValueError (ADVICE r12)
        # — non-conforming names are ignored.
        # (\d{6}|[1-9]\d{6,}): exactly the names :06d can produce —
        # 6 digits zero-padded, or 7+ with no leading zero (version
        # 1,000,000 stays listed, ADVICE r13) — and nothing else: a
        # non-canonical v0000007.json would list as version 7 while
        # the :06d path of 7 is v000007.json, so reads of a listed
        # version would FileNotFoundError (ADVICE r14).
        m = re.fullmatch(r"v(\d{6}|[1-9]\d{6,})\.json", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def commit_json(doc: dict, staged: str, target: str, indent: int | None = None) -> None:
    """Write ``doc`` to the temp name ``staged``, then publish it as
    ``target`` put-if-absent: ``os.link`` raises FileExistsError if
    another writer claimed ``target`` first. ``os.replace`` would
    silently OVERWRITE that writer's document and lose its commit. The
    link claims the name and publishes complete bytes in one syscall,
    so a reader never sees a half-written version. ``staged`` is
    removed on every exit path, failed links included."""
    try:
        with open(staged, "w") as fh:
            json.dump(doc, fh, indent=indent)
        os.link(staged, target)
    finally:
        try:
            os.remove(staged)
        except FileNotFoundError:
            pass


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def list_versions(path: str) -> list[int]:
    return json_versions(os.path.join(path, _MANIFEST_DIR))


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def write_version(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    operation: str = "",
) -> int:
    """Commit ``df`` as the next version of the table at ``path``.

    Data files are written to a fresh uuid-suffixed directory (never
    reused, so concurrent/failed writers cannot collide), then the
    manifest is committed by :func:`commit_json` — the version EXISTS
    only from that atomic link onward.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    versions = list_versions(path)
    n = (versions[-1] + 1) if versions else 0
    commit_dir = f"data/c{n:06d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(path, commit_dir))
    files = sorted(
        f"{commit_dir}/{name}"
        for name in os.listdir(os.path.join(path, commit_dir))
        if name.endswith(".parquet")
    )
    prev: list[str] = []
    if mode == "append" and versions:
        prev = _read_manifest(path, versions[-1])["files"]
    manifest = {
        "version": n,
        "mode": mode,
        "operation": operation,
        "files": prev + files,
        "n_files": len(prev) + len(files),
        "committed_at": time.time(),
    }
    os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
    staged = _manifest_path(path, n) + f".tmp-{uuid.uuid4().hex[:8]}"
    # put-if-absent: another writer that claimed version n between our
    # list_versions and now wins — the optimistic-concurrency commit
    # Delta's log uses.
    try:
        commit_json(manifest, staged, _manifest_path(path, n))
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"version {n} at {path} was committed by another writer; "
            "re-read list_versions and retry"
        ) from e
    return n


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read — `versionAsOf` semantics (`delta_utils.py:78-92`).
    Default latest. Plans as a plain parquet scan of the manifest's
    file list (full pushdown/pruning)."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versions committed at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    m = _read_manifest(path, v)
    if not m["files"]:
        raise ValueError(f"version {v} is empty")
    return spark.read.parquet(*[os.path.join(path, f) for f in m["files"]])


def table_history(path: str) -> list[dict]:
    """Commit log, newest first (`delta_utils.py:112-116` shape)."""
    return [
        {k: m[k] for k in ("version", "mode", "operation", "n_files", "committed_at")}
        for m in (
            _read_manifest(path, v) for v in reversed(list_versions(path))
        )
    ]


def vacuum_versions(path: str, keep_last: int = 1) -> list[str]:
    """Drop manifests older than the ``keep_last`` newest AND every
    data file none of the kept manifests references. Returns the
    removed file paths. The Delta retention trap holds here too: a
    reader of a vacuumed version gets FileNotFoundError — keep_last
    must exceed the oldest concurrent time-travel reader."""
    versions = list_versions(path)
    keep = set(versions[-keep_last:]) if keep_last > 0 else set()
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(path, v)["files"])
    removed: list[str] = []
    for v in versions:
        if v not in keep:
            os.remove(_manifest_path(path, v))
    data_root = os.path.join(path, "data")
    if os.path.isdir(data_root):
        import shutil

        for cdir in sorted(os.listdir(data_root)):
            names = sorted(os.listdir(os.path.join(data_root, cdir)))
            parquets = [n for n in names if n.endswith(".parquet")]
            if not any(f"data/{cdir}/{n}" in live for n in parquets):
                # whole commit dead → drop it, _SUCCESS markers and all
                shutil.rmtree(os.path.join(data_root, cdir))
                removed.extend(f"data/{cdir}/{n}" for n in parquets)
            else:
                for n in parquets:
                    rel = f"data/{cdir}/{n}"
                    if rel not in live:
                        os.remove(os.path.join(path, rel))
                        removed.append(rel)
    return removed
