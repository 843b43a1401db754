"""Local replica of the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, and
order-insensitive values (exact for non-floats; floats must match
bit-for-bit after the queries' own rounding — any drift is reported
with max-abs-diff so the query can be made deterministic).

With ``--oracle-only`` it starts no Spark session: it runs only the
DuckDB oracles and prints, per query, the seconds taken and a sha256
of the canonical result (:func:`result_hash`), then the process's peak
RSS. ``--json PATH`` also writes those figures as JSON, for comparing
an oracle generator's results before and after a change.

Usage:
    python tools/selfcheck.py [--sf /root/testdata/sf0.01] [query ...]
    python tools/selfcheck.py --oracle-only [--json out.json] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

#: DuckDB buffer-manager cap for the oracle connection (DuckDB's own
#: default is 80% of RAM). 4 GB is the smallest whole-GB cap under
#: which every sf0.01 oracle still runs: at 3 GB q_route_reconstruct
#: fails with "Out of Memory Error", at 2 GB so does
#: q_model_selection_cv_full. The cap bounds only buffer-managed
#: memory. The process peak (about 8 GB, reached on the 456 KB
#: q_model_selection_cv_full oracle) lies mostly outside it: a 1.8 GiB
#: cap still peaked at 7.8 GB.
DUCKDB_MEMORY_LIMIT = "4GB"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, float):
            return float(v)
        if hasattr(v, "isoformat"):
            # date vs midnight-timestamp: pandas surfaces DuckDB DATE as
            # datetime64 and Spark DateType as datetime.date — same value.
            return v.isoformat().removesuffix("T00:00:00")
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        try:
            import numpy as np

            if isinstance(v, np.generic):
                return norm(v.item())
        except Exception:
            pass
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    # Return rows+columns, NOT a rebuilt DataFrame — pandas would
    # coerce None back to NaN in float columns and nan != nan.
    return rows, list(df.columns)


def same(a, b) -> bool:
    """Typed equality mirroring the driver's (type_tag, value) hash:
    5 != 5.0, True != 1 — an oracle that surfaces DuckDB HUGEINT as
    float64 while Spark emits int64 must FAIL here even when every
    value is numerically equal."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if not (isinstance(a, float) and isinstance(b, float)):
            return False
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def result_hash(df: pd.DataFrame) -> str:
    """sha256 of :func:`canon`'s columns and rows with every value
    tagged by its type, as :func:`same` compares: independent of row
    and column order, and 5 hashes apart from 5.0."""

    def tag(v):
        if isinstance(v, tuple):
            return ("tuple", tuple(tag(x) for x in v))
        return (type(v).__name__, v)

    rows, cols = canon(df)
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(tuple(tag(v) for v in r)).encode())
    return h.hexdigest()


def peak_rss_mib() -> float | None:
    """This process's VmHWM in MiB (None where /proc is absent)."""
    try:
        for line in Path("/proc/self/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def oracle_pass(con, oracles: dict[str, str], names: list[str]) -> dict:
    """Run each named oracle on ``con`` alone: {name: {"s": seconds,
    "sha256": result_hash}} or {"s", "error"} when the oracle raises."""
    out = {}
    for name in names:
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
            rec = {"sha256": result_hash(odf), "rows": len(odf)}
        except Exception as e:
            rec = {"error": str(e).splitlines()[0][:200]}
        rec["s"] = round(time.time() - t0, 2)
        out[name] = rec
        print(f"ORACLE {name} [{rec['s']:.2f}s] {rec.get('sha256') or 'error: ' + rec['error']}")
    return out


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(sdf.columns) != sorted(odf.columns):
        issues.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return issues
    if len(sdf) != len(odf):
        issues.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
        return issues
    (srows, scols), (orows, ocols) = canon(sdf), canon(odf)
    for ci, col in enumerate(scols):
        sv = [r[ci] for r in srows]
        ov = [r[ocols.index(col)] for r in orows]
        diffs = [(a, b) for a, b in zip(sv, ov) if not same(a, b)]
        if not diffs:
            continue
        # diagnose: pure dtype drift vs float drift vs hard mismatch
        type_only = [(a, b) for a, b in diffs if a == b]
        floats = [
            (a, b)
            for a, b in diffs
            if isinstance(a, float) and isinstance(b, float) and a != b
        ]
        if len(type_only) == len(diffs):
            a, b = type_only[0]
            issues.append(
                f"col {col}: TYPE drift, values equal but "
                f"spark={type(a).__name__} oracle={type(b).__name__} (e.g. {a!r} vs {b!r})"
            )
        elif len(floats) == len(diffs):
            mx = max(abs(a - b) for a, b in floats)
            issues.append(f"col {col}: {len(diffs)} float mismatches, max_abs_diff={mx:.3e}")
        else:
            a, b = next((a, b) for a, b in diffs if not (isinstance(a, float) and isinstance(b, float) and a != b))
            issues.append(f"col {col}: {len(diffs)} mismatches, e.g. spark={a!r} oracle={b!r}")
    return issues


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--oracle-only", action="store_true")
    ap.add_argument("--json")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from real_time_fraud_revenue_intelligence_lakehouse_spark.plans import registry

    con = duckdb.connect(config={"memory_limit": DUCKDB_MEMORY_LIMIT})
    for t in TABLES:
        p = Path(args.sf) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = registry.all_queries()
    oracles = registry.all_oracles()
    names = args.queries or list(qs)
    if args.oracle_only:
        res = oracle_pass(con, oracles, [n for n in names if n in oracles])
        rss = peak_rss_mib()
        print(f"\n{len(res)} oracles, peak RSS {rss:.0f} MiB" if rss else f"\n{len(res)} oracles")
        if args.json:
            Path(args.json).write_text(
                json.dumps({"sf": args.sf, "peak_rss_mib": rss, "oracles": res}, indent=1)
            )
        return 0

    from real_time_fraud_revenue_intelligence_lakehouse_spark.session import get_spark

    spark = get_spark("selfcheck")
    ok = fail = rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            fail += 1
            continue
        issues = compare(name, sdf, odf)
        if issues:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for i in issues[:6]:
                print(f"      {i}")
            fail += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            ok += 1
    print(f"\n{ok} ok, {rows_only} rows-only, {fail} fail / {len(names)} total")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
