"""Dataset-assembly operators for training pipelines: deterministic
splits, stratified sampling, and sequence packing.

All three run at corpus scale with at most one shuffle:

- :func:`hash_split` — content-hash bucketing into train/val/test.
  Deterministic by id (stable across reruns AND engines — md5, not
  `rand()`), row-local, no shuffle. The property that matters at
  100 TB: adding documents never moves an existing document between
  splits (no reshuffling on append).
- :func:`stratified_sample` — per-class sampling via the same hash
  (class-conditional thresholds), giving reproducible class balance
  without `sampleBy`'s RNG (whose draws depend on partition layout).
- :func:`pack_sequences` — contiguous greedy packing of documents
  into fixed token budgets per group: cumulative token counts over a
  deterministic order, `pack_id = floor((cumsum - n) / budget)`. One
  window shuffle per group key; the pack assignment is pure SQL, so
  the packer is oracle-checkable (vs. driver-side bin packing, which
  wouldn't be).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.text import hash60


def split_bucket(id_col: Column) -> Column:
    """Stable [0, 100) assignment from the id's md5."""
    return hash60(id_col.cast("string")) % 100


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train: int = 80,
    val: int = 10,
) -> DataFrame:
    """Add a `split` column: train/val/test by hash bucket
    (train + val + (rest)=test out of 100)."""
    b = split_bucket(F.col(id_col))
    return df.withColumn(
        "split",
        F.when(b < train, "train").when(b < train + val, "val").otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    class_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep ≈fraction of each class, deterministically: a row
    survives iff its hash bucket (of 10k) falls under the class's
    threshold. Unlisted classes are dropped (fraction 0)."""
    b = hash60(F.col(id_col).cast("string")) % 10_000
    keep = F.lit(False)
    for cls, frac in fractions.items():
        keep = keep | ((F.col(class_col) == cls) & (b < int(frac * 10_000)))
    return df.filter(keep)


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    group_cols: list[str] | None = None,
    order_col: str = "doc_id",
) -> DataFrame:
    """Stream-offset packing: concatenate documents in ``order_col``
    order (per group) and shard the token stream at ``budget``
    boundaries — `pack_id = floor((cumsum - n) / budget)`.

    A document starting before a boundary stays in that pack, so a
    pack can overflow by at most one document (max doc length); this
    is the cheap chunker for "roughly budget-sized" shards, in
    closed form (one window, oracle-checkable SQL). For hard ≤budget
    bins use :func:`greedy_pack_sequences`.
    """
    gcols = [F.col(c) for c in (group_cols or [])]
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    capped = F.least(F.col(token_col), F.lit(budget))
    cumsum = F.sum(capped).over(w)
    return df.withColumn(
        "pack_id", F.floor((cumsum - capped) / F.lit(budget)).cast("long")
    )


def greedy_pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    group_col: str,
    order_col: str = "doc_id",
) -> DataFrame:
    """Hard-budget greedy packing (next-fit): walk each group's
    documents in ``order_col`` order, open a new pack whenever adding
    the next document would exceed ``budget``. Over-budget documents
    get a singleton pack.

    The running reset is not expressible as a closed-form window, so
    this is an Arrow-batched applyInPandas per group — deterministic
    (sorted walk), O(rows), one shuffle on the group key. Invariants
    (no pack over budget except singletons, every doc assigned,
    determinism) are pinned in tests/test_sampling.py; there is no
    SQL oracle for it by construction.
    """
    import pandas as pd

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", pack_id bigint"

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        pack_ids = []
        pack_id, used = 0, 0
        for n in pdf[token_col]:
            n = int(n)
            if used > 0 and used + n > budget:
                pack_id += 1
                used = 0
            pack_ids.append(pack_id)
            used += n
            if n >= budget:  # singleton overflow pack: close immediately
                pack_id += 1
                used = 0
        pdf["pack_id"] = pack_ids
        return pdf

    return df.groupBy(group_col).applyInPandas(pack, out_schema)
