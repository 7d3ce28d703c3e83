"""Set operations & anti-join semantics (SURVEY.md §2.3, §2.7).

U1 union-by-name, U2 keep-first dedup, J1 manifest anti-join — the
reference's `pd.concat`, `drop_duplicates(keep='first')`, and
processed-file set-difference, with deterministic Spark semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def union_by_name(frames: Sequence[DataFrame]) -> DataFrame:
    """U1 — `pd.concat` equivalent (src/data_extract.py:56-66, :214).
    Column-name-aligned union; missing columns become NULL. Schemas are
    normalized upstream (P1), so this is usually a pure no-shuffle
    union of partitions."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def dedup_keep_first(df: DataFrame, keys: Sequence[str],
                     order: Sequence[Column]) -> DataFrame:
    """U2 — pandas `drop_duplicates(subset=keys)` keeps the FIRST row
    per key in input order (src/transform.py:138); Spark's
    `dropDuplicates` keeps an arbitrary one. For parity we make the
    winner deterministic: row_number over (keys, order) == 1.

    One shuffle on `keys` (same cost as dropDuplicates); the window
    sort is per-group, not global."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join(df: DataFrame, exclude: DataFrame, on: str | Sequence[str],
              broadcast_exclude: bool = True) -> DataFrame:
    """J1 — set-membership exclusion: the processed-file diff
    (src/transform.py:192-196) and tracker lookup
    (src/load_sqlserver.py:113-115) as one operator. The manifest side
    is tiny (one row per ingested file) → broadcast, so the data side
    never shuffles."""
    if broadcast_exclude:
        exclude = F.broadcast(exclude)
    return df.join(exclude, on, "left_anti")


def upsert_keep_latest(target: DataFrame, updates: DataFrame,
                       keys: Sequence[str], version_col: str) -> DataFrame:
    """MERGE/upsert expressed relationally (U-family scale path):
    union the incoming batch with the target and keep, per key, the
    row with the highest ``version_col`` (ties resolve to the update
    side by a stable source rank). This is how an ACID-less parquet
    warehouse applies a changeset: compute the merged image, then
    atomically swap it in (dynamic partition overwrite writes only
    the partitions the changeset touches — pair with
    ``partitionBy`` on the write).

    One union (no shuffle) + one window shuffle on the key. At 100 TB
    the shuffle touches only the TARGET PARTITIONS the keys land in
    when the caller pre-filters target to affected partitions — the
    standard merge-on-read compaction pattern."""
    t = target.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    w = Window.partitionBy(*keys).orderBy(
        F.desc(version_col), F.desc("_src")
    )
    return (
        t.unionByName(u)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def cdc_apply(target: DataFrame, changes: DataFrame,
              keys: Sequence[str], seq_col: str,
              op_col: str = "op") -> DataFrame:
    """Apply a CDC change log (inserts/updates as ``op='U'`` rows,
    deletes as ``op='D'`` tombstones) onto a target snapshot.

    upsert_keep_latest handles latest-row-wins; what CDC adds is the
    DELETE: per key the highest-``seq_col`` entry wins (change side
    beats target on ties), and if that winner is a tombstone the key
    disappears from the result — a late update with a lower sequence
    number can never resurrect a deleted key. Same cost shape as the
    upsert: one shuffle-free union + one keyed window; at scale,
    pre-filter the target to the partitions the changeset touches and
    write back with dynamic partition overwrite."""
    t = target.withColumn("_src", F.lit(0))
    c = changes.withColumn("_src", F.lit(1))
    w = Window.partitionBy(*keys).orderBy(
        F.desc(seq_col), F.desc("_src")
    )
    return (
        t.unionByName(c)
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col(op_col) != "D"))
        .drop("_rn", "_src")
    )
