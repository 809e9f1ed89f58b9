"""Idempotent merge-by-key writer (op-sink-upsert).

The reference gets idempotency from `INSERT ... ON CONFLICT (key) DO
UPDATE` with unique constraints (database.py:119-131, README1.md:128-132).
Parquet has no constraints, so the engine provides the two standard Spark
idioms:

- `merge_last_write_wins(old, new, keys, order_col)`: pure-DataFrame merge
  — union + `row_number() over (partition by keys order by version desc)`
  = 1. Works on any DataFrames; one shuffle on the key.
- `upsert_parquet(...)`: read-merge-overwrite for a Parquet path. Writes
  to a temp dir then swaps, emulating the reference's commit-on-success
  scope (database.py:60-71). Single-writer, like the reference.

Neither upsert re-reads what it wrote: the merged row count they return
is observed on the write itself (`_write_counted`).
The old side is read with the schema Spark stamped into one data file's
footer (`read_layer`), so the read runs no schema-inference job; a table
whose footers lack that stamp is read with inference instead.

At 100 TB scale the same `merge_last_write_wins` plan is what a Delta/
Iceberg MERGE compiles to for full-overwrite; with a partitioned layout,
replace only affected partitions (dynamic partition overwrite).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the key Spark's parquet writer stamps its row schema under, in every
# data file's footer (ParquetWriteSupport.SPARK_METADATA_KEY)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark schema in the footer of one data file under `path`, or
    None when there is no data file or its footer carries no Spark
    schema. Files of one table share their schema (each upsert rewrites
    it whole, or its touched partitions under the same schema)."""
    import pyarrow.parquet as pq

    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        for f in sorted(filenames):
            if not f.startswith(("_", ".")) and f.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(dirpath, f)).metadata.metadata
                raw = (meta or {}).get(_SPARK_ROW_METADATA)
                return T.StructType.fromJson(json.loads(raw)) if raw else None
    return None


def read_layer(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without its schema-inference job: the
    schema comes from one footer, read locally by pyarrow. Hive partition
    columns are still discovered from the directory names and appended
    after the data columns, as inference does. Falls back to inference
    when no footer carries a Spark schema."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _write_counted(
    df: DataFrame, path: str, partition_cols: list[str] | None = None
) -> int:
    """Overwrite `path` with `df`; return the rows written, counted by an
    Observation on the write's own job instead of a second scan. The
    observation is held until its metrics arrive, so no accumulator of
    it is dropped while the job still reports."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write
    writer = writer.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
    return obs.get["rows"]


def merge_last_write_wins(
    old: DataFrame | None,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Keep exactly one row per key: the one with the greatest `order_col`,
    preferring `new` over `old` on ties (ON CONFLICT DO UPDATE semantics,
    database.py:124-130)."""
    new_tagged = new.withColumn("__src", F.lit(1))
    unioned = (
        new_tagged
        if old is None
        else old.withColumn("__src", F.lit(0)).unionByName(new_tagged)
    )
    order = [F.col(order_col).desc(), F.col("__src").desc()]
    if tiebreak:
        order += [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def upsert_parquet(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    partition_cols: list[str] | None = None,
) -> int:
    """Merge `new` into the Parquet table at `path`; returns merged count.
    Re-running with the same input leaves the table unchanged
    (idempotency property, README1.md:128-132).

    `partition_cols` lays the merged table out hive-partitioned so
    downstream scans filtered on those columns prune directories (the
    SURVEY §4.2 default for the cleaned layer). At very large scale,
    pair it with dynamic partition overwrite to rewrite only the
    partitions the batch touches."""
    old = read_layer(spark, path) if os.path.exists(path) else None
    merged = merge_last_write_wins(old, new, keys, order_col)
    tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
    n = _write_counted(merged, tmp, partition_cols)
    # Swap via rename-aside so every intermediate state still has a
    # recoverable table (the reference's transaction never loses the
    # table, database.py:60-71): old -> .__old__, tmp -> live, then
    # delete the old copy. A crash mid-sequence leaves either the
    # original or the merged table on disk under a findable name —
    # never a deleted table with the data stranded in a tmp dir.
    old_aside = f"{path}.__old__{uuid.uuid4().hex[:8]}"
    had_old = os.path.exists(path)
    if had_old:
        os.rename(path, old_aside)
    os.rename(tmp, path)
    if had_old:
        shutil.rmtree(old_aside)
    return n


def recover_table(path: str) -> str:
    """Restore `path` to a consistent state after a crash anywhere in
    upsert_parquet's write-swap sequence (single-writer, like the
    reference's transaction, database.py:60-71). Returns one of
    'clean' | 'finished_swap' | 'restored_old' | 'dropped_tmp'
    describing what was found.

    Decision table (remnants are `<path>.__tmp__*` / `<path>.__old__*`):
    - live table present: the swap either never started or fully
      completed before the cleanup step — keep live, drop remnants.
    - live missing, a COMPLETE tmp exists (Spark's _SUCCESS marker):
      the crash hit between the two renames — finish the swap.
    - live missing, only an old-aside exists (or the tmp is partial):
      the merge never committed — restore the old table; the batch
      re-runs and idempotently converges.
    """
    import glob as _glob

    tmps = sorted(_glob.glob(f"{path}.__tmp__*"), key=os.path.getmtime)
    olds = sorted(_glob.glob(f"{path}.__old__*"), key=os.path.getmtime)
    if os.path.exists(path):
        for d in tmps + olds:
            shutil.rmtree(d)
        return "finished_swap" if (tmps or olds) else "clean"
    complete = [t for t in tmps if os.path.exists(os.path.join(t, "_SUCCESS"))]
    if complete:
        os.rename(complete[-1], path)  # newest committed merge wins
        for d in [t for t in tmps if t != complete[-1]] + olds:
            shutil.rmtree(d)
        return "finished_swap"
    if olds:
        os.rename(olds[-1], path)
        for d in tmps + olds[:-1]:
            shutil.rmtree(d)
        return "restored_old"
    for d in tmps:
        shutil.rmtree(d)
    return "dropped_tmp"


def upsert_parquet_scoped(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    keys: list[str],
    order_col: str,
    partition_cols: list[str],
) -> int:
    """Partition-scoped upsert: merge `new` into a hive-partitioned
    Parquet table rewriting ONLY the partitions the batch touches —
    the form that survives 100 TB, where `upsert_parquet`'s whole-table
    read-merge-overwrite is a non-starter. Keys must not move between
    partitions (partition_cols ⊆ the key's functional dependencies),
    the standard constraint for partition-scoped MERGE.

    Plan shape: the touched partition VALUES are collected (tiny — one
    row per partition, not per record), the old side is read with a
    partition-pruned filter (only touched directories are scanned), the
    merged result is staged to a side directory, and the touched
    partition dirs are swapped in one rename apiece (pre-batch copies
    renamed aside first — recover_partitions heals any crash point).
    Untouched partitions are never read, shuffled, or rewritten.
    Returns the merged row count of the touched partitions."""
    if not os.path.exists(path):
        # bootstrap STAGES like upsert_parquet: a crash mid-write to
        # the live path would leave a _temporary-only directory that
        # exists-checks treat as a table but no reader can open (and
        # no recover function heals); staging + one rename keeps every
        # crash state either absent or complete. recover_table's
        # __tmp__ namespace covers the remnant.
        new_only = merge_last_write_wins(None, new, keys, order_col)
        tmp = f"{path}.__tmp__{uuid.uuid4().hex[:8]}"
        n = _write_counted(new_only, tmp, partition_cols)
        os.rename(tmp, path)
        return n
    touched = new.select(*partition_cols).distinct().collect()
    if not touched:
        return 0  # empty batch: nothing to merge, table untouched
    pred = None
    for r in touched:
        clause = None
        for c in partition_cols:
            eq = F.col(c).eqNullSafe(F.lit(r[c]))
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    old_touched = read_layer(spark, path).filter(pred)
    merged = merge_last_write_wins(old_touched, new, keys, order_col)
    # Stage-then-swap, partition-scoped: the merged touched partitions
    # are fully materialized to a staging dir FIRST (so the lazy read of
    # the live path completes before anything live is touched), then
    # each touched partition directory is renamed aside and replaced.
    # This keeps upsert_parquet's crash contract at partition scope —
    # every intermediate state leaves either the pre-batch or the merged
    # copy of each partition under a findable name (__ptmp__/__pold__,
    # healed by recover_partitions) — where a direct dynamic-overwrite
    # of the live path would lose a partition's pre-batch rows if the
    # commit crashed between clearing and re-populating it.
    token = uuid.uuid4().hex[:8]
    stage = f"{path}.__ptmp__{token}"
    aside = f"{path}.__pold__{token}"
    # the stage holds exactly the merged touched partitions: the rows
    # its write observes are the count to return
    n = _write_counted(merged, stage, partition_cols)
    for rel in _leaf_partitions(stage):
        live_dir = os.path.join(path, rel)
        if os.path.exists(live_dir):
            aside_dir = os.path.join(aside, rel)
            os.makedirs(os.path.dirname(aside_dir), exist_ok=True)
            os.rename(live_dir, aside_dir)
        os.makedirs(os.path.dirname(live_dir), exist_ok=True)
        os.rename(os.path.join(stage, rel), live_dir)
    shutil.rmtree(aside, ignore_errors=True)
    shutil.rmtree(stage)
    return n


def _leaf_partitions(root: str) -> list[str]:
    """Relative paths of the hive leaf-partition directories under
    `root` (the dirs that hold data files; markers like _SUCCESS at the
    table root don't count)."""
    leaves = []
    for dirpath, _dirnames, filenames in os.walk(root):
        if dirpath == root:
            continue
        if any(not f.startswith(("_", ".")) for f in filenames):
            leaves.append(os.path.relpath(dirpath, root))
    return sorted(leaves)


def recover_partitions(path: str) -> str:
    """Heal `path` after a crash anywhere in upsert_parquet_scoped's
    stage-then-swap (remnants `<path>.__ptmp__<t>` / `<path>.__pold__<t>`,
    paired by token). Returns 'clean' | 'finished_partition_swap' |
    'rolled_back_partition_swap'.

    - COMPLETE stage (_SUCCESS present): the merge committed before the
      crash — roll FORWARD: finish swapping every leaf still in the
      stage (aside the live copy first, same as the writer), then drop
      remnants. Leaves already swapped are no longer in the stage, so
      the roll-forward is idempotent under repeated crashes.
    - Incomplete stage: the merge never committed — roll BACK: restore
      any leaf that was asided but whose swap didn't land, drop the
      stage; the batch re-runs and idempotently converges.
    - Orphan aside (its stage already cleaned up): the swap finished —
      restore only leaves missing live (none, normally), then drop.
    """
    import glob as _glob

    status = "clean"
    for stage in sorted(_glob.glob(f"{path}.__ptmp__*")):
        token = stage.rsplit("__ptmp__", 1)[1]
        aside = f"{path}.__pold__{token}"
        if os.path.exists(os.path.join(stage, "_SUCCESS")):
            for rel in _leaf_partitions(stage):
                live_dir = os.path.join(path, rel)
                if os.path.exists(live_dir):
                    aside_dir = os.path.join(aside, rel)
                    os.makedirs(os.path.dirname(aside_dir), exist_ok=True)
                    os.rename(live_dir, aside_dir)
                os.makedirs(os.path.dirname(live_dir), exist_ok=True)
                os.rename(os.path.join(stage, rel), live_dir)
            status = "finished_partition_swap"
        else:
            if os.path.exists(aside):
                for rel in _leaf_partitions(aside):
                    live_dir = os.path.join(path, rel)
                    if not os.path.exists(live_dir):
                        os.makedirs(os.path.dirname(live_dir), exist_ok=True)
                        os.rename(os.path.join(aside, rel), live_dir)
            status = "rolled_back_partition_swap"
        shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
    for aside in sorted(_glob.glob(f"{path}.__pold__*")):
        for rel in _leaf_partitions(aside):
            live_dir = os.path.join(path, rel)
            if not os.path.exists(live_dir):
                os.makedirs(os.path.dirname(live_dir), exist_ok=True)
                os.rename(os.path.join(aside, rel), live_dir)
        shutil.rmtree(aside, ignore_errors=True)
        if status == "clean":
            status = "finished_partition_swap"
    return status
