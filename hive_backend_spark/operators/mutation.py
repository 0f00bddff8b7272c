"""Mutable-table semantics over immutable parquet (SURVEY §4 custom work #2;
reference sites: UPDATE db.mjs:296-320, INSERT OR REPLACE db.mjs:270-278,
DELETE db.mjs:387-408, VACUUM/ANALYZE db.mjs:434-438, backup db.mjs:489-505,
migrations db.mjs:459-486).

Every mutation is a join-and-rewrite producing a NEW table directory, then an
atomic swap (write-temp -> rename). Readers of the old directory keep a
consistent snapshot — the same read-during-write property the reference gets
from SQLite WAL (db.mjs:9-10). On a real deployment the swap step is the
table format's commit (Delta/Iceberg transaction log); the directory rename
here is the local-filesystem stand-in with the same all-or-nothing contract.

Scale posture: the anti-join side is the (small) update set and broadcasts;
the big table streams through once. Rewrites touch the whole table here —
with a partitioned layout (partition_hint) only affected partitions need
rewriting, which is the 100 TB path.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def atomic_overwrite(df: DataFrame, table_dir: str) -> None:
    """Write df to a temp dir next to table_dir, then swap. The rename pair
    is the commit point; a crash before it leaves the old table intact.
    The old table may be a directory of part files or a single parquet
    file (the fixture layout); the new one is always a directory."""
    parent = os.path.dirname(os.path.abspath(table_dir))
    tmp = os.path.join(parent, f".tmp-{uuid.uuid4().hex}")
    old = os.path.join(parent, f".old-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(table_dir):
        os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    if os.path.isdir(old):
        shutil.rmtree(old)
    elif os.path.exists(old):
        os.remove(old)


def overwrite_matching(
    spark: SparkSession, table_dir: str, updates: DataFrame, key_cols: list[str]
) -> None:
    """UPDATE emulation: rows matching `updates` on key_cols are replaced by
    the update rows; everything else passes through. left_anti keeps the
    non-matching rows; the update set broadcasts (it is the small side)."""
    current = spark.read.parquet(table_dir)
    kept = current.join(F.broadcast(updates.select(*key_cols)), key_cols, "left_anti")
    atomic_overwrite(kept.unionByName(updates), table_dir)


def upsert_latest(
    spark: SparkSession, table_dir: str, incoming: DataFrame, key_cols: list[str], ts_col: str
) -> None:
    """S6 INSERT OR REPLACE (last-writer-wins by ts): union current+incoming,
    keep row_number()=1 per key ordered by ts desc. Deterministic survivor
    even on ts ties (full column tiebreak not needed for the reference's
    single-writer semantics)."""
    current = spark.read.parquet(table_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    merged = (
        current.unionByName(incoming)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    atomic_overwrite(merged, table_dir)


def soft_delete(
    spark: SparkSession,
    table_dir: str,
    predicate: Column,
    flag_col: str = "active",
    status_col: str | None = "status",
) -> None:
    """T2 soft delete (db.mjs:296-305): matching rows get flag=false and
    status='deleted'; no row is removed. One pass, no join."""
    current = spark.read.parquet(table_dir)
    out = current.withColumn(
        flag_col, F.when(predicate, F.lit(False)).otherwise(F.col(flag_col))
    )
    if status_col is not None and status_col in current.columns:
        out = out.withColumn(
            status_col, F.when(predicate, F.lit("deleted")).otherwise(F.col(status_col))
        )
    atomic_overwrite(out, table_dir)


def conditional_update(
    spark: SparkSession, table_dir: str, predicate: Column, assignments: dict[str, Column]
) -> None:
    """T3 conditional multi-column UPDATE (db.mjs:307-320, including the F4
    CASE WHEN retry-counter pattern): each assignment applies only where the
    predicate holds."""
    current = spark.read.parquet(table_dir)
    out = current
    for col_name, value in assignments.items():
        out = out.withColumn(
            col_name, F.when(predicate, value).otherwise(F.col(col_name))
        )
    atomic_overwrite(out, table_dir)


def retention_rewrite(
    spark: SparkSession, table_dir: str, ts_col: str, cutoff: Column
) -> int:
    """S8/Q8 TTL cleanup (db.mjs:387-408 DELETE WHERE created_at < cutoff) as
    an anti-filter rewrite. Returns rows deleted. With a date-partitioned
    layout this only rewrites (drops) expiring partitions."""
    current = spark.read.parquet(table_dir)
    survivors = current.filter(F.col(ts_col) >= cutoff)
    before, after = current.count(), survivors.count()
    atomic_overwrite(survivors, table_dir)
    return before - after


def snapshot(spark: SparkSession, table_dir: str, snapshot_dir: str) -> None:
    """S7/T7 online backup (db.mjs:489-505): copy the current table state to
    a snapshot directory. File copy, not a plan — readers of the snapshot
    see the state as of the call."""
    shutil.copytree(table_dir, snapshot_dir)


def compact(spark: SparkSession, table_dir: str, target_files: int = 1) -> None:
    """T5 VACUUM analog: rewrite into target_files files (small-file
    compaction). ANALYZE's statistics role is played by parquet footers +
    Catalyst CBO stats on managed tables."""
    current = spark.read.parquet(table_dir)
    atomic_overwrite(current.coalesce(target_files), table_dir)


def evolve_schema(
    spark: SparkSession, table_dir: str, new_columns: dict[str, Column]
) -> None:
    """T6 versioned migration (db.mjs:121-167 probe-before-alter ADD COLUMN):
    add each column that does not already exist, with its default value
    expression. Idempotent — existing columns are left untouched."""
    current = spark.read.parquet(table_dir)
    out = current
    for col_name, default in new_columns.items():
        if col_name not in current.columns:
            out = out.withColumn(col_name, default)
    atomic_overwrite(out, table_dir)
