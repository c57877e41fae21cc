"""Table maintenance: physical delete and small-file compaction.

Parity + operations layer for SURVEY.md §2.1 S6: ``delete_streams`` is
registry-first (reads filter against the registry, so deletion is
immediately visible), and this module is the background job that makes
it physical — the Spark-native analogue of the reference's
``Backend.delete_streams`` collection deletes (mongodb.py:~760 [MED])
plus the compaction every long-lived append-only table needs.

Both operations are per-partition rewrites: read one p_date partition,
filter/coalesce, write to a staging directory, atomic directory swap.
At 100 TB you run them partition-by-partition (bounded memory, bounded
blast radius) and only on partitions that need it — deleted-stream rows
or file counts above threshold. With a Delta-backed store these become
``DELETE`` + ``OPTIMIZE``; the parquet implementation keeps the engine
dependency-free.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from .tables import TableStore

#: Compact a partition when it holds more than this many files.
COMPACT_FILE_THRESHOLD = 8
#: Files each partition rewrite (purge or compaction) writes.
COMPACT_TARGET_FILES = 1


def _partitions(store: TableStore, table: str) -> list[str]:
    root = store.path(table)
    if not os.path.isdir(root):
        return []
    return sorted(d for d in os.listdir(root) if d.startswith("p_date="))


def purge_deleted_streams(store: TableStore, live_stream_ids: list[str],
                          table: str = "datapoints") -> int:
    """Physically drop rows whose stream_id is no longer registered.
    Returns the number of partitions rewritten. Partitions with no dead
    rows are left untouched (cheap existence probe before rewrite)."""
    spark = store.spark
    live = spark.createDataFrame(
        [(s,) for s in live_stream_ids], "stream_id string"
    )
    rewritten = 0
    for part in _partitions(store, table):
        ppath = os.path.join(store.path(table), part)
        df = spark.read.parquet(ppath)
        dead = df.join(F.broadcast(live), "stream_id", "left_anti")
        if dead.isEmpty():
            continue
        kept = df.join(F.broadcast(live), "stream_id", "left_semi")
        _swap_partition(kept, ppath)
        store.invalidate(table)
        rewritten += 1
    return rewritten


def compact_table(store: TableStore, table: str = "datapoints",
                  file_threshold: int = COMPACT_FILE_THRESHOLD) -> int:
    """Rewrite partitions whose file count exceeds the threshold into
    COMPACT_TARGET_FILES files. Returns partitions compacted."""
    spark = store.spark
    compacted = 0
    for part in _partitions(store, table):
        ppath = os.path.join(store.path(table), part)
        n_files = sum(1 for f in os.listdir(ppath) if f.endswith(".parquet"))
        if n_files <= file_threshold:
            continue
        _swap_partition(spark.read.parquet(ppath), ppath)
        store.invalidate(table)
        compacted += 1
    return compacted


def _swap_partition(df, ppath: str) -> None:
    """Write df as COMPACT_TARGET_FILES files to a staging dir, then
    atomically replace the partition directory (rename is atomic within
    a filesystem). The fixed file target makes every rewrite leave the
    same files whatever the input split count (and so the core count).
    The swap bypasses ``TableStore``'s writers, so callers
    ``invalidate`` the table after it."""
    staging = ppath + "._staging"
    df.coalesce(COMPACT_TARGET_FILES).write.mode("overwrite").parquet(staging)
    old = ppath + "._old"
    os.rename(ppath, old)
    os.rename(staging, ppath)
    shutil.rmtree(old)
