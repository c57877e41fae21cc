"""Table maintenance: physical delete and small-file compaction.

Parity + operations layer for SURVEY.md §2.1 S6: ``delete_streams`` is
registry-first (reads filter against the registry, so deletion is
immediately visible), and ``vacuum`` is the background job that makes
it physical — the Spark-native analogue of the reference's
``Backend.delete_streams`` collection deletes (mongodb.py:~760 [MED])
plus the compaction every long-lived append-only table needs.

Set-oriented, like the reference's one delete per collection: one
aggregate over the raw table counts each ``p_date`` partition's dead
rows, live rows and files, and one dynamic partition overwrite through
``TableStore`` rewrites the partitions that need it — deleted-stream
rows, or more than ``COMPACT_FILE_THRESHOLD`` files — without their
dead rows, one file each. A partition that needs neither is only read
by the aggregate, so the job count does not grow with history.
Deleted streams' derived and rollup rows need no job at all: those
tables are partitioned by ``stream_id``, so their directories are
removed. With a Delta-backed store these become ``DELETE`` +
``OPTIMIZE``; the parquet implementation keeps the engine
dependency-free.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .tables import TableStore

#: Compact a partition when it holds more than this many files.
COMPACT_FILE_THRESHOLD = 8


def vacuum(store: TableStore, live_ids: list[str]) -> tuple[int, int]:
    """Drop the raw rows of every stream not in ``live_ids`` and
    compact date partitions of more than ``COMPACT_FILE_THRESHOLD``
    files. Returns (partitions that had dead rows, over-threshold
    partitions that had none); each rewritten partition ends as one
    file, and one left without rows is dropped. The dead streams'
    derived and rollup rows go with their ``stream_id=`` directories
    (``TableStore.drop_stream_partitions``)."""
    store.drop_stream_partitions(live_ids)
    raw = store.read("datapoints")
    if raw is None:
        return 0, 0
    is_live = F.col("stream_id").isin(live_ids)
    todo = (
        raw.groupBy("p_date")
        .agg(
            F.count_if(~is_live).alias("dead"),
            F.count_if(is_live).alias("live"),
            F.count_distinct("_metadata.file_path").alias("files"),
        )
        .where((F.col("dead") > 0) | (F.col("files") > COMPACT_FILE_THRESHOLD))
        .collect()
    )
    kept = [r.p_date for r in todo if r.live]
    if kept:
        store.overwrite_raw(raw.where(F.col("p_date").isin(kept) & is_live))
    store.drop_raw_partitions([r.p_date for r in todo if not r.live])
    dirty = sum(1 for r in todo if r.dead)
    return dirty, len(todo) - dirty
