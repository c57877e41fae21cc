"""Physical table layout: the Spark-native replacement for the
reference's MongoDB collections (SURVEY.md §2.1 S7, §1.2).

Layout under a store root:

- ``datapoints/``          raw appends, parquet partitioned by ``p_date``
                           (the reference's timestamp-in-ObjectId range
                           trick re-expressed as partition pruning +
                           parquet min/max skipping, mongodb.py:~550)
- ``datapoints_derived/``  computed streams, partitioned by ``stream_id``
                           (dynamic partition overwrite = idempotent
                           recompute of one derived stream)
- ``rollup_<granularity>/`` the materialized ladder, partitioned by
                           ``p_date`` of the bucket

At 100 TB: date partitions bound every incremental job's input;
``TableStore.write_bucketed`` is the hook for bucketing/co-location so
per-stream windows avoid a full shuffle.

Reads are planned once per table version: every table is read with a
declared schema (``table_schema``), so no schema-inference job runs, and
the resulting DataFrame is reused until the table changes (see
``TableStore``).
"""

from __future__ import annotations

import glob
import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.rollup import rollup_schema

RAW_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("value_dec", T.DecimalType(38, 9), True),
        T.StructField("value_json", T.StringType(), True),
    ]
)

_P_DATE = T.StructField("p_date", T.DateType())
_STREAM_ID = T.StructField("stream_id", T.StringType())

#: Read schemas: the files' data columns in write order, then the
#: partition columns, all nullable — what parquet inference returns.
DATAPOINTS_SCHEMA = T.StructType(
    [
        *(T.StructField(f.name, f.dataType) for f in RAW_SCHEMA),
        _P_DATE,
    ]
)
DERIVED_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        _STREAM_ID,
        _P_DATE,
    ]
)


def table_schema(spark: SparkSession, table: str) -> T.StructType:
    """The declared read schema of a store table."""
    if table == "datapoints":
        return DATAPOINTS_SCHEMA
    if table == "datapoints_derived":
        return DERIVED_SCHEMA
    if table.startswith("rollup_"):
        return T.StructType([*rollup_schema(spark), _P_DATE, _STREAM_ID])
    raise ValueError(f"unknown store table {table!r}")


#: (session, absolute table path) -> (version, schema, DataFrame): one
#: read handle per table, shared by every TableStore in the process.
_HANDLES: dict[tuple[SparkSession, str], tuple[tuple, T.StructType, DataFrame]] = {}


def _version(path: str) -> tuple[int, int | None]:
    """Version marker of a table directory: its mtime, plus that of the
    streaming sink's ``_spark_metadata/`` log when there is one. Every
    Spark batch commit creates and removes ``_temporary`` or
    ``.spark-staging-*`` in the table directory, and dropping a
    partition removes its directory there or, one level down, bumps
    the mtime (``drop_stream_partitions``), so each moves the
    directory's mtime; the sink commits into its log."""
    meta = os.path.join(path, "_spark_metadata")
    meta_ns = os.stat(meta).st_mtime_ns if os.path.isdir(meta) else None
    return os.stat(path).st_mtime_ns, meta_ns


class TableStore:
    """Reads and writes of one store root.

    Handle contract: ``read`` returns one DataFrame per table version.
    The DataFrame holds the table's file listing, so it is reused only
    while the table is unchanged:

    - writes through any ``TableStore`` of this process (maintenance
      rewrites included: they go through ``overwrite_raw`` and
      ``drop_raw_partitions``) drop the handle exactly, via
      ``invalidate``;
    - writes that bypass the store (other processes, a streaming sink)
      are caught by a version marker checked on every read: the table
      directory's ``st_mtime_ns`` (see ``_version``). That needs a filesystem with nanosecond mtimes; on
      a coarser one, a commit landing in the same tick as a read could
      stay unseen until the next write.
    """

    def __init__(self, spark: SparkSession, root: str, n_stream_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.n_stream_buckets = n_stream_buckets
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.exists(p) and any(
            f.endswith(".parquet") or f.startswith(("p_date=", "stream_id="))
            for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame | None:
        if not self.exists(table):
            return None
        path = os.path.abspath(self.path(table))
        schema = table_schema(self.spark, table)
        # marker before listing: a commit racing the listing shows up as
        # a new version on the next read
        version = _version(path)
        hit = _HANDLES.get((self.spark, path))
        if hit is not None and hit[0] == version and hit[1] == schema:
            return hit[2]
        df = self.spark.read.schema(schema).parquet(path)
        _HANDLES[(self.spark, path)] = (version, schema, df)
        return df

    def invalidate(self, table: str) -> None:
        """Drop the cached read handle of ``table``."""
        _HANDLES.pop((self.spark, os.path.abspath(self.path(table))), None)

    def append_raw(self, df: DataFrame) -> None:
        """Append datapoints, adding the date partition column."""
        out = df.withColumn("p_date", F.to_date("ts").cast("string"))
        out.write.mode("append").partitionBy("p_date").parquet(self.path("datapoints"))
        self.invalidate("datapoints")

    def overwrite_raw(self, df: DataFrame) -> None:
        """Replace exactly the raw ``p_date`` partitions present in
        ``df`` (rows as ``read("datapoints")`` returns them), one file
        each — the maintenance rewrite (sources/maintenance.py). A
        partition left without rows is not present in ``df``, so it
        stays as it is: ``drop_raw_partitions`` removes those."""
        self._overwrite_partitions(df, "datapoints", ["p_date"])

    def drop_raw_partitions(self, dates: list) -> None:
        """Delete the raw ``p_date`` partitions ``dates``."""
        for d in dates:
            shutil.rmtree(os.path.join(self.path("datapoints"), f"p_date={d}"))
        if dates:
            self.invalidate("datapoints")

    def drop_stream_partitions(self, live_ids: list[str]) -> None:
        """Delete the ``stream_id=`` partitions of every stream not in
        ``live_ids`` from ``datapoints_derived`` and each ``rollup_<g>``
        table (a directory walk, no Spark job), and a rollup date left
        empty. A table holding ``_spark_metadata/`` is skipped: a
        streaming sink owns it, and its log would still list the files.
        A rollup partition sits below its date directory, so the table
        directory's mtime is bumped for other processes' ``_version``."""
        live = set(live_ids)
        root = glob.escape(self.root)
        touched = set()
        for d in glob.glob(f"{root}/datapoints_derived/stream_id=*") + glob.glob(
            f"{root}/rollup_*/p_date=*/stream_id=*"
        ):
            table = os.path.relpath(d, self.root).split(os.sep)[0]
            if unquote(d.rsplit("stream_id=", 1)[1]) in live or os.path.isdir(
                os.path.join(self.path(table), "_spark_metadata")
            ):
                continue
            shutil.rmtree(d)
            if table != "datapoints_derived" and not os.listdir(os.path.dirname(d)):
                os.rmdir(os.path.dirname(d))
            touched.add(table)
        for table in touched:
            os.utime(self.path(table))
            self.invalidate(table)

    def overwrite_derived(self, df: DataFrame, stream_ids: list[str]) -> None:
        """Idempotent recompute: dynamic partition overwrite replaces
        exactly the (stream, date) partitions present in ``df``.

        Partitioned by ``(stream_id, p_date)`` so a tail recompute
        rewrites only the affected dates of the affected stream — the
        write-side half of W5 incremental propagation. A full recompute
        emits every date and therefore replaces them all."""
        (
            df.withColumn("p_date", F.to_date("ts").cast("string"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stream_id", "p_date")
            .parquet(self.path("datapoints_derived"))
        )
        self.invalidate("datapoints_derived")

    def _rollup_partitioned(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "p_date",
            F.to_date(F.timestamp_seconds(F.col("bucket_epoch"))).cast("string"),
        )

    def append_rollup(self, df: DataFrame, granularity_name: str) -> None:
        """Append-mode rollup write — the pre-aggregated ingest path
        (user-supplied bucket rows at the stream's own highest level).
        Same (p_date, stream_id) layout as ``overwrite_rollup`` so both
        writers share one partition scheme per table."""
        table = f"rollup_{granularity_name}"
        self._rollup_partitioned(df).write.mode("append").partitionBy(
            "p_date", "stream_id"
        ).parquet(self.path(table))
        self.invalidate(table)

    def write_bucketed(
        self,
        df: DataFrame,
        table_name: str,
        bucket_col: str = "stream_id",
        n_buckets: int | None = None,
        sort_col: str | None = "ts",
    ) -> None:
        """Materialize a frame as a BUCKETED managed table — the
        co-location swap-in for per-stream joins and windows at scale.

        Two tables bucketed on the same column with the same bucket
        count join WITHOUT a shuffle exchange: each bucket file pair is
        joined locally (plan-asserted in test_bucketed_join_is_
        shuffle_free). At 100 TB that removes the dominant network cost
        of stream-aligned joins (W1 sum-of-streams, as-of lookups) and
        of repeated per-stream windowing — the sort order persisted by
        ``sort_col`` serves the window's ORDER BY from disk.

        Bucket count should track the executor fleet (more buckets =
        finer parallelism, smaller files); defaults to the store's
        ``n_stream_buckets``, which is only this default — raw rows
        carry no bucket column.
        """
        n = n_buckets or self.n_stream_buckets
        writer = df.write.mode("overwrite").format("parquet").bucketBy(
            n, bucket_col
        )
        if sort_col is not None and sort_col in df.columns:
            writer = writer.sortBy(sort_col)
        writer.saveAsTable(table_name)

    def overwrite_rollup(self, df: DataFrame, granularity_name: str) -> None:
        """Idempotent downsample write: dynamic partition overwrite of
        exactly the (date, stream) partitions present in ``df``.

        This is the crash-consistency half of the ladder: the cascade
        recomputes each stream from the UTC day containing its
        watermark and REPLACES those partitions, so the write is a
        fixed point — a crash between the data write and the registry
        watermark advance re-runs the same slice on the next cascade
        and rewrites identical partitions instead of appending
        duplicate buckets. Write ordering is always data first, then
        registry watermark (never the reverse: a watermark pointing
        past missing data would silently skip buckets forever, while a
        stale watermark merely repeats idempotent work).

        Per-(stream, level) there is a single writer kind: streams
        receive either pre-aggregated appends at their own highest
        level or cascade overwrites at coarser levels, never both.
        At very large stream counts, swap stream_id for a hash bucket
        (coarser overwrite unit) and run level-complete cascades.

        The pre-write repartition on the partition keys is the
        small-file guard: without it every shuffle task writes its own
        fragment into every (date, stream) dir it touches — measured
        ~32 files per dir and a 6x slower full-ladder downsample at 1M
        datapoints / 50 streams (SCALE.md §8). One shuffle buys one
        file per partition dir, which is also what keeps the
        downstream ladder scans from dying of file-listing overhead at
        scale."""
        self._overwrite_partitions(
            self._rollup_partitioned(df),
            f"rollup_{granularity_name}",
            ["p_date", "stream_id"],
        )

    def _overwrite_partitions(
        self, df: DataFrame, table: str, cols: list[str]
    ) -> None:
        """Dynamic partition overwrite of exactly the ``cols``
        partitions present in ``df``, repartitioned on ``cols`` first so
        each written partition is one file whatever the input split
        count (and so the core count)."""
        (
            df.repartition(*cols)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*cols)
            .parquet(self.path(table))
        )
        self.invalidate(table)
