"""The public API facade — reference-parity surface on Spark execution.

Parity target: class ``Datastream`` in datastream/api.py:~120-700
(SURVEY.md §2.1, §3 lifecycles E1-E4). Capabilities preserved;
execution re-expressed as DataFrame plans:

- ``append``/``append_multiple`` -> validated batch appends to a
  date-partitioned parquet fact table (E1)
- ``get_data`` -> filter+project+sort plan over raw or rollup tables,
  partition pruning replacing the ObjectId-range trick (E2)
- ``downsample_streams`` -> one incremental groupBy-agg job per
  granularity pair using merge forms, per-stream watermarks (E3)
- derived streams -> window/union-agg recompute jobs over the
  dependency DAG (W1-W6)

Scale doctrine: NO per-stream driver loops on the data path — every
job is set-oriented over all matched streams at once; per-stream logic
lives in grouping keys and window partitions.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import functools
import json
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .exceptions import (
    AppendToDerivedStreamNotAllowed,
    DownsampleConsistencyNotGuaranteed,
    IncompatibleGranularities,
    IncompatibleTypes,
    InvalidOperatorArguments,
    InvalidTimestamp,
    UnsupportedDeriveOperator,
)
from .granularity import (
    GRANULARITIES,
    Granularity,
    bucket_epoch,
    granularity_by_name,
    next_coarser,
)
from .operators import derive as derive_ops
from .operators import rollup as rollup_ops
from .registry import StreamDescriptor, StreamRegistry, TableStreamRegistry
from .sources.tables import RAW_SCHEMA, TableStore

_FUTURE_TOLERANCE_S = 600  # reference rejects far-future appends [MED]
#: ``value_dec`` is decimal(38,9): Spark's cast rounds half up to scale
#: 9 and fails past 38 digits; this context does the same on the driver
_DEC_CONTEXT = decimal.Context(prec=38, rounding=decimal.ROUND_HALF_UP)
_DEC_QUANTUM = decimal.Decimal("1e-9")


def _to_utc_naive(ts: _dt.datetime | None) -> _dt.datetime:
    if ts is None:
        return _dt.datetime.utcnow()
    if ts.tzinfo is not None:
        ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return ts


def _us(ts: _dt.datetime) -> int:
    return int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)


def _date_str(epoch_s: int) -> str:
    """UTC date partition value for an epoch second (p_date format)."""
    return _dt.datetime.fromtimestamp(epoch_s, _dt.timezone.utc).strftime("%Y-%m-%d")


class Datapoints:
    """Lazy result cursor (api.py:~250 Datapoints [HIGH]) over one
    stream's rows in time order (``reverse`` flips it): ``len()``,
    iteration, indexing, slicing, and ``.df`` for the Spark-first
    surface.

    The cursor holds the stream's filtered rows unordered; each access
    orders them in the shape that suits it:

    - ``.df`` is the cursor's result set: every row in ONE partition,
      sorted within it, so reading it runs no range-partition sampling
      job. Rollup reads are pruned to the stream's own files, so one
      task scans and sorts them (one Spark job); raw reads keep the
      scan of the shared ``p_date`` directories parallel and shuffle
      only the stream's rows to the sorting task (two jobs). This suits
      the small windows a cursor serves; ``Datastream.scan`` is the
      set-oriented, fully parallel read.
    - iteration runs ``toLocalIterator`` over a range-partitioned
      ``orderBy``, so the driver holds one range of the result at a
      time however large the stream is.
    - ``len()`` counts the unordered rows.

    Iterated and indexed rows decode their timestamps from
    ``unix_micros`` as naive UTC datetimes, whatever the host's time
    zone (the same datetimes ``append`` takes); ``.df`` keeps the
    stored columns and types.

    Slicing numbers rows with ``row_number`` over a
    ``partitionBy(stream_id)`` window ordered by the cursor's time
    column — the user-visible order — rather than a partitionless
    window, which would both drag the whole stream through a single
    task and number rows in ``monotonically_increasing_id`` order
    instead of the promised time order."""

    def __init__(
        self,
        df: DataFrame,
        decode,
        decode_sql: Iterable[str],
        order_col: str = "ts",
        reverse: bool = False,
        stream_files: bool = False,
    ):
        self._frame = df
        self._decode = decode
        self._decode_sql = decode_sql
        self._order_col = order_col
        self._reverse = reverse
        self._stream_files = stream_files

    @property
    def df(self) -> DataFrame:
        """The result set, in one partition sorted in cursor order."""
        one =self._frame.coalesce(1) if self._stream_files else self._frame.repartition(1)
        return one.sortWithinPartitions(self._order_col, ascending=not self._reverse)

    def __len__(self) -> int:
        return self._frame.count()

    def __iter__(self) -> Iterator[dict]:
        ordered = self._frame.orderBy(self._order_col, ascending=not self._reverse)
        for row in ordered.selectExpr(*self._decode_sql).toLocalIterator():
            yield self._decode(row)

    def batch_size(self, n: int) -> "Datapoints":
        return self  # arrow batching is automatic in Spark

    def __getitem__(self, item):
        if isinstance(item, slice):
            start = item.start or 0
            stop = item.stop
            c = F.col(self._order_col)
            w = Window.partitionBy("stream_id").orderBy(c.desc() if self._reverse else c)
            numbered = self._frame.withColumn("_rn", F.row_number().over(w))
            cond = F.col("_rn") > start
            if stop is not None:
                cond = cond & (F.col("_rn") <= stop)
            return Datapoints(
                numbered.where(cond).drop("_rn"),
                self._decode,
                self._decode_sql,
                self._order_col,
                self._reverse,
                self._stream_files,
            )
        rows = self.df.selectExpr(*self._decode_sql).limit(item + 1).collect()
        return self._decode(rows[item])


class Streams:
    """Lazy stream collection (api.py:~350 ``Streams`` [HIGH]): supports
    ``len()``, iteration, indexing and slicing over stream descriptors,
    mirroring the reference's lazy cursor surface."""

    def __init__(self, descs: list):
        self._descs = descs

    @staticmethod
    def _to_dict(d) -> dict:
        return {
            "stream_id": d.stream_id,
            "tags": d.tags,
            "value_downsamplers": d.value_downsamplers,
            "highest_granularity": d.highest_granularity,
            "value_type": d.value_type,
        }

    def __len__(self) -> int:
        return len(self._descs)

    def __iter__(self) -> Iterator[dict]:
        return (self._to_dict(d) for d in self._descs)

    def __getitem__(self, item):
        if isinstance(item, slice):
            return Streams(self._descs[item])
        return self._to_dict(self._descs[item])

    def batch_size(self, n: int) -> "Streams":
        return self

    def __eq__(self, other):
        if isinstance(other, list):
            return list(self) == other
        return NotImplemented


class Datastream:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        registry_backend: str = "jsonl",
    ):
        """``registry_backend``: ``"jsonl"`` (``StreamRegistry``, a
        driver-local JSON-lines file — the reference-parity default,
        right for thousands of streams) or ``"table"``
        (``TableStreamRegistry``, a manifest-table delta log with
        O(dirty) saves and lazy hydration — the millions-of-streams
        path, SCALE.md §1). Both are one class hierarchy with one
        find-or-create, find and delete, so the whole API surface is
        identical on both."""
        self.spark = spark
        self.store = TableStore(spark, root)
        if registry_backend == "table":
            self.registry = TableStreamRegistry(spark, root)
        elif registry_backend == "jsonl":
            self.registry = StreamRegistry(root)
        else:
            raise ValueError(f"unknown registry backend {registry_backend!r}")
        self._buffer: list[dict] = []
        #: pre-aggregated appends, keyed by granularity name (F3)
        self._preagg_buffer: dict[str, list[dict]] = {}
        #: (raw handle, derived handle, their union) — see ``_raw_df``
        self._raw_union: tuple | None = None
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    # ------------------------------------------------------------------
    # S1/S5/S6: stream lifecycle
    # ------------------------------------------------------------------

    def ensure_stream(
        self,
        query_tags: dict,
        tags: dict | None = None,
        value_downsamplers: list[str] | None = None,
        highest_granularity: str | Granularity = Granularity.Seconds,
        derive_from: list[str] | None = None,
        derive_op: str | None = None,
        derive_args: dict | None = None,
        value_type: str = "numeric",
        value_type_options: dict | None = None,
        derive_backprocess: bool = True,
    ) -> str:
        if isinstance(highest_granularity, Granularity):
            highest_granularity = highest_granularity.name
        if value_downsamplers is None:
            value_downsamplers = list(rollup_ops.VALUE_DOWNSAMPLERS)
        if derive_op is not None:
            is_custom = derive_op in derive_ops.CUSTOM_DERIVE_OPS
            if derive_op not in derive_ops.DERIVE_OPERATORS and not is_custom:
                raise UnsupportedDeriveOperator(derive_op)
            if not derive_from:
                raise InvalidOperatorArguments("derive_from required")
            if not is_custom and derive_op != "sum" and len(derive_from) != 1 and not (
                derive_op == "counter_derivative" and len(derive_from) <= 2
            ):
                raise InvalidOperatorArguments(
                    f"{derive_op} takes one source stream"
                )
            target = granularity_by_name(highest_granularity)
            for src in derive_from:
                src_d = self.registry.get(src)
                if src_d.value_type != "numeric":
                    raise IncompatibleTypes(src_d.value_type)
                # derived granularity must be <= (coarser or equal) every
                # source's granularity (IncompatibleGranularities)
                if granularity_by_name(src_d.highest_granularity) < target:
                    raise IncompatibleGranularities(
                        f"{src_d.highest_granularity} -> {highest_granularity}"
                    )
        d = self.registry.ensure(
            query_tags,
            tags,
            value_downsamplers,
            highest_granularity,
            value_type=value_type,
            value_type_options=value_type_options,
            derived_from=derive_from,
            derive_op=derive_op,
            derive_args=derive_args,
        )
        if d.derive_op and d.pending_backprocess and derive_backprocess:
            self.backprocess_streams([d.stream_id])
        return d.stream_id

    def find_streams(self, query_tags: dict | None = None) -> Streams:
        return Streams(self.registry.find(query_tags))

    def delete_streams(self, query_tags: dict | None = None) -> int:
        doomed = [d.stream_id for d in self.registry.find(query_tags)]
        self.registry.delete(doomed)
        # Physical rows are filtered at read time (registry is the source
        # of truth); compaction/DELETE is a maintenance job (Delta-ready).
        return len(doomed)

    def vacuum(self) -> dict:
        """Maintenance: physically purge deleted streams' raw rows and
        compact fragmented date partitions, with one aggregate and one
        partition overwrite through the store, and remove their derived
        and rollup ``stream_id=`` partitions (sources/maintenance.py).
        Reads are correct without it (registry-first filtering); this
        reclaims storage and file handles — run it like the reference's
        cron maintenance worker. ``partitions_rewritten`` counts date
        partitions that had dead rows, ``partitions_compacted``
        over-threshold ones that had none."""
        from .sources import maintenance

        self.flush()
        # a stream another handle made since our snapshot is live too
        self.registry.check_unchanged()
        live = [d.stream_id for d in self.registry.all()]
        purged, compacted = maintenance.vacuum(self.store, live)
        return {"partitions_rewritten": purged, "partitions_compacted": compacted}

    def update_tags(self, stream_id: str, tags: dict) -> None:
        """Merge ``tags`` into the stream's tag dict (decoration update;
        reference ``Datastream.update_tags`` api.py:~400 [HIGH]).
        Registry-only mutation — no datapoint I/O."""
        d = self.registry.get(stream_id)
        d.tags = {**d.tags, **tags}
        self.registry.save()

    def remove_tag(self, stream_id: str, tag_key: str) -> None:
        """Remove one (possibly dotted-path) tag key; mirrors reference
        ``Datastream.remove_tag`` api.py:~410 [HIGH]. Missing keys are a
        no-op, as in the reference's $unset semantics [MED]."""
        d = self.registry.get(stream_id)
        parts = tag_key.split(".")
        node: dict | None = d.tags
        for p in parts[:-1]:
            node = node.get(p) if isinstance(node, dict) else None
            if node is None:
                return
        if isinstance(node, dict):
            node.pop(parts[-1], None)
        self.registry.save()

    # ------------------------------------------------------------------
    # S2/S3: ingest (lifecycle E1)
    # ------------------------------------------------------------------

    def append(
        self,
        stream_id: str,
        value: Any,
        timestamp: _dt.datetime | None = None,
        check_timestamp: bool = True,
    ) -> dict:
        d = self.registry.get(stream_id)
        if d.derive_op:
            raise AppendToDerivedStreamNotAllowed(stream_id)
        ts = _to_utc_naive(timestamp)
        ts_us = _us(ts)
        if check_timestamp:
            now_us = _us(_dt.datetime.utcnow())
            if ts_us > now_us + _FUTURE_TOLERANCE_S * 1_000_000:
                raise InvalidTimestamp(f"far-future timestamp {ts}")
            if d.latest_us is not None and ts_us < d.latest_us:
                raise InvalidTimestamp(
                    f"non-monotonic append to {stream_id}: {ts} < latest"
                )
        if isinstance(value, dict) and d.value_type == "numeric":
            self._preagg_append(d, value, ts)
        else:
            if d.preaggregated:
                raise IncompatibleTypes(
                    f"{stream_id} takes pre-aggregated dict appends only"
                )
            point = self._coerce_value(d, value)
            point.update({"stream_id": stream_id, "ts": ts})
            self._buffer.append(point)
        # only after validation: a rejected datapoint is never stored,
        # so it cannot make the ladder inconsistent
        self._warn_if_behind_watermark(d, ts_us)
        d.latest_us = max(d.latest_us or 0, ts_us)
        d.earliest_us = min(d.earliest_us or ts_us, ts_us)
        if len(self._buffer) >= 10_000:
            self.flush()
        return {"stream_id": stream_id, "t": ts, "v": value}

    @staticmethod
    def _warn_if_behind_watermark(d: StreamDescriptor, ts_us: int) -> None:
        """Reference ``DownsampleConsistencyNotGuaranteed`` [MED]: a
        datapoint landing behind an already-finalized rollup bucket
        (possible when ``downsample_streams(until=...)`` advanced the
        watermark past the last datapoint) is stored but will NOT enter
        the materialized ladder until a backfill — warn, don't drop."""
        if d.downsampled_until:
            wm = max(d.downsampled_until.values())
            if ts_us < wm * 1_000_000:
                import warnings

                warnings.warn(
                    f"append to {d.stream_id} lands behind the downsample "
                    f"watermark ({wm}); rollups will not include it",
                    DownsampleConsistencyNotGuaranteed,
                    stacklevel=3,
                )

    def _preagg_append(self, d: StreamDescriptor, value: dict, ts: _dt.datetime):
        """F3 pre-aggregated appends (mongodb.py:~850 [MED]): when
        ``highest_granularity`` is coarser than seconds, ``value`` may be
        a dict of downsampler members; it lands directly in
        ``rollup_<highest>`` merge-form columns and the cascade continues
        from there with merge aggregates — never re-reading raw."""
        g = granularity_by_name(d.highest_granularity)
        if g.seconds <= 1:
            raise IncompatibleTypes(
                "pre-aggregated appends need highest_granularity coarser "
                "than seconds"
            )
        if d.latest_us is not None and not d.preaggregated:
            raise IncompatibleTypes(
                f"{d.stream_id} already holds scalar datapoints"
            )
        row = {
            "stream_id": d.stream_id,
            "bucket_epoch": _us(g.round_timestamp(ts)) // 1_000_000,
            **rollup_ops.preagg_merge_row(value, _us(ts)),
        }
        self._preagg_buffer.setdefault(g.name, []).append(row)
        d.preaggregated = True

    def _coerce_value(self, d: StreamDescriptor, value: Any) -> dict:
        """One stored row's value columns. ``value_dec`` is rounded to
        the column's ``decimal(38,9)`` the way Spark casts (half up),
        and a value that does not fit it (or is infinite) is rejected
        here, before it is buffered; NaN stores a NULL ``value_dec``."""
        if d.value_type == "numeric":
            if value is None:
                return {"value": None, "value_dec": None, "value_json": None}
            if isinstance(value, bool) or not isinstance(
                value, (int, float, decimal.Decimal)
            ):
                raise IncompatibleTypes(f"numeric stream got {type(value).__name__}")
            dec = (
                decimal.Decimal(value)
                if isinstance(value, (int, decimal.Decimal))
                else decimal.Decimal(str(value))
            )
            if dec.is_nan():
                dec = None
            else:
                try:
                    dec = _DEC_CONTEXT.quantize(dec, _DEC_QUANTUM)
                except decimal.InvalidOperation:
                    raise IncompatibleTypes(
                        f"{value!r} does not fit the stored decimal(38,9)"
                    ) from None
            return {"value": float(value), "value_dec": dec, "value_json": None}
        # nominal and graph values are stored as canonical JSON
        return {"value": None, "value_dec": None, "value_json": json.dumps(value, sort_keys=True)}

    def append_multiple(
        self, datapoints: Iterable[dict], check_timestamp: bool = True
    ) -> None:
        """Bulk ingest (S3) — the natural Spark path. Monotonicity is a
        batch rule (one agg + registry compare), not per-point lookups
        (SURVEY.md §7.6)."""
        per_stream: dict[str, list[tuple]] = {}
        rows = []
        for p in datapoints:
            d = self.registry.get(p["stream_id"])
            if d.derive_op:
                raise AppendToDerivedStreamNotAllowed(p["stream_id"])
            ts = _to_utc_naive(p.get("timestamp"))
            point = self._coerce_value(d, p.get("value"))
            point.update({"stream_id": p["stream_id"], "ts": ts})
            rows.append(point)
            per_stream.setdefault(p["stream_id"], []).append(_us(ts))
        if check_timestamp:
            for sid, ts_list in per_stream.items():
                d = self.registry.get(sid)
                lo = min(ts_list)
                if d.latest_us is not None and lo < d.latest_us:
                    raise InvalidTimestamp(
                        f"non-monotonic batch for {sid}"
                    )
        for sid, ts_list in per_stream.items():
            d = self.registry.get(sid)
            self._warn_if_behind_watermark(d, min(ts_list))
            d.latest_us = max(d.latest_us or 0, max(ts_list))
            d.earliest_us = min(d.earliest_us or min(ts_list), min(ts_list))
        self._buffer.extend(rows)
        self.flush()

    def append_dataframe(self, df: DataFrame, check_timestamp: bool = True) -> None:
        """Ingest a prepared DataFrame(stream_id, ts, value) — the bulk
        path for real pipelines.

        Validation is one Spark job: a per-stream ``(min, max)`` of the
        batch's timestamps, collected and checked on the driver against
        the registry before anything is written. Every stream in the
        batch must be registered (``StreamNotFound``) and not derived
        (``AppendToDerivedStreamNotAllowed``); with ``check_timestamp``,
        its earliest row must not precede its ``latest_us``
        (``InvalidTimestamp``) — a stream's rows are monotonic exactly
        when its minimum is. The same rows then advance the registry's
        ``earliest_us``/``latest_us``, bound the derived-stream
        propagation and, like ``append``, warn for a stream whose batch
        lands behind its downsample watermark.

        If another handle saved the registry since this one loaded it,
        nothing is written and ``StreamAppendContended`` is raised;
        reload the registry and append again."""
        stats = (
            df.groupBy("stream_id")
            .agg(
                F.min(F.unix_micros("ts")).alias("lo"),
                F.max(F.unix_micros("ts")).alias("hi"),
            )
            .collect()
        )
        descs = [(self.registry.get(r["stream_id"]), r["lo"], r["hi"]) for r in stats]
        for d, lo, _ in descs:
            if d.derive_op:
                raise AppendToDerivedStreamNotAllowed(d.stream_id)
            if check_timestamp and d.latest_us is not None and lo < d.latest_us:
                raise InvalidTimestamp(f"non-monotonic batch for {d.stream_id}")
        out = df.select(
            "stream_id",
            "ts",
            F.col("value").cast("double").alias("value"),
            F.col("value").cast("decimal(38,9)").alias("value_dec"),
            F.lit(None).cast("string").alias("value_json"),
        )
        for d, lo, hi in descs:
            self._warn_if_behind_watermark(d, lo)
            d.latest_us = max(d.latest_us or 0, hi)
            d.earliest_us = min(d.earliest_us or lo, lo)
        self._commit(out, {}, {d.stream_id: lo for d, lo, _ in descs})

    def flush(self) -> None:
        """Commit the buffered appends. If another handle saved the
        registry since this one loaded it, nothing is written, the
        buffers are dropped and ``StreamAppendContended`` is raised;
        reload the registry and append again."""
        # appends buffer before they touch the registry, so with both
        # buffers empty a read's flush has nothing to commit (jobs that
        # act on the snapshot call registry.check_unchanged themselves)
        if not self._buffer and not self._preagg_buffer:
            return
        rows, preagg = self._buffer, self._preagg_buffer
        self._buffer, self._preagg_buffer = [], {}
        changed_from: dict[str, int] = {}
        for r in rows:
            us = _us(r["ts"])
            sid = r["stream_id"]
            if sid not in changed_from or us < changed_from[sid]:
                changed_from[sid] = us
        self._commit(
            _arrow_frame(self.spark, rows, RAW_SCHEMA) if rows else None,
            {
                g_name: rollup_ops.finish_columns(
                    _arrow_frame(self.spark, g_rows, _PREAGG_SCHEMA)
                )
                for g_name, g_rows in preagg.items()
            },
            changed_from,
        )

    def _commit(
        self,
        raw: DataFrame | None,
        preagg: dict[str, DataFrame],
        changed_from_us: dict[str, int],
    ) -> None:
        """The append path's commit. Saving this handle's registry over
        another writer's save would drop their streams and watermarks,
        so the registry is checked before any row is written and saved
        with ``expect_unchanged=True`` after the rows."""
        self.registry.check_unchanged()
        if raw is not None:
            self.store.append_raw(raw)
        for g_name, df in preagg.items():
            self.store.append_rollup(df, g_name)
        self.registry.save(expect_unchanged=True)
        if changed_from_us:
            self._propagate(
                sorted(changed_from_us), changed_from_us=changed_from_us
            )

    # ------------------------------------------------------------------
    # S4: reads (lifecycle E2)
    # ------------------------------------------------------------------

    def _raw_df(self) -> DataFrame | None:
        """Raw datapoints with the derived streams unioned in. The union
        is built once per pair of table handles (``TableStore.read``
        reuses a handle until its table changes)."""
        self.flush() if self._buffer else None
        raw = self.store.read("datapoints")
        derived = self.store.read("datapoints_derived")
        if derived is None:
            return raw
        cached = self._raw_union
        if cached is None or cached[0] is not raw or cached[1] is not derived:
            # p_date comes from the partition column (not recomputed
            # from ts) so date filters prune derived scans too
            sel = derived.select(
                "stream_id", "ts", "value",
                F.col("value").cast("decimal(38,9)").alias("value_dec"),
                F.lit(None).cast("string").alias("value_json"),
                F.col("p_date").cast("string").alias("p_date"),
            )
            cached = (raw, derived, sel if raw is None else raw.unionByName(sel))
            self._raw_union = cached
        return cached[2]

    def get_data(
        self,
        stream_id: str,
        granularity: str | Granularity,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
        start_exclusive: _dt.datetime | None = None,
        end_exclusive: _dt.datetime | None = None,
        reverse: bool = False,
        value_downsamplers: list[str] | None = None,
        time_downsamplers: list[str] | None = None,
        fill: str | None = None,
    ) -> Datapoints:
        d = self.registry.get(stream_id)
        g = (
            granularity
            if isinstance(granularity, Granularity)
            else granularity_by_name(granularity)
        )
        highest = granularity_by_name(d.highest_granularity)
        if g > highest:
            # finer than stored: reference returns the stream's own level
            g = highest

        if g == highest and not d.preaggregated:
            if fill is not None:
                # fill() is a bucket-grid operation (InfluxQL applies
                # it to GROUP BY time queries); raw scalar points have
                # no grid to densify — reject rather than silently
                # ignore the argument
                raise InvalidOperatorArguments(
                    "fill= requires a downsampled granularity "
                    f"(stream's highest is {d.highest_granularity})"
                )
            df = self._raw_df()
            if df is None:
                return Datapoints(
                    self._empty_raw(), _decode_raw(d.value_type), _RAW_DECODE_SQL
                )
            df = self._apply_bounds(
                df, "ts", g, start, end, start_exclusive, end_exclusive, [stream_id]
            )
            return Datapoints(
                df.select("stream_id", "ts", "value", "value_json"),
                _decode_raw(d.value_type),
                _RAW_DECODE_SQL,
                reverse=reverse,
            )

        tbl = self.store.read(f"rollup_{g.name}")
        if tbl is None:
            return Datapoints(
                self._empty_rollup(), _decode_rollup([], []),
                ("stream_id", "bucket_epoch"), order_col="bucket_epoch",
                stream_files=True,
            )
        df = self._apply_bounds(
            tbl, "bucket_epoch", g, start, end, start_exclusive, end_exclusive,
            [stream_id],
        )
        vds = value_downsamplers or d.value_downsamplers
        tds = time_downsamplers or ["first", "last", "mean"]
        vcols = [f"v_{n}" for n in rollup_ops.expand_downsamplers(vds)]
        tcols = [f"t_{n}" for n in tds]
        cols = ["stream_id", "bucket_epoch"] + vcols + tcols
        if fill is not None:
            # InfluxQL fill(null|previous|linear) on the query surface:
            # densify onto the granularity grid bounded by the query
            # window (open-ended bounds fall back to the observed
            # range), fill every selected value column, leave the time
            # downsamplers NULL on generated rows (imputing an observed
            # timestamp would be a lie). Generated rows are flagged in
            # each datapoint dict as 'filled'.
            from .operators.gapfill import fill_gaps

            step = g.duration_in_seconds()

            def _rounded(t):
                return _us(g.round_timestamp(_to_utc_naive(t))) // 1_000_000

            # mirror _apply_bounds' rounding: inclusive bounds keep
            # their own bucket, exclusive bounds step one bucket in
            lo = hi = None
            if start is not None:
                lo = _rounded(start)
            elif start_exclusive is not None:
                lo = _rounded(start_exclusive) + step
            if end is not None:
                hi = _rounded(end)
            elif end_exclusive is not None:
                hi = _rounded(end_exclusive) - step
            df = fill_gaps(
                df.select(*cols),
                step,
                key="stream_id",
                value_col=vcols,
                method={"previous": "locf"}.get(fill, fill),
                lo=lo,
                hi=hi,
                passthrough=tcols,
            )
            cols = cols + ["filled"]
        # time downsamplers decode from epoch µs (see Datapoints)
        decode_sql = [
            f"unix_micros({c}) AS {c}" if c in _TIME_COLS else c for c in cols
        ]
        return Datapoints(
            df.select(*cols),
            _decode_rollup(vds, tds, filled_flag=fill is not None),
            decode_sql,
            order_col="bucket_epoch",
            reverse=reverse,
            # rollup_<g> is partitioned by stream_id: the read is pruned
            # to this stream's files, so one task can scan them
            stream_files=True,
        )

    def register_views(self, prefix: str = "ds_") -> list[str]:
        """Expose the engine's tables as temp views for ``spark.sql``:
        ``<prefix>streams`` (registry: stream_id, tags JSON, type,
        granularity, derive metadata), ``<prefix>datapoints`` (raw +
        derived union), and one ``<prefix>rollup_<g>`` per materialized
        ladder level. The Spark-first escape hatch the reference never
        had — any SQL engine-side tooling (notebooks, dbt-style models,
        ad-hoc audit queries) composes with the engine's tables without
        going through the cursor API. Views are lazy plans over the
        same pruned, partitioned scans ``get_data``/``scan`` use."""
        self.flush()
        made = []
        reg_rows = [
            (
                d.stream_id,
                json.dumps(d.tags, sort_keys=True),
                d.value_type,
                d.highest_granularity,
                d.derive_op,
                json.dumps(d.derived_from),
            )
            for d in self.registry.all()
        ]
        reg_schema = (
            "stream_id string, tags_json string, value_type string, "
            "highest_granularity string, derive_op string, derived_from string"
        )
        streams_df = (
            self.spark.createDataFrame(reg_rows, reg_schema)
            if reg_rows
            else self.spark.createDataFrame([], reg_schema)
        )
        streams_df.createOrReplaceTempView(f"{prefix}streams")
        made.append(f"{prefix}streams")
        raw = self._raw_df()
        if raw is not None:
            raw.createOrReplaceTempView(f"{prefix}datapoints")
            made.append(f"{prefix}datapoints")
        for g in GRANULARITIES:
            tbl = self.store.read(f"rollup_{g.name}")
            if tbl is not None:
                tbl.createOrReplaceTempView(f"{prefix}rollup_{g.name}")
                made.append(f"{prefix}rollup_{g.name}")
        return made

    # ------------------------------------------------------------------
    # Graph value type: typed read surface (SURVEY §1.1 value types)
    # ------------------------------------------------------------------

    def _graph_raw(
        self,
        stream_id: str,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        d = self.registry.get(stream_id)
        if d.value_type != "graph":
            raise IncompatibleTypes(
                f"{stream_id} is {d.value_type!r}, not a graph stream"
            )
        g = granularity_by_name(d.highest_granularity)
        df = self._raw_df()
        if df is None:
            return self._empty_raw().select("stream_id", "ts", "value_json")
        df = self._apply_bounds(
            df.where("value_json IS NOT NULL"), "ts", g, start, end, None, None,
            [stream_id],
        )
        return df.select("stream_id", "ts", "value_json")

    def graph_vertices(self, stream_id: str, **bounds) -> DataFrame:
        """Typed vertex table of a graph stream: one row per vertex per
        snapshot — ``(stream_id, ts, vertex_id, attrs)``."""
        from .operators import graphs

        return graphs.graph_vertices(self._graph_raw(stream_id, **bounds))

    def graph_edges(self, stream_id: str, **bounds) -> DataFrame:
        """Typed edge table of a graph stream: one row per edge per
        snapshot — ``(stream_id, ts, src, dst, attrs)``."""
        from .operators import graphs

        return graphs.graph_edges(self._graph_raw(stream_id, **bounds))

    def graph_stats(self, stream_id: str, **bounds) -> DataFrame:
        """Per-snapshot topology stats of a graph stream —
        ``(stream_id, ts, n_vertices, n_edges, max_out_degree,
        n_self_loops)``, one output row per stored snapshot."""
        from .operators import graphs

        return graphs.graph_stats(self._graph_raw(stream_id, **bounds))

    def scan(
        self,
        query_tags: dict | None = None,
        granularity: str | Granularity = Granularity.Seconds,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
        start_exclusive: _dt.datetime | None = None,
        end_exclusive: _dt.datetime | None = None,
    ) -> DataFrame:
        """Set-oriented read: ALL tag-matched streams at one granularity
        as a single DataFrame — the Spark-native surface the per-stream
        ``get_data`` cursor wraps. One plan regardless of stream count
        (stream identity is a column, not a loop variable), so a
        thousand-stream dashboard query is one job, not a thousand.

        Raw-level streams contribute (stream_id, ts, value); rollup
        levels contribute (stream_id, bucket_epoch, merge-form and
        finished columns). Streams whose ``highest_granularity`` is
        coarser than the request are served at their own level, like
        ``get_data``."""
        self.flush()
        g = (
            granularity
            if isinstance(granularity, Granularity)
            else granularity_by_name(granularity)
        )
        matched = self.registry.find(query_tags)
        raw_ids = [
            d.stream_id
            for d in matched
            # raw level serves when the request is finer-or-equal the
            # stream's stored level (get_data clamps the same way)
            if not (g < granularity_by_name(d.highest_granularity))
            and not d.preaggregated
        ]
        rollup_ids = [d.stream_id for d in matched if d.stream_id not in set(raw_ids)]

        parts = []
        if raw_ids:
            df = self._raw_df()
            if df is not None:
                part = self._apply_bounds(
                    df, "ts", g, start, end, start_exclusive, end_exclusive, raw_ids
                )
                parts.append(("raw", part.select("stream_id", "ts", "value")))
        if rollup_ids:
            # group by each stream's own level so one read serves many
            by_level: dict[str, list[str]] = {}
            for d in matched:
                if d.stream_id in set(rollup_ids):
                    level = (
                        d.highest_granularity
                        if granularity_by_name(d.highest_granularity) < g
                        else g.name
                    )
                    by_level.setdefault(level, []).append(d.stream_id)
            for level, sids in by_level.items():
                tbl = self.store.read(f"rollup_{level}")
                if tbl is None:
                    continue
                part = self._apply_bounds(
                    tbl,
                    "bucket_epoch",
                    granularity_by_name(level),
                    start,
                    end,
                    start_exclusive,
                    end_exclusive,
                    sids,
                )
                parts.append(("rollup", part.drop("p_date")))
        rollup_parts = [p for kind, p in parts if kind == "rollup"]
        raw_parts = [p for kind, p in parts if kind == "raw"]
        if rollup_parts and raw_parts:
            # unify on the merge forms: raw rows as one-point buckets
            cols = ["stream_id", "bucket_epoch", *rollup_ops.MERGE_COLS]
            return functools.reduce(
                DataFrame.unionByName,
                [p.select(*cols) for p in rollup_parts]
                + [rollup_ops.points_as_buckets(p) for p in raw_parts],
            )
        if rollup_parts:
            return functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), rollup_parts
            )
        if raw_parts:
            return raw_parts[0]
        return self._empty_raw()

    def aggregate_range(
        self,
        query_tags: dict | None = None,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """Routed range aggregate over ``[start, end)`` — the hypertable
        query path (operators/rollup_route.py, SURVEY §4): one row per
        matched stream with all finished statistics, answered from the
        MATERIALIZED ladder wherever its watermarks cover the range and
        from raw datapoints only at the uncovered edges.

        Routing rules (all correctness-preserving):
        - a rollup level serves segments only if every matched stream's
          ``downsampled_until`` watermark has passed the last bucket the
          cover could ask of it (else the level's rows would be
          incomplete — fall through to finer levels, ultimately raw);
        - preaggregated streams (their "raw" level IS a rollup table)
          route within their ladder only;
        - bounds are floored to whole seconds (and to the stream level
          for preaggregated groups), matching ``get_data`` rounding.

        At 100 TB: a month-long range over a fully-downsampled store
        reads ~30 day-rows + edge rows per stream — independent of raw
        row count — in ONE final shuffle; each contributing scan is
        bounded by literal ``p_date`` partition predicates."""
        from .operators import rollup_route

        if start is None or end is None:
            raise InvalidOperatorArguments("aggregate_range needs start and end")
        self.flush()
        matched = self.registry.find(query_tags)
        s_ep = _us(_to_utc_naive(start)) // 1_000_000
        e_ep = _us(_to_utc_naive(end)) // 1_000_000
        if not matched or s_ep >= e_ep:
            return self._empty_range_agg()

        by_group: dict[tuple[str, bool], list[StreamDescriptor]] = {}
        for d in matched:
            by_group.setdefault((d.highest_granularity, d.preaggregated), []).append(d)

        parts: list[DataFrame] = []
        for (g_name, preagg), descs in by_group.items():
            g = granularity_by_name(g_name)
            in_group = _sql_in("stream_id", [d.stream_id for d in descs])
            lo = (s_ep // g.seconds) * g.seconds if preagg else s_ep
            hi = (e_ep // g.seconds) * g.seconds if preagg else e_ep
            if lo >= hi:
                continue
            # usable levels (duration -> table), watermark-gated per
            # group before any table is opened
            usable: dict[int, str] = {}
            for lv in GRANULARITIES:
                # (.seconds comparisons: the ladder's __lt__ is inverted
                # — finer sorts greater — so stay explicit here)
                if not preagg and lv.seconds <= g.seconds:
                    continue  # raw serves at and below the stored level
                if preagg and lv.seconds < g.seconds:
                    continue  # finer than stored: nothing materialized
                need_until = (hi // lv.seconds) * lv.seconds
                wm_ok = all(
                    d.downsampled_until.get(lv.name, -(2**62)) >= need_until
                    for d in descs
                )
                # preaggregated appends land in rollup_<g> directly, so
                # the group's own level needs no watermark
                if not wm_ok and not (preagg and lv == g):
                    continue
                if self.store.exists(f"rollup_{lv.name}"):
                    usable[lv.seconds] = f"rollup_{lv.name}"
            if not preagg and any(
                self.store.exists(t) for t in ("datapoints", "datapoints_derived")
            ):
                usable[1] = "datapoints"  # raw + derived, via _raw_df
            if not usable:
                continue
            finest_d = min(usable)
            if lo % finest_d or hi % finest_d:
                # no raw available: round bounds to the finest
                # materialized level, matching get_data's rounding
                lo = (lo // finest_d) * finest_d
                hi = (hi // finest_d) * finest_d
                if lo >= hi:
                    continue
            # frames only for the levels the minimal cover reads: one
            # filter (dates, streams, the level's segments) and one
            # projection to the built-in merge forms per level
            for d_secs, ranges in rollup_route.level_ranges(lo, hi, usable).items():
                if d_secs == 1:
                    src = self._raw_df()
                    bucket, merge = rollup_ops.POINT_BUCKET_SQL, rollup_ops.POINT_MERGE_SQL
                else:
                    src = self.store.read(usable[d_secs])
                    bucket, merge = "bucket_epoch", rollup_ops.MERGE_COLS
                cond = (
                    f"p_date >= '{_date_str(s_ep)}'"
                    f" AND p_date <= '{_date_str(e_ep + d_secs)}'"
                    f" AND {in_group} AND ({rollup_route.ranges_sql(bucket, ranges)})"
                )
                parts.append(src.where(cond).selectExpr("stream_id", *merge))
        return rollup_route.merge_range(parts) if parts else self._empty_range_agg()

    def _apply_bounds(self, df, col, g, start, end, start_ex, end_ex, stream_ids):
        """The rows of ``stream_ids`` within the bounds, as ONE ``where``.
        P2: bounds rounded to the queried granularity, then >=/>/<=/<
        on the row's bucket (mongodb.py:~1050 [MED]).

        ``col`` is ``bucket_epoch`` (rollup rows) or ``ts`` (raw rows,
        whose bucket is ``floor(ts / g) * g``; as every rounded bound
        is a multiple of ``g``, each bucket bound is an exact ``ts``
        bound). The same bounds are ALSO emitted as literal ``p_date``
        predicates (widened by one granularity so no qualifying bucket
        is cut). At 100 TB this is the reference's ObjectId-range
        trick: the scan touches only the date partitions the window
        can reach."""
        def rounded_epoch(ts):
            return _us(g.round_timestamp(_to_utc_naive(ts))) // 1_000_000

        def bucket_cmp(op, e):
            if col == "bucket_epoch":
                return f"bucket_epoch {op} {e}"
            op, e = {
                ">=": (">=", e), ">": (">=", e + g.seconds),
                "<=": ("<", e + g.seconds), "<": ("<", e),
            }[op]
            return f"ts {op} timestamp_seconds({e})"

        conds = [_sql_in("stream_id", stream_ids)]
        lo = hi = None
        for ts, op in ((start, ">="), (start_ex, ">"), (end, "<="), (end_ex, "<")):
            if ts is None:
                continue
            e = rounded_epoch(ts)
            conds.append(bucket_cmp(op, e))
            if op[0] == ">":
                lo = e if lo is None else max(lo, e)
            else:
                hi = e if hi is None else min(hi, e)
        if lo is not None:
            conds.append(f"p_date >= '{_date_str(lo)}'")
        if hi is not None:
            # rows in the last bucket can spill into the next day
            conds.append(f"p_date <= '{_date_str(hi + g.seconds)}'")
        return df.where(" AND ".join(conds))

    def _empty_raw(self):
        return self.spark.createDataFrame(
            [], "stream_id string, ts timestamp, value double, value_json string"
        )

    def _empty_range_agg(self):
        fields = [f for f in rollup_ops.ROLLUP_SCHEMA if f.name != "bucket_epoch"]
        return self.spark.createDataFrame(
            [], T.StructType([T.StructField("stream_id", T.StringType()), *fields])
        )

    def _empty_rollup(self):
        return self.spark.createDataFrame([], "stream_id string, bucket_epoch long")

    # ------------------------------------------------------------------
    # Analytics conveniences over the scan surface
    # ------------------------------------------------------------------

    def _series_at(
        self,
        query_tags: dict | None,
        g: Granularity,
        start: _dt.datetime | None,
        end: _dt.datetime | None,
    ) -> DataFrame:
        """Normalize a scan to one (stream_id, bucket_epoch, v) series
        per stream at the requested granularity — the shared input
        shape of forecast()/decompose(). Both scan shapes RE-BUCKET to
        the g grid: the unified mixed raw+rollup frame presents raw
        rows as single-point SECOND buckets, so taking bucket_epoch
        rows as fold steps verbatim would leave raw points unbucketed
        whenever an unrelated rollup-served stream matches the same
        tags. Regrouping is an identity for rows already on the grid
        (every coarser ladder duration is a multiple of g's), and
        collapses single-point buckets into the exact per-bucket mean
        (sum of sums over sum of counts)."""
        d_secs = g.duration_in_seconds()
        df = self.scan(query_tags, g, start=start, end=end)
        if "bucket_epoch" in df.columns:
            return df.groupBy(
                "stream_id",
                (F.floor(F.col("bucket_epoch") / d_secs) * d_secs)
                .cast("bigint")
                .alias("bucket_epoch"),
            ).agg((F.sum("v_sum") / F.sum("v_count")).alias("v"))
        return df.groupBy(
            "stream_id",
            (F.floor(F.unix_micros("ts") / (d_secs * 1_000_000)) * d_secs)
            .cast("bigint")
            .alias("bucket_epoch"),
        ).agg(F.avg("value").alias("v"))

    def validate(
        self,
        checks: list,
        query_tags: dict | None = None,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """Data-quality expectation report over the matched streams'
        RAW datapoints (operators/quality.py check_suite): the columns
        available to expectations are (stream_id, ts, value). The
        classic stream-health suite is
        ``[expect_not_null("value"), expect_in_range("value", lo, hi)]``
        — gate an ingest window with ``passed``'s conjunction the same
        way the batch/CDC suites do. Runs on raw-level streams only
        (rollup rows carry merge forms, not per-point values)."""
        from .operators.quality import check_suite

        df = self.scan(query_tags, Granularity.Seconds, start=start, end=end)
        if "value" not in df.columns:
            raise ValueError(
                "validate() runs on raw-level streams; matched streams "
                "are rollup-only over this range"
            )
        return check_suite(df, checks)

    def forecast(
        self,
        query_tags: dict | None = None,
        granularity: str | Granularity = Granularity.Minutes,
        alpha: float = 0.3,
        beta: float = 0.1,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """Holt double-exponential forecast of every tag-matched
        stream at one granularity (operators/ewma.py holt_forecast):
        one row per stream — (stream_id, n, level, trend,
        forecast_1), where forecast_1 predicts the NEXT bucket's
        mean. One set-oriented plan: stream identity is the series
        key, so a thousand streams forecast in one job; the series
        folds at the requested granularity (raw scans bucket to the
        mean, rollup scans use materialized v_sum/v_count), which is
        the documented whole-series-array boundary of the operator —
        forecast off the ladder, not off raw seconds."""
        from .operators.ewma import holt_forecast

        g = (
            granularity
            if isinstance(granularity, Granularity)
            else granularity_by_name(granularity)
        )
        series = self._series_at(query_tags, g, start, end)
        return holt_forecast(
            series, alpha, beta,
            key="stream_id", order_col="bucket_epoch", value_col="v",
        )

    def decompose(
        self,
        query_tags: dict | None = None,
        granularity: str | Granularity = Granularity.Minutes,
        period: int = 60,
        trend_half: int | None = None,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """Seasonal-trend decomposition of every tag-matched stream at
        one granularity (operators/decompose.py): one set-oriented plan
        — stream identity is the series key, so a thousand streams
        decompose in one job. Raw-level scans are bucketed to the
        requested granularity's mean; rollup-level scans use the
        materialized v_sum/v_count."""
        from .operators.decompose import seasonal_decompose

        g = (
            granularity
            if isinstance(granularity, Granularity)
            else granularity_by_name(granularity)
        )
        series = self._series_at(query_tags, g, start, end)
        return seasonal_decompose(
            series, "stream_id", "bucket_epoch", "v",
            bucket_seconds=g.duration_in_seconds(),
            period=period, trend_half=trend_half,
        )

    def drift(
        self,
        query_tags: dict | None = None,
        split: _dt.datetime | None = None,
        lo: float | None = None,
        hi: float | None = None,
        n_bins: int = 20,
        start: _dt.datetime | None = None,
        end: _dt.datetime | None = None,
    ) -> DataFrame:
        """PSI drift of matched streams' raw values across a time
        split (operators/drift.py): reference = [start, split),
        current = [split, end). Returns the one-row (psi,
        n_bins_used) frame. Bounds (lo, hi) pin the binning so the
        score is comparable across runs — supply them from
        ``operators.profile.profile_columns`` on a canonical
        reference snapshot, or leave them None and they're derived
        from THIS call's reference side (one bounded min/max agg;
        scores from different calls are then only comparable if the
        reference window is the same)."""
        from .operators.drift import psi

        if split is None:
            raise ValueError("drift() needs the split timestamp")
        ref = self.scan(
            query_tags, Granularity.Seconds, start=start, end_exclusive=split
        )
        cur = self.scan(query_tags, Granularity.Seconds, start=split, end=end)
        for side in (ref, cur):
            if "value" not in side.columns:
                raise ValueError(
                    "drift() runs on raw-level streams; matched streams "
                    "are rollup-only over this range"
                )
        if lo is None or hi is None:
            # Derive missing bounds from the reference distribution; a
            # fixed 0..1 default silently clamps real-valued metrics
            # into the edge bins and reports PSI~0 under massive drift.
            row = ref.agg(
                F.min("value").alias("lo"), F.max("value").alias("hi")
            ).collect()[0]
            if row["lo"] is None:
                raise ValueError(
                    "drift(): reference window has no values to derive "
                    "(lo, hi) from; pass them explicitly"
                )
            lo = float(row["lo"]) if lo is None else lo
            hi = float(row["hi"]) if hi is None else hi
            if not hi > lo:  # constant reference: widen to a unit band
                lo, hi = lo - 0.5, lo + 0.5
        return psi(ref, cur, "value", lo, hi, n_bins=n_bins)

    # ------------------------------------------------------------------
    # A11: the rollup cascade (lifecycle E3)
    # ------------------------------------------------------------------

    def downsample_streams(
        self, query_tags: dict | None = None, until: _dt.datetime | None = None
    ) -> None:
        """Incrementally materialize the ladder for matched streams.

        One set-oriented job per granularity pair: filter the finer
        level to [per-stream watermark, floor(until)), aggregate with
        merge forms, append, advance watermarks. Only complete buckets
        (< floor(until, coarser)) are ever written (§2.9)."""
        self.flush()
        # the watermarks come from, and the closing save writes, our snapshot
        self.registry.check_unchanged()
        matched = self.registry.find(query_tags)
        if not matched:
            return
        until_us = _us(_to_utc_naive(until))

        by_granularity: dict[tuple[str, bool], list[StreamDescriptor]] = {}
        for d in matched:
            key = (d.highest_granularity, d.preaggregated)
            by_granularity.setdefault(key, []).append(d)

        for (start_name, preagg), descs in by_granularity.items():
            start_g = granularity_by_name(start_name)
            finer = start_g
            while (coarser := next_coarser(finer)) is not None:
                self._downsample_step(
                    descs, finer, coarser, start_g, until_us, preagg
                )
                finer = coarser
        self.registry.save()

    def _downsample_step(
        self,
        descs: list[StreamDescriptor],
        finer: Granularity,
        coarser: Granularity,
        start_g: Granularity,
        until_us: int,
        preagg: bool = False,
    ) -> None:
        """Roll ``finer`` into ``coarser`` for ``descs``: one job over
        the finer level joined to a broadcast frame of each stream's
        recompute day, then one idempotent overwrite, then the
        watermarks. The frame is Arrow-built (``_arrow_frame``), so the
        level's jobs run no Python worker task, and it stays a broadcast
        join (a map literal lookup would scan its keys per row)."""
        cutoff = (until_us // 1_000_000 // coarser.seconds) * coarser.seconds
        work = [
            (d.stream_id, d.downsampled_until.get(coarser.name, -(2**62)))
            for d in descs
        ]
        # Recompute from the UTC day containing each stream's watermark
        # (not the watermark itself): the write below replaces whole
        # (stream, date) partitions, so every partition it touches must
        # be regenerated in full — and re-aggregating a day is what
        # makes the cascade idempotent under crash-retry (see
        # TableStore.overwrite_rollup).
        work = [
            {
                "stream_id": sid,
                "wm_day": max(wm - wm % 86_400, -(2**62)) if wm > -(2**61) else wm,
            }
            for sid, wm in work
            if wm < cutoff
        ]
        if not work:
            return
        wm_df = F.broadcast(_arrow_frame(self.spark, work, _WATERMARK_SCHEMA))
        # Partition pruning for the incremental slice: the per-stream
        # watermark join can't prune the scan, but the GLOBAL bounds
        # [min(wm), cutoff] can — emitted as literal p_date predicates
        # so each incremental job reads only the new date partitions.
        global_lo = min(w["wm_day"] for w in work)
        dates = f"p_date <= '{_date_str(cutoff)}'"
        if global_lo > -(2**61):
            dates += f" AND p_date >= '{_date_str(global_lo)}'"
        from_raw = finer == start_g and not preagg
        if from_raw:
            src, bucket = self._raw_df(), bucket_epoch(F.col("ts"), coarser.seconds)
        else:
            src = self.store.read(f"rollup_{finer.name}")
            bucket = rollup_ops.cascade_bucket(coarser)
        if src is None:
            return
        sliced = (
            src.where(dates)
            .join(wm_df, "stream_id")
            .where((bucket >= F.col("wm_day")) & (bucket < cutoff))
        )
        build = rollup_ops.rollup_from_raw if from_raw else rollup_ops.rollup_cascade
        # data before watermark, idempotent overwrite — crash-retry
        # rewrites the same partitions instead of appending duplicates
        self.store.overwrite_rollup(build(sliced, coarser), coarser.name)
        for d in descs:
            d.downsampled_until[coarser.name] = cutoff

    # ------------------------------------------------------------------
    # W1-W6: derived streams
    # ------------------------------------------------------------------

    def backprocess_streams(self, stream_ids: list[str] | None = None) -> None:
        """W6: full recompute of pending derived streams in dependency
        order (api.py:~650 [HIGH])."""
        pending = [
            d
            for d in self.registry.all()
            if d.derive_op and (stream_ids is None or d.stream_id in stream_ids)
        ]
        ordered = self._topo_order(pending)
        self._recompute_levels(ordered)
        for d in ordered:
            d.pending_backprocess = False
        self.registry.save()

    def _topo_order(self, descs):
        order, seen = [], set()

        def visit(d):
            if d.stream_id in seen:
                return
            seen.add(d.stream_id)
            for src in d.derived_from:
                src_d = self.registry.get(src)
                if src_d.derive_op:
                    visit(src_d)
            order.append(d)

        for d in descs:
            visit(d)
        return order

    def _propagate(
        self,
        touched_stream_ids: list[str],
        changed_from_us: dict[str, int] | None = None,
    ) -> None:
        """W5: incremental derive propagation — recompute derived
        streams whose sources changed (transitively, topo order).

        ``changed_from_us`` maps each touched source to the earliest µs
        its data changed at (= min new ts of the append batch; appends
        are monotonic so nothing below it moved); ``_recompute_levels``
        turns it into tail recomputes. The source→derived reverse index
        is built in one registry scan (not one scan per touched id)."""
        children: dict[str, list[StreamDescriptor]] = {}
        for d in self.registry.all():
            for src in d.derived_from:
                children.setdefault(src, []).append(d)

        affected, queue, seen = [], list(touched_stream_ids), set()
        while queue:
            sid = queue.pop()
            for d in children.get(sid, ()):
                if d.stream_id not in seen:
                    seen.add(d.stream_id)
                    affected.append(d)
                    queue.append(d.stream_id)
        ordered = [
            d
            for d in self._topo_order(affected)
            # _topo_order pulls in derived PARENTS for ordering; an
            # unaffected parent's data didn't change — recomputing it
            # here would be a gratuitous full recompute
            if d.stream_id in seen
        ]
        self._recompute_levels(
            ordered, changed_from_us, moved=seen | set(touched_stream_ids)
        )
        if affected:
            self.registry.save()

    def _recompute_levels(
        self,
        ordered: list[StreamDescriptor],
        changed_from_us: dict[str, int] | None = None,
        moved: set[str] | frozenset[str] = frozenset(),
    ) -> None:
        """Recompute ``ordered`` (topo order) depth level by depth level.

        A derived-of-derived is strictly deeper than its parents, so
        streams AT THE SAME DEPTH are mutually independent and can
        recompute together: streams sharing (op, granularity) form one
        set-oriented group (SURVEY §7.6 "stream groups"), and all groups
        of a depth that share a recompute boundary are written by ONE
        ``_recompute_derived`` call, so with thousands of derived
        streams the per-append cost is O(depths x boundaries), not
        O(streams).

        ``changed_from_us`` (None = full recompute of everything) gives
        the first changed µs of each changed source; ``moved`` names
        every stream whose data changed. A stream recomputes its tail
        from the earliest bound among its sources when every moved
        source has one, and in full otherwise. A group's rewrite lower
        bound feeds the next level's, so a cascade stays tail-bounded
        all the way down."""
        bounds = dict(changed_from_us or {})
        depth: dict[str, int] = {}
        for d in ordered:
            depth[d.stream_id] = 1 + max(
                (depth[s] for s in d.derived_from if s in depth), default=0
            )
        levels: dict[int, list[StreamDescriptor]] = {}
        for d in ordered:
            levels.setdefault(depth[d.stream_id], []).append(d)

        for lvl in sorted(levels):
            # recompute boundary -> group key -> members
            by_day0: dict[int | None, dict[tuple, list[StreamDescriptor]]] = {}
            for d in levels[lvl]:
                tail_from = None
                if changed_from_us is not None and all(
                    s in bounds or s not in moved for s in d.derived_from
                ):
                    tail_from = min(
                        (bounds[s] for s in d.derived_from if s in bounds),
                        default=None,
                    )
                day0 = self._derive_day0(d, tail_from)
                g_key = d.highest_granularity if d.derive_op == "sum" else ""
                shared = (
                    d.derive_op in self._GROUPABLE_DERIVE_OPS and not d.derive_args
                )
                key = (d.derive_op, g_key, "" if shared else d.stream_id)
                by_day0.setdefault(day0, {}).setdefault(key, []).append(d)

            for day0, groups in by_day0.items():
                out_from = self._recompute_derived(list(groups.values()), day0)
                if out_from is not None:
                    for descs in groups.values():
                        for d in descs:
                            bounds[d.stream_id] = out_from

    #: ops whose recompute is expressible as one set-oriented job over
    #: the union of member sources (single value column, no per-stream
    #: args): aggregation fans in via a source→stream map, window ops
    #: compute once per SOURCE then fan out via the map.
    #: Every other stream recomputes as a group of one.
    _GROUPABLE_DERIVE_OPS = frozenset({"sum", "derivative", "counter_reset"})

    def _derive_day0(
        self, d: StreamDescriptor, tail_from: int | None
    ) -> int | None:
        """The UTC-day recompute boundary of ``d`` (None = full
        recompute) — the one place that decides tail vs full.

        A tail recompute needs a first changed µs, recorded source
        state for every source, and a tail-safe op. Its outputs are
        rewritten from ``day0 = floor_day(bucket_floor(tail_from))`` —
        day floor because the dynamic overwrite replaces whole date
        partitions, bucket floor (``sum`` only) so a partially-refilled
        bucket is re-aggregated from all of its rows (buckets never
        span days: the coarsest granularity is UTC-aligned Days)."""
        custom = derive_ops.CUSTOM_DERIVE_OPS.get(d.derive_op)
        tail_capable = custom.tail_safe if custom is not None else True
        if not (
            tail_capable
            and tail_from is not None
            and all(s in d.derive_src_state for s in d.derived_from)
        ):
            return None
        start_us = tail_from
        if d.derive_op == "sum":
            g = granularity_by_name(d.highest_granularity)
            start_us = (start_us // (g.seconds * 1_000_000)) * (
                g.seconds * 1_000_000
            )
        return (start_us // self._DAY_US) * self._DAY_US

    _DAY_US = 86_400 * 1_000_000

    def _derive_tail_slice(
        self, raw: DataFrame, src_ids: list[str], day0_us: int
    ) -> DataFrame:
        """Source rows for a tail recompute: everything in date
        partitions >= day0 plus ONE predecessor row per source (the
        lag/reset context for the first in-window rows).

        The predecessor probe tries the 8 date partitions before day0
        first (pure partition pruning — the common append cadence);
        only sources with no row there fall back to an unbounded
        history probe, where parquet row-group stats on stream_id still
        bound the read. The probe collects the predecessor rows
        themselves (at most one per source, timestamps as epoch µs so
        no local-time conversion touches them), and they rejoin the
        slice as an Arrow-built frame: the recompute's plan does not
        run the probe's window again."""
        p0 = _date_str(day0_us // 1_000_000)
        in_src = F.col("stream_id").isin(src_ids)
        tail = raw.where(in_src & (F.col("p_date") >= p0))

        w = Window.partitionBy("stream_id").orderBy(F.col("ts").desc())

        def last_rows(df):
            return [
                r.asDict()
                for r in df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
                .withColumn("ts", F.unix_micros("ts"))
                .collect()
            ]

        recent_days = [
            _date_str(day0_us // 1_000_000 - k * 86_400) for k in range(1, 9)
        ]
        ctx = last_rows(raw.where(in_src & F.col("p_date").isin(recent_days)))
        found = {r["stream_id"] for r in ctx}
        missing = [s for s in src_ids if s not in found]
        if missing:
            ctx += last_rows(
                raw.where(
                    F.col("stream_id").isin(missing) & (F.col("p_date") < p0)
                )
            )
        return tail.unionByName(_arrow_frame(self.spark, ctx, raw.schema))

    def _recompute_derived(
        self, groups: list[list[StreamDescriptor]], day0_us: int | None
    ) -> int | None:
        """Recompute derived-stream groups that share one recompute
        boundary ``day0_us`` with ONE source slice and ONE
        dynamic-partition overwrite of every member's affected
        partitions; returns the rewrite lower bound ``day0_us`` (None =
        everything rewritten).

        The slice covers the union of all groups' sources, so a tail
        recompute runs one predecessor probe however many groups share
        the boundary. Each group's output is computed from its own
        sources (``_derive_group``); the outputs are unioned into the
        one write."""
        raw = self._raw_df()
        if raw is None:
            return None
        members = [d for descs in groups for d in descs]
        src_ids = sorted({s for d in members for s in d.derived_from})
        if day0_us is not None:
            srcs = self._derive_tail_slice(raw, src_ids, day0_us)
        else:
            srcs = raw.where(F.col("stream_id").isin(src_ids))
        out = functools.reduce(
            DataFrame.unionByName,
            (self._derive_group(descs, srcs) for descs in groups),
        )
        if day0_us is not None:
            # context rows produced outputs below day0 — those
            # partitions are NOT being rewritten; drop their rows
            out = out.where(F.col("ts") >= F.timestamp_micros(F.lit(day0_us)))
        self.store.overwrite_derived(out, [d.stream_id for d in members])
        for d in members:
            for s in d.derived_from:
                src_d = self.registry.get(s)
                if src_d.latest_us is not None:
                    d.derive_src_state[s] = src_d.latest_us
        return day0_us

    def _derive_group(
        self, descs: list[StreamDescriptor], srcs: DataFrame
    ) -> DataFrame:
        """The ``(stream_id, ts, value double)`` rows of one group,
        computed from the group's own sources within ``srcs``.

        Groupable ops (``_GROUPABLE_DERIVE_OPS``) aggregate or window
        once per SOURCE and fan each source row out to its member
        streams via a source→streams map — a source listed twice in one
        ``derive_from`` counts once. Any other stream is a group of
        one."""
        op = descs[0].derive_op
        g = granularity_by_name(descs[0].highest_granularity)
        srcs = srcs.where(
            F.col("stream_id").isin(sorted({s for d in descs for s in d.derived_from}))
        )

        if op in self._GROUPABLE_DERIVE_OPS:
            # the source→stream map travels as a plan literal (the
            # optimizer folds from_json of a literal): a broadcast of a
            # driver-built frame would cost one Spark job per recompute
            fan: dict[str, list[str]] = {}
            for d in descs:
                for s in dict.fromkeys(d.derived_from):
                    fan.setdefault(s, []).append(d.stream_id)
            out_ids = F.from_json(
                F.lit(json.dumps(fan)), "map<string, array<string>>"
            )
            if op == "sum":
                per = srcs
            elif op == "derivative":
                per = derive_ops.derivative(srcs).select(
                    "stream_id", "ts", F.col("value_rate").alias("value")
                )
            else:  # counter_reset
                per = derive_ops.counter_reset(srcs).select(
                    "stream_id", "ts", F.col("reset").cast("double").alias("value")
                )
            out = per.select(
                F.explode(out_ids[F.col("stream_id")]).alias("stream_id"),
                "ts",
                "value",
            )
            if op == "sum":
                out = (
                    out.groupBy(
                        "stream_id",
                        bucket_epoch(F.col("ts"), g.seconds).alias("_b"),
                    )
                    .agg(F.sum("value").alias("value"))
                    .select(
                        "stream_id",
                        F.timestamp_seconds(F.col("_b")).alias("ts"),
                        "value",
                    )
                )
        else:
            (d,) = descs  # the group key holds the stream id
            args = d.derive_args or {}
            custom = derive_ops.CUSTOM_DERIVE_OPS.get(op)
            if op == "counter_derivative":
                value_src = args.get("value_stream") or d.derived_from[0]
                reset_src = args.get("reset_stream")
                vals = srcs.where(F.col("stream_id") == value_src)
                if reset_src:
                    resets = srcs.where(F.col("stream_id") == reset_src).select(
                        F.lit(value_src).alias("stream_id"), "ts", "value"
                    )
                    marked = derive_ops.apply_reset_stream(
                        vals.select("stream_id", "ts", "value"), resets
                    )
                    rated = derive_ops.counter_derivative(
                        marked.withColumn(
                            "stream_id",
                            F.concat_ws("#", "stream_id", "reset_epoch"),
                        ),
                        max_value=args.get("max_value"),
                    )
                else:
                    rated = derive_ops.counter_derivative(
                        vals, max_value=args.get("max_value")
                    )
                out = rated.select(
                    F.lit(d.stream_id).alias("stream_id"), "ts",
                    F.col("value_rate").alias("value"),
                )
            elif custom is not None:
                out = custom.fn(srcs, g, args).select(
                    F.lit(d.stream_id).alias("stream_id"),
                    "ts",
                    F.col("value").cast("double").alias("value"),
                )
            else:
                raise UnsupportedDeriveOperator(op)
        return out.select("stream_id", "ts", F.col("value").cast("double"))


_PREAGG_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("bucket_epoch", T.LongType(), False),
        *rollup_ops.MERGE_FIELDS,
    ]
)
_WATERMARK_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("wm_day", T.LongType(), False),
    ]
)


def _arrow_frame(
    spark: SparkSession, rows: list[dict], schema: T.StructType
) -> DataFrame:
    """A driver-built frame of ``rows`` (dicts keyed by field name, a
    missing key is NULL), handed to the JVM as an Arrow table of the
    store's types. Every frame the write path builds on the driver
    comes from here (SCALE.md §5):

    - ``createDataFrame(list)`` parallelizes pickled rows, so each job
      reading the frame first runs a Python worker task to convert
      them (0.3-0.5 s per small frame on ``local[2]``); the JVM reads
      Arrow batches itself;
    - timestamps are ``timestamp("us", tz="UTC")``, which reads the
      naive UTC datetimes of ``_to_utc_naive`` as UTC (and ints as
      epoch µs). The list path reads them in the process's local time
      zone;
    - no pandas: its Arrow conversion fails a safe decimal cast on
      values with more than 9 fractional digits and falls back to the
      list path with a warning. Decimals arrive already at their
      column's scale (``_coerce_value``); Arrow rejects any that is
      not, rather than rounding it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


#: Rollup columns that decode from epoch µs (the time downsamplers).
_TIME_COLS = {f"t_{n}" for n in rollup_ops.TIME_DOWNSAMPLERS}

#: A raw cursor row's decode projection: ``ts`` as epoch µs.
_RAW_DECODE_SQL = ("stream_id", "unix_micros(ts) AS ts", "value", "value_json")

_EPOCH = _dt.datetime(1970, 1, 1)


def _sql_in(col: str, values: list[str]) -> str:
    """``col IN (...)`` over string literals, as SQL."""
    quoted = ("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values)
    return f"{col} IN ({', '.join(quoted)})"


def _utc(us: int | None) -> _dt.datetime | None:
    """Epoch µs as a naive UTC datetime, independent of the host's
    time zone (PySpark's own timestamp decoding reads local time)."""
    return None if us is None else _EPOCH + _dt.timedelta(microseconds=us)


def _decode_raw(value_type: str):
    def decode(row):
        v = row["value"]
        if value_type != "numeric" and row["value_json"] is not None:
            v = json.loads(row["value_json"])
        return {"stream_id": row["stream_id"], "t": _utc(row["ts"]), "v": v}

    return decode


def _decode_rollup(vds: list[str], tds: list[str], filled_flag: bool = False):
    def decode(row):
        v = {n: row[f"v_{n}"] for n in vds if f"v_{n}" in row.__fields__}
        t = {
            n: _utc(row[c]) if c in _TIME_COLS else row[c]
            for n in tds
            if (c := f"t_{n}") in row.__fields__
        }
        out = {"stream_id": row["stream_id"], "t": t, "v": v}
        if filled_flag:
            out["filled"] = row["filled"]
        return out

    return decode
