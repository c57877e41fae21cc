"""Stream registry: the ``streams`` dimension table.

Parity target: the reference's Stream metadata documents
(datastream/backends/mongodb.py:~200-760, API surface
datastream/api.py:~300-420 — SURVEY.md §1.1, §2.1 S1/S5/S6).

Design: streams are *data*, not schema — the registry is a small
dimension table (one document per stream). Metadata operations are
driver-side find-or-create over a dict of descriptors, exactly like the
reference's single-document Mongo ops. Two persistence backends share
that API: ``StreamRegistry`` keeps one JSON-lines file (the
reference-parity default, right for thousands of streams) and
``TableStreamRegistry`` keeps a manifest-table delta log with O(dirty)
saves and lazy hydration (the millions-of-streams path, SCALE.md §1).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .exceptions import (
    IncompatibleTypes,
    InconsistentStreamConfiguration,
    MultipleStreamsReturned,
    OutstandingDependenciesError,
    StreamAppendContended,
    StreamNotFound,
)
from .granularity import granularity_by_name
from .operators.rollup import TIME_DOWNSAMPLERS, expand_downsamplers
from .sources.manifest import CommitConflict, ManifestedTable

VALUE_TYPES = ("numeric", "nominal", "graph")


def _flatten(d: dict, prefix: str = "") -> dict[str, Any]:
    """Flatten nested tag dicts to Mongo-style dotted paths."""
    out: dict[str, Any] = {}
    for k, v in d.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(_flatten(v, key + "."))
        else:
            out[key] = v
    return out


def tags_match(query_tags: dict | None, tags: dict) -> bool:
    """Subset match with dotted-path semantics (mongodb.py:~720 [MED])."""
    if not query_tags:
        return True
    flat = _flatten(tags)
    for k, v in _flatten(query_tags).items():
        if flat.get(k) != v:
            return False
    return True


@dataclass
class StreamDescriptor:
    stream_id: str
    tags: dict
    value_downsamplers: list[str]
    highest_granularity: str
    value_type: str = "numeric"
    #: backend-specific value-type options (reference api.py:~300
    #: ``value_type_options`` [MED]) — stored verbatim
    value_type_options: dict | None = None
    derived_from: list[str] = field(default_factory=list)
    derive_op: str | None = None
    derive_args: dict | None = None
    contributes_to: list[str] = field(default_factory=list)
    earliest_us: int | None = None
    latest_us: int | None = None
    #: per-granularity watermark: bucket_epoch (s) below which rollups
    #: are finalized (reference ``downsampled_until`` [MED])
    downsampled_until: dict[str, int] = field(default_factory=dict)
    #: per-source µs watermark for derived streams: outputs incorporate
    #: source rows with ts <= this (reference mongodb.py
    #: ``_process_contributes_to`` tail state [MED]); empty until the
    #: first (back)process — the recompute then runs in full.
    derive_src_state: dict[str, int] = field(default_factory=dict)
    pending_backprocess: bool = False
    #: True once the stream receives dict-of-downsampled-values appends
    #: (reference pre-aggregated appends for coarse granularities,
    #: mongodb.py:~850 [MED]); its "raw" level then lives in
    #: rollup_<highest_granularity>, not the datapoints table.
    preaggregated: bool = False

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "StreamDescriptor":
        return cls(**json.loads(s))


class StreamRegistry:
    """Find-or-create + persistence for stream descriptors.

    Persisted as one JSON-lines file under the store root (atomic
    rename on save). Swap-in point for Delta MERGE when a transactional
    multi-writer registry is needed.
    """

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "streams.jsonl")
        self._streams: dict[str, StreamDescriptor] = {}
        self.load()

    def load(self) -> None:
        self._streams = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    if line.strip():
                        d = StreamDescriptor.from_json(line)
                        self._streams[d.stream_id] = d
        self._sig = self._file_sig()

    def _file_sig(self):
        try:
            st = os.stat(self.path)
            return (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            return None

    def save(self, expect_unchanged: bool = False) -> None:
        """Persist all descriptors (atomic rename).

        ``expect_unchanged=True`` is the optimistic-concurrency check
        the append path uses (reference ``StreamAppendContended``
        [MED], SURVEY §3 E1): if another writer saved the registry
        since we last loaded/saved it, committing our snapshot would
        silently drop their watermarks/latest pointers — raise instead
        (the caller reloads and retries). The append path calls
        ``check_unchanged`` before it writes any row and then saves
        with ``expect_unchanged=True``, so a refused append has written
        nothing. Metadata-only writers (ensure_stream etc.) keep
        last-writer-wins semantics."""
        if expect_unchanged:
            self.check_unchanged()
        os.makedirs(self.root, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for d in self._streams.values():
                f.write(d.to_json() + "\n")
        os.replace(tmp, self.path)
        self._sig = self._file_sig()

    def check_unchanged(self) -> None:
        """``save(expect_unchanged=True)``'s check without the write:
        raise ``StreamAppendContended`` if another writer saved since
        this handle loaded or saved."""
        if self._file_sig() != self._sig:
            raise StreamAppendContended(
                "registry changed on disk since load; reload and retry"
            )

    def get(self, stream_id: str) -> StreamDescriptor:
        try:
            return self._streams[stream_id]
        except KeyError:
            raise StreamNotFound(stream_id) from None

    def find(self, query_tags: dict | None = None) -> list[StreamDescriptor]:
        return [d for d in self.all() if tags_match(query_tags, d.tags)]

    def find_one(self, query_tags: dict) -> StreamDescriptor:
        found = self.find(query_tags)
        if not found:
            raise StreamNotFound(json.dumps(query_tags))
        if len(found) > 1:
            raise MultipleStreamsReturned(json.dumps(query_tags))
        return found[0]

    def all(self) -> Iterable[StreamDescriptor]:
        return self._streams.values()

    def ensure(
        self,
        query_tags: dict,
        tags: dict | None,
        value_downsamplers: list[str],
        highest_granularity: str,
        value_type: str = "numeric",
        value_type_options: dict | None = None,
        derived_from: list[str] | None = None,
        derive_op: str | None = None,
        derive_args: dict | None = None,
    ) -> StreamDescriptor:
        """Find-or-create by query_tags (api.py:~300 [HIGH]); raises
        InconsistentStreamConfiguration on config mismatch."""
        granularity_by_name(highest_granularity)  # validates
        downs = expand_downsamplers(value_downsamplers)
        if value_type not in VALUE_TYPES:
            raise IncompatibleTypes(value_type)

        matches = self.find(query_tags)
        if len(matches) > 1:
            raise MultipleStreamsReturned(json.dumps(query_tags))
        if matches:
            d = matches[0]
            if (
                d.highest_granularity != highest_granularity
                or set(downs) != set(d.value_downsamplers)
                or d.value_type != value_type
                or d.derive_op != (derive_op or None)
                or (derived_from or []) != d.derived_from
            ):
                raise InconsistentStreamConfiguration(d.stream_id)
            return d

        d = StreamDescriptor(
            stream_id=str(uuid.uuid4()),
            tags={**query_tags, **(tags or {})},
            value_downsamplers=downs,
            highest_granularity=highest_granularity,
            value_type=value_type,
            value_type_options=value_type_options,
            derived_from=list(derived_from or []),
            derive_op=derive_op,
            derive_args=derive_args,
            pending_backprocess=bool(derive_op),
        )
        self._streams[d.stream_id] = d
        for src in d.derived_from:
            self.get(src).contributes_to.append(d.stream_id)
        self.save()
        return d

    def delete(self, stream_ids: list[str]) -> None:
        doomed = set(stream_ids)
        for sid in stream_ids:
            deps = set(self.get(sid).contributes_to) - doomed
            if deps:
                raise OutstandingDependenciesError(f"{sid} -> {sorted(deps)}")
        for sid in stream_ids:
            d = self._streams.pop(sid)
            for src in d.derived_from:
                if src in self._streams:
                    src_d = self._streams[src]
                    src_d.contributes_to = [
                        c for c in src_d.contributes_to if c != sid
                    ]
        self.save()


class TableStreamRegistry(StreamRegistry):
    """``StreamRegistry`` on the manifest table — the registry the
    ``Datastream`` API drives at millions of streams
    (``Datastream(spark, root, registry_backend="table")``).

    Persistence is an LSM-style delta log: ``save()`` appends ONLY the
    descriptors that changed since the last load/save (plus tombstones
    for deletions) as one OCC commit — O(dirty), not O(streams) —
    where the JSON-lines registry rewrites its whole file per save
    (measured 9.2 s per mutation at 1M streams, SCALE.md §1). Reads
    resolve last-writer-wins per stream via a window over the commit
    version; ``compact()`` folds the log back to one snapshot.

    Find-or-create, find and the body of delete are the base class's;
    this class overrides persistence and the lazy-hydrating
    ``get``/``all`` they dispatch through.

    Concurrency matches the JSON path's contract: ``save(
    expect_unchanged=True)`` raises ``StreamAppendContended`` when
    another writer committed since our snapshot (manifest version is
    the signature); metadata-only writers keep last-writer-wins at
    the descriptor level.
    """

    _LOG_SCHEMA = "stream_id string, doc string, tombstone boolean, commit_v int"
    #: live-file threshold above which save() folds the log itself
    AUTO_COMPACT_FILES = 64

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.table = ManifestedTable(spark, os.path.join(root, "_streams_log"))
        self.load()

    # -- persistence ----------------------------------------------------

    def load(self) -> None:
        """Reset to the latest snapshot WITHOUT hydrating descriptors.

        Hydration is lazy: ``get`` pulls one descriptor via a
        partition-pruned point lookup; ``all`` (and so ``find``)
        hydrates the full dict on first use (Arrow batch, not per-row
        py4j). A fresh handle's time-to-first-append is therefore
        O(1 lookup), not O(registry) — the eager collect+parse of 1M
        descriptors cost ~47 s on the driver (SCALE.md §9) before any
        append could run."""
        self._streams: dict[str, StreamDescriptor] = {}
        #: last-saved state per stream as an INDEPENDENT parsed dict
        #: (json.loads gives fresh objects, so in-place mutations of a
        #: descriptor's lists/dicts can't alias the snapshot) — dict
        #: equality is ~20x cheaper than re-serializing to JSON, which
        #: keeps the save()-time dirty scan cheap at millions of
        #: streams (measured: 8.3 s -> sub-second for a 10-dirty save
        #: over 1M descriptors)
        self._snapshot: dict[str, dict] = {}
        self._hydrated = False
        self._resolved_cache: tuple | None = None
        self._sig = self.table.current_version()

    def _resolved(self) -> DataFrame | None:
        """Last-writer-wins view of the delta log AT THE HANDLE'S
        SNAPSHOT VERSION (``self._sig``) as a DataFrame (stream_id,
        doc), tombstones folded out; cached per version. Pinning to
        the load/save-time version — not ``current_version()`` — keeps
        lazy hydration single-snapshot consistent: every ``get``/
        ``find`` on one handle reads the same version, exactly like
        an eager load, and a racer's later commits become visible
        only through ``load()``/``save()`` advancing the pin. Filters
        on ``stream_id`` push below the window (it partitions by
        stream_id), so point lookups prune at the scan."""
        v = self._sig
        if self._resolved_cache is not None and self._resolved_cache[0] == v:
            return self._resolved_cache[1]
        df = None if v is None else self.table.read(version=v)
        if df is None:
            res = None
        else:
            w = Window.partitionBy("stream_id").orderBy(F.col("commit_v").desc())
            res = (
                df.withColumn("_rn", F.row_number().over(w))
                .where((F.col("_rn") == 1) & ~F.col("tombstone"))
                .select("stream_id", "doc")
            )
        self._resolved_cache = (v, res)
        return res

    def check_unchanged(self) -> None:
        if self.table.current_version() != self._sig:
            raise StreamAppendContended(
                "registry log advanced since load; reload and retry"
            )

    def save(self, expect_unchanged: bool = False) -> None:
        if expect_unchanged:
            self.check_unchanged()

        def dirty_rows(commit_v):
            rows = []
            for sid, d in self._streams.items():
                if self._snapshot.get(sid) != d.__dict__:
                    rows.append((sid, d.to_json(), False, commit_v))
            for sid in set(self._snapshot) - set(self._streams):
                rows.append((sid, "{}", True, commit_v))
            return rows

        for _ in range(8):
            # commit_v tags rows with the manifest version the commit
            # will land at. Passing expected_base makes that version
            # AUTHORITATIVE: a racer committing between our read and
            # our append turns into CommitConflict (retry with a fresh
            # tag) instead of our rows landing at a higher version than
            # their tag claims — which would let LWW rows tie on
            # commit_v across writers and make row_number nondeterministic.
            base = self.table.current_version()
            commit_v = (base if base is not None else -1) + 1
            rows = dirty_rows(commit_v)
            if not rows:
                return
            try:
                committed_v = self.table.append(
                    self.spark.createDataFrame(rows, self._LOG_SCHEMA),
                    expected_base=base,
                )
            except CommitConflict:
                if expect_unchanged:
                    raise StreamAppendContended(
                        "registry log advanced during save; reload and retry"
                    ) from None
                continue  # metadata LWW writer: re-tag and retry
            for sid, j, tomb, _ in rows:
                if tomb:
                    self._snapshot.pop(sid, None)
                else:
                    self._snapshot[sid] = json.loads(j)
            # pin to OUR commit, not current_version(): a racer landing
            # right after us must not silently advance this handle's
            # snapshot past what its caches reflect
            self._sig = committed_v
            # Opportunistic auto-compaction: every append adds >= 1
            # data file, and read cost grows with the live file count
            # until someone folds the log. Best-effort — a racing
            # writer just means the next save tries again.
            if len(self.table.current_files()) > self.AUTO_COMPACT_FILES:
                try:
                    self.compact()
                except CommitConflict:
                    pass
            return
        raise CommitConflict("registry save: retries exhausted")

    def compact(self) -> None:
        """Fold the delta log to one snapshot commit, Spark-side: the
        LWW-resolved view is rewritten as commit_v=0 rows without
        hydrating a single descriptor on the driver (O(registry) Spark
        work, O(1) driver work). Dirty local state is saved first, so
        the fold never loses an unsaved mutation; tombstones never
        outlive a compaction. The overwrite is CONDITIONAL on the
        snapshot the fold was derived from (``expected_base``) — a
        racer committing in between surfaces as CommitConflict and the
        retry adopts the new snapshot via ``load()`` (safe: everything
        local was just saved), instead of the racer's committed rows
        being silently folded away. Runs automatically from ``save()``
        past ``AUTO_COMPACT_FILES`` live files; callable manually."""
        self.save()
        for _ in range(8):
            base = self._sig
            res = self._resolved()
            rows_df = (
                self.spark.createDataFrame([], self._LOG_SCHEMA)
                if res is None
                else res.select(
                    "stream_id",
                    "doc",
                    F.lit(False).alias("tombstone"),
                    F.lit(0).cast("int").alias("commit_v"),
                )
            )
            try:
                folded_v = self.table.overwrite(rows_df, expected_base=base)
            except CommitConflict:
                self.load()  # racer landed: adopt the new snapshot
                continue
            self._sig = folded_v
            self._resolved_cache = None  # folded file set differs
            return
        raise CommitConflict("registry compact: retries exhausted")

    # -- lazy hydration -------------------------------------------------

    def _hydrate(self, sid: str, doc: str) -> StreamDescriptor:
        self._streams[sid] = StreamDescriptor.from_json(doc)
        self._snapshot[sid] = json.loads(doc)
        return self._streams[sid]

    def get(self, stream_id: str) -> StreamDescriptor:
        if stream_id in self._streams:
            return self._streams[stream_id]
        # in _snapshot but not _streams = locally deleted (tombstone
        # pending); fully hydrated and absent = genuinely unknown
        if self._hydrated or stream_id in self._snapshot:
            raise StreamNotFound(stream_id)
        res = self._resolved()
        if res is not None:
            rows = res.where(F.col("stream_id") == stream_id).collect()
            if rows:
                return self._hydrate(stream_id, rows[0].doc)
        raise StreamNotFound(stream_id)

    def all(self) -> Iterable[StreamDescriptor]:
        res = None if self._hydrated else self._resolved()
        if res is not None:
            # Arrow-batched transfer; locally known sids (mutated,
            # created, or tombstoned since load) are NOT overwritten —
            # a pending delete must not resurrect, a pending edit must
            # not be clobbered by its own last-saved doc.
            pdf = res.toPandas()
            for sid, doc in zip(pdf["stream_id"], pdf["doc"]):
                if sid not in self._streams and sid not in self._snapshot:
                    self._hydrate(sid, doc)
        self._hydrated = True
        return self._streams.values()

    def delete(self, stream_ids: list[str]) -> None:
        # The base cleanup edits contributes_to only on sources present
        # in self._streams; hydrate them first so lazy loading does not
        # turn that into a silent skip.
        for sid in stream_ids:
            for src in self.get(sid).derived_from:
                try:
                    self.get(src)
                except StreamNotFound:
                    pass
        super().delete(stream_ids)


#: All time downsamplers are always materialized (cheap columns).
__all__ = [
    "StreamRegistry",
    "TableStreamRegistry",
    "StreamDescriptor",
    "tags_match",
    "TIME_DOWNSAMPLERS",
]
