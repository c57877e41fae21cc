"""Exactly-once streaming ingress for manifested tables — the bridge
that closes the incremental-maintenance loop: a stream lands in a
``ManifestedTable`` as atomic per-batch commits, and every CDC
maintainer (``table_changes``, ``incremental_rollup``,
``incremental_kmv``, ``incremental_lsh_pairs``,
``incremental_ivf_assign``) consumes those commits at O(delta) from
there. Spark's built-in file sink gets exactly-once from its own sink
log, but that log is private to the sink — a manifested table needs
the idempotence marker in ITS commit protocol so CDC readers and the
streaming writer share one source of truth.

Mechanism — the canonical idempotent-``foreachBatch`` pattern from the
Structured Streaming docs, applied to our commit log: every commit the
sink makes carries ``meta = {sink_id, batch_id}``; on a replay (Spark
re-runs batch N whenever a failure lands between the sink's commit and
the checkpoint's), the sink walks the manifest log newest-first, finds
batch N already committed for this ``sink_id``, and skips — so each
micro-batch lands EXACTLY ONCE no matter how many times it is
delivered. The walk happens once per sink instance (then cached and
maintained in-memory); a restart pays one O(#versions) driver-side
JSON scan, kilobytes.

One writer per (table, sink_id) — the usual foreachBatch discipline;
distinct sinks (or batch writers, which never set the marker) may
interleave commits safely because the marker lookup matches on
``sink_id``, not on position.

The near-duplicate sinks are one step, ``_near_dup_sink``, over the
banding scheme of ``sources/cdc.py``: ``lsh_streaming_sink`` and
``simhash_streaming_sink`` build their scheme and run it, so each
batch is banded and joined exactly as the CDC maintainers do it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..sources.cdc import (
    _band_pairs,
    _BandScheme,
    _lsh_scheme,
    _simhash_scheme,
    check_geometry,
)
from ..sources.manifest import ManifestedTable

__all__ = [
    "manifest_append_sink",
    "lsh_streaming_sink",
    "simhash_streaming_sink",
]


def manifest_append_sink(
    table: ManifestedTable,
    sink_id: str = "stream",
    auto_optimize_files: int | None = None,
):
    """A ``foreachBatch`` callable appending each micro-batch to
    ``table`` exactly once (replay-safe via the (sink_id, batch_id)
    commit marker). Use::

        q = (df.writeStream
               .foreachBatch(manifest_append_sink(table, "events"))
               .option("checkpointLocation", ckpt)
               .start())

    Downstream, ``table_changes(table, since=...)`` sees one insert
    batch per trigger — feed it straight to the incremental
    maintainers. Empty triggers commit nothing.

    ``auto_optimize_files``: one-commit-per-trigger is the small-file
    problem at streaming cadence (a 30 s trigger is ~2.9k files/day
    per partition written). When the snapshot's file count reaches the
    threshold after an append, the sink runs ``table.optimize()``
    (pure bin-packing — no shuffle) in the same foreachBatch turn.
    Safe by construction: the optimize commit records ``data_change:
    false`` so the change feed skips it (incremental maintainers see
    only the real appends), and it carries no sink marker so the
    replay check walks straight past it to the last real batch. A
    crash between append and optimize just defers packing to the next
    trigger that crosses the threshold."""

    append = _marker_guarded_append(table, sink_id)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= append.last():
            return  # replayed batch: already committed — don't even isEmpty
        if batch_df.isEmpty():
            # skip the commit but still advance the marker in memory so
            # a later replay of this empty batch stays a no-op
            append.mark(batch_id)
            return
        append(batch_df, batch_id)
        if (
            auto_optimize_files is not None
            and len(table.current_files()) >= auto_optimize_files
        ):
            table.optimize()

    return fold


class _marker_guarded_append:
    """Append-with-marker whose replay check reads the table's own
    commit log — the ONE implementation of the (sink_id, batch_id)
    idempotence protocol, shared by ``manifest_append_sink`` and the
    multi-table sinks. Calling the instance appends exactly once per
    batch_id (returns False on a replay); ``mark`` advances the
    in-memory marker without committing (empty batches)."""

    def __init__(self, table: ManifestedTable, sink_id: str):
        self._table = table
        self._sink_id = sink_id
        self._last: int | None = None

    def last(self) -> int:
        if self._last is None:
            found = -1
            for v in reversed(self._table._versions()):
                with open(self._table._manifest_path(v)) as f:
                    meta = json.load(f).get("meta") or {}
                if meta.get("sink_id") == self._sink_id:
                    found = int(meta["batch_id"])
                    break
            self._last = found
        return self._last

    def mark(self, batch_id: int) -> None:
        if int(batch_id) > self.last():
            self._last = int(batch_id)

    def __call__(self, df: DataFrame, batch_id: int) -> bool:
        if int(batch_id) <= self.last():
            return False
        self._table.append(
            df, meta={"sink_id": self._sink_id, "batch_id": int(batch_id)}
        )
        self._last = int(batch_id)
        return True


def lsh_streaming_sink(
    band_table: ManifestedTable,
    pairs_table: ManifestedTable,
    docs_table: ManifestedTable | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    portable_hash: bool,
    sink_id: str = "lsh",
):
    """Streaming near-dup detection: a ``foreachBatch`` callable that,
    per micro-batch of documents, (1) bands ONLY the batch's docs,
    (2) emits the batch's NEW candidate pairs — batch x stored bands
    plus batch x batch — into ``pairs_table``, (3) folds the batch's
    band rows into ``band_table``, and (4) optionally lands the raw
    docs in ``docs_table``. The union of ``pairs_table`` over all
    triggers equals a from-scratch ``minhash_candidate_pairs`` over
    everything streamed (the delta-banding theorem, pinned by test),
    so "which existing documents does this new arrival collide with?"
    is answered continuously at O(batch) signature cost.

    Exactly-once across crashes WITHOUT cross-table transactions: each
    table carries its own (sink_id, batch_id) marker, the work is
    ordered pairs -> bands -> docs, and pairs are always computed
    against the band table BEFORE this batch's bands land — so a crash
    between any two commits replays only the missing suffix, and a
    replayed pair computation can never see (and double-join) its own
    batch's bands. Band geometry/hash-family metadata rides on the
    band rows exactly as in ``incremental_lsh_pairs`` AND is checked
    against the stored table once per sink instance — a restart with
    a different geometry/family refuses loudly instead of silently
    losing every cross pair with the pre-restart corpus. The step is
    the SimHash sink's, with the LSH scheme. One writer per
    (tables, sink_id). Doc ids must be unique across the stream's
    life — the streaming ingest is the id authority here, so unlike
    the CDC maintainer there is no per-batch re-use check (it would
    cost a semi-join per trigger); route through
    ``incremental_lsh_pairs`` if the ingest cannot guarantee it.
    """
    return _near_dup_sink(
        _lsh_scheme(
            id_col, text_col, num_hashes, rows_per_band, shingle_k, portable_hash
        ),
        "lsh_streaming_sink",
        band_table,
        pairs_table,
        docs_table,
        sink_id,
    )


def simhash_streaming_sink(
    fp_table: ManifestedTable,
    pairs_table: ManifestedTable,
    docs_table: ManifestedTable | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    sink_id: str = "simhash",
):
    """Streaming SimHash near-dup detection — the step of
    ``lsh_streaming_sink`` with the SimHash scheme: per micro-batch,
    (1) fingerprint ONLY the batch's docs, (2) emit the batch's NEW
    hamming-refined pairs (batch x stored fingerprints + batch x batch)
    into ``pairs_table``,
    (3) fold the batch's banded fingerprint rows into ``fp_table``,
    (4) optionally land the raw docs. Same exactly-once construction
    as the LSH sink: per-table (sink_id, batch_id) markers + the
    pairs -> fingerprints -> docs commit order, so a crash between any
    two commits replays only the missing suffix and a replayed pair
    computation never double-joins its own batch's rows. Geometry
    ((bits, bands)) is checked against the stored table once per sink
    instance — a restarted sink with a different geometry refuses
    loudly, and ``bands`` must divide ``bits`` (refused when the sink
    is built); ``max_hamming`` is query-time (rows carry full
    fingerprints). Doc ids are the ingest's contract, as in the LSH
    sink. One writer per (tables, sink_id).
    """
    return _near_dup_sink(
        _simhash_scheme(id_col, text_col, bits, bands, max_hamming),
        "simhash_streaming_sink",
        fp_table,
        pairs_table,
        docs_table,
        sink_id,
    )


def _near_dup_sink(
    scheme: _BandScheme,
    opname: str,
    rows_table: ManifestedTable,
    pairs_table: ManifestedTable,
    docs_table: ManifestedTable | None,
    sink_id: str,
):
    """The streaming step of both near-dup sinks: a ``foreachBatch``
    callable that skips a fully committed replay, checks the stored
    geometry once per sink instance, bands the batch once
    (``localCheckpoint``), and commits pairs -> rows -> docs, each
    under its own (sink_id, batch_id) marker. The pairs are computed
    against ``rows_table`` before this batch's rows land, so a replay
    after a crash between two commits never joins the batch with
    itself twice."""
    put_pairs = _marker_guarded_append(pairs_table, sink_id)
    put_rows = _marker_guarded_append(rows_table, sink_id)
    put_docs = (
        _marker_guarded_append(docs_table, sink_id)
        if docs_table is not None
        else None
    )
    guards = [g for g in (put_pairs, put_rows, put_docs) if g is not None]
    geometry_checked = False

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal geometry_checked
        if all(g.last() >= int(batch_id) for g in guards):
            # fully-committed replay (checkpoint lost / restarted):
            # skip before paying isEmpty, manifest reads, or planning
            return
        if batch_df.isEmpty():
            return
        if not geometry_checked:
            # the stored metadata is table-constant: once per instance
            check_geometry(rows_table.read(), scheme.meta, opname)
            geometry_checked = True
        delta = scheme.stored(batch_df).localCheckpoint(eager=False)
        put_pairs(_band_pairs(scheme, delta, rows_table.read()), batch_id)
        put_rows(delta, batch_id)
        if put_docs is not None:
            put_docs(batch_df, batch_id)

    return fold
