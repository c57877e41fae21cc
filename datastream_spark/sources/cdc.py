"""Change-data-capture reads over the manifest log (snapshot diff).

The reference has no CDC surface — consumers re-scan collections to
find new datapoints (mongodb.py:~1100 downsampling state cursors
[MED]). A manifest log gives change feeds for free: every commit names
its exact file set, so the rows added between snapshot ``v_a`` and
``v_b`` are precisely the rows in ``files(v_b) - files(v_a)``, and the
rows removed (by ``overwrite``) are those in ``files(v_a) -
files(v_b)``. This module turns that file-set algebra into a
DataFrame — the same contract as Delta Lake's ``table_changes`` /
Iceberg's incremental scan, rebuilt on our own commit protocol.

Scale posture — the whole point at 100 TB: a consumer that is one
commit behind reads ONLY the files that commit added, never the base
table. ``table_changes`` never lists the data directory and never
scans an unchanged file; driver-side work is O(#versions * #files)
manifest JSON (kilobytes), and the executor-side scan is exactly the
delta. ``incremental_rollup`` composes this with the merge-form
rollup algebra (operators/rollup.py): maintaining a materialized
rollup costs one delta scan + one merge agg keyed on the buckets the
delta touched — the incremental-view-maintenance shape, not a
recompute.

Semantics per commit step ``v-1 -> v``:

- files added at ``v``   -> their rows emit with ``_change_type =
  'insert'``, ``_commit_version = v``;
- files removed at ``v`` -> their rows emit with ``_change_type =
  'delete'``, ``_commit_version = v``.

A compaction that rewrites the same rows therefore shows as
delete+insert — identical to Delta CDC without the CDF sidecar; the
append-only paths this engine uses for datapoints never rewrite, so
their feed is pure inserts.

Near-duplicate maintenance is one step over a banding scheme
(``_BandScheme``), of which MinHash-LSH and SimHash are the two values:
``_maintain`` nets a range, appends the new docs' band rows and the
tombstones of deleted docs in one commit, and ``_band_pairs`` joins the
rows it wrote against the stored ones. ``incremental_lsh_pairs`` and
``incremental_simhash_pairs`` build their scheme and run that step;
the streaming sinks (``streaming/sink.py``) reuse the scheme and the
join.
"""

from __future__ import annotations

import json
import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from .manifest import ManifestedTable

INSERT = "insert"
DELETE = "delete"


def files_at(table: ManifestedTable, version: int | None) -> list[str]:
    """The exact file set of one snapshot (empty for version None)."""
    if version is None:
        return []
    with open(table._manifest_path(version)) as f:
        return json.load(f)["files"]


def table_changes(
    table: ManifestedTable,
    since: int | None = None,
    until: int | None = None,
) -> DataFrame | None:
    """Rows changed in commits ``(since, until]`` as one DataFrame with
    ``_change_type`` / ``_commit_version`` metadata columns appended.

    ``since=None`` means "from before the first commit" (the full
    history); ``until=None`` means the current version. Returns None
    when no commit in the range touched any file. Each commit step is
    diffed against its immediate predecessor so every changed row is
    tagged with the version that changed it, exactly like Delta's
    ``table_changes(startingVersion, endingVersion)``; commits whose
    manifest meta records ``data_change: false`` (``optimize`` layout
    rewrites) are skipped entirely — the file set changed, the rows
    did not.
    """
    if until is None:
        until = table.current_version()
    if until is None:
        return None
    versions = [v for v in table._versions() if v <= until]
    if since is not None:
        lo = [v for v in versions if v <= since]
        if not lo:
            # expire() dropped every manifest at-or-before `since`:
            # diffing against an empty base would re-emit the whole
            # surviving snapshot as fresh inserts. Surface the retention
            # violation instead of a silently wrong feed.
            raise ValueError(
                f"snapshot {since} (and everything before it) has been "
                "expired — the change feed base is gone; recompute from "
                "a full read instead"
            )
        prev_files = set(files_at(table, lo[-1]))
        versions = [v for v in versions if v > since]
    else:
        prev_files = set()
    batches: list[DataFrame] = []
    # every batch reads with the UNTIL version's logged schema: rows
    # from commits before a merge_schema widening surface the later
    # columns as NULL, and the feed has ONE stable schema (matching
    # what read(until) returns) instead of per-commit drift
    reader = table._reader(table._schema_at(until))
    for v in versions:
        with open(table._manifest_path(v)) as fh:
            doc = json.load(fh)
        cur = set(doc["files"])
        if doc.get("meta", {}).get("data_change") is False:
            # a layout rewrite (optimize/compaction): the file set
            # changed, the rows did not — Delta's dataChange=false.
            # Replaying it as delete+insert churn would make every
            # incremental maintainer re-verify the whole corpus.
            prev_files = cur
            continue
        for kind, files in ((INSERT, cur - prev_files), (DELETE, prev_files - cur)):
            if files:
                batches.append(
                    reader.parquet(*sorted(files))
                    .withColumn("_change_type", F.lit(kind))
                    .withColumn("_commit_version", F.lit(v).cast("int"))
                )
        prev_files = cur
    if not batches:
        return None
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    return out


class ChangeCursor:
    """Durable at-least-once consumer position over a table's commit
    log — the ops-loop primitive every incremental maintainer needs
    ("fold everything my last run hasn't seen"):

        cur = ChangeCursor(table, "/state/lsh_cursor")
        delta_range = cur.poll()          # (since, until) or None
        if delta_range:
            since, until = delta_range
            incremental_lsh_pairs(table, bands, since=since,
                                  until=until, portable_hash=True)
            cur.ack(until)                # atomic position persist

    ``poll`` never moves the position — only ``ack`` does, with a
    write-temp + fsync + atomic-rename, so a crash anywhere between
    the two replays the same range on restart. At-least-once is the
    right default here because every consumer in this module is
    already replay-safe: the maintainers' geometry/uniqueness gates
    and the sinks' commit markers make a re-fold either idempotent or
    loudly refused, never silently doubled. The stored position is a
    table VERSION (the same ``since`` the maintainers take), so a
    cursor survives optimize/compaction commits unmoved — the
    data_change: false skip keeps replays empty, not churny."""

    def __init__(self, table: ManifestedTable, path: str):
        self.table = table
        self.path = path

    def position(self) -> int | None:
        """The last acked version (None = never acked: poll from the
        table's beginning)."""
        try:
            with open(self.path) as f:
                return json.load(f)["position"]
        except FileNotFoundError:
            return None

    def poll(self) -> tuple[int | None, int] | None:
        """The unprocessed commit range ``(since, until]`` as a
        (since, until) tuple, or None when the log has nothing new.
        Feed both ends to a maintainer, then ``ack(until)`` — pinning
        ``until`` (rather than letting the maintainer default to
        current) keeps the processed range and the acked position the
        same even if a writer lands mid-fold."""
        since = self.position()
        until = self.table.current_version()
        if until is None or (since is not None and until <= since):
            return None
        return (since, until)

    def ack(self, position: int) -> None:
        """Atomically persist ``position`` — rename is the commit
        point, same durability shape as the manifest log itself.
        Refuses to move backwards (a stale ack after a newer one is a
        lost-update bug at the caller)."""
        cur = self.position()
        if cur is not None and position < cur:
            raise ValueError(
                f"ChangeCursor.ack: position {position} < stored {cur} — "
                "acks must not move backwards"
            )
        import uuid as _uuid

        tmp = f"{self.path}.tmp-{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"position": int(position)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


def incremental_rollup(
    table: ManifestedTable,
    rolled: DataFrame | None,
    since: int | None,
    granularity,
    key: str = "stream_id",
    until: int | None = None,
) -> DataFrame | None:
    """Merge the commits after ``since`` into an existing rollup frame.

    ``rolled`` is the materialized rollup as of snapshot ``since``
    (None for "nothing materialized yet"). Reads ONLY the delta files,
    rolls them with the raw forms, and folds them into ``rolled`` via
    the merge forms — the decomposability that makes the cascade exact
    (operators/rollup.py rollup_cascade, pinned by q_a2) is the same
    property that makes this incremental merge exact, which the parity
    test asserts against a from-scratch recompute.

    Deletes in the range are refused: merge forms are not subtractable
    (min/max can't be un-merged). Append-only feeds — the datapoint
    path — never hit this.
    """
    from ..operators.rollup import rollup_cascade, rollup_from_raw

    delta = table_changes(table, since=since, until=until)
    if delta is None:
        return rolled
    if delta.where(F.col("_change_type") == DELETE).limit(1).count() > 0:
        raise ValueError(
            "incremental_rollup requires an append-only range; "
            "a commit in range removed files (overwrite/compaction) — "
            "recompute from the snapshot instead"
        )
    fresh = rollup_from_raw(
        delta.drop("_change_type", "_commit_version"), granularity, key=key
    )
    if rolled is None:
        return fresh
    merge_cols = [c for c in rolled.columns]
    both = rolled.select(merge_cols).unionByName(fresh.select(merge_cols))
    return rollup_cascade(both, granularity, key=key)


def profile_changes(
    table: ManifestedTable,
    since: int | None = None,
    until: int | None = None,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame | None:
    """Profile of exactly the rows the commits in ``(since, until]``
    inserted — the data-quality twin of ``table_changes``: "what did
    this commit introduce?" answered in O(delta) scan cost, never a
    base-table read. Returns None when no commit in range inserted
    rows. Deletes in range are refused like ``incremental_rollup``:
    profile stats are not subtractable (min/max/distinct cannot be
    un-merged), so a compaction/overwrite in range means the question
    itself is ill-posed incrementally — recompute from the snapshot.

    Diff the result against the pinned reference profile with
    ``operators.profile.profile_diff`` to alert on drift a commit
    introduced (new nulls, widened ranges, distinct-count jumps).
    """
    from ..operators.profile import profile_columns

    delta = table_changes(table, since=since, until=until)
    if delta is None:
        return None
    if delta.where(F.col("_change_type") == DELETE).limit(1).count() > 0:
        raise ValueError(
            "profile_changes requires an append-only range; a commit in "
            "range removed files (overwrite/compaction) — profile the "
            "snapshot instead"
        )
    return profile_columns(
        delta.drop("_change_type", "_commit_version"),
        cols=cols,
        exact_distinct=exact_distinct,
    )


def incremental_kmv(
    table: ManifestedTable,
    sketch: DataFrame | None,
    since: int | None,
    group_cols: list[str],
    element,
    k: int = 256,
    *,
    portable: bool,
    until: int | None = None,
) -> DataFrame | None:
    """Merge the commits after ``since`` into an existing KMV/theta
    sketch — distinct-count (and set-overlap) maintenance at O(delta)
    scan cost, the sketch ladder's analogue of ``incremental_rollup``:
    the KMV min-k merge theorem (operators/kmv.py) is the same
    decomposability property the rollup merge forms carry, so folding
    the delta's sketch into the materialized one is EXACT — the
    maintained sketch is hash-identical to a from-scratch rebuild
    (parity-pinned by test, like the rollup twin).

    Deletes in the range are refused for the same reason as rollups:
    a min-k set is not subtractable (dropping an element can only be
    observed by re-reading everything below theta).

    ``portable`` is REQUIRED (no default): the delta's hashes must use
    the SAME hash family the materialized sketch was built with —
    mixing md5-hex and xxhash64 rows in one min-k set corrupts every
    estimate with no detectable error (``kmv_merge`` sees only
    BIGINTs). Forcing the keyword makes the caller restate the family
    at maintenance time instead of inheriting a silently mismatched
    default (``kmv_sketch`` defaults portable=True).
    """
    from ..operators.kmv import kmv_merge, kmv_sketch

    delta = table_changes(table, since=since, until=until)
    if delta is None:
        return sketch
    if delta.where(F.col("_change_type") == DELETE).limit(1).count() > 0:
        raise ValueError(
            "incremental_kmv requires an append-only range; a commit in "
            "range removed files (overwrite/compaction) — rebuild from "
            "the snapshot instead (a min-k sketch is not subtractable)"
        )
    fresh = kmv_sketch(
        delta.drop("_change_type", "_commit_version"),
        group_cols,
        element,
        k=k,
        portable=portable,
    )
    if sketch is None:
        return fresh
    both = sketch.select(*group_cols, "h").unionByName(
        fresh.select(*group_cols, "h")
    )
    return kmv_merge(both, group_cols, k=k)


def incremental_ivf_assign(
    table: ManifestedTable,
    assigned: DataFrame | None,
    since: int | None,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    until: int | None = None,
) -> DataFrame | None:
    """Maintain a materialized IVF cell-assignment table (the ANN
    index's coarse layer) against an embeddings table's change feed:
    assign ONLY the delta vectors to the FROZEN ``centroids`` and fold
    them into ``assigned`` — the last expensive index the CDC family
    didn't maintain (rollups ``incremental_rollup``, sketches
    ``incremental_kmv``, LSH bands ``incremental_lsh_pairs``, now ANN
    cells). Centroids are required and frozen by contract: assignment
    against retrained centroids is a REBUILD, not maintenance (every
    old row's cell could change) — the q_x3g fixture discipline.

    Unlike the aggregate maintainers, assignment is a pure PER-ROW
    function of (vector, centroids) — which makes it SUBTRACTABLE, so
    this is the one maintainer that accepts deletes: removed rows
    anti-join out of the assignment by id, inserts assign and append,
    and a compaction's delete+insert of the same rows nets to the
    identical table. Maintained output == ``assign_ivf_cells`` over
    the full snapshot with the same centroids, row-for-row
    (parity-pinned; q_c4 hash-gates it cross-engine).

    Scale: the only vector math anywhere is |delta| x |centroids|
    dot products (centroids broadcast by construction); the existing
    assignment is touched only by the (usually empty) delete
    anti-join. Returns ``assigned`` unchanged on an empty range.
    """
    from ..operators.similarity import assign_ivf_cells

    delta = table_changes(table, since=since, until=until)
    if delta is None:
        return assigned
    deletes = delta.where(F.col("_change_type") == DELETE)
    inserts = delta.where(F.col("_change_type") == INSERT)
    out = assigned
    # Net effect per id across the range, last change wins: a delete
    # at version v supersedes any pre-range assignment AND any in-range
    # insert from an earlier version; a compaction's same-version
    # delete+insert pair nets to the insert (the delete names the OLD
    # file's rows, the insert the rewrite). Requires ids unique per
    # snapshot (the embeddings-table contract).
    if deletes.limit(1).count() > 0:
        del_v = deletes.groupBy(id_col).agg(
            F.max("_commit_version").alias("_dv")
        )
        if out is not None:
            out = out.join(del_v.select(id_col), id_col, "left_anti")
        inserts = (
            inserts.join(del_v, id_col, "left")
            .where(
                F.col("_dv").isNull()
                | (F.col("_commit_version") >= F.col("_dv"))
            )
            .drop("_dv")
        )
    fresh = assign_ivf_cells(
        inserts.drop("_change_type", "_commit_version"),
        id_col=id_col,
        vec_col=vec_col,
        centroids=centroids,
    )
    if out is None:
        return fresh
    return out.select(id_col, vec_col, "cell_id").unionByName(
        fresh.select(id_col, vec_col, "cell_id")
    )


#: Marker band id for tombstone rows in maintained band/fingerprint
#: tables. Real bands are always >= 0, so markers share the table's
#: schema (and geometry metadata) without colliding with any band key;
#: pair emission treats a marker's doc id as dead (anti-join) until
#: ``compact_band_tombstones`` physically purges its rows.
TOMBSTONE_BAND = -1


class _BandScheme(NamedTuple):
    """A near-duplicate signature scheme as the maintenance step sees
    it. MinHash-LSH (``_lsh_scheme``) and SimHash (``_simhash_scheme``)
    are the two values; the CDC step (``_maintain``), the streaming
    sink step (``streaming.sink._near_dup_sink``) and the band join
    (``_band_pairs``) are written once over it.

    A stored row is ``(id_col, *markers, *meta)``. ``markers`` names the
    stored columns in order, each with the value a tombstone row holds
    (``band`` is always one, ``TOMBSTONE_BAND`` there). ``meta`` is the
    geometry, stored as constant columns: band keys of two geometries
    or hash families live in disjoint spaces, so ``check_geometry``
    refuses a mismatch instead of silently losing every cross pair.
    Two rows collide when they share ``band`` and ``key``; ``fp``, when
    set, rides through the join as ``_fp_x``/``_fp_y``. ``finish`` turns
    the ``(id_a, id_b[, _fp_x, _fp_y])`` collisions into the output,
    whose count column is ``count_col``."""

    id_col: str
    meta: dict
    band_rows: Callable[[DataFrame], DataFrame]
    markers: dict
    key: str
    fp: str | None
    count_col: str
    finish: Callable[[DataFrame], DataFrame]

    def meta_cols(self) -> list:
        return [F.lit(v).alias(k) for k, v in self.meta.items()]

    def stored(self, docs: DataFrame) -> DataFrame:
        """``docs`` banded into stored rows."""
        return self.band_rows(docs).select(
            self.id_col, *self.markers, *self.meta_cols()
        )


def _lsh_scheme(
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    portable_hash: bool = True,
) -> _BandScheme:
    """MinHash-LSH: rows ``(id, band, band_hash)``; a pair's output is
    the number of bands it shares. The join alone (``pairs_from_bands``)
    needs no geometry, hence the defaults."""
    from ..operators.dedup import band_key_frame, minhash_signature_arrays

    def band_rows(docs: DataFrame) -> DataFrame:
        arrays = minhash_signature_arrays(
            docs,
            id_col,
            text_col,
            num_hashes=num_hashes,
            shingle_k=shingle_k,
            portable_hash=portable_hash,
        )
        return band_key_frame(arrays, id_col, rows_per_band)

    return _BandScheme(
        id_col=id_col,
        meta={
            "_num_hashes": int(num_hashes),
            "_rows_per_band": int(rows_per_band),
            "_shingle_k": int(shingle_k),
            "_portable": bool(portable_hash),
        },
        band_rows=band_rows,
        markers={
            "band": F.lit(TOMBSTONE_BAND).cast("int"),
            "band_hash": F.lit(""),
        },
        key="band_hash",
        fp=None,
        count_col="n_shared_bands",
        finish=lambda pairs: pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("n_shared_bands")
        ),
    )


def _simhash_scheme(
    id_col: str,
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> _BandScheme:
    """SimHash: rows ``(id, simhash, band, band_val)``; a colliding
    pair is output once, with its exact Hamming distance, when that is
    at most ``max_hamming`` (query-time: rows carry full fingerprints,
    so only ``(bits, bands)`` is stored geometry). Refuses a ``bands``
    that does not divide ``bits`` here, before any table is read."""
    from ..operators.dedup import _simhash_band_width, simhash, simhash_band_rows

    _simhash_band_width(bits, bands)

    def band_rows(docs: DataFrame) -> DataFrame:
        fps = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
        return simhash_band_rows(fps, id_col, bits, bands)

    def finish(pairs: DataFrame) -> DataFrame:
        hm = F.bit_count(F.col("_fp_x").bitwiseXOR(F.col("_fp_y")))
        return (
            pairs.select("id_a", "id_b", hm.alias("_hm"))
            .distinct()
            .where(F.col("_hm") <= max_hamming)
            .select("id_a", "id_b", F.col("_hm").cast("long").alias("hamming"))
        )

    return _BandScheme(
        id_col=id_col,
        meta={"_bits": int(bits), "_bands": int(bands)},
        band_rows=band_rows,
        markers={
            "simhash": F.lit(0).cast("bigint"),
            "band": F.lit(TOMBSTONE_BAND).cast("int"),
            "band_val": F.lit(0).cast("bigint"),
        },
        key="band_val",
        fp="simhash",
        count_col="hamming",
        finish=finish,
    )


def _net_delta(delta: DataFrame, id_col: str):
    """Per-id net effect of a change-feed range, last change wins:
    ``(net_deleted_ids, net_docs)`` where net_deleted_ids is one id per
    row whose final state in the range is ABSENT (a delete no insert
    supersedes), and net_docs holds the rows of each net-present id's
    LAST in-range insert (a file rewrite's delete+insert of the same
    row at one version nets to present — the ``delete_where``
    co-location case). Metadata columns are dropped from net_docs."""
    ins = delta.where(F.col("_change_type") == INSERT)
    dels = delta.where(F.col("_change_type") == DELETE)
    iv = ins.groupBy(id_col).agg(F.max("_commit_version").alias("_iv"))
    dv = dels.groupBy(id_col).agg(F.max("_commit_version").alias("_dv"))
    net = iv.join(dv, id_col, "full")
    net_deleted = net.where(
        F.col("_dv").isNotNull()
        & (F.col("_iv").isNull() | (F.col("_iv") < F.col("_dv")))
    ).select(id_col)
    present = net.where(
        F.col("_iv").isNotNull()
        & (F.col("_dv").isNull() | (F.col("_iv") >= F.col("_dv")))
    ).select(id_col, "_iv")
    net_docs = (
        ins.join(present, id_col)
        .where(F.col("_commit_version") == F.col("_iv"))
        .drop("_iv", "_change_type", "_commit_version")
    )
    return net_deleted, net_docs


def _verify_final_snapshot(
    final_docs: DataFrame,
    deleted_ids: DataFrame | None,
    inserted_ids: DataFrame,
    id_col: str,
    opname: str,
) -> None:
    """The ``verify_snapshot=True`` cross-check: every range-touched id's
    live multiplicity in the FINAL snapshot must match what the range
    netted (0 for net-deleted, exactly 1 for net-inserted). This is the
    one gate that sees duplicate copies parked in files the range never
    touched — the documented blind spot of the O(delta) range gates
    (reachable only after maintenance was skipped or overridden for an
    earlier range). Cost: an O(corpus) scan of the id column, but the
    shuffle is range-sized — the corpus is semi-join-filtered to the
    range's ids (AQE broadcasts the delta-sized id set) before the
    multiplicity agg."""
    parts = [inserted_ids.distinct().withColumn("_want", F.lit(1))]
    if deleted_ids is not None:
        parts.append(deleted_ids.distinct().withColumn("_want", F.lit(0)))
    want = parts[0]
    for p in parts[1:]:
        want = want.unionByName(p)
    live = (
        final_docs.select(id_col)
        .join(want.select(id_col), id_col, "semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_live"))
    )
    bad = want.join(live, id_col, "left").where(
        F.coalesce(F.col("_live"), F.lit(0)) != F.col("_want")
    )
    sample = [
        (r[id_col], int(r["_want"]), int(r["_live"] or 0))
        for r in bad.limit(5).collect()
    ]
    if sample:
        raise ValueError(
            f"{opname}: final snapshot contradicts the range's net effect "
            f"for {len(sample)}+ ids (id, expected_live, actual_live): "
            f"{sample} — a duplicate copy in a file this range never "
            "touched (an earlier range's maintenance was skipped or its "
            "refusal overridden). The table is already corrupt; fix the "
            "ingest and rebuild the band table."
        )


#: shared duplicate-id refusal wording (the _check_unique_ids message,
#: kept verbatim so callers and tests match either gate site)
_DUP_IDS_MSG = (
    "{opname}: the delta re-uses doc ids (within itself or "
    "already in the maintained table) — ids must be unique "
    "across the table's life (duplicate rows silently inflate "
    "per-pair counts). Fix the ingest, or pass "
    "check_unique_ids=False if it guarantees uniqueness."
)


def _net_docs_and_markers(
    delta: DataFrame,
    old: DataFrame | None,
    scheme: _BandScheme,
    *,
    opname: str,
    final_docs: DataFrame | None = None,
    check_unique_ids: bool = True,
):
    """Delete-aware netting of the near-dup CDC step:
    returns ``(docs, markers)`` where docs are the genuinely-new rows
    to band (None if the range adds nothing bandable) and markers are
    tombstone rows in the band-table schema for net-deleted ids (None
    if no stored doc died). Enforces the delete contracts documented
    on ``incremental_lsh_pairs``: tombstoned ids stay reserved until
    compaction; rewrite-co-located survivors are verified band-exact
    against their stored rows (content IS the band key) and skipped;
    an in-range UPDATE refuses loudly.

    All range gates (NULL ids, within-range id uniqueness, the
    has-deletes probe) come out of ONE combined aggregation over the
    delta — they were previously four separate driver actions, each a
    full pass over the delta at a job-floor apiece (guide §1.2: fewer
    passes before per-task tuning). The aggregates are
    insert-conditioned, so the delete-bearing path gates the RAW
    insert rows exactly as before netting collapses anything (the
    groupBy/equi-joins in ``_net_delta`` silently drop NULL-id rows
    and merge cross-version duplicate inserts, so the same ingest bugs
    an append-only range refuses loudly would otherwise sail through a
    delete-bearing one; NULL-id DELETE rows need no gate — a NULL-id
    doc was never banded, so netting dropping its delete is the
    correct no-op)."""
    id_col = scheme.id_col
    probe = delta.agg(
        F.max(F.when(F.col("_change_type") == DELETE, F.lit(1))).alias("_hd"),
        F.count(F.when(F.col("_change_type") == INSERT, F.lit(1))).alias(
            "_rows"
        ),
        F.count(
            F.when(F.col("_change_type") == INSERT, F.col(id_col))
        ).alias("_n"),
        F.count_distinct(
            F.when(F.col("_change_type") == INSERT, F.col(id_col))
        ).alias("_nd"),
    ).collect()[0]
    has_del = probe["_hd"] is not None
    if int(probe["_rows"] or 0) != int(probe["_n"] or 0):
        raise ValueError(
            f"{opname}: the delta contains NULL {id_col} rows — NULL ids "
            "drop out of the maintainer's equi-joins silently. Fix the "
            "ingest."
        )
    if not has_del:
        # within-range uniqueness from the same combined agg; the
        # delete-bearing path keeps the live-multiplicity gate below
        # instead (raw-insert distinctness would wrongly refuse an
        # in-range insert -> delete -> reinsert churn that nets clean)
        if check_unique_ids and int(probe["_n"] or 0) != int(
            probe["_nd"] or 0
        ):
            raise ValueError(_DUP_IDS_MSG.format(opname=opname))
        docs0 = delta.drop("_change_type", "_commit_version")
        if check_unique_ids and old is not None:
            stored_hit = (
                old.where(F.col("band") == 0)
                .select(id_col)
                .join(docs0.select(id_col), id_col, "semi")
                .limit(1)
                .count()
            )
            if stored_hit > 0:
                raise ValueError(_DUP_IDS_MSG.format(opname=opname))
        if final_docs is not None:
            _verify_final_snapshot(
                final_docs, None, docs0.select(id_col), id_col, opname
            )
        return docs0, None
    # An id's FINAL live multiplicity in the docs table is the number
    # of its insert ROWS at versions >= its last delete (earlier
    # copies lived in files the deletes removed). >1 means the table
    # itself holds duplicate rows of the id — a rebuild would band
    # both and double every pair count, so refuse loudly. This
    # subsumes the plain double-append case (no delete -> every insert
    # row counts) AND the rewrite-plus-duplicate-append case (the
    # rewrite's surviving copy at v plus a dup append at v' > v).
    #
    # GATE ASSUMPTION (documented contract, round-8 advice): the gate
    # sees only the RANGE's rows, so a duplicate copy of an id parked
    # in an UNTOUCHED file from before `since` is invisible — if the
    # range deletes the other copy, the id nets to deleted here while
    # a live row remains. That state is reachable only after a PRIOR
    # maintenance call already violated the uniqueness contract (every
    # range is gated, so a dup copy can predate `since` only if its
    # own range refused-and-was-overridden or maintenance was skipped
    # for it). Closing it takes a final-snapshot read of the range's
    # ids — an O(corpus) scan on a path that is O(delta) by design —
    # to catch a corpus that is already corrupt; per-commit
    # maintenance (this module's contract) makes it unreachable.
    # Callers that can't guarantee the contract opt into that scan
    # with verify_snapshot=True (_verify_final_snapshot below).
    ins_raw = delta.where(F.col("_change_type") == INSERT)
    dv = delta.where(F.col("_change_type") == DELETE).groupBy(id_col).agg(
        F.max("_commit_version").alias("_maxdv")
    )
    mult = (
        ins_raw.join(dv, id_col, "left")
        .where(
            F.col("_maxdv").isNull()
            | (F.col("_commit_version") >= F.col("_maxdv"))
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_m"))
        .where(F.col("_m") > 1)
    )
    if mult.limit(1).count() > 0:
        raise ValueError(
            f"{opname}: the range leaves doc ids with MULTIPLE live "
            "rows (a duplicate append no delete supersedes) — ids must "
            "be unique across the table's life; a rebuild would band "
            "every copy and inflate pair counts. Fix the ingest."
        )
    net_deleted, docs = _net_delta(delta, id_col)
    if final_docs is not None:
        _verify_final_snapshot(
            final_docs,
            net_deleted.select(id_col),
            docs.select(id_col),
            id_col,
            opname,
        )
    # Flat barrier + fan-out on the netted docs: their lineage holds
    # joins, so spread() inside the downstream banding skips the
    # fan-out (its planning-cost trade) — and a scattered takedown's
    # delta reads from the FEW rewritten files, so survivor
    # re-verification would otherwise shingle/minhash a large survivor
    # set on 1-2 cores (measured at sf10: 443 s vs 40 s). The
    # checkpoint is delta-sized, and both the survivor semi-join and
    # the fresh-docs anti-join inherit the fanned partitioning through
    # their broadcast joins.
    from ..functions import checkpoint_spread

    docs = checkpoint_spread(docs)
    to_mark = None
    if old is not None:
        dead_prior = (
            old.where(F.col("band") == TOMBSTONE_BAND)
            .select(id_col)
            .distinct()
        )
        if docs.join(dead_prior, id_col, "semi").limit(1).count() > 0:
            raise ValueError(
                f"{opname}: the range re-inserts tombstoned doc ids — "
                "their stored rows are not purged yet; run "
                "compact_band_tombstones first (deleted ids stay "
                "reserved until compaction)"
            )
        stored_ids = old.where(F.col("band") == 0).select(id_col).distinct()
        survivors = docs.join(stored_ids, id_col, "semi")
        if survivors.limit(1).count() > 0:
            # both sides feed TWO exceptAll passes — materialize once
            # (the recomputed banding is the dominant cost of a
            # scattered takedown; re-deriving it doubles the step)
            surv = (
                scheme.band_rows(survivors)
                .select(id_col, *scheme.markers)
                .localCheckpoint(eager=True)
            )
            stored_surv = (
                old.where(F.col("band") >= 0)
                .join(survivors.select(id_col).distinct(), id_col, "semi")
                .select(id_col, *scheme.markers)
                .localCheckpoint(eager=True)
            )
            if (
                surv.exceptAll(stored_surv).limit(1).count() > 0
                or stored_surv.exceptAll(surv).limit(1).count() > 0
            ):
                raise ValueError(
                    f"{opname}: a net-present id's recomputed rows "
                    "differ from its stored rows — an in-range UPDATE. "
                    "Updated docs need their old pairs retracted: "
                    "rebuild, or delete then re-insert across separate "
                    "maintenance calls."
                )
            docs = docs.join(stored_ids, id_col, "left_anti")
        # markers only for ids that actually have stored rows to kill
        to_mark = net_deleted.join(stored_ids, id_col, "semi")
    markers = None
    if to_mark is not None and to_mark.limit(1).count() > 0:
        markers = to_mark.select(
            F.col(id_col),
            *[v.alias(c) for c, v in scheme.markers.items()],
            *scheme.meta_cols(),
        )
    if docs.limit(1).count() == 0:
        docs = None
    return docs, markers


def compact_band_tombstones(
    band_table: ManifestedTable,
    *,
    id_col: str = "doc_id",
    pairs_table: ManifestedTable | None = None,
    clusters_table: ManifestedTable | None = None,
    max_inline_ids: int = 10_000,
) -> int:
    """Physically purge tombstoned docs from a maintained LSH band or
    SimHash fingerprint table: one atomic overwrite keeping only live
    rows of live docs — the retention/takedown compaction the
    tombstone protocol defers to (markers keep maintenance O(delta);
    this rewrite is the amortized cleanup, the ``maintenance.py``
    partition-rewrite pattern applied to the whole index table).
    Frees the purged ids for re-insertion (the uniqueness gate reads
    stored band rows, and theirs are gone). Returns the number of
    tombstoned doc ids purged.

    ``pairs_table``: the streaming sinks ACCUMULATE a pairs table
    (id_a, id_b, ...) whose historical rows still reference dead docs
    after a takedown — pass it to purge those in the same call (one
    anti-join per side + one atomic overwrite, BEFORE the markers are
    dropped so a crash between the two rewrites re-purges instead of
    losing the marker set).

    ``clusters_table``: a maintained (node, component) assignment
    (``incremental_clusters`` over the sink's pairs) also still
    references dead docs — and deletions can SPLIT components, which
    no forward increment expresses. Pass it (requires ``pairs_table``
    — the edges drive the re-cluster) and the same call rewrites it
    via ``delete_from_clusters`` on the PRE-purge pairs snapshot,
    parity-pinned to a rebuild on the surviving corpus. Commit order:
    clusters -> pairs -> bands (markers dropped last), and every step
    is idempotent under its marker set, so a crash between any two
    overwrites re-runs to the same state instead of losing the
    protocol thread.

    Physical strategy (round 10): with at most ``max_inline_ids``
    tombstoned ids, the bands and pairs rewrites run FILE-GRANULAR
    via ``delete_where`` — every doomed row (markers included) carries
    a dead id, so one ``isin`` predicate dooms exactly the purge set
    and untouched files ride into the next manifest verbatim; the
    band-table detection pass additionally prunes on the dead-id
    RANGE via footer stats (the ids imply the bounds). Past the
    threshold (or when the clusters leg already rewrote state) the
    full-overwrite path stands — a corpus-wide takedown IS a rebuild.
    The localized case is the common one: takedown blast radius,
    not table size, bounds the rewrite."""
    v = band_table.current_version()
    cur = band_table.read(v) if v is not None else None
    if cur is None:
        return 0
    markers = cur.where(F.col("band") == TOMBSTONE_BAND).select(id_col).distinct()
    # marker count is takedown-sized; collect once, reuse for the
    # inline-predicate decision and the count returned
    dead_vals = [r[0] for r in markers.limit(max_inline_ids + 1).collect()]
    n = (
        len(dead_vals)
        if len(dead_vals) <= max_inline_ids
        else markers.count()
    )
    if n == 0:
        return 0
    inline = n <= max_inline_ids
    if clusters_table is not None:
        if pairs_table is None:
            raise ValueError(
                "compact_band_tombstones: clusters_table requires "
                "pairs_table — the accumulated edges drive the "
                "touched-component re-cluster"
            )
        cv = clusters_table.current_version()
        clusters = clusters_table.read(cv) if cv is not None else None
        if clusters is not None:
            from ..operators.dedup import delete_from_clusters

            pv0 = pairs_table.current_version()
            pairs0 = pairs_table.read(pv0) if pv0 is not None else None
            if pairs0 is None:
                # no retained edges at all: touched components have
                # nothing to re-cluster from, so their survivors drop
                # (the rebuild-on-no-edges answer)
                t = clusters.schema["node"].dataType.simpleString()
                pairs0 = clusters.sparkSession.createDataFrame(
                    [], f"id_a {t}, id_b {t}"
                )
            clusters_table.overwrite(
                delete_from_clusters(
                    clusters, pairs0, markers.select(F.col(id_col))
                ),
                expected_base=cv,
            )
    if pairs_table is not None:
        pv = pairs_table.current_version()
        pairs = pairs_table.read(pv) if pv is not None else None
        if pairs is not None:
            if inline:
                pairs_table.delete_where(
                    F.col("id_a").isin(dead_vals)
                    | F.col("id_b").isin(dead_vals)
                )
            else:
                dead_a = markers.select(F.col(id_col).alias("id_a"))
                dead_b = markers.select(F.col(id_col).alias("id_b"))
                pairs_table.overwrite(
                    pairs.join(dead_a, "id_a", "left_anti").join(
                        dead_b, "id_b", "left_anti"
                    ),
                    expected_base=pv,
                )
    if inline:
        # markers carry dead ids too, so one isin dooms the whole
        # purge set; the range prune is implied (every match is a
        # dead id) and skips files whose id bounds miss the set
        band_table.delete_where(
            F.col(id_col).isin(dead_vals),
            prune=[
                (id_col, ">=", min(dead_vals)),
                (id_col, "<=", max(dead_vals)),
            ],
        )
    else:
        live = cur.where(F.col("band") >= 0).join(markers, id_col, "left_anti")
        band_table.overwrite(live, expected_base=v)
    return n


def check_geometry(old: DataFrame | None, meta: dict, opname: str) -> None:
    """Geometry/hash-family refusal of the near-dup maintenance steps:
    keys of two different geometries live in disjoint spaces, so a
    mismatched maintenance call silently loses every cross pair —
    refuse loudly instead. ``meta`` maps the stored metadata columns to
    the values this call would write."""
    if old is None:
        return
    stored = old.select(*meta).limit(1).collect()
    if stored and stored[0].asDict() != meta:
        raise ValueError(
            f"{opname}: maintained-table geometry/family mismatch — "
            f"stored {stored[0].asDict()}, maintenance called with "
            f"{meta}; one geometry per table (rebuild to change it)"
        )


def _refuse_null_ids(docs: DataFrame, id_col: str, opname: str) -> None:
    """Unconditional NULL-id refusal (NOT behind check_unique_ids —
    NULL ids drop out of the maintainers' equi-joins silently, and
    count(id)/count_distinct(id) in the uniqueness gate both skip
    NULLs, so nothing downstream would ever notice). One cheap agg."""
    within = docs.agg(
        F.count(F.lit(1)).alias("rows"), F.count(id_col).alias("n")
    ).collect()[0]
    if int(within["rows"] or 0) != int(within["n"] or 0):
        raise ValueError(
            f"{opname}: the delta contains NULL {id_col} rows — NULL ids "
            "drop out of the maintainer's equi-joins silently. Fix the "
            "ingest."
        )


def _maintain(
    scheme: _BandScheme,
    opname: str,
    docs_table: ManifestedTable,
    band_table: ManifestedTable,
    since: int | None,
    *,
    check_unique_ids: bool,
    until: int | None,
    verify_snapshot: bool,
) -> DataFrame | None:
    """The CDC maintenance step of both near-dup maintainers: net the
    docs table's changes in ``(since, until]``, append the new docs'
    stored rows and the tombstones to ``band_table`` in one commit
    based on the version read, and join the rows read back from that
    commit against the stored rows."""
    id_col = scheme.id_col
    delta = table_changes(docs_table, since=since, until=until)
    if delta is None:
        return None
    v_prev = band_table.current_version()
    old = band_table.read(v_prev) if v_prev is not None else None
    check_geometry(old, scheme.meta, opname)
    final_docs = None
    if verify_snapshot:
        uv = until if until is not None else docs_table.current_version()
        final_docs = docs_table.read(uv).select(id_col)
    docs, markers = _net_docs_and_markers(
        delta, old, scheme,
        opname=opname,
        final_docs=final_docs,
        check_unique_ids=check_unique_ids,
    )
    if docs is None and markers is None:
        return None  # range netted to nothing bandable
    to_append = markers
    if docs is not None:
        to_append = scheme.stored(docs)
        if markers is not None:
            to_append = to_append.unionByName(markers)
    band_table.append(to_append, expected_base=v_prev)
    # Read the banding back from the files the commit just wrote: the
    # signature projection runs once, and both joins consume columnar
    # parquet instead of re-deriving the lineage per branch.
    fresh = table_changes(band_table, since=v_prev) if docs is not None else None
    if fresh is None:
        # a pure-removal range (markers only), or docs that all band to
        # nothing (shorter than shingle_k, tokenless) so the commit
        # named no new files: no new pairs, in the output schema
        return to_append.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).cast("long").alias(scheme.count_col),
        ).limit(0)
    return _band_pairs(scheme, fresh, old)


def _band_pairs(
    scheme: _BandScheme, delta: DataFrame, old: DataFrame | None
) -> DataFrame:
    """The band join of both near-dup maintainers: the delta's rows
    against themselves (``id_a < id_b``) and against the stored rows
    (ids ordered by ``least``/``greatest``), then ``scheme.finish``.

    Tombstone-aware: marker rows (``band == TOMBSTONE_BAND``) in either
    input name dead doc ids and both sides drop them, so a takedown
    stops pairing the moment its marker commits, with no physical
    rewrite on the hot path (that is ``compact_band_tombstones``' job).
    Tables with no markers pay one anti-join against an empty frame
    (AQE collapses it)."""
    id_col = scheme.id_col
    tomb = delta.where(F.col("band") == TOMBSTONE_BAND).select(id_col)
    if old is not None:
        tomb = tomb.unionByName(
            old.where(F.col("band") == TOMBSTONE_BAND).select(id_col)
        )
    cols = {"_id": id_col, "_b": "band", "_k": scheme.key}
    if scheme.fp is not None:
        cols["_fp"] = scheme.fp
    fp = ["_fp_x", "_fp_y"] if scheme.fp is not None else []

    def live(rows: DataFrame, tag: str) -> DataFrame:
        return (
            rows.where(F.col("band") >= 0)
            .join(tomb, id_col, "left_anti")
            .select(*[F.col(c).alias(n + tag) for n, c in cols.items()])
        )

    fresh = live(delta, "_x")
    same_band = (F.col("_b_x") == F.col("_b_y")) & (F.col("_k_x") == F.col("_k_y"))
    pairs = fresh.join(
        live(delta, "_y"), same_band & (F.col("_id_x") < F.col("_id_y"))
    ).select(F.col("_id_x").alias("id_a"), F.col("_id_y").alias("id_b"), *fp)
    if old is not None:
        cross = fresh.join(live(old, "_y"), same_band).select(
            F.least("_id_x", "_id_y").alias("id_a"),
            F.greatest("_id_x", "_id_y").alias("id_b"),
            *fp,
        )
        pairs = pairs.unionByName(cross)
    return scheme.finish(pairs)


def incremental_lsh_pairs(
    docs_table: ManifestedTable,
    band_table: ManifestedTable,
    since: int | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    portable_hash: bool,
    check_unique_ids: bool = True,
    until: int | None = None,
    verify_snapshot: bool = False,
) -> DataFrame | None:
    """Incremental MinHash/LSH near-dup maintenance: band ONLY the
    documents the commits in ``(since, until]`` added, fold their band
    rows into the materialized band table, and return the NEW candidate
    pairs — ``(id_a, id_b, n_shared_bands)`` for every pair with at
    least one delta member. The most common operation on a living
    corpus ("what does this ingest collide with?") at O(delta)
    signature cost instead of a full re-band: band keys are
    content-stable, so the delta-banding theorem is the same
    decomposability that makes ``incremental_kmv`` exact —
    pairs(old ∪ delta) = pairs(old) ∪ (delta × stored bands)
    ∪ (delta × delta), which the parity test pins against a
    from-scratch ``minhash_candidate_pairs`` on the unioned corpus.

    Execution shape: one pass over the DELTA docs computes signatures
    and band keys (the only shingle/minhash work anywhere); the band
    rows are committed to ``band_table`` (one atomic append) and read
    back from the just-written files, so the expensive projection is
    computed exactly once. The stored side of the pair join is a scan
    of three skinny columns (id, band, band_hash) equi-joined on
    (band, band_hash) — with an ingest-sized delta AQE broadcasts the
    delta bands, so the stored band table never shuffles and old text
    is never re-hashed. A huge delta degrades to a shuffle of the band
    table (still never the corpus).

    Contracts: one geometry and hash family per band table (constant
    metadata columns ride on every row; a mismatched maintenance call
    refuses loudly); ``id_col`` unique across the table's life
    (``check_unique_ids`` refuses a delta re-using stored ids — one
    cheap semi-join on the band-0 rows; disable only if ingest already
    guarantees it). ``portable_hash`` is REQUIRED, same doctrine as
    ``incremental_kmv``: a delta banded with the wrong family loses
    every cross pair with no error otherwise. The range gates are
    O(delta) and therefore blind to duplicate copies parked in files
    the range never touched (reachable only if an earlier range's
    maintenance was skipped or its refusal overridden);
    ``verify_snapshot=True`` closes that blind spot with one O(corpus)
    id-column scan cross-checking every range-touched id's live
    multiplicity in the final snapshot (0 for net-deleted, 1 for
    net-inserted) — opt in when the per-commit maintenance contract
    can't be guaranteed.

    Deletes (round 8): a range containing deletes is accepted when its
    per-id NET effect is a pure removal — the ``delete_where`` takedown
    flow. Net-deleted ids get a TOMBSTONE marker row (band = -1)
    appended with the delta's bands; pair emission anti-joins markers,
    so a dead doc stops pairing immediately, and
    ``compact_band_tombstones`` later purges its rows physically
    (until then the id stays reserved — re-inserting it refuses).
    Rows a file rewrite co-located with the doomed ones arrive as
    delete+insert of identical content; they are verified band-exact
    against their stored rows (content IS the band key, so this is
    O(rewritten rows), never the corpus) and skipped. A net-present id
    whose recomputed bands DIFFER from its stored rows is an in-range
    UPDATE — still refused loudly (an updated doc needs its old pairs
    retracted: rebuild, or delete-then-reinsert across separate
    maintenance calls).

    Bootstrap with ``since=None`` over the docs table's first commit(s)
    (the returned pairs are then the base corpus's own candidates);
    ``minhash_candidate_pairs``'s ``max_band_freq`` hot-band cap is a
    global property of the band distribution, so apply it at query
    time over the maintained table if needed — maintenance never drops
    rows. Returns None (and commits nothing) on an empty range.
    """
    return _maintain(
        _lsh_scheme(
            id_col, text_col, num_hashes, rows_per_band, shingle_k, portable_hash
        ),
        "incremental_lsh_pairs",
        docs_table,
        band_table,
        since,
        check_unique_ids=check_unique_ids,
        until=until,
        verify_snapshot=verify_snapshot,
    )


def pairs_from_bands(
    delta_bands: DataFrame,
    old_bands: DataFrame | None,
    id_col: str = "doc_id",
) -> DataFrame:
    """New MinHash-LSH candidate pairs ``(id_a, id_b, n_shared_bands)``
    of a delta's band rows against (optional) stored band rows:
    ``_band_pairs`` with the LSH scheme. Inputs need (id_col, band,
    band_hash); extra columns are ignored."""
    return _band_pairs(_lsh_scheme(id_col), delta_bands, old_bands)


def incremental_simhash_pairs(
    docs_table: ManifestedTable,
    fp_table: ManifestedTable,
    since: int | None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    check_unique_ids: bool = True,
    until: int | None = None,
    verify_snapshot: bool = False,
) -> DataFrame | None:
    """Incremental SimHash near-dup maintenance — the maintenance step
    of ``incremental_lsh_pairs`` with the SimHash scheme: fingerprint
    ONLY the delta docs, fold their banded fingerprint rows into the
    materialized ``fp_table``, and return the NEW pairs ``(id_a, id_b,
    hamming)`` with at least one delta member, refined to ``hamming <=
    max_hamming``. Fingerprints are content-stable pure functions of
    the text (md5 bit votes — no hash-family parameter to mismatch), so
    the same delta-banding theorem applies and the parity test pins
    maintenance == from-scratch ``simhash_candidate_pairs`` on the
    unioned corpus.

    Geometry rides as constant columns (``_bits``, ``_bands``) and a
    mismatched call refuses loudly; ``bands`` must divide ``bits``
    (refused before any table is read); ``max_hamming`` is a QUERY-TIME
    refinement (the stored rows carry full fingerprints), so it may
    vary call-to-call without a rebuild. Every other contract is
    ``incremental_lsh_pairs``': delete support (net-removal ranges
    tombstone the dead ids, rewrite survivors verify fingerprint-exact
    and skip, in-range updates refuse), ids unique across the table's
    life (``check_unique_ids``), ``verify_snapshot``, bootstrap with
    ``since=None``, ``None`` returned (nothing committed) on an empty
    range.

    Scale: the delta is the only text ever tokenized; the stored side
    is a 4-column scan (id, fp, band, band_val) equi-joined on
    (band, band_val) — AQE broadcasts an ingest-sized delta, the
    fingerprint table never shuffles.
    """
    return _maintain(
        _simhash_scheme(id_col, text_col, bits, bands, max_hamming),
        "incremental_simhash_pairs",
        docs_table,
        fp_table,
        since,
        check_unique_ids=check_unique_ids,
        until=until,
        verify_snapshot=verify_snapshot,
    )


def simhash_pairs_from_bands(
    delta_rows: DataFrame,
    old_rows: DataFrame | None,
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """New SimHash pairs ``(id_a, id_b, hamming)`` of a delta's banded
    fingerprint rows against (optional) stored rows: ``_band_pairs``
    with the SimHash scheme. Inputs need (id_col, simhash, band,
    band_val); extra columns are ignored."""
    return _band_pairs(
        _simhash_scheme(id_col, max_hamming=max_hamming), delta_rows, old_rows
    )
