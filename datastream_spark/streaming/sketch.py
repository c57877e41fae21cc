"""Streaming sketches: the continuous-ingest counterparts of the
mergeable approximate aggregates (operators/cms.py, the HLL ladder).

The count-min build is a pure groupBy aggregation whose state is
bounded at depth*width cells BY CONSTRUCTION — not by a watermark.
That makes it the rare aggregation where COMPLETE output mode is the
right doctrine: the state store holds ≤ depth*width rows no matter how
many events stream through, and every trigger can re-emit the whole
current sketch for pennies. (Contrast the rollup streams, where state
is O(open buckets) and the finalized-bucket/APPEND discipline exists
to bound it — a sketch needs no such discipline.)

Batch and streaming share one cell-projection + aggregation definition
(``operators.cms.cms_sketch`` runs unchanged on a streaming frame);
the wrapper here exists to carry the output-mode doctrine and keep the
streaming surface discoverable in one package. Parity (streamed sketch
== batch sketch of the same rows, cell-exact) is pinned by test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.cms import cms_sketch


def streaming_cms_sketch(
    stream: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
    portable: bool = False,
) -> DataFrame:
    """Running count-min sketch over a stream: (d, w, cnt) rows that
    always reflect every event seen so far. Write with
    ``outputMode("complete")`` — the result is ≤ depth*width rows, so
    complete mode costs a constant re-emit per trigger and downstream
    consumers (``cms_estimate``, ``cms_merge`` against other shards)
    read the sink as a plain bounded table. No watermark is needed:
    late events are simply counted when they arrive, exactly as the
    batch build would count them."""
    return cms_sketch(stream, key_col, depth=depth, width=width, portable=portable)


def streaming_value_histogram(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Running fixed-width histogram over a stream — the continuous
    side of drift monitoring (operators/drift.py): state is bounded at
    ``n_bins`` rows BY CONSTRUCTION, so like the count-min sketch this
    is a COMPLETE-mode aggregation with constant re-emit cost and no
    watermark doctrine (late values land in their bin whenever they
    arrive, exactly as the batch build counts them). Feed each emitted
    snapshot to ``psi_drift`` against a pinned reference histogram for
    a live drift score over the whole stream history; for windowed
    drift, bucket upstream and group on (window, bin) instead."""
    from ..operators.drift import value_histogram

    return value_histogram(stream, value_col, lo, hi, n_bins)


def streaming_psi_drift(
    stream: DataFrame,
    value_col: str,
    ref_hist: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 20,
    eps: float = 1e-6,
) -> DataFrame:
    """Live PSI drift of a stream against a PINNED reference
    distribution: a single-row frame (psi, n_bins_used, n_cur) that
    re-emits the score over everything seen so far on each trigger.

    Streaming posture: ``psi_drift`` itself cannot run inside a stream
    (histogram agg -> re-group -> totals agg -> join is three stateful
    operators), so the twin refactors the arithmetic into ONE stateful
    aggregation — per-bin conditional counts, state bounded at
    ``n_bins`` counters BY CONSTRUCTION (complete mode, no watermark,
    same doctrine as the count-min sketch above) — followed by a
    stateless projection. The reference histogram is collected driver-
    side (<= n_bins rows, bounded control plane) and folded in as
    literals, which is what makes the projection stateless.

    ``ref_hist`` is a batch ``value_histogram`` output over the pinned
    reference snapshot, binned with the SAME (lo, hi, n_bins). Bins
    empty on both sides are excluded from psi and n_bins_used, and
    one-sided bins use the epsilon floor — bin-for-bin the batch
    ``psi_drift`` semantics, parity-tested to float tolerance. Also
    runs unchanged on a batch frame (agg is mode-agnostic), which the
    parity test exploits.
    """
    if not (hi > lo) or n_bins < 1:
        raise ValueError("need hi > lo and n_bins >= 1")
    ref_counts = {int(r["bin"]): int(r["n"]) for r in ref_hist.collect()}
    t_ref = float(sum(ref_counts.values()))
    if t_ref <= 0:
        raise ValueError("reference histogram is empty — nothing to drift from")
    w = (hi - lo) / n_bins
    v = F.col(value_col)
    b = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / w), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("int")
    counts = stream.where(v.isNotNull()).agg(
        *[
            F.count(F.when(b == i, F.lit(1))).alias(f"_b{i}")
            for i in range(n_bins)
        ]
    )
    t_cur = sum((F.col(f"_b{i}") for i in range(n_bins)), F.lit(0).cast("long"))
    counts = counts.withColumn("_t_cur", t_cur)

    def _contrib(i: int):
        n_ref = ref_counts.get(i, 0)
        n_cur = F.col(f"_b{i}")
        p_ref = F.greatest(F.lit(n_ref / t_ref), F.lit(eps))
        p_cur = F.greatest(n_cur / F.col("_t_cur"), F.lit(eps))
        c = (p_ref - p_cur) * F.log(p_ref / p_cur)
        used = (n_cur > 0) if n_ref == 0 else F.lit(True)
        return F.when(used, c).otherwise(F.lit(0.0)), used.cast("int")

    contribs, used_flags = zip(*(_contrib(i) for i in range(n_bins)))
    psi_col = sum(contribs[1:], contribs[0])
    used_col = sum(used_flags[1:], used_flags[0])
    return counts.select(
        F.when(F.col("_t_cur") > 0, psi_col).alias("psi"),
        F.when(F.col("_t_cur") > 0, used_col).cast("long").alias("n_bins_used"),
        F.col("_t_cur").alias("n_cur"),
    )


def kmv_foreach_batch_sink(
    table,
    group_col: str,
    element,
    k: int = 256,
    *,
    portable: bool,
):
    """JVM-tier streaming KMV maintenance: a ``foreachBatch`` callable
    that folds each micro-batch into a sketch held in a
    ``ManifestedTable`` — the throughput path next to the
    ``applyInPandasWithState`` twin below (round-6 measurement: the
    Python-state machine runs at ~36k rows/s vs ~113k for the JVM-agg
    quality twin; this sink keeps the whole batch on the JVM).

    Streaming window functions are not allowed inside a streaming
    query, but ``foreachBatch`` hands each micro-batch over as a BATCH
    frame — so the per-batch sketch is the batch ``kmv_sketch``
    itself (map-side-bounded WindowGroupLimit shape), merged with the
    stored sketch by ``kmv_merge`` (bounded at groups*k rows) and
    written back as one atomic commit. Replay-safe WITHOUT tracking
    batch ids: min-k merge is idempotent (a re-delivered batch's
    hashes are already in the stored min-k set or above its theta), so
    at-least-once delivery yields the exact sketch. Single maintainer
    per table (the usual foreachBatch discipline); consumers read the
    table's latest snapshot and hand it to ``kmv_estimate`` /
    ``kmv_merge`` / ``kmv_pair_overlap``.

    Use: ``stream.writeStream.foreachBatch(
    kmv_foreach_batch_sink(table, "user_id", F.col("page"),
    portable=False)).start()``. Parity with the batch build is pinned
    by test; throughput measured in SCALE.md §13b.
    """
    from ..operators.kmv import kmv_merge, kmv_sketch

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no version churn for an empty trigger
        src = batch_df.select(
            F.col(group_col).cast("string").alias("group"),
            element.alias("_e"),
        )
        delta = kmv_sketch(src, ["group"], F.col("_e"), k=k, portable=portable)
        prior = table.read()
        pooled = (
            delta
            if prior is None
            else prior.select("group", "h").unionByName(delta)
        )
        table.overwrite(kmv_merge(pooled, ["group"], k=k))

    return fold


KMV_OUT_SCHEMA = "group string, ver long, h long"
KMV_STATE_SCHEMA = "ver long, hashes array<long>"


def streaming_kmv_sketch(
    stream: DataFrame,
    group_col,
    element,
    k: int = 256,
    *,
    portable: bool,
) -> DataFrame:
    """Running KMV/theta sketch over a stream (the continuous twin of
    ``operators.kmv.kmv_sketch``): per-group state is the k smallest
    distinct element hashes — bounded at ``k`` longs per group BY
    CONSTRUCTION, like the count-min cells, but the build needs a
    rank-filter no streaming aggregation expresses, so this is an
    ``applyInPandasWithState`` machine rather than a complete-mode agg.

    Emission doctrine (append mode over a changing set): whenever a
    micro-batch CHANGES a group's sketch, the group's full current
    sketch re-emits under an incremented ``ver``; consumers read
    "rows at the group's max ver" as the current sketch and hand them
    straight to ``kmv_estimate`` / ``kmv_pair_overlap`` /
    ``kmv_merge``. Unchanged groups emit nothing, so steady-state
    output cost is proportional to drift, not to group count.

    Hashing runs JVM-side in the stream projection (``kmv_hash``);
    only the ≤k-row-per-group state maintenance crosses into Python,
    Arrow-batched. No watermark: a late element either enters the
    bottom-k or is ignored, exactly as the batch build would treat it.

    ``portable`` is REQUIRED (no default) for the same reason as
    ``incremental_kmv``: sketches that will be merged with batch-built
    ones (``kmv_merge``) must share one hash family, and a silently
    mismatched default corrupts estimates undetectably.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.kmv import kmv_hash

    # NULL elements carry no identity (batch-twin doctrine: a NULL
    # hash would arrive as NaN in the Arrow batch and crash the int
    # conversion) — drop them JVM-side before the state machine.
    hashed = stream.select(
        F.col(group_col).cast("string").alias("group"),
        kmv_hash(element, portable).alias("h"),
    ).where(F.col("h").isNotNull())

    def fn(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        incoming: set[int] = set()
        for p in pdfs:
            if not p.empty:
                incoming.update(int(x) for x in p["h"].dropna())
        if not incoming:
            return
        if state.exists:
            ver, hashes = state.get
            cur = [int(x) for x in hashes]
        else:
            ver, cur = 0, []
        pool = sorted(set(cur) | incoming)[: int(k)]
        if pool != cur:
            ver += 1
            state.update((ver, pool))
            yield pd.DataFrame(
                {
                    "group": key_tuple[0],
                    "ver": ver,
                    "h": pd.array(pool, dtype="int64"),
                }
            )

    return hashed.groupBy("group").applyInPandasWithState(
        fn,
        outputStructType=KMV_OUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
