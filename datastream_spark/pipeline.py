"""End-to-end corpus curation pipeline: the composition a training-data
team actually runs, wired from the individual operators (SURVEY.md
§2.10 X1–X7).

Stage order follows the standard funnel — cheap narrow filters first,
joins and near-dup mining only on survivors:

1. exact dedup         (lowest-id keeper per normalized text)
2. quality filter      (length/punct/stopword score >= min_quality)
3. decontamination     (drop docs sharing token n-grams with the eval set)
4. near-dup dedup      (MinHash-LSH pair mining + connected components,
                        lowest-id keeper per cluster)
5. weighted sampling   (optional: keep with probability = quality)

Every stage is one of the already-oracle-checked operators; the
pipeline adds ordering, plumbing, and a per-stage accounting report.
All decisions are content-stable (hashes, lowest-id keepers), so the
same corpus always curates to the same result on any engine, cluster
size, or re-run — the property that makes a 100 TB curation job
resumable and auditable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import checkpoint_spread, norm_text
from .operators import curation, dedup, textops
from .operators.sampling import weighted_sample

__all__ = ["CurationConfig", "curate_corpus"]


@dataclass
class CurationConfig:
    min_quality: float = 0.3
    decontaminate_ngram: int = 5
    near_dup_threshold: float = 0.6
    # "estimate" keeps the oracle-replayable signature-agreement
    # refinement (q_x24 pins it); "exact" verifies LSH candidates
    # against the true shingle sets — family-independent,
    # threshold-exact output, the recommended production setting
    # (see dedup.lsh_near_dup_pairs_exact for the measured gap).
    near_dup_refine: str = "estimate"
    minhash_signatures: int = 32
    lsh_bands: int = 8
    # deterministic hot-band bound for the LSH self-join (None = rely
    # on identical-signature collapse + AQE skew handling); see
    # dedup.minhash_candidate_pairs — over-cap buckets are logged.
    lsh_max_band_freq: int | None = None
    sample_by_quality: bool = False
    count_stages: bool = True
    # portable=True swaps the LSH signature family from salted
    # xxhash64 (the zero-shuffle production default) to the salted
    # md5-chunk family a DuckDB oracle can replay (ceil(n/4) digests
    # per shingle; cost split measured per-scale in SCALE.md §17);
    # only worth it when cross-engine verification of the whole
    # funnel is the point.
    portable: bool = False
    text_col: str = "text"
    id_col: str = "doc_id"
    extra: dict = field(default_factory=dict)


def curate_corpus(
    docs: DataFrame,
    eval_set: DataFrame | None = None,
    config: CurationConfig | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the curation funnel; returns ``(clean_docs, report)`` where
    ``report`` counts survivors after each stage (the accounting every
    data audit asks for).

    The counts force one action per stage boundary — acceptable for a
    batch curation job (each stage's output is the next stage's input
    anyway); pass-through laziness would just recompute the funnel once
    per downstream action instead.
    """
    cfg = config or CurationConfig()
    if cfg.near_dup_refine not in ("exact", "estimate"):
        # A typo here would silently run the family-dependent estimate
        # path — the exact mode's whole point is avoiding it. Validated
        # BEFORE any stage runs (the eager stage-3 barrier would
        # otherwise pay the whole narrow funnel just to raise).
        raise ValueError(
            f"near_dup_refine must be 'exact' or 'estimate', "
            f"got {cfg.near_dup_refine!r}"
        )
    id_col, text_col = cfg.id_col, cfg.text_col

    def stage(name, df):
        # per-stage counts are the audit trail; disable for a
        # single-action run when only the final frame matters
        if cfg.count_stages:
            report[name] = df.count()
        return df

    report: dict[str, int] = {}
    docs = stage("input", docs)

    # 1. exact dedup: keep the lowest id per normalized text.
    keeper = (
        docs.groupBy(norm_text(F.col(text_col)).alias("_norm"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # Barrier + fan-out after the first join (round-8 review):
    # spread() skips join-bearing lineages (its planning-cost trade),
    # so without this the quality/decontamination stages' gram hashing
    # would run at whatever partition count AQE left the semi-join —
    # possibly ONE for a broadcast-joined small corpus. The flat
    # LogicalRDD makes spread()'s probe cheap, and spreading HERE
    # hands every downstream stage a fanned-out base (no-op at scale:
    # a big corpus checkpoints as many partitions already).
    docs = stage(
        "exact_dedup",
        checkpoint_spread(docs.join(keeper, id_col, "left_semi")),
    )

    # 2. quality floor (stateless projection + filter). An input that
    # already carries a `quality` column would make the post-join
    # F.col("quality") ambiguous — the computed score wins (it is this
    # stage's contract), so drop the caller's column first.
    if "quality" in docs.columns:
        docs = docs.drop("quality")
    q = textops.quality_score(docs, text_col=text_col, id_col=id_col).select(
        id_col, "quality"
    )
    docs = stage(
        "quality_filter",
        docs.join(q, id_col).where(F.col("quality") >= cfg.min_quality),
    )

    # 3. decontamination against the held-out set (broadcast eval grams).
    if eval_set is not None:
        docs = stage(
            "decontaminated",
            curation.decontaminate_clean(
                docs,
                eval_set,
                n=cfg.decontaminate_ngram,
                text_col=text_col,
                id_col=id_col,
            ),
        )

    # 4. near-dup dedup: MinHash signatures -> banded LSH pair mining
    #    -> connected components -> lowest-id keeper per cluster
    #    (drop everyone else). Signature family per cfg.portable:
    #    xxhash64 (cheap, zero-shuffle) by default, the md5-derived
    #    DuckDB-replayable family when the run is being oracle-checked.
    #
    #    The survivors frame is consumed more than once (connected
    #    components runs an action on the pair set, the final output
    #    is another), AND — the round-8 root cause of q_x24's creep —
    #    every downstream `spread()` call pays a full physical-planning
    #    pass (`df.rdd`) over the whole stage-1-3 lineage, so the
    #    funnel's driver time grew with its plan depth, not its data.
    #    One localCheckpoint barrier materializes the (post-filter,
    #    small) survivor set, computes stages 1-3 exactly once, and
    #    hands every consumer a flat LogicalRDD. Measured A/B at sf0.1
    #    (rounds alternated, warm): 8.3-24.1 s without the barrier vs
    #    4.7-6.1 s with it. (An earlier round measured the opposite on
    #    a then-shallow plan — the decontamination stage has since
    #    deepened the lineage past the break-even.)
    docs = docs.localCheckpoint(eager=True)
    if cfg.near_dup_refine == "exact":
        # LSH generates candidates, the TRUE shingle sets verify them:
        # output is family-independent and threshold-exact. Measured
        # at sf1/J>=0.85 (round 6): the estimate path's 32-hash
        # jaccard_est emitted 5-47x the true pair count (false
        # positives from estimator variance over the borderline mass);
        # exact refine returned 2,645 of 2,646 true pairs, zero false.
        pairs = dedup.lsh_near_dup_pairs_exact(
            docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=cfg.minhash_signatures,
            min_jaccard=cfg.near_dup_threshold,
            rows_per_band=max(1, cfg.minhash_signatures // cfg.lsh_bands),
            max_band_freq=cfg.lsh_max_band_freq,
        ).select("id_a", "id_b")
    else:
        sigs = dedup.minhash_signature_arrays(
            docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=cfg.minhash_signatures,
            portable_hash=cfg.portable,
        )
        pairs = dedup.minhash_near_dup_pairs(
            sigs,
            id_col=id_col,
            rows_per_band=max(1, cfg.minhash_signatures // cfg.lsh_bands),
            num_hashes=cfg.minhash_signatures,
            min_jaccard=cfg.near_dup_threshold,
            max_band_freq=cfg.lsh_max_band_freq,
        ).select("id_a", "id_b")
    clusters = dedup.connected_components(pairs)  # (node, component)
    dropped = clusters.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    docs = stage("near_dup_dedup", docs.join(dropped, id_col, "left_anti"))

    # 5. optional quality-weighted downsampling.
    if cfg.sample_by_quality:
        docs = stage("weighted_sample", weighted_sample(docs, id_col, F.col("quality")))

    return docs.drop("quality"), report
