#!/usr/bin/env python
"""Physical-plan audit: assert the probes compile to the plans a 100 TB
deployment needs — filters reaching the parquet scan, projections pruned
to the read schema, small dimensions broadcast, aggregates map-side
partial, top-k as TakeOrdered, no accidental cartesian products.

Usage: python tools/plan_audit.py [probe ...]   (default: the audited set)
Exit 0 = every expectation holds. The audit reads the FORMATTED explain
output, i.e. exactly what `.explain("formatted")` shows a human.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datastream_spark import probes, probes_llm  # noqa: E402
from datastream_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Probes whose expectation can only be read off the FINAL adaptive
#: plan (e.g. runtime exchange reuse) — executed before explaining.
EXECUTE_FIRST = {"q_st5_concurrency"}

#: probe -> (must_contain, must_not_contain) substrings of the formatted plan.
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    # Range scan: time predicate must reach the parquet reader, and the
    # scan must not read columns the query doesn't touch.
    "q_p1_range_scan": (["PushedFilters: [IsNotNull(ts)"], ["CartesianProduct"]),
    # Rollup: two-phase hash aggregation (partial_ merge-forms map-side).
    "q_a1_rollup_10s": (["HashAggregate", "partial_"], ["Exchange rangepartitioning"]),
    # 5-table TPC-H-ish join: every dimension joins as broadcast, the
    # region filter is pushed to its scan.
    "q_j2_tpch_join": (
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull(r_name)"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Semi/anti surface compiles to broadcast semi joins here.
    "q_j4_semi_anti": (["LeftSemi", "LeftAnti"], ["CartesianProduct"]),
    # Top-k compiles to TakeOrderedAndProject, not global sort.
    "q_o1_topk": (["TakeOrderedAndProject"], ["Exchange rangepartitioning"]),
    # Per-stream windows sort WITHIN hash partitions - no global range
    # exchange on the data path.
    "q_w2_derivative": (["Window", "hashpartitioning"], ["rangepartitioning"]),
    # Tag predicates: a JSON-path filter is not parquet-pushable by
    # nature; require instead that the scan is pruned to the touched
    # columns and the filter runs inside a codegen span.
    "q_p2_tag_predicates": (
        ["ReadSchema: struct<event_id:bigint,user_id:bigint,props:string>",
         "Filter [codegen id"],
        ["CartesianProduct"],
    ),
    # Dedup accounting keeps two-phase aggregation.
    "q_x1_exact_dedup": (["partial_count"], ["CartesianProduct"]),
    # Count-min heavy hitters: sketch build is map-side partial, the
    # depth*width-cell sketch joins BROADCAST against candidates, and
    # nothing degenerates to a cartesian or sort-merge join. (The
    # 1-row total crossJoin compiles to a bounded broadcast NLJ —
    # allowed; an unbounded CartesianProduct is not.)
    "q_e3_cms_heavy_hitters": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Split assignment is a pure scan-side projection: the CASE over
    # the content hash codegens into the scan stage — no shuffle of
    # any kind may appear.
    "q_x29_split_assignment": (
        ["CASE WHEN"],
        ["Exchange", "CartesianProduct"],
    ),
    # Hybrid RRF: both retrieval lists are bounded heaps (TakeOrdered),
    # the fusion agg is two-phase (partial_sum map-side); the corpus is
    # never globally sorted or cartesian-joined. (The one
    # SinglePartition exchange feeds the rank window over the <= m
    # already-selected rows — bounded by construction.)
    "q_x30_hybrid_rrf": (
        ["TakeOrderedAndProject", "partial_sum"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Funnel: each step is a user-keyed min-agg (map-side partial)
    # feeding a hash join — never a cartesian; the event stream is
    # never window-sorted.
    "q_fu1_funnel": (
        ["partial_min"],
        ["CartesianProduct", "Window"],
    ),
    # Retention: the stream collapses to distinct (user, period)
    # before the join; cohort agg is two-phase; no window, no
    # cartesian.
    "q_fu2_retention": (
        ["partial_min", "HashAggregate"],
        ["CartesianProduct", "Window"],
    ),
    # Journey paths: the rank window sorts within the user's hash
    # partition (never a global range sort); counts are two-phase.
    "q_fu3_paths": (
        ["hashpartitioning", "partial_count"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Z-order values are one codegen'd projection over the scan: the
    # Morton interleave never shuffles (the clustered WRITE pays its
    # one range exchange, but computing the key is free).
    "q_z1_zorder_values": (
        ["Project"],
        ["Exchange", "CartesianProduct"],
    ),
    # Mixture planning: the only data-proportional work is one
    # two-phase agg over the corpus; the group-level plan broadcasts
    # back into the keep filter — no sort, no cartesian.
    "q_x25_mixture_plan": (
        ["HashAggregate", "partial_", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # URL canonicalization is a pure projection over a pruned scan:
    # no exchange anywhere in the plan.
    "q_x26_url_canonical": (
        ["ReadSchema: struct<doc_id:bigint,source:string>"],
        ["Exchange", "CartesianProduct"],
    ),
    # As-of directions: union + window inside hashpartitioning on the
    # join key — never a range join or nested-loop product, and every
    # frame is a RUNNING frame (forward/nearest ride a reversed sort;
    # an unbounded-following frame is O(rows^2) per key — round 5).
    "q_j8_asof_directions": (
        ["Window", "hashpartitioning"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "rangepartitioning",
         "unboundedfollowing"],
    ),
    # Gap filling: grid generation is a narrow explode; fills are
    # RUNNING-frame windows inside the key's hash partitions (the
    # next-observation lookup rides a reversed sort — round 5).
    "q_a8_gap_fill": (
        ["Generate", "Window", "hashpartitioning"],
        ["CartesianProduct", "rangepartitioning", "unboundedfollowing"],
    ),
    # Time-weighted average: one lag window + narrow segment explode +
    # two-phase hash agg; user_id filter pushed to the scan.
    "q_a9_time_weighted_avg": (
        ["Window", "Generate", "partial_",
         "PushedFilters: [IsNotNull(user_id)"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Counter increase: lag window + two-phase agg, no global sort.
    "q_w7_counter_increase": (
        ["Window", "hashpartitioning", "partial_"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Seasonal z-scores: two two-phase aggs + an equi-join back on
    # (key, slot) — no window, no global sort, no cartesian.
    "q_a10_seasonal_zscore": (
        ["HashAggregate", "partial_", "Join"],
        ["CartesianProduct", "rangepartitioning", "Window"],
    ),
    # Binned range join compiles to a real equi-join on the bin key —
    # never the nested-loop product Spark gives a raw inequality join.
    "q_j5_range_join": (
        ["Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Deterministic sampling is one codegen'd filter over a 2-column scan.
    "q_x11_stratified_sample": (
        ["ReadSchema: struct<doc_id:bigint,lang:string>", "Filter [codegen id"],
        ["Exchange"],
    ),
    # Pivot stays a single two-phase hash aggregation.
    "q_g2_pivot": (["HashAggregate", "partial_"], ["Expand"]),
    # Cascade: merge-form rollup levels are two-phase aggs; no range
    # exchange anywhere on the ladder.
    "q_a2_cascade_minutes": (
        ["HashAggregate", "partial_"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # Sessionization: both windows (gap flag + session id) share one
    # hash exchange; no global sort.
    "q_st2_sessions": (["Window", "hashpartitioning"], ["rangepartitioning"]),
    # Cosine top-k: per-query rank limit pushes down as
    # WindowGroupLimit (partial top-k before the shuffle); the
    # broadcast NLJ is the intended query-set broadcast.
    "q_x3_cosine_topk": (
        ["WindowGroupLimit", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin"],
    ),
    # Grouping sets: one Expand feeding one two-phase aggregation.
    "q_g1_grouping_sets": (["Expand", "partial_"], ["CartesianProduct"]),
    # Repetition stats: explode then two two-phase hash aggs — no
    # windows, no range exchange anywhere.
    "q_x12_repetition": (
        ["Generate", "partial_"],
        ["rangepartitioning", "CartesianProduct", "Window"],
    ),
    # Source quota: rank filter compiles to two-phase WindowGroupLimit
    # (partial per-partition top-k BEFORE the exchange).
    "q_x13_source_quota": (
        ["WindowGroupLimit", "hashpartitioning"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # Decontamination: raw train grams hit the broadcast test-gram set
    # BEFORE any dedup shuffle — broadcast hash join, never sort-merge.
    "q_x14_decontaminate": (
        ["BroadcastHashJoin", "Generate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # Chunking: narrow generate, no exchange anywhere.
    "q_x16_chunking": (["Generate"], ["Exchange", "CartesianProduct"]),
    # Redaction: one projection over the scan, no exchange.
    "q_x17_redaction": (["Project"], ["Exchange", "Generate"]),
    # Token packing: one prefix-sum window per shard partition.
    "q_x15_token_packing": (
        ["Window", "hashpartitioning"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # Rollup routing: every ladder level and the final merge are
    # two-phase hash aggs; the union of segments must not introduce a
    # range exchange or join anywhere.
    "q_a5_rollup_route": (
        ["Union", "HashAggregate", "partial_"],
        ["rangepartitioning", "CartesianProduct", "Join"],
    ),
    # Span dedup: keeper selection is a map-side-combined min(struct)
    # aggregation; reassembly sorts in-array — no window, no range
    # exchange, no join-back of the span stream.
    "q_x18_span_dedup": (
        ["Generate", "partial_min", "array_sort"],
        ["Window", "rangepartitioning", "CartesianProduct"],
    ),
    # Bloom decontamination, JVM-side end to end: the one-row bitmap
    # rides a broadcast nested-loop join whose condition is the k-probe
    # membership test, survivors verify through a broadcast hash join,
    # and no Python evaluation node is left in the plan.
    "q_x19_decontaminate_bloom": (
        ["BroadcastNestedLoopJoin Inner BuildRight", "shiftright(element_at(",
         "BroadcastHashJoin"],
        ["ArrowEvalPython", "BatchEvalPython", "SortMergeJoin", "CartesianProduct"],
    ),
    # LM scoring: vocabulary-bounded count tables join back as
    # broadcasts; one final per-doc two-phase agg, no windows.
    "q_x20_lm_score": (
        ["BroadcastHashJoin", "partial_"],
        ["SortMergeJoin", "Window", "CartesianProduct"],
    ),
    # Semantic dedup: per-cell pair scoring is ONE grouped-Arrow gemm
    # (FlatMapGroupsInPandas); the anchor assignment broadcasts 16
    # centroids — no unbounded product anywhere.
    "q_x21_semantic_dedup": (
        ["FlatMapGroupsInPandas"],
        ["CartesianProduct"],
    ),
    # Capped semantic dedup: the chunk split (one cell-keyed window
    # pass) materializes BEHIND the localCheckpoint barrier, so the
    # final plan is the grouped-Arrow gemm + keeper join over a flat
    # LogicalRDD — still no unbounded product anywhere.
    "q_x21b_semantic_dedup_capped": (
        ["FlatMapGroupsInPandas", "Scan ExistingRDD"],
        ["CartesianProduct"],
    ),
    # Delete-aware cluster maintenance: the re-cluster runs driver-path
    # at this scale, so the final plan is clusters (LogicalRDD) minus
    # the touched components union the relabeled rows. The dead-node
    # semi join broadcasts; the touched-component anti join plans as
    # SMJ statically (both sides UnknownPartitioning) and AQE converts
    # it to broadcast at runtime for localized takedowns — SMJ is the
    # correct unbounded-takedown fallback, so it is NOT banned here.
    "q_x10b_cluster_takedown": (
        ["Scan ExistingRDD", "BroadcastHashJoin LeftSemi"],
        ["CartesianProduct"],
    ),
    # Weighted sampling: one codegen'd filter over a 2-column scan —
    # no shuffle, no explode.
    "q_x22_weighted_sample": (
        ["ReadSchema: struct<doc_id:bigint,text:string>", "Filter"],
        ["Exchange", "Generate", "Join"],
    ),
    # Correlated scalar subquery: Catalyst decorrelates to aggregate +
    # equi-join — never a per-row re-execution or nested loop.
    "q_j6_correlated_subquery": (
        ["HashAggregate", "Join"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Unpivot: stack() is a narrow Generate over the pivot's two-phase
    # aggregation output.
    "q_g3_unpivot": (
        ["Generate", "partial_"],
        ["CartesianProduct", "Window"],
    ),
    # Salted join: still a broadcast hash join on (key, salt) — the
    # salt must not force a sort-merge path or a product.
    "q_j7_salted_join": (
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # Custom downsampler riding the cascade: still two-phase hash aggs
    # end to end, no range exchange.
    "q_a6_custom_downsampler": (
        ["HashAggregate", "partial_"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # Histogram sketch: the count-array aggregate is still a two-phase
    # hash agg through the cascade; the quantile projection is the
    # long-form window cumulative — sorted INSIDE the existing hash
    # partitioning (≤ n_bins rows per group), never a global range
    # sort.
    "q_a7_histogram_percentiles": (
        ["HashAggregate", "partial_", "hashpartitioning"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # Native session windows: Spark plans session aggregation over a
    # hash exchange on the grouping key, never a global range sort.
    "q_st4_native_sessions": (
        ["hashpartitioning"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    # PQ ADC top-k: the shortlist row_number compiles to two-phase
    # WindowGroupLimit (each partition forwards <= n_short rows per
    # query), re-rank joins broadcast — never a sort-merge or an
    # unbounded product.
    "q_x3f_pq_adc": (
        ["WindowGroupLimit", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # SimHash banded pairs (60-bit/15-bit round-5 form): bit-vote
    # fingerprints are two-phase hash aggs computed at construction
    # (the r10 checkpoint reuse truncates them out of the returned
    # plan — Scan ExistingRDD); the returned plan must still show the
    # banded self-join as a broadcast join plus the hash-partitioned
    # pair dedup — no product, no range exchange.
    "q_x5b_simhash_pairs": (
        ["hashpartitioning", "BroadcastHashJoin"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # CDC feed: the (since, until] scan reads ONLY delta files — no
    # join, no shuffle at all; the plan is scan+project per commit
    # batch unioned.
    "q_c1_table_changes": (
        ["Scan parquet"],
        ["CartesianProduct", "Exchange rangepartitioning"],
    ),
    # Incremental rollup merge: delta scan + two two-phase hash aggs
    # (raw forms on the delta, merge forms on the union) — never a
    # global range exchange.
    "q_c2_incremental_rollup": (
        ["HashAggregate", "partial_"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Fuzzy ER: every join is a hash join keyed on block/string keys;
    # the hot-block cap and distinct-collapse keep the product
    # bounded — no cartesian, no sort-merge on the match path.
    "q_x31_fuzzy_match": (
        ["hashpartitioning"],
        ["CartesianProduct"],
    ),
    # Triangle counting: degree-oriented wedge join — hash joins +
    # two-phase aggs only; the semi-join closure must stay a hash
    # semi-join, never a product.
    "q_gr3_triangles": (
        ["LeftSemi", "partial_count"],
        ["CartesianProduct"],
    ),
    # Seasonal decomposition: windows sort WITHIN hash partitions
    # keyed by series; the seasonal index joins back broadcast.
    "q_a15_decompose": (
        ["Window", "hashpartitioning", "BroadcastHashJoin"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Association rules: distinct-collapse then hash join on basket;
    # supports and totals broadcast — the single-row total must ride
    # a broadcast, never an unbounded product.
    "q_fq1_association_rules": (
        ["BroadcastHashJoin", "partial_count"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Rolling autocorr: ONE Window node computes every moment sum
    # (shared frame), in-partition sort only.
    "q_w9_rolling_autocorr": (
        ["Window", "hashpartitioning"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Profiling: a union of COLUMN-PRUNED single-distinct aggregation
    # passes (disjoint byte ranges on columnar storage ~= one scan) —
    # the multi-distinct Expand plan (row multiplication + sort aggs)
    # must NOT appear, and there is no join anywhere.
    "q_x32_profile": (
        ["Union", "HashAggregate"],
        ["CartesianProduct", "Join", "Expand"],
    ),
    # PSI drift: each side collapses to <= n_bins rows map-side; the
    # bin align and total ride broadcast joins (the 1-row totals
    # crossJoin compiles to a bounded broadcast NLJ — allowed).
    "q_x33_psi_drift": (
        ["HashAggregate", "partial_count"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Calibration: one Window per source partition + a |sources|-row
    # broadcast of the moment aggregates.
    "q_x34_score_calibration": (
        ["Window", "hashpartitioning", "BroadcastHashJoin"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Any-order funnel: ONE conditional min-agg, two-phase, no join
    # at all (the ordered funnel pays k-1 joins; this must not).
    "q_fu4_anyorder_funnel": (
        ["HashAggregate", "partial_min"],
        ["Join", "CartesianProduct"],
    ),
    # Novelty: reference distinct-set + one shuffle keyed on shingle;
    # the final doc-id align joins hash, nothing degenerates.
    "q_x35_ngram_novelty": (
        ["HashAggregate", "hashpartitioning"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # KMV/theta sketch: the rank<=k filter MUST compile to map-side
    # WindowGroupLimit (each map task emits <= k rows per group
    # pre-shuffle); the pair matrix is a bounded broadcast NLJ over
    # one-row-per-group frames (allowed); no sort-merge anywhere.
    # (the WindowGroupLimit bottom-k and the sketch HashAggregates
    # run at construction since the r10 checkpoint fusion — the
    # returned plan reads the one-row-per-group sketch frame as a
    # Scan ExistingRDD and must keep the pair matrix a bounded
    # broadcast NLJ; no product, no sort-merge.)
    "q_e4_theta_sketch": (
        ["BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Rolling OLS slope: same shape contract as q_w9 — ONE Window
    # node for every moment sum, in-partition sort only.
    "q_w10_rolling_slope": (
        ["Window", "hashpartitioning"],
        ["CartesianProduct", "rangepartitioning"],
    ),
    # Concurrency sweep-line: ONE fact pass (Generate emits both
    # boundary rows — a union of selects would re-run the sessionize
    # window per branch), two-phase boundary aggregation; since round
    # 10 the running sum is RANGE-PARTITIONED (per-range local sweep
    # + broadcast prefix offsets, VERDICT r9 #5) — the plan must show
    # the range exchange, the exchange REUSE both branches depend on
    # for consistent partition ids, and the offsets riding a
    # broadcast join; the only remaining Window.orderBy sweep is over
    # the <= range_partitions totals rows.
    "q_st5_concurrency": (
        ["Generate", "HashAggregate", "partial_", "rangepartitioning",
         "ReusedExchange", "BroadcastHashJoin"],
        ["CartesianProduct", "Union"],
    ),
    # DSIR: the lambda-table joins BROADCAST into the doc-bucket
    # frame (never a fact-fact SMJ); top-k selection compiles to
    # TakeOrderedAndProject (bounded per-task heaps, no global
    # sort); the 1-row model totals ride bounded NLJs.
    "q_x36_dsir": (
        ["BroadcastHashJoin", "TakeOrderedAndProject", "partial_"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # Bottom-k quantiles (round-7 prefilter shape): the guarded
    # threshold prefilter makes the sample EAGER — the probe's final
    # plan consumes the checkpointed (bounded, <= groups*k rows)
    # sample via one ExistingRDD scan and a two-phase collect agg;
    # the rank/WindowGroupLimit ran inside the eager job, and the
    # fact table must NOT be rescanned here. (The WindowGroupLimit
    # rewrite itself stays pinned by the kmv_sketch plan via q_e4.)
    "q_e5_bottomk_quantiles": (
        ["Scan ExistingRDD", "partial_collect_list"],
        ["Join", "CartesianProduct", "Scan parquet"],
    ),
    # Holt fold: one two-phase agg to per-key arrays + a scalar
    # aggregate projection — NO window node, no join, no sort of the
    # fact table beyond the in-array sort_array.
    "q_a16_holt": (
        ["partial_", "HashAggregate"],
        ["Window", "CartesianProduct", "SortMergeJoin"],
    ),
    # Interval-overlap join: the binned rewrite MUST plan as an
    # equi-join on bin ids (hash join; broadcast at gate scale) with
    # the exact predicate inline — never the nested-loop product
    # Spark plans for a raw inequality pair join.
    "q_j9_interval_overlap": (
        ["explode(sequence(FLOOR", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Correlation matrix: ONE column-pruned scan feeds every pair's
    # moment sums (map-side partial), long form via the explode-the-
    # one-row-frame construction; NO join of any kind in the plan.
    "q_pr1_correlation_matrix": (
        ["explode(array(struct", "partial_sum", "partial_count"],
        ["Join", "CartesianProduct", "SortMergeJoin"],
    ),
    # Expectation suite: ALL row-level checks share ONE column-pruned
    # scan (long form via explode of the one-row agg — a per-check
    # union would re-scan per check); uniques are two-phase groupBys;
    # ref integrity is a broadcast anti-join. Never an SMJ or product.
    "q_dq1_expectations": (
        ["explode(array(struct", "partial_sum", "BroadcastHashJoin LeftAnti"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # BM25: per-term tfs are array functions on ONE projection (no
    # Generate/explode, no fact-sized shuffle), the one-row stats agg
    # is two-phase and broadcasts back (bounded NLJ), and the top-k
    # is a bounded heap. The rank window runs over <= k rows. Round 7:
    # the projection sits behind a localCheckpoint barrier, so the
    # corpus is TOKENIZED ONCE — both consumers are ExistingRDD scans
    # of the same checkpointed integers and NO parquet scan appears in
    # the final plan (a second tokenizing scan would).
    "q_x37_bm25": (
        ["TakeOrderedAndProject", "partial_avg", "BroadcastNestedLoopJoin",
         "Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin", "Generate", "Scan parquet"],
    ),
    # Quality classifier (round 7): train_quality_filter materializes
    # the scores off the cached features (eager localCheckpoint — the
    # q_e5 shape), so the probe's final plan is a bounded ExistingRDD
    # scan and the corpus parquet is NOT rescanned. The scoring /
    # per-iteration shape itself (broadcast <=buckets-row weight join
    # + two-phase doc agg, shared _margins_e6) ran inside the eager
    # job; a fact-fact SMJ there would mean the model shuffled as
    # data — pinned by the bit-exact two-path parity test instead of
    # this audit (the plan is consumed before the probe returns).
    "q_x39_quality_classifier": (
        ["Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin", "Scan parquet"],
    ),
    # Zero-shuffle scorer: the model is a literal map expression, the
    # margin a row-local array fold — the whole plan is a projection
    # over the scan. NO keyed exchange, NO explode, NO join of any
    # kind may appear: a hash/range Exchange here would mean scoring
    # shuffles the corpus. (spread()'s round-robin on the too-small
    # test input is allowed — it is a no-op on real scans.)
    "q_x39b_classifier_score_expr": (
        ["Scan parquet"],
        ["Exchange hashpartitioning", "Exchange rangepartitioning",
         "Generate", "Join", "CartesianProduct"],
    ),
    # Gopher rule bundle: one scan-side projection — counters and
    # rule booleans are array/regex functions over materialized token
    # and line arrays; no keyed exchange, no join, no explode may
    # appear (spread's round-robin on tiny inputs is allowed).
    "q_x41_gopher_rules": (
        ["Scan parquet"],
        ["Exchange hashpartitioning", "Exchange rangepartitioning",
         "Generate", "Join", "CartesianProduct"],
    ),
    # Deterministic corpus shuffle: ONE row_number window partitioned
    # by shard (hash exchange; shards sort independently in parallel)
    # — never a global range sort, never a single-partition window,
    # no join of any kind.
    "q_x40_corpus_shuffle": (
        ["Window", "hashpartitioning(shard"],
        ["rangepartitioning", "SinglePartition", "Join", "CartesianProduct"],
    ),
}


def _x5b_construction(spark):
    """The q_x5b lineage that checkpoint fusion truncates out of the
    returned plan (round-10 audit-rule relaxation, ADVICE r10): the
    60-bit bit-vote fingerprint + banding frame as built right before
    ``checkpoint_spread`` in ``simhash_candidate_pairs``."""
    from datastream_spark.operators import dedup

    d = probes.T(spark, SF_DIR, "documents")
    return dedup.simhash_band_rows(
        dedup.simhash(d, bits=60), "doc_id", bits=60, bands=4
    )


def _e4_construction(spark):
    """The q_e4 lineage behind the kmv_pair_overlap checkpoint: the
    bottom-k sketch build (WindowGroupLimit) and the one-row-per-group
    collapse (two-phase aggs) exactly as composed before the
    ``localCheckpoint`` in ``kmv_pair_overlap``."""
    from pyspark.sql import functions as F

    from datastream_spark.operators import kmv

    ev = probes.T(spark, SF_DIR, "events")
    element = F.concat_ws(
        ":", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
    )
    sk = kmv.kmv_sketch(ev, ["event_type"], element, k=256, portable=True)
    return sk.groupBy("event_type").agg(
        F.count("h").alias("n_hashes"),
        F.max("h").alias("theta_h"),
        F.collect_list("h").alias("hs"),
    )


#: name -> (builder, must_contain, must_not_contain): pre-checkpoint
#: CONSTRUCTION plans whose markers the round-10 checkpoint fusions
#: moved out of the returned plans — kept machine-checked here so a
#: construction-side regression (e.g. bottom-k degrading to a global
#: sort) cannot pass the audit silently (r10 ADVICE item).
CONSTRUCTION_EXPECTATIONS: dict = {
    "q_x5b_simhash_pairs@construction": (
        _x5b_construction,
        ["HashAggregate", "partial_"],
        ["rangepartitioning", "CartesianProduct"],
    ),
    "q_e4_theta_sketch@construction": (
        _e4_construction,
        ["WindowGroupLimit", "partial_"],
        ["rangepartitioning", "CartesianProduct"],
    ),
}


def main() -> None:
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = dict(probes.QUERIES)
    queries.update(probes_llm.QUERIES)
    names = sys.argv[1:] or list(EXPECTATIONS) + list(CONSTRUCTION_EXPECTATIONS)

    failures = 0
    for name in names:
        if name in CONSTRUCTION_EXPECTATIONS:
            builder, must, must_not = CONSTRUCTION_EXPECTATIONS[name]
            plan = (
                builder(spark)
                ._jdf.queryExecution()
                .explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
            bad = [m for m in must if m not in plan] + [
                f"!{m}" for m in must_not if m in plan
            ]
            status = "OK " if not bad else "FAIL"
            print(f"{name:40s} {status} {' '.join(bad)}")
            if bad:
                failures += 1
                if os.environ.get("PLAN_AUDIT_VERBOSE"):
                    print(plan)
            continue
        df = queries[name](spark, SF_DIR)
        if name in EXECUTE_FIRST:
            # AQE materializes exchange reuse at RUNTIME (the static
            # initial plan prints both exchanges); execute, then read
            # the final adaptive plan off the same QueryExecution.
            df.collect()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        must, must_not = EXPECTATIONS.get(name, ([], []))
        bad = [m for m in must if m not in plan] + [
            f"!{m}" for m in must_not if m in plan
        ]
        status = "OK " if not bad else "FAIL"
        print(f"{name:28s} {status} {' '.join(bad)}")
        if bad:
            failures += 1
            if os.environ.get("PLAN_AUDIT_VERBOSE"):
                print(plan)
    print(f"\n{len(names) - failures}/{len(names)} plans as expected")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
