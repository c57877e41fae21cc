"""Deduplication operators for training-data pipelines (SURVEY.md §2.10
X1/X2 — net-new north-star surface, no reference citation).

Five strategies, all pure DataFrame compositions (no Python UDFs):

- exact:        hash-groupBy on normalized text
- MinHash+LSH:  shingle -> portable minhash -> banded bucket join
- SimHash:      token bit-vote fingerprint, banded hamming candidates
- n-gram Jaccard: shingle-set self-join (exact similarity, the oracle
                for what MinHash approximates)
- embedding cosine: see operators.similarity.near_dup_pairs

Portability doctrine: the portable hash primitive is md5-hex->bigint
(identical in Spark and DuckDB); since round 6 the permutation family
is SALTED per permutation — permutation i reads an 8-hex-char chunk of
``md5(shingle || ':' || (i // 4))`` — so signatures are oracle-
checkable with no params table, which approximate-dedup
implementations normally are not. ``lsh_near_dup_pairs_exact`` goes
one further: LSH only generates candidates and the emitted pairs are
verified against the true shingle sets, making the OUTPUT family-
independent (the estimate path's corpus-level luck is measured on
``minhash_params``).

Scale notes: shingle explosion is the dominant cost; everything
downstream of signatures is narrow (num_hashes rows per doc). The LSH
band join replaces the O(n^2) pair space with per-bucket joins; at
100 TB band buckets are the unit of shuffle and AQE handles skewed
buckets (identical boilerplate docs) via skew-join splitting.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exceptions import InconsistentStreamConfiguration
from ..functions import free_local_checkpoint, norm_text, spread

_LOG = logging.getLogger("datastream_spark.dedup")

#: Modulus for the permutation family: 2^31-1 (Mersenne prime). With
#: 30-bit reduced base hashes and a,b < 2^31, a*h+b < 2^61 — exact in
#: BIGINT for both Spark and DuckDB.
MINHASH_P = 2_147_483_647

#: Largest shingle vocabulary for which Jaccard verification uses packed
#: bitmaps (16k bits = 256 BIGINT words = 2 KB per doc). Above this,
#: sets are sparse relative to the universe and the prefix filter
#: already keeps the candidate count small, so array intersection wins.
BITMAP_MAX_VOCAB = 16_384


def minhash_params(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (i, a_i, b_i) affine family — RETIRED from the
    signature path in round 6, kept for the record. What the round-6
    measurement campaign actually established (sf0.01 fixture, 107k
    true pairs vs exact n-gram Jaccard):

    - at num_hashes=32, the CORPUS-LEVEL mean jaccard_est error is a
      ±0.02-0.04 draw for EVERY family tried (affine-md5 across seeds:
      -0.043/-0.031/+0.019; affine-xxhash: -0.004/-0.009/+0.021;
      salted-md5 across salt bases: -0.026/+0.016/+0.019; salted-
      xxhash: -0.003). Near-dup corpora make pair errors heavily
      correlated (thousands of pairs share the same docs and all pairs
      share the same n permutations), so this luck does NOT average
      out over pairs — only over hashes: per-pair std shrinks 1/sqrt(n)
      (0.089 -> 0.044 measured at n=32 -> 128), and the corpus-level
      draw with it. Thresholding near the corpus's similarity mass at
      n=32 is therefore family-independently noisy; raise num_hashes.
    - the salted family replaced the affine one anyway: permutations
      are independent hashes instead of 32 affine maps of ONE shared
      base draw, and the SQL replay drops the params table entirely.
    """
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for i in range(num_hashes):
        x = (a * x + b) % MINHASH_P
        ai = x | 1  # odd, nonzero
        x = (a * x + b) % MINHASH_P
        bi = x
        params.append((i, ai, bi))
    return params


def shingle_set_expr(k: int, sort: bool = False):
    """The distinct char-k-gram set of a normalized text column named
    ``_t``, as ONE codegen'd array expression — the single source of
    truth for what a "shingle set" is (consumed by shingles(),
    minhash_signature_arrays, lsh_near_dup_pairs_exact's refinement
    and curation.decontaminate_fuzzy; hand-copied variants of this
    expression drifted once already). ``sort=True`` for consumers
    that canonicalize the set into a key or compare arrays
    positionally; min/intersection consumers skip the sort."""
    arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, length(_t) - {k - 1}), "
            f"i -> substring(_t, i, {k}))"
        )
    )
    return F.array_sort(arr) if sort else arr


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct char-k-gram shingles of normalized text -> (id, shingle).

    Dedup is PER DOCUMENT, so it runs locally inside codegen
    (array_distinct over the transform'd position array) — no shuffle;
    the naive explode-then-global-distinct shuffles every raw shingle
    instance (~n_chars rows per doc) just to drop within-doc repeats."""
    t = norm_text(F.col(text_col))
    return (
        spread(df.select(F.col(id_col), t.alias("_t")))
        .where(F.length("_t") >= k)
        .select(
            id_col,
            F.explode(shingle_set_expr(k)).alias("shingle"),
        )
    )


def shingle_hash30(c, portable: bool = True) -> F.Column:
    """30-bit shingle hash. ``portable=True`` uses md5 hex -> bigint
    (reproducible in DuckDB for oracle checks); ``portable=False`` uses
    JVM-native xxhash64 — ~5x faster per shingle, the right choice on
    the 100 TB path where no cross-engine replay is needed."""
    if portable:
        return (
            F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
            % F.lit(1 << 30)
        )
    return F.pmod(F.xxhash64(c), F.lit(1 << 30))


def minhash_signature_arrays(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    portable_hash: bool = True,
) -> DataFrame:
    """Array-form signatures: (id, sig ARRAY<BIGINT>[num_hashes]).

    Hash family (round 6): per-permutation SALTED hashing — sig_i =
    min over shingles of H(shingle, i) with an independent hash per
    permutation, replacing the affine maps over one shared base hash
    (see ``minhash_params`` for the full measurement record: at
    num_hashes=32 EVERY family carries a ±0.02-0.04 corpus-level
    jaccard_est luck draw; per-pair std and that draw both shrink
    ~1/sqrt(num_hashes), so tight thresholds should raise num_hashes
    rather than trust any 32-hash family). Salting also drops the
    params table from the SQL replay.

    - ``portable_hash=False`` (production): ONE projection — shingle
      array -> num_hashes array_min(transform(s -> xxhash64(s, i)))
      entries — zero shuffle, JVM-native per-shingle hashing.
    - ``portable_hash=True`` (DuckDB-replayable): explode + groupBy
      over md5 chunks — permutation i reads bits 32*(i%4)..32*(i%4)+31
      of md5(shingle || ':' || (i//4)), i.e. ceil(num_hashes/4) md5
      calls per shingle (Catalyst subexpression elimination shares
      each md5 across its 4 chunk consumers); the map-side partial min
      aggregation reduces each partition to one row per doc before the
      (narrow) shuffle."""
    # Each per-permutation term is ONE parsed SQL string (the simhash
    # construction-cost idiom): the Column-API tree cost ~8 py4j round
    # trips per hash — measured 0.7-1.0 s of pure DRIVER time per call
    # at num_hashes=32, paid once per consumer in the LSH family
    # (q_x2b/q_x24/q_x28/q_c3). Catalyst subexpression elimination
    # still shares each md5 across its 4 chunk consumers — the parsed
    # tree canonicalizes identically to the operator-built one.
    if portable_hash:
        sh = shingles(df, id_col, text_col, k=shingle_k)
        mins = []
        for i in range(num_hashes):
            k, j = divmod(i, 4)
            mins.append(
                F.expr(
                    f"min(cast(conv(substring(md5(concat(shingle, ':{k}')),"
                    f" {1 + 8 * j}, 8), 16, 10) as bigint))"
                ).alias(f"_s{i}")
            )
        return (
            sh.groupBy(id_col)
            .agg(*mins)
            .select(
                id_col, F.array(*[f"_s{i}" for i in range(num_hashes)]).alias("sig")
            )
        )
    t = norm_text(F.col(text_col))
    sh_arr = shingle_set_expr(shingle_k)
    sig = F.array(
        *[
            F.expr(f"array_min(transform(_sh, s -> xxhash64(s, {i})))")
            for i in range(num_hashes)
        ]
    )
    return (
        spread(df.select(F.col(id_col), t.alias("_t")))
        .where(F.length("_t") >= shingle_k)
        .select(id_col, sh_arr.alias("_sh"))
        .select(id_col, sig.alias("sig"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    spark=None,
) -> DataFrame:
    """Long-form signatures: (id, h_i, sig) where sig = min over the
    doc's shingles of the salted per-permutation hash (portable md5
    chunk family). A posexplode view of the array form
    (oracle-checkable shape)."""
    arrays = minhash_signature_arrays(
        df, id_col, text_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    return arrays.select(
        id_col, F.posexplode("sig").alias("h_i", "sig")
    )


def _sig_arrays(sigs: DataFrame, id_col: str) -> DataFrame:
    """Normalize either signature shape to array form. Long-form input
    pays one extra groupBy; callers on the hot path should pass
    ``minhash_signature_arrays`` output directly."""
    if dict(sigs.dtypes)["sig"].startswith("array"):
        return sigs
    return sigs.groupBy(id_col).agg(
        F.expr("transform(array_sort(collect_list(struct(h_i, sig))), x -> x.sig)")
        .alias("sig")
    )


def band_key_frame(
    arrays: DataFrame, id_col: str, rows_per_band: int
) -> DataFrame:
    """(id, band, band_hash) rows from array-form signatures — the LSH
    bucketing projection shared by the self-join (dedup) and the
    bipartite join (cross-corpus fuzzy decontamination). The band key
    is the md5 of the band's SORTED values (order-insensitive within a
    band, the oracle-replayed form)."""
    n_bands = F.ceil(F.size("sig") / rows_per_band)
    return arrays.select(
        id_col,
        F.explode(F.sequence(F.lit(0), (n_bands - 1).cast("int"))).alias("band"),
        "sig",
    ).select(
        id_col,
        "band",
        F.md5(
            F.concat_ws(
                ",",
                F.sort_array(
                    F.expr(f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})")
                ),
            )
        ).alias("band_hash"),
    )


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int = 4,
    max_band_freq: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any full band of signature values are
    candidates. Returns (id_a, id_b, n_shared_bands), id_a < id_b.

    Accepts array- or long-form signatures. The band key is the md5 of
    the band's SORTED values (order-insensitive within a band, kept for
    compatibility with the long-form formulation); band rows are
    (n_docs x n_bands), tiny relative to the corpus, and the self-join
    shuffles on band_hash — identical-boilerplate buckets are exactly
    the AQE skew-join case.

    ``max_band_freq`` is the deterministic worst-case bound: a band
    bucket holding more than this many DISTINCT signatures is excluded
    from the self-join (its membership is logged), capping any single
    bucket's contribution at max_band_freq² regardless of AQE. Upstream
    identical-signature collapse already removes duplicate-document
    clusters, so an over-cap bucket means near-identical-but-distinct
    signatures colliding in one band — recall on those pairs usually
    survives via their other bands (any shared band is sufficient);
    the log records what was dropped so the cap is never silent."""
    arrays = _sig_arrays(sigs, id_col)
    band_key = band_key_frame(arrays, id_col, rows_per_band)
    if max_band_freq is not None:
        freq = band_key.groupBy("band", "band_hash").agg(
            F.count("*").alias("_freq")
        )
        hot = freq.where(F.col("_freq") > max_band_freq)
        # one tiny action over the post-partial-agg bucket counts: the
        # overflow accounting the cap contract requires (never silent)
        overflow = hot.agg(
            F.count("*").alias("buckets"), F.sum("_freq").alias("rows")
        ).collect()[0]
        if overflow["buckets"]:
            _LOG.warning(
                "minhash_candidate_pairs: %d band bucket(s) over "
                "max_band_freq=%d (%d signature rows) excluded from the "
                "self-join; pairs inside them surface only via their "
                "other bands",
                overflow["buckets"],
                max_band_freq,
                overflow["rows"],
            )
        band_key = band_key.join(
            hot.select("band", "band_hash"), ["band", "band_hash"], "left_anti"
        )
    a = band_key.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = band_key.select(
        F.col(id_col).alias("id_b"), F.col("band").alias("band_b"), F.col("band_hash").alias("bh_b")
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("band_hash") == F.col("bh_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def tune_rows_per_band(num_hashes: int, min_jaccard: float) -> int:
    """Largest ``r`` dividing ``num_hashes`` whose implied LSH
    threshold ``(1/b)^(1/r)`` (b = num_hashes/r) stays at or below
    ``min_jaccard`` — the standard S-curve placement: the steep part of
    the band-collision probability sits just under the query threshold,
    so pairs above it are caught with near-certain recall while pairs
    well below stop colliding at all. A band geometry MISMATCHED to the
    threshold is a silent quadratic: r=4 over 32 hashes implies t≈0.59,
    so a min_jaccard=0.85 query over a corpus with big J≈0.5 cliques
    still generates every clique pair as a candidate (measured: 313M
    candidates / 700 s at 50k docs; r=8 collapses the same query to
    the true near-dup set — SCALE.md §17)."""
    best = 1
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if (1.0 / b) ** (1.0 / r) <= min_jaccard:
            best = r
    return best


def minhash_near_dup_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    rows_per_band: int | None = None,
    num_hashes: int = 32,
    min_jaccard: float = 0.5,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Full LSH pipeline with identical-signature collapse: banding +
    jaccard refinement run over DISTINCT signatures only; member pairs
    are expanded at output time.

    Why: corpora deduplicate because they contain large clusters of
    identical documents, and those clusters are exactly what makes the
    band self-join quadratic (a 10k-copy boilerplate cluster is 50M
    candidate pairs PER BAND). Since jaccard_est depends only on the
    two signatures, collapsing identical signatures first makes the
    quadratic work proportional to distinct-signature bucket sizes;
    the cluster-product expansion happens once, at output, where it IS
    the requested result. Output is row-identical to running banding
    over raw documents.

    ``rows_per_band=None`` (default) tunes the band geometry to
    ``min_jaccard`` via ``tune_rows_per_band`` — see its docstring for
    why a mismatched geometry is a silent quadratic. Pass an explicit
    value to pin a geometry (oracle-replayable probes do)."""
    if rows_per_band is None:
        rows_per_band = tune_rows_per_band(num_hashes, min_jaccard)
    sig_key = F.md5(F.concat_ws(",", "sig"))
    keyed = sigs.select(F.col(id_col), F.col("sig"), sig_key.alias("sig_key"))
    # ONE aggregation carries everything downstream: the cluster rep,
    # the (identical) signature, and the member list as an array — no
    # join-back, no persist() (the round-2 version persisted two
    # intermediates and leaked them in the session CacheManager), and
    # the expensive signature shuffle happens once, not once per
    # consumer branch. Member arrays are bounded by duplicate-cluster
    # size — exactly the thing being deduplicated, and the expansion
    # below is the requested output anyway. max over identical arrays
    # = the array (deterministic, unlike first()).
    from ..functions import checkpoint_spread

    reps = checkpoint_spread(
        keyed.groupBy("sig_key").agg(
            F.min(id_col).alias("rep"),
            F.max("sig").alias("sig"),
            F.collect_list(id_col).alias("members"),
        )
    )
    # checkpoint-then-spread, NOT lazy: `reps` feeds ~6 consumer
    # branches (band self-join a/b, the two jaccard sig joins, ma/mb
    # member maps), and without a barrier EVERY branch re-executes
    # the whole shingle+md5 signature pipeline above. Re-measured
    # round 10 (sf0.1, warm, 2k docs): lazy 8.3-13.5 s vs 3.7 s + a
    # ~2 s barrier — the earlier "re-evaluation costs ~a barrier"
    # measurement predates the portable-md5 family's cost. The
    # checkpointed frame is distinct-signature-sized (the corpus
    # AFTER identical-doc collapse), blocks are GC-reclaimed with
    # the frame (ContextCleaner), and at 100 TB reps is exactly the
    # thing small enough to materialize: one row per distinct
    # signature, three skinny columns.
    rep_sigs = reps.select(F.col("rep").alias(id_col), "sig")
    rep_pairs = minhash_candidate_pairs(
        rep_sigs,
        id_col=id_col,
        rows_per_band=rows_per_band,
        max_band_freq=max_band_freq,
    )
    rep_est = minhash_jaccard_estimate(
        rep_sigs, rep_pairs, id_col=id_col, num_hashes=num_hashes
    ).where(F.col("jaccard_est") >= min_jaccard)

    # cross-cluster pairs: expand each qualifying rep pair to the full
    # member cross product (ids reordered so id_a < id_b)
    ma = reps.select(F.col("rep").alias("id_a"), F.col("members").alias("_ma"))
    mb = reps.select(F.col("rep").alias("id_b"), F.col("members").alias("_mb"))
    cross = (
        rep_est.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("_ma").alias("m_a"), "_mb", "jaccard_est")
        .select("m_a", F.explode("_mb").alias("m_b"), "jaccard_est")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "jaccard_est",
        )
    )
    # intra-cluster pairs: identical signatures, jaccard_est = 1.0;
    # in-array pair expansion (the quadratic IS the requested result)
    intra = (
        reps.where(F.size("members") > 1)
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("members"),
                            lambda x: F.transform(
                                F.col("members"),
                                lambda y: F.struct(x.alias("a"), y.alias("b")),
                            ),
                        )
                    ),
                    # strict < keeps each unordered pair exactly once
                    lambda p: p["a"] < p["b"],
                )
            ).alias("_p")
        )
        .select(
            F.col("_p")["a"].alias("id_a"),
            F.col("_p")["b"].alias("id_b"),
            F.lit(1.0).alias("jaccard_est"),
        )
    )
    return cross.unionByName(intra)


def lsh_near_dup_pairs_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    rows_per_band: int | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """LSH candidates, EXACT-Jaccard verification: (id_a, id_b,
    jaccard) with jaccard computed on the true shingle sets, not the
    signature agreement rate.

    Why this exists (round-6 measurement, see ``minhash_params``): a
    32-hash jaccard_est carries a ±0.02-0.04 corpus-level luck draw,
    and near a steep threshold that swings the PAIR COUNT by 2-10x —
    measured at sf1/J>=0.85, two statistically equivalent families
    returned 12.8k vs 123k pairs from the same corpus. Verifying
    candidates against the real shingle sets makes the output exact
    and family-independent: minhash decides only WHICH pairs are
    examined (recall, controlled by the banding geometry), never
    which pairs are emitted. The standard LSH-then-verify shape, same
    contract as the PPJoin prefix filter (``ngram_jaccard_pairs``) —
    but candidate generation stays sub-quadratic at 100 TB.

    Scale shape mirrors ``minhash_near_dup_pairs``: docs collapse by
    identical SHINGLE SET first (those genuinely have J = 1, unlike
    identical signatures), banding + verification run over distinct
    sets only, and member pairs expand at output. The verify join
    moves each candidate's two sorted shingle arrays once;
    array_intersect on sorted distinct arrays is linear per pair.
    """
    if rows_per_band is None:
        rows_per_band = tune_rows_per_band(num_hashes, min_jaccard)
    t = norm_text(F.col(text_col))
    sh_arr = shingle_set_expr(shingle_k, sort=True)
    base = (
        spread(df.select(F.col(id_col), t.alias("_t")))
        .where(F.length("_t") >= shingle_k)
        .select(F.col(id_col), sh_arr.alias("_sh"))
        .withColumn("_key", F.md5(F.concat_ws("\u001f", "_sh")))
    )
    reps = base.groupBy("_key").agg(
        F.min(id_col).alias("rep"),
        F.max("_sh").alias("_sh"),  # identical within a key group
        F.collect_list(id_col).alias("members"),
    )
    rep_sets = reps.select(F.col("rep").alias(id_col), "_sh")
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("_sh"), lambda sh: F.xxhash64(sh, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )
    rep_sigs = rep_sets.select(id_col, sig.alias("sig"))
    rep_pairs = minhash_candidate_pairs(
        rep_sigs,
        id_col=id_col,
        rows_per_band=rows_per_band,
        max_band_freq=max_band_freq,
    )
    sa = rep_sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sa"))
    sb = rep_sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    uni = F.size("_sa") + F.size("_sb") - inter
    verified = (
        rep_pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", inter / uni)
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    ma = reps.select(F.col("rep").alias("id_a"), F.col("members").alias("_ma"))
    mb = reps.select(F.col("rep").alias("id_b"), F.col("members").alias("_mb"))
    cross = (
        verified.join(ma, "id_a")
        .join(mb, "id_b")
        .select(F.explode("_ma").alias("m_a"), "_mb", "jaccard")
        .select("m_a", F.explode("_mb").alias("m_b"), "jaccard")
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "jaccard",
        )
    )
    intra = (
        reps.where(F.size("members") > 1)
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("members"),
                            lambda x: F.transform(
                                F.col("members"),
                                lambda y: F.struct(x.alias("a"), y.alias("b")),
                            ),
                        )
                    ),
                    lambda pr: pr["a"] < pr["b"],
                )
            ).alias("_p")
        )
        .select(
            F.col("_p")["a"].alias("id_a"),
            F.col("_p")["b"].alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


#: matching-signature count over (sig_a, sig_b) array columns — the
#: jaccard-estimate kernel shared by the self-join refinement below
#: and the bipartite fuzzy-decontamination refinement (curation.py);
#: the shape is a MEASURED choice (sf0.1, 545k rep pairs, noop sink,
#: best-of-3 warm) — change it in ONE place:
#:   size(array_remove(zip_with eq))      1.68 s  <- this
#:   aggregate(zip_with if/sum)           2.49 s  (two interpreted
#:     lambdas, and the jaccard_est filter pushdown duplicates the
#:     whole aggregate into the Filter node — §4.4-style double eval)
#:   posexplode + groupBy count           1.78 s  (all-codegen but
#:     pays an extra pair-sized exchange)
#:   unrolled 32-term sum                10.02 s  (generated method
#:     past JIT limits — whole stage falls back to interpreter)
#: The single cheap eq lambda keeps the only interpreted step O(1)
#: per element; array_remove/size are codegen'd, so the duplicated
#: copy under the pushed filter costs little. coalesce(eq, false)
#: pins null semantics to the old if(x = y, 1, 0) exactly.
SIG_AGREEMENT_EXPR = (
    "size(array_remove("
    "zip_with(sig_a, sig_b, (x, y) -> coalesce(x = y, false)), false))"
)


def minhash_jaccard_estimate(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
) -> DataFrame:
    """Refine candidates: estimated jaccard = matching signature rate.

    Joins each pair to two signature ARRAYS (per-doc array tables are
    num_hashes x 8 bytes per row — broadcastable up to hundreds of
    millions of docs) and compares element-wise, instead of exploding
    pairs x num_hashes rows through a shuffle join.

    Measured decisions: the agreement kernel's shape is the A/B
    record on ``SIG_AGREEMENT_EXPR`` (round-10 optimization pass);
    fusing the estimate into the band join stays rejected (evaluates
    per band-HIT row, ~8x more rows than deduped pairs). Round 11
    re-tested the "escape the interpreted HOF" idea with a lossless
    bit-pack (two 32-bit md5-chunk slots per long, agreement = 16
    xors + 32 codegen'd lane tests): REJECTED on measurement — at
    545k pairs the 64-term flat expression ran 2.4-3.1 s vs 0.3-0.7 s
    for this zip_with form (the same generated-method-size cliff as
    the round-10 unrolled-sum variant; q_x2b regressed +2.6 s in the
    interleaved suite A/B), and a packed-array aggregate variant only
    TIED zip_with. The kernel is not the q_x2b bottleneck. Keep this
    shape unless re-measured."""
    arrays = _sig_arrays(sigs, id_col)
    sa = arrays.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = arrays.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    n_match = F.expr(SIG_AGREEMENT_EXPR)
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (n_match / F.lit(num_hashes)).alias("jaccard_est"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.85,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, prefix-filtered (PPJoin-style).

    The naive shingle self-join is O(sum df(shingle)^2): common
    3-grams ("th ", "e a") occur in nearly every document, so the pair
    space degenerates to all-pairs — 209 s in DuckDB at sf0.1 (5k docs)
    and unusable at 100 TB. The prefix principle (Chaudhuri et al.
    SSJoin / Xiao et al. PPJoin, public literature) keeps the result
    EXACT while joining only on rare shingles:

    - order shingles globally rare-first (by document frequency);
    - each doc's candidate-generating prefix is its first
      ``|s| - ceil(t*|s|) + 1`` shingles in that order — any pair with
      J >= t must share a prefix shingle (overlap lemma);
    - a length filter drops pairs with ``n_b > n_a/t`` (J >= t forces
      ``t*n_a <= n_b <= n_a/t``);
    - surviving candidate pairs (few) are verified by exact
      intersection of their full shingle sets.

    Scale: the expensive join now keys on *rare* shingles only (df-
    skewed buckets are exactly the ones pruned), candidates shuffle as
    (id_a, id_b) pairs, and verification joins two set-arrays per
    candidate. ``prefix_filter=False`` keeps the naive plan (the
    oracle-SQL twin) for differential testing.

    Degenerate-vocabulary adaptivity: when the corpus has few distinct
    shingles (small alphabet, short k), EVERY shingle is common, the
    prefix lemma prunes nothing, and candidates degenerate toward
    all-pairs — millions of array_intersect verifications. In that
    regime each shingle set is a dense subset of a tiny universe, so we
    verify with packed BITMAPS instead: shingle -> dense id, doc set ->
    ARRAY<BIGINT> of vocab/64 words, |A∩B| = sum(bit_count(a & b)) via
    zip_with — whole-stage-codegen'd, ~100x cheaper per pair than set
    intersection. One driver-side count() of the (already computed)
    shingle-frequency table picks the representation; real corpora
    (vocab >> 16k) take the array path, where the prefix filter
    actually prunes and candidates are few."""
    sh = shingles(df, id_col, text_col, k=k)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    if not prefix_filter:
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            a.join(b, ["shingle"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
        na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
        nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
        return (
            inter.join(F.broadcast(na), "id_a")
            .join(F.broadcast(nb), "id_b")
            .withColumn(
                "jaccard",
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # Global rare-first order: (doc_frequency, shingle). char-k-gram
    # vocabularies are small (bounded by alphabet^k), so the frequency
    # side broadcasts; AQE picks broadcast automatically if under the
    # threshold, the hint makes it explicit.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_sh"))
    freq = freq.persist()
    vocab = freq.count()  # one tiny job; picks the verify representation

    if vocab <= BITMAP_MAX_VOCAB:
        # Dense-universe regime: every shingle is common, so the prefix
        # lemma prunes nothing and candidate generation through ANY
        # inverted-index join degenerates to bucket cross products that
        # dwarf the n^2 pair space. Go straight at the pair space
        # instead: pack each doc's shingle set into n_words BIGINT
        # *columns* (flat codegen arithmetic, no array lambdas) and
        # broadcast-nested-loop join with the length filter as the join
        # predicate; |A∩B| is a fixed sum of bit_count(a_i & b_i) terms.
        # No shuffle at all — n^2/2 cheap register-level comparisons
        # spread across cores. (A corpus only lands here when its
        # shingle universe is tiny; real text at k>=5 takes the sparse
        # path below, which is the one that scales with corpus size.)
        n_words = (vocab + 63) // 64
        sid = F.row_number().over(Window.orderBy("shingle")) - 1
        dict_df = freq.select("shingle").withColumn("sid", sid)
        words = (
            sh.join(F.broadcast(dict_df), "shingle")
            .groupBy(id_col, (F.col("sid") / 64).cast("int").alias("w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(cast(1 as bigint), cast(sid % 64 as int)))"
                ).alias("bits")
            )
        )
        # n_sh is the popcount of the doc's own bitmap (sh is distinct
        # per doc by construction), so deriving it here saves the
        # separate `sizes` shingle pass AND its broadcast join — one
        # less full explode of the corpus. The finished frame is one
        # row per doc (n_words+2 skinny columns); localCheckpoint it
        # so the self-join's build and stream sides read the tiny
        # materialized table instead of each re-running the whole
        # shingle -> dict-join -> two-level-agg lineage (measured
        # round 10, sf0.1/5k docs: full bitmap leg 2.34 s -> 1.17 s).
        # checkpoint-then-SPREAD (round 11): the checkpoint freezes
        # the agg's AQE-coalesced layout — at sf1 that is 1-2
        # partitions, which serializes the O(n²) nested-loop pair
        # join on 1-2 cores (q_x6 57-69 s; with the fan-out restored
        # 8.7-15.1 s; a persist() variant reads 4.7-14 s but pins a
        # CacheManager entry across probes — rejected for the leak
        # and the cross-query cache coupling).
        # Construction-cost discipline (the simhash/minhash idiom):
        # each per-word aggregate is ONE parsed SQL string and the two
        # self-join projections are selectExpr string lists — the
        # Column-operator version spent ~6 py4j round trips per word
        # (x n_words<=256 x 3 frames), measured 1.7-2.4 s of pure
        # driver time per ngram_jaccard_pairs call at sf0.1.
        wide = (
            words.groupBy(id_col)
            .agg(
                *[
                    F.expr(
                        f"coalesce(max(if(w = {i}, bits, null)), 0L)"
                    ).alias(f"w{i}")
                    for i in range(n_words)
                ]
            )
            .withColumn(
                "n_sh",
                F.expr(
                    " + ".join(f"bit_count(w{i})" for i in range(n_words))
                ).cast("long"),
            )
            .localCheckpoint()
        )
        # the eager checkpoint was freq's last reader
        freq.unpersist()
        from ..functions import spread

        wide = spread(wide)
        a = wide.selectExpr(
            f"{id_col} as id_a",
            "n_sh as n_a",
            *[f"w{i} as wa{i}" for i in range(n_words)],
        )
        b = wide.selectExpr(
            f"{id_col} as id_b",
            "n_sh as n_b",
            *[f"w{i} as wb{i}" for i in range(n_words)],
        )
        pairs = a.join(
            F.broadcast(b),
            (F.col("id_a") < F.col("id_b"))
            # length filter: J >= t ⟹ t*n_a <= n_b <= n_a/t
            & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
            & (F.col("n_a") * F.lit(threshold) <= F.col("n_b")),
        )
        n_inter = F.expr(
            " + ".join(f"bit_count(wa{i} & wb{i})" for i in range(n_words))
        )
        verified = pairs.withColumn("n_inter", n_inter)
    else:
        # Sparse regime (real corpora): the prefix filter actually
        # prunes, candidates are few, verify by set intersection. The
        # result stays lazy, so it re-derives freq from its lineage
        # rather than pin a cache entry past this call.
        freq.unpersist()
        ranked = sh.join(F.broadcast(freq), "shingle").join(
            F.broadcast(sizes), id_col
        )
        pos = F.row_number().over(
            Window.partitionBy(id_col).orderBy("df_sh", "shingle")
        )
        prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        prefix = (
            ranked.withColumn("_pos", pos)
            .where(F.col("_pos") <= prefix_len)
            .select(id_col, "shingle", "n_sh")
        )

        a = prefix.select(
            F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a")
        )
        b = prefix.select(
            F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
        )
        cand = (
            a.join(b, "shingle")
            .where(
                (F.col("id_a") < F.col("id_b"))
                # length filter: J >= t ⟹ n_b <= n_a / t (and symmetrically)
                & (F.col("n_b") * F.lit(threshold) <= F.col("n_a"))
                & (F.col("n_a") * F.lit(threshold) <= F.col("n_b"))
            )
            .select("id_a", "id_b", "n_a", "n_b")
            .distinct()
        )
        docsets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sh_set"))
        sa = docsets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
        sb = docsets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
        verified = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("n_inter", F.size(F.array_intersect("set_a", "set_b")))
        )
    return (
        verified.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Cluster near-dup pairs into components: (node, component) where
    component = min node id reachable through the pair graph. The step
    AFTER pair mining in every dedup pipeline — pick one keeper per
    component, drop the rest.

    Adaptive physical strategy, same output either way:

    - Edge sets under ``driver_threshold`` are union-found on the
      driver in one collect — the same size-based call a broadcast-join
      decision makes. Near-dup edges are the *filtered output* of pair
      mining, typically orders of magnitude smaller than the corpus, so
      this path covers most real runs without burning a Spark job per
      propagation round.
    - Larger graphs run the alternating large-star / small-star
      algorithm (Kiveris et al., "Connected Components in MapReduce
      and Beyond", SoCC 2014): each round rewires every node's
      strictly-larger neighbors (large-star) and then its
      smaller-or-equal neighbors (small-star) to the minimum of its
      neighborhood. Converges in O(log n) rounds *independent of
      graph diameter* — the property the previous min-label leg
      lacked (SCALE §22 measured min-label DNF at 18.5M edges because
      rounds = diameter and each round reshuffled the full edge set).
      Each round is two single-exchange window passes (see the loop
      comment); the driver only sees an (edge-count, edge-hash)
      convergence fingerprint.
      Persist/unpersist truncates lineage so plans don't grow per
      round."""
    pairs = pairs.select(id_a, id_b).persist()  # read twice below
    n_edges = pairs.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # collect, not toLocalIterator: the latter launches one job per
        # partition — hundreds of round-trips for a graph this small
        for row in pairs.collect():
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min so roots are already the min label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = pairs.sparkSession
        out = [(n, find(n)) for n in parent]
        pairs.unpersist()
        schema = pairs.schema[0].dataType.simpleString()
        return spark.createDataFrame(
            out, f"node {schema}, component {schema}"
        )
    # Large-star / small-star. State between rounds is a DIRECTED edge
    # set oriented large->small (src > dst); at convergence it is a
    # star forest with every non-root pointing at its component min.
    #
    # large-star(E): over the symmetrized neighbor lists, every node u
    #   rewires each strictly-larger neighbor v to
    #   m = min(neighborhood(u) + {u}). Emitted edges keep src > dst
    #   (v > u >= m), so the output stays canonically oriented.
    # small-star(E): over the large->small edges, every node u rewires
    #   its smaller neighbors AND itself to m = min of those
    #   neighbors. Emitted edges again satisfy src > dst.
    #
    # Convergence is detected with one agg per round on the already-
    # persisted frame: (count, sum(xxhash64(src,dst))) — a stable
    # fingerprint because the edge set is distinct.
    # localCheckpoint, not persist: `star` feeds THREE operators per
    # round (the symmetrizing union's two legs + the next join), so a
    # persisted-but-lineage-bearing frame multiplies the logical plan
    # ~5x per round — measured OOM in Catalyst's own tree printing by
    # round 4. The flat LogicalRDD keeps every round's plan constant-
    # size; free_local_checkpoint releases round N-1's blocks once
    # round N is materialized, so storage holds at most two edge sets.
    star = (
        pairs.where(F.col(id_a) != F.col(id_b))
        .select(
            F.greatest(id_a, id_b).alias("src"),
            F.least(id_a, id_b).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Every node in the input (self-pairs included) gets an output row,
    # exactly like the driver union-find path.
    nodes = (
        pairs.select(F.col(id_a).alias("node"))
        .unionByName(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    prev_fp = None
    # Each star is ONE window pass, not a groupBy-min + self-join
    # (guide §2.4: two operations keyed the same way share one
    # exchange). Ordered by dst ascending, the running first(dst) IS
    # the group min at every row, and row_number()==1 marks exactly
    # one row per src group — which is where small-star's (src, m)
    # self-edge is emitted, replacing the old s_min union leg. Cuts a
    # round from ~6 exchanges (agg + join re-shuffle, twice) to 4
    # (window + distinct, twice) and drops both joins; parity pinned
    # against driver union-find on chain/star/self-loop graphs
    # (round-10 A/B: 1.8 s -> 1.3 s per q_x10 clustering at sf0.1).
    from pyspark.sql import Observation

    w_src = Window.partitionBy("src").orderBy("dst")
    for _round in range(max_iter):
        sym = star.unionByName(
            star.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        large = (
            sym.select("src", "dst", F.first("dst").over(w_src).alias("_m0"))
            .where(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("_m0")).alias("dst"),
            )
            .distinct()
        )
        small = (
            large.select(
                "src",
                "dst",
                F.first("dst").over(w_src).alias("_m"),
                F.row_number().over(w_src).alias("_rn"),
            )
            .select(
                F.when(F.col("_rn") == 1, F.col("src"))
                .otherwise(F.col("dst"))
                .alias("src"),
                F.col("_m").alias("dst"),
            )
            .distinct()
        )
        # bit_xor (not sum): order-insensitive, never overflows under
        # ANSI mode, and the edge set is distinct so xor can't cancel.
        # The fingerprint rides the checkpoint's own materializing
        # action as an Observation — one job per round, not two.
        obs = Observation(f"cc_round_{_round}")
        small = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).localCheckpoint(eager=True)
        fp = obs.get
        free_local_checkpoint(star)
        star = small
        # Labels only decrease, so equal consecutive fingerprints mean
        # the fixed point (modulo a 2^-64 sum-hash collision).
        if fp["n"] == 0 or (prev_fp is not None and (fp["n"], fp["h"]) == prev_fp):
            break
        prev_fp = (fp["n"], fp["h"])
    # At the fixed point `star` is a star forest: every non-root node
    # appears exactly once as src pointing at its component min; roots
    # (and self-pair-only nodes) are absent from src and fall through
    # the left join to their own id.
    mapping = star.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    result = (
        nodes.join(mapping, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
        .localCheckpoint(eager=True)
    )
    free_local_checkpoint(star)
    free_local_checkpoint(nodes)
    return result


def incremental_clusters(
    clusters: DataFrame | None,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 1_000_000,
    max_iter: int = 20,
) -> DataFrame:
    """Fold NEW near-dup pairs into an existing ``connected_components``
    assignment without re-clustering old edges — the cluster-level
    consumer of ``incremental_lsh_pairs`` (sources/cdc.py): after an
    ingest mines its new pairs, this updates (node, component) at
    O(new pairs + touched components), never O(all pairs ever mined).

    Exact by the contraction theorem: components(E_old ∪ E_new) =
    expand(components(contract(E_new, components(E_old)))) — map each
    new edge's endpoints to their current component representative,
    cluster the (tiny) rep graph, and remap. Labels stay identical to
    a full rebuild because ``dedup_clusters`` labels a component with
    its MIN member id and contraction preserves minima: an old rep IS
    its component's minimum, so the rep graph's min is the merged
    component's true min (parity-pinned by test and property test).

    Edges between two nodes of the same existing component contract to
    self-loops and drop out — a re-discovered duplicate pair is free.
    New nodes absent from ``clusters`` contract to themselves.
    ``clusters=None`` is the bootstrap (plain ``connected_components``).
    Scale shape: two broadcast-joinable maps of the new-pair endpoints
    against the component table plus one ``connected_components`` run on the
    contracted graph (bounded by new pairs, usually driver-sized).
    """
    if clusters is None:
        return connected_components(
            new_pairs, id_a=id_a, id_b=id_b,
            driver_threshold=driver_threshold, max_iter=max_iter,
        )
    pairs = new_pairs.select(F.col(id_a).alias("_a"), F.col(id_b).alias("_b"))
    ca = clusters.select(
        F.col("node").alias("_a"), F.col("component").alias("_ra")
    )
    cb = clusters.select(
        F.col("node").alias("_b"), F.col("component").alias("_rb")
    )
    contracted = (
        pairs.join(ca, "_a", "left")
        .join(cb, "_b", "left")
        .select(
            F.coalesce(F.col("_ra"), F.col("_a")).alias("_xa"),
            F.coalesce(F.col("_rb"), F.col("_b")).alias("_xb"),
        )
        .where(F.col("_xa") != F.col("_xb"))
        .select(
            F.least("_xa", "_xb").alias(id_a),
            F.greatest("_xa", "_xb").alias(id_b),
        )
        .distinct()
    )
    rep_map = connected_components(
        contracted, id_a=id_a, id_b=id_b,
        driver_threshold=driver_threshold, max_iter=max_iter,
    ).select(
        F.col("node").alias("_rep"), F.col("component").alias("_nc")
    )
    # old members follow their rep's new label (unchanged components
    # miss the join and keep theirs)
    old_out = (
        clusters.join(
            rep_map, clusters["component"] == rep_map["_rep"], "left"
        )
        .select(
            "node",
            F.coalesce(F.col("_nc"), F.col("component")).alias("component"),
        )
    )
    # nodes first seen in the new pairs: contracted as themselves, so
    # their label comes straight off the rep graph (every new node has
    # at least one non-loop contracted edge — it cannot share a
    # component with anything yet)
    new_nodes = (
        pairs.select(F.col("_a").alias("node"))
        .unionByName(pairs.select(F.col("_b").alias("node")))
        .distinct()
        .join(clusters.select("node"), "node", "left_anti")
    )
    new_out = (
        new_nodes.join(rep_map, new_nodes["node"] == rep_map["_rep"], "left")
        .select(
            "node",
            F.coalesce(F.col("_nc"), F.col("node")).alias("component"),
        )
    )
    return old_out.unionByName(new_out)


def delete_from_clusters(
    clusters: DataFrame,
    pairs: DataFrame,
    deleted_ids: DataFrame | list,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_threshold: int = 1_000_000,
    max_iter: int = 20,
    rebuild_edge_fraction: float = 0.5,
) -> DataFrame:
    """Remove deleted docs from a maintained ``connected_components``
    assignment — the cluster-level leg of the takedown protocol. The
    band/fingerprint maintainers (sources/cdc.py) tombstone dead ids
    and ``compact_band_tombstones(pairs_table=...)`` purges their pair
    rows, but a maintained (node, component) table still carries the
    dead docs, and removal can SPLIT components — the contraction
    theorem behind ``incremental_clusters`` does not run backwards, so
    a forward increment cannot express a delete.

    Exact recipe (parity-pinned against a rebuild on the surviving
    corpus): re-cluster ONLY the touched components' induced surviving
    subgraph.

    1. touched = components containing >=1 deleted node (blast-radius-
       sized: the takedown's clusters, not the corpus);
    2. re-run ``connected_components`` on the surviving edges of those
       components. ``pairs`` is the retained pair table the streaming
       sinks / maintainers accumulate — the edge set the current
       assignment was built from; near-dup edges never cross
       components, so one endpoint's component decides membership;
    3. splice: untouched components keep their labels verbatim (a dead
       node's component is touched by definition, so untouched labels
       — min member ids — stay valid); touched-component nodes take
       the re-clustered labels; deleted nodes and survivors whose last
       edge died drop out, exactly as they would from
       ``connected_components(surviving pairs)``.

    ``pairs`` may be passed either BEFORE the tombstone compaction of
    THIS takedown (its dead rows are anti-joined away here) or AFTER
    it (the anti-joins are no-ops); both yield the rebuild answer.
    Contract for stacked takedowns: rows referencing ids deleted in an
    EARLIER, still-uncompacted takedown must already be purged
    (``compact_band_tombstones(pairs_table=...)``) or those ids
    included in ``deleted_ids`` — a leftover (live, long-dead) edge
    whose live endpoint sits in a touched component would otherwise
    resurrect the dead node.

    Scale shape: one semi-join to find touched components, one
    membership join + two anti-joins to carve the induced subgraph
    (touched set is broadcast-sized under AQE for any localized
    takedown), and one ``connected_components`` run bounded by the
    touched components' edges — O(the takedown's blast radius), never
    O(all pairs ever mined). Measured at sf10 (18.5M pairs, 295k
    clustered nodes, SCALE.md §22): a LOCALIZED takedown (35
    components, 113 docs) maintains in 2.9 s vs a 100 s rebuild
    (34x); a SCATTERED one (1% of all nodes — touches nearly every
    large component) degenerates to rebuild-sized work by
    construction (91.5 s vs 73.8 s rebuild) — when a takedown's blast
    radius IS the corpus, rebuild on the survivors instead. Round 10
    makes that choice AUTOMATIC: the carved subgraph's edge count
    (materialized here anyway) is compared to the pair table's, and
    past ``rebuild_edge_fraction`` the operator rebuilds on the
    survivors directly — identical output (that equality is the
    parity pin), strictly less work than carve-then-recluster, and no
    caller can silently pay 1.2x rebuild cost for a "maintenance"
    call. Set ``rebuild_edge_fraction=1.0`` to force the carve path.

    Round 10 also hardens the stacked-takedown contract above from
    documentation to a runtime guard: relabeled output nodes are
    checked against the input assignment's node set (every pair
    endpoint is clustered, by contract), so a leftover edge whose
    endpoint died in an earlier uncompacted takedown raises
    ``InconsistentStreamConfiguration`` instead of silently
    resurrecting the dead node into the cluster table.
    """
    if isinstance(deleted_ids, list):
        node_type = clusters.schema["node"].dataType.simpleString()
        dead = clusters.sparkSession.createDataFrame(
            [(d,) for d in deleted_ids], f"node {node_type}"
        ).distinct()
    else:
        dead = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias("node")
        ).distinct()
    from pyspark.sql import Observation

    touched = clusters.join(dead, "node", "semi").select("component").distinct()
    member_a = clusters.select(F.col("node").alias(id_a), "component")
    # The carved-edge count rides the checkpoint's materializing action
    # as an Observation (one job, not checkpoint-then-count).
    sub_obs = Observation("carved_edges")
    sub = (
        pairs.select(id_a, id_b)
        .join(member_a, id_a)
        .join(touched, "component", "semi")
        .select(id_a, id_b)
        .join(dead.select(F.col("node").alias(id_a)), id_a, "anti")
        .join(dead.select(F.col("node").alias(id_b)), id_b, "anti")
        .observe(sub_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # read 1-2x below (gate + CC)
    )
    if rebuild_edge_fraction < 1.0:
        n_sub = sub_obs.get["n"]
        n_pairs = pairs.select(id_a, id_b).count()
        if n_pairs > 0 and n_sub >= rebuild_edge_fraction * n_pairs:
            _LOG.info(
                "delete_from_clusters: carved %d/%d edges >= %.0f%% — "
                "scattered takedown, rebuilding on survivors instead",
                n_sub, n_pairs, 100 * rebuild_edge_fraction,
            )
            free_local_checkpoint(sub)
            surviving = (
                pairs.select(id_a, id_b)
                .join(dead.select(F.col("node").alias(id_a)), id_a, "anti")
                .join(dead.select(F.col("node").alias(id_b)), id_b, "anti")
            )
            rebuilt = connected_components(
                surviving, id_a=id_a, id_b=id_b,
                driver_threshold=driver_threshold, max_iter=max_iter,
            )
            _guard_no_resurrection(rebuilt, clusters)
            return rebuilt
    relabeled = connected_components(
        sub, id_a=id_a, id_b=id_b,
        driver_threshold=driver_threshold, max_iter=max_iter,
    )
    free_local_checkpoint(sub)  # CC output is independently materialized
    _guard_no_resurrection(relabeled, clusters)
    untouched = clusters.join(touched, "component", "anti")
    return untouched.unionByName(relabeled)


def _guard_no_resurrection(relabeled: DataFrame, clusters: DataFrame) -> None:
    """Stacked-takedown guard for ``delete_from_clusters``: every
    output node must already be clustered (by contract every pair
    endpoint is); an unknown node can only come from a pair row whose
    other endpoint died in an earlier uncompacted takedown, and
    letting it through silently corrupts the cluster table."""
    n_unknown = relabeled.join(clusters.select("node"), "node", "anti").count()
    if n_unknown:
        raise InconsistentStreamConfiguration(
            f"delete_from_clusters: {n_unknown} relabeled node(s) are "
            "absent from the input assignment — the pair table carries "
            "edges to ids deleted in an earlier uncompacted takedown. "
            "Run compact_band_tombstones(pairs_table=...) first or "
            "include those ids in deleted_ids."
        )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint: per token, take `bits` bits of the portable
    hash; each bit votes +1/-1; fingerprint sets bits with positive
    vote. Returns (id, simhash BIGINT)."""
    tokens = (
        spread(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"))
        .where(F.length("tok") > 0)
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    toks = tokens.withColumn("h", h)
    # One shuffle: 32 per-bit vote sums as aggregate COLUMNS over the
    # token rows (map-side partials shrink each partition to one row
    # per doc). The explode-bits alternative multiplies the shuffle by
    # `bits` and needs a second aggregation.
    #
    # Each vote/fingerprint term is ONE parsed SQL string, not a tree
    # of Column operators: the Column-API version cost ~6 py4j round
    # trips per bit plus a 60-term when-chain — measured ~0.9 s of
    # pure DRIVER time per simhash() call at bits=60 (the CDC
    # maintainer builds this frame twice per run, so plan CONSTRUCTION
    # was costing more than the cluster work it described; guide §7.3's
    # "driver is doing something single-threaded" case).
    votes = [
        F.expr(f"sum(if((shiftright(h, {b}) & 1) = 1, 1, -1))").alias(
            f"_v{b}"
        )
        for b in range(bits)
    ]
    fingerprint = F.expr(
        "cast("
        + " + ".join(f"if(_v{b} > 0, {1 << b}L, 0L)" for b in range(bits))
        + " as bigint)"
    )
    return toks.groupBy(id_col).agg(*votes).select(
        id_col, fingerprint.alias("simhash")
    )


def simhash_candidate_pairs(
    fingerprints: DataFrame, id_col: str = "doc_id", bits: int = 32, bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup candidates: docs sharing any of `bands` fingerprint
    bands (pigeonhole: hamming <= bands-1 guarantees a shared band),
    refined by exact hamming distance via xor bit_count.

    Banding is delegated to ``simhash_band_rows`` — the ONE banding
    spec — so the q_c5/streaming parity contracts (which compare this
    batch shape against the CDC-maintained fp_table) share one band
    layout and one bands-divides-bits refusal by construction."""
    from ..functions import checkpoint_spread

    # checkpoint-then-spread: `banded` feeds BOTH sides of the band
    # self-join, and lazily each side re-runs the whole fingerprint
    # pipeline (tokenize + bit-vote agg) — the same re-execution tax
    # measured on the minhash rep table (round 10). The frame is
    # (docs x bands) rows of four skinny columns.
    banded = checkpoint_spread(
        simhash_band_rows(fingerprints, id_col, bits=bits, bands=bands)
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "band", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "band", "band_val"
    )
    cand = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    ).where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def _simhash_band_width(bits: int, bands: int) -> int:
    """Bits per SimHash band — the one bands-divide-bits refusal. The
    near-dup maintainers call it when they build their scheme, so a bad
    geometry refuses before any table is read."""
    if bits % bands != 0:
        raise ValueError(f"simhash: bands ({bands}) must divide bits ({bits})")
    return bits // bands


def simhash_band_rows(
    fps: DataFrame, id_col: str, bits: int, bands: int
) -> DataFrame:
    """Banded fingerprint rows ``(id, simhash, band, band_val)`` from a
    ``simhash`` frame — the ONE banding spec shared by the CDC
    maintainer (``incremental_simhash_pairs``) and the streaming sink:
    both write the same fp_table, so their band key spaces must stay
    bit-identical by construction, not by parallel maintenance of two
    copies. ``bands`` must divide ``bits``."""
    width = _simhash_band_width(bits, bands)
    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                (1 << width) - 1
            )
            for i in range(bands)
        ]
    )
    return fps.select(
        F.col(id_col), "simhash", F.posexplode(band_arr).alias("band", "band_val")
    )
