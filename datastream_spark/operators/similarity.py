"""Similarity search over embedding columns (SURVEY.md §2.10 X3).

- ``cosine_topk``: exact brute-force top-k — broadcast the (small)
  query set against the full corpus; one narrow shuffle for the per-
  query top-k window. The correctness baseline.
- ``cosine_topk_ivf``: the scale path — coarse quantization (IVF):
  every vector is assigned to its nearest centroid once; queries probe
  only ``n_probe`` nearest cells, cutting the scanned fraction to
  ~n_probe/n_centroids of the corpus. The default centroids are a
  deterministic scaffold (first-N by id); pass ``train_ivf_centroids``
  (KMeans from a seeded, layout-free start, so the same centres on
  any core count or partitioning) for real recall.
- ``near_dup_pairs``: all pairs above a cosine threshold (X-dedup by
  embedding); brute at test scale, IVF-bucketed at 100 TB.

All dot products run JVM-side via ``zip_with``/``aggregate`` — no
Python UDF in the hot path; arrays are cast to double so results are
bit-comparable with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dot, l2_norm, spread


def _as_double(df: DataFrame, col: str) -> DataFrame:
    # spread: the corpus-side dot products are the heavy stage; a
    # single-file corpus must not serialize them into one task.
    return spread(df).withColumn(col, F.col(col).cast("array<double>"))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query id.

    Output: (query_id, neighbor_id, cosine), k rows per query,
    ties broken by neighbor_id (deterministic)."""
    e = _as_double(embeddings.select(id_col, vec_col), vec_col)
    e = e.withColumn("_norm", l2_norm(F.col(vec_col)))
    q = e.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qnorm"),
    )
    joined = e.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (dot(F.col(vec_col), F.col("_qv")) / (F.col("_norm") * F.col("_qnorm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def assign_ivf_cells(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: nearest-centroid cell per vector.

    Centroids default to the first ``n_centroids`` vectors by id
    (deterministic scaffold); pass KMeans cluster centers for quality.
    Assignment = argmax cosine over the broadcast centroid set, via
    one explode (broadcast nested-loop) + ``max_by`` groupBy — NOT a
    window: the N×C scored rows of a crossJoin all live in the source
    row's partition, so a hash aggregate's map-side combine collapses
    them to ONE row per vector before any exchange, where the old
    row_number window shuffled all N×C rows WITH both vector payloads
    (measured at sf10/448 cells: 9e7 rows × 2×64 doubles ≈ 90 GB of
    exchange, the whole q_x21 decade-2 blowup; the agg form shuffles N
    rows). Tie-break parity with the window form: max of
    (sim, -cell_id) == order by sim DESC NULLS LAST, cell_id ASC."""
    e = _as_double(embeddings.select(id_col, vec_col), vec_col)
    if centroids is None:
        centroids = e.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("_cv")
        )
    c = centroids.withColumn("_cnorm", l2_norm(F.col("_cv")))
    e = e.withColumn("_norm", l2_norm(F.col(vec_col)))
    scored = e.crossJoin(F.broadcast(c)).select(
        id_col,
        vec_col,
        "cell_id",
        F.struct(
            F.coalesce(
                dot(F.col(vec_col), F.col("_cv"))
                / (F.col("_norm") * F.col("_cnorm")),
                F.lit(float("-inf")),
            ).alias("s"),
            (-F.col("cell_id")).alias("nc"),
        ).alias("_key"),
    )
    return scored.groupBy(id_col).agg(
        F.first(vec_col).alias(vec_col),  # constant within the group
        F.max_by("cell_id", F.col("_key")).alias("cell_id"),
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Real IVF training: distributed KMeans over the corpus. Returns
    (cell_id, _cv) for ``assign_ivf_cells``/``cosine_topk_ivf``.

    The start is a function of the rows and ``seed`` only: the
    ``n_centroids`` distinct vectors with the smallest
    ``xxhash64(seed, vector)``, ties broken by the vector (one top-k
    job). From there ``pyspark.mllib`` KMeans runs up to ``max_iter``
    Lloyd iterations (``initialModel``; Euclidean, tolerance 1e-4).
    The centres therefore depend on neither the core count nor the
    input partitioning, up to the order of float summation. (The
    ``k-means||`` init of ``pyspark.ml`` KMeans draws its candidates
    partition by partition, so its seed picks different starts under
    each layout.) ``cell_id`` numbers the centres in start order.

    A corpus with fewer distinct vectors than ``n_centroids`` yields
    one centre per distinct vector. At 100 TB, train on a
    ``hash_sample`` of the corpus — centroid quality converges long
    before the full pass does."""
    from pyspark.mllib.clustering import KMeans, KMeansModel

    e = _as_double(embeddings.select(vec_col), vec_col)
    init = [
        r[0]
        for r in e.distinct()
        .orderBy(F.xxhash64(F.lit(seed), F.col(vec_col)), F.col(vec_col))
        .limit(n_centroids)
        .collect()
    ]
    centres = []
    if init:
        centres = KMeans.train(
            e.rdd.map(lambda r: r[0]),
            k=len(init),
            maxIterations=max_iter,
            initialModel=KMeansModel(init),
        ).clusterCenters
    return embeddings.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centres)],
        "cell_id int, _cv array<double>",
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the n_probe nearest IVF cells per
    query. Bench-only (recall < 1 by design). ``centroids`` from
    ``train_ivf_centroids`` for trained cells; defaults to the
    deterministic first-N scaffold."""
    if centroids is None:
        centroids = (
            _as_double(embeddings.select(id_col, vec_col), vec_col)
            .orderBy(id_col)
            .limit(n_centroids)
            .select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("_cv"))
        )
    cells = assign_ivf_cells(
        embeddings, n_centroids, id_col, vec_col, centroids=centroids
    )
    e = cells.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    e = e.withColumn("_norm", l2_norm(F.col(vec_col)))
    q = e.where(F.col(id_col).isin(query_ids)).drop("cell_id")
    c = centroids.withColumn("_cnorm", l2_norm(F.col("_cv")))
    q_cells = (
        q.crossJoin(F.broadcast(c))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.col("_norm").alias("_qnorm"),
            "cell_id",
            (dot(F.col(vec_col), F.col("_cv")) / (F.col("_norm") * F.col("_cnorm"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell_id"))
    probed = (
        q_cells.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "_qnorm", "cell_id")
    )
    joined = e.join(probed, "cell_id").where(F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (dot(F.col(vec_col), F.col("_qv")) / (F.col("_norm") * F.col("_qnorm"))).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _chunk_split_cells(
    cells: DataFrame, max_cell_size: int, id_col: str, vec_col: str
) -> DataFrame:
    """Cap IVF cell populations for ``semantic_dedup``: cells over
    ``max_cell_size`` are cut into contiguous chunks of the
    cosine-to-pivot ordering (see the caller's docstring for the why
    and the recall trade). One window shuffle keyed by cell_id plus a
    broadcast pivot join; no Python, no driver loop — a single pass
    caps every cell by construction, so no recursion is needed."""
    if max_cell_size < 2:
        raise ValueError("semantic_dedup: max_cell_size must be >= 2")
    # pivot per cell = the lowest-id member's vector; C rows, broadcast
    pivots = cells.groupBy("cell_id").agg(
        F.min_by(vec_col, F.col(id_col)).alias("_pv"),
        F.count(F.lit(1)).alias("_cn"),
    )
    x = cells.join(F.broadcast(pivots), "cell_id").withColumn(
        "_psim",
        dot(F.col(vec_col), F.col("_pv"))
        / (l2_norm(F.col(vec_col)) * l2_norm(F.col("_pv"))),
    )
    wo = Window.partitionBy("cell_id").orderBy(
        F.col("_psim").desc(), F.col(id_col)
    )
    chunked = x.withColumn(
        "_chunk", F.floor((F.row_number().over(wo) - 1) / max_cell_size)
    )
    wl = Window.partitionBy("cell_id", "_chunk")
    # chunk labels live in the negative space -(leader+1), which is
    # collision-free against anchor/KMeans cell ids ONLY for
    # non-negative member ids — a negative id would relabel into the
    # real cell-id space and silently merge groups, so refuse at
    # runtime (raise_error fires per violating row, costs nothing
    # otherwise)
    leader = F.min(F.col(id_col)).over(wl)
    relabel = F.when(
        leader < 0,
        F.raise_error(
            F.lit(
                "semantic_dedup: max_cell_size chunk labels require "
                "non-negative vector ids (labels are -(leader+1))"
            )
        ).cast("long"),
    ).otherwise(-(leader + 1))
    return chunked.withColumn(
        "cell_id",
        F.when(F.col("_cn") > max_cell_size, relabel).otherwise(
            F.col("cell_id")
        ),
    ).select(id_col, vec_col, "cell_id")


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.7,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    min_cell_size: int = 8,
    max_cell_size: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster embeddings around centroids, compute exact pairwise cosine
    WITHIN each cluster only, and drop every vector that is >= threshold
    similar to a lower-id vector in its cluster (lowest id is the
    keeper). Output: (id, cell_id, keep BOOLEAN), one row per vector.

    The whole point of the clustering step is scale: pair scoring is
    sum-of-|cell|^2 instead of N^2, each cell scored by one in-cell
    BLAS gemm (``applyInPandas``) with no task holding more than a
    cell. Cross-cluster near-duplicates are missed by construction —
    the documented SemDeDup recall trade.

    Deterministic by default (first-N-by-id anchor centroids + lowest-id
    keeper), so the decision is oracle-replicable; pass
    ``train_ivf_centroids`` output for real clustering quality.

    ``n_centroids=None`` (the default) sizes the cell count to the
    corpus as ceil(sqrt(count)), capped so expected cells don't drop
    below ``min_cell_size``: total work is assignment N*C plus in-cell
    gemm sum|cell|² ~ N²/C, and C = sqrt(N) balances them at the
    standard IVF Θ(N^1.5) — a FIXED cell count silently re-quadratizes
    the gemm as the corpus grows. Measured at sf10 (200k vectors):
    pinned 16 cells = 12.5k-row cells = 159 s of gemm; auto (=448
    cells) restores the designed shape (SCALE.md §17). Past ~10M
    vectors the brute-force assignment itself wants an ANN index over
    the centroids (documented boundary; assignment stays one
    broadcast+argmax here). A FIXED n_centroids remains right for
    oracle-replayable probes at gate scale.

    ``max_cell_size`` is the skew guard: auto cell COUNT balances the
    average, but real embedding corpora cluster heavily, and one hot
    cell of m rows costs m² regardless of how many cold cells surround
    it. Any cell over the cap is cut — deterministically and entirely
    JVM-side — into contiguous chunks of at most ``max_cell_size``
    members along the cosine-to-pivot order (pivot = the cell's
    lowest-id member; ties broken by id), each chunk relabeled
    ``-(lowest member id + 1)`` (the negative space can't collide with
    anchor/KMeans labels, and chunk leaders are unique because
    membership is disjoint). Sorting by pivot similarity keeps near
    -duplicates adjacent, so they land in the SAME chunk and are still
    caught — only pairs straddling a chunk boundary are lost (the same
    recall trade as the cell boundary itself, now bounded per cell).
    This also handles the case geometric re-clustering can't: a cell
    of m IDENTICAL vectors has no split plane, but chunking by (sim,
    id) order caps it all the same. Total pair work is therefore
    ≤ N·max_cell_size — linear in the corpus — instead of sum|cell|²
    with unbounded hot-cell terms. ``None`` disables the guard (the
    oracle-pinned probes do this to stay bit-replayable in SQL at any
    scale; the default stays on for production callers).
    """
    import math

    import numpy as np
    import pandas as pd

    e = _as_double(embeddings.select(id_col, vec_col), vec_col)
    if n_centroids is None and centroids is None:
        n = e.count()
        n_centroids = max(1, min(math.ceil(math.sqrt(n)), n // min_cell_size or 1))
    cells = assign_ivf_cells(
        e, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
        centroids=centroids,
    )
    # The assignment is the operator's dominant stage (N·C dots) and
    # every downstream branch re-reads `cells`: the chunk split twice
    # (pivots + join) and the dup scoring twice more (gemm + final
    # join). Materialize it ONCE — without this barrier the lineage
    # re-runs the argmax per branch (measured at sf10: 113 s vs 43 s).
    cells = cells.localCheckpoint(eager=True)
    if max_cell_size is not None:
        # Pay-as-needed (round 9): the split machinery (pivot join +
        # two windows) costs ~25% on BALANCED corpora that never
        # trip it. One count-agg over the already-checkpointed
        # assignment (map-side combine to C rows) decides whether any
        # cell exceeds the cap; skew-free corpora skip straight to
        # scoring and the capped output is unchanged either way (a
        # cell at or under the cap is never relabeled).
        over = (
            cells.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("_cn"))
            .where(F.col("_cn") > int(max_cell_size))
            .limit(1)
            .count()
        )
        if over:
            cells = _chunk_split_cells(
                cells, int(max_cell_size), id_col=id_col, vec_col=vec_col
            ).localCheckpoint(eager=True)
    thr = float(threshold)

    def dup_ids(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.stack(pdf[vec_col].to_numpy())
        norms = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(norms, norms)
        ai, bj = np.nonzero((cos >= thr) & (ids[:, None] < ids[None, :]))
        # a vector is a duplicate if ANY lower-id cluster-mate clears
        # the threshold; only the dropped ids leave the cell
        return pd.DataFrame({"dup_id": np.unique(ids[bj])})

    import pyspark.sql.types as T

    dups = cells.groupBy("cell_id").applyInPandas(
        dup_ids, schema=T.StructType([T.StructField("dup_id", T.LongType())])
    )
    # no broadcast hint: the dropped-id set scales with the corpus's
    # duplication rate (can be a large fraction at 100 TB) — AQE picks
    # broadcast at runtime when it is actually small
    return (
        cells.join(
            dups.withColumnRenamed("dup_id", id_col).withColumn(
                "_dup", F.lit(True)
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "cell_id",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` — 4x smaller embedding storage (the
    standard trade for ANN shortlists at 100 TB; re-rank survivors
    with the fp32 originals). Output: (id, q ARRAY<TINYINT>,
    scale DOUBLE). All-zero vectors quantize to zeros with scale 0.

    Pure narrow projection (higher-order functions, no shuffle, no
    Python); ``dequantize_embeddings`` inverts to within scale/2 per
    coordinate."""
    e = _as_double(embeddings.select(id_col, vec_col), vec_col)
    max_abs = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).alias("scale")
    # The row scalar is handed to the per-element lambda as DATA
    # (zip_with against an array_repeat), NOT referenced inside it: an
    # inlined max_abs re-evaluates its array_max PER ELEMENT — O(d²)
    # interpreted ops per row — wherever this projection feeds an
    # interpreted consumer (a MapInPandas input projection, HOF
    # composition). Round-11 measurement at sf1 (20k x 64): pq_encode
    # over the inlined form 16-23 s, over this form (or a checkpoint)
    # 1-2 s. Arithmetic is unchanged: same ops on the same doubles.
    q = F.zip_with(
        F.col(vec_col),
        F.array_repeat(max_abs, F.size(F.col(vec_col))),
        lambda x, ma: F.when(ma == 0.0, F.lit(0))
        .otherwise(F.round(x / (ma / 127.0)))
        .cast("tinyint"),
    )
    return e.select(F.col(id_col), q.alias("q"), scale)


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of ``quantize_embeddings``: (id, embedding ARRAY<DOUBLE>)
    reconstructed as ``q_i * scale``. Same lambda-scalar discipline as
    the quantizer: when this composes lazily onto quantize output,
    CollapseProject inlines the scale ALIAS (an array_max) into the
    per-element lambda — O(d²) per row interpreted; zip_with hands the
    evaluated value in as data."""
    return quantized.select(
        F.col(id_col),
        F.zip_with(
            F.col("q"),
            F.array_repeat(F.col("scale"), F.size(F.col("q"))),
            lambda qv, s: qv.cast("double") * s,
        ).alias("embedding"),
    )


#: pair-scoring output schema shared by the matmul and IVF paths
def _pair_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    max_matmul_vectors: int = 200_000,
    target_cell_size: int = 8_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    method='matmul' (exact): the corpus matrix ships once per executor
    via ``sparkContext.broadcast`` and each Arrow batch scores ALL its
    pairs with one BLAS gemm — thousands of fused multiply-adds per row
    versus one interpreted lambda step per element for a zip_with
    formulation. This is the dense analogue of a broadcast join: N^2
    pair *scores* are computed but never materialized as rows; only
    survivors emerge.

    method='ivf' (approximate, the 100 TB path): bucket vectors into
    IVF cells (``assign_ivf_cells``) and run one in-cell gemm per cell
    (``applyInPandas``). Work drops from N^2 to sum over cells of
    |cell|^2 — with balanced cells a ~n_cells-fold cut — and no task
    ever holds more than one cell. True near-duplicates almost always
    share a nearest centroid; pairs straddling a cell boundary are
    missed (documented recall trade, same as every IVF index).

    'auto' picks matmul while the corpus fits the broadcast budget
    (~1.5 GB at the 200k x 1k-dim default cap), else 'ivf'. There is
    deliberately no all-pairs SQL fallback: a corpus too big to
    broadcast is exactly where an O(N^2) nested-loop join is lethal.
    """
    import numpy as np
    import pandas as pd

    # No spread() before the collect-only matmul path: the fan-out
    # repartition (and the physical-planning partition probe behind
    # it) only helps EXECUTOR-side compute, and the matmul path moves
    # the matrix to the driver anyway — round 11 measured the spread
    # as a pure extra shuffle + planning pass here. The ivf path
    # (executor gemms) spreads below.
    e_raw = embeddings.select(id_col, vec_col).withColumn(
        vec_col, F.col(vec_col).cast("array<double>")
    )
    thr = float(threshold)

    rows = None
    if method == "auto":
        # ONE bounded collect decides the method AND (when matmul
        # wins) already holds the matrix — the previous limit+count
        # probe scanned the corpus once just to throw the rows away
        # and scan again (guide §1.2). Past the cap the collected
        # prefix is discarded and ivf re-scans; that waste is bounded
        # by the cap and only paid on the path that is about to do
        # corpus-scale work anyway.
        rows = e_raw.limit(max_matmul_vectors + 1).collect()
        method = "matmul" if len(rows) <= max_matmul_vectors else "ivf"

    if method == "matmul":
        if rows is None:
            rows = e_raw.collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        m = np.array([r[1] for r in rows], dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        spark = embeddings.sparkSession

        if len(ids) <= 20_000:
            # Broadcast-scale corpus: a driver-side gemm beats
            # shipping the matrix to Python workers (worker spin-up and
            # Arrow exchange dominate at this size — same adaptive call
            # as the connected-components driver path). CHUNKED over
            # row blocks (round 11): the one-shot `m @ m.T /
            # np.outer(...)` built three full n x n doubles (9.6 GB of
            # transients at n=20k) plus two n x n masks — measured 68 s
            # (and up to 470 s under memory pressure) at sf1 where the
            # blocked form runs the SAME per-pair dots in ~4 s. Each
            # block computes rows i0:i1 against the whole matrix
            # (BLAS-efficient), normalizes in place, and masks in
            # block-local scratch. Per-pair arithmetic is unchanged:
            # dot(v_i, v_j) / (norm_i * norm_j) over the same doubles.
            out = []
            blk = 2048
            for i0 in range(0, len(ids), blk):
                i1 = min(i0 + blk, len(ids))
                cos = m[i0:i1] @ m.T  # (blk, n)
                # one division by the PRODUCT, exactly as the unblocked
                # form (and the oracle): a/(b*c) and (a/b)/c differ in
                # the last ulp, and the probes round these values.
                cos /= norms[i0:i1, None] * norms[None, :]
                mask = (cos >= thr) & (ids[i0:i1, None] < ids[None, :])
                ai, bj = np.nonzero(mask)
                out.extend(
                    (int(ids[i0 + i]), int(ids[j]), float(cos[i, j]))
                    for i, j in zip(ai, bj)
                )
            return spark.createDataFrame(out, "id_a long, id_b long, cosine double")

        # One copy per executor, not one per task serialization: the
        # matrix rides an explicit broadcast variable instead of the
        # closure (round-2 review: closure capture re-ships ~GBs with
        # every task batch). This leg computes on executors, so the
        # probe side DOES get the spread fan-out.
        e = spread(e_raw)
        bc = spark.sparkContext.broadcast((ids, m, norms))

        def score(batches):
            b_ids, b_m, b_norms = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                a_ids = pdf[id_col].to_numpy(dtype=np.int64)
                a = np.stack(pdf[vec_col].to_numpy())
                a_norms = np.sqrt((a * a).sum(axis=1))
                cos = (a @ b_m.T) / np.outer(a_norms, b_norms)
                ai, bj = np.nonzero(
                    (cos >= thr) & (a_ids[:, None] < b_ids[None, :])
                )
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": b_ids[bj], "cosine": cos[ai, bj]}
                )

        return e.mapInPandas(score, schema=_pair_schema())

    if method != "ivf":
        raise ValueError(f"unknown method {method!r} (matmul | ivf | auto)")

    e = spread(e_raw)
    n = e.count()
    n_centroids = max(16, n // target_cell_size)
    cells = assign_ivf_cells(
        e, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )

    def score_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.stack(pdf[vec_col].to_numpy())
        norms = np.sqrt((m * m).sum(axis=1))
        cos = (m @ m.T) / np.outer(norms, norms)
        ai, bj = np.nonzero((cos >= thr) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bj], "cosine": cos[ai, bj]}
        )

    return (
        cells.groupBy("cell_id")
        .applyInPandas(score_cell, schema=_pair_schema())
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the compressed-domain ANN path
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    method: str = "local",
    sample_cap: int = 100_000,
):
    """Train PQ codebooks: split each d-dim vector into ``m`` subvectors
    of d/m dims, KMeans each subspace independently (pyspark.ml,
    distributed, fixed seed). Returns a numpy array of shape
    (m, k, d/m) — KBs of state, broadcast into encode/score.

    Memory math (the reason PQ exists at 100 TB): codes are m bytes per
    vector vs 4·d fp32 bytes — at d=1024, m=32 that's a 128× shrink, so
    a 1e11-vector corpus's codes fit a modest cluster's RAM while the
    fp32 originals stay in object storage for re-ranking survivors
    only.

    ``method="local"`` (default, the faiss-style shape): collect a
    deterministic hash-sample: the ≤ ``sample_cap`` vectors with the
    smallest ``xxhash64(seed, vector)``, ties broken by the vector
    (codebooks are k·(d/m) floats per subspace; centroid quality
    converges on a sample long before a full pass). That is two jobs:
    a count, then a top-k over the rows below a hash threshold set to
    keep about 2·``sample_cap`` of them, so the top-k's single reducer
    receives that many rows, not the corpus. Start from the sample's
    first k rows in hash order and run vectorized Lloyd iterations for
    ALL m subspaces at once in numpy. Nothing depends on the input's
    partitioning or the core count.
    ``method="ml"`` runs m ``pyspark.ml`` KMeans fits over the full
    corpus instead — use it when the corpus genuinely can't be
    sampled, and budget m × (init + max_iter) Spark jobs."""
    import numpy as np

    e = _as_double(embeddings.select(vec_col), vec_col)

    if method == "local":
        h = F.xxhash64(F.lit(seed), F.col(vec_col))
        n = e.count()
        if n > 2 * sample_cap:
            # a row-wise cut by the same hash: deterministic, no shuffle
            e = e.where(h < int(-(2**63) + 2 * sample_cap / n * 2**64))
        rows = e.orderBy(h, F.col(vec_col)).limit(sample_cap).collect()
        if not rows:
            raise ValueError("empty corpus")
        # dimension/divisibility come from the collected sample — a
        # separate first(size) probe was one more full-latency driver
        # job per training call (guide §1.2).
        x = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
        d = x.shape[1]
        if d % m:
            raise ValueError(f"dim {d} not divisible by m={m}")
        sub = d // m
        xs = x.reshape(x.shape[0], m, sub)  # (n, m, sub)
        # deterministic init: the first k sample rows in hash order
        cb = xs[:k].transpose(1, 0, 2).copy()  # (m, k, sub)
        for _ in range(max_iter):
            # assign: argmin_c |xs - cb|^2 per subspace, all at once
            d2 = ((xs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)
            assign = np.argmin(d2, axis=2)  # (n, m)
            for si in range(m):
                for c in range(k):
                    mask = assign[:, si] == c
                    if mask.any():
                        cb[si, c] = xs[mask, si].mean(axis=0)
        return cb

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    first = e.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError("empty corpus")
    d = first[0]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for s in range(m):
        feats = e.select(
            array_to_vector(
                F.slice(F.col(vec_col), s * sub + 1, sub)
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(feats)
        books.append(np.array(model.clusterCenters(), dtype=np.float64))
    return np.stack(books)  # (m, k, sub)


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each subvector its nearest codebook centroid. Output:
    (id, codes ARRAY<INT>[m], recon_norm DOUBLE) — ``recon_norm`` is
    the exact L2 norm of the reconstruction (subspaces are orthogonal,
    so it follows from the chosen centroids alone) and is what ADC
    cosine divides by.

    Vectorized Arrow-batched kernel (one einsum per batch against the
    broadcast (m,k,sub) codebook) — the argmin-over-k inner loop is
    exactly the shape interpreted higher-order lambdas are worst at;
    numpy does the whole batch at BLAS speed."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    mm, kk, sub = codebooks.shape

    schema = T.StructType(
        [
            T.StructField("_id", T.LongType(), False),
            T.StructField("codes", T.ArrayType(T.IntegerType()), False),
            T.StructField("recon_norm", T.DoubleType(), False),
        ]
    )

    def run(batches):
        cb = bc.value  # (m, k, sub)
        cb_sq = (cb * cb).sum(axis=2)  # (m, k)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["_v"].to_numpy())  # (n, d)
            n = x.shape[0]
            xs = x.reshape(n, mm, sub)  # (n, m, sub)
            # argmin_c |xs - cb|^2 = argmin_c (|cb|^2 - 2 xs·cb)
            dots = np.einsum("nms,mks->nmk", xs, cb)  # (n, m, k)
            codes = np.argmin(cb_sq[None, :, :] - 2.0 * dots, axis=2)  # (n, m)
            recon_sq = np.take_along_axis(
                cb_sq[None, :, :].repeat(n, axis=0), codes[:, :, None], axis=2
            )[:, :, 0].sum(axis=1)
            yield pd.DataFrame(
                {
                    "_id": pdf["_idv"].to_numpy(),
                    "codes": [c.astype("int32").tolist() for c in codes],
                    "recon_norm": np.sqrt(recon_sq),
                }
            )

    e = _as_double(embeddings.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("_idv"), F.col(vec_col).alias("_v")
    )
    return e.mapInPandas(run, schema=schema).select(
        F.col("_id").alias(id_col), "codes", "recon_norm"
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_with: DataFrame | None = None,
    shortlist: int | None = None,
    metric: str = "cosine",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes:
    per query, a (m, k) lookup table of subvector dot products is
    computed ONCE driver-side (numpy over the KB-sized codebook), then
    every corpus score is ``Σ_s LUT[s][codes[s]]`` — a pure JVM
    ``aggregate`` over the int code array. No Python per corpus row,
    no decompression: the scan reads m smallints per vector instead of
    d floats, which is the entire point at 100 TB.

    Output: (query_id, neighbor_id, cosine_adc) — cosine against the
    reconstruction (recall < 1 by construction). ``rerank_with`` is the
    production shape: ADC selects a ``shortlist`` (default 8·k) of
    candidates per query from the compressed domain, then the fp32
    originals rescore ONLY those — the expensive exact arithmetic runs
    on shortlist·queries rows instead of the corpus, and output recall
    is the (much higher) shortlist recall. Re-ranked output scores are
    exact cosine in a ``cosine_adc``-named column for a stable schema.

    ``metric="dot"`` ranks by the raw (MIPS) inner product instead —
    no norms, no division, no sqrt — in a ``score_adc`` column. Over
    integer-valued vectors and codebooks every score is exact integer
    arithmetic in doubles, which is what lets the q_x3f probe replay
    the full encode→ADC→re-rank chain bit-for-bit in SQL."""
    import numpy as np

    if metric not in ("cosine", "dot"):
        raise ValueError(f"unknown metric {metric!r}")
    score_col = "cosine_adc" if metric == "cosine" else "score_adc"

    def score(dot_col, norm_a, norm_b):
        """Raw inner product (dot) or zero-norm-safe cosine — the ONE
        place the metric switch lives for both ADC and re-rank."""
        if metric == "dot":
            return dot_col
        return dot_col / F.when(
            (norm_a == 0.0) | (norm_b == 0.0), F.lit(float("inf"))
        ).otherwise(norm_a * norm_b)

    cb = np.asarray(codebooks, dtype=np.float64)
    mm, kk, sub = cb.shape
    spark = codes_df.sparkSession

    qrows = _as_double(queries.select(id_col, vec_col), vec_col).collect()
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=np.float64).reshape(mm, sub)
        lut = np.einsum("ms,mks->mk", qv, cb)  # (m, k)
        qn = float(np.linalg.norm(qv))
        lut_rows.append(
            (int(r[id_col]), [list(map(float, row)) for row in lut], qn)
        )
    luts = spark.createDataFrame(
        lut_rows, "query_id long, lut array<array<double>>, qnorm double"
    )

    scored = (
        codes_df.crossJoin(F.broadcast(luts))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            # SQL bracket indexing is 0-based (element_at is the
            # 1-based one) — s walks subspaces, codes[s] the chosen
            # code. The sum is UNROLLED into m flat terms instead of a
            # higher-order `aggregate` fold: HOF lambdas are
            # interpreted per row while the flat sum compiles into
            # whole-stage codegen (kernel A/B at 2M rows: 1.09 s ->
            # 0.73 s), and it is bit-identical — left-associated
            # addition in the same term order, and the fold's 0.0
            # seed is exact (-0.0 + t0 == t0 for every non-NaN t0).
            F.expr(
                " + ".join(f"lut[{s}][codes[{s}]]" for s in range(mm))
            ).alias("_adot"),
            "qnorm",
            "recon_norm",
        )
        .select(
            "query_id",
            "neighbor_id",
            score(
                F.col("_adot"), F.col("qnorm"), F.col("recon_norm")
            ).alias(score_col),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    if rerank_with is None:
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    n_short = shortlist or 8 * k
    short = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_short)
        .select("query_id", "neighbor_id")
    )
    fp = _as_double(rerank_with.select(id_col, vec_col), vec_col)
    fp = fp.withColumn("_n", l2_norm(F.col(vec_col)))
    qv = luts.select("query_id").join(
        fp.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            F.col("_n").alias("_qn"),
        ),
        "query_id",
    )
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(
            fp.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_nv"),
                F.col("_n").alias("_nn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            score(
                dot(F.col("_qv"), F.col("_nv")),
                F.col("_qn"),
                F.col("_nn"),
            ).alias(score_col),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
