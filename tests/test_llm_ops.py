"""Known-answer tests for the training-data pipeline operators."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datastream_spark.operators import dedup, multimodal, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick brown fox jumps over the lazy dog "),  # exact dup mod norm
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "el rapido zorro marron salta sobre el perro"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalization(spark, docs):
    from datastream_spark.functions import norm_text

    groups = docs.groupBy(norm_text(F.col("text")).alias("n")).agg(
        F.count("*").alias("c"), F.min("doc_id").alias("keeper")
    )
    got = {r["keeper"]: r["c"] for r in groups.collect()}
    assert got[1] == 2  # docs 1+2 collapse
    assert got[3] == 1


def test_minhash_similarity_ordering(spark, docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=64, shingle_k=3)
    assert sigs.count() == 5 * 64
    pairs = dedup.minhash_candidate_pairs(sigs, rows_per_band=4)
    est = dedup.minhash_jaccard_estimate(sigs, pairs, num_hashes=64)
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in est.collect()}
    assert by_pair[(1, 2)] == 1.0  # identical after normalization
    # near-dup pair scores high; unrelated pair shouldn't surface at all
    assert by_pair.get((1, 3), 0) > 0.5
    assert (1, 4) not in by_pair or by_pair[(1, 4)] < 0.3


def test_tune_rows_per_band_places_s_curve_under_threshold():
    """Auto band geometry: largest r dividing num_hashes whose implied
    LSH threshold (1/b)^(1/r) stays <= min_jaccard — recall-safe (the
    S-curve's steep part sits just under the query threshold) while a
    mismatched geometry floods candidates (SCALE.md §17)."""
    cases = {0.3: 2, 0.5: 2, 0.7: 4, 0.85: 8, 0.95: 8}
    for t, want_r in cases.items():
        r = dedup.tune_rows_per_band(32, t)
        assert r == want_r
        b = 32 // r
        assert (1.0 / b) ** (1.0 / r) <= t  # never above the threshold
    assert dedup.tune_rows_per_band(32, 0.01) == 1


def test_ngram_jaccard_exact(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got  # dog/cat differ by a few shingles only
    assert all(j >= 0.8 for j in got.values())


def test_ngram_jaccard_releases_its_frequency_cache(spark, docs):
    """The shingle-frequency table is cached only while the call needs
    it: on the sparse path nothing stays persisted, on the bitmap path
    only the local checkpoint the result reads."""
    import random

    def persistent():
        # ids, not a count: the context cleaner may drop earlier tests'
        # RDDs at any moment
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    rng = random.Random(7)
    sparse = spark.createDataFrame(
        [
            (i, "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(400)))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    before = persistent()
    pairs = dedup.ngram_jaccard_pairs(sparse, k=5, threshold=0.8)
    assert not persistent() - before
    assert pairs.count() == 0
    assert not persistent() - before

    before = persistent()
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    assert len(persistent() - before) == 1
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} >= {(1, 2)}


def test_simhash_near_dup(spark, docs):
    fps = dedup.simhash(docs, bits=32)
    fp = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert fp[1] == fp[2]  # normalized-identical -> same fingerprint
    ham_13 = bin(fp[1] ^ fp[3]).count("1")
    ham_14 = bin(fp[1] ^ fp[4]).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated
    pairs = dedup.simhash_candidate_pairs(fps, bits=32, bands=4, max_hamming=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    # banding now delegates to simhash_band_rows (the ONE banding
    # spec), so non-dividing geometry refuses instead of silently
    # truncating the last band's width (round-7 advice)
    with pytest.raises(ValueError, match="divide"):
        dedup.simhash_candidate_pairs(fps, bits=32, bands=7)


def test_cosine_topk_self_consistency(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.cosine_topk(e, query_ids=[0], k=3)
    got = [(r["neighbor_id"], round(r["cosine"], 4)) for r in out.collect()]
    assert got[0][0] == 1  # most similar
    assert got[-1][0] == 3 and got[-1][1] == -1.0


def test_ivf_recall_on_testdata(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.cosine_topk(e, query_ids=list(range(10)), k=5)
    approx = similarity.cosine_topk_ivf(
        e, query_ids=list(range(10)), k=5, n_centroids=8, n_probe=4
    )
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3  # scaffold centroids: sanity floor, not quality bar


def test_ivf_kmeans_centroids_beat_scaffold(spark):
    """Trained centroids (KMeans) must not regress recall vs the
    deterministic first-N scaffold at equal probe budget. The queries
    are the ten ids after the scaffold's centroid ids 0..7: a query
    that is itself a scaffold centroid sits exactly on a cell centre,
    which no trained centroid set can be asked to match."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query_ids = list(range(8, 18))
    exact = similarity.cosine_topk(e, query_ids=query_ids, k=5)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(centroids):
        ap = similarity.cosine_topk_ivf(
            e, query_ids=query_ids, k=5, n_centroids=8, n_probe=4,
            centroids=centroids,
        )
        got = {(r["query_id"], r["neighbor_id"]) for r in ap.collect()}
        return len(ex & got) / len(ex)

    trained = similarity.train_ivf_centroids(e, n_centroids=8, max_iter=10)
    r_scaffold = recall(None)
    r_trained = recall(trained)
    assert r_trained >= r_scaffold - 0.05  # allow tie within noise
    assert r_trained >= 0.5


def test_train_ivf_centroids_independent_of_partitioning(spark):
    """The same rows and seed give the same centres whatever the input
    partitioning (and so whatever the core count behind ``spread``).
    The tolerance covers the order of float summation only."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def centres(df):
        c = similarity.train_ivf_centroids(df, n_centroids=8, max_iter=10)
        return {r["cell_id"]: r["_cv"] for r in c.collect()}

    base = centres(e)
    assert len(base) == 8
    for n in (3, 7):
        other = centres(e.repartition(n))
        assert other.keys() == base.keys()
        for cell, cv in base.items():
            assert max(abs(a - b) for a, b in zip(cv, other[cell])) <= 1e-9, (
                n, cell)


def test_train_pq_codebooks_independent_of_partitioning(spark):
    """``train_pq_codebooks(method="local")`` samples and starts in hash
    order, so the same rows and seed give the same codebooks whatever
    the input partitioning, also when a ``sample_cap`` below half the
    corpus makes it cut by hash threshold first."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for kw in ({}, {"sample_cap": 200}):
        base = similarity.train_pq_codebooks(e, m=16, k=16, max_iter=10, **kw)
        for n in (3, 7):
            other = similarity.train_pq_codebooks(
                e.repartition(n), m=16, k=16, max_iter=10, **kw
            )
            assert other.shape == base.shape
            assert float(abs(other - base).max()) <= 1e-9, (n, kw)


def test_chunk_documents_invariants(spark):
    """Structural invariants for every document length 1..80 at chunk
    50 / overlap 10 (one Spark job): chunks tile the token stream with
    exactly `overlap` shared tokens between neighbors, cover every
    token, and never emit a chunk contained in its predecessor."""
    from datastream_spark.operators import curation

    docs = [(n, " ".join(f"t{i}" for i in range(n))) for n in range(1, 81)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = curation.chunk_documents(df, chunk_tokens=50, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(range(1, 81))
    for n, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        spans = [(r["chunk_start"], r["chunk_start"] + r["chunk_len"]) for r in chunks]
        assert spans[0][0] == 0
        assert spans[-1][1] == n  # full coverage, exact end
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert s1 - s0 == 40  # stride
            assert e1 > e0  # no contained tails
            assert e0 - s1 == 10 or e0 == n  # exact overlap inside
        for r in chunks:
            toks = r["chunk_text"].split(" ")
            assert toks == [f"t{i}" for i in range(r["chunk_start"], r["chunk_start"] + r["chunk_len"])]


def test_graph_parse_edge_cases(spark):
    """Graph parse robustness: empty snapshots, missing contract keys,
    and attr-only elements degrade to nulls/zeros, never errors."""
    from datastream_spark.operators import graphs

    rows = [
        ("s", dt.datetime(2024, 1, 1), '{"v": [], "e": []}'),
        ("s", dt.datetime(2024, 1, 2), '{"v": [{"x": "noid"}], "e": [{"w": 1}]}'),
        ("s", dt.datetime(2024, 1, 3), "{}"),
    ]
    df = spark.createDataFrame(rows, "stream_id string, ts timestamp, value_json string")
    stats = {r["ts"].day: r for r in graphs.graph_stats(df).collect()}
    assert (stats[1]["n_vertices"], stats[1]["n_edges"]) == (0, 0)
    assert (stats[2]["n_vertices"], stats[2]["n_edges"]) == (1, 1)
    # an edge with no 'f' key has no out-degree to attribute
    assert stats[2]["max_out_degree"] == 0
    assert (stats[3]["n_vertices"], stats[3]["n_edges"]) == (0, 0)
    v = graphs.graph_vertices(df).collect()
    assert len(v) == 1 and v[0]["vertex_id"] is None and dict(v[0]["attrs"]) == {"x": "noid"}
    e = graphs.graph_edges(df).collect()
    assert len(e) == 1 and e[0]["src"] is None and dict(e[0]["attrs"]) == {"w": "1"}


def test_embedding_quantization_roundtrip(spark):
    """int8 quantize/dequantize: per-coordinate error <= scale/2,
    cosine structure preserved, zero vectors survive."""
    import math

    rows = [
        (0, [1.0, -2.0, 0.5]),
        (1, [0.0, 0.0, 0.0]),
        (2, [127.0, -127.0, 63.5]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = similarity.quantize_embeddings(e)
    back = {
        r["vec_id"]: r["embedding"]
        for r in similarity.dequantize_embeddings(q).collect()
    }
    scales = {r["vec_id"]: r["scale"] for r in q.collect()}
    for vid, vec in rows:
        for orig, rec in zip(vec, back[vid]):
            assert abs(orig - rec) <= scales[vid] / 2 + 1e-12
    assert back[1] == [0.0, 0.0, 0.0] and scales[1] == 0.0
    # cosine between real embeddings survives quantization to ~1e-2
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    deq = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    a = {r["vec_id"]: r["embedding"] for r in emb.limit(20).collect()}
    b = {r["vec_id"]: r["embedding"] for r in deq.where("vec_id < 20").collect()}

    def cos(u, v):
        d = sum(x * y for x, y in zip(u, v))
        return d / math.sqrt(sum(x * x for x in u) * sum(y * y for y in v))

    ids = sorted(a)
    for i, j in zip(ids, ids[1:]):
        assert abs(cos(a[i], a[j]) - cos(b[i], b[j])) < 2e-2


def test_quantize_arithmetic_exact_vs_numpy(spark):
    """The zip_with/array_repeat quantizer (round 11: the row scalar is
    handed to the lambda as data, not re-evaluated per element) must
    produce bit-identical q/scale to the straightforward numpy replay
    of the declared arithmetic round(x / (max|v| / 127))."""
    import numpy as np

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: (list(r["q"]), r["scale"])
        for r in similarity.quantize_embeddings(e).collect()
    }
    for r in e.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        ma = float(np.abs(v).max())
        scale = ma / 127.0
        if ma == 0.0:
            want = [0] * len(v)
        else:
            # Spark round() is HALF_UP (away from zero) on the exact
            # double; numpy rounds half-to-even, so replay per element
            # via Decimal ROUND_HALF_UP over the exact binary value.
            from decimal import ROUND_HALF_UP, Decimal

            want = [
                int(
                    Decimal(x / (ma / 127.0)).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                for x in v
            ]
        q, s = got[r["vec_id"]]
        assert q == want and s == scale


def test_near_dup_pairs_ivf_path(spark):
    """The beyond-broadcast route: IVF cells + per-cell gemm. Must find
    the in-cell near-dups the exact path finds, and its plan must not
    contain any all-pairs join (no CartesianProduct; the only Python
    stage is the per-cell FlatMapGroupsInPandas)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.near_dup_pairs(e, threshold=0.9, method="matmul")
    approx = similarity.near_dup_pairs(
        e, threshold=0.9, method="ivf", target_cell_size=100
    )
    ex = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    ap = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert ap <= ex  # every IVF pair is a true pair (exact scoring in-cell)
    if ex:
        assert len(ap) / len(ex) >= 0.5  # most near-dups share a cell
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_language_id_and_quality(spark, docs):
    langs = {r["doc_id"]: r["pred_lang"] for r in textops.language_id(docs).collect()}
    assert langs[1] == "en"
    assert langs[5] == "es"
    q = {r["doc_id"]: r["quality"] for r in textops.quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())


def test_fingerprint_order_sensitivity(spark):
    d = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textops.doc_fingerprint(d).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]  # order matters


def test_netpbm_and_wav_codecs_roundtrip():
    """The pure-numpy codecs are real: encode -> decode is identity,
    and features computed from decoded arrays are exact."""
    import numpy as np

    img = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    back = multimodal.decode_netpbm(multimodal.encode_ppm(img))
    assert (back == img).all()
    # known luma: a uniform gray image
    gray = np.full((8, 8, 3), 128, dtype=np.uint8)
    luma = multimodal._luma(multimodal.decode_netpbm(multimodal.encode_ppm(gray)))
    assert abs(luma.mean() - 128 / 255) < 1e-12

    rate = 8000
    t = np.arange(rate) / rate  # 1s
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    got_rate, got = multimodal.decode_wav(multimodal.encode_wav(rate, x))
    assert got_rate == rate and len(got) == rate
    assert abs(float(np.sqrt((got**2).mean())) - 0.5 / np.sqrt(2)) < 1e-3
    assert multimodal.decode_wav(b"not a wav") is None
    assert multimodal.decode_netpbm(b"\x89PNG...") is None


def test_multimodal_plumbing(spark):
    """Image decode runs the REAL netpbm kernel end-to-end (payloads
    from make_fake_media are genuine PPM): decoded dimensions match
    the typed metadata, features are deterministic, and non-netpbm
    payloads still refuse without fake=True."""
    media = multimodal.make_fake_media(spark, 30)
    feats = multimodal.decode_image_features(media, fake=False)
    rows = feats.collect()
    assert len(rows) == 10  # one third are images
    meta = {
        r["media_id"]: (r["meta"]["width"], r["meta"]["height"])
        for r in media.where("kind = 'image'").collect()
    }
    assert all((r["width"], r["height"]) == meta[r["media_id"]] for r in rows)
    assert all(0.0 <= r["mean_luma"] <= 1.0 for r in rows)
    # deterministic: second run identical
    again = {r["media_id"]: r["phash"] for r in multimodal.decode_image_features(media, fake=False).collect()}
    assert {r["media_id"]: r["phash"] for r in rows} == again
    # non-netpbm payloads refuse without libraries (unless fake=True)
    junk = spark.createDataFrame(
        [(99, "image", b"\x89PNG junk", None)], multimodal.MEDIA_SCHEMA
    )
    with pytest.raises(Exception):
        multimodal.decode_image_features(junk, fake=False).collect()
    assert multimodal.decode_image_features(junk, fake=True).count() == 1
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    assert plan.groupBy("media_id").count().collect()[0]["count"] == 5


def test_multimodal_resize_and_audio(spark):
    media = multimodal.make_fake_media(spark, 30)
    resized = multimodal.resize_images(media, 32, 16, fake=False).collect()
    assert len(resized) == 10
    # payloads are REAL PPM re-encodings of the resized pixels
    for r in resized:
        img = multimodal.decode_netpbm(bytes(r["payload"]))
        assert img.shape == (16, 32, 3)
        assert (r["width"], r["height"]) == (32, 16)
    # deterministic across runs
    again = {
        r["media_id"]: bytes(r["payload"])
        for r in multimodal.resize_images(media, 32, 16, fake=False).collect()
    }
    assert {r["media_id"]: bytes(r["payload"]) for r in resized} == again

    audio = multimodal.extract_audio_features(media, fake=False).collect()
    assert len(audio) == 10  # one third are audio
    # real WAV decode: sine at amplitude 0.5 -> rms = 0.5/sqrt(2)
    assert all(r["sample_rate"] == 8000 for r in audio)
    assert all(r["duration_ms"] == 250 for r in audio)
    assert all(abs(r["rms"] - 0.353553) < 1e-3 for r in audio)
    assert all(0.0 < r["zero_crossing_rate"] < 0.3 for r in audio)
    junk = spark.createDataFrame(
        [(99, "audio", b"ID3 mp3 junk", (None, None, 44100, 1000, "mp3"))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):
        multimodal.extract_audio_features(junk, fake=False).collect()


def test_minhash_vs_ngram_agreement(spark):
    """MinHash estimates should track exact Jaccard (quality property)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.9)
    sigs = dedup.minhash_signatures(docs, num_hashes=64, shingle_k=3)
    pairs = dedup.minhash_candidate_pairs(sigs, rows_per_band=4)
    est = dedup.minhash_jaccard_estimate(sigs, pairs, num_hashes=64)
    strong = est.where(F.col("jaccard_est") >= 0.9)
    ex = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    st = {(r["id_a"], r["id_b"]) for r in strong.collect()}
    if ex:
        assert len(ex & st) / len(ex) >= 0.5  # recall of true 0.9-dups


def test_connected_components_clusters(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    got = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_both_strategies_agree(spark):
    """Driver union-find vs the distributed large-star/small-star leg
    (driver_threshold=0) on a graph stressing exactly what broke the
    old min-label leg: long chains (diameter >> log n — min-label
    needed diameter rounds, large/small-star must converge in O(log n)
    — enforced via max_iter=20 << chain length), a high-degree star,
    random clutter including self-pairs, and string ids (lexicographic
    min)."""
    import random

    rnd = random.Random(42)
    edges = set()
    for base in range(0, 1000, 100):  # 10 chains of diameter 99
        for i in range(base, base + 99):
            edges.add((i, i + 1))
    for i in range(5000, 5040):  # star
        edges.add((5000, i))
    for _ in range(500):  # clutter incl. self-pairs
        edges.add((rnd.randrange(6000, 6200), rnd.randrange(6000, 6200)))
    pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    drv = {
        (r.node, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        (r.node, r.component)
        for r in dedup.connected_components(
            pairs, driver_threshold=0, max_iter=20
        ).collect()
    }
    assert drv == dist
    spairs = pairs.selectExpr(
        "concat('d', lpad(cast(id_a as string), 6, '0')) id_a",
        "concat('d', lpad(cast(id_b as string), 6, '0')) id_b",
    )
    sdrv = {
        (r.node, r.component)
        for r in dedup.connected_components(spairs).collect()
    }
    sdist = {
        (r.node, r.component)
        for r in dedup.connected_components(
            spairs, driver_threshold=0, max_iter=20
        ).collect()
    }
    assert sdrv == sdist


# ---------------------------------------------------------------------------
# Curation operators (operators/curation.py — q_x12..q_x15 surface)
# ---------------------------------------------------------------------------


def test_ngram_repetition_known_answers(spark):
    from datastream_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.ngram_repetition(df, n=2).collect()}
    # doc 1: grams [a a, a a, a a] -> total 3, distinct 1, top 3
    assert (out[1]["n_grams"], out[1]["n_distinct"], out[1]["top_count"]) == (3, 1, 3)
    assert out[1]["top_frac"] == 1.0 and abs(out[1]["dup_frac"] - 2 / 3) < 1e-6
    # doc 2: grams [a b, b c] -> no repetition
    assert (out[2]["n_grams"], out[2]["dup_frac"]) == (2, 0.0)
    # doc 3: one token -> no 2-grams, absent from output
    assert 3 not in out


def test_ngram_repetition_unigram_and_trigram(spark):
    from datastream_spark.operators import curation

    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    uni = curation.ngram_repetition(df, n=1).collect()[0]
    assert (uni["n_grams"], uni["n_distinct"], uni["top_count"]) == (5, 2, 3)
    tri = curation.ngram_repetition(df, n=3).collect()[0]
    # trigrams: [a b a, b a b, a b a] -> 3 total, 2 distinct
    assert (tri["n_grams"], tri["n_distinct"], tri["top_count"]) == (3, 2, 2)


def test_source_quota_cap_and_determinism(spark):
    from datastream_spark.operators import curation

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = curation.source_quota(df, quota=10, group_col="source")
    per_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_src == {"s0": 10, "s1": 10, "s2": 10}
    assert kept.agg(F.max("sample_rank")).collect()[0][0] <= 10
    # deterministic: identical selection across runs
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in curation.source_quota(df, 10, "source").collect())
    assert a == b
    # quota >= group size keeps everything
    assert curation.source_quota(df, quota=50, group_col="source").count() == 100


def test_decontaminate_flags_overlap_only(spark):
    from datastream_spark.operators import curation

    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon suffix"),  # shares 5-grams
            (2, "totally unrelated words with no overlap here"),
            (3, "alpha beta gamma but too short"),  # shares no full 5-gram
        ],
        "doc_id long, text string",
    )
    flagged = {r["doc_id"]: r["n_shared_grams"] for r in
               curation.decontaminate(train, test, n=5).collect()}
    assert set(flagged) == {1}
    # exactly one shared 5-gram: "alpha beta gamma delta epsilon"
    assert flagged[1] == 1
    clean = curation.decontaminate_clean(train, test, n=5)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_pack_sequences_offsets_and_straddle(spark):
    from datastream_spark.operators import curation

    # token counts: 3, 4, 5 in one shard; budget 6 -> doc 2 starts at
    # offset 3 (pack 0, straddles into pack 1), doc 3 starts at 7 (pack 1)
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f g", "en"), (3, "h i j k l", "en"),
         (4, "x y", "fr")],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in
           curation.pack_sequences(df, budget=6, shard_col="lang").collect()}
    assert (out[1]["pack_id"], out[1]["pack_offset"]) == (0, 0)
    assert (out[2]["pack_id"], out[2]["pack_offset"]) == (0, 3)
    assert (out[3]["pack_id"], out[3]["pack_offset"]) == (1, 1)
    # independent shard: fr stream starts at its own offset 0
    assert (out[4]["pack_id"], out[4]["pack_offset"]) == (0, 0)


def test_chunk_documents_windows_and_overlap(spark):
    from datastream_spark.operators import curation

    # 7 tokens, chunk 4, overlap 2 -> stride 2: starts 0,2,4 — the
    # start at 6 is dropped (chunk "g" would be wholly contained in
    # its predecessor "e f g")
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    rows = sorted(
        curation.chunk_documents(df, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    got = [(r["chunk_id"], r["chunk_start"], r["chunk_len"], r["chunk_text"]) for r in rows]
    assert got == [
        (0, 0, 4, "a b c d"),
        (1, 2, 4, "c d e f"),
        (2, 4, 3, "e f g"),
    ]
    # doc shorter than one chunk -> exactly one (possibly short) chunk
    short = spark.createDataFrame([(2, "x y")], "doc_id long, text string")
    assert curation.chunk_documents(short, chunk_tokens=10).count() == 1
    with pytest.raises(ValueError):
        curation.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_redact_pii_patterns_and_counts(spark):
    from datastream_spark.operators import curation

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.org thanks"),
            (2, "server 192.168.1.254 and backup 10.0.0.1"),
            (3, "call +1 (555) 867-5309 today"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and "<email>" in out[1]["redacted_text"]
    assert "bob.smith" not in out[1]["redacted_text"]
    assert out[2]["n_ipv4"] == 2 and out[2]["redacted_text"].count("<ipv4>") == 2
    assert out[3]["n_phone"] == 1 and "<phone>" in out[3]["redacted_text"]
    assert out[4]["redacted_text"] == "nothing sensitive here"
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (0, 0, 0)
    # leading '+' is part of the phone match (no word char before it)
    assert "+1" not in out[3]["redacted_text"]
    # counts are substitutions performed, not pre-redaction matches:
    # the 9-digit run is consumed by the email pass, so the phone pass
    # never sees it
    seq = spark.createDataFrame(
        [(9, "id 123456789@ex.com ok")], "doc_id long, text string"
    )
    r9 = curation.redact_pii(seq).collect()[0]
    assert (r9["n_email"], r9["n_phone"]) == (1, 0)
    assert r9["redacted_text"] == "id <email> ok"
    # explicitly empty patterns = redact nothing (not default fallback)
    plain = curation.redact_pii(df, patterns={}).collect()
    assert {r["redacted_text"] for r in plain} == {r["text"] for r in df.collect()}


def test_dedup_spans_invariants(spark):
    """First occurrence survives; later exact spans drop; reassembly
    preserves in-document order; output covers every input doc."""
    from datastream_spark.operators import curation

    boiler = "a b c d e f g h i j"  # two full 5-token spans
    docs = [
        (1, boiler + " unique one text here now"),
        (2, boiler + " other tail words go here"),
        (3, "totally fresh content with no shared spans at all ok"),
        (4, boiler),  # nothing but the boilerplate -> fully deduped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in curation.dedup_spans(df, span_tokens=5).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1 is the first occurrence: everything kept, text unchanged
    assert out[1]["n_kept"] == out[1]["n_spans"]
    assert out[1]["deduped_text"] == docs[0][1]
    # doc 2 loses exactly the two boilerplate spans, keeps its tail
    assert out[2]["n_spans"] - out[2]["n_kept"] == 2
    assert out[2]["deduped_text"] == "other tail words go here"
    # doc 3 shares nothing -> untouched
    assert out[3]["deduped_text"] == docs[2][1]
    # doc 4 is pure boilerplate -> empty survivor
    assert out[4]["n_kept"] == 0 and out[4]["deduped_text"] == ""

    # idempotence: running dedup on the deduped corpus keeps everything
    again = curation.dedup_spans(
        spark.createDataFrame(
            [(k, v["deduped_text"]) for k, v in out.items() if v["n_kept"]],
            "doc_id long, text string",
        ),
        span_tokens=5,
    ).collect()
    assert all(r["n_kept"] == r["n_spans"] for r in again)


def test_decontaminate_bloom_parity(spark):
    """Bloom prefilter + exact verify == exact decontamination; the
    bloom-only path never loses a true hit (no false negatives)."""
    from datastream_spark.operators import curation

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    test = d.where(F.col("doc_id") % 10 == 0)
    train = d.where(F.col("doc_id") % 10 != 0)

    exact = {
        (r["doc_id"], r["n_shared_grams"])
        for r in curation.decontaminate(train, test, n=3).collect()
    }
    verified = {
        (r["doc_id"], r["n_shared_grams"])
        for r in curation.decontaminate_bloom(train, test, n=3, verify=True).collect()
    }
    assert verified == exact

    bloom_only = {
        r["doc_id"]: r["n_shared_grams"]
        for r in curation.decontaminate_bloom(
            train, test, n=3, verify=False
        ).collect()
    }
    for doc_id, n_shared in exact:
        assert bloom_only.get(doc_id, 0) >= n_shared


def test_lm_score_orders_typical_above_outlier(spark):
    """A document made of corpus-typical bigrams must score a higher
    mean log-likelihood (lower perplexity) than an outlier document of
    corpus-unique bigrams."""
    from datastream_spark.operators import textops

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)]
    rows.append((99, "zyx wvu tsr qpo nml kji"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.lm_score(df).collect()}
    assert out[0]["avg_logp"] > out[99]["avg_logp"]
    assert out[0]["ppl"] < out[99]["ppl"]
    assert out[0]["n_tokens"] == 6


def test_semantic_dedup_auto_cells_scale_with_corpus(spark):
    """Default n_centroids=None sizes cells as ~sqrt(N) (floored by
    min_cell_size): a fixed cell count silently re-quadratizes the
    in-cell gemm as the corpus grows — the sf10 regression SCALE.md
    §17 measures. Output stays one row per vector."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = e.count()
    out = similarity.semantic_dedup(e, threshold=0.4)
    rows = out.collect()
    assert len(rows) == n
    import math

    expected = max(1, min(math.ceil(math.sqrt(n)), n // 8 or 1))
    assert len({r.cell_id for r in rows}) <= expected


def test_semantic_dedup_invariants(spark):
    """Keepers + drops partition the corpus; every dropped vector has a
    lower-id cluster-mate above the threshold; the lowest id in every
    cluster is always kept."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.semantic_dedup(e, threshold=0.4, n_centroids=8)
    rows = out.collect()
    assert len(rows) == e.count()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell_id, []).append(r)
    for cell, members in by_cell.items():
        lowest = min(m.vec_id for m in members)
        assert next(m for m in members if m.vec_id == lowest).keep
    # cross-check one dropped vector really has a >=t lower-id mate
    dropped = [r for r in rows if not r.keep]
    if dropped:
        import numpy as np

        vecs = {
            r.vec_id: np.array(r.embedding, dtype=float)
            for r in e.collect()
        }
        cells = {r.vec_id: r.cell_id for r in rows}
        d = dropped[0]
        mates = [
            v for v in vecs
            if cells[v] == d.cell_id and v < d.vec_id
        ]
        cos = lambda a, b: float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert any(cos(vecs[d.vec_id], vecs[m]) >= 0.4 for m in mates)


def test_spread_skips_shuffle_governed_plans(spark):
    """spread() exists to fan out RAW single-partition scans; a plan
    that already contains a shuffle (join/agg/window) has
    shuffle.partitions parallelism by construction, and probing its
    partition count costs a full physical-planning pass that grows
    with lineage depth (the q_x24 lesson) — such frames come back
    UNTOUCHED, object-identical."""
    from datastream_spark.functions import spread

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # raw tiny scan still fans out to defaultParallelism
    fanned = spread(d.select("doc_id", "text"))
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # shuffle-governed frames are returned object-identical
    agg = d.groupBy("lang").agg(F.count("*").alias("n"))
    assert spread(agg) is agg
    joined = d.join(d.select("doc_id"), "doc_id")
    assert spread(joined) is joined
    # repartition(n) IS shuffle-governed (Repartition shuffle=true)...
    rep = d.select("doc_id").repartition(2)
    assert spread(rep) is rep
    # ...but coalesce(n) is NOT (same logical node, shuffle=false):
    # the user pinned a low partition count on a narrow lineage, which
    # is exactly the 1-task hazard spread exists for (round-8 advice)
    co = d.select("doc_id", "text").coalesce(1)
    assert (
        spread(co).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # coalesce OVER a wide node: the cap sits above the shuffle, so
    # the frame's parallelism is the pinned count no matter what's
    # beneath — the walk must not flip back to "governed" when it
    # sees the groupBy below the coalesce (round-9 advice; the
    # round-8 fix only handled coalesce-over-narrow)
    co_wide = d.groupBy("lang").agg(F.count("*").alias("n")).coalesce(1)
    assert (
        spread(co_wide).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # the named rescue for the fast path's composition hazard: a
    # broadcast-joined frame collapses to its probe side's raw-scan
    # partitioning (1-2 partitions on a small delta) and spread()
    # skips it — checkpoint_spread MUST restore the fan-out (the
    # round-8 443 s survivor re-verification regression, pinned as a
    # partition-count assertion per VERDICT r8 advisory #1)
    from datastream_spark.functions import checkpoint_spread

    tiny = d.limit(50).join(
        F.broadcast(d.select("doc_id").limit(50)), "doc_id"
    )
    assert spread(tiny) is tiny  # the hazard: fast path skips
    assert (
        checkpoint_spread(tiny).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_semantic_dedup_cap_bounds_every_cell(spark):
    """The max_cell_size skew guard: a corpus built to pile into ONE
    hot cell (including the degenerate identical-vector clique no
    geometric split can separate) must come out with no cell above the
    cap, identical duplicates still flagged within their chunk, and a
    bit-identical result on re-run (the decision chain is
    deterministic)."""
    # 200 near-identical vectors (one hot cell) + 20 scattered ones
    rows = [(i, [1.0, 0.0, float(i % 3) * 1e-7]) for i in range(200)]
    rows += [(1000 + j, [0.0, 1.0, float(j)]) for j in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(
        e, threshold=0.99, n_centroids=4, max_cell_size=16
    )
    got = out.collect()
    assert len(got) == 220
    from collections import Counter

    sizes = Counter(r.cell_id for r in got)
    assert max(sizes.values()) <= 16
    # within every capped chunk the lowest id keeps, near-identical
    # higher ids drop — the hot clique still dedups chunk-locally
    hot = [r for r in got if r.vec_id < 200]
    dropped = sum(1 for r in hot if not r.keep)
    # each ~16-row chunk keeps at most a few (one per 1e-7-perturbation
    # class at worst); the clique must still lose the vast majority
    assert dropped >= 150
    # deterministic replay
    again = similarity.semantic_dedup(
        e, threshold=0.99, n_centroids=4, max_cell_size=16
    ).collect()
    assert {(r.vec_id, r.cell_id, r.keep) for r in again} == {
        (r.vec_id, r.cell_id, r.keep) for r in got
    }
    # cap sanity refusal
    with pytest.raises(ValueError, match="max_cell_size"):
        similarity.semantic_dedup(e, n_centroids=4, max_cell_size=1).collect()
    # negative ids would collide chunk labels with real cell ids —
    # the relabel refuses at runtime instead of silently merging groups
    neg = spark.createDataFrame(
        [(i - 50, [1.0, 0.0, float(i % 3) * 1e-7]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-negative"):
        similarity.semantic_dedup(
            neg, threshold=0.99, n_centroids=2, max_cell_size=8
        ).collect()


def test_weighted_sample_membership(spark):
    """Membership is the documented pure function of (key, weight):
    weight 0 keeps nothing, weight 1 keeps everything, and the kept set
    is reproducible and monotone in the weight."""
    from datastream_spark.operators.sampling import (
        BUCKETS,
        hash_bucket,
        weighted_sample,
    )

    df = spark.range(500).withColumnRenamed("id", "k")
    assert weighted_sample(df, "k", F.lit(0.0)).count() == 0
    assert weighted_sample(df, "k", F.lit(1.0)).count() == 500
    half = weighted_sample(df, "k", F.lit(0.5))
    quarter = weighted_sample(df, "k", F.lit(0.25))
    half_ids = {r.k for r in half.collect()}
    assert {r.k for r in quarter.collect()} <= half_ids  # monotone
    assert {r.k for r in weighted_sample(df, "k", F.lit(0.5)).collect()} == half_ids
    # membership rule matches the documented expression exactly
    expected = {
        r.k
        for r in df.withColumn("b", hash_bucket(F.col("k"))).collect()
        if r.b < int(0.5 * BUCKETS)
    }
    assert half_ids == expected
    # NULL weights coalesce to zero-probability (dropped), identically
    # to an explicit 0.0 — not a silent NULL-comparison artifact.
    w = F.when(F.col("k") < 100, F.lit(None).cast("double")).otherwise(F.lit(1.0))
    kept = {r.k for r in weighted_sample(df, "k", w).collect()}
    assert kept == set(range(100, 500))


def test_bpe_pair_counts_known_answer(spark):
    """Known corpus: pair counts and doc counts match hand computation;
    ordering is (n_occ desc, pair) and the limit cuts deterministically."""
    docs = [(1, "abab cd"), (2, "ab  x"), (3, "ba")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = textops.bpe_pair_counts(df, top_k=3).collect()
    # pairs: doc1 abab -> ab,ba,ab ; cd -> cd ; doc2 ab -> ab ; doc3 ba -> ba
    assert [(r.pair, r.n_occ, r.n_docs) for r in out] == [
        ("ab", 3, 2),
        ("ba", 2, 2),
        ("cd", 1, 1),
    ]


def test_curate_corpus_end_to_end(spark):
    """The curation funnel drops exactly what each stage promises:
    the exact duplicate, the junk doc, the contaminated doc, and the
    near-duplicate — keeping lowest-id keepers — and the report
    accounts for every stage."""
    from datastream_spark.pipeline import CurationConfig, curate_corpus

    base = "the quick brown fox jumps over the lazy dog and then rests in the shade of a tree "
    docs = [
        (1, base * 4),                              # keeper
        (2, base * 4),                              # exact dup of 1 -> dropped
        (3, "x!! y?? z@@ !!"),                      # junk -> quality filter
        (4, base * 4 + "slightly different ending here now"),  # near-dup of 1
        (5, "completely different content about distributed query engines "
            "and their shuffle strategies during large scale aggregation work "
            "which is long enough to pass the quality floor easily today"),
        (6, "holdout secret answer sequence alpha beta gamma delta epsilon "
            "padded with enough additional words to pass the quality floor "
            "for this particular evaluation document today"),  # contaminated
    ]
    eval_set = spark.createDataFrame(
        [(100, "holdout secret answer sequence alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    df = spark.createDataFrame(docs, "doc_id long, text string")
    clean, report = curate_corpus(
        df, eval_set, CurationConfig(min_quality=0.3, near_dup_threshold=0.5)
    )
    kept = {r.doc_id for r in clean.collect()}
    assert kept == {1, 5}
    assert report["input"] == 6
    assert report["exact_dedup"] == 5          # doc 2 gone
    assert report["quality_filter"] == 4       # doc 3 gone
    assert report["decontaminated"] == 3       # doc 6 gone
    assert report["near_dup_dedup"] == 2       # doc 4 gone
    assert "quality" not in clean.columns


def test_curate_corpus_weighted_sampling_stage(spark):
    """With sample_by_quality on, the funnel's final stage keeps
    exactly the docs whose hash clears their own quality threshold,
    and count_stages=False produces the same frame without the audit
    actions."""
    from datastream_spark.operators.sampling import BUCKETS, hash_bucket
    from datastream_spark.operators.textops import quality_score
    from datastream_spark.pipeline import CurationConfig, curate_corpus

    docs = [
        (i, f"document number {i} with a reasonable amount of ordinary text "
            "content that the quality scorer will treat as midrange material "
            + "filler words " * (i % 7))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cfg = CurationConfig(
        min_quality=0.0, near_dup_threshold=0.95, sample_by_quality=True
    )
    clean, report = curate_corpus(df, None, cfg)
    kept = {r.doc_id for r in clean.collect()}

    survivors_pre_sample = curate_corpus(
        df, None, CurationConfig(min_quality=0.0, near_dup_threshold=0.95)
    )[0]
    q = quality_score(survivors_pre_sample).select("doc_id", "quality")
    import pyspark.sql.functions as F

    expected = {
        r.doc_id
        for r in q.withColumn("b", hash_bucket(F.col("doc_id"))).collect()
        if r.b < int(r.quality * BUCKETS)
    }
    assert kept == expected
    assert report["weighted_sample"] == len(kept)

    lazy, lazy_report = curate_corpus(df, None, CurationConfig(
        min_quality=0.0, near_dup_threshold=0.95, sample_by_quality=True,
        count_stages=False,
    ))
    assert lazy_report == {}
    assert {r.doc_id for r in lazy.collect()} == kept


def test_minhash_hot_band_cap_bounds_and_logs(spark, caplog):
    """A band bucket holding more distinct signatures than
    max_band_freq is excluded deterministically (bounded worst case),
    with logged accounting; uncapped behavior is unchanged."""
    import logging

    from datastream_spark.operators.dedup import minhash_candidate_pairs

    k = 12
    # 2 bands of 4: band 0 identical across all docs (the hot bucket),
    # band 1 distinct per doc -> every candidate pair comes from band 0
    rows = [(i, [1, 2, 3, 4, 100 + i, 200 + i, 300 + i, 400 + i]) for i in range(k)]
    sigs = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")

    uncapped = minhash_candidate_pairs(sigs, rows_per_band=4)
    assert uncapped.count() == k * (k - 1) // 2

    with caplog.at_level(logging.WARNING, logger="datastream_spark.dedup"):
        capped = minhash_candidate_pairs(sigs, rows_per_band=4, max_band_freq=8)
        assert capped.count() == 0
    assert any("max_band_freq" in r.message for r in caplog.records)

    # a cap above every bucket's size changes nothing (and logs nothing)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="datastream_spark.dedup"):
        loose = minhash_candidate_pairs(sigs, rows_per_band=4, max_band_freq=50)
        assert loose.count() == k * (k - 1) // 2
    assert not caplog.records


def test_pil_decode_path_when_available(spark):
    """The JPEG/PNG contract: wherever Pillow is installed, non-netpbm
    payloads flow through the SAME Arrow-batched decode pipeline. This
    container ships no codec libraries, so here the test documents the
    gate by skipping; on a Pillow-equipped deployment it executes the
    real PNG decode end-to-end."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    w, h = 10, 6
    arr = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()),
          {"width": w, "height": h, "sample_rate": None,
           "duration_ms": None, "codec": "png"})],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.decode_image_features(media, fake=False).collect()[0]
    assert (row.width, row.height) == (w, h)
    csum = arr.astype("int64").sum(axis=(0, 1))
    assert row.luma_sum == int(299 * csum[0] + 587 * csum[1] + 114 * csum[2])


def test_non_netpbm_without_pil_raises_not_implemented(spark):
    """Without Pillow, a non-netpbm payload must fail loudly (never
    silently fake-decode) when fake=False."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed; the raise path is unreachable")
    except ImportError:
        pass
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\x89PNG\r\n\x1a\nnotreal"),
          {"width": 1, "height": 1, "sample_rate": None,
           "duration_ms": None, "codec": "png"})],
        multimodal.MEDIA_SCHEMA,
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        multimodal.decode_image_features(media, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_mixture_plan_known_answer(spark):
    """Hand-checked temperature mixing: two groups with 100 vs 400
    tokens at alpha=0.5 -> sqrt weights 1/3 and 2/3; budget 300 plans
    99/200 tokens; keep fractions 0.99/0.5; application keeps exactly
    the docs whose hash bucket clears each group's threshold."""
    from datastream_spark.operators.curation import apply_mixture, mixture_plan
    from datastream_spark.operators.sampling import BUCKETS, hash_bucket

    docs = [(i, "a", " ".join(["t"] * 10)) for i in range(10)] + [
        (100 + i, "b", " ".join(["t"] * 10)) for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    plan = {r.lang: r for r in mixture_plan(df, token_budget=300).collect()}
    assert plan["a"].n_tokens == 100 and plan["b"].n_tokens == 400
    assert plan["a"].weight == pytest.approx(1 / 3, abs=1e-6)
    assert plan["b"].weight == pytest.approx(2 / 3, abs=1e-6)
    assert plan["a"].planned_tokens == 99  # floor(0.333333 * 300)
    assert plan["b"].planned_tokens == 200  # floor(0.666667 * 300) = 200
    assert plan["a"].keep_fraction == 0.99
    assert plan["b"].keep_fraction == 0.5

    kept = apply_mixture(df, mixture_plan(df, token_budget=300)).collect()
    got = {r.doc_id for r in kept}
    thr = {"a": int(0.99 * BUCKETS), "b": int(0.5 * BUCKETS)}
    expected = {
        r.doc_id
        for r in df.withColumn("b", hash_bucket(F.col("doc_id"))).collect()
        if r.b < thr[r.lang]
    }
    assert got == expected


def test_url_canonicalization_cases(spark):
    """Canonicalization table: scheme/www/case/fragment/tracking
    params/trailing slash each normalize; distinct real URLs stay
    distinct; domain extraction survives ports and bare hosts."""
    from datastream_spark.operators import textops

    cases = [
        ("HTTPS://WWW.Ex.COM/A/", "ex.com/a"),
        ("http://ex.com/a", "ex.com/a"),
        ("https://ex.com/a?utm_source=x&utm_medium=y", "ex.com/a"),
        ("https://ex.com/a?id=1&utm_source=x", "ex.com/a?id=1"),
        ("https://ex.com/a?utm_source=x&id=1", "ex.com/a?id=1"),
        ("https://ex.com/a#frag", "ex.com/a"),
        ("https://ex.com:8080/a", "ex.com:8080/a"),
        ("ex.com", "ex.com"),
        ("https://ex.com/b", "ex.com/b"),  # distinct path stays distinct
        # mid-query tracker: must NOT forge 'a?x=1?y=2' (position-
        # dependent keys split identical pages pre-fix)
        ("https://ex.com/a?x=1&utm_source=s&y=2", "ex.com/a?x=1&y=2"),
        ("https://ex.com/a?utm_source=s&x=1&y=2", "ex.com/a?x=1&y=2"),
        ("https://ex.com/a?x=1&y=2&utm_source=s", "ex.com/a?x=1&y=2"),
        # adjacent trackers at the head: must not leave '??'
        ("https://ex.com/a?utm_medium=m&gclid=g1&z=9", "ex.com/a?z=9"),
        ("https://ex.com/a?utm_medium=m&gclid=g1", "ex.com/a"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    out = {r.i: r.c for r in df.select("i", textops.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (cases[i], out[i])
    doms = {
        r.c: r.d
        for r in df.select(
            textops.canonicalize_url(F.col("url")).alias("c")
        ).select("c", textops.url_domain(F.col("c")).alias("d")).collect()
    }
    assert doms["ex.com/a"] == "ex.com"
    assert doms["ex.com:8080/a"] == "ex.com"
    assert doms["ex.com"] == "ex.com"


def test_domain_stats_accounting(spark):
    from datastream_spark.operators import textops

    rows = [
        (1, "https://www.a.com/x?utm_source=1"),
        (2, "http://A.COM/x"),          # same canonical as 1
        (3, "https://a.com/y"),
        (4, "https://b.org/z/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.domain: r for r in textops.domain_stats(df).collect()}
    assert got["a.com"].n_docs == 3
    assert got["a.com"].n_unique_urls == 2  # x (deduped) + y
    assert got["a.com"].keeper_doc_id == 1
    assert got["b.org"].n_docs == 1 and got["b.org"].keeper_doc_id == 4


def test_pq_encode_reconstruction_and_adc_recall(spark):
    """PQ pipeline on real testdata embeddings: codes are valid, the
    reconstruction norm matches a numpy replay exactly, ADC scores
    match the numpy ADC computation, and top-k recall vs exact search
    clears a sanity floor at (m=8, k=16) on 500 vectors."""
    import numpy as np

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.train_pq_codebooks(e, m=16, k=16, max_iter=10)
    assert cb.shape == (16, 16, 4)

    codes_df = similarity.pq_encode(e, cb)
    rows = {r.vec_id: r for r in codes_df.collect()}
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in e.collect()
    }
    assert set(rows) == set(vecs)
    # numpy replay of encode for a handful of vectors
    cb_sq = (cb * cb).sum(axis=2)
    for vid in list(vecs)[:25]:
        xs = vecs[vid].reshape(16, 4)
        dots = np.einsum("ms,mks->mk", xs, cb)
        want = np.argmin(cb_sq - 2.0 * dots, axis=1)
        assert list(rows[vid].codes) == want.tolist()
        want_norm = float(np.sqrt(cb_sq[np.arange(16), want].sum()))
        assert rows[vid].recon_norm == pytest.approx(want_norm, rel=1e-12)

    # ADC scoring matches numpy and recalls most true neighbors
    qids = list(range(10))
    adc = similarity.pq_topk(codes_df, cb, e.where(F.col("vec_id") < 10), k=5)
    got = {}
    for r in adc.collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine_adc))
    for qid in qids:
        qv = vecs[qid].reshape(16, 4)
        lut = np.einsum("ms,mks->mk", qv, cb)
        nid, score = got[qid][0]
        c = rows[nid].codes
        adot = float(lut[np.arange(16), np.array(c)].sum())
        want = adot / (np.linalg.norm(qv) * rows[nid].recon_norm)
        assert score == pytest.approx(want, rel=1e-9)

    exact = similarity.cosine_topk(e, query_ids=qids, k=5)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(q, n) for q, lst in got.items() for n, _ in lst}
    raw_recall = len(ex & ap) / len(ex)
    assert raw_recall >= 0.1, raw_recall  # compressed-domain floor

    # the production shape: ADC shortlist + fp32 re-rank — recall is
    # the shortlist's, and re-ranked scores are exact cosine
    rr = similarity.pq_topk(
        codes_df, cb, e.where(F.col("vec_id") < 10), k=5,
        rerank_with=e, shortlist=50,
    )
    rr_rows = rr.collect()
    rset = {(r.query_id, r.neighbor_id) for r in rr_rows}
    rr_recall = len(ex & rset) / len(ex)
    assert rr_recall >= 0.8, rr_recall
    assert rr_recall >= raw_recall
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine for r in exact.collect()
    }
    for r in rr_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert r.cosine_adc == pytest.approx(exact_scores[key], rel=1e-9)


def test_fuzzy_decontamination_catches_paraphrased_leakage(spark):
    """decontaminate_fuzzy flags a lightly-edited copy of an eval doc
    (which exact-gram decontamination at large n misses), passes
    identity matches at jaccard 1.0, and leaves unrelated docs
    unflagged."""
    from datastream_spark.operators import curation

    eval_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the distant mountain ridge"
    )
    near = eval_text.replace("slowly", "quickly") + " tonight"
    other = "completely unrelated content about spark query planning internals"
    train = spark.createDataFrame(
        [(1, eval_text), (2, near), (3, other)], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, eval_text)], "eval_id long, text string")
    got = {
        r.doc_id: r.jaccard_est
        for r in curation.decontaminate_fuzzy(
            train, ev, min_jaccard=0.3
        ).collect()
    }
    assert got[1] == 1.0          # identity
    assert 0.3 <= got[2] <= 1.0   # paraphrase flagged
    assert 3 not in got           # unrelated survives


def test_fuzzy_decontamination_exact_refine(spark):
    """refine='exact' verifies bipartite candidates against the TRUE
    shingle sets: flagged values equal the exact n-gram Jaccard
    (cross-checked with ngram_jaccard_pairs over the union corpus),
    identity still 1.0, unrelated still unflagged."""
    from datastream_spark.operators import curation, dedup

    eval_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while the sun sets slowly behind the distant mountain ridge"
    )
    near = eval_text.replace("slowly", "quickly") + " tonight"
    other = "completely unrelated content about spark query planning internals"
    train = spark.createDataFrame(
        [(1, eval_text), (2, near), (3, other)], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(100, eval_text)], "eval_id long, text string")
    got = {
        r.doc_id: r.jaccard_est
        for r in curation.decontaminate_fuzzy(
            train, ev, min_jaccard=0.3, refine="exact"
        ).collect()
    }
    both = spark.createDataFrame(
        [(1, eval_text), (2, near), (1000, eval_text)],
        "doc_id long, text string",
    )
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(both, k=3, threshold=0.1).collect()
    }
    assert got[1] == 1.0
    assert abs(got[2] - truth[(2, 1000)]) < 1e-9  # exact value, not estimate
    assert 3 not in got


def test_fuzzy_decontamination_short_doc_fallback(spark):
    """Eval docs too short to shingle (no signature) are matched by
    exact normalized-text equality — a byte-identical training copy
    is flagged at 1.0, not silently missed."""
    from datastream_spark.operators import curation

    train = spark.createDataFrame(
        [(1, "Hi"), (2, "completely different long document about engines")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "hi")], "eval_id long, text string")
    got = {
        (r.doc_id, r.eval_id): r.jaccard_est
        for r in curation.decontaminate_fuzzy(train, ev).collect()
    }
    assert got == {(1, 100): 1.0}


def test_assign_splits_partition_and_validation(spark):
    """assign_splits: labels partition the keyspace (disjoint ranges,
    exhaustive when fractions sum to 1), membership is key-stable
    across calls, sub-1 sums leave a NULL holdout, and bad specs raise."""
    from datastream_spark.operators.sampling import assign_splits, hash_bucket

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = assign_splits(df, "k", [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    rows = {r.k: r.split for r in out.collect()}
    assert set(rows.values()) == {"train", "val", "test"}  # exhaustive
    # Membership is exactly the cumulative hash ranges.
    buckets = {
        r.k: r.b
        for r in df.select("k", hash_bucket(F.col("k")).alias("b")).collect()
    }
    for k, split in rows.items():
        expected = (
            "train" if buckets[k] < 8000 else "val" if buckets[k] < 9000 else "test"
        )
        assert split == expected, (k, buckets[k], split)
    # Re-deriving on a shuffled subset never flips a label.
    sub = assign_splits(
        df.where(F.col("k") % 3 == 0), "k",
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
    )
    for r in sub.collect():
        assert rows[r.k] == r.split
    # Sub-1 fractions: remainder is a NULL holdout.
    held = assign_splits(df, "k", [("train", 0.5)])
    n_null = held.where(F.col("split").isNull()).count()
    assert 0 < n_null < 500
    import pytest as _pytest

    for bad in (
        [],
        [("a", 0.5), ("a", 0.5)],
        [("a", -0.1)],
        [("a", 0.9), ("b", 0.2)],
        [("a", 0.00001), ("b", 0.5)],  # sub-quantum split: unreachable
    ):
        with _pytest.raises(ValueError):
            assign_splits(df, "k", bad)


def test_rrf_fuse_hand_computed(spark):
    """rrf_fuse: exact hand-computed scores on two tiny lists, n_lists
    counts consensus, top_n cuts on (score desc, id)."""
    from datastream_spark.operators.retrieval import ranked_topm, rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id long, rank int")
    b = spark.createDataFrame([(20, 1), (10, 2)], "id long, rank int")
    got = {r.id: (r.rrf_score, r.n_lists) for r in rrf_fuse([a, b]).collect()}
    assert got[10] == (1 / 61 + 1 / 62, 2)
    assert got[20] == (1 / 62 + 1 / 61, 2)
    assert got[30] == (1 / 63, 1)
    top = rrf_fuse([a, b], top_n=2).collect()
    # 10 and 20 tie exactly; the tie breaks on id ascending.
    assert [r.id for r in top] == [10, 20]

    # ranked_topm: scores desc, ties on id asc, 1-based ranks.
    df = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1)], "id long, score int"
    )
    ranked = {r.id: r.rank for r in ranked_topm(df, "score", "id", 3).collect()}
    assert ranked == {2: 1, 3: 2, 1: 3}


def test_zorder_math_and_layout_pruning(spark, tmp_path):
    """z_value matches a python-int Morton interleave; write_zordered
    produces disjoint per-file z ranges whose x/y zonemaps confine a
    box query to a few files (the data-skipping win the layout buys)."""
    from datastream_spark.operators.layout import write_zordered, z_value

    def py_z(vals, bits):
        out = 0
        for j, v in enumerate(vals):
            v = max(0, min(v, (1 << bits) - 1))
            for i in range(bits):
                out |= ((v >> i) & 1) << (i * len(vals) + j)
        return out

    sample = [(3, 5), (0, 0), (65535, 1), (70000, 2), (1023, 511), (-7, 9)]
    df = spark.createDataFrame(sample, "x long, y long")
    got = df.select(
        "x", "y", z_value([F.col("x"), F.col("y")], bits=16).alias("z")
    ).collect()
    for r in got:
        assert r.z == py_z((r.x, r.y), 16), (r.x, r.y)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        z_value([], bits=16)
    with _pytest.raises(ValueError):
        z_value([F.col("x")] * 5, bits=16)  # 80 bits > signed long

    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x int, y int"
    )
    path = str(tmp_path / "zlay")
    write_zordered(grid, path, ["x", "y"], bits=6, num_files=16)
    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    stats = back.groupBy("f").agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
        F.min(z_value([F.col("x"), F.col("y")], bits=6)).alias("z0"),
        F.max(z_value([F.col("x"), F.col("y")], bits=6)).alias("z1"),
    ).collect()
    assert back.count() == 64 * 64
    # Disjoint z ranges: the range exchange + in-partition sort is a
    # total clustering, so file zonemaps never interleave.
    spans = sorted((r.z0, r.z1) for r in stats)
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 < b0, spans
    # Box query [0,16)x[0,16): compact hyper-rectangles confine it to
    # a few of the files (an x-sorted layout leaves y unpruned).
    hit = [
        r for r in stats
        if r.x0 <= 15 and r.x1 >= 0 and r.y0 <= 15 and r.y1 >= 0
    ]
    assert 1 <= len(hit) <= 6, [(r.x0, r.x1, r.y0, r.y1) for r in hit]


def test_funnel_strict_order_and_horizon(spark):
    """Funnel semantics: earliest step-1, strictly-after chaining, NULL
    past the last reached step, absent users dropped, the within
    horizon measured from step 1, and monotone funnel counts."""
    import datetime as _dt

    from datastream_spark.operators.funnel import funnel, funnel_counts

    t0 = _dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + _dt.timedelta(seconds=s)

    rows = [
        (1, "A", at(10)), (1, "A", at(5)), (1, "B", at(20)), (1, "C", at(30)),
        (2, "B", at(5)), (2, "A", at(10)), (2, "B", at(8)),   # no B after A
        (3, "A", at(10)), (3, "B", at(40)), (3, "C", at(35)),  # no C after B
        (4, "B", at(1)), (4, "C", at(2)),                      # never did A
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {
        r.user_id: (r.step_1_ts, r.step_2_ts, r.step_3_ts)
        for r in funnel(ev, ["A", "B", "C"]).collect()
    }
    assert set(got) == {1, 2, 3}  # user 4 never reached step 1
    assert got[1] == (at(5), at(20), at(30))
    assert got[2] == (at(10), None, None)
    assert got[3] == (at(10), at(40), None)

    # Horizon from step 1: user 1's C at +25s falls outside 20s.
    hz = {
        r.user_id: (r.step_2_ts, r.step_3_ts)
        for r in funnel(ev, ["A", "B", "C"], within_seconds=20).collect()
    }
    assert hz[1] == (at(20), None)

    counts = {
        r.step: r.users
        for r in funnel_counts(funnel(ev, ["A", "B", "C"]), 3).collect()
    }
    assert counts == {1: 3, 2: 2, 3: 1}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel(ev, ["A"])
    with _pytest.raises(ValueError):
        funnel(ev, ["A", "A"])


def test_retention_cohorts(spark):
    """Retention: cohort = first-activity period; offset 0 counts the
    cohort itself; repeat activity within one period counts once."""
    import datetime as _dt

    from datastream_spark.operators.funnel import retention

    t0 = _dt.datetime(2024, 1, 1)

    def at(d, h=0):
        return t0 + _dt.timedelta(days=d, hours=h)

    rows = [
        (1, at(0)), (1, at(0, 5)), (1, at(1)), (1, at(3)),  # day-0 cohort
        (2, at(0, 23)), (2, at(1)),                          # day-0 cohort
        (3, at(1)), (3, at(3)),                              # day-1 cohort
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_epoch, r.period_offset): r.users
        for r in retention(ev, period_seconds=86400).collect()
    }
    day0 = int(t0.replace(tzinfo=_dt.timezone.utc).timestamp())
    day1 = day0 + 86400
    assert got == {
        (day0, 0): 2,  # users 1+2, dup same-day activity counted once
        (day0, 1): 2,
        (day0, 3): 1,
        (day1, 0): 1,  # user 3
        (day1, 2): 1,
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        retention(ev, period_seconds=0)


def test_top_paths_order_and_bounds(spark):
    """top_paths: event-time order with tiebreak, k-bounded prefixes,
    users with fewer than k events keep their short path."""
    import datetime as _dt

    from datastream_spark.operators.funnel import top_paths

    t0 = _dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + _dt.timedelta(seconds=s)

    rows = [
        (1, 10, "A", at(1)), (1, 11, "B", at(2)), (1, 12, "C", at(3)),
        (1, 13, "D", at(4)),                      # 4th event ignored at k=3
        (2, 20, "B", at(5)), (2, 21, "A", at(5)),  # ts tie -> event_id order
        (3, 30, "A", at(9)),                       # short path
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    got = {r.path: r.n_users for r in top_paths(ev, k=3).collect()}
    assert got == {"A>B>C": 1, "B>A": 1, "A": 1}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        top_paths(ev, k=0)


# ---------------------------------------------------------------------------
# Fuzzy entity resolution (operators/fuzzyjoin.py)
# ---------------------------------------------------------------------------


def test_fuzzy_pairs_single_edit_recall(spark):
    """max_dist=1 recall is EXACT under the two-pass (prefix+suffix)
    blocking: edits at the front, middle, and end must all be found,
    as must the 0-distance identity; distance-2 strings must not."""
    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    left = spark.createDataFrame(
        [(1, "chartreuse goldenrod")], "id int, s string"
    )
    right = spark.createDataFrame(
        [
            (10, "Xhartreuse goldenrod"),   # front substitution
            (11, "chartreuse goldenrod"),   # identical
            (12, "chartreuse goldeXrod"),   # middle substitution
            (13, "chartreuse goldenroX"),   # end substitution
            (14, "chartreuse goldenrodX"),  # end insertion
            (15, "hartreuse goldenrod"),    # front deletion
            (16, "XhartreuseXgoldenrod"),   # distance 2 — excluded
        ],
        "id int, s string",
    )
    got = {
        (r.l_id, r.r_id, r.dist)
        for r in edit_distance_pairs(left, right, "id", "s", max_dist=1).collect()
    }
    assert got == {
        (1, 10, 1), (1, 11, 0), (1, 12, 1), (1, 13, 1), (1, 14, 1), (1, 15, 1)
    }


def test_fuzzy_pairs_short_string_recall(spark):
    """Strings no longer than 2*block_chars break the prefix/suffix
    recall argument (a middle edit changes both blocks at once); the
    shared short block restores exact max_dist=1 recall there
    (ADVICE r5)."""
    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    left = spark.createDataFrame(
        [(1, "abcdef"), (2, "abc"), (3, "a")], "id int, s string"
    )
    right = spark.createDataFrame(
        [
            (10, "abcXef"),   # len 6 = 2k, middle edit: both blocks change
            (11, "abXdef"),   # len 6, middle edit in prefix block
            (12, "aXc"),      # len 3, middle edit
            (13, "ab"),       # len 2, deletion from "abc"
            (14, "b"),        # dist 1 from "a"
            (15, ""),         # dist 1 from "a" (deletion)
            (16, "abXXef"),   # dist 2 — excluded
        ],
        "id int, s string",
    )
    got = {
        (r.l_id, r.r_id, r.dist)
        for r in edit_distance_pairs(left, right, "id", "s", max_dist=1).collect()
    }
    assert got == {
        (1, 10, 1), (1, 11, 1), (2, 12, 1), (2, 13, 1),
        (3, 13, 1),  # "a" -> "ab" is also one insertion away
        (3, 14, 1), (3, 15, 1),
    }


def test_fuzzy_pairs_normalization_and_multiplicity(spark):
    """Case/whitespace normalize before comparing; duplicate values
    compare once but expand to all id pairs."""
    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    left = spark.createDataFrame(
        [(1, "  Alpha   Beta "), (2, "alpha beta")], "id int, s string"
    )
    right = spark.createDataFrame(
        [(7, "ALPHA BETA"), (8, "alpha betas")], "id int, s string"
    )
    got = {
        (r.l_id, r.r_id, r.dist)
        for r in edit_distance_pairs(left, right, "id", "s", max_dist=1).collect()
    }
    assert got == {
        (1, 7, 0), (2, 7, 0), (1, 8, 1), (2, 8, 1)
    }


def test_fuzzy_summary_lossless_and_counts(spark):
    from datastream_spark.operators.fuzzyjoin import fuzzy_match_summary

    left = spark.createDataFrame(
        [(1, "alpha beta"), (2, "zzzz yyyy xxxx")], "id int, s string"
    )
    right = spark.createDataFrame(
        [(7, "alpha beta"), (8, "alpha beta"), (9, "alpha betaX")],
        "id int, s string",
    )
    rows = {
        r.l_id: (r.n_matches, r.best_dist, r.min_r_id)
        for r in fuzzy_match_summary(left, right, "id", "s", max_dist=1).collect()
    }
    assert rows[1] == (3, 0, 7)
    assert rows[2] == (0, None, None)  # unmatched row survives, lossless


def test_fuzzy_hot_block_cap_drops_deterministically(spark):
    """max_block_rows refuses the O(N^2) block: strings sharing a hot
    (prefix, length-band) block vanish from candidates when the block
    exceeds the cap, instead of exploding the join."""
    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    hot = [(i, f"aaaa {i % 10} zzzz") for i in range(40)]
    left = spark.createDataFrame(hot, "id int, s string")
    out = edit_distance_pairs(
        left, left, "id", "s", max_dist=1, max_block_rows=5
    )
    assert out.count() == 0
    # under a permissive cap the same data matches itself
    assert edit_distance_pairs(
        left, left, "id", "s", max_dist=1, max_block_rows=50
    ).count() > 0


def test_fuzzy_hot_block_cap_is_two_sided(spark):
    """A block hot only on the RIGHT side must also be dropped: the
    block product |lb| * |rb| blows up from either side, so a
    left-only hotness check would leave a 2 x 40 block uncapped."""
    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    left = spark.createDataFrame(
        [(0, "aaaa 0 zzzz"), (1, "aaaa 1 zzzz")], "id int, s string"
    )
    right = spark.createDataFrame(
        [(i, f"aaaa {i % 10} zzzz") for i in range(40)], "id int, s string"
    )
    out = edit_distance_pairs(
        left, right, "id", "s", max_dist=1, max_block_rows=5
    )
    assert out.count() == 0


def test_fuzzy_er_clusters_via_connected_components(spark):
    """Composition: self_match_pairs feeds the same union-find
    clustering the text dedup families use — typo variants of one
    entity collapse to a single component, distinct entities stay
    apart."""
    from datastream_spark.operators.dedup import connected_components
    from datastream_spark.operators.fuzzyjoin import self_match_pairs

    rows = [
        (1, "Acme Corp"), (2, "Acme Corp."), (3, "acme corp"),
        (10, "Globex Inc"), (11, "Globex Ink"),
        (20, "Initech"),
    ]
    df = spark.createDataFrame(rows, "id int, s string")
    pairs = self_match_pairs(df, "id", "s", max_dist=1)
    comp = {
        r.node: r.component
        for r in connected_components(pairs, "l_id", "r_id").collect()
    }
    # singletons don't appear in the pair graph; everyone else clusters
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert 20 not in comp


def test_fuzzy_len_band_guard(spark):
    import pytest as _pytest

    from datastream_spark.operators.fuzzyjoin import edit_distance_pairs

    df = spark.createDataFrame([(1, "abc")], "id int, s string")
    with _pytest.raises(ValueError, match="len_band"):
        edit_distance_pairs(df, df, "id", "s", max_dist=4, len_band=4)


# ---------------------------------------------------------------------------
# Drift (PSI) and score calibration
# ---------------------------------------------------------------------------


def test_value_histogram_clamps_and_skips_nulls(spark):
    from datastream_spark.operators.drift import value_histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (99.9,), (150.0,), (None,)],
        "v double",
    )
    got = {r.bin: r.n for r in value_histogram(df, "v", 0.0, 100.0, 10).collect()}
    # -5 clamps to bin 0; 150 clamps to bin 9; 10.0 lands in bin 1
    assert got == {0: 3, 1: 1, 9: 2}


def test_psi_identical_distributions_zero(spark):
    from datastream_spark.operators.drift import psi

    df = spark.createDataFrame([(float(i % 50),) for i in range(500)], "v double")
    row = psi(df, df, "v", 0.0, 50.0, n_bins=10).collect()[0]
    assert abs(row.psi) < 1e-12
    assert row.n_bins_used == 10


def test_psi_shifted_distribution_positive_and_symmetric(spark):
    from datastream_spark.operators.drift import psi

    a = spark.createDataFrame([(float(i % 40),) for i in range(400)], "v double")
    b = spark.createDataFrame([(40.0 + i % 60,) for i in range(600)], "v double")
    p_ab = psi(a, b, "v", 0.0, 100.0, n_bins=10).collect()[0].psi
    p_ba = psi(b, a, "v", 0.0, 100.0, n_bins=10).collect()[0].psi
    assert p_ab > 0.25  # disjoint supports -> loud drift
    assert abs(p_ab - p_ba) < 1e-9  # PSI is symmetric by construction


def test_value_histogram_guards(spark):
    import pytest as _pytest

    from datastream_spark.operators.drift import value_histogram

    df = spark.createDataFrame([(1.0,)], "v double")
    with _pytest.raises(ValueError):
        value_histogram(df, "v", 5.0, 5.0, 10)
    with _pytest.raises(ValueError):
        value_histogram(df, "v", 0.0, 10.0, 0)


def test_calibrate_scores_rank_and_z(spark):
    from datastream_spark.operators.curation import calibrate_scores

    rows = [
        ("web", 1, 10.0), ("web", 2, 20.0), ("web", 3, 30.0),
        ("book", 4, 1000.0), ("book", 5, 3000.0),
        ("flat", 6, 7.0), ("flat", 7, 7.0),
    ]
    df = spark.createDataFrame(rows, "source string, id int, score double")
    got = {r.id: (r.cal_rank, r.cal_z) for r in
           calibrate_scores(df, "source", "score", "id").collect()}
    # web: ranks 0, 0.5, 1; z = (x-20)/sqrt(200/3)
    assert [got[1][0], got[2][0], got[3][0]] == [0.0, 0.5, 1.0]
    import math
    sd = math.sqrt(((10 - 20) ** 2 + 0 + (30 - 20) ** 2) / 3)
    assert abs(got[1][1] - (10 - 20) / sd) < 1e-9
    # incomparable raw scales, identical calibrated ranks
    assert (got[4][0], got[5][0]) == (0.0, 1.0)
    # zero-variance group -> NULL z, deterministic tie-broken ranks
    assert got[6][1] is None and got[7][1] is None
    assert {got[6][0], got[7][0]} == {0.0, 1.0}


def test_unordered_funnel_semantics(spark):
    import datetime as dt

    from datastream_spark.operators.funnel import unordered_funnel

    t0 = dt.datetime(2024, 1, 1)

    def ev(u, ty, s):
        return (u, ty, t0 + dt.timedelta(seconds=s))

    rows = [
        # u1 completes out of order: purchase first
        ev(1, "purchase", 0), ev(1, "view", 10), ev(1, "click", 5),
        # u2 incomplete (no purchase)
        ev(2, "view", 0), ev(2, "click", 1),
        # u3 repeats: earliest occurrences win
        ev(3, "view", 50), ev(3, "view", 1), ev(3, "click", 2),
        ev(3, "purchase", 3), ev(3, "purchase", 100),
        # noise event types ignored
        ev(1, "refund", 2),
    ]
    df = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
    got = {r.user_id: r for r in
           unordered_funnel(df, ["view", "click", "purchase"]).collect()}
    assert got[1].completed and got[1].span_us == 10_000_000
    assert got[1].step_1 == t0 + dt.timedelta(seconds=10)  # view at 10
    assert not got[2].completed and got[2].span_us is None
    assert got[2].step_3 is None
    assert got[3].completed and got[3].span_us == 2_000_000  # 1 -> 3


def test_unordered_funnel_degenerate_steps(spark):
    """Fewer than 2 steps must not fail obscurely in greatest/least:
    a single step is a valid span-0 funnel; an empty list is a loud
    ValueError (ADVICE r5)."""
    import datetime as dt

    import pytest

    from datastream_spark.operators.funnel import unordered_funnel

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "view", t0), (2, "click", t0)],
        "user_id int, event_type string, ts timestamp",
    )
    got = {r.user_id: r for r in unordered_funnel(df, ["view"]).collect()}
    assert got[1].completed and got[1].span_us == 0
    assert 2 not in got  # no matching step events at all
    with pytest.raises(ValueError, match="non-empty"):
        unordered_funnel(df, [])


def test_ngram_novelty_extremes_and_short_docs(spark):
    from datastream_spark.operators.textops import ngram_novelty

    ref = spark.createDataFrame(
        [(100, "the quick brown fox")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [
            (1, "the quick brown fox"),   # exact copy -> novelty 0
            (2, "zzzzqqqqxxxx"),          # disjoint alphabet -> novelty 1
            (3, "ab"),                    # shorter than k -> NULL novelty
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_novelty(cand, ref).collect()}
    assert got[1].novelty == 0.0
    assert got[2].novelty == 1.0
    assert got[3].n_shingles == 0 and got[3].novelty is None
    # mixed doc: half its shingles seen
    mixed = spark.createDataFrame(
        [(4, "the quick zzzz")], "doc_id long, text string"
    )
    r4 = ngram_novelty(mixed, ref).collect()[0]
    assert 0.0 < r4.novelty < 1.0
    assert r4.n_seen < r4.n_shingles


def test_minhash_family_pin_on_gate_slice(spark):
    """The portable-md5 signature family exists ONLY so the q_x2b
    oracle can replay the pipeline in SQL; the production family is
    xxhash64. Pin (VERDICT r5 item 8) what actually holds — and what
    doesn't, so nobody over-reads the oracle-replay family:

    - both families recover >= 90% of the STRONG pairs (exact n-gram
      J >= 0.7, far above the 32-hash estimator's ~0.09 std at the
      0.5 query) with >= 75% precision against the exact J >= 0.5
      truth (ngram_jaccard_pairs, the q_x6 verifier);
    - the families are NOT pairwise-identical at the threshold: the
      gate corpus is saturated right at J~0.5, where a 32-hash
      estimate legitimately flips borderline pairs per family (the
      corpus has NO byte-identical docs, so even jaccard_est = 1.0
      rows are chance 32/32 agreements and family-specific; the
      corpus-level measurement record lives on dedup.minhash_params).
      Estimator statistics transfer between families; borderline
      membership does not — which is exactly why the oracle pins ONE
      family and the product default is the faster one."""
    from datastream_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("doc_id") < 2000
    )
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(d, k=3, threshold=0.5).collect()
    }
    strong = {p for p, j in truth.items() if j >= 0.7}
    assert len(strong) >= 10

    def pairs(portable):
        sigs = dedup.minhash_signature_arrays(
            d, num_hashes=32, shingle_k=3, portable_hash=portable
        )
        est = dedup.minhash_near_dup_pairs(
            sigs, rows_per_band=4, num_hashes=32, min_jaccard=0.5
        )
        return {(r.id_a, r.id_b) for r in est.collect()}

    md5_all = pairs(True)
    xx_all = pairs(False)
    for name, got in (("md5", md5_all), ("xxhash", xx_all)):
        recall_strong = len(got & strong) / len(strong)
        precision = len(got & set(truth)) / len(got)
        assert recall_strong >= 0.9, (name, recall_strong)
        assert precision >= 0.75, (name, precision)


def test_lsh_exact_refine_family_independent_and_true(spark):
    """lsh_near_dup_pairs_exact: every emitted pair carries its TRUE
    n-gram Jaccard (cross-checked against ngram_jaccard_pairs, the
    PPJoin exact verifier) — precision 1.0 by construction — and the
    banded candidate generation keeps >= 90% recall on strong pairs.
    This is the family-independent output the estimate path cannot
    give (round-6 measurement: ±0.02-0.04 corpus-level jaccard_est
    luck at 32 hashes swings threshold pair counts 2-10x)."""
    from datastream_spark.operators import dedup

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("doc_id") < 500
    )
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(d, k=3, threshold=0.5).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.lsh_near_dup_pairs_exact(
            d, num_hashes=32, shingle_k=3, min_jaccard=0.5
        ).collect()
    }
    # precision 1.0: every emitted pair is a true pair with the exact value
    assert set(got) <= set(truth)
    for p, j in got.items():
        assert abs(j - truth[p]) < 1e-9
    # banding recall on strong pairs (J >= 0.7, far above the geometry's
    # miss probability at a 0.5-tuned band layout)
    strong = {p for p, j in truth.items() if j >= 0.7}
    assert len(strong) >= 10
    assert len(set(got) & strong) / len(strong) >= 0.9


def test_curation_funnel_exact_refine_mode(spark):
    """CurationConfig(near_dup_refine='exact') routes stage 4 through
    lsh_near_dup_pairs_exact; survivors are a superset of the estimate
    path's at the same threshold ONLY when the estimate over-fires —
    here we just pin that the mode runs end-to-end and keeps the
    funnel's determinism (two runs, identical survivors)."""
    from datastream_spark.pipeline import CurationConfig, curate_corpus

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").where(
        F.col("doc_id") < 300
    )
    ev = d.where(F.col("doc_id") % 20 == 0)
    tr = d.where(F.col("doc_id") % 20 != 0)
    cfg = CurationConfig(
        min_quality=0.2, near_dup_threshold=0.5,
        count_stages=False, near_dup_refine="exact",
    )
    a, _ = curate_corpus(tr, ev, cfg)
    b, _ = curate_corpus(tr, ev, cfg)
    ids_a = sorted(r.doc_id for r in a.select("doc_id").collect())
    ids_b = sorted(r.doc_id for r in b.select("doc_id").collect())
    assert ids_a == ids_b and len(ids_a) > 0


def test_dsir_weights_separate_distributions(spark):
    """Raw pool of cat-docs and dog-docs, target of cat-docs only:
    every cat doc must outweigh every dog doc, and temperature-0
    selection returns exactly the cat docs, highest weight first."""
    from datastream_spark.operators import selection

    cats = [(i, "cat purr whiskers cat nap " * 3) for i in range(10)]
    dogs = [(100 + i, "dog bark fetch dog bone " * 3) for i in range(10)]
    raw = spark.createDataFrame(cats + dogs, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, "cat whiskers purr cat toy " * 2) for i in range(5)],
        "doc_id long, text string",
    )
    wts = selection.dsir_weights(raw, target, buckets=512, smoothing=1.0)
    rows = {r.doc_id: r for r in wts.collect()}
    assert len(rows) == 20
    cat_w = [rows[i].weight_e6 for i in range(10)]
    dog_w = [rows[100 + i].weight_e6 for i in range(10)]
    assert min(cat_w) > max(dog_w)
    # n_grams = unigrams + bigrams = 2*len - 1
    n_tok = len(("cat purr whiskers cat nap " * 3).split())
    assert rows[0].n_grams == 2 * n_tok - 1

    sel = selection.dsir_select(wts, 10, temperature=0.0)
    assert sorted(r.doc_id for r in sel.collect()) == list(range(10))
    # rank order follows (weight desc, doc_id)
    got = [(r.rank, r.doc_id) for r in sel.orderBy("rank").collect()]
    assert got[0][0] == 1 and len(got) == 10


def test_dsir_gumbel_select_deterministic_and_tempered(spark):
    """The Gumbel draw is hash-seeded: same seed -> identical sample
    across runs; different seed -> (here) a different sample; huge
    temperature lets low-weight docs in (it really is sampling)."""
    from datastream_spark.operators import selection

    docs = [(i, f"token{i} filler common words here number {i}") for i in range(60)]
    raw = spark.createDataFrame(docs, "doc_id long, text string")
    target = spark.createDataFrame(docs[:5], "doc_id long, text string")
    wts = selection.dsir_weights(raw, target, buckets=256).persist()
    a = [r.doc_id for r in selection.dsir_select(
        wts, 15, temperature=2.0, seed="s1").orderBy("rank").collect()]
    b = [r.doc_id for r in selection.dsir_select(
        wts, 15, temperature=2.0, seed="s1").orderBy("rank").collect()]
    assert a == b
    c = [r.doc_id for r in selection.dsir_select(
        wts, 15, temperature=1e6, seed="s2").orderBy("rank").collect()]
    assert set(c) != set(a)
    top = [r.doc_id for r in selection.dsir_select(
        wts, 15, temperature=0.0).orderBy("rank").collect()]
    # the target's own five docs dominate the zero-temperature top-15
    assert set(range(5)) <= set(top)
    wts.unpersist()


def test_bm25_hand_computed(spark):
    """bm25_topk: exact Okapi/Lucene-IDF scores on a hand corpus,
    zero-score exclusion, rounding-induced exact ties break on id,
    k cuts, empty-terms raises."""
    import math

    from datastream_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark spark engine"),
        (2, "spark"),
        (3, "engine room"),
        (4, "the spark of life and fire"),
        (5, "  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(docs, ["spark"], k=10).collect()
    got = {r.id: (r.dl, r.bm25, r.rank) for r in out}

    # N=5 docs, df(spark)=3, dl = 3,1,2,6,0 -> avgdl = 12/5.
    idf = math.log((5 - 3 + 0.5) / (3 + 0.5) + 1.0)
    avgdl = 12 / 5

    def s(tf, dl):
        return round(
            idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6
        )

    assert 3 not in got and 5 not in got  # no query term -> not retrieved
    assert got[2] == (1, s(1, 1), 1)
    assert got[1] == (3, s(2, 3), 2)
    assert got[4] == (6, s(1, 6), 3)
    # Length normalization at work: the one-token doc outscores the
    # tf=2 doc at this avgdl; pin the full ordering so a formula
    # regression reorders loudly.
    assert [r.id for r in sorted(out, key=lambda r: r.rank)] == [2, 1, 4]

    # k cuts after ranking.
    assert [r.id for r in bm25_topk(docs, ["spark"], k=2).collect()] == [2, 1]

    # Multi-term scores are the per-term sum (engine term only in 1,3).
    two = {
        r.id: r.bm25
        for r in bm25_topk(docs, ["spark", "engine"], k=10).collect()
    }
    idf_e = math.log((5 - 2 + 0.5) / (2 + 0.5) + 1.0)

    def se(tf, dl):
        return idf_e * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    def ss(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert two[3] == round(se(1, 2), 6)
    assert two[1] == round(ss(2, 3) + se(1, 3), 6)

    with pytest.raises(ValueError):
        bm25_topk(docs, [], k=5)


def test_hybrid_topk_bm25_lexical(spark):
    """hybrid_topk(lexical="bm25") swaps the lexical list's scorer but
    fuses identically: same RRF arithmetic, ranks-only interface."""
    from datastream_spark.operators.retrieval import hybrid_topk

    docs = spark.createDataFrame(
        [
            (0, "alpha beta"),
            (1, "alpha alpha gamma"),
            (2, "delta epsilon"),
            (3, "alpha"),
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.7, 0.3]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = hybrid_topk(
        docs, embs, terms=["alpha"], query_vec_id=0, m=3, k=4,
        lexical="bm25",
    ).collect()
    assert len(out) > 0
    # Doc 2 has neither the term nor cosine proximity rank 1-3 edge
    # over the others; the alpha docs must dominate the fused head.
    head = [r.id for r in out[:2]]
    assert 2 not in head

    with pytest.raises(ValueError):
        hybrid_topk(
            docs, embs, terms=["alpha"], query_vec_id=0, lexical="tfidf"
        )


def test_curation_refine_mode_validated(spark):
    """An unknown near_dup_refine value refuses loudly instead of
    silently running the family-dependent estimate path."""
    import pytest as _pytest

    from datastream_spark.pipeline import CurationConfig, curate_corpus

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError):
        curate_corpus(
            docs, config=CurationConfig(near_dup_refine="exakt")
        )


def test_incremental_clusters_matches_rebuild(spark):
    """incremental_clusters == connected_components over the unioned edge
    set — including cross-component merges, a new node with a SMALLER
    id than an existing component's label (forces relabeling of old
    members), re-discovered duplicate pairs (contract to self-loops,
    free), and untouched components (labels stable)."""
    from datastream_spark.operators.dedup import (
        connected_components,
        incremental_clusters,
    )

    old_pairs = spark.createDataFrame(
        [(5, 6), (6, 7), (9, 12), (20, 21)], "id_a long, id_b long"
    )
    new_pairs = spark.createDataFrame(
        [
            (2, 5),    # new node with a smaller id joins {5,6,7}
            (7, 9),    # merges {5,6,7} with {9,12}
            (5, 6),    # re-discovered duplicate: self-loop, no-op
            (30, 31),  # brand-new component
        ],
        "id_a long, id_b long",
    )

    def comp(df):
        return {(r.node, r.component) for r in df.collect()}

    base = connected_components(old_pairs)
    inc = comp(incremental_clusters(base, new_pairs))
    full = comp(connected_components(old_pairs.unionByName(new_pairs)))
    assert inc == full
    # untouched component keeps its label; merged family relabels to 2
    assert (20, 20) in inc and (21, 20) in inc
    assert {(n, c) for n, c in inc if n in (2, 5, 6, 7, 9, 12)} == {
        (n, 2) for n in (2, 5, 6, 7, 9, 12)
    }
    # bootstrap path
    assert comp(incremental_clusters(None, old_pairs)) == comp(base)

    # distributed rep-graph path (driver_threshold=0) agrees too
    assert comp(
        incremental_clusters(base, new_pairs, driver_threshold=0)
    ) == full


def test_delete_from_clusters_matches_rebuild_on_survivors(spark):
    """delete_from_clusters == connected_components over the surviving
    edge set — including a deletion that SPLITS a component (the
    contraction theorem can't run backwards), a component that dies
    entirely, a survivor whose last edge died (drops out, like a
    rebuild), untouched components (labels stable, never re-clustered),
    and a deleted min-label node (split halves relabel to their own
    minima). Both the pre-compaction pairs table (dead rows present)
    and the post-compaction one (already purged) yield the same
    answer, and the distributed CC path agrees."""
    from datastream_spark.operators.dedup import (
        connected_components,
        delete_from_clusters,
    )

    # 1-2-3-4 chain (label 1), 10-11 (label 10), 20-21-22 star (label 20)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    clusters = connected_components(pairs)

    def comp(df):
        return {(r.node, r.component) for r in df.collect()}

    # delete 2 (splits {1,2,3,4} -> {1} edge-less + {3,4}; 1's last
    # edge dies so 1 drops out), delete 10 (11's last edge dies ->
    # whole component vanishes), delete 20 (the STAR CENTER and min
    # label: 21 and 22 lose all edges -> component vanishes)
    dead = [2, 10, 20]
    survived = pairs.where(
        ~F.col("id_a").isin(dead) & ~F.col("id_b").isin(dead)
    )
    want = comp(connected_components(survived))
    got = comp(delete_from_clusters(clusters, pairs, dead))
    assert got == want == {(3, 3), (4, 3)}

    # deleted_ids as a DataFrame with a differently-named column
    dead_df = spark.createDataFrame([(d,) for d in dead], "doc_id long")
    assert comp(delete_from_clusters(clusters, pairs, dead_df)) == want

    # post-compaction pairs table (dead rows already purged) agrees
    assert comp(delete_from_clusters(clusters, survived, dead)) == want

    # distributed CC path on the induced subgraph agrees
    assert comp(
        delete_from_clusters(clusters, pairs, dead, driver_threshold=0)
    ) == want

    # untouched-component label stability: delete only node 11
    got2 = comp(delete_from_clusters(clusters, pairs, [11]))
    want2 = comp(
        connected_components(
            pairs.where(~F.col("id_a").isin([11]) & ~F.col("id_b").isin([11]))
        )
    )
    assert got2 == want2
    assert {(n, c) for n, c in got2 if n in (1, 2, 3, 4)} == {
        (n, 1) for n in (1, 2, 3, 4)
    }
    # deleting an id that never clustered is a no-op
    assert comp(delete_from_clusters(clusters, pairs, [999])) == comp(clusters)


def test_delete_from_clusters_auto_rebuild_and_resurrection_guard(spark):
    """Round-10 hardening: (a) a scattered takedown whose carved
    subgraph exceeds rebuild_edge_fraction of the pair table
    auto-chooses the survivor rebuild — same output as the carve path
    (the parity pin), no caller knob-turning; (b) a pair row whose
    endpoint died in an EARLIER uncompacted takedown raises instead of
    silently resurrecting the dead node into the cluster table."""
    from datastream_spark.exceptions import InconsistentStreamConfiguration
    from datastream_spark.operators.dedup import (
        connected_components,
        delete_from_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    clusters = connected_components(pairs)

    def comp(df):
        return {(r.node, r.component) for r in df.collect()}

    # (a) dead=[2] touches the big chain: carved surviving edges =
    # {(3,4)} = 1/6 of the table. fraction=0.1 forces the REBUILD
    # path; fraction=1.0 forces the carve path; both match the rebuild
    # oracle exactly.
    dead = [2]
    survived = pairs.where(
        ~F.col("id_a").isin(dead) & ~F.col("id_b").isin(dead)
    )
    want = comp(connected_components(survived))
    via_rebuild = comp(
        delete_from_clusters(clusters, pairs, dead, rebuild_edge_fraction=0.1)
    )
    via_carve = comp(
        delete_from_clusters(clusters, pairs, dead, rebuild_edge_fraction=1.0)
    )
    assert via_rebuild == via_carve == want

    # (b) stacked-takedown violation: node 4 died in an earlier
    # takedown (absent from clusters) but its pair row was never
    # compacted away. Deleting 2 carves the touched chain and would
    # relabel 4 back to life — the guard must refuse, on BOTH paths.
    stale_clusters = delete_from_clusters(clusters, pairs, [4])
    assert 4 not in {r.node for r in stale_clusters.collect()}
    with pytest.raises(InconsistentStreamConfiguration, match="resurrect|uncompacted"):
        delete_from_clusters(stale_clusters, pairs, [2]).collect()
    with pytest.raises(InconsistentStreamConfiguration, match="resurrect|uncompacted"):
        delete_from_clusters(
            stale_clusters, pairs, [2], rebuild_edge_fraction=0.0
        ).collect()


# ---------------------------------------------------------------------------
# Trainable quality classifier (operators/classifier.py)
# ---------------------------------------------------------------------------


def _py_train_clf(feats, labels, iters, lr):
    """Pure-Python replay of train_text_classifier's quantized GD —
    the cross-engine parity reference (exact-integer weights, see the
    module docstring doctrine). feats: list[(id, b, cnt)], labels:
    dict[id -> 0/1]."""
    import math

    docs = sorted({i for i, _, _ in feats if i in labels})
    n = len(docs)
    den = {}
    for i, b, c in feats:
        if i in labels:
            den[b] = den.get(b, 0) + c * 1_000_000
    w = {-1: 0}
    for _ in range(iters):
        m = {i: w[-1] for i in docs}
        for i, b, c in feats:
            if i in labels:
                m[i] += c * w.get(b, 0)
        r = {}
        for i in docs:
            x = m[i] / 1e6
            p = 0.5 + 0.5 * x / (1.0 + abs(x))
            r[i] = math.floor((p - labels[i]) * 1e6)
        g = {}
        for i, b, c in feats:
            if i in labels:
                g[b] = g.get(b, 0) + c * r[i]
        for b, gv in g.items():
            w[b] = w.get(b, 0) - math.floor(gv * lr * 1e6 / den[b])
        w[-1] -= math.floor(sum(r.values()) * lr / n)
    return w


def test_classifier_train_matches_python_replay_exactly(spark):
    """The q_bt1 doctrine applied to GD: integer weights after k
    rounds are EXACTLY equal between the Spark path and a pure-Python
    fold — no tolerance."""
    from datastream_spark.operators.classifier import train_text_classifier

    feats = [
        (1, 0, 3), (1, 1, 1), (2, 1, 4), (2, 2, 2),
        (3, 0, 1), (3, 3, 5), (4, 2, 1), (4, 3, 1), (5, 0, 2),
    ]
    labels = {1: 1, 2: 0, 3: 1, 4: 0, 5: 1}
    fdf = spark.createDataFrame(feats, "doc_id long, b long, cnt long")
    ldf = spark.createDataFrame(
        sorted(labels.items()), "doc_id long, label long"
    )
    got = {
        r["b"]: r["w_e6"]
        for r in train_text_classifier(fdf, ldf, iters=4, lr=0.5).collect()
    }
    want = _py_train_clf(feats, labels, 4, 0.5)
    assert got == want
    # and the distributed joins path is bit-identical to the driver
    # path (the preference.py two-path parity pin)
    joins = {
        r["b"]: r["w_e6"]
        for r in train_text_classifier(
            fdf, ldf, iters=4, lr=0.5, driver_max_nnz=0
        ).collect()
    }
    assert joins == want


def test_classifier_learns_content_label(spark):
    """End-to-end on real sf0.001 documents: 12 mass-normalized
    rounds on a content-determined label (doc mentions 'vector' —
    the testdata's langs share one vocabulary, so the lang TAG is
    unlearnable from text and would pin at the majority baseline)
    must clearly beat the majority class on the training set — the
    model learns, not just runs."""
    from datastream_spark.functions import ws_tokens
    from datastream_spark.operators.classifier import train_quality_filter

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    label = F.array_contains(ws_tokens(F.col("text")), "vector")
    _, scored = train_quality_filter(d, label, buckets=4096, iters=12, lr=0.5)
    joined = scored.join(d.select("doc_id", label.alias("y")), "doc_id")
    agg = joined.select(
        F.count("*").alias("n"),
        F.sum((F.col("y") == F.col("keep")).cast("long")).alias("correct"),
        F.sum(F.col("y").cast("long")).alias("pos"),
    ).collect()[0]
    majority = max(agg["pos"], agg["n"] - agg["pos"]) / agg["n"]
    assert agg["correct"] / agg["n"] > majority
    assert agg["correct"] / agg["n"] > 0.9


def test_classifier_margin_scoring_covers_unseen_buckets(spark):
    """Scoring docs whose buckets never appeared in training must not
    drop rows or NULL out — missing weights read as 0."""
    from datastream_spark.operators.classifier import (
        classifier_margins,
        train_text_classifier,
    )

    fdf = spark.createDataFrame(
        [(1, 0, 2), (2, 0, 1)], "doc_id long, b long, cnt long"
    )
    ldf = spark.createDataFrame([(1, 1), (2, 0)], "doc_id long, label long")
    w = train_text_classifier(fdf, ldf, iters=2, lr=1.0)
    unseen = spark.createDataFrame(
        [(9, 7, 4), (9, 0, 1)], "doc_id long, b long, cnt long"
    )
    out = classifier_margins(unseen, w).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 9
    assert out[0]["n_grams"] == 5 and out[0]["margin_e6"] is not None


def test_classifier_guards(spark):
    from datastream_spark.operators.classifier import train_text_classifier

    fdf = spark.createDataFrame(
        [(1, 0, 1), (1, 1, 1)], "doc_id long, b long, cnt long"
    )
    ldf = spark.createDataFrame([(1, 1)], "doc_id long, label long")
    with pytest.raises(ValueError, match="iters"):
        train_text_classifier(fdf, ldf, iters=0)
    with pytest.raises(ValueError, match="max_buckets"):
        train_text_classifier(fdf, ldf, iters=1, max_buckets=1)
    with pytest.raises(ValueError, match="no labeled"):
        train_text_classifier(
            fdf, spark.createDataFrame([(2, 1)], "doc_id long, label long"),
            iters=1,
        )


def test_score_documents_matches_feature_path_and_streams(spark, tmp_path):
    """The zero-shuffle map-literal scorer == classifier_margins over
    hashed_gram_buckets features (per-gram-occurrence sums ARE
    cnt-weighted sums), and the SAME function runs unchanged on a
    streaming DataFrame with identical output."""
    from datastream_spark.functions import ws_tokens
    from datastream_spark.operators.classifier import (
        score_documents,
        train_quality_filter,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    weights, scored = train_quality_filter(
        d,
        F.array_contains(ws_tokens(F.col("text")), "vector"),
        buckets=512,
        iters=4,
        lr=0.5,
    )
    want = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"], r["keep"])
        for r in scored.collect()
    }
    got_df = score_documents(d, weights, buckets=512)
    got = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"], r["keep"])
        for r in got_df.collect()
    }
    assert got == want
    # the scorer's plan has no KEYED exchange: scoring is scan-side
    # (spread()'s round-robin on the tiny test input is a no-op on
    # real multi-partition scans)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan

    # streaming twin: the same function over readStream
    src = str(tmp_path / "docs_in")
    d.limit(50).write.parquet(src)
    stream = spark.readStream.schema(d.schema).parquet(src)
    out = score_documents(stream, weights, buckets=512)
    q = (
        out.writeStream.format("memory")
        .queryName("clf_scores")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_s = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"], r["keep"])
        for r in spark.sql("select * from clf_scores").collect()
    }
    assert len(got_s) == 50
    assert all(got_s[k] == want[k] for k in got_s)


def test_classifier_margins_biasless_weight_table(spark):
    """A frozen/external weight table without a bias (b=-1) row must
    score every doc with bias 0 — not silently drop the corpus via an
    empty cross join (round-7 review finding)."""
    from datastream_spark.operators.classifier import classifier_margins

    feats = spark.createDataFrame(
        [(1, 0, 2), (2, 5, 3)], "doc_id long, b long, cnt long"
    )
    w = spark.createDataFrame([(0, 1_000_000)], "b long, w_e6 long")
    out = {r["doc_id"]: r["margin_e6"] for r in classifier_margins(feats, w).collect()}
    assert out == {1: 2_000_000, 2: 0}


def test_classifier_lr_must_be_power_of_two(spark):
    """lr is part of the bit-exact replay contract — the trainer now
    REFUSES non-power-of-two rates instead of documenting the rule
    (round-7 advice)."""
    from datastream_spark.operators.classifier import train_text_classifier

    fdf = spark.createDataFrame(
        [(1, 0, 1), (2, 0, 1)], "doc_id long, b long, cnt long"
    )
    ldf = spark.createDataFrame([(1, 1), (2, 0)], "doc_id long, label long")
    for bad in (0.1, 0.3, 0.0, -0.5, 2.0):
        with pytest.raises(ValueError, match="power-of-two"):
            train_text_classifier(fdf, ldf, iters=1, lr=bad)
    # the allowed family still trains
    assert train_text_classifier(fdf, ldf, iters=1, lr=0.25).count() >= 1


def test_score_documents_gather_fallback_parity(spark):
    """Above max_map_entries the scorer switches from the literal-map
    fold to the broadcast numpy-gather pandas UDF; both paths must
    produce identical exact margins, including the NULL-text edge
    (round-7 advice: the literal path was untested past ~2k entries)."""
    from datastream_spark.operators.classifier import (
        score_documents,
        train_quality_filter,
    )
    from datastream_spark.functions import ws_tokens

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
        .unionByName(
            spark.createDataFrame(
                [(999_001, None), (999_002, "solo")],
                "doc_id long, text string",
            )
        )
    )
    weights, _ = train_quality_filter(
        d.where(F.col("text").isNotNull()),
        F.array_contains(ws_tokens(F.col("text")), "vector"),
        buckets=512,
        iters=2,
        lr=0.5,
    )
    lit_path = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"], r["score"], r["keep"])
        for r in score_documents(d, weights, buckets=512).collect()
    }
    gather_path = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"], r["score"], r["keep"])
        for r in score_documents(
            d, weights, buckets=512, max_map_entries=0
        ).collect()
    }
    assert gather_path == lit_path
    assert lit_path[999_001][1] is None  # NULL text -> NULL margin, kept row


def test_score_documents_gather_refuses_duplicate_bucket_ids(spark):
    """A weights table with duplicate bucket ids is malformed: the
    literal-map path throws at runtime (mapKeyDedupPolicy=EXCEPTION);
    the gather path's dense scatter would silently keep the LAST value
    — round-8 advice: both paths must fail loudly on the same input."""
    from datastream_spark.operators.classifier import score_documents

    d = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    weights = spark.createDataFrame(
        [(-1, 0), (7, 100), (7, -100)], "b long, w_e6 long"
    )
    with pytest.raises(ValueError, match="duplicate bucket ids"):
        score_documents(d, weights, buckets=512, max_map_entries=0)
    # match Spark's own error class, not just "duplicate": this leg
    # must prove the LITERAL-MAP path refused (mapKeyDedupPolicy), not
    # that the gather-path ValueError fired again (round-9 advice)
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        score_documents(d, weights, buckets=512).collect()


def test_score_documents_large_model_autoselects_gather(spark):
    """A weight table past the literal cap (here ~60k of 2^16 buckets)
    must score WITHOUT a giant parsed map literal, matching the
    explode+broadcast-join classifier_margins oracle exactly."""
    import numpy as np

    from datastream_spark.operators.classifier import (
        classifier_margins,
        score_documents,
    )
    from datastream_spark.operators.selection import hashed_gram_buckets

    buckets = 1 << 16
    rng = np.random.RandomState(7)
    ids = rng.choice(buckets, size=60_000, replace=False).astype(np.int64)
    wvals = rng.randint(-2_000_000, 2_000_000, size=60_000).astype(np.int64)
    rows = [(int(b), int(w)) for b, w in zip(ids, wvals)] + [(-1, 123_456)]
    weights = spark.createDataFrame(rows, "b long, w_e6 long")

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    got = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"])
        for r in score_documents(d, weights, buckets=buckets).collect()
    }
    feats = hashed_gram_buckets(d, buckets=buckets).withColumnRenamed(
        "_id", "doc_id"
    )
    want = {
        r["doc_id"]: (r["n_grams"], r["margin_e6"])
        for r in classifier_margins(feats, weights).collect()
    }
    assert got == want

    # model/featurization mismatch refuses loudly instead of indexing
    # past the dense array
    with pytest.raises(ValueError, match="different featurization"):
        score_documents(d, weights, buckets=1024, max_map_entries=0).collect()


def test_gopher_rules_hand_crafted(spark):
    """Each Gopher rule fires on a doc built to violate exactly it."""
    from datastream_spark.operators.curation import gopher_rules

    good = " ".join(["the", "be", "of"] + [f"word{i}" for i in range(60)])
    rows = [
        (1, good),                                  # passes everything
        (2, "the be of short doc"),                 # too few words
        (3, " ".join(["the be"] + ["#"] * 80)),     # symbol ratio + alpha
        (4, "\n".join(["- bullet line " + good] * 10)),  # 100% bullets
        (5, " ".join([f"word{i}" for i in range(60)])),  # no stopwords
        (6, "\n".join([good + " trailing..."] * 10)),    # 100% ellipsis lines
        (7, " ".join(["the", "be"] + ["ab"] * 60)),      # mean word len < 3
        # non-ASCII letters ARE alphabetic (\p{L}, not [a-z]) — a
        # German doc must not fail rule_alpha wholesale
        (8, "über die straße gehen " * 20 + "the be"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[1]["passes"]
    assert not out[2]["rule_word_count"] and not out[2]["passes"]
    assert not out[3]["rule_symbol_ratio"] and not out[3]["rule_alpha"]
    assert out[4]["n_bullet_lines"] == out[4]["n_lines"] == 10
    assert not out[4]["rule_bullets"]
    assert out[5]["n_stopwords"] == 0 and not out[5]["rule_stopwords"]
    assert out[6]["n_ellipsis_lines"] == 10 and not out[6]["rule_ellipsis"]
    assert not out[7]["rule_mean_word_len"] and not out[7]["passes"]
    assert out[8]["rule_alpha"] and out[8]["n_alpha_words"] == out[8]["n_words"]
    # counters are exact
    assert out[1]["n_words"] == 63 and out[1]["n_stopwords"] == 3
