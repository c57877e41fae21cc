"""Streaming path tests (SURVEY.md §2.9 / M7).

Strategy: feed a bounded file stream through the streaming rollup and
assert the APPEND-mode output (watermark-finalized buckets only) agrees
with the batch engine's ``rollup_from_raw`` over the same finalized
slice — batch/streaming parity by construction, verified by test.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datastream_spark.granularity import Granularity
from datastream_spark.operators.rollup import rollup_from_raw
from datastream_spark.streaming import (
    read_datapoint_stream,
    streaming_rollup,
    validated_stream,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_landing(spark, path, rows):
    spark.createDataFrame(
        rows, "stream_id string, ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def landing(tmp_path):
    return str(tmp_path / "landing")


def _run_stream_to_memory(spark, result, name, checkpoint):
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_streaming_rollup_matches_batch(spark, tmp_path, landing):
    # 2 streams, 35s of per-second points -> 10s buckets.
    rows = [
        (sid, T0 + dt.timedelta(seconds=i), float(i * (1 + k)))
        for k, sid in enumerate(["a", "b"])
        for i in range(35)
    ]
    _write_landing(spark, landing, rows)
    # A straggler far past the data: pushes the watermark so every
    # earlier bucket finalizes and is emitted in append mode.
    _write_landing(spark, landing, [("a", T0 + dt.timedelta(seconds=600), 0.0)])

    stream = read_datapoint_stream(spark, landing)
    assert stream.isStreaming
    result = streaming_rollup(stream, Granularity.Seconds10, "5 seconds")
    got = _run_stream_to_memory(
        spark, result, "rollup10s", str(tmp_path / "ckpt")
    )

    finalized = got.select(
        "stream_id", "bucket_epoch", "v_count", "v_sum", "v_min", "v_max",
        "v_mean", "v_std_dev", "t_first", "t_last",
    )
    # Batch twin over the same finalized horizon (buckets fully < the
    # straggler's watermark — i.e. all of the 35s burst).
    batch = rollup_from_raw(
        spark.createDataFrame(rows, "stream_id string, ts timestamp, value double"),
        Granularity.Seconds10,
    ).select(*finalized.columns)

    sym_diff = finalized.exceptAll(batch).union(batch.exceptAll(finalized))
    assert sym_diff.count() == 0
    assert finalized.count() == 8  # 2 streams x 4 buckets (0,10,20,30)


def test_streaming_append_mode_holds_back_open_buckets(spark, tmp_path, landing):
    rows = [("a", T0 + dt.timedelta(seconds=i), 1.0) for i in range(25)]
    _write_landing(spark, landing, rows)

    stream = read_datapoint_stream(spark, landing)
    result = streaming_rollup(stream, Granularity.Seconds10, "5 seconds")
    got = _run_stream_to_memory(spark, result, "rollup_open", str(tmp_path / "c2"))

    # Watermark = max(ts) - 5s = t0+19s. A window is finalized only when
    # the watermark passes its END: [0,10) qualifies (10 <= 19);
    # [10,20) (end 20 > 19) and [20,30) are still open — held back.
    epochs = {r.bucket_epoch for r in got.select("bucket_epoch").collect()}
    t0e = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert epochs == {t0e}


def test_validated_stream_drops_future_and_nulls(spark, landing):
    far_future = dt.datetime(2124, 1, 1)
    rows = [("a", T0, 1.0), ("a", far_future, 2.0), (None, T0, 3.0)]
    _write_landing(spark, landing, rows)

    stream = validated_stream(read_datapoint_stream(spark, landing))
    # Foreach-batch style check via availableNow memory sink.
    q = (
        stream.writeStream.format("memory")
        .queryName("validated")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from validated").collect()
    assert [(r.stream_id, r.value) for r in out] == [("a", 1.0)]


def test_session_rollup_stream_plan_builds(spark, landing):
    """Session windows: assert the streaming plan constructs and carries
    the session_window struct (full result parity is covered batch-side
    by Q-ST2's oracle probe)."""
    from datastream_spark.streaming import session_rollup_stream

    rows = [("a", T0 + dt.timedelta(seconds=i * 60), 1.0) for i in range(3)]
    _write_landing(spark, landing, rows)
    stream = read_datapoint_stream(spark, landing)
    result = session_rollup_stream(stream, gap_seconds=1800)
    assert result.isStreaming
    assert "win" in result.columns and "v_count" in result.columns


def test_streaming_derivative_carries_state_across_batches(spark, tmp_path, landing):
    """Stateful derive (applyInPandasWithState): the rate at each point
    uses the PREVIOUS point even when that point arrived in an earlier
    micro-batch — state-store carry-over, checkpoint-resumable."""
    from datastream_spark.operators.derive import derivative
    from datastream_spark.streaming import streaming_derivative

    ckpt = str(tmp_path / "ckpt_deriv")
    batch1 = [
        ("a", T0 + dt.timedelta(seconds=i), float(i * i)) for i in range(5)
    ] + [("b", T0 + dt.timedelta(seconds=2 * i), 10.0 - i) for i in range(3)]
    batch2 = [
        ("a", T0 + dt.timedelta(seconds=5 + i), float((5 + i) ** 2)) for i in range(3)
    ] + [("b", T0 + dt.timedelta(seconds=6), 100.0)]

    out_dir = str(tmp_path / "deriv_out")

    def run_once():
        stream = read_datapoint_stream(spark, landing)
        q = (
            streaming_derivative(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_landing(spark, landing, batch1)
    run_once()
    n_run1 = spark.read.parquet(out_dir).count()
    assert n_run1 == 6  # a: 4 rates, b: 2 rates; first points emit nothing
    _write_landing(spark, landing, batch2)  # second file -> second run
    run_once()

    # Batch twin over ALL rows must equal the union of both streaming
    # runs — in particular the batch1->batch2 seam rates exist only if
    # the state store carried the last point of run 1 into run 2.
    all_rows = spark.createDataFrame(
        batch1 + batch2, "stream_id string, ts timestamp, value double"
    )
    expected = {
        (r.stream_id, r.ts, round(r.value_rate, 9))
        for r in derivative(all_rows).collect()
    }
    got = {
        (r.stream_id, r.ts, round(r.value_rate, 9))
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == expected and len(got) == n_run1 + 4


def test_streaming_dedup_drops_within_watermark(spark, tmp_path, landing):
    """Streaming X1: duplicate keys within the watermark horizon are
    dropped; the survivor set matches batch exact-dedup over the same
    data (streaming/batch parity for dedup)."""
    from datastream_spark.streaming.dedup import streaming_dedup_exact

    rows = [
        ("a", T0 + dt.timedelta(seconds=1), 1.0),
        ("a", T0 + dt.timedelta(seconds=2), 1.0),   # dup key 'a'
        ("b", T0 + dt.timedelta(seconds=3), 2.0),
        ("a", T0 + dt.timedelta(seconds=4), 3.0),   # dup key 'a'
        ("c", T0 + dt.timedelta(seconds=5), 4.0),
        ("b", T0 + dt.timedelta(seconds=6), 5.0),   # dup key 'b'
    ]
    _write_landing(spark, landing, rows)
    stream = read_datapoint_stream(spark, landing)
    result = streaming_dedup_exact(
        stream, key_cols=["stream_id"], ts_col="ts", watermark="10 minutes"
    )
    out = _run_stream_to_memory(
        spark, result, "dedup_stream", str(tmp_path / "ckpt_dedup")
    )
    got = {r.stream_id for r in out.collect()}
    assert got == {"a", "b", "c"}
    assert out.count() == 3  # one survivor per key


def test_streaming_fingerprint_key_matches_batch_normalizer(spark):
    from datastream_spark.functions import norm_text
    from datastream_spark.streaming.dedup import fingerprint_key

    df = spark.createDataFrame(
        [("  Hello   World ",), ("hello world",), ("HELLO  WORLD",), ("other",)],
        "text string",
    )
    keys = df.select(fingerprint_key(F.col("text")).alias("k")).collect()
    assert keys[0].k == keys[1].k == keys[2].k != keys[3].k


def test_streaming_ladder_materializes_into_batch_store(spark, tmp_path, landing):
    """End-to-end: the streaming rollup sink writes the SAME rollup
    table the batch Datastream reads — get_data sees streaming-
    finalized buckets with no batch downsample run."""
    from datastream_spark.datastream import Datastream
    from datastream_spark.streaming.rollup import materialize_rollup_stream

    store_root = str(tmp_path / "store")
    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream({"name": "streamed"})

    rows = [(sid, T0 + dt.timedelta(seconds=i), float(i)) for i in range(35)]
    _write_landing(spark, landing, rows)
    # straggler advances the watermark so the first three buckets close
    _write_landing(spark, landing, [(sid, T0 + dt.timedelta(seconds=600), 0.0)])

    stream = validated_stream(read_datapoint_stream(spark, landing))
    q = (
        materialize_rollup_stream(
            stream, store_root, Granularity.Seconds10,
            checkpoint=str(tmp_path / "ckpt"), watermark_delay="5 seconds",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = list(ds.get_data(sid, Granularity.Seconds10))
    assert len(got) >= 3
    first = got[0]
    assert first["v"]["count"] == 10
    assert first["v"]["sum"] == sum(range(10))
    assert first["t"]["first"] == T0


def test_materialize_rollup_stream_resumes_from_checkpoint(
    spark, tmp_path, landing
):
    """Kill-and-resume: a second availableNow run against the SAME
    checkpoint must process only the new files and emit each finalized
    bucket exactly once — no duplicates, no gaps (the checkpoint plays
    the registry's downsampled_until role)."""
    from datastream_spark.datastream import Datastream
    from datastream_spark.streaming.rollup import materialize_rollup_stream

    store_root = str(tmp_path / "store")
    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream({"name": "resumed"})
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = validated_stream(read_datapoint_stream(spark, landing))
        q = (
            materialize_rollup_stream(
                stream, store_root, Granularity.Seconds10,
                checkpoint=ckpt, watermark_delay="5 seconds",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: 20s of data + straggler to close buckets 0 and 1
    _write_landing(spark, landing, [
        (sid, T0 + dt.timedelta(seconds=i), float(i)) for i in range(20)
    ])
    _write_landing(spark, landing, [(sid, T0 + dt.timedelta(seconds=300), 0.0)])
    run_once()
    n_after_first = len(list(ds.get_data(sid, Granularity.Seconds10)))
    assert n_after_first >= 2

    # run 2 (resume): 20s more + straggler; the first run's buckets
    # must not be re-emitted
    _write_landing(spark, landing, [
        (sid, T0 + dt.timedelta(seconds=400 + i), float(i)) for i in range(20)
    ])
    _write_landing(spark, landing, [(sid, T0 + dt.timedelta(seconds=900), 0.0)])
    run_once()

    got = list(ds.get_data(sid, Granularity.Seconds10))
    assert len(got) > n_after_first
    # exactly-once: each bucket (identified by its first-point ts)
    # appears exactly once across the two runs
    counts = {}
    for p in got:
        k = p["t"]["first"]
        counts[k] = counts.get(k, 0) + 1
    assert all(v == 1 for v in counts.values()), counts


def test_streaming_counter_family_matches_batch(spark, tmp_path, landing):
    """Streaming counter_reset / counter_derivative (W3/W4) carry the
    previous point across micro-batches and agree with their batch
    window-expression twins over the same rows — including a wrap
    (counter decrease) that straddles the batch1->batch2 seam."""
    from datastream_spark.operators.derive import counter_derivative, counter_reset
    from datastream_spark.streaming import (
        streaming_counter_derivative,
        streaming_counter_reset,
    )

    # stream a: wraps at the seam (120 -> 20) and once inside batch2
    batch1 = [("a", T0 + dt.timedelta(seconds=10 * i), float(40 * i)) for i in range(4)]
    batch2 = [
        ("a", T0 + dt.timedelta(seconds=40), 20.0),  # seam wrap
        ("a", T0 + dt.timedelta(seconds=50), 60.0),
        ("a", T0 + dt.timedelta(seconds=60), 10.0),  # in-batch wrap
    ]

    def run(maker, out_name):
        ckpt = str(tmp_path / f"ckpt_{out_name}")
        out_dir = str(tmp_path / out_name)

        def once():
            q = (
                maker(read_datapoint_stream(spark, landing))
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        once()
        return out_dir, once

    _write_landing(spark, landing, batch1)
    reset_dir, rerun_reset = run(streaming_counter_reset, "creset_out")
    cd_dir, rerun_cd = run(
        lambda s: streaming_counter_derivative(s, max_value=200.0), "cderiv_out"
    )
    _write_landing(spark, landing, batch2)
    rerun_reset()
    rerun_cd()

    all_rows = spark.createDataFrame(
        batch1 + batch2, "stream_id string, ts timestamp, value double"
    )
    expect_resets = {
        (r.stream_id, r.ts) for r in counter_reset(all_rows).collect()
    }
    got_resets = {
        (r.stream_id, r.ts) for r in spark.read.parquet(reset_dir).collect()
    }
    assert got_resets == expect_resets and len(got_resets) == 2

    expect_rates = {
        (r.stream_id, r.ts, round(r.value_rate, 9))
        for r in counter_derivative(all_rows, max_value=200.0)
        .select("stream_id", "ts", "value_rate")
        .collect()
    }
    got_rates = {
        (r.stream_id, r.ts, round(r.value_rate, 9))
        for r in spark.read.parquet(cd_dir).collect()
    }
    # seam wrap: (20 - 120 + 200) / 10s = 10/s — exists only if state
    # carried the last batch1 point into the batch2 run
    assert (("a", T0 + dt.timedelta(seconds=40), 10.0)) in got_rates
    assert got_rates == expect_rates and len(got_rates) == 6


def test_streaming_counter_derivative_reset_stream_across_batches(
    spark, tmp_path, landing
):
    """W4 + reset-stream companion in streaming: a reset marker arriving
    in batch2 with a timestamp BETWEEN batch1's carried datapoint and
    batch2's first datapoint must sever the pair (no rate across the
    boundary) — the streaming twin of apply_reset_stream, state-carried
    across the micro-batch seam. Parity-checked against the batch
    formulation (running reset count + epoch-scoped groups)."""
    from datastream_spark.operators.derive import (
        apply_reset_stream,
        counter_derivative,
    )
    from datastream_spark.streaming import streaming_counter_derivative

    reset_landing = str(tmp_path / "resets_landing")
    batch1 = [
        ("a", T0 + dt.timedelta(seconds=10), 10.0),
        ("a", T0 + dt.timedelta(seconds=20), 30.0),
    ]
    batch2 = [
        ("a", T0 + dt.timedelta(seconds=40), 5.0),
        ("a", T0 + dt.timedelta(seconds=50), 25.0),
    ]
    reset_rows = [("a", T0 + dt.timedelta(seconds=35), 1.0)]

    ckpt = str(tmp_path / "ckpt_cdreset")
    out_dir = str(tmp_path / "cdreset_out")

    def once():
        q = (
            streaming_counter_derivative(
                read_datapoint_stream(spark, landing),
                max_value=200.0,
                resets=read_datapoint_stream(spark, reset_landing),
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_landing(spark, landing, batch1)
    _write_landing(spark, reset_landing, [])  # create the empty source
    once()
    # the reset lands in batch2, timestamped before batch2's datapoints
    _write_landing(spark, landing, batch2)
    _write_landing(spark, reset_landing, reset_rows)
    once()

    vals = spark.createDataFrame(
        batch1 + batch2, "stream_id string, ts timestamp, value double"
    )
    resets = spark.createDataFrame(
        reset_rows, "stream_id string, ts timestamp, value double"
    )
    marked = apply_reset_stream(vals, resets)
    expect = {
        (r.ts, round(r.value_rate, 9))
        for r in counter_derivative(
            marked.withColumn(
                "stream_id", F.concat_ws("#", "stream_id", "reset_epoch")
            ),
            max_value=200.0,
        )
        .select("ts", "value_rate")
        .collect()
    }
    got = {
        (r.ts, round(r.value_rate, 9))
        for r in spark.read.parquet(out_dir).collect()
    }
    # without the reset, the seam pair 30 -> 5 would wrap to
    # (5 - 30 + 200) / 20s = 8.75/s; the marker must suppress it
    assert (T0 + dt.timedelta(seconds=40), 8.75) not in got
    assert got == expect == {
        (T0 + dt.timedelta(seconds=20), 2.0),
        (T0 + dt.timedelta(seconds=50), 2.0),
    }


def test_stateless_curation_ops_are_streaming_safe(spark, tmp_path):
    """The curation/text operators that matter in an ingest pipeline
    (quality scoring, PII redaction, chunking, weighted sampling) are
    pure projections/filters/generators — the SAME batch expressions
    must run unchanged on a readStream and produce identical rows.
    This is the design contract that lets one codebase serve both the
    backfill (batch) and the live feed (streaming) at 100 TB."""
    from datastream_spark.operators.curation import chunk_documents, redact_pii
    from datastream_spark.operators.sampling import weighted_sample
    from datastream_spark.operators.textops import quality_score

    docs = [
        (1, "Contact me at alice@example.com for the report please and thanks"),
        (2, "the quick brown fox jumps over the lazy dog " * 8),
        (3, "x!!! y??? z@@@ !!!"),
    ]
    landing = str(tmp_path / "docs_landing")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(
        landing
    )
    batch = spark.read.parquet(landing)
    stream = spark.readStream.schema("doc_id long, text string").parquet(landing)

    def run(name, fn):
        out_s = fn(stream)
        q = (
            out_s.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"c_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {tuple(r) for r in spark.sql(f"select * from {name}").collect()}
        want = {tuple(r) for r in fn(batch).collect()}
        assert got == want, name

    run("s_quality", lambda d: quality_score(d))
    run(
        "s_redact",
        lambda d: redact_pii(d).select(
            "doc_id", "redacted_text", "n_email", "n_ipv4", "n_phone"
        ),
    )
    run("s_chunks", lambda d: chunk_documents(d, chunk_tokens=10, overlap=2))
    run(
        "s_wsample",
        lambda d: weighted_sample(
            quality_score(d).select("doc_id", "quality"), "doc_id", F.col("quality")
        ),
    )
    # URL canonicalization: pure projection — streams unchanged
    from datastream_spark.operators.textops import canonicalize_url, url_domain

    def urlify(d):
        u = F.concat(
            F.lit("HTTPS://WWW.ex.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=s#f"),
        )
        c = canonicalize_url(u)
        return d.select("doc_id", c.alias("cu"), url_domain(c).alias("dom"))

    run("s_url", urlify)
    # mixture APPLICATION is stream-safe (broadcast plan + scan-side
    # filter); the plan itself is a batch aggregate, computed upstream
    from datastream_spark.operators.curation import apply_mixture, mixture_plan

    lang_col = (F.col("doc_id") % 2 == 0).cast("string").alias("lang")
    batch_for_plan = batch.select("doc_id", "text", lang_col)
    plan = mixture_plan(batch_for_plan, token_budget=40)
    run(
        "s_mix",
        lambda d: apply_mixture(
            d.select("doc_id", "text", lang_col), plan
        ),
    )


def test_streaming_decontaminate_matches_batch(spark, tmp_path):
    """Live-feed decontamination ≡ batch decontaminate over the same
    documents: the stream-static broadcast join + hit-pair dedup must
    produce identical (doc, n_shared_grams) rows."""
    from datastream_spark.operators.curation import decontaminate
    from datastream_spark.streaming.curation import streaming_decontaminate

    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (1, f"{shared} one extra tail here padding words"),
        (2, "totally unrelated content with no overlap at all whatsoever"),
        (3, f"prefix words then {shared} and a suffix"),
    ]
    test_docs = [(100, f"{shared} question answer pair")]
    landing = str(tmp_path / "contam_landing")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.parquet(
        landing
    )
    test_df = spark.createDataFrame(test_docs, "doc_id long, text string")

    stream = spark.readStream.schema("doc_id long, text string").parquet(landing)
    out = streaming_decontaminate(stream, test_df, n=5)
    q = (
        out.writeStream.format("memory")
        .queryName("s_decontam")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c_decontam"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.n_shared_grams)
        for r in spark.sql("select * from s_decontam").collect()
    }
    batch = spark.read.parquet(landing)
    want = {
        (r.doc_id, r.n_shared_grams)
        for r in decontaminate(batch, test_df, n=5).collect()
    }
    assert got == want and got  # non-empty: docs 1 and 3 are flagged


def test_streaming_seasonal_zscore_matches_batch(spark, tmp_path):
    """Live scoring against a precomputed seasonal baseline: the
    per-(key, slot) stats frame computed in batch joins a readStream of
    new buckets (stream-static equi-join) and must score identically to
    the batch operator over the same rows."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for d in range(4):
        for h in (0, 1):
            rows.append(
                ("s", t0 + dt.timedelta(days=d, hours=h), 10.0 * (h + 1) + d)
            )
    landing = str(tmp_path / "pts")
    spark.createDataFrame(
        rows, "stream_id string, ts timestamp, value double"
    ).coalesce(1).write.parquet(landing)

    from datastream_spark.operators.anomaly import (
        seasonal_baseline,
        seasonal_score_points,
    )

    batch = spark.read.parquet(landing)
    stats = seasonal_baseline(batch)
    want = {
        (r.stream_id, r.ts): (r.zscore, r.is_anomaly)
        for r in seasonal_score_points(batch, stats, threshold=1.0).collect()
    }
    assert any(z is not None for z, _ in want.values())

    stream = spark.readStream.schema(
        "stream_id string, ts timestamp, value double"
    ).parquet(landing)
    # the baseline is batch state (recomputed offline on a cadence);
    # scoring joins it stream-static — stateless, append-mode safe
    out = seasonal_score_points(stream, stats, threshold=1.0)
    q = (
        out.writeStream.format("memory")
        .queryName("s_zscore")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_z"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.stream_id, r.ts): (r.zscore, r.is_anomaly)
        for r in spark.sql("select * from s_zscore").collect()
    }
    assert got == want


def test_streaming_mad_score_points_matches_batch(spark, tmp_path):
    """Live MAD scoring against a precomputed robust baseline: the
    per-key (median, MAD) frame computed in batch joins a readStream
    of new points (stream-static broadcast join, stateless) and must
    score identically to mad_outliers over the same rows; a point from
    a never-baselined key passes through unscored instead of being
    dropped."""
    from datastream_spark.operators.anomaly import (
        mad_baseline,
        mad_outliers,
        mad_score_points,
    )

    rows = [("a", i, float(v)) for i, v in enumerate([9, 9, 10, 10, 10, 11, 11, 100])]
    rows += [("const", i, 5.0) for i in range(4)]
    landing = str(tmp_path / "mad_pts")
    spark.createDataFrame(
        rows, "stream_id string, point_id long, value double"
    ).coalesce(1).write.parquet(landing)

    batch = spark.read.parquet(landing)
    stats = mad_baseline(batch)
    want = {
        (r.stream_id, r.point_id): (r.mscore, r.is_outlier)
        for r in mad_outliers(batch).collect()
    }
    assert any(m is not None and o for m, o in want.values())  # the spike

    stream = spark.readStream.schema(
        "stream_id string, point_id long, value double"
    ).parquet(landing)
    out = mad_score_points(stream, stats)
    q = (
        out.writeStream.format("memory")
        .queryName("s_mad")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_mad"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.stream_id, r.point_id): (r.mscore, r.is_outlier)
        for r in spark.sql("select * from s_mad").collect()
    }
    assert got == want

    # lossless on a key absent from the baseline
    new = spark.createDataFrame(
        [("brand_new", 0, 7.0)], "stream_id string, point_id long, value double"
    )
    (r,) = mad_score_points(new, stats).collect()
    assert r.mscore is None and r.is_outlier is False


def test_seasonal_score_points_lossless_on_unknown_key_or_slot(spark):
    """Points from a never-baselined stream (or slot) pass through the
    live feed unscored (zscore NULL, is_anomaly false) instead of
    being dropped by the baseline join — in streaming append mode an
    inner-joined row would be lost for good."""
    import datetime as dt

    from datastream_spark.operators.anomaly import (
        seasonal_baseline,
        seasonal_score_points,
    )

    t0 = dt.datetime(2024, 1, 1)
    hist = spark.createDataFrame(
        [("s", t0 + dt.timedelta(days=d), 10.0 + d) for d in range(4)],
        "stream_id string, ts timestamp, value double",
    )
    stats = seasonal_baseline(hist)
    pts = spark.createDataFrame(
        [
            ("s", t0 + dt.timedelta(days=9), 12.0),       # known slot
            ("brand_new", t0 + dt.timedelta(days=9), 5.0),  # unknown key
            ("s", t0 + dt.timedelta(days=9, hours=7), 5.0),  # unknown slot
        ],
        "stream_id string, ts timestamp, value double",
    )
    out = seasonal_score_points(pts, stats, threshold=1.0).collect()
    assert len(out) == 3  # lossless
    by = {(r.stream_id, r.ts): r for r in out}
    nk = by[("brand_new", t0 + dt.timedelta(days=9))]
    assert nk.zscore is None and nk.is_anomaly is False
    ns = by[("s", t0 + dt.timedelta(days=9, hours=7))]
    assert ns.zscore is None and ns.is_anomaly is False


def test_streaming_fill_gaps_parity_with_batch(spark, tmp_path):
    """Streaming gap fill emits exactly the batch fill_gaps rows
    (locf + linear side by side) as each closing observation arrives —
    same grid, same imputed values, same filled flags."""
    from datastream_spark.operators.gapfill import fill_gaps
    from datastream_spark.streaming.fill import streaming_fill_gaps

    obs_rows = [
        ("s", 60, 10.0), ("s", 240, 40.0), ("s", 300, 10.0),
        ("t", 120, 7.0), ("t", 360, 19.0),
    ]
    landing = str(tmp_path / "obs")
    spark.createDataFrame(
        obs_rows, "stream_id string, bucket_epoch long, value double"
    ).coalesce(1).write.parquet(landing)

    batch = spark.read.parquet(landing)
    want = {
        (r.stream_id, r.bucket_epoch): (r.value, r.v2, r.filled)
        for r in fill_gaps(
            batch.withColumn("v2", F.col("value")),
            60,
            value_col=["value", "v2"],
            method=["locf", "linear"],
        ).collect()
    }

    stream = spark.readStream.schema(
        "stream_id string, bucket_epoch long, value double"
    ).parquet(landing)
    q = (
        streaming_fill_gaps(stream, 60)
        .writeStream.format("memory")
        .queryName("s_fill")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_fill"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.stream_id, r.bucket_epoch): (r.v_locf, r.v_lin, r.filled)
        for r in spark.sql("SELECT * FROM s_fill").collect()
    }
    assert got == want, (set(got) ^ set(want), got, want)


def test_streaming_twa_parity_with_batch(spark, tmp_path):
    """Streaming TWA matches batch time_weighted_avg exactly on every
    bucket strictly before the last point's bucket (the batch
    trailing-bucket extension has no streaming analogue)."""
    import datetime as dt

    from datastream_spark.operators.timeweight import time_weighted_avg
    from datastream_spark.streaming.fill import streaming_time_weighted_avg

    t0 = dt.datetime(2024, 1, 1)
    pts = [
        ("s", t0 + dt.timedelta(seconds=s), v)
        for s, v in [(10, 1.0), (70, 3.0), (100, 5.0), (250, 2.0), (300, 9.0)]
    ] + [
        ("t", t0 + dt.timedelta(seconds=s), v)
        for s, v in [(0, 4.0), (59, 8.0), (180, 1.0)]
    ]
    landing = str(tmp_path / "pts")
    spark.createDataFrame(
        pts, "stream_id string, ts timestamp, value double"
    ).coalesce(1).write.parquet(landing)

    batch = spark.read.parquet(landing)
    bat = {
        (r.stream_id, r.bucket_epoch): (round(r.twa, 9), r.covered_us)
        for r in time_weighted_avg(batch, 60).collect()
    }
    # finalized cutoff per key = last point's (absolute) bucket
    epoch0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    last_bucket = {"s": epoch0 + 300, "t": epoch0 + 180}

    stream = spark.readStream.schema(
        "stream_id string, ts timestamp, value double"
    ).parquet(landing)
    q = (
        streaming_time_weighted_avg(stream, 60)
        .writeStream.format("memory")
        .queryName("s_twa")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_twa"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.stream_id, r.bucket_epoch): (round(r.twa, 9), r.covered_us)
        for r in spark.sql("SELECT * FROM s_twa").collect()
    }
    want = {
        k: v for k, v in bat.items() if k[1] < last_bucket[k[0]]
    }
    assert got == want, (set(got) ^ set(want), got, want)


def test_streaming_ewma_parity_with_exact_batch(spark, tmp_path):
    """Streaming EWMA (one scalar of state per stream) emits exactly
    the batch recurrence's values over the same rows."""
    import datetime as dt

    from datastream_spark.operators.ewma import ewma_exact
    from datastream_spark.streaming.fill import streaming_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (s, t0 + dt.timedelta(seconds=i), float(v))
        for s in ("a", "b")
        for i, v in enumerate([10, 20, 10, 40, 0, 30])
    ]
    landing = str(tmp_path / "pts")
    spark.createDataFrame(
        rows, "stream_id string, ts timestamp, value double"
    ).coalesce(1).write.parquet(landing)

    batch = spark.read.parquet(landing)
    want = {
        (r.stream_id, r.ts): r.ewma
        for r in ewma_exact(batch, alpha=0.3).collect()
    }
    stream = spark.readStream.schema(
        "stream_id string, ts timestamp, value double"
    ).parquet(landing)
    q = (
        streaming_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("s_ewma")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_e"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.stream_id, r.ts): r.ewma
        for r in spark.sql("SELECT * FROM s_ewma").collect()
    }
    assert got == want, (set(got) ^ set(want))


def test_streaming_cms_sketch_parity_with_batch(spark, tmp_path):
    """The streamed count-min sketch (complete mode, multi-micro-batch)
    equals the batch sketch of the same rows cell-exactly — the state
    is the depth*width cell table itself, bounded by construction."""
    from datastream_spark.operators.cms import cms_sketch
    from datastream_spark.streaming.sketch import streaming_cms_sketch

    rows = [(i % 37,) for i in range(400)] + [(7,)] * 60
    landing = str(tmp_path / "keys")
    # Several files so availableNow replays as multiple micro-batches.
    spark.createDataFrame(rows, "k long").repartition(4).write.parquet(landing)

    kw = dict(depth=3, width=64, portable=False)
    want = {
        (r.d, r.w): r.cnt
        for r in cms_sketch(spark.read.parquet(landing), "k", **kw).collect()
    }

    stream = spark.readStream.schema("k long").option(
        "maxFilesPerTrigger", 1
    ).parquet(landing)
    q = (
        streaming_cms_sketch(stream, "k", **kw)
        .writeStream.format("memory")
        .queryName("s_cms")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c_cms"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.d, r.w): r.cnt for r in spark.sql("SELECT * FROM s_cms").collect()
    }
    assert got == want


def test_streaming_funnel_parity_and_state_carry(spark, tmp_path):
    """Streamed funnel state converges to the batch funnel row per
    user, including steps completed across separate streaming runs
    sharing a checkpoint (state-store carry), under the per-user
    monotonic-append contract."""
    import datetime as _dt

    from datastream_spark.operators.funnel import funnel
    from datastream_spark.streaming.funnel import streaming_funnel

    t0 = _dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + _dt.timedelta(seconds=s)

    batch1 = [
        (1, "view", at(10)), (1, "click", at(20)), (1, "purchase", at(30)),
        (2, "view", at(10)),
        (3, "click", at(5)),
    ]
    batch2 = [
        (2, "click", at(20)), (2, "purchase", at(25)),
        (3, "view", at(40)),
    ]
    schema = "user_id long, event_type string, ts timestamp"
    landing = str(tmp_path / "ev")
    ckpt = str(tmp_path / "c_fu")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(landing)

    rows = []

    def run():
        # foreachBatch (not memory sink): the only sink here that can
        # RESUME from a checkpoint, which is the point of this test.
        q = (
            streaming_funnel(
                spark.readStream.schema(schema).parquet(landing),
                ["view", "click", "purchase"],
            )
            .writeStream.foreachBatch(
                lambda df, epoch: rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    n_first = len(rows)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    assert n_first > 0 and len(rows) > n_first  # both runs emitted

    final = {}
    for r in rows:  # step values never change once set; max folds NULLs
        cur = final.get(r.user_id, (None, None, None))
        final[r.user_id] = tuple(
            max(filter(None, (a, b)), default=None)
            for a, b in zip(cur, (r.step_1_us, r.step_2_us, r.step_3_us))
        )

    ev = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        r.user_id: (r.s1, r.s2, r.s3)
        for r in funnel(ev, ["view", "click", "purchase"])
        .selectExpr(
            "user_id",
            "unix_micros(step_1_ts) AS s1",
            "unix_micros(step_2_ts) AS s2",
            "unix_micros(step_3_ts) AS s3",
        )
        .collect()
    }
    assert final == want


def test_streaming_unordered_funnel_parity(spark, tmp_path):
    """The set-completion funnel streams through Spark's BUILT-IN
    streaming aggregation (no custom state operator): the last
    update-mode emission per user equals the batch row, including a
    user completing the set across two runs sharing a checkpoint."""
    import datetime as _dt

    from datastream_spark.operators.funnel import unordered_funnel
    from datastream_spark.streaming.funnel import streaming_unordered_funnel

    t0 = _dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + _dt.timedelta(seconds=s)

    # user 1 completes out of order; user 2 completes only in run 2;
    # user 3 never completes
    batch1 = [
        (1, "purchase", at(30)), (1, "view", at(10)),
        (2, "view", at(10)),
        (3, "click", at(5)),
    ]
    batch2 = [
        (1, "click", at(20)),
        (2, "purchase", at(25)), (2, "click", at(20)),
    ]
    schema = "user_id long, event_type string, ts timestamp"
    landing = str(tmp_path / "ev_uf")
    ckpt = str(tmp_path / "c_uf")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(landing)

    rows = []

    def run():
        q = (
            streaming_unordered_funnel(
                spark.readStream.schema(schema).parquet(landing),
                ["view", "click", "purchase"],
            )
            .writeStream.foreachBatch(
                lambda df, epoch: rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    n_first = len(rows)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run()
    assert n_first > 0 and len(rows) > n_first

    final = {}  # update mode: later emissions supersede earlier ones
    for r in rows:
        final[r.user_id] = (r.step_1, r.step_2, r.step_3, r.completed, r.span_us)

    want = {
        r.user_id: (r.step_1, r.step_2, r.step_3, r.completed, r.span_us)
        for r in unordered_funnel(
            spark.createDataFrame(batch1 + batch2, schema),
            ["view", "click", "purchase"],
        ).collect()
    }
    assert final == want
    assert want[1][3] is True and want[3][3] is False


def test_streaming_retention_and_paths_parity(spark, tmp_path):
    """The streamed retention enrichment rows aggregate to exactly the
    batch retention report, and the last streamed path emission per
    user equals the batch first-k prefix — across two streaming runs
    sharing a checkpoint (state carry), monotonic per-user appends."""
    import datetime as _dt
    from collections import Counter

    from datastream_spark.operators.funnel import retention, top_paths
    from datastream_spark.streaming.funnel import (
        streaming_retention_enrich,
        streaming_top_paths,
    )

    t0 = _dt.datetime(2024, 1, 1)

    def at(d, s=0):
        return t0 + _dt.timedelta(days=d, seconds=s)

    batch1 = [
        (1, "A", at(0)), (1, "B", at(0, 60)), (1, "A", at(1)),
        (2, "C", at(0, 120)),
    ]
    batch2 = [
        (1, "C", at(3)),            # new period + 3rd path element
        (2, "A", at(2)), (2, "B", at(2, 60)),  # same period: one row
        (3, "B", at(2)),
    ]
    schema = "user_id long, event_type string, ts timestamp"
    landing = str(tmp_path / "ev")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(landing)

    ret_rows, path_rows = [], []

    def run(make, sink_rows, ckpt, mode):
        q = (
            make(spark.readStream.schema(schema).parquet(landing))
            .writeStream.foreachBatch(
                lambda df, epoch: sink_rows.extend(df.collect())
            )
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def both():
        run(lambda s: streaming_retention_enrich(s, 86400), ret_rows,
            "c_ret", "append")
        run(lambda s: streaming_top_paths(s, k=3, tiebreak=None), path_rows,
            "c_path", "update")  # ts unique per user in this data

    both()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    both()

    ev = spark.createDataFrame(batch1 + batch2, schema)

    # Retention: streamed rows are exactly one per (user, period);
    # counting them reproduces the batch report.
    want_ret = {
        (r.cohort_epoch, r.period_offset): r.users
        for r in retention(ev, period_seconds=86400).collect()
    }
    got_ret = Counter((r.cohort_epoch, r.period_offset) for r in ret_rows)
    assert dict(got_ret) == want_ret
    assert len(ret_rows) == len({(r.user_id, r.cohort_epoch, r.period_offset)
                                 for r in ret_rows})  # exactly-once

    # Paths: the longest (= last) emission per user equals the batch
    # prefix; counting them reproduces the batch path report.
    best = {}
    for r in path_rows:
        if r.user_id not in best or r.path_len > best[r.user_id].path_len:
            best[r.user_id] = r
    want_paths = {
        r.path: r.n_users
        for r in top_paths(ev, k=3, tiebreak="event_type").collect()
    }
    got_paths = Counter(r.path for r in best.values())
    assert dict(got_paths) == want_paths


def test_streaming_histogram_parity_and_live_drift(spark, tmp_path):
    """The streamed value histogram (complete mode) equals the batch
    histogram bin-exactly, and feeding its snapshot to psi_drift
    against a pinned reference reproduces the batch drift score."""
    from datastream_spark.operators.drift import psi_drift, value_histogram
    from datastream_spark.streaming.sketch import streaming_value_histogram

    rows = [(float(i % 80),) for i in range(500)]
    landing = str(tmp_path / "vals")
    spark.createDataFrame(rows, "v double").repartition(4).write.parquet(landing)

    want = {
        r.bin: r.n
        for r in value_histogram(
            spark.read.parquet(landing), "v", 0.0, 100.0, 10
        ).collect()
    }

    stream = spark.readStream.schema("v double").option(
        "maxFilesPerTrigger", 1
    ).parquet(landing)
    q = (
        streaming_value_histogram(stream, "v", 0.0, 100.0, 10)
        .writeStream.format("memory")
        .queryName("s_hist")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c_hist"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.bin: r.n for r in spark.sql("SELECT * FROM s_hist").collect()}
    assert got == want

    # live drift: streamed snapshot vs a shifted reference
    ref = value_histogram(
        spark.createDataFrame([(50.0 + i % 50,) for i in range(500)], "v double"),
        "v", 0.0, 100.0, 10,
    )
    streamed_hist = spark.sql("SELECT * FROM s_hist")
    batch_psi = psi_drift(ref, value_histogram(
        spark.read.parquet(landing), "v", 0.0, 100.0, 10
    )).agg({"contrib": "sum"}).collect()[0][0]
    live_psi = psi_drift(ref, streamed_hist).agg(
        {"contrib": "sum"}
    ).collect()[0][0]
    assert abs(live_psi - batch_psi) < 1e-12
    assert live_psi > 0.1


def test_streaming_psi_drift_parity_with_batch(spark, tmp_path):
    """streaming_psi_drift (one bounded stateful agg + stateless
    projection) reproduces the batch psi() score — on a batch frame
    directly (mode-agnostic agg) and through an actual availableNow
    stream in complete mode (VERDICT r5 item 6)."""
    from datastream_spark.operators.drift import psi, value_histogram
    from datastream_spark.streaming.sketch import streaming_psi_drift

    cur_rows = [(float(i % 80),) for i in range(500)]
    ref_rows = [(50.0 + i % 50,) for i in range(500)]
    landing = str(tmp_path / "psi_vals")
    spark.createDataFrame(cur_rows, "v double").repartition(4).write.parquet(
        landing
    )
    ref_df = spark.createDataFrame(ref_rows, "v double")
    ref_hist = value_histogram(ref_df, "v", 0.0, 100.0, 10)

    want = psi(
        ref_df, spark.read.parquet(landing), "v", 0.0, 100.0, n_bins=10
    ).collect()[0]

    # batch-frame path: same operator, no stream
    got_b = streaming_psi_drift(
        spark.read.parquet(landing), "v", ref_hist, 0.0, 100.0, n_bins=10
    ).collect()[0]
    assert abs(got_b.psi - want.psi) < 1e-9
    assert got_b.n_bins_used == want.n_bins_used
    assert got_b.n_cur == 500

    # true streaming path: complete mode, bounded state, availableNow
    stream = spark.readStream.schema("v double").option(
        "maxFilesPerTrigger", 1
    ).parquet(landing)
    q = (
        streaming_psi_drift(stream, "v", ref_hist, 0.0, 100.0, n_bins=10)
        .writeStream.format("memory")
        .queryName("s_psi")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c_psi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_s = spark.sql("SELECT * FROM s_psi").collect()[0]
    assert abs(got_s.psi - want.psi) < 1e-9
    assert got_s.n_bins_used == want.n_bins_used
    assert got_s.n_cur == 500
    assert got_s.psi > 0.1  # the shift is visible

    # empty reference is loud
    import pytest

    empty_ref = value_histogram(
        spark.createDataFrame([], "v double"), "v", 0.0, 1.0, 4
    )
    with pytest.raises(ValueError, match="reference"):
        streaming_psi_drift(
            spark.read.parquet(landing), "v", empty_ref, 0.0, 1.0, 4
        )


def test_streaming_kmv_sketch_parity_with_batch(spark, tmp_path):
    """Streamed KMV sketch (latest ver per group) equals the batch
    kmv_sketch of the same rows, hash-for-hash — across multiple
    micro-batches (maxFilesPerTrigger=1), with versions incrementing
    only when a batch actually changes a group's bottom-k."""
    from pyspark.sql import functions as F

    from datastream_spark.operators.kmv import kmv_sketch
    from datastream_spark.streaming.sketch import streaming_kmv_sketch

    landing = str(tmp_path / "kmv_in")
    rows1 = [("en", f"doc-{i}") for i in range(30)] + [("de", "d-1")]
    rows2 = [("en", f"doc-{i}") for i in range(25, 45)] + [
        ("de", "d-2"), ("fr", "f-1"),
    ]
    schema = "lang string, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    batch = spark.read.parquet(landing)
    want = {
        (r.lang, r.h)
        for r in kmv_sketch(
            batch, ["lang"], F.col("text"), k=8, portable=True
        ).collect()
    }

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = (
        streaming_kmv_sketch(stream, "lang", F.col("text"), k=8, portable=True)
        .writeStream.format("memory")
        .queryName("s_kmv")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM s_kmv").collect()

    latest = {}
    for r in out:
        latest.setdefault(r.group, {})
        latest[r.group][r.ver] = latest[r.group].get(r.ver, set())
        latest[r.group][r.ver].add(r.h)
    got = {
        (g, h)
        for g, vers in latest.items()
        for h in vers[max(vers)]
    }
    assert got == want

    # 'en' saw new elements in batch 2: if the bottom-8 changed, its
    # version advanced; every group's final sketch has <= 8 hashes.
    for g, vers in latest.items():
        assert len(vers[max(vers)]) <= 8
    # fr only appears in the second file: exactly one version.
    assert set(latest["fr"]) == {1}


def test_kmv_foreach_batch_sink_parity_with_batch(spark, tmp_path):
    """JVM-tier streaming KMV (foreachBatch -> ManifestedTable) equals
    the batch kmv_sketch of the same rows across multiple micro-batches,
    hash-for-hash; re-delivering a batch (at-least-once replay) leaves
    the sketch unchanged (min-k merge is idempotent)."""
    from pyspark.sql import functions as F

    from datastream_spark.operators.kmv import kmv_sketch
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sketch import kmv_foreach_batch_sink

    landing = str(tmp_path / "kfb_in")
    schema = "lang string, text string"
    rows1 = [("en", f"doc-{i}") for i in range(30)] + [("de", "d-1")]
    rows2 = [("en", f"doc-{i}") for i in range(25, 45)] + [
        ("de", "d-2"), ("fr", "f-1"),
    ]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    table = ManifestedTable(spark, str(tmp_path / "kfb_sketch"))
    sink = kmv_foreach_batch_sink(
        table, "lang", F.col("text"), k=8, portable=True
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "c_kfb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = spark.read.parquet(landing).select(
        F.col("lang").cast("string").alias("lang"), "text"
    )
    want = {
        (r.lang, r.h)
        for r in kmv_sketch(
            batch, ["lang"], F.col("text"), k=8, portable=True
        ).collect()
    }
    got = {(r.group, r.h) for r in table.read().collect()}
    assert got == want

    # at-least-once replay: re-folding an already-seen batch is a no-op
    sink(spark.createDataFrame(rows1, schema), 99)
    assert {(r.group, r.h) for r in table.read().collect()} == want


def test_streaming_check_counters_parity_with_batch(spark, tmp_path):
    """streaming_check_counters == batch check_suite on the same rows
    (row checks + ref integrity), through an actual availableNow
    stream in complete mode; unique checks refuse loudly."""
    import pytest as _pytest

    from datastream_spark.operators import quality as Q
    from datastream_spark.streaming.quality import streaming_check_counters

    rows = [
        (1, 10.0, "O"), (2, 500.0, "X"), (3, None, "O"),
        (None, 20.0, "F"), (9, 30.0, "F"),
    ]
    landing = str(tmp_path / "dq_in")
    schema = "id long, price double, status string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(landing)
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pid long")

    checks = [
        Q.expect_not_null("id"),
        Q.expect_in_range("price", 0, 100),
        Q.expect_values_in("status", ["O", "F"]),
        Q.expect_ref_integrity("id", parent, "pid"),
    ]
    want = {
        (r["check"], r.target): r.violations
        for r in Q.check_suite(spark.read.parquet(landing), checks).collect()
    }

    stream = spark.readStream.schema(schema).parquet(landing)
    q = (
        streaming_check_counters(stream, checks)
        .writeStream.format("memory")
        .queryName("s_dq")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c_dq"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    row = spark.sql("SELECT * FROM s_dq").collect()[-1]
    assert row.total == 5
    for i in range(4):
        key = (row[f"c{i}_check"], row[f"c{i}_target"])
        assert row[f"c{i}_violations"] == want[key], key

    with _pytest.raises(ValueError):
        streaming_check_counters(stream, [Q.expect_unique("id")])
    with _pytest.raises(ValueError):
        streaming_check_counters(stream, [])


def test_streaming_check_counters_honors_broadcast_parent(spark):
    """broadcast_parent=False must NOT plant a broadcast hint in the
    streaming twin (ADVICE r6: a fact-sized parent the caller opted
    out of broadcasting was force-broadcast anyway). The counter agg
    is mode-agnostic, so the plan is checked on a batch frame."""
    from datastream_spark.operators import quality as Q
    from datastream_spark.streaming.quality import streaming_check_counters

    df = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    parent = spark.createDataFrame([(1,), (2,)], "pid long")

    def analyzed(broadcast: bool) -> str:
        out = streaming_check_counters(
            df,
            [Q.expect_ref_integrity("id", parent, "pid",
                                    broadcast_parent=broadcast)],
        )
        return out._jdf.queryExecution().analyzed().toString()

    assert "strategy=broadcast" in analyzed(True)
    assert "strategy=broadcast" not in analyzed(False)
    # and both plans count the same orphans
    for b in (True, False):
        row = streaming_check_counters(
            df,
            [Q.expect_ref_integrity("id", parent, "pid",
                                    broadcast_parent=b)],
        ).collect()[0]
        assert (row.total, row.c0_violations) == (3, 1)


def test_kmv_maintenance_requires_explicit_hash_family(spark, tmp_path):
    """incremental_kmv / streaming_kmv_sketch refuse to default the
    hash family (ADVICE r6): a delta folded with the WRONG family
    corrupts every estimate undetectably, so `portable` is a required
    keyword on the maintain/stream pair."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sketch import streaming_kmv_sketch

    t = ManifestedTable(spark, str(tmp_path / "fam"))
    t.append(spark.createDataFrame([("a", "x")], "grp string, elem string"))
    with _pytest.raises(TypeError):
        cdc.incremental_kmv(
            t, None, since=None, group_cols=["grp"], element=F.col("elem")
        )
    df = spark.createDataFrame([("a", "x")], "g string, el string")
    with _pytest.raises(TypeError):
        streaming_kmv_sketch(df, "g", F.col("el"))


def test_streaming_interval_join_parity_with_batch(spark, tmp_path):
    """Stream-stream watermarked interval join == the same expression
    on batch frames (inner join parity is total: the watermark bounds
    state, not emission), across forced multi-file micro-batches."""
    import datetime as dt

    import pytest as _pytest

    from datastream_spark.streaming.joins import streaming_interval_join

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    clicks = [
        ("u1", ts(0), "c1"), ("u1", ts(100), "c2"),
        ("u2", ts(50), "c3"), ("u3", ts(10), "c4"),
    ]
    buys = [
        ("u1", ts(30), "p1"),    # within 60s of c1
        ("u1", ts(130), "p2"),   # within 60s of c2
        ("u2", ts(200), "p3"),   # outside the 60s window of c3
        ("u4", ts(20), "p4"),    # no click
    ]
    ld, rd = str(tmp_path / "clk"), str(tmp_path / "buy")
    cs = "user string, ts timestamp, id string"
    spark.createDataFrame(clicks[:2], cs).coalesce(1).write.mode("append").parquet(ld)
    spark.createDataFrame(clicks[2:], cs).coalesce(1).write.mode("append").parquet(ld)
    spark.createDataFrame(buys, cs).coalesce(1).write.parquet(rd)

    want = {
        (r.id_l, r.id_r)
        for r in streaming_interval_join(
            spark.read.parquet(ld), spark.read.parquet(rd),
            "user", max_delay_seconds=60,
        ).collect()
    }
    assert want == {("c1", "p1"), ("c2", "p2")}

    ls = (
        spark.readStream.schema(cs).option("maxFilesPerTrigger", 1).parquet(ld)
    )
    rs = spark.readStream.schema(cs).parquet(rd)
    q = (
        streaming_interval_join(ls, rs, "user", max_delay_seconds=60)
        .writeStream.format("memory")
        .queryName("s_ij")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.id_l, r.id_r) for r in spark.sql("SELECT * FROM s_ij").collect()
    }
    assert got == want

    with _pytest.raises(ValueError):
        streaming_interval_join(ls, rs, "user", max_delay_seconds=0)
    with _pytest.raises(ValueError):
        streaming_interval_join(ls, rs, "user", suffixes=("_a", "_a"))


def test_manifest_append_sink_exactly_once_and_cdc_loop(spark, tmp_path):
    """Exactly-once streaming ingress to a ManifestedTable: every
    micro-batch commits once (row parity with the input), a replayed
    batch — same sink instance or a fresh one after 'restart' — is
    skipped via the (sink_id, batch_id) marker, and the landed commits
    drive the CDC loop end-to-end (table_changes -> incremental_kmv ==
    batch sketch of everything streamed)."""
    from pyspark.sql import functions as F

    from datastream_spark.operators.kmv import kmv_sketch
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import manifest_append_sink

    landing = str(tmp_path / "sink_in")
    schema = "grp string, elem string"
    rows1 = [("a", f"x{i}") for i in range(20)]
    rows2 = [("a", f"x{i}") for i in range(15, 30)] + [("b", "y1")]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    table = ManifestedTable(spark, str(tmp_path / "sink_tbl"))
    sink = manifest_append_sink(table, "t1")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert table.read().count() == len(rows1) + len(rows2)
    v_after = table.current_version()

    # replay on the SAME sink instance: skipped
    sink(spark.createDataFrame(rows1, schema), 0)
    # replay on a FRESH instance (post-restart): marker read from the
    # manifest log, still skipped
    manifest_append_sink(table, "t1")(spark.createDataFrame(rows2, schema), 1)
    assert table.current_version() == v_after
    assert table.read().count() == len(rows1) + len(rows2)
    # a DIFFERENT sink_id is independent
    manifest_append_sink(table, "t2")(
        spark.createDataFrame([("c", "z1")], schema), 0
    )
    assert table.read().count() == len(rows1) + len(rows2) + 1

    # CDC loop: maintain a KMV sketch from the landed commits and
    # compare against the batch sketch of the whole table
    sk = cdc.incremental_kmv(
        table, None, since=None, group_cols=["grp"],
        element=F.col("elem"), k=16, portable=True,
    )
    want = {
        (r.grp, r.h)
        for r in kmv_sketch(
            table.read(), ["grp"], F.col("elem"), k=16, portable=True
        ).collect()
    }
    assert {(r.grp, r.h) for r in sk.collect()} == want


def test_manifest_append_sink_auto_optimize(spark, tmp_path):
    """`auto_optimize_files` keeps a streaming table's file count
    bounded: when a trigger's append crosses the threshold the sink
    bin-packs the snapshot in the same turn. The optimize commits are
    data_change: false, so the change feed carries EXACTLY the real
    appended rows (an incremental consumer is undisturbed), and they
    carry no sink marker, so a fresh sink instance's replay check
    walks past them to the last real batch."""
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import manifest_append_sink

    landing = str(tmp_path / "ao_in")
    schema = "grp string, elem string"
    all_rows = []
    for k in range(8):
        rows = [("g", f"e{k}-{i}") for i in range(5)]
        all_rows += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    table = ManifestedTable(spark, str(tmp_path / "ao_tbl"))
    sink = manifest_append_sink(table, "ao", auto_optimize_files=4)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ao_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # 8 one-file commits would leave 8 files; packing bounds it
    assert len(table.current_files()) < 4
    got = sorted(r["elem"] for r in table.read().collect())
    assert got == sorted(r[1] for r in all_rows)
    # the change feed over the whole history is exactly the real rows
    feed = cdc.table_changes(table, since=None)
    assert sorted(r["elem"] for r in feed.collect()) == sorted(
        r[1] for r in all_rows
    )
    assert feed.where("_change_type = 'delete'").count() == 0
    # replay past the optimize commits: a FRESH instance still skips
    v = table.current_version()
    manifest_append_sink(table, "ao", auto_optimize_files=4)(
        spark.createDataFrame([("g", "e0-0")], schema), 3
    )
    assert table.current_version() == v


@pytest.mark.parametrize("scheme", ["lsh", "simhash"])
def test_cdc_maintainer_and_sink_store_the_same_rows(spark, tmp_path, scheme):
    """The CDC maintainer and the streaming sink of one near-dup scheme
    share its banding: a rows table bootstrapped by
    ``incremental_*_pairs(since=None)`` and one fed the same documents
    by the sink as batch 0 are equal row for row, geometry columns
    included, and so are their pairs."""
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming import sink as sinks

    maintain, make_sink, geo, meta = {
        "lsh": (
            cdc.incremental_lsh_pairs,
            sinks.lsh_streaming_sink,
            dict(num_hashes=8, rows_per_band=4, shingle_k=3, portable_hash=True),
            {"_num_hashes", "_rows_per_band", "_shingle_k", "_portable"},
        ),
        "simhash": (
            cdc.incremental_simhash_pairs,
            sinks.simhash_streaming_sink,
            dict(bits=60, bands=4, max_hamming=3),
            {"_bits", "_bands"},
        ),
    }[scheme]
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta {i % 4}")
         for i in range(20)],
        "doc_id long, text string",
    )
    docs_table = ManifestedTable(spark, str(tmp_path / "docs"))
    docs_table.append(docs)
    cdc_rows = ManifestedTable(spark, str(tmp_path / "cdc_rows"))
    sink_rows = ManifestedTable(spark, str(tmp_path / "sink_rows"))
    sink_pairs = ManifestedTable(spark, str(tmp_path / "sink_pairs"))
    cdc_pairs = maintain(docs_table, cdc_rows, since=None, **geo)
    make_sink(sink_rows, sink_pairs, **geo)(docs, 0)

    a, b = cdc_rows.read(), sink_rows.read()
    assert a.columns == b.columns
    assert meta <= set(a.columns)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    p, q = cdc_pairs, sink_pairs.read()
    assert p.count() > 0
    assert p.exceptAll(q).count() == 0 and q.exceptAll(p).count() == 0


def test_lsh_streaming_sink_parity_and_crash_replay(spark, tmp_path):
    """Streaming near-dup detection: the union of pairs_table over all
    triggers equals from-scratch minhash_candidate_pairs over every
    document streamed; a full-batch replay is a no-op on all three
    tables; and a simulated crash BETWEEN the pairs commit and the
    bands commit (pairs marker present, bands missing) completes on
    replay without double-counting — the ordering + per-table-marker
    argument, exercised."""
    from pyspark.sql import functions as F

    from datastream_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signature_arrays,
    )
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import (
        _marker_guarded_append,
        lsh_streaming_sink,
    )

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    texts = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 4}")
        for i in range(30)
    ]
    schema = "doc_id long, text string"
    landing = str(tmp_path / "lsh_in")
    spark.createDataFrame(texts[:12], schema).coalesce(1).write.mode(
        "append").parquet(landing)
    spark.createDataFrame(texts[12:22], schema).coalesce(1).write.mode(
        "append").parquet(landing)

    bt = ManifestedTable(spark, str(tmp_path / "lsh_bands"))
    pt = ManifestedTable(spark, str(tmp_path / "lsh_pairs"))
    dt_ = ManifestedTable(spark, str(tmp_path / "lsh_docs"))
    sink = lsh_streaming_sink(bt, pt, dt_, portable_hash=True, **geo)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "lsh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def pairset(df):
        return {(r.id_a, r.id_b, r.n_shared_bands) for r in df.collect()}

    def rebuild(n):
        docs = spark.createDataFrame(texts[:n], schema)
        sigs = minhash_signature_arrays(
            docs, "doc_id", "text",
            num_hashes=8, shingle_k=3, portable_hash=True,
        )
        return pairset(
            minhash_candidate_pairs(sigs, id_col="doc_id", rows_per_band=4)
        )

    assert pairset(pt.read()) == rebuild(22)
    assert dt_.read().count() == 22

    # full-batch replay: no-op everywhere
    vb, vp, vd = bt.current_version(), pt.current_version(), dt_.current_version()
    sink(spark.createDataFrame(texts[:12], schema), 0)
    assert (bt.current_version(), pt.current_version(), dt_.current_version()) == (vb, vp, vd)

    # simulated crash: batch 2's PAIRS land, bands/docs do not; the
    # replayed fold must complete bands+docs without recommitting pairs
    batch2 = spark.createDataFrame(texts[22:], schema)
    sigs2 = minhash_signature_arrays(
        batch2, "doc_id", "text",
        num_hashes=8, shingle_k=3, portable_hash=True,
    )
    from datastream_spark.operators.dedup import band_key_frame
    from datastream_spark.sources.cdc import pairs_from_bands

    bands2 = band_key_frame(sigs2, "doc_id", 4).select(
        "doc_id", "band", "band_hash",
        F.lit(8).alias("_num_hashes"), F.lit(4).alias("_rows_per_band"),
        F.lit(3).alias("_shingle_k"), F.lit(True).alias("_portable"),
    )
    _marker_guarded_append(pt, "lsh")(
        pairs_from_bands(bands2, bt.read(), "doc_id"), 2
    )
    sink(batch2, 2)  # the replay after the 'crash'
    assert pairset(pt.read()) == rebuild(30)
    assert dt_.read().count() == 30
    # band table is complete: one more batch sees all prior collisions
    extra = spark.createDataFrame(
        [(99, "alpha beta gamma delta epsilon zeta eta theta 0")], schema
    )
    sink(extra, 3)

    def rebuild_rows(rows):
        sigs = minhash_signature_arrays(
            spark.createDataFrame(rows, schema), "doc_id", "text",
            num_hashes=8, shingle_k=3, portable_hash=True,
        )
        return pairset(
            minhash_candidate_pairs(sigs, id_col="doc_id", rows_per_band=4)
        )

    full31 = rebuild_rows(
        texts + [(99, "alpha beta gamma delta epsilon zeta eta theta 0")]
    )
    assert pairset(pt.read()) == full31
    # identical-text collisions are a subset (2 of 2 bands shared)
    assert {(i, 99, 2) for i, tx in texts if tx.endswith(" 0")} <= full31


def test_lsh_sink_restart_parity_at_scale(spark, tmp_path):
    """Failure-injected restart parity beyond toy scale (VERDICT r7
    #5): hard-stop a streaming LSH sink mid-stream over a 10k-doc sf1
    slice, restart a FRESH sink instance from the same checkpoint, and
    pin pairs-table equivalence against a from-scratch
    minhash_candidate_pairs rebuild — the (sink_id, batch_id) marker
    protocol surviving a real stop(), not a hand-simulated crash."""
    import os as _os

    from datastream_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signature_arrays,
    )
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import lsh_streaming_sink

    src = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scaledata", "sf1", "documents.parquet",
    )
    if not _os.path.exists(src):
        pytest.skip("scaledata sf1 not generated on this machine")
    geo = dict(num_hashes=32, rows_per_band=16, shingle_k=3)
    docs = (
        spark.read.parquet(src).select("doc_id", "text").limit(10_000)
        .localCheckpoint(eager=True)
    )
    landing = str(tmp_path / "docs_in")
    docs.repartition(8).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))
    dt_ = ManifestedTable(spark, str(tmp_path / "docs_tbl"))
    ckpt = str(tmp_path / "ckpt")

    def start(batch_fn):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # deterministic mid-stream kill: the 4th batch raises BEFORE the
    # sink body, so exactly 3 of 8 file-batches commit on run 1 (a
    # wall-clock stop() races availableNow on a fast machine and can
    # spuriously drain the whole stream before the kill lands)
    inner = lsh_streaming_sink(bt, pt, dt_, portable_hash=False, **geo)
    calls = {"n": 0}

    def crashing(df, batch_id):
        if calls["n"] >= 3:
            raise RuntimeError("injected mid-stream crash")
        calls["n"] += 1
        inner(df, batch_id)

    q1 = start(crashing)
    with pytest.raises(Exception, match="injected mid-stream crash"):
        q1.awaitTermination(300)
    assert dt_.read().count() < 10_000  # the kill landed mid-stream
    # fresh, non-crashing sink instance resumes from the checkpoint
    q2 = start(lsh_streaming_sink(bt, pt, dt_, portable_hash=False, **geo))
    q2.awaitTermination(300)

    sigs = minhash_signature_arrays(
        docs, "doc_id", "text",
        num_hashes=geo["num_hashes"], shingle_k=geo["shingle_k"],
        portable_hash=False,
    )
    want = minhash_candidate_pairs(
        sigs, id_col="doc_id", rows_per_band=geo["rows_per_band"]
    ).select("id_a", "id_b", "n_shared_bands")
    got = pt.read().select("id_a", "id_b", "n_shared_bands")
    assert got.exceptAll(want).limit(1).count() == 0
    assert want.exceptAll(got).limit(1).count() == 0
    assert dt_.read().count() == 10_000


def test_simhash_sink_restart_parity_at_scale(spark, tmp_path):
    """The FINGERPRINT twin of the LSH restart test (VERDICT r8 #4):
    the SimHash sink shares the pairs -> fingerprints -> docs commit
    order, but its failure window was only toy-tested. Crash the 4th
    batch of a 10k-doc sf1 slice, restart a fresh sink instance from
    the checkpoint, pin pairs-table equivalence (hamming included)
    against a from-scratch simhash_candidate_pairs rebuild."""
    import os as _os

    from datastream_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import simhash_streaming_sink

    src = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scaledata", "sf1", "documents.parquet",
    )
    if not _os.path.exists(src):
        pytest.skip("scaledata sf1 not generated on this machine")
    geo = dict(bits=60, bands=4, max_hamming=3)
    docs = (
        spark.read.parquet(src).select("doc_id", "text").limit(10_000)
        .localCheckpoint(eager=True)
    )
    landing = str(tmp_path / "docs_in")
    docs.repartition(8).write.parquet(landing)
    schema = spark.read.parquet(landing).schema
    ft = ManifestedTable(spark, str(tmp_path / "fps"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))
    dt_ = ManifestedTable(spark, str(tmp_path / "docs_tbl"))
    ckpt = str(tmp_path / "ckpt")

    def start(batch_fn):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    inner = simhash_streaming_sink(ft, pt, dt_, **geo)
    calls = {"n": 0}

    def crashing(df, batch_id):
        if calls["n"] >= 3:
            raise RuntimeError("injected mid-stream crash")
        calls["n"] += 1
        inner(df, batch_id)

    q1 = start(crashing)
    with pytest.raises(Exception, match="injected mid-stream crash"):
        q1.awaitTermination(300)
    assert dt_.read().count() < 10_000  # the kill landed mid-stream
    q2 = start(simhash_streaming_sink(ft, pt, dt_, **geo))
    q2.awaitTermination(300)

    want = simhash_candidate_pairs(
        simhash(docs, bits=geo["bits"]),
        bits=geo["bits"], bands=geo["bands"], max_hamming=geo["max_hamming"],
    ).select("id_a", "id_b", "hamming")
    got = pt.read().select("id_a", "id_b", "hamming")
    assert got.exceptAll(want).limit(1).count() == 0
    assert want.exceptAll(got).limit(1).count() == 0
    assert dt_.read().count() == 10_000


def test_lsh_streaming_sink_refuses_geometry_change(spark, tmp_path):
    """A sink instance pointed at a band table built with a different
    geometry/hash family must refuse loudly on its first non-empty
    batch (the incremental_lsh_pairs contract) instead of silently
    losing every cross pair with the stored corpus."""
    import pytest as _pytest

    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import lsh_streaming_sink

    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    ok = lsh_streaming_sink(
        bt, pt, num_hashes=8, rows_per_band=4, portable_hash=True
    )
    ok(docs, 0)  # seeds the band table with the 8/4/portable geometry
    bad = lsh_streaming_sink(
        bt, pt, num_hashes=8, rows_per_band=2, portable_hash=True,
        sink_id="lsh2",
    )
    with _pytest.raises(ValueError, match="geometry"):
        bad(docs.where("doc_id = 1"), 0)
    # matching geometry on a fresh instance keeps working
    ok2 = lsh_streaming_sink(
        bt, pt, num_hashes=8, rows_per_band=4, portable_hash=True,
        sink_id="lsh3",
    )
    ok2(spark.createDataFrame([(3, "alpha beta gamma zeta")],
                              "doc_id long, text string"), 0)


def test_simhash_streaming_sink_parity_and_geometry(spark, tmp_path):
    """The SimHash streaming sink: the union of pairs_table over all
    triggers equals from-scratch simhash_candidate_pairs over every
    document streamed; a full replay is a no-op; and a restarted sink
    with a different geometry refuses loudly."""
    import pytest as _pytest

    from datastream_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )
    from datastream_spark.sources.manifest import ManifestedTable
    from datastream_spark.streaming.sink import simhash_streaming_sink

    geo = dict(bits=60, bands=4, max_hamming=3)
    texts = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 4}")
        for i in range(30)
    ]
    schema = "doc_id long, text string"
    landing = str(tmp_path / "sh_in")
    spark.createDataFrame(texts[:12], schema).coalesce(1).write.mode(
        "append").parquet(landing)
    spark.createDataFrame(texts[12:22], schema).coalesce(1).write.mode(
        "append").parquet(landing)

    ft = ManifestedTable(spark, str(tmp_path / "sh_fps"))
    pt = ManifestedTable(spark, str(tmp_path / "sh_pairs"))
    sink = simhash_streaming_sink(ft, pt, **geo)

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "sh_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()

    def pairset(df):
        return {(r.id_a, r.id_b, int(r.hamming)) for r in df.collect()}

    docs = spark.createDataFrame(texts[:22], schema)
    want = pairset(
        simhash_candidate_pairs(
            simhash(docs, bits=60), bits=60, bands=4, max_hamming=3
        )
    )
    assert pairset(pt.read()) == want

    # replay: a fresh checkpoint re-delivers every batch to a FRESH
    # sink instance — the per-table markers make it a no-op
    import shutil

    shutil.rmtree(str(tmp_path / "sh_ckpt"))
    sink2 = simhash_streaming_sink(ft, pt, **geo)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", str(tmp_path / "sh_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert pairset(pt.read()) == want

    # geometry refusal on a mismatched restart
    bad = simhash_streaming_sink(ft, pt, bits=60, bands=5, max_hamming=3)
    with _pytest.raises(ValueError, match="geometry"):
        bad(docs.limit(1), 99)
