"""Rollup routing (operators/rollup_route.py + Datastream.aggregate_range):

- range_cover is an exact, aligned, minimal partition of [start, end)
  (property-tested over random ranges)
- route_range_aggregate over a synthetic ladder equals aggregating raw
- the store-backed path routes through materialized rollups, respects
  per-level watermarks (incomplete levels fall through to raw), and
  handles preaggregated streams
"""

import datetime as dt
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity
from datastream_spark.operators.rollup import rollup_cascade, rollup_from_raw
from datastream_spark.operators.rollup_route import (
    range_cover,
    route_range_aggregate,
)

LADDER = [10, 60, 600, 3600, 21600, 86400]
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


@given(
    start=st.integers(min_value=0, max_value=40 * 86400 // 10).map(lambda x: x * 10),
    length=st.integers(min_value=1, max_value=35 * 86400 // 10).map(lambda x: x * 10),
)
@settings(max_examples=300, deadline=None)
def test_range_cover_properties(start, length):
    end = start + length
    segs = range_cover(start, end, LADDER)
    # exact disjoint partition of [start, end), in order
    pos = start
    for d, lo, hi in segs:
        assert lo == pos and hi > lo
        assert lo % d == 0 and hi % d == 0  # aligned to own level
        pos = hi
    assert pos == end
    # at most two segments per non-coarsest level, one coarsest interior
    per_level = {}
    for d, lo, hi in segs:
        per_level[d] = per_level.get(d, 0) + 1
    for d, n in per_level.items():
        assert n <= (1 if d == max(per_level) else 2)
    # minimality: no segment could have used a coarser level entirely
    for d, lo, hi in segs:
        for coarser in [c for c in LADDER if c > d]:
            c_lo = -(-lo // coarser) * coarser
            c_hi = (hi // coarser) * coarser
            assert not (c_lo == lo and c_hi == hi and c_lo < c_hi)


def test_range_cover_rejects_misaligned():
    with pytest.raises(ValueError):
        range_cover(5, 100, LADDER)  # not aligned to finest (10)


def test_route_equals_raw_aggregate(spark):
    # irregular points across 3 days; routed answer must equal direct agg
    rows = []
    for i in range(0, 3 * 86400, 137):
        rows.append(("a", T0 + dt.timedelta(seconds=i), float(i % 97)))
        if i % 3 == 0:
            rows.append(("b", T0 + dt.timedelta(seconds=i), float(-i % 53)))
    df = spark.createDataFrame(rows, "stream_id string, ts timestamp, value double")
    levels = {}
    frame = rollup_from_raw(df, Granularity.Seconds10)
    levels[10] = frame
    for g in (Granularity.Minutes, Granularity.Minutes10, Granularity.Hours,
              Granularity.Hours6, Granularity.Days):
        frame = rollup_cascade(frame, g)
        levels[g.seconds] = frame
    lo = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) + 4 * 3600 + 1230
    hi = lo + 2 * 86400 + 5 * 3600 + 2340  # ragged at every level
    routed = {
        r["stream_id"]: r
        for r in route_range_aggregate(levels, lo, hi).collect()
    }
    expected = {}
    for sid, ts, v in rows:
        ep = int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
        if lo <= ep < hi:
            e = expected.setdefault(sid, {"n": 0, "s": 0.0, "mn": None, "mx": None,
                                          "ss": 0.0})
            e["n"] += 1
            e["s"] += v
            e["ss"] += v * v
            e["mn"] = v if e["mn"] is None else min(e["mn"], v)
            e["mx"] = v if e["mx"] is None else max(e["mx"], v)
    assert set(routed) == set(expected)
    for sid, e in expected.items():
        r = routed[sid]
        assert r["v_count"] == e["n"]
        assert r["v_sum"] == pytest.approx(e["s"], rel=1e-9)
        assert r["v_min"] == e["mn"] and r["v_max"] == e["mx"]
        assert r["v_mean"] == pytest.approx(e["s"] / e["n"], rel=1e-9)
        var = max(e["ss"] / e["n"] - (e["s"] / e["n"]) ** 2, 0.0)
        assert r["v_std_dev"] == pytest.approx(math.sqrt(var), abs=1e-9)


def test_aggregate_range_store_path(spark, store_root):
    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream({"name": "routed"})
    pts = [
        {"stream_id": sid, "value": float(i % 11),
         "timestamp": T0 + dt.timedelta(seconds=7 * i)}
        for i in range(1030)  # ~2 hours of 7s-spaced points
    ]
    ds.append_multiple(pts)
    ds.downsample_streams(until=T0 + dt.timedelta(hours=2, minutes=1))

    start = T0 + dt.timedelta(minutes=13, seconds=50)
    end = T0 + dt.timedelta(hours=1, minutes=47, seconds=30)
    out = ds.aggregate_range({"name": "routed"}, start=start, end=end).collect()
    assert len(out) == 1
    r = out[0]
    lo = int(start.replace(tzinfo=dt.timezone.utc).timestamp())
    hi = int(end.replace(tzinfo=dt.timezone.utc).timestamp())
    inside = [p for p in pts
              if lo <= int(p["timestamp"].replace(tzinfo=dt.timezone.utc)
                           .timestamp()) < hi]
    assert r["v_count"] == len(inside)
    assert r["v_sum"] == pytest.approx(sum(p["value"] for p in inside))
    assert r["t_first"] == min(p["timestamp"] for p in inside)
    assert r["t_last"] == max(p["timestamp"] for p in inside)

    # watermark gating: a stream downsampled only through minute 30
    # must still answer correctly (rollups past the watermark are
    # excluded; raw serves the tail)
    sid2 = ds.ensure_stream({"name": "gated"})
    ds.append_multiple([
        {"stream_id": sid2, "value": 1.0,
         "timestamp": T0 + dt.timedelta(seconds=13 * i)}
        for i in range(400)  # ~87 minutes
    ])
    ds.downsample_streams({"name": "gated"}, until=T0 + dt.timedelta(minutes=30))
    out2 = ds.aggregate_range(
        {"name": "gated"}, start=T0, end=T0 + dt.timedelta(minutes=80)
    ).collect()
    assert len(out2) == 1
    n_expected = sum(
        1 for i in range(400) if 13 * i < 80 * 60
    )
    assert out2[0]["v_count"] == n_expected


def test_aggregate_range_preaggregated(spark, store_root):
    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream(
        {"name": "pre"},
        value_downsamplers=["mean", "count", "min", "max"],
        highest_granularity="minutes",
    )
    for m in range(10):
        ds.append(sid, {"count": 2, "sum": float(2 * m), "min": 0.0,
                        "max": float(m)}, T0 + dt.timedelta(minutes=m))
    ds.flush()
    # [minute 2, minute 7): minutes 2..6 -> count 10, sum 2*(2+3+4+5+6)
    out = ds.aggregate_range(
        {"name": "pre"},
        start=T0 + dt.timedelta(minutes=2),
        end=T0 + dt.timedelta(minutes=7),
    ).collect()
    assert len(out) == 1
    assert out[0]["v_count"] == 10
    assert out[0]["v_sum"] == pytest.approx(40.0)
    assert out[0]["v_max"] == 6.0


def test_aggregate_range_partition_pruning(spark, store_root):
    """The store path must emit literal p_date predicates so every
    contributing scan is partition-pruned (SCALE.md §5b)."""
    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream({"name": "pruned"})
    ds.append_multiple([
        {"stream_id": sid, "value": 1.0,
         "timestamp": T0 + dt.timedelta(days=day, hours=h)}
        for day in range(5) for h in range(24)
    ])
    ds.downsample_streams(until=T0 + dt.timedelta(days=5))
    df = ds.aggregate_range(
        {"name": "pruned"},
        start=T0 + dt.timedelta(days=1, hours=3),
        end=T0 + dt.timedelta(days=3, hours=9),
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    assert "PartitionFilters" in plan
    assert re.search(r"p_date#\d+ >= 2024-01-02", plan)
    # and the routed answer is still exact
    row = df.collect()[0]
    assert row["v_count"] == 2 * 24 + 6  # [d1+3h, d3+9h) hourly points


def test_aggregate_range_empty(spark, store_root):
    ds = Datastream(spark, store_root)
    ds.ensure_stream({"name": "empty"})
    out = ds.aggregate_range({"name": "empty"}, start=T0,
                             end=T0 + dt.timedelta(hours=1))
    assert out.count() == 0
    sid = ds.ensure_stream({"name": "full"})
    ds.append(sid, 1.0, T0)
    full = ds.aggregate_range({"name": "full"}, start=T0,
                              end=T0 + dt.timedelta(hours=1))
    assert out.schema == full.schema


def test_histogram_sketch_quantile_accuracy(spark):
    """The histogram sketch's quantile estimate is within one bin width
    of the exact percentile, and cascading the sketch loses nothing
    relative to building it from raw in one pass."""
    import pyspark.sql.functions as F

    from datastream_spark.granularity import Granularity
    from datastream_spark.operators import rollup

    n_bins, lo, hi = 32, 0.0, 600.0
    width = (hi - lo) / n_bins
    from datastream_spark.probes import T

    ev = T(spark, "/root/testdata/sf0.001", "events")
    raw, merge, _ = rollup.make_histogram_downsampler(n_bins, lo, hi)
    rollup.register_downsampler("hist", raw, merge)
    try:
        r10 = rollup.rollup_from_raw(ev, Granularity.Seconds10, key="user_id")
        cascaded = rollup.rollup_cascade(r10, Granularity.Hours, key="user_id")
        direct = rollup.rollup_from_raw(ev, Granularity.Hours, key="user_id")
        c = {
            (r.user_id, r.bucket_epoch): r.v_hist
            for r in cascaded.select("user_id", "bucket_epoch", "v_hist").collect()
        }
        d = {
            (r.user_id, r.bucket_epoch): r.v_hist
            for r in direct.select("user_id", "bucket_epoch", "v_hist").collect()
        }
        assert c == d  # cascade-exactness of the sketch

        est = cascaded.select(
            "user_id",
            "bucket_epoch",
            rollup.histogram_quantile(
                F.col("v_hist"), 0.5, n_bins, lo, hi
            ).alias("p50_est"),
        )
        # reference = the inverse-CDF median (ceil(q*n)-th order
        # statistic): the histogram's crossing bin CONTAINS that value
        # by construction, so the estimate is within one bin width of
        # it. (The interpolated percentile can sit far outside the
        # crossing bin for tiny n — different quantile definition.)
        exact = ev.groupBy(
            "user_id",
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket_epoch"),
        ).agg(
            F.expr(
                "sort_array(collect_list(value))"
                "[cast(ceil(0.5 * count(value)) - 1 as int)]"
            ).alias("p50")
        )
        joined = est.join(exact, ["user_id", "bucket_epoch"]).select(
            F.abs(F.col("p50_est") - F.col("p50")).alias("err")
        )
        max_err = joined.agg(F.max("err")).first()[0]
        assert max_err <= width, max_err
    finally:
        rollup.unregister_downsampler("hist")


def test_hll_downsampler_cascade_consistency(spark):
    """HLL union never double-counts: in coupon mode (small
    cardinality) the cascaded estimate is EXACTLY the direct one;
    past sketch promotion the HIP-vs-composite estimator split makes
    them differ within the sketch's error bar — both pinned here."""
    import datetime as dt

    from pyspark.sql import functions as F

    from datastream_spark.granularity import Granularity
    from datastream_spark.operators import rollup

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(seconds=i), float(i % 17)) for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "stream_id string, ts timestamp, value double"
    )
    rollup.register_downsampler("hll", *rollup.make_hll_downsampler())
    try:
        direct = rollup.rollup_from_raw(df, Granularity.Minutes)
        cascaded = rollup.rollup_cascade(
            rollup.rollup_from_raw(df, Granularity.Seconds10),
            Granularity.Minutes,
        )
        d = {
            r.bucket_epoch: r.est
            for r in direct.select(
                "bucket_epoch", rollup.hll_estimate(F.col("v_hll")).alias("est")
            ).collect()
        }
        c = {
            r.bucket_epoch: r.est
            for r in cascaded.select(
                "bucket_epoch", rollup.hll_estimate(F.col("v_hll")).alias("est")
            ).collect()
        }
        assert d == c  # coupon mode: estimate-identical cascade
        # small-cardinality sketches are exact: 17 distinct values
        # spread over two 60s buckets of 60 points each
        assert all(v == 17.0 for v in d.values()), d

        # past promotion (50k distinct in one minute bucket): direct
        # and cascaded estimates DIFFER (HIP vs composite estimator)
        # but both sit within the lgk=12 error bar of exact
        big = spark.range(50_000).select(
            F.lit("s").alias("stream_id"),
            F.lit(t0).cast("timestamp").alias("ts"),
            F.col("id").cast("double").alias("value"),
        )
        bd = rollup.rollup_from_raw(big, Granularity.Minutes)
        bc = rollup.rollup_cascade(
            rollup.rollup_from_raw(big, Granularity.Seconds10),
            Granularity.Minutes,
        )
        e_direct = bd.select(
            rollup.hll_estimate(F.col("v_hll")).alias("e")
        ).collect()[0].e
        e_casc = bc.select(
            rollup.hll_estimate(F.col("v_hll")).alias("e")
        ).collect()[0].e
        for e in (e_direct, e_casc):
            assert abs(e - 50_000) <= 50_000 * 0.05, (e_direct, e_casc)
        assert abs(e_direct - e_casc) <= 50_000 * 0.03
    finally:
        rollup.unregister_downsampler("hll")
