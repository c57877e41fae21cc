"""The read path: Spark jobs per ``get_data``, one order across every
``Datapoints`` access, timestamps decoded as UTC on any host, and
``aggregate_range`` under a registered custom downsampler."""

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity
from datastream_spark.operators import rollup as rollup_ops

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
#: three days of one point every 20 minutes
SPACING = dt.timedelta(minutes=20)
N_POINTS = 3 * 72


@pytest.fixture()
def ds(spark, store_root):
    return Datastream(spark, store_root)


def _spread_stream(ds):
    """One stream over three days, appended in four 18-hour batches (so
    each day spans several files), plus a second stream sharing its
    days; every value is distinct, so value order is time order."""
    sid = ds.ensure_stream({"name": "spread"})
    other = ds.ensure_stream({"name": "other"})
    per_batch = N_POINTS // 4
    for batch in range(4):
        ds.append_multiple(
            [
                {"stream_id": s, "value": float(i) + (0.5 if s == other else 0.0),
                 "timestamp": T0 + i * SPACING}
                for i in range(batch * per_batch, (batch + 1) * per_batch)
                for s in (sid, other)
            ],
        )
    return sid


def _jobs(spark, name, fn):
    """Spark jobs ``fn`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_get_data_df_jobs(ds, spark):
    """A raw ``get_data(...).df`` is read in at most two Spark jobs (a
    parallel scan feeding one sorting task) and a rollup one in a
    single job: no range-partition sampling job."""
    sid = _spread_stream(ds)
    ds.downsample_streams(until=T0 + dt.timedelta(days=3))
    start, end = T0 + dt.timedelta(hours=5), T0 + dt.timedelta(days=2, hours=7)
    got = {}

    def raw():
        got["raw"] = ds.get_data(sid, Granularity.Seconds, start=start, end=end).df.collect()

    def rollup():
        got["rollup"] = ds.get_data(
            sid, Granularity.Hours, start=start, end_exclusive=end
        ).df.collect()

    assert _jobs(spark, "test-read-raw-jobs", raw) <= 2
    assert _jobs(spark, "test-read-rollup-jobs", rollup) == 1
    assert [r["value"] for r in got["raw"]] == [
        float(i) for i in range(N_POINTS) if start <= T0 + i * SPACING <= end
    ]
    assert [r["bucket_epoch"] for r in got["rollup"]] == sorted(
        r["bucket_epoch"] for r in got["rollup"]
    )
    assert len(got["rollup"]) == 50  # hours 5 .. 2 days + 6 h


@pytest.mark.parametrize("reverse", [False, True])
def test_datapoints_accesses_agree_in_order(ds, reverse):
    """``.df``, iteration, indexing and slicing all return one order,
    forward and reversed, at the raw level and at a rollup level."""
    sid = _spread_stream(ds)
    ds.downsample_streams(until=T0 + dt.timedelta(days=3))
    raw = ds.get_data(sid, Granularity.Seconds, reverse=reverse)
    want = [float(i) for i in range(N_POINTS)][:: -1 if reverse else 1]
    assert len(raw) == N_POINTS
    assert [r["value"] for r in raw.df.collect()] == want
    assert [p["v"] for p in raw] == want
    assert [raw[i]["v"] for i in (0, 1, 100)] == [want[i] for i in (0, 1, 100)]
    assert [p["v"] for p in raw[70:80]] == want[70:80]
    assert [r["value"] for r in raw[70:80].df.collect()] == want[70:80]

    hourly = ds.get_data(sid, Granularity.Hours, reverse=reverse,
                         value_downsamplers=["min"])
    buckets = [r["bucket_epoch"] for r in hourly.df.collect()]
    assert len(buckets) == 72
    assert buckets == sorted(buckets, reverse=reverse)
    # hour h holds points 3h, 3h + 1 and 3h + 2
    mins = [3.0 * (b - min(buckets)) / 3600 for b in buckets]
    assert [p["v"]["min"] for p in hourly] == mins
    assert [hourly[i]["v"]["min"] for i in (0, 5, 71)] == [mins[i] for i in (0, 5, 71)]
    assert [p["v"]["min"] for p in hourly[10:20]] == mins[10:20]


def test_reads_decode_utc_on_any_host_time_zone(ds):
    """Iterated and indexed rows carry UTC timestamps whatever the host
    time zone: raw ``t`` and rollup ``t_first``/``t_last``/``t_mean``."""
    sid = ds.ensure_stream({"name": "tz"})
    at = T0 + dt.timedelta(seconds=5)
    ds.append_multiple([
        {"stream_id": sid, "value": v, "timestamp": at + dt.timedelta(seconds=s)}
        for v, s in ((1.0, 0), (2.0, 2))
    ])
    ds.downsample_streams(until=T0 + dt.timedelta(minutes=1))
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        raw = ds.get_data(sid, Granularity.Seconds)
        assert [p["t"] for p in raw] == [at, at + dt.timedelta(seconds=2)]
        assert raw[0]["t"] == at
        ten = ds.get_data(sid, Granularity.Seconds10)
        want = {"first": at, "last": at + dt.timedelta(seconds=2),
                "mean": at + dt.timedelta(seconds=1)}
        assert [p["t"] for p in ten] == [want]
        assert ten[0]["t"] == want
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_aggregate_range_with_a_custom_downsampler(ds):
    """A registered custom downsampler rides the ladder but cannot be
    merged with raw one-point buckets; ``aggregate_range`` merges the
    built-in forms, which every level supplies."""
    rollup_ops.register_downsampler(
        "abs_sum", raw=lambda v, t: F.sum(F.abs(v)), merge=lambda c: F.sum(c),
    )
    try:
        sid = ds.ensure_stream({"name": "custom"},
                               value_downsamplers=["count", "sum", "abs_sum"])
        ds.append_multiple([
            {"stream_id": sid, "value": float(i - 50),
             "timestamp": T0 + dt.timedelta(seconds=7 * i)}
            for i in range(1000)
        ])
        ds.downsample_streams(until=T0 + dt.timedelta(hours=2))
        # ragged at both ends: raw edges, 10 s ... hour interior
        lo, hi = 95, 6_905
        out = ds.aggregate_range(
            {"name": "custom"},
            start=T0 + dt.timedelta(seconds=lo), end=T0 + dt.timedelta(seconds=hi),
        ).collect()
    finally:
        rollup_ops.unregister_downsampler("abs_sum")
    inside = [float(i - 50) for i in range(1000) if lo <= 7 * i < hi]
    assert len(out) == 1
    assert out[0]["v_count"] == len(inside)
    assert out[0]["v_sum"] == sum(inside)
    assert "v_abs_sum" not in out[0].asDict()
