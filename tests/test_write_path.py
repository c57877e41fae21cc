"""The write path: ``append_dataframe`` validation, host-independent
timestamps, no Python-parallelized frames, and one derived write per
(depth, recompute boundary)."""

import datetime as dt
import decimal
import math
import time
import warnings

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from datastream_spark import exceptions as exc
from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
T0_EPOCH = 1_704_067_200


@pytest.fixture()
def ds(spark, store_root):
    return Datastream(spark, store_root)


def _frame(spark, rows):
    """A (stream_id, ts, value) batch from ``(stream_id, epoch s, value)``
    triples."""
    return spark.createDataFrame(
        [(s, e, float(v)) for s, e, v in rows],
        "stream_id string, e long, value double",
    ).select("stream_id", F.timestamp_seconds("e").alias("ts"), "value")


def _stored(ds):
    df = ds.store.read("datapoints")
    return 0 if df is None else df.count()


# ----------------------------------------------------------------------
# append_dataframe validation: one aggregate, checked before any write
# ----------------------------------------------------------------------


def test_append_dataframe_rejects_derived_target(ds, spark):
    a = ds.ensure_stream({"name": "a"})
    ds.append_dataframe(_frame(spark, [(a, T0_EPOCH, 1.0)]))
    rate = ds.ensure_stream(
        {"name": "rate"}, derive_from=[a], derive_op="derivative",
    )
    before = _stored(ds)
    with pytest.raises(exc.AppendToDerivedStreamNotAllowed):
        ds.append_dataframe(
            _frame(spark, [(a, T0_EPOCH + 1, 2.0), (rate, T0_EPOCH + 1, 5.0)])
        )
    assert _stored(ds) == before


def test_append_dataframe_monotonic_check(ds, spark):
    a = ds.ensure_stream({"name": "a"})
    ds.append_dataframe(_frame(spark, [(a, T0_EPOCH + 10, 1.0)]))
    before = _stored(ds)
    late = _frame(spark, [(a, T0_EPOCH + 20, 2.0), (a, T0_EPOCH + 5, 3.0)])
    with pytest.raises(exc.InvalidTimestamp):
        ds.append_dataframe(late)
    assert _stored(ds) == before
    ds.append_dataframe(late, check_timestamp=False)
    assert _stored(ds) == before + 2
    d = ds.registry.get(a)
    assert (d.earliest_us, d.latest_us) == (
        (T0_EPOCH + 5) * 1_000_000, (T0_EPOCH + 20) * 1_000_000,
    )


def test_append_dataframe_unknown_stream_writes_nothing(ds, spark):
    a = ds.ensure_stream({"name": "a"})
    ds.append_dataframe(_frame(spark, [(a, T0_EPOCH, 1.0)]))
    before = _stored(ds)
    with pytest.raises(exc.StreamNotFound):
        ds.append_dataframe(
            _frame(spark, [(a, T0_EPOCH + 1, 2.0), ("no-such-stream", T0_EPOCH + 1, 3.0)])
        )
    assert _stored(ds) == before
    assert ds.registry.get(a).latest_us == T0_EPOCH * 1_000_000


def test_append_dataframe_advances_stream_bounds(ds, spark):
    a = ds.ensure_stream({"name": "a"})
    b = ds.ensure_stream({"name": "b"})
    ds.append_dataframe(
        _frame(spark, [(a, T0_EPOCH + 3, 1.0), (a, T0_EPOCH + 1, 2.0), (b, T0_EPOCH + 7, 3.0)])
    )
    ds.append_dataframe(_frame(spark, [(a, T0_EPOCH + 9, 4.0)]))
    da, db = ds.registry.get(a), ds.registry.get(b)
    assert (da.earliest_us, da.latest_us) == (
        (T0_EPOCH + 1) * 1_000_000, (T0_EPOCH + 9) * 1_000_000,
    )
    assert (db.earliest_us, db.latest_us) == ((T0_EPOCH + 7) * 1_000_000,) * 2
    # a reopened handle reads the saved bounds
    again = Datastream(spark, ds.store.root).registry.get(a)
    assert again.latest_us == (T0_EPOCH + 9) * 1_000_000
    assert [p["v"] for p in ds.get_data(a, Granularity.Seconds)] == [2.0, 1.0, 4.0]


def test_append_dataframe_warns_behind_downsample_watermark(ds, spark):
    """Like ``append``: a batch landing behind a finalized rollup
    bucket is stored, with ``DownsampleConsistencyNotGuaranteed``."""
    a = ds.ensure_stream({"name": "a"})
    ds.append_dataframe(_frame(spark, [(a, T0_EPOCH, 1.0)]))
    ds.downsample_streams(until=T0 + dt.timedelta(hours=1))
    with pytest.warns(exc.DownsampleConsistencyNotGuaranteed):
        ds.append_dataframe(_frame(spark, [(a, T0_EPOCH + 600, 2.0)]))
    assert _stored(ds) == 2
    with warnings.catch_warnings():
        warnings.simplefilter("error", exc.DownsampleConsistencyNotGuaranteed)
        ds.append_dataframe(_frame(spark, [(a, T0_EPOCH + 7200, 3.0)]))


# ----------------------------------------------------------------------
# host independence
# ----------------------------------------------------------------------


def test_appends_do_not_depend_on_host_time_zone(spark, tmp_path, monkeypatch):
    """A 12:00Z datapoint is stored at 12:00Z, and found by an
    exact-instant read, whatever time zone the process runs in."""
    noon = dt.datetime(2026, 1, 6, 12, 0, 0)
    noon_epoch = 1_767_700_800
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ds = Datastream(spark, str(tmp_path / "store"))
        one = ds.ensure_stream({"name": "one"})
        many = ds.ensure_stream({"name": "many"})
        pre = ds.ensure_stream({"name": "pre"}, highest_granularity="minutes")
        ds.append(one, 1.0, noon)
        ds.append_multiple([{"stream_id": many, "value": 2.0, "timestamp": noon}])
        ds.append(pre, {"count": 1, "sum": 3.0}, noon)
        ds.flush()

        raw = ds.store.read("datapoints")
        stored = {
            r["stream_id"]: r["e"]
            for r in raw.select("stream_id", F.unix_seconds("ts").alias("e")).collect()
        }
        assert stored == {one: noon_epoch, many: noon_epoch}
        firsts = (
            ds.store.read("rollup_minutes")
            .select(F.unix_seconds("t_first"), F.unix_seconds("t_last"), "bucket_epoch")
            .collect()
        )
        assert [tuple(r) for r in firsts] == [(noon_epoch,) * 3]
        for sid in (one, many):
            assert len(ds.get_data(sid, Granularity.Seconds, start=noon, end=noon)) == 1
    finally:
        monkeypatch.undo()
        time.tzset()


# ----------------------------------------------------------------------
# no Python-parallelized frames on the write path
# ----------------------------------------------------------------------


def test_write_path_builds_no_python_parallelized_frames(ds, spark, monkeypatch):
    """``append_dataframe``, ``append_multiple``, a pre-aggregated
    ``append`` and ``downsample_streams`` never parallelize driver rows
    (each such frame costs a Python worker task per job) and never hit
    the Arrow fallback; ``value_dec`` rounds as Spark's own cast does."""
    fine = "0.1234567895"  # 10 fractional digits: half-up at scale 9
    want_dec = spark.createDataFrame(
        [(decimal.Decimal(fine),)], "d decimal(38,9)"
    ).collect()[0]["d"]
    assert want_dec == decimal.Decimal("0.123456790")

    a = ds.ensure_stream({"name": "a"})
    b = ds.ensure_stream({"name": "b"})
    pre = ds.ensure_stream({"name": "pre"}, highest_granularity="minutes")
    ds.ensure_stream({"name": "sum"}, derive_from=[a, b], derive_op="sum")
    ds.ensure_stream({"name": "rate"}, derive_from=[a], derive_op="derivative")
    batch = _frame(spark, [(a, T0_EPOCH + k, k) for k in range(5)])

    calls = []
    orig = SparkContext.parallelize

    def counting(self, *args, **kw):
        calls.append(args)
        return orig(self, *args, **kw)

    monkeypatch.setattr(SparkContext, "parallelize", counting)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ds.append_dataframe(batch)
        ds.append_multiple(
            [
                {"stream_id": b, "value": float(fine), "timestamp": T0 + dt.timedelta(seconds=k)}
                for k in range(3)
            ]
        )
        ds.append(pre, {"count": 2, "sum": 3.0, "min": 1.0, "max": 2.0}, T0)
        ds.flush()
        ds.downsample_streams(until=T0 + dt.timedelta(days=1))
    monkeypatch.undo()
    assert calls == []
    assert not [w for w in caught if issubclass(w.category, UserWarning)], [
        str(w.message) for w in caught
    ]

    got = (
        ds.store.read("datapoints").where(F.col("stream_id") == b)
        .select("value", "value_dec").collect()
    )
    assert {(r["value"], r["value_dec"]) for r in got} == {(float(fine), want_dec)}
    assert [p["v"]["count"] for p in ds.get_data(pre, Granularity.Hours)] == [2]
    assert len(ds.get_data(a, Granularity.Minutes)) == 1


def test_value_dec_out_of_range_is_rejected_before_buffering(ds):
    """A value past decimal(38,9) fails its append (Spark's cast would
    fail the write); the buffer keeps only storable points."""
    sid = ds.ensure_stream({"name": "big"})
    with pytest.raises(exc.IncompatibleTypes):
        ds.append(sid, 1.2e29, T0)
    with pytest.raises(exc.IncompatibleTypes):
        ds.append(sid, float("inf"), T0)
    ds.append(sid, float("nan"), T0 + dt.timedelta(seconds=1))
    ds.append(sid, -2.5, T0 + dt.timedelta(seconds=2))
    got = [p["v"] for p in ds.get_data(sid, Granularity.Seconds)]
    assert len(got) == 2 and math.isnan(got[0]) and got[1] == -2.5


# ----------------------------------------------------------------------
# one derived write per (depth, recompute boundary)
# ----------------------------------------------------------------------


def test_groups_with_different_boundaries_write_separately(ds, monkeypatch):
    """Two groups at one depth whose tail recomputes start on different
    days take one write each, and hold the values a full recompute
    gives."""
    a = ds.ensure_stream({"name": "a"})
    b = ds.ensure_stream({"name": "b"})
    ds.append_multiple(
        [
            {"stream_id": s, "value": float(k * (i + 1)), "timestamp": T0 + dt.timedelta(hours=k)}
            for i, s in enumerate((a, b))
            for k in range(3)
        ]
    )
    sums = ds.ensure_stream(
        {"name": "sum_a"}, derive_from=[a], derive_op="sum",
        highest_granularity=Granularity.Minutes,
    )
    rate = ds.ensure_stream(
        {"name": "rate_b"}, derive_from=[b], derive_op="derivative",
    )

    writes = []
    orig = ds.store.overwrite_derived

    def counting(df, stream_ids):
        writes.append(sorted(stream_ids))
        return orig(df, stream_ids)

    monkeypatch.setattr(ds.store, "overwrite_derived", counting)
    day = dt.timedelta(days=1)
    ds.append_multiple(
        [
            {"stream_id": a, "value": 7.0, "timestamp": T0 + day},
            {"stream_id": a, "value": 8.0, "timestamp": T0 + day + dt.timedelta(seconds=90)},
            {"stream_id": b, "value": 9.0, "timestamp": T0 + 3 * day},
            {"stream_id": b, "value": 1.0, "timestamp": T0 + 3 * day + dt.timedelta(seconds=4)},
        ]
    )
    assert sorted(writes) == sorted([[rate], [sums]])

    def values(sid):
        return [(p["t"], p["v"]) for p in ds.get_data(sid, Granularity.Seconds)]

    incremental = {sid: values(sid) for sid in (sums, rate)}
    assert [v for _, v in incremental[sums]] == [0.0, 1.0, 2.0, 7.0, 8.0]
    assert [v for _, v in incremental[rate]][-2:] == [
        pytest.approx((9.0 - 4.0) / (3 * 86_400 - 2 * 3600)),
        pytest.approx(-2.0),
    ]
    ds.backprocess_streams([sums, rate])  # full recompute, one write
    assert len(writes) == 3 and writes[-1] == sorted([sums, rate])
    assert {sid: values(sid) for sid in (sums, rate)} == incremental
