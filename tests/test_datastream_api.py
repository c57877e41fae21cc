"""End-to-end facade tests mirroring the reference's test scenarios
(SURVEY.md §5: test_basic/test_tags/test_downsample/test_derived_streams
/test_timestamps/test_value_types)."""

import datetime as dt
import math

import pytest

from datastream_spark import exceptions as exc
from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
#: every ``Datastream(registry_backend=...)``; tests that loop over it
#: check the find-or-create API on each registry class
REGISTRY_BACKENDS = ("jsonl", "table")


@pytest.fixture()
def ds(spark, store_root):
    return Datastream(spark, store_root)


def _mk_stream(ds, name="s1", **kw):
    return ds.ensure_stream({"name": name}, **kw)


def test_ensure_find_tags(spark, tmp_path):
    for backend in REGISTRY_BACKENDS:
        root = str(tmp_path / backend)
        ds = Datastream(spark, root, registry_backend=backend)
        sid = ds.ensure_stream(
            {"name": "cpu", "node": {"id": "n1"}}, tags={"unit": "pct"}
        )
        sid2 = ds.ensure_stream({"name": "cpu", "node": {"id": "n1"}})
        assert sid == sid2  # find-or-create
        assert ds.find_streams({"node.id": "n1"})[0]["stream_id"] == sid
        assert ds.find_streams({"name": "nope"}) == []
        with pytest.raises(exc.InconsistentStreamConfiguration):
            ds.ensure_stream(
                {"name": "cpu", "node": {"id": "n1"}},
                highest_granularity=Granularity.Minutes,
            )
        # tag values keep their type: int 3 and string "3" are two
        # streams, each found only by its own type, also after a reopen
        by_type = {v: ds.ensure_stream({"port": v}) for v in (3, "3")}
        assert by_type[3] != by_type["3"]
        reopened = Datastream(spark, root, registry_backend=backend)
        for v, port_sid in by_type.items():
            for handle in (ds, reopened):
                found = handle.find_streams({"port": v})
                assert [s["stream_id"] for s in found] == [port_sid], backend


def test_append_get_data_roundtrip(ds):
    sid = _mk_stream(ds)
    for i in range(20):
        ds.append(sid, float(i), T0 + dt.timedelta(seconds=i))
    pts = ds.get_data(sid, Granularity.Seconds)
    assert len(pts) == 20
    items = list(pts)
    assert items[0]["v"] == 0.0 and items[-1]["v"] == 19.0
    # inclusive/exclusive bounds
    win = ds.get_data(
        sid, Granularity.Seconds,
        start=T0 + dt.timedelta(seconds=5),
        end_exclusive=T0 + dt.timedelta(seconds=10),
    )
    assert [p["v"] for p in win] == [5.0, 6.0, 7.0, 8.0, 9.0]
    rev = ds.get_data(sid, Granularity.Seconds, reverse=True)
    assert next(iter(rev))["v"] == 19.0


def test_monotonic_and_future_rejection(ds):
    sid = _mk_stream(ds)
    ds.append(sid, 1.0, T0 + dt.timedelta(seconds=10))
    with pytest.raises(exc.InvalidTimestamp):
        ds.append(sid, 2.0, T0)  # older than latest
    with pytest.raises(exc.InvalidTimestamp):
        ds.append(sid, 2.0, dt.datetime.utcnow() + dt.timedelta(hours=2))
    # check_timestamp=False permits out-of-order
    ds.append(sid, 2.0, T0, check_timestamp=False)


def test_downsample_ladder(ds):
    sid = _mk_stream(ds)
    pts = [
        {"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(seconds=i)}
        for i in range(120)
    ]
    ds.append_multiple(pts)
    # until = end of data: finalizes exactly the buckets the data closed
    # (reference semantics: watermark advances to floor(until) — data
    # appended behind the watermark is never re-downsampled)
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=120))
    got = list(ds.get_data(sid, Granularity.Seconds10))
    assert len(got) == 12
    first = got[0]
    assert first["v"]["count"] == 10
    assert first["v"]["sum"] == sum(range(10))
    assert first["v"]["min"] == 0.0 and first["v"]["max"] == 9.0
    assert abs(first["v"]["mean"] - 4.5) < 1e-9
    assert abs(first["v"]["std_dev"] - math.sqrt(8.25)) < 1e-9
    assert first["t"]["first"] == T0
    # minutes level cascades from 10s
    mins = list(ds.get_data(sid, Granularity.Minutes))
    assert len(mins) == 2
    assert mins[0]["v"]["count"] == 60
    assert mins[0]["v"]["sum"] == sum(range(60))
    # incremental: appending later data only extends, watermark respected
    more = [
        {"stream_id": sid, "value": 1.0, "timestamp": T0 + dt.timedelta(seconds=120 + i)}
        for i in range(60)
    ]
    ds.append_multiple(more)
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=180))
    assert len(ds.get_data(sid, Granularity.Minutes)) == 3
    # no partial buckets: nothing beyond floor(until)
    ds2 = list(ds.get_data(sid, Granularity.Minutes))
    assert all(p["v"]["count"] == 60 for p in ds2)


def test_no_partial_buckets(ds):
    sid = _mk_stream(ds)
    ds.append_multiple(
        [
            {"stream_id": sid, "value": 1.0, "timestamp": T0 + dt.timedelta(seconds=i)}
            for i in range(25)
        ]
    )
    # until=T0+25s: only two complete 10s buckets (0-10, 10-20)
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=25))
    assert len(ds.get_data(sid, Granularity.Seconds10)) == 2
    # rest arrives once the bucket closes
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=40))
    assert len(ds.get_data(sid, Granularity.Seconds10)) == 3


def test_downsample_crash_between_write_and_watermark(ds, spark, store_root):
    """Kill-between-writes: a crash after the rollup data lands but
    before the registry watermark advances must NOT leave duplicate
    buckets after the next cascade run — the overwrite-based write is
    a fixed point, so the retry rewrites the same (stream, date)
    partitions (TableStore.overwrite_rollup ordering contract)."""
    from datastream_spark.registry import StreamRegistry

    sid = _mk_stream(ds, "crashy")
    ds.append_multiple(
        [
            {"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(seconds=i)}
            for i in range(60)
        ]
    )

    # simulate the crash: run the cascade with registry.save disabled,
    # so data is written but every watermark stays behind
    real_save = StreamRegistry.save
    StreamRegistry.save = lambda self, *a, **kw: None
    try:
        ds.downsample_streams(until=T0 + dt.timedelta(seconds=60))
    finally:
        StreamRegistry.save = real_save
    # fresh engine over the same root = post-crash restart: watermarks
    # reloaded from disk are stale, data partially on disk
    from datastream_spark.datastream import Datastream

    ds2 = Datastream(spark, store_root)
    assert ds2.registry.get(sid).downsampled_until == {}  # stale, as crashed
    ds2.downsample_streams(until=T0 + dt.timedelta(seconds=60))

    got = list(ds2.get_data(sid, Granularity.Seconds10))
    assert len(got) == 6, "duplicate buckets after crash-retry"
    assert [p["v"]["count"] for p in got] == [10] * 6
    assert got[0]["v"]["sum"] == sum(range(10))
    # watermark advanced on the successful run
    assert ds2.registry.get(sid).downsampled_until["10seconds"] == (
        int((T0 + dt.timedelta(seconds=60)).replace(tzinfo=dt.timezone.utc).timestamp()) // 10 * 10
    )


def test_derived_sum_and_derivative(ds):
    a = _mk_stream(ds, "a")
    b = _mk_stream(ds, "b")
    ds.append_multiple(
        [
            {"stream_id": s, "value": v, "timestamp": T0 + dt.timedelta(seconds=i)}
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0])
            for s in (a, b)
        ]
    )
    summed = ds.ensure_stream(
        {"name": "a+b"}, derive_from=[a, b], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    got = list(ds.get_data(summed, Granularity.Seconds))
    assert [p["v"] for p in got] == [2.0, 4.0, 6.0, 8.0]

    deriv = ds.ensure_stream(
        {"name": "da"}, derive_from=[a], derive_op="derivative",
        highest_granularity=Granularity.Seconds,
    )
    got = list(ds.get_data(deriv, Granularity.Seconds))
    assert [p["v"] for p in got] == [1.0, 1.0, 1.0]

    with pytest.raises(exc.AppendToDerivedStreamNotAllowed):
        ds.append(summed, 1.0, T0 + dt.timedelta(seconds=10))

    # appending to a source propagates (W5)
    ds.append_multiple(
        [{"stream_id": a, "value": 8.0, "timestamp": T0 + dt.timedelta(seconds=4)}]
    )
    got = list(ds.get_data(summed, Granularity.Seconds))
    assert got[-1]["v"] == 8.0  # only a contributed in that bucket
    got = list(ds.get_data(deriv, Granularity.Seconds))
    assert got[-1]["v"] == 4.0


def test_tail_propagation_matches_full(spark, tmp_path):
    """W5 property: batch-by-batch tail-incremental propagation must
    produce byte-identical derived outputs to a single full recompute
    over the same data — across day boundaries, multi-day gaps (deep
    predecessor probe beyond the 8-day fast path), same-day appends,
    and a reset marker straddling batches."""
    import random

    rng = random.Random(7)
    gaps_days = [0, 0, 2, 12, 1]  # 12 > the 8-day predecessor fast path
    t = T0
    rows = []  # (stream, ts, value)
    counter = 0.0
    for gap in gaps_days:
        t += dt.timedelta(days=gap, seconds=rng.randint(1, 50))
        batch = []
        for _ in range(rng.randint(2, 5)):
            t += dt.timedelta(seconds=rng.randint(5, 7000))
            batch.append(("a", t, rng.uniform(0.0, 100.0)))
            counter += rng.uniform(1.0, 30.0)
            if counter > 80.0 and rng.random() < 0.3:
                counter = 0.0
                batch.append(("r", t, 1.0))
            batch.append(("c", t, counter))
        rows.append(batch)

    def build(root, incremental):
        d = Datastream(spark, root)
        sids = {n: d.ensure_stream({"name": n}) for n in ("a", "c", "r")}
        derived = {
            "sum": d.ensure_stream(
                {"name": "dsum"}, derive_from=[sids["a"]], derive_op="sum",
                highest_granularity=Granularity.Minutes10,
            ),
            "deriv": d.ensure_stream(
                {"name": "dderiv"}, derive_from=[sids["a"]],
                derive_op="derivative",
                highest_granularity=Granularity.Seconds,
            ),
            "rate": d.ensure_stream(
                {"name": "drate"},
                derive_from=[sids["c"], sids["r"]],
                derive_op="counter_derivative",
                derive_args={
                    "value_stream": sids["c"],
                    "reset_stream": sids["r"],
                },
                highest_granularity=Granularity.Seconds,
            ),
        }
        batches = rows if incremental else [[p for b in rows for p in b]]
        for batch in batches:
            d.append_multiple(
                [
                    {"stream_id": sids[n], "value": v, "timestamp": ts}
                    for n, ts, v in batch
                ]
            )
        return d, derived

    tails = []
    orig = Datastream._derive_tail_slice

    def spy(self, *a, **kw):
        tails.append(a[1])
        return orig(self, *a, **kw)

    Datastream._derive_tail_slice = spy
    try:
        inc, inc_derived = build(str(tmp_path / "inc"), incremental=True)
    finally:
        Datastream._derive_tail_slice = orig
    assert tails, "no tail recompute ever ran — W5 fell back to full"
    full, full_derived = build(str(tmp_path / "full"), incremental=False)

    for key in inc_derived:
        got = [
            (p["t"], p["v"])
            for p in inc.get_data(inc_derived[key], Granularity.Seconds)
        ]
        want = [
            (p["t"], p["v"])
            for p in full.get_data(full_derived[key], Granularity.Seconds)
        ]
        assert got == want, f"{key}: tail-incremental diverged from full"

    # plan audit: the tail slice's scans are partition-pruned on p_date
    raw = inc._raw_df()
    sliced = inc._derive_tail_slice(
        raw, [inc.registry.get(s).stream_id for s in []] or ["x"],
        1_704_067_200_000_000,
    )
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p_date" in plan


def test_counter_ops(ds):
    c = _mk_stream(ds, "ctr")
    values = [10.0, 20.0, 5.0, 15.0]  # reset between 20 -> 5
    ds.append_multiple(
        [
            {"stream_id": c, "value": v, "timestamp": T0 + dt.timedelta(seconds=i * 10)}
            for i, v in enumerate(values)
        ]
    )
    resets = ds.ensure_stream(
        {"name": "resets"}, derive_from=[c], derive_op="counter_reset",
        highest_granularity=Granularity.Seconds,
    )
    got = list(ds.get_data(resets, Granularity.Seconds))
    assert len(got) == 1 and got[0]["v"] == 1.0

    rate = ds.ensure_stream(
        {"name": "rate"}, derive_from=[c], derive_op="counter_derivative",
        derive_args={"max_value": 100},
        highest_granularity=Granularity.Seconds,
    )
    got = [p["v"] for p in ds.get_data(rate, Granularity.Seconds)]
    # deltas: +10, (5-20+100)=85, +10 over dt=10s
    assert got == [1.0, 8.5, 1.0]


def test_granularity_compat_and_delete_deps(spark, tmp_path):
    for backend in REGISTRY_BACKENDS:
        ds = Datastream(spark, str(tmp_path / backend), registry_backend=backend)
        coarse = ds.ensure_stream(
            {"name": "coarse"}, highest_granularity=Granularity.Minutes
        )
        with pytest.raises(exc.IncompatibleGranularities):
            ds.ensure_stream(
                {"name": "bad"}, derive_from=[coarse], derive_op="derivative",
                highest_granularity=Granularity.Seconds,
            )
        ds.ensure_stream(
            {"name": "ok"}, derive_from=[coarse], derive_op="derivative",
            highest_granularity=Granularity.Minutes,
        )
        with pytest.raises(exc.OutstandingDependenciesError):
            ds.delete_streams({"name": "coarse"})
        assert ds.delete_streams({"name": "ok"}) == 1
        assert ds.delete_streams({"name": "coarse"}) == 1


def test_nominal_value_type(ds):
    sid = ds.ensure_stream({"name": "nom"}, value_type="nominal")
    ds.append(sid, {"state": "up"}, T0)
    ds.append(sid, "down", T0 + dt.timedelta(seconds=1))
    got = list(ds.get_data(sid, Granularity.Seconds))
    assert got[0]["v"] == {"state": "up"}
    assert got[1]["v"] == "down"
    with pytest.raises(exc.IncompatibleTypes):
        num = ds.ensure_stream({"name": "strictnum"})
        ds.append(num, "not-a-number", T0)


def test_preaggregated_appends(ds):
    """F3 pre-aggregated appends (SURVEY.md §2.8): coarse-granularity
    streams accept dicts of downsampler members, which land in
    rollup_<highest> merge-form columns; the cascade continues from
    merge aggregates and scalar/dict mixing is rejected."""
    sid = ds.ensure_stream(
        {"name": "preagg"},
        value_downsamplers=["mean", "count", "min", "max", "std_dev"],
        highest_granularity="minutes",
    )
    ds.append(sid, {"count": 4, "sum": 8.0, "min": 1.0, "max": 3.0,
                    "sum_squares": 20.0}, T0)
    ds.append(sid, {"count": 2, "mean": 5.0, "min": 4.0, "max": 6.0},
              T0 + dt.timedelta(minutes=1))
    ds.flush()

    got = list(ds.get_data(sid, Granularity.Minutes))
    assert [p["v"]["count"] for p in got] == [4, 2]
    assert got[0]["v"]["mean"] == pytest.approx(2.0)
    assert got[1]["v"]["sum"] == pytest.approx(10.0)  # derived from mean
    assert got[0]["v"]["std_dev"] == pytest.approx(1.0)

    # cascade: minutes -> 10minutes merges the two buckets
    ds.downsample_streams({"name": "preagg"}, until=T0 + dt.timedelta(hours=1))
    rolled = list(ds.get_data(sid, Granularity.Minutes10))
    assert len(rolled) == 1
    v = rolled[0]["v"]
    assert v["count"] == 6
    assert v["sum"] == pytest.approx(18.0)
    assert v["min"] == 1.0 and v["max"] == 6.0

    # scalar appends to a pre-aggregated stream are rejected, and
    # dict appends need coarse granularity + valid members
    with pytest.raises(exc.IncompatibleTypes):
        ds.append(sid, 1.0, T0 + dt.timedelta(minutes=2))
    fine = ds.ensure_stream({"name": "fine"})
    with pytest.raises(exc.IncompatibleTypes):
        ds.append(fine, {"count": 1, "sum": 1.0}, T0)
    with pytest.raises(exc.InvalidOperatorArguments):
        ds.append(sid, {"count": 1, "median": 2.0},
                  T0 + dt.timedelta(minutes=3))


def test_propagate_skips_unaffected_parent(ds, spark):
    """A derived parent whose own sources did NOT change must not be
    recomputed when a sibling source of its child stream is appended —
    only transitively-affected streams recompute (W5 blast radius)."""
    from datastream_spark.datastream import Datastream

    a = _mk_stream(ds, "pa")
    b = _mk_stream(ds, "pb")
    d1 = ds.ensure_stream(
        {"name": "p_d1"}, derive_from=[b], derive_op="derivative",
        highest_granularity=Granularity.Seconds,
    )
    d2 = ds.ensure_stream(
        {"name": "p_d2"}, derive_from=[a, d1], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    recomputed = []
    orig = Datastream._recompute_derived

    def spy(self, groups, *args, **kw):
        recomputed.extend(d.stream_id for descs in groups for d in descs)
        return orig(self, groups, *args, **kw)

    Datastream._recompute_derived = spy
    try:
        ds.append_multiple(
            [{"stream_id": a, "value": 1.0, "timestamp": T0}]
        )
    finally:
        Datastream._recompute_derived = orig
    assert d2 in recomputed
    assert d1 not in recomputed, "unaffected parent was recomputed"


def test_register_views_sql_surface(ds, spark):
    """register_views exposes registry/datapoints/rollups as temp
    views, so plain spark.sql composes with the engine's tables."""
    sid = _mk_stream(ds, "sqlview")
    ds.append_multiple(
        [
            {"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(seconds=i)}
            for i in range(30)
        ]
    )
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=30))
    made = ds.register_views()
    assert "ds_streams" in made and "ds_datapoints" in made
    assert "ds_rollup_10seconds" in made
    n = spark.sql(
        f"SELECT count(*) AS n FROM ds_datapoints WHERE stream_id = '{sid}'"
    ).collect()[0]["n"]
    assert n == 30
    joined = spark.sql(
        """
        SELECT s.highest_granularity, count(*) AS n_buckets
        FROM ds_rollup_10seconds r JOIN ds_streams s USING (stream_id)
        GROUP BY 1
        """
    ).collect()
    assert any(r["n_buckets"] >= 3 for r in joined)


def test_custom_derive_op_registry(ds, spark):
    """§2.10 extension surface for derive ops: a registered window-
    expression op becomes a first-class derived stream — tail_safe ops
    ride the W5 incremental path, others recompute in full (correct
    either way)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datastream_spark.datastream import Datastream
    from datastream_spark.operators import derive as derive_ops

    def delta(srcs, g, args):
        w = Window.partitionBy("stream_id").orderBy("ts")
        return (
            srcs.withColumn("_d", F.col("value") - F.lag("value").over(w))
            .where(F.col("_d").isNotNull())
            .select("ts", F.col("_d").alias("value"))
        )

    def runmax(srcs, g, args):
        w = (
            Window.partitionBy("stream_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return srcs.select("ts", F.max("value").over(w).alias("value"))

    derive_ops.register_derive_op("delta", delta, tail_safe=True)
    derive_ops.register_derive_op("runmax", runmax, tail_safe=False)
    try:
        src = _mk_stream(ds, "customsrc")
        d1 = ds.ensure_stream(
            {"name": "d_delta"}, derive_from=[src], derive_op="delta",
            highest_granularity=Granularity.Seconds,
        )
        d2 = ds.ensure_stream(
            {"name": "d_runmax"}, derive_from=[src], derive_op="runmax",
            highest_granularity=Granularity.Seconds,
        )
        vals = [3.0, 7.0, 5.0, 11.0]
        for batch in (vals[:2], vals[2:]):  # two flushes -> W5 paths
            ds.append_multiple(
                [
                    {"stream_id": src, "value": v,
                     "timestamp": T0 + dt.timedelta(seconds=vals.index(v))}
                    for v in batch
                ]
            )
        got_delta = [p["v"] for p in ds.get_data(d1, Granularity.Seconds)]
        assert got_delta == [4.0, -2.0, 6.0]
        got_max = [p["v"] for p in ds.get_data(d2, Granularity.Seconds)]
        assert got_max == [3.0, 7.0, 7.0, 11.0]
    finally:
        derive_ops.unregister_derive_op("delta")
        derive_ops.unregister_derive_op("runmax")
    with pytest.raises(exc.UnsupportedDeriveOperator):
        ds.ensure_stream(
            {"name": "bad_custom"}, derive_from=[src], derive_op="delta",
            highest_granularity=Granularity.Seconds,
        )


def test_custom_downsampler_registry(ds, spark):
    """§2.10 extension surface: a user-registered algebraic downsampler
    flows through raw rollup, the merge cascade, the materialized
    ladder, and get_data — the same single algebraic definition path
    the built-in seven use."""
    from pyspark.sql import functions as F

    from datastream_spark.operators import rollup as rollup_ops

    rollup_ops.register_downsampler(
        "abs_sum",
        raw=lambda v, t: F.sum(F.abs(v)),
        merge=lambda c: F.sum(c),
        finish=lambda df: df.withColumn(
            "v_abs_mean", F.col("v_abs_sum") / F.col("v_count")
        ),
    )
    try:
        # algebraic exactness: cascade == direct at the coarser level
        rows = [("s", T0 + dt.timedelta(seconds=i), float(i - 30)) for i in range(120)]
        raw = spark.createDataFrame(rows, "stream_id string, ts timestamp, value double")
        from datastream_spark.operators.rollup import rollup_cascade, rollup_from_raw

        r10 = rollup_from_raw(raw, Granularity.Seconds10)
        via_cascade = rollup_cascade(r10, Granularity.Minutes)
        direct = rollup_from_raw(raw, Granularity.Minutes)
        a = {r["bucket_epoch"]: r["v_abs_sum"] for r in via_cascade.collect()}
        b = {r["bucket_epoch"]: r["v_abs_sum"] for r in direct.collect()}
        assert a == b and len(a) == 2
        assert all(r["v_abs_mean"] == r["v_abs_sum"] / r["v_count"]
                   for r in direct.collect())

        # end-to-end through the store: ladder materializes the column
        sid = ds.ensure_stream(
            {"name": "customds"},
            value_downsamplers=["count", "abs_sum"],
        )
        ds.append_multiple(
            [
                {"stream_id": sid, "value": float(-i), "timestamp": T0 + dt.timedelta(seconds=i)}
                for i in range(20)
            ]
        )
        ds.downsample_streams(until=T0 + dt.timedelta(seconds=20))
        got = list(
            ds.get_data(sid, Granularity.Seconds10, value_downsamplers=["abs_sum"])
        )
        assert [p["v"]["abs_sum"] for p in got] == [
            float(sum(range(10))), float(sum(range(10, 20)))
        ]
    finally:
        rollup_ops.unregister_downsampler("abs_sum")
    with pytest.raises(exc.UnsupportedDownsampler):
        ds.get_data(sid, Granularity.Seconds10, value_downsamplers=["abs_sum"]).df.count()


def test_graph_value_type(ds):
    """Graph snapshots (reference value_type='graph', stored as
    {'v': [...], 'e': [...]}) roundtrip losslessly; graphs are kept at
    highest granularity and never downsampled (SURVEY.md §7 watch list)."""
    sid = ds.ensure_stream({"name": "topo"}, value_type="graph")
    g0 = {
        "v": [{"i": "a"}, {"i": "b", "w": 2}],
        "e": [{"f": "a", "t": "b"}],
    }
    g1 = {"v": [{"i": "a"}], "e": []}
    ds.append(sid, g0, T0)
    ds.append(sid, g1, T0 + dt.timedelta(seconds=1))
    got = list(ds.get_data(sid, Granularity.Seconds))
    assert got[0]["v"] == g0
    assert got[1]["v"] == g1
    # numeric streams refuse graph payloads
    num = ds.ensure_stream({"name": "notgraph"})
    with pytest.raises(exc.IncompatibleTypes):
        ds.append(num, {"v": [], "e": []}, T0)


def test_graph_read_surface(ds):
    """Typed graph reads: vertex/edge DataFrames with contract keys
    lifted to columns and attrs preserved, plus per-snapshot topology
    stats — all set-oriented (one plan over all snapshots)."""
    sid = ds.ensure_stream({"name": "net"}, value_type="graph")
    g0 = {
        "v": [{"i": "a"}, {"i": "b", "w": 2}, {"i": "c"}],
        "e": [{"f": "a", "t": "b", "cap": 10}, {"f": "a", "t": "c"},
              {"f": "c", "t": "c"}],
    }
    g1 = {"v": [{"i": "a"}], "e": []}
    ds.append(sid, g0, T0)
    ds.append(sid, g1, T0 + dt.timedelta(seconds=5))

    verts = ds.graph_vertices(sid).orderBy("ts", "vertex_id").collect()
    assert [(r["vertex_id"], dict(r["attrs"])) for r in verts] == [
        ("a", {}), ("b", {"w": "2"}), ("c", {}), ("a", {}),
    ]
    edges = ds.graph_edges(sid).orderBy("ts", "src", "dst").collect()
    assert [(r["src"], r["dst"], dict(r["attrs"])) for r in edges] == [
        ("a", "b", {"cap": "10"}), ("a", "c", {}), ("c", "c", {}),
    ]
    stats = {r["ts"]: r for r in ds.graph_stats(sid).collect()}
    s0 = stats[T0]
    assert (s0["n_vertices"], s0["n_edges"]) == (3, 3)
    assert s0["max_out_degree"] == 2  # a -> b, a -> c
    assert s0["n_self_loops"] == 1    # c -> c
    s1 = stats[T0 + dt.timedelta(seconds=5)]
    assert (s1["n_vertices"], s1["n_edges"], s1["max_out_degree"]) == (1, 0, 0)
    # time bounds apply like any raw read
    only_late = ds.graph_stats(sid, start=T0 + dt.timedelta(seconds=1))
    assert only_late.count() == 1
    # non-graph streams are refused
    num = ds.ensure_stream({"name": "scalar_stream"})
    with pytest.raises(exc.IncompatibleTypes):
        ds.graph_edges(num)


def test_slicing(ds):
    sid = _mk_stream(ds, "slice")
    ds.append_multiple(
        [
            {"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(seconds=i)}
            for i in range(10)
        ]
    )
    pts = ds.get_data(sid, Granularity.Seconds)
    sl = pts[2:5]
    assert [p["v"] for p in sl] == [2.0, 3.0, 4.0]
    # reverse cursor slices in the reversed time order
    rev = ds.get_data(sid, Granularity.Seconds, reverse=True)[2:5]
    assert [p["v"] for p in rev] == [7.0, 6.0, 5.0]
    # the numbering window is partitioned (per-stream), never a global
    # single-partition window over the whole cursor
    plan = sl.df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(stream_id" in plan, plan


def test_update_and_remove_tags(ds):
    sid = ds.ensure_stream(
        {"name": "iface", "node": {"id": "n9"}}, tags={"unit": "bps"}
    )
    ds.update_tags(sid, {"descr": "uplink", "visual": {"color": "red"}})
    tags = ds.find_streams({"name": "iface"})[0]["tags"]
    assert tags["descr"] == "uplink" and tags["visual"] == {"color": "red"}
    ds.remove_tag(sid, "visual.color")
    ds.remove_tag(sid, "unit")
    ds.remove_tag(sid, "no.such.path")  # silent no-op, $unset-style
    tags = ds.find_streams({"name": "iface"})[0]["tags"]
    assert "unit" not in tags and tags["visual"] == {}
    assert ds.find_streams({"descr": "uplink"})[0]["stream_id"] == sid


def test_scan_multi_stream(ds):
    """Set-oriented scan: all tag-matched streams in ONE DataFrame,
    raw and rollup routing per stream, bounds applied."""
    a = ds.ensure_stream({"kind": "m", "i": "a"})
    b = ds.ensure_stream({"kind": "m", "i": "b"})
    ds.append_multiple(
        [
            {"stream_id": sid, "value": float(i + k), "timestamp": T0 + dt.timedelta(seconds=i)}
            for k, sid in enumerate([a, b])
            for i in range(20)
        ]
    )
    raw = ds.scan({"kind": "m"}, Granularity.Seconds)
    assert raw.count() == 40
    assert set(r.stream_id for r in raw.select("stream_id").distinct().collect()) == {a, b}

    bounded = ds.scan(
        {"kind": "m"}, Granularity.Seconds,
        start=T0 + dt.timedelta(seconds=5), end_exclusive=T0 + dt.timedelta(seconds=10),
    )
    assert bounded.count() == 10

    # rollup routing: downsample then scan at 10s
    ds.downsample_streams({"kind": "m"}, until=T0 + dt.timedelta(hours=1))
    rolled = ds.scan({"kind": "m"}, Granularity.Seconds10)
    rows = {(r.stream_id, r.bucket_epoch): r.v_count for r in rolled.collect()}
    assert len(rows) == 4  # 2 streams x 2 complete 10s buckets
    assert all(v == 10 for v in rows.values())


def test_null_values(ds):
    """Reference test_null_values: nulls are appendable to numeric
    streams; value downsamplers skip them (count counts non-null
    contributions), time downsamplers still see the row."""
    sid = _mk_stream(ds, "nulls")
    vals = [1.0, None, 3.0, None, None, 5.0]
    ds.append_multiple(
        [
            {"stream_id": sid, "value": v, "timestamp": T0 + dt.timedelta(seconds=i)}
            for i, v in enumerate(vals)
        ]
    )
    raw = list(ds.get_data(sid, Granularity.Seconds))
    assert [p["v"] for p in raw] == vals  # nulls roundtrip
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=10))
    got = list(ds.get_data(sid, Granularity.Seconds10))
    assert len(got) == 1
    v = got[0]["v"]
    assert v["count"] == 3           # nulls skipped
    assert v["sum"] == 9.0
    assert v["min"] == 1.0 and v["max"] == 5.0
    assert got[0]["t"]["first"] == T0
    assert got[0]["t"]["last"] == T0 + dt.timedelta(seconds=5)


def test_stream_not_found_and_multiple_returned(ds):
    with pytest.raises(exc.StreamNotFound):
        ds.get_data("no-such-stream", Granularity.Seconds)
    ds.ensure_stream({"kind": "m", "idx": "1"})
    ds.ensure_stream({"kind": "m", "idx": "2"})
    with pytest.raises(exc.MultipleStreamsReturned):
        ds.ensure_stream({"kind": "m"})  # subset-matches both


def test_unsupported_names(ds):
    with pytest.raises(exc.UnsupportedDownsampler):
        ds.ensure_stream({"name": "bad-ds"}, value_downsamplers=["median"])
    with pytest.raises(exc.UnsupportedGranularity):
        ds.ensure_stream({"name": "bad-g"}, highest_granularity="fortnights")


def test_append_contended(spark, store_root):
    """StreamAppendContended [MED]: two writers on one store root —
    the second flush detects the registry moved underneath it and
    raises instead of silently dropping the first writer's state."""
    a = Datastream(spark, store_root)
    sid = a.ensure_stream({"name": "contended"})
    b = Datastream(spark, store_root)  # loads registry now
    a.append(sid, 1.0, T0)
    a.flush()  # a saves; registry file signature changes
    b.append(sid, 2.0, T0 + dt.timedelta(seconds=1))
    with pytest.raises(exc.StreamAppendContended):
        b.flush()
    # recovery: reload and retry
    b.registry.load()
    b.append(sid, 3.0, T0 + dt.timedelta(seconds=2))
    b.flush()
    # the refused flush wrote nothing: its 2.0 is gone, not duplicated
    assert [p["v"] for p in a.get_data(sid, Granularity.Seconds)] == [1.0, 3.0]


def test_reads_leave_the_registry_alone(spark, store_root):
    """A flush with nothing buffered commits nothing: a read does not
    rewrite ``streams.jsonl``, and a read on a handle whose registry
    another handle has since saved does not raise
    StreamAppendContended."""
    import os

    a = Datastream(spark, store_root)
    sid = a.ensure_stream({"name": "read-only"})
    a.append_multiple(
        [{"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(seconds=i)}
         for i in range(5)]
    )
    path = os.path.join(store_root, "streams.jsonl")
    before = (os.stat(path).st_mtime_ns, open(path).read())
    assert a.scan({"name": "read-only"}).count() == 5
    assert (os.stat(path).st_mtime_ns, open(path).read()) == before
    b = Datastream(spark, store_root)
    b.ensure_stream({"name": "other"})  # b saves the registry
    out = a.aggregate_range(
        {"name": "read-only"}, start=T0, end=T0 + dt.timedelta(minutes=1)
    )
    assert [r["v_count"] for r in out.collect()] == [5]


def test_cascade_and_vacuum_refuse_a_stale_registry(spark, tmp_path):
    """downsample_streams and vacuum act on the handle's registry
    snapshot. After another handle made and filled a stream, they raise
    StreamAppendContended instead of purging that stream's rows as dead
    or saving the registry without it; after a reload they see it."""
    for backend in REGISTRY_BACKENDS:
        root = str(tmp_path / backend)
        a = Datastream(spark, root, registry_backend=backend)
        a.ensure_stream({"name": "old"})
        b = Datastream(spark, root, registry_backend=backend)
        sid = b.ensure_stream({"name": "new"})
        b.append_multiple(
            [{"stream_id": sid, "value": float(i), "timestamp": T0 + dt.timedelta(minutes=i)}
             for i in range(5)]
        )
        until = T0 + dt.timedelta(days=1)
        with pytest.raises(exc.StreamAppendContended):
            a.vacuum()
        with pytest.raises(exc.StreamAppendContended):
            a.downsample_streams(until=until)
        fresh = Datastream(spark, root, registry_backend=backend)
        assert [s["stream_id"] for s in fresh.find_streams({"name": "new"})] == [sid]
        assert len(fresh.get_data(sid, Granularity.Seconds)) == 5
        a.registry.load()
        a.vacuum()
        a.downsample_streams(until=until)
        assert len(a.get_data(sid, Granularity.Seconds)) == 5, backend
        assert [p["v"]["count"] for p in a.get_data(sid, Granularity.Hours)] == [5]


def test_stale_append_dataframe_writes_nothing(spark, tmp_path):
    """append_dataframe on a handle whose registry another handle has
    since saved raises StreamAppendContended before it writes: no row
    lands, and the other handle's new stream and later ``latest_us``
    survive. After a reload the handle sees both."""
    import calendar

    from pyspark.sql import functions as F

    later = T0 + dt.timedelta(hours=1)
    later_us = calendar.timegm(later.timetuple()) * 1_000_000
    for backend in REGISTRY_BACKENDS:
        root = str(tmp_path / backend)
        sid = Datastream(spark, root, registry_backend=backend).ensure_stream(
            {"name": "x"}
        )
        a = Datastream(spark, root, registry_backend=backend)
        b = Datastream(spark, root, registry_backend=backend)
        b.append(sid, 1.0, later)
        b.flush()
        b.ensure_stream({"name": "other"})
        at_t0 = spark.createDataFrame(
            [(sid, calendar.timegm(T0.timetuple()), 2.0)],
            "stream_id string, e long, value double",
        ).select("stream_id", F.timestamp_seconds("e").alias("ts"), "value")
        with pytest.raises(exc.StreamAppendContended):
            a.append_dataframe(at_t0)
        fresh = Datastream(spark, root, registry_backend=backend)
        assert len(list(fresh.find_streams({"name": "other"}))) == 1, backend
        assert fresh.registry.get(sid).latest_us == later_us, backend
        assert [p["v"] for p in fresh.get_data(sid, Granularity.Seconds)] == [1.0]
        assert fresh.store.read("datapoints").count() == 1, backend
        a.registry.load()
        with pytest.raises(exc.InvalidTimestamp):
            a.append_dataframe(at_t0)


def test_downsample_consistency_warning(ds):
    """DownsampleConsistencyNotGuaranteed [MED]: an append landing
    behind an advanced watermark is stored but warned about — the
    materialized ladder will not include it."""
    sid = _mk_stream(ds, "behind-wm")
    ds.append(sid, 1.0, T0)
    # watermark advances well past the last datapoint
    ds.downsample_streams(until=T0 + dt.timedelta(hours=1))
    with pytest.warns(exc.DownsampleConsistencyNotGuaranteed):
        ds.append(sid, 2.0, T0 + dt.timedelta(minutes=10))
    # monotonic-forward appends beyond the watermark stay silent
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error", exc.DownsampleConsistencyNotGuaranteed)
        ds.append(sid, 3.0, T0 + dt.timedelta(hours=2))


def test_crash_between_data_write_and_watermark_advance(spark, store_root):
    """Atomicity story (SURVEY §7.3): rollup data is written BEFORE the
    registry watermark advances, and the write replaces whole
    (date, stream) partitions — so a crash between the two (data on
    disk, watermark lost) re-runs an idempotent slice on retry: same
    buckets, same values, no duplicates, no drift."""
    import os

    ds = Datastream(spark, store_root)
    sid = ds.ensure_stream({"name": "crashy"})
    for i in range(120):
        ds.append(sid, float(i), T0 + dt.timedelta(seconds=i))
    ds.flush()

    reg_path = os.path.join(store_root, "streams.jsonl")
    with open(reg_path) as f:
        pre_downsample_registry = f.read()

    until = T0 + dt.timedelta(seconds=300)
    ds.downsample_streams(until=until)

    def rollup_snapshot(d):
        df = d.store.read("rollup_10seconds")
        return sorted(
            (r["stream_id"], r["bucket_epoch"], r["v_count"], r["v_sum"])
            for r in df.collect()
        )

    clean = rollup_snapshot(ds)
    assert clean, "downsample must have produced buckets"

    # crash simulation: the data write survived, the watermark didn't
    with open(reg_path, "w") as f:
        f.write(pre_downsample_registry)

    ds2 = Datastream(spark, store_root)
    ds2.downsample_streams(until=until)  # retry from stale watermark
    assert rollup_snapshot(ds2) == clean


def test_normalize_ntz_recurses_into_nested_types(spark):
    """NTZ fields nested inside struct/array/map are rewritten too, and
    the epoch value survives the cast under the UTC session clock."""
    import datetime as dt

    from pyspark.sql import types as T

    from datastream_spark.session import normalize_ntz

    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = T.StructType(
        [
            T.StructField("flat", T.TimestampNTZType()),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("inner", T.TimestampNTZType()),
                        T.StructField("n", T.LongType()),
                    ]
                ),
            ),
            T.StructField("a", T.ArrayType(T.TimestampNTZType())),
            T.StructField("m", T.MapType(T.StringType(), T.TimestampNTZType())),
            T.StructField("plain", T.LongType()),
        ]
    )
    df = spark.createDataFrame(
        [(ts, (ts, 7), [ts, ts], {"k": ts}, 3)], schema
    )
    out = normalize_ntz(df)
    ss = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert ss["flat"] == "timestamp"
    assert ss["s"] == "struct<inner:timestamp,n:bigint>"
    assert ss["a"] == "array<timestamp>"
    assert ss["m"] == "map<string,timestamp>"
    assert ss["plain"] == "bigint"
    row = out.collect()[0]
    assert row.flat == ts and row.s.inner == ts and row.s.n == 7
    assert row.a == [ts, ts] and row.m["k"] == ts and row.plain == 3
    # no-op path: a frame with no NTZ anywhere is returned unchanged
    clean = spark.range(1)
    assert normalize_ntz(clean) is clean


def test_propagation_groups_same_op_streams_into_one_job(ds, monkeypatch):
    """N same-op derived streams recompute as ONE set-oriented group per
    (op, granularity), and every group of a depth level sharing a
    recompute boundary lands in ONE dynamic overwrite — the write count
    is the job count's proxy. Values must be identical to the
    per-stream path."""
    n = 6
    srcs = [_mk_stream(ds, name=f"src{i}") for i in range(n)]
    ds.append_multiple(
        [
            {"stream_id": s, "value": float(i + k), "timestamp": T0 + dt.timedelta(seconds=k)}
            for i, s in enumerate(srcs)
            for k in range(4)
        ]
    )
    sums = [
        ds.ensure_stream(
            {"name": f"sum{i}"}, derive_from=[srcs[i]], derive_op="sum",
            highest_granularity=Granularity.Seconds,
        )
        for i in range(n)
    ]
    derivs = [
        ds.ensure_stream(
            {"name": f"d{i}"}, derive_from=[srcs[i]], derive_op="derivative",
            highest_granularity=Granularity.Seconds,
        )
        for i in range(n)
    ]

    writes = []
    orig = ds.store.overwrite_derived

    def counting(df, stream_ids):
        writes.append(list(stream_ids))
        return orig(df, stream_ids)

    monkeypatch.setattr(ds.store, "overwrite_derived", counting)

    # one append touching every source -> 12 affected derived streams
    # in two groups (sum, derivative) at one depth and one boundary:
    # ONE fused write
    ds.append_multiple(
        [
            {"stream_id": s, "value": 100.0 + i, "timestamp": T0 + dt.timedelta(seconds=5)}
            for i, s in enumerate(srcs)
        ]
    )
    assert len(writes) == 1, writes
    assert sorted(map(len, writes)) == [2 * n]

    # grouped outputs match the per-stream semantics exactly
    for i in range(n):
        got = [p["v"] for p in ds.get_data(sums[i], Granularity.Seconds)]
        assert got == [float(i), i + 1.0, i + 2.0, i + 3.0, 100.0 + i]
        gd = [p["v"] for p in ds.get_data(derivs[i], Granularity.Seconds)]
        # derivative over [i, i+1, i+2, i+3, 100+i] at 1 s spacing:
        # three 1.0 steps then (100+i - (i+3)) / 2 over the 2 s gap
        assert gd == [1.0, 1.0, 1.0, pytest.approx((97.0) / 2)]


def test_propagation_grouping_preserves_multi_source_and_cascade(ds, monkeypatch):
    """Multi-source sums and derived-of-derived cascades keep correct
    values under grouping (cascade recomputes strictly after its
    parent's level)."""
    a = _mk_stream(ds, name="a")
    b = _mk_stream(ds, name="b")
    ds.append_multiple(
        [
            {"stream_id": s, "value": v, "timestamp": T0 + dt.timedelta(seconds=i)}
            for i, v in enumerate([1.0, 2.0, 3.0])
            for s in (a, b)
        ]
    )
    ab = ds.ensure_stream(
        {"name": "ab"}, derive_from=[a, b], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    only_a = ds.ensure_stream(
        {"name": "onlya"}, derive_from=[a], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    d_ab = ds.ensure_stream(
        {"name": "dab"}, derive_from=[ab], derive_op="derivative",
        highest_granularity=Granularity.Seconds,
    )

    ds.append_multiple(
        [
            {"stream_id": s, "value": 10.0, "timestamp": T0 + dt.timedelta(seconds=3)}
            for s in (a, b)
        ]
    )
    assert [p["v"] for p in ds.get_data(ab, Granularity.Seconds)] == [
        2.0, 4.0, 6.0, 20.0,
    ]
    assert [p["v"] for p in ds.get_data(only_a, Granularity.Seconds)] == [
        1.0, 2.0, 3.0, 10.0,
    ]
    # cascade: derivative over the GROUP-recomputed ab values
    assert [p["v"] for p in ds.get_data(d_ab, Granularity.Seconds)] == [
        2.0, 2.0, 14.0,
    ]


def test_grouped_sum_counts_a_repeated_source_once(ds):
    """A source listed twice in one ``sum`` stream's ``derive_from``
    counts once, whether the stream recomputes grouped with another
    ``sum`` (first append: ``aa`` and ``bb`` share one job) or alone
    (second append: only ``a`` moved) — the same per-bucket values a
    one-at-a-time recompute gives."""
    a = _mk_stream(ds, name="a")
    b = _mk_stream(ds, name="b")
    ds.append_multiple(
        [
            {"stream_id": s, "value": float(i + 1), "timestamp": T0 + dt.timedelta(seconds=i)}
            for i in range(3)
            for s in (a, b)
        ]
    )
    aa = ds.ensure_stream(
        {"name": "aa"}, derive_from=[a, a], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    ds.ensure_stream(
        {"name": "bb"}, derive_from=[b], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )

    def values(sid):
        return [(p["t"], p["v"]) for p in ds.get_data(sid, Granularity.Seconds)]

    ds.append_multiple(
        [
            {"stream_id": s, "value": 10.0, "timestamp": T0 + dt.timedelta(seconds=3)}
            for s in (a, b)
        ]
    )
    assert values(aa) == values(a)
    ds.append_multiple(
        [{"stream_id": a, "value": 20.0, "timestamp": T0 + dt.timedelta(seconds=4)}]
    )
    assert values(aa) == values(a)
    incremental = values(aa)
    ds.backprocess_streams([aa])  # one-at-a-time full recompute
    assert values(aa) == incremental


def test_backprocess_groups_same_op_streams_into_one_job(ds, monkeypatch):
    """backprocess_streams recomputes same-op streams as ONE group per
    (op, granularity), and all groups of one depth in ONE write, with
    the values a per-stream recompute gives."""
    n = 3
    srcs = [_mk_stream(ds, name=f"src{i}") for i in range(n)]
    ds.append_multiple(
        [
            {"stream_id": s, "value": float(i * k), "timestamp": T0 + dt.timedelta(seconds=k)}
            for i, s in enumerate(srcs)
            for k in range(4)
        ]
    )
    derived = [
        ds.ensure_stream(
            {"name": f"{op}{i}"}, derive_from=[srcs[i]], derive_op=op,
            highest_granularity=Granularity.Seconds, derive_backprocess=False,
        )
        for op in ("sum", "derivative")
        for i in range(n)
    ]

    writes = []
    orig = ds.store.overwrite_derived

    def counting(df, stream_ids):
        writes.append(list(stream_ids))
        return orig(df, stream_ids)

    monkeypatch.setattr(ds.store, "overwrite_derived", counting)
    ds.backprocess_streams()
    assert len(writes) == 1, writes
    assert sorted(map(len, writes)) == [2 * n]
    grouped = {
        sid: [(p["t"], p["v"]) for p in ds.get_data(sid, Granularity.Seconds)]
        for sid in derived
    }
    for i in range(n):
        assert [v for _, v in grouped[derived[i]]] == [float(i * k) for k in range(4)]
        assert [v for _, v in grouped[derived[n + i]]] == [float(i)] * 3

    for sid in derived:  # per-stream recompute: a group of one each
        ds.backprocess_streams([sid])
        got = [(p["t"], p["v"]) for p in ds.get_data(sid, Granularity.Seconds)]
        assert got == grouped[sid], sid
    assert len(writes) == 1 + 2 * n


def test_get_data_fill_surface(ds):
    """get_data(fill=...) densifies the queried window on the ladder
    grid: locf carries the value downsamplers forward, linear
    interpolates, time downsamplers stay None on generated rows, and
    every datapoint reports whether it was imputed."""
    sid = _mk_stream(ds, name="gappy", highest_granularity=Granularity.Seconds)
    # observations in 10s-buckets 0, 30 (buckets 10 and 20 missing)
    ds.append_multiple(
        [
            {"stream_id": sid, "value": 10.0, "timestamp": T0},
            {"stream_id": sid, "value": 40.0, "timestamp": T0 + dt.timedelta(seconds=30)},
        ]
    )
    ds.downsample_streams(until=T0 + dt.timedelta(seconds=3600))

    got = list(
        ds.get_data(
            sid,
            Granularity.Seconds10,
            start=T0,
            end=T0 + dt.timedelta(seconds=30),
            fill="locf",
        )
    )
    assert len(got) == 4
    assert [p["v"]["mean"] for p in got] == [10.0, 10.0, 10.0, 40.0]
    assert [p["filled"] for p in got] == [False, True, True, False]
    # time downsamplers stay None on generated rows
    assert got[1]["t"]["first"] is None and got[0]["t"]["first"] is not None

    lin = list(
        ds.get_data(
            sid,
            Granularity.Seconds10,
            start=T0,
            end=T0 + dt.timedelta(seconds=30),
            fill="linear",
        )
    )
    assert [p["v"]["mean"] for p in lin] == [10.0, 20.0, 30.0, 40.0]

    # fill(null) + exclusive end: grid completion only, window arithmetic
    nul = list(
        ds.get_data(
            sid,
            Granularity.Seconds10,
            start=T0,
            end_exclusive=T0 + dt.timedelta(seconds=30),
            fill="null",
        )
    )
    assert [p["v"]["mean"] for p in nul] == [10.0, None, None]
    # without fill the result is unchanged legacy behavior
    plain = list(
        ds.get_data(sid, Granularity.Seconds10, start=T0, end=T0 + dt.timedelta(seconds=30))
    )
    assert len(plain) == 2 and "filled" not in plain[0]
    # raw granularity has no bucket grid: fill is rejected, not ignored
    with pytest.raises(exc.InvalidOperatorArguments):
        ds.get_data(sid, Granularity.Seconds, fill="locf")


def test_decompose_api_surface(ds):
    """Seasonal series through the facade: a 60s-period pattern on
    Seconds10 buckets decomposes with the additive identity holding
    and the trend flat (window == period)."""
    sid = _mk_stream(ds, name="season")
    pat = [3.0, -1.0, 2.0, -2.0, 1.0, -3.0]  # period 6, sums to 0
    for i in range(120):
        ds.append(sid, 50.0 + pat[i % 6], T0 + dt.timedelta(seconds=10 * i))
    # a coarser-than-stored request serves from the materialized
    # ladder (scan semantics), so materialize it first
    ds.downsample_streams({"name": "season"})
    out = ds.decompose(
        {"name": "season"}, granularity=Granularity.Seconds10,
        period=6, trend_half=3,
    ).collect()
    defined = [r for r in out if r.trend is not None]
    # ladder finalization may hold back the trailing bucket; the edge
    # frames cost 2*trend_half more
    assert len(defined) >= 120 - 6 - 1
    for r in defined:
        assert abs(r.v - (r.trend + r.seasonal + r.residual)) < 1e-9
    # trend window (7) != period (6) here, so just sanity-bound it
    assert all(45 < r.trend < 55 for r in defined)
    # raw-level request buckets in-query and needs no ladder
    raw = ds.decompose(
        {"name": "season"}, granularity=Granularity.Seconds,
        period=60, trend_half=30,
    )
    assert raw.where("trend IS NOT NULL").count() >= 50


def test_drift_api_surface(ds):
    sid = _mk_stream(ds, name="drifty")
    # first hour ~ U[0,1) pattern, second hour shifted up
    for i in range(60):
        ds.append(sid, (i % 10) / 10.0, T0 + dt.timedelta(minutes=i))
    for i in range(60):
        ds.append(
            sid, 0.5 + (i % 5) / 10.0, T0 + dt.timedelta(minutes=60 + i)
        )
    split = T0 + dt.timedelta(minutes=60)
    row = ds.drift(
        {"name": "drifty"}, split=split, lo=0.0, hi=1.0, n_bins=10
    ).collect()[0]
    assert row.psi > 0.1  # the shift is visible
    # identical halves -> ~0 (compare first half with itself via split
    # at the end and bounds covering only the first hour)
    same = ds.drift(
        {"name": "drifty"}, split=T0 + dt.timedelta(minutes=30),
        lo=0.0, hi=1.0, n_bins=10,
        end=T0 + dt.timedelta(minutes=60),
    ).collect()[0]
    assert abs(same.psi) < 0.05  # same generator both sides
    with pytest.raises(ValueError, match="split"):
        ds.drift({"name": "drifty"})


def test_drift_default_bounds_derive_from_reference(ds):
    """Omitted (lo, hi) derive from the reference side's min/max —
    NOT a fixed [0, 1] that clamps real-valued metrics into the edge
    bins and reports PSI~0 under massive drift (ADVICE r5)."""
    sid = _mk_stream(ds, name="drifty_wide")
    # values live in [100, 160): a [0, 1] binning clamps everything
    for i in range(60):
        ds.append(sid, 100.0 + i, T0 + dt.timedelta(minutes=i))
    for i in range(60):
        ds.append(sid, 150.0 + i, T0 + dt.timedelta(minutes=60 + i))
    split = T0 + dt.timedelta(minutes=60)
    row = ds.drift({"name": "drifty_wide"}, split=split, n_bins=10).collect()[0]
    assert row.psi > 0.25  # massive drift must be visible, not ~0
    # empty reference window cannot derive bounds -> loud
    with pytest.raises(ValueError, match="reference"):
        ds.drift(
            {"name": "drifty_wide"},
            split=T0 - dt.timedelta(hours=2),
            end=T0 - dt.timedelta(hours=1),
        )


def test_forecast_api_surface(ds):
    """Holt forecast through the facade: a linear ramp forecasts its
    own next bucket closely; works from raw buckets and from the
    materialized ladder, one row per matched stream."""
    sid = _mk_stream(ds, name="trendy")
    for i in range(60):
        ds.append(sid, 100.0 + 5.0 * i, T0 + dt.timedelta(seconds=10 * i))

    # raw-level request buckets in-query (stored granularity: one
    # point per second-bucket, so the fold sees the raw ramp)
    out = ds.forecast(
        {"name": "trendy"}, granularity=Granularity.Seconds,
        alpha=0.5, beta=0.5,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.stream_id == sid and r.n == 60
    # ramp: level ~ last value (395), trend ~ +5/bucket, forecast ~ 400
    assert abs(r.level - 395.0) < 2.0
    assert abs(r.trend - 5.0) < 0.5
    assert abs(r.forecast_1 - 400.0) < 2.5

    # ladder-served request (coarser than stored): same shape
    ds.downsample_streams({"name": "trendy"})
    lad = ds.forecast(
        {"name": "trendy"}, granularity=Granularity.Minutes,
        alpha=0.5, beta=0.5,
    ).collect()
    assert len(lad) == 1 and lad[0].n >= 8
    # per-minute means rise 30/bucket on this ramp
    assert 20.0 < lad[0].trend < 40.0


def test_forecast_mixed_raw_and_rollup_buckets_correctly(ds):
    """When tags match BOTH a raw-served and a rollup-served stream,
    the unified scan presents raw rows as single-point second
    buckets; the series normalization must still bucket them to the
    requested granularity (mean per bucket), identical to what the
    stream would report if matched alone."""
    # raw-served at the request level: stored at Seconds, two points
    # per second so the per-bucket MEAN differs from any single point
    a = _mk_stream(ds, name="mixA")
    pts = []
    for i in range(60):
        t = T0 + dt.timedelta(seconds=i)
        pts.append({"stream_id": a, "value": 10.0 + i, "timestamp": t})
        pts.append(
            {"stream_id": a, "value": 30.0 + i,
             "timestamp": t + dt.timedelta(milliseconds=500)}
        )
    ds.append_multiple(pts)
    # rollup-served at its own coarser level under the same request
    b = _mk_stream(
        ds, name="mixB", highest_granularity=Granularity.Seconds10
    )
    for i in range(40):
        ds.append(b, 500.0 - i, T0 + dt.timedelta(seconds=10 * i))
    ds.downsample_streams({"name": "mixB"})

    alone = {
        r.stream_id: (r.n, r.level, r.trend)
        for r in ds.forecast(
            {"name": "mixA"}, granularity=Granularity.Seconds,
            alpha=0.5, beta=0.5,
        ).collect()
    }
    assert alone[a][0] == 60  # 60 second-buckets of 2-point means

    # No tags matches EVERY stream in this fresh fixture — exactly
    # the two above — which forces scan()'s mixed raw+rollup unified
    # frame (raw rows arrive as single-POINT second rows, two per
    # bucket here, so skipping the re-bucket would double n and skew
    # the fold).
    both = ds.forecast(
        None, granularity=Granularity.Seconds, alpha=0.5, beta=0.5,
    )
    rows = {
        r.stream_id: (r.n, r.level, r.trend) for r in both.collect()
    }
    # the raw stream's series must be IDENTICAL to its solo run even
    # though the mixed frame presented it as per-point rows
    assert rows[a] == alone[a]
    assert rows[b][0] >= 8


def test_forecast_mixed_scan_skips_null_values(ds):
    """In scan()'s mixed raw+rollup frame a NULL raw value is a bucket
    of count 0, as in every rollup: the raw stream's bucket mean is the
    mean of its non-null values whether or not a rollup-served stream
    matches the same tags."""
    a = _mk_stream(ds, name="nullmix", highest_granularity=Granularity.Minutes)
    ds.append_multiple(
        [
            {"stream_id": a, "value": v, "timestamp": T0 + dt.timedelta(seconds=i)}
            for i, v in enumerate([1.0, None, 3.0])
        ]
    )
    # rollup-served at Minutes: its Seconds points are read from the ladder
    b = _mk_stream(ds, name="rolled")
    ds.append(b, 7.0, T0)
    ds.downsample_streams(until=T0 + dt.timedelta(minutes=2))

    def level(query_tags):
        rows = ds.forecast(query_tags, granularity=Granularity.Minutes).collect()
        return {r.stream_id: r.level for r in rows}

    assert level({"name": "nullmix"}) == {a: 2.0}
    both = level(None)
    assert both[a] == 2.0
    assert both[b] == 7.0


def test_validate_api_surface(ds):
    """Expectation suite through the facade over raw datapoints:
    hand-counted violations, bounded window, passed flags."""
    from datastream_spark.operators import quality as Q

    sid = _mk_stream(ds, name="checked")
    for i in range(20):
        ds.append(sid, float(i), T0 + dt.timedelta(seconds=i))

    rep = {
        (r["check"], r.target): (r.violations, r.total, r.passed)
        for r in ds.validate(
            [
                Q.expect_not_null("value"),
                Q.expect_in_range("value", 0, 9),
            ],
            {"name": "checked"},
        ).collect()
    }
    assert rep[("not_null", "value")] == (0, 20, True)
    assert rep[("in_range", "value")] == (10, 20, False)  # 10..19 out

    # bounded window narrows totals
    win = ds.validate(
        [Q.expect_in_range("value", 0, 9)],
        {"name": "checked"},
        start=T0,
        end=T0 + dt.timedelta(seconds=4),
    ).collect()[0]
    assert (win.violations, win.total, win.passed) == (0, 5, True)
