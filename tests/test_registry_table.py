"""TableStreamRegistry: the manifest-table delta-log registry behind
``Datastream(..., registry_backend="table")`` — the millions-of-streams
path (SCALE.md §1): O(dirty) saves, lazy hydration pinned to one
snapshot, OCC contention and log compaction."""

import pytest
from pyspark.sql import functions as F


def test_datastream_api_on_table_registry(spark, tmp_path):
    """The FULL API surface drives the table-backed registry unchanged:
    ensure/find/append/derive propagation/downsample/get_data/delete,
    persistence across re-open (delta-log replay), O(dirty) saves
    (log rows ≈ changed descriptors, not registry size), and compact()
    folding the log."""
    import datetime as dt

    from datastream_spark.datastream import Datastream
    from datastream_spark.granularity import Granularity

    t0 = dt.datetime(2024, 1, 1)
    root = str(tmp_path / "store")
    ds = Datastream(spark, root, registry_backend="table")

    a = ds.ensure_stream({"name": "a"})
    b = ds.ensure_stream({"name": "b"})
    assert ds.ensure_stream({"name": "a"}) == a  # find-or-create
    assert {d.stream_id for d in ds.registry.find({"name": "a"})} == {a}

    ds.append_multiple(
        [
            {"stream_id": s, "value": v, "timestamp": t0 + dt.timedelta(seconds=i)}
            for i, v in enumerate([1.0, 2.0, 3.0])
            for s in (a, b)
        ]
    )
    summed = ds.ensure_stream(
        {"name": "a+b"}, derive_from=[a, b], derive_op="sum",
        highest_granularity=Granularity.Seconds,
    )
    assert [p["v"] for p in ds.get_data(summed, Granularity.Seconds)] == [
        2.0, 4.0, 6.0,
    ]
    # propagation on append flows through the table registry
    ds.append_multiple(
        [{"stream_id": a, "value": 9.0, "timestamp": t0 + dt.timedelta(seconds=3)}]
    )
    assert [p["v"] for p in ds.get_data(summed, Granularity.Seconds)][-1] == 9.0

    ds.downsample_streams(until=t0 + dt.timedelta(seconds=600))
    got = list(ds.get_data(a, Granularity.Seconds10))
    assert got and got[0]["v"]["count"] == 4  # a has 4 points

    # O(dirty): the log appends only CHANGED descriptors per save —
    # stream `b` is touched by its create, the derive wiring, one
    # append watermark and one downsample watermark; a registry-sized
    # rewrite per save would leave one b-row per commit instead
    log = ds.registry.table.read()
    n_commits = ds.registry.table.current_version() + 1
    b_rows = log.where(F.col("stream_id") == b).count()
    assert b_rows <= 5 < n_commits + 1

    # persistence: a fresh handle replays the delta log
    ds2 = Datastream(spark, root, registry_backend="table")
    assert {d.stream_id for d in ds2.registry.all()} == {a, b, summed}
    assert ds2.registry.get(summed).derive_op == "sum"
    assert [p["v"] for p in ds2.get_data(summed, Granularity.Seconds)][-1] == 9.0

    # deletion tombstones survive reload; compact folds the log
    ds2.registry.delete([summed])
    ds2.registry.compact()
    ds3 = Datastream(spark, root, registry_backend="table")
    assert {d.stream_id for d in ds3.registry.all()} == {a, b}
    v0 = ds3.registry.table.current_version()
    ds3.registry.save()  # nothing dirty -> no commit
    assert ds3.registry.table.current_version() == v0


def test_table_registry_save_contention(spark, tmp_path):
    """Two handles over the same log: expect_unchanged save raises
    StreamAppendContended after the other writer commits, and reload
    converges."""
    from datastream_spark.exceptions import StreamAppendContended
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    r1 = TableStreamRegistry(spark, root)
    r2 = TableStreamRegistry(spark, root)
    r1.ensure({"n": "x"}, None, ["count"], "seconds")
    d2 = r2.ensure({"n": "y"}, None, ["count"], "seconds")
    # r1 commits again AFTER r2's last sync
    r1.load()
    r1.ensure({"n": "z"}, None, ["count"], "seconds")
    d2.latest_us = 123
    with pytest.raises(StreamAppendContended):
        r2.save(expect_unchanged=True)  # r1's commit advanced the log
    r2.load()
    # reload dropped the unsaved mutation and sees all three streams
    assert len(list(r2.all())) == 3
    # a plain (metadata LWW) save retries through the conflict
    r2.get(d2.stream_id).latest_us = 456
    r1.ensure({"n": "w"}, None, ["count"], "seconds")
    r2.save()
    r1.load()
    assert r1.get(d2.stream_id).latest_us == 456


def test_table_registry_lazy_cold_load(spark, tmp_path):
    """A fresh handle hydrates nothing at load: get() is a point
    lookup that caches one descriptor, a locally-deleted stream stays
    dead through a later full hydration, and find()/all() hydrate on
    demand without clobbering local mutations."""
    from datastream_spark.exceptions import StreamNotFound
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    r1 = TableStreamRegistry(spark, root)
    ds = [r1.ensure({"n": f"s{i}"}, None, ["count"], "seconds") for i in range(6)]

    r2 = TableStreamRegistry(spark, root)
    assert r2._streams == {} and not r2._hydrated  # nothing parsed yet
    got = r2.get(ds[2].stream_id)
    assert got.tags == {"n": "s2"}
    assert set(r2._streams) == {ds[2].stream_id}  # exactly one hydrated

    # local mutation + local delete, then a full hydration via find():
    # neither is clobbered/resurrected by the log's own rows
    got.latest_us = 777
    r2.get(ds[3].stream_id)
    r2.delete([ds[3].stream_id]) # save()s; r2 now fully aware of s3 death
    found = {d.tags["n"] for d in r2.find()}
    assert found == {"s0", "s1", "s2", "s4", "s5"}
    assert r2.get(ds[2].stream_id).latest_us == 777

    with pytest.raises(StreamNotFound):
        r2.get("no-such-stream")
    with pytest.raises(StreamNotFound):
        r2.get(ds[3].stream_id)  # tombstoned

    # a third handle replays the saved state
    r3 = TableStreamRegistry(spark, root)
    assert {d.tags["n"] for d in r3.all()} == {"s0", "s1", "s2", "s4", "s5"}


def test_cold_delete_cleans_unhydrated_sources(spark, tmp_path):
    """delete() on a fresh handle hydrates the doomed streams' sources
    before the shared cleanup, so a source's contributes_to loses the
    deleted stream and the source itself can be deleted next."""
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    r = TableStreamRegistry(spark, root)
    src = r.ensure({"n": "src"}, None, ["count"], "seconds")
    der = r.ensure({"n": "der"}, None, ["count"], "seconds",
                   derived_from=[src.stream_id], derive_op="sum")
    TableStreamRegistry(spark, root).delete([der.stream_id])
    TableStreamRegistry(spark, root).delete([src.stream_id])
    assert list(TableStreamRegistry(spark, root).all()) == []


def test_table_registry_auto_compacts_past_threshold(spark, tmp_path):
    """save() folds the delta log itself once the live file count
    passes AUTO_COMPACT_FILES, so K saves + reload stays O(snapshot)
    read cost — tombstones folded, nothing lost, no manual compact."""
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    r = TableStreamRegistry(spark, root)
    r.AUTO_COMPACT_FILES = 4  # keep the test cheap
    d0 = r.ensure({"n": "keep"}, None, ["count"], "seconds")
    dead = r.ensure({"n": "dead"}, None, ["count"], "seconds")
    r.delete([dead.stream_id])
    for i in range(8):  # each save appends >= 1 file
        r.get(d0.stream_id).latest_us = 1000 + i
        r.save()
    n_files = len(r.table.current_files())
    assert n_files <= 4, f"log never folded: {n_files} live files"
    # log content is ONE live row per stream, tombstones gone
    log = r.table.read()
    assert log.where("stream_id = '%s'" % dead.stream_id).count() == 0
    fresh = TableStreamRegistry(spark, root)
    assert {d.tags["n"] for d in fresh.all()} == {"keep"}
    assert fresh.get(d0.stream_id).latest_us == 1007


def test_compact_never_folds_away_a_racing_commit(spark, tmp_path):
    """compact() derives its fold from a pinned snapshot and commits
    conditionally: a racer's save landing in between surfaces as a
    conflict and the retry folds the RACER'S state too — committed
    rows are never silently erased by the fold."""
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    a = TableStreamRegistry(spark, root)
    b = TableStreamRegistry(spark, root)
    d = a.ensure({"n": "x"}, None, ["count"], "seconds")
    b.load()

    # simulate the race deterministically: monkeypatch a's overwrite to
    # let b commit first on a's FIRST attempt only
    orig_overwrite = a.table.overwrite
    fired = {"done": False}

    def racing_overwrite(df, expected_base=a.table._UNSET):
        if not fired["done"]:
            fired["done"] = True
            b.get(d.stream_id).latest_us = 999  # racer's committed write
            b.save()
        return orig_overwrite(df, expected_base=expected_base)

    a.table.overwrite = racing_overwrite
    a.compact()
    a.table.overwrite = orig_overwrite

    fresh = TableStreamRegistry(spark, root)
    assert fresh.get(d.stream_id).latest_us == 999  # racer's write survived
    # and the log is genuinely folded: one live row, no tombstones
    assert fresh.table.read().count() == 1


def test_lazy_hydration_is_single_snapshot(spark, tmp_path):
    """All reads on one handle resolve at the handle's pinned snapshot
    version: a racer's later commit is invisible until load()/save()
    advances the pin — no mixed-version descriptor views."""
    from datastream_spark.exceptions import StreamNotFound
    from datastream_spark.registry import TableStreamRegistry

    root = str(tmp_path / "store")
    w = TableStreamRegistry(spark, root)
    d1 = w.ensure({"n": "one"}, None, ["count"], "seconds")

    reader = TableStreamRegistry(spark, root)  # pinned here
    d2 = w.ensure({"n": "two"}, None, ["count"], "seconds")  # after pin

    assert reader.get(d1.stream_id).tags == {"n": "one"}
    with pytest.raises(StreamNotFound):
        reader.get(d2.stream_id)  # not in the pinned snapshot
    assert {x.tags["n"] for x in reader.find()} == {"one"}
    reader.load()  # advance the pin
    assert {x.tags["n"] for x in reader.find()} == {"one", "two"}
