"""Tests for the store's read path (sources/tables.py): declared read
schemas and the one-handle-per-table-version contract."""

import datetime as dt
import os

from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity
from datastream_spark.sources import maintenance, tables
from datastream_spark.sources.tables import TableStore, table_schema

T0 = dt.datetime(2024, 1, 1)


def _points(sid, n, start=T0):
    return [
        {"stream_id": sid, "value": float(i), "timestamp": start + dt.timedelta(seconds=i)}
        for i in range(n)
    ]


def test_declared_schemas_match_inference(spark, tmp_path):
    """Each table's declared schema is what parquet inference returns
    for the files its writers produce, column order included."""
    root = str(tmp_path / "store")
    ds = Datastream(spark, root)
    a = ds.ensure_stream({"name": "a"})
    b = ds.ensure_stream({"name": "b"})
    ds.ensure_stream({"name": "s"}, derive_from=[a, b], derive_op="sum")
    ds.append_multiple(_points(a, 30) + _points(b, 30))
    ds.downsample_streams(until=T0 + dt.timedelta(minutes=1))

    # pre-aggregated appends only: rollup_minutes written by append_rollup
    pre_root = str(tmp_path / "preagg")
    pre = Datastream(spark, pre_root)
    p = pre.ensure_stream({"name": "p"}, highest_granularity=Granularity.Minutes)
    pre.append(p, {"count": 2, "sum": 3.0, "min": 1.0, "max": 2.0}, T0)
    pre.flush()

    for store, table in [
        (ds.store, "datapoints"),
        (ds.store, "datapoints_derived"),
        (ds.store, "rollup_10seconds"),  # cascade overwrite
        (pre.store, "rollup_minutes"),  # pre-aggregated append
    ]:
        inferred = spark.read.parquet(store.path(table)).schema
        assert table_schema(spark, table) == inferred, table
        assert store.read(table).schema == inferred, table


def test_read_reuses_handle_until_a_write(spark, tmp_path):
    root = str(tmp_path / "store")
    ds = Datastream(spark, root)
    sid = ds.ensure_stream({"name": "a"})
    ds.append_multiple(_points(sid, 5))
    h = ds.store.read("datapoints")
    assert ds.store.read("datapoints") is h
    # one handle per table, shared by every store on the root
    assert TableStore(spark, root).read("datapoints") is h
    ds.append_multiple(_points(sid, 5, start=T0 + dt.timedelta(seconds=5)))
    h2 = ds.store.read("datapoints")
    assert h2 is not h
    assert h2.count() == 10


def test_second_datastream_sees_writes_of_the_first(spark, tmp_path, monkeypatch):
    """``a`` caches its handles, ``b`` appends: ``a`` reads ``b``'s
    point. The version marker is pinned, so only the exact invalidation
    of in-process writes can make the point visible."""
    monkeypatch.setattr(tables, "_version", lambda path: (0, None))
    root = str(tmp_path / "store")
    a = Datastream(spark, root)
    sid = a.ensure_stream({"name": "shared"})
    a.append(sid, 1.0, T0)
    a.flush()
    assert [p["v"] for p in a.get_data(sid, Granularity.Seconds)] == [1.0]
    b = Datastream(spark, root)
    b.append(sid, 2.0, T0 + dt.timedelta(seconds=1))
    b.flush()
    assert [p["v"] for p in a.get_data(sid, Granularity.Seconds)] == [1.0, 2.0]


def test_version_marker_catches_writes_outside_the_store(spark, tmp_path):
    """A commit that bypasses every TableStore (another process) moves
    the table directory's mtime, so the next read re-plans."""
    root = str(tmp_path / "store")
    ds = Datastream(spark, root)
    sid = ds.ensure_stream({"name": "a"})
    ds.append_multiple(_points(sid, 3))
    h = ds.store.read("datapoints")
    assert h.count() == 3
    extra = ds.store.read("datapoints").limit(1)  # same schema, one more row
    extra.write.mode("append").partitionBy("p_date").parquet(ds.store.path("datapoints"))
    h2 = ds.store.read("datapoints")
    assert h2 is not h
    assert h2.count() == 4


def test_read_after_vacuum_sees_the_rewritten_partitions(spark, tmp_path, monkeypatch):
    """Vacuum rewrites partitions through the store, which drops the
    cached handles (the version marker is pinned here), so a read after
    vacuum neither hits a deleted file nor misses a rewritten one."""
    monkeypatch.setattr(tables, "_version", lambda path: (0, None))
    ds = Datastream(spark, str(tmp_path / "store"))
    keep = ds.ensure_stream({"name": "keep"})
    drop = ds.ensure_stream({"name": "drop"})
    for i in range(10):
        ds.append_multiple(
            [
                {"stream_id": sid, "value": float(i),
                 "timestamp": T0 + dt.timedelta(seconds=10 * i + k)}
                for k, sid in enumerate([keep, drop])
            ]
        )
    assert len(ds.get_data(keep, Granularity.Seconds)) == 10
    ds.delete_streams({"name": "drop"})
    assert ds.vacuum()["partitions_rewritten"] == 1
    raw = ds.store.read("datapoints")
    assert raw.where(raw.stream_id == drop).count() == 0
    assert [p["v"] for p in ds.get_data(keep, Granularity.Seconds)] == [
        float(i) for i in range(10)
    ]
    # more small appends to the same day pass the file threshold, and
    # compaction rewrites the day again, whatever vacuum's split count
    for i in range(10, 10 + maintenance.COMPACT_FILE_THRESHOLD + 1):
        ds.append(keep, float(i), T0 + dt.timedelta(seconds=10 * i))
        ds.flush()
    assert ds.vacuum() == {"partitions_rewritten": 0, "partitions_compacted": 1}
    part = os.path.join(ds.store.path("datapoints"), "p_date=2024-01-01")
    assert sum(f.endswith(".parquet") for f in os.listdir(part)) == 1
    assert [p["v"] for p in ds.get_data(keep, Granularity.Seconds)] == [
        float(i) for i in range(10 + maintenance.COMPACT_FILE_THRESHOLD + 1)
    ]
