"""Tests for the ingest-edge readers (sources/readers.py) and the
maintenance jobs (sources/maintenance.py)."""

import datetime as dt
import os

import pytest

from datastream_spark.datastream import Datastream
from datastream_spark.granularity import Granularity
from datastream_spark.sources.readers import (
    read_datapoints_csv,
    read_datapoints_json,
)

T0 = dt.datetime(2024, 1, 1)


def test_csv_reader_conforms_schema(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "stream_id,ts,value\n"
        "s1,2024-01-01T00:00:00,1.5\n"
        "s2,2024-01-01T00:00:01,2.5\n"
        "s3,not-a-timestamp,3.5\n"  # malformed -> null ts, caller filters
    )
    df = read_datapoints_csv(spark, str(p))
    assert [f.simpleString() for f in df.schema.fields] == [
        "stream_id:string", "ts:timestamp", "value:double"
    ]
    rows = {r.stream_id: (r.ts, r.value) for r in df.collect()}
    assert rows["s1"] == (T0, 1.5)
    assert rows["s3"][0] is None


def test_json_reader_accepts_iso_and_epoch(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"stream_id": "a", "ts": "2024-01-01T00:00:05", "value": 1.0}\n'
        '{"stream_id": "b", "ts": "1704067205", "value": 2.0}\n'  # epoch s
    )
    df = read_datapoints_json(spark, str(p))
    got = {r.stream_id: r.ts for r in df.collect()}
    assert got["a"] == got["b"] == T0 + dt.timedelta(seconds=5)


def test_vacuum_purges_and_compacts(spark, tmp_path):
    ds = Datastream(spark, str(tmp_path / "store"))
    keep = ds.ensure_stream({"name": "keep"})
    drop = ds.ensure_stream({"name": "drop"})
    # many small appends on one day -> fragmented partition
    for i in range(10):
        ds.append_multiple(
            [
                {"stream_id": sid, "value": float(i),
                 "timestamp": T0 + dt.timedelta(seconds=10 * i + k)}
                for k, sid in enumerate([keep, drop])
            ]
        )
    ds.delete_streams({"name": "drop"})
    stats = ds.vacuum()
    assert stats["partitions_rewritten"] == 1
    # physical check: no row for the deleted stream remains on disk
    raw = spark.read.parquet(str(tmp_path / "store" / "datapoints"))
    assert raw.where(raw.stream_id == drop).count() == 0
    # surviving stream reads back intact
    assert len(ds.get_data(keep, Granularity.Seconds)) == 10
    part = os.path.join(str(tmp_path / "store" / "datapoints"), "p_date=2024-01-01")
    n_files = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
    assert n_files <= 2


def test_vacuum_drops_a_day_of_only_deleted_rows(spark, tmp_path):
    ds = Datastream(spark, str(tmp_path / "store"))
    keep = ds.ensure_stream({"name": "keep"})
    drop = ds.ensure_stream({"name": "drop"})
    ds.append_multiple(
        [
            {"stream_id": keep, "value": 1.0, "timestamp": T0},
            {"stream_id": drop, "value": 2.0, "timestamp": T0},
            {"stream_id": drop, "value": 3.0, "timestamp": T0 + dt.timedelta(days=1)},
        ]
    )
    ds.delete_streams({"name": "drop"})
    assert ds.vacuum() == {"partitions_rewritten": 2, "partitions_compacted": 0}
    table = str(tmp_path / "store" / "datapoints")
    assert sorted(d for d in os.listdir(table) if d.startswith("p_date=")) == [
        "p_date=2024-01-01"
    ]
    raw = ds.store.read("datapoints")
    assert [(r.stream_id, r.value) for r in raw.collect()] == [(keep, 1.0)]


def test_vacuum_reclaims_derived_and_rollup_rows(spark, tmp_path):
    """Vacuum also removes deleted streams' ``stream_id=`` partitions
    from ``datapoints_derived`` and every ``rollup_<g>`` table; the
    surviving stream's raw and rollup rows read back unchanged."""
    root = str(tmp_path / "store")
    ds = Datastream(spark, root)
    keep = ds.ensure_stream({"name": "keep"})
    drop = ds.ensure_stream({"name": "drop"})
    ds.ensure_stream({"name": "drop_d"}, derive_from=[drop], derive_op="derivative")
    ds.append_multiple(
        [
            {"stream_id": sid, "value": float(i * (k + 1)),
             "timestamp": T0 + dt.timedelta(minutes=10 * i)}
            for i in range(300)
            for k, sid in enumerate([keep, drop])
        ]
    )
    ds.downsample_streams(until=T0 + dt.timedelta(days=3))
    dead = [d["stream_id"] for n in ("drop", "drop_d") for d in ds.find_streams({"name": n})]

    def rows(level):
        return sorted(ds.get_data(keep, level).df.drop("p_date").collect())

    before = {g: rows(g) for g in ("seconds", "hours", "days")}
    tables = sorted(t for t in os.listdir(root) if t.startswith(("datapoints", "rollup_")))
    assert "datapoints_derived" in tables and "rollup_days" in tables
    mtime = {t: os.stat(os.path.join(root, t)).st_mtime_ns for t in tables}
    ds.delete_streams({"name": "drop_d"})
    ds.delete_streams({"name": "drop"})
    ds.vacuum()
    # other processes see the change: every rollup table's mtime moved,
    # though "keep" leaves each of its date directories in place
    assert all(
        os.stat(os.path.join(root, t)).st_mtime_ns != mtime[t]
        for t in tables if t.startswith("rollup_")
    )
    for t in tables:
        df = ds.store.read(t)  # None: no partition left
        assert df is None or df.where(df.stream_id.isin(dead)).count() == 0, t
    assert {g: rows(g) for g in before} == before
    assert len(before["seconds"]) == 300 and before["days"]


def test_vacuum_jobs_do_not_grow_with_history(spark, tmp_path):
    """Vacuum picks its rewrite set with one aggregate and rewrites it
    with one overwrite: a store of 16 days runs as many Spark jobs as
    one of 4 days when a single day holds deleted rows."""
    sc = spark.sparkContext

    def vacuum_jobs(days):
        ds = Datastream(spark, str(tmp_path / f"store{days}"))
        keep = ds.ensure_stream({"name": "keep"})
        drop = ds.ensure_stream({"name": "drop"})
        ds.append_multiple(
            [{"stream_id": drop, "value": 0.0, "timestamp": T0}]
            + [
                {"stream_id": keep, "value": float(d),
                 "timestamp": T0 + dt.timedelta(days=d)}
                for d in range(days)
            ]
        )
        ds.delete_streams({"name": "drop"})
        group = f"test-vacuum-jobs-{days}"
        sc.setJobGroup(group, group)
        try:
            assert ds.vacuum()["partitions_rewritten"] == 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert ds.store.read("datapoints").count() == days
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert vacuum_jobs(4) == vacuum_jobs(16)


def test_manifested_table_snapshot_commits(spark, tmp_path):
    """Manifest commits are atomic and snapshot-isolated: uncommitted
    files are invisible, appends/overwrites flip visibility in one
    version step, old snapshots stay readable until expired, and
    vacuum reclaims exactly the unreferenced files."""
    import os

    from datastream_spark.sources.manifest import CommitConflict, ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "mtab"))
    assert t.read() is None

    df1 = spark.range(10).withColumnRenamed("id", "v")
    v1 = t.append(df1)
    assert v1 == 0 and t.read().count() == 10

    # Crash simulation: data written, commit never happened -> invisible.
    orphans = t._write_files(spark.range(99).withColumnRenamed("id", "v"))
    assert t.read().count() == 10 and orphans

    v2 = t.append(spark.range(5).withColumnRenamed("id", "v"))
    assert t.read().count() == 15
    # time travel: version 0 still reads the original 10 rows
    assert t.read(version=v1).count() == 10

    v3 = t.overwrite(spark.range(3).withColumnRenamed("id", "v"))
    assert t.read().count() == 3 and v3 == v2 + 1

    # OCC: claiming an already-committed version raises, commits nothing.
    with pytest.raises(CommitConflict):
        t._commit(["bogus"], base_version=v2)
    assert t.current_version() == v3 and t.read().count() == 3

    # Default grace window: seconds-old files are inside a possibly
    # still-open commit window and must NOT be reclaimed.
    assert t.vacuum() == 0

    # Orphans survive vacuum only while a manifest references them.
    removed = t.vacuum(grace_seconds=0)  # crash orphans — snapshots pinned
    assert removed == len(orphans)
    t.expire(keep_last=1)
    t.vacuum(grace_seconds=0)
    assert t.read().count() == 3  # latest snapshot intact post-vacuum
    # every remaining data file is referenced by the surviving manifest
    live = set(t.current_files())
    on_disk = {
        os.path.join(d, f)
        for d, _, fs in os.walk(t.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == live
    # Fully-vacuumed snapshot directories are gone, not left holding
    # only _SUCCESS/.crc markers: every surviving subdir has live data.
    for sub in os.listdir(t.data_dir):
        names = os.listdir(os.path.join(t.data_dir, sub))
        assert any(n.endswith(".parquet") for n in names)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on stream_id with the same bucket count must
    join with NO shuffle exchange on either side — the co-located join
    the 100 TB layout relies on for stream-aligned operations."""
    from datastream_spark.sources.tables import TableStore

    store = TableStore(spark, str(tmp_path / "store"), n_stream_buckets=4)
    rows_a = [(f"s{i % 5}", float(i)) for i in range(100)]
    rows_b = [(f"s{i % 5}", float(i * 2)) for i in range(100)]
    a = spark.createDataFrame(rows_a, "stream_id string, va double")
    b = spark.createDataFrame(rows_b, "stream_id string, vb double")
    spark.sql("DROP TABLE IF EXISTS _bt_a")
    spark.sql("DROP TABLE IF EXISTS _bt_b")
    # pin a deterministic physical plan for the assertion: no runtime
    # re-planning, no broadcast (a BroadcastExchange would read as a
    # false "shuffle"); the property under test is the co-located
    # sort-merge/hash join bucketing enables
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        store.write_bucketed(a, "_bt_a", sort_col=None)
        store.write_bucketed(b, "_bt_b", sort_col=None)
        ta, tb = spark.table("_bt_a"), spark.table("_bt_b")

        def agg_join(left, right):
            return left.groupBy("stream_id").count().join(
                right.groupBy("stream_id").count().withColumnRenamed("count", "c2"),
                "stream_id",
            )

        joined = agg_join(ta, tb)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5
        # sanity: the same join over unbucketed frames DOES exchange
        uj = agg_join(
            spark.createDataFrame(rows_a, "stream_id string, va double"),
            spark.createDataFrame(rows_b, "stream_id string, vb double"),
        )
        assert "Exchange" in uj._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS _bt_a")
        spark.sql("DROP TABLE IF EXISTS _bt_b")


def test_manifested_table_concurrent_writers_occ(spark, tmp_path):
    """Two writers racing the same base version: exactly one commit per
    version number ever lands; losers surface CommitConflict and their
    retry (on the refreshed base) preserves both appends."""
    import threading

    from datastream_spark.sources.manifest import CommitConflict, ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "race"))
    t.append(spark.range(1).withColumnRenamed("id", "v"))  # v0

    # Pre-write both file sets, then race the pure commit step.
    files_a = t._write_files(spark.range(10, 13).withColumnRenamed("id", "v"))
    files_b = t._write_files(spark.range(20, 25).withColumnRenamed("id", "v"))
    base = t.current_version()
    results = {}

    def commit(name, files):
        try:
            results[name] = t._commit(t.current_files() + files, base)
        except CommitConflict:
            results[name] = "conflict"

    threads = [
        threading.Thread(target=commit, args=("a", files_a)),
        threading.Thread(target=commit, args=("b", files_b)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    outcomes = sorted(results.values(), key=str)
    assert "conflict" in outcomes or len(set(outcomes)) == 2
    # at most one claimed base+1; retry the loser on the fresh base
    for name, files in (("a", files_a), ("b", files_b)):
        if results[name] == "conflict":
            t._commit(t.current_files() + files, t.current_version())
    vals = {r.v for r in t.read().collect()}
    assert vals == {0, 10, 11, 12, 20, 21, 22, 23, 24}


def test_manifested_append_expected_base_is_authoritative(spark, tmp_path):
    """append(expected_base=...) commits at exactly expected_base+1 or
    conflicts — a racer landing in between turns into CommitConflict
    instead of the append silently landing at a higher version (which
    would let registry LWW rows carry a commit_v tag that lies)."""
    from datastream_spark.sources.manifest import CommitConflict, ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "mt_base"))
    df = spark.range(3).withColumnRenamed("id", "v")
    base = t.current_version()           # None (empty log)
    t.append(df, expected_base=base)     # lands at v0
    assert t.current_version() == 0

    # stale base: a racer (the v0 commit) already holds our slot
    with pytest.raises(CommitConflict):
        t.append(df, expected_base=base)
    assert t.current_version() == 0      # nothing committed

    v = t.append(df, expected_base=0)
    assert v == 1 and t.read().count() == 6


def test_orc_reader_roundtrip_and_avro_gate(spark, tmp_path):
    """ORC ingest conforms to the wire schema exactly like parquet/CSV;
    Avro either works (spark-avro present) or raises the documented
    NotImplementedError — never a bare ClassNotFound."""
    import datetime as dt

    from datastream_spark.sources.readers import (
        read_datapoints_avro,
        read_datapoints_orc,
    )

    p = str(tmp_path / "dp_orc")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1.5), ("b", dt.datetime(2024, 1, 2), 2.5)],
        "stream_id string, ts timestamp, value double",
    ).write.orc(p)
    got = {(r.stream_id, r.value) for r in read_datapoints_orc(spark, p).collect()}
    assert got == {("a", 1.5), ("b", 2.5)}

    try:
        read_datapoints_avro(spark, p)  # wrong format on purpose
    except NotImplementedError:
        pass  # documented gate in avro-less environments
    except Exception:
        pass  # avro present: fails on format mismatch instead — fine


# ---------------------------------------------------------------------------
# CDC / incremental view maintenance (sources/cdc.py)
# ---------------------------------------------------------------------------


def _mk_cdc_table(spark, root):
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(root))
    df = spark.range(0, 10).selectExpr("id", "id * 1.5 AS value")
    v0 = t.append(df.where("id < 4"))
    v1 = t.append(df.where("id >= 4 AND id < 7"))
    v2 = t.append(df.where("id >= 7"))
    return t, (v0, v1, v2)


def test_table_changes_per_commit_tagging(spark, tmp_path):
    from datastream_spark.sources import cdc

    t, (v0, v1, v2) = _mk_cdc_table(spark, tmp_path / "cdc")
    ch = cdc.table_changes(t, since=v0)
    rows = {(r.id, r._commit_version, r._change_type) for r in ch.collect()}
    assert rows == {(i, v1, "insert") for i in range(4, 7)} | {
        (i, v2, "insert") for i in range(7, 10)
    }
    # full history from before the first commit
    full = cdc.table_changes(t)
    assert full.count() == 10
    assert {r._commit_version for r in full.collect()} == {v0, v1, v2}
    # empty range
    assert cdc.table_changes(t, since=v2) is None
    # bounded range reads only the middle commit
    mid = cdc.table_changes(t, since=v0, until=v1)
    assert sorted(r.id for r in mid.collect()) == [4, 5, 6]


def test_table_changes_overwrite_emits_deletes(spark, tmp_path):
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "cdc_ow"))
    v0 = t.append(spark.range(0, 5).selectExpr("id", "id * 1.0 AS value"))
    t.overwrite(spark.range(100, 103).selectExpr("id", "id * 1.0 AS value"))
    ch = cdc.table_changes(t, since=v0)
    by_kind = {
        k: sorted(r.id for r in g)
        for k, g in __import__("itertools").groupby(
            sorted(ch.collect(), key=lambda r: r._change_type),
            key=lambda r: r._change_type,
        )
    }
    assert by_kind == {"delete": [0, 1, 2, 3, 4], "insert": [100, 101, 102]}


def test_table_changes_refuses_expired_base(spark, tmp_path):
    """After expire() drops the manifests at-or-before `since`, the
    change feed has no base to diff against — diffing against an empty
    set would re-emit the whole surviving snapshot as fresh inserts.
    The guard surfaces the retention violation instead."""
    import pytest as _pytest

    from datastream_spark.sources import cdc

    t, (v0, v1, v2) = _mk_cdc_table(spark, tmp_path / "cdc_exp")
    t.expire(keep_last=1)  # only v2's manifest survives
    with _pytest.raises(ValueError, match="expired"):
        cdc.table_changes(t, since=v0)
    # the surviving snapshot still serves a full (since=None) read
    assert cdc.table_changes(t).count() == 10


def test_table_changes_scans_only_delta_files(spark, tmp_path):
    """The scale contract: the (since, until] feed's plan reads exactly
    the files those commits added — the base snapshot's files never
    appear in the scan."""
    from datastream_spark.sources import cdc

    t, (v0, v1, v2) = _mk_cdc_table(spark, tmp_path / "cdc_files")
    base_files = set(cdc.files_at(t, v0))
    ch = cdc.table_changes(t, since=v0)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    for f in base_files:
        assert f.split("/")[-1] not in plan


def test_incremental_rollup_matches_recompute(spark, tmp_path):
    import pyspark.sql.functions as F

    from datastream_spark.granularity import Granularity
    from datastream_spark.operators.rollup import rollup_from_raw
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "ivm"))
    df = spark.range(0, 1000).selectExpr(
        "CAST(id % 7 AS STRING) AS stream_id",
        "timestamp_micros(CAST(1704067200000000 + id * 3000000 AS BIGINT)) AS ts",
        "CAST(id AS DOUBLE) * 0.25 AS value",
    )
    v0 = t.append(df.where("id < 600"))
    t.append(df.where("id >= 600"))

    rolled0 = cdc.incremental_rollup(
        t, None, since=None, granularity=Granularity.Minutes, until=v0
    )
    rolled = cdc.incremental_rollup(
        t, rolled0, since=v0, granularity=Granularity.Minutes
    )
    full = rollup_from_raw(t.read(), Granularity.Minutes)
    cols = ["stream_id", "bucket_epoch", "v_count", "v_sum", "v_min", "v_max"]
    a = {tuple(r) for r in rolled.select(*cols).collect()}
    b = {tuple(r) for r in full.select(*cols).collect()}
    assert a == b
    # no-op range returns the input frame unchanged
    assert cdc.incremental_rollup(
        t, rolled, since=t.current_version(), granularity=Granularity.Minutes
    ) is rolled


def test_incremental_rollup_refuses_deletes(spark, tmp_path):
    import pytest as _pytest

    from datastream_spark.granularity import Granularity
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "ivm_del"))
    df = spark.range(0, 10).selectExpr(
        "CAST(id AS STRING) AS stream_id",
        "timestamp_micros(1704067200000000 + id) AS ts",
        "CAST(id AS DOUBLE) AS value",
    )
    v0 = t.append(df)
    t.overwrite(df.where("id < 5"))
    with _pytest.raises(ValueError, match="append-only"):
        cdc.incremental_rollup(t, None, since=v0, granularity=Granularity.Minutes)


def test_profile_changes_and_diff(spark, tmp_path):
    """profile_changes profiles exactly the delta rows of an
    append-only range (O(delta) scan), refuses deletes, and
    profile_diff aligns two profiles losslessly (VERDICT r5 item 6)."""
    import pytest

    from datastream_spark.operators.profile import profile_columns, profile_diff
    from datastream_spark.sources import cdc

    t, (v0, v1, v2) = _mk_cdc_table(spark, tmp_path / "cdc_prof")
    got = cdc.profile_changes(t, since=v0)
    # parity: the delta profile equals profile_columns over the rows
    # appended after v0 (ids 4..9)
    df = spark.range(0, 10).selectExpr("id", "id * 1.5 AS value")
    want = profile_columns(df.where("id >= 4"))
    sym = got.exceptAll(want).unionAll(want.exceptAll(got))
    assert sym.count() == 0
    # empty range -> None
    assert cdc.profile_changes(t, since=v2) is None

    # diff report: full snapshot vs delta — new columns and widened
    # bounds surface per column, O(columns) output
    base_prof = profile_columns(df.where("id < 4"))
    d = {r.column: r for r in profile_diff(base_prof, got).collect()}
    assert d["id"].n_rows_ref == 4 and d["id"].n_rows_cur == 6
    assert d["id"].d_n_rows == 2
    assert d["id"].max_num_widened  # 9 > 3
    assert not d["id"].min_num_widened  # 4 > 0
    assert d["value"].max_num_cur == 13.5

    # one-sided column is lossless, not dropped
    wide_prof = profile_columns(
        df.selectExpr("id", "id * 1.5 AS value", "'x' AS tag")
    )
    d2 = {r.column: r for r in profile_diff(base_prof, wide_prof).collect()}
    assert d2["tag"].n_rows_ref is None and d2["tag"].n_rows_cur == 10
    assert d2["tag"].max_str_cur == "x"

    # deletes in range are refused loudly
    t.overwrite(spark.range(100, 103).selectExpr("id", "id * 1.0 AS value"))
    with pytest.raises(ValueError, match="append-only"):
        cdc.profile_changes(t, since=v0)


def test_profile_diff_plan_has_no_smj_or_cartesian(spark, tmp_path):
    """profile_diff's alignment is union+re-group BY DESIGN: a FULL
    OUTER join cannot broadcast and would plan SortMergeJoin for a
    columns-count-sized frame. Pin the plan."""
    from datastream_spark.operators.profile import profile_columns, profile_diff

    df = spark.range(0, 100).selectExpr("id", "id * 1.5 AS value")
    d = profile_diff(profile_columns(df), profile_columns(df.where("id < 50")))
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_kmv_matches_rebuild(spark, tmp_path):
    """CDC-maintained KMV sketch == a from-scratch rebuild over the
    full table, hash-for-hash (the min-k merge theorem is exact);
    no-op ranges return the input frame; delete ranges refuse."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from datastream_spark.operators.kmv import kmv_sketch
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "ikmv"))
    df = spark.range(0, 2000).selectExpr(
        "CAST(id % 3 AS STRING) AS grp",
        "CAST(id % 450 AS STRING) AS elem",
    )
    v0 = t.append(df.where("id < 1200"))
    t.append(df.where("id >= 1200"))

    el = F.col("elem")
    sk0 = cdc.incremental_kmv(
        t, None, since=None, group_cols=["grp"], element=el, k=64,
        portable=True, until=v0,
    )
    sk = cdc.incremental_kmv(
        t, sk0, since=v0, group_cols=["grp"], element=el, k=64,
        portable=True,
    )
    full = kmv_sketch(t.read(), ["grp"], el, k=64, portable=True)
    assert {(r.grp, r.h) for r in sk.collect()} == {
        (r.grp, r.h) for r in full.collect()
    }
    # no-op range: same frame back
    assert cdc.incremental_kmv(
        t, sk, since=t.current_version(), group_cols=["grp"], element=el,
        k=64, portable=True,
    ) is sk
    # delete-bearing range refuses
    t.overwrite(df.where("id < 100"))
    with _pytest.raises(ValueError):
        cdc.incremental_kmv(
            t, sk, since=v0, group_cols=["grp"], element=el, k=64,
            portable=True,
        )


def test_incremental_lsh_pairs_matches_rebuild(spark, tmp_path):
    """CDC-maintained LSH banding: base-corpus pairs + incremental
    new pairs == from-scratch minhash_candidate_pairs over the unioned
    corpus, (id_a, id_b, n_shared_bands)-exact — the delta-banding
    theorem (band keys are content-stable). Plus the refusal gates:
    no-op range, geometry/family mismatch, re-used doc ids, deletes."""
    import pytest as _pytest

    from datastream_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signature_arrays,
    )
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    # near-dup clusters spanning the commit split so cross (old x new)
    # pairs exist: same i%5 -> identical text, J=1, every band shared
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 5}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    v0 = dt.append(docs.where("doc_id < 25"))
    dt.append(docs.where("doc_id >= 25"))

    def pairset(df):
        return {(r.id_a, r.id_b, r.n_shared_bands) for r in df.collect()}

    p0 = cdc.incremental_lsh_pairs(
        dt, bt, since=None, until=v0, portable_hash=True, **geo
    )
    p1 = cdc.incremental_lsh_pairs(
        dt, bt, since=v0, portable_hash=True, **geo
    )
    sigs = minhash_signature_arrays(
        dt.read(), "doc_id", "text",
        num_hashes=8, shingle_k=3, portable_hash=True,
    )
    full = pairset(
        minhash_candidate_pairs(sigs, id_col="doc_id", rows_per_band=4)
    )
    inc0, inc1 = pairset(p0), pairset(p1)
    assert inc0 | inc1 == full
    # every incremental pair has >= 1 delta member; cross pairs exist
    assert all(b >= 25 for _, b, _ in inc1)
    assert any(a < 25 <= b for a, b, _ in inc1)
    assert inc0 and inc1

    # no-op range: None returned, nothing committed
    v_b = bt.current_version()
    assert cdc.incremental_lsh_pairs(
        dt, bt, since=dt.current_version(), portable_hash=True, **geo
    ) is None
    assert bt.current_version() == v_b

    # geometry mismatch refuses BEFORE committing anything
    dt.append(
        spark.createDataFrame(
            [(100, "a fresh doc about nothing shared")],
            "doc_id long, text string",
        )
    )
    with _pytest.raises(ValueError, match="geometry"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=v0, portable_hash=True,
            num_hashes=8, rows_per_band=2, shingle_k=3,
        )
    with _pytest.raises(ValueError, match="geometry"):
        cdc.incremental_lsh_pairs(dt, bt, since=v0, portable_hash=False, **geo)
    assert bt.current_version() == v_b

    # re-used doc ids refuse (delta contains ids already banded)
    v2 = dt.current_version()
    dt.append(docs.where("doc_id < 3"))
    with _pytest.raises(ValueError, match="unique"):
        cdc.incremental_lsh_pairs(dt, bt, since=v2, portable_hash=True, **geo)

    # delete-bearing range: net removals TOMBSTONE instead of refusing
    # (round-8); survivors of the rewrite verify band-exact and skip
    from pyspark.sql import functions as F

    from datastream_spark.operators.dedup import band_key_frame

    dt.overwrite(docs.where("doc_id < 10"))
    p_del = cdc.incremental_lsh_pairs(
        dt, bt, since=v2, portable_hash=True, **geo
    )
    assert p_del is not None and p_del.count() == 0
    stored = bt.read()
    dead = {
        r.doc_id
        for r in stored.where(F.col("band") == cdc.TOMBSTONE_BAND)
        .select("doc_id").distinct().collect()
    }
    # doc 100 was never successfully banded (its maintenance calls all
    # refused above), so it nets to deleted WITHOUT needing a marker —
    # markers exist to kill stored rows only
    assert dead == set(range(10, 40))
    # parity pin: live bands == from-scratch banding of the survivors
    live = stored.where("band >= 0").join(
        stored.where(F.col("band") == cdc.TOMBSTONE_BAND).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    want = band_key_frame(
        minhash_signature_arrays(
            dt.read(), "doc_id", "text",
            num_hashes=8, shingle_k=3, portable_hash=True,
        ),
        "doc_id",
        4,
    )
    assert {
        (r.doc_id, r.band, r.band_hash)
        for r in live.select("doc_id", "band", "band_hash").collect()
    } == {(r.doc_id, r.band, r.band_hash) for r in want.collect()}
    # new docs pair with survivors, never with the dead
    v5 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(200, rows[1][1]), (201, rows[12][1])],
            "doc_id long, text string",
        )
    )
    p2 = cdc.incremental_lsh_pairs(
        dt, bt, since=v5, portable_hash=True, **geo
    )
    got = {(r.id_a, r.id_b) for r in p2.collect()}
    assert (1, 200) in got and (6, 200) in got  # survivors of i%5 == 1
    assert (2, 201) in got  # 201 carries dead doc 12's text; 2 survives
    assert all(a not in dead and b not in dead for a, b in got)
    # dead ids stay reserved until compaction
    v6 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(12, "raz dva tri chetyre pyat shest")],
            "doc_id long, text string",
        )
    )
    with _pytest.raises(ValueError, match="unique"):
        cdc.incremental_lsh_pairs(dt, bt, since=v6, portable_hash=True, **geo)
    # compaction purges marker AND dead rows, freeing the ids
    assert cdc.compact_band_tombstones(bt) == len(dead)
    st2 = bt.read()
    assert st2.where(F.col("band") == cdc.TOMBSTONE_BAND).count() == 0
    assert (
        st2.join(
            spark.createDataFrame([(d,) for d in dead], "doc_id long"),
            "doc_id",
            "semi",
        ).count()
        == 0
    )
    assert cdc.compact_band_tombstones(bt) == 0  # idempotent
    p3 = cdc.incremental_lsh_pairs(
        dt, bt, since=v6, portable_hash=True, **geo
    )
    assert p3 is not None and p3.count() == 0  # id 12 insertable again
    assert bt.read().where("doc_id = 12 and band >= 0").count() > 0


def test_incremental_lsh_update_in_range_refuses(spark, tmp_path):
    """A net-present id whose rewritten content CHANGED is an in-range
    update — old pairs would need retraction, so the maintainer must
    refuse loudly and commit nothing."""
    import pytest as _pytest

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    rows = [(i, f"one two three four five six seven {i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    dt.append(docs)
    cdc.incremental_lsh_pairs(dt, bt, since=None, portable_hash=True, **geo)
    v1 = dt.current_version()
    vb = bt.current_version()
    # a pure rewrite (same content) nets to nothing and is a no-op
    dt.overwrite(docs)
    assert cdc.incremental_lsh_pairs(
        dt, bt, since=v1, portable_hash=True, **geo
    ) is None
    assert bt.current_version() == vb
    v2 = dt.current_version()
    changed = [(i, t if i != 3 else t + " CHANGED") for i, t in rows]
    dt.overwrite(spark.createDataFrame(changed, "doc_id long, text string"))
    with _pytest.raises(ValueError, match="UPDATE"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=v2, portable_hash=True, **geo
        )
    assert bt.current_version() == vb  # nothing committed


def test_incremental_lsh_pairs_edge_deltas(spark, tmp_path):
    """Two guard edges: a delta whose docs are all shorter than
    shingle_k yields zero band rows — the call must return an EMPTY
    pairs frame (correct schema), not crash on the empty commit; and
    duplicate ids WITHIN one delta refuse like stored-id re-use."""
    import pytest as _pytest

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    dt.append(
        spark.createDataFrame(
            [(1, "ab"), (2, "x"), (3, "")], "doc_id long, text string"
        )
    )
    out = cdc.incremental_lsh_pairs(dt, bt, since=None, portable_hash=True, **geo)
    assert out.columns == ["id_a", "id_b", "n_shared_bands"]
    assert out.count() == 0

    v1 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(10, "the same new doc text here"),
             (10, "the same new doc text here")],
            "doc_id long, text string",
        )
    )
    with _pytest.raises(ValueError, match="unique"):
        cdc.incremental_lsh_pairs(dt, bt, since=v1, portable_hash=True, **geo)


def test_incremental_ivf_assign_matches_rebuild(spark, tmp_path):
    """CDC-maintained IVF cell assignment == assign_ivf_cells over the
    full snapshot with the same frozen centroids — including through
    an OVERWRITE (assignment is per-row, hence subtractable: the one
    CDC maintainer that accepts deletes); no-op ranges return the
    input frame."""
    import math

    from pyspark.sql import functions as F

    from datastream_spark.operators.similarity import assign_ivf_cells
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    dim, n = 4, 60

    def vec(i: int) -> list[float]:
        # i+1: a zero vector has no direction (assign_ivf_cells' cosine
        # rejects zero norms under ANSI mode, correctly)
        return [math.sin((i + 1) * (d + 1) * 0.7) for d in range(dim)]

    rows = [(i, vec(i)) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(c, vec(1000 + 17 * c)) for c in range(4)],
        "cell_id int, _cv array<double>",
    )
    t = ManifestedTable(spark, str(tmp_path / "emb"))
    v0 = t.append(emb.where("vec_id % 4 != 0"))
    t.append(emb.where("vec_id % 4 = 0"))

    def cells(df):
        return {(r.vec_id, r.cell_id) for r in df.collect()}

    a0 = cdc.incremental_ivf_assign(t, None, since=None, until=v0, centroids=cents)
    a1 = cdc.incremental_ivf_assign(t, a0, since=v0, centroids=cents)
    want = cells(assign_ivf_cells(t.read(), centroids=cents))
    assert cells(a1) == want and len(want) == n

    # no-op range: same frame back
    assert cdc.incremental_ivf_assign(
        t, a1, since=t.current_version(), centroids=cents
    ) is a1

    # overwrite (delete + re-insert of a subset): maintained == rebuild
    v2 = t.current_version()
    t.overwrite(emb.where("vec_id < 30"))
    a2 = cdc.incremental_ivf_assign(t, a1, since=v2, centroids=cents)
    want2 = cells(assign_ivf_cells(t.read(), centroids=cents))
    assert cells(a2) == want2 and len(want2) == 30

    # bootstrap across the whole overwrite-bearing history (insert at
    # v<=2 superseded by delete at v3, re-insert at v3 survives)
    a3 = cdc.incremental_ivf_assign(t, None, since=None, centroids=cents)
    assert cells(a3) == want2


def test_incremental_simhash_pairs_matches_rebuild(spark, tmp_path):
    """CDC-maintained SimHash fingerprints: base pairs + incremental
    new pairs == from-scratch simhash_candidate_pairs over the unioned
    corpus, (id_a, id_b, hamming)-exact — fingerprints are
    content-stable pure functions of the text. Plus the refusal
    gates: no-op range, geometry mismatch, re-used ids, deletes."""
    import pytest as _pytest

    from datastream_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(bits=60, bands=4, max_hamming=3)
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 5}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    ft = ManifestedTable(spark, str(tmp_path / "fps"))
    v0 = dt.append(docs.where("doc_id < 25"))
    dt.append(docs.where("doc_id >= 25"))

    def pairset(df):
        return {(r.id_a, r.id_b, int(r.hamming)) for r in df.collect()}

    p0 = cdc.incremental_simhash_pairs(dt, ft, since=None, until=v0, **geo)
    p1 = cdc.incremental_simhash_pairs(dt, ft, since=v0, **geo)
    full = pairset(
        simhash_candidate_pairs(
            simhash(dt.read(), bits=60), bits=60, bands=4, max_hamming=3
        )
    )
    inc0, inc1 = pairset(p0), pairset(p1)
    assert inc0 | inc1 == full
    assert all(b >= 25 for _, b, _ in inc1)
    assert any(a < 25 <= b for a, b, _ in inc1)
    assert inc0 and inc1

    # no-op range: None returned, nothing committed
    v_f = ft.current_version()
    assert cdc.incremental_simhash_pairs(
        dt, ft, since=dt.current_version(), **geo
    ) is None
    assert ft.current_version() == v_f

    # geometry mismatch refuses BEFORE committing anything
    v2 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(100, "a fresh doc about nothing shared")],
            "doc_id long, text string",
        )
    )
    with _pytest.raises(ValueError, match="geometry"):
        cdc.incremental_simhash_pairs(
            dt, ft, since=v2, bits=60, bands=5, max_hamming=3
        )
    with _pytest.raises(ValueError, match="divide"):
        cdc.incremental_simhash_pairs(
            dt, ft, since=v2, bits=60, bands=7, max_hamming=3
        )
    assert ft.current_version() == v_f
    # max_hamming is query-time, NOT table geometry: a different value
    # must be accepted against the same stored table (fresh delta)
    wider = cdc.incremental_simhash_pairs(
        dt, ft, since=v2, bits=60, bands=4, max_hamming=10
    )
    assert wider is not None

    # re-used doc ids refuse (delta contains ids already fingerprinted)
    v3 = dt.current_version()
    dt.append(docs.where("doc_id < 3"))
    with _pytest.raises(ValueError, match="unique"):
        cdc.incremental_simhash_pairs(dt, ft, since=v3, **geo)

    # delete-bearing range: net removals tombstone (round-8); the full
    # tombstone/compaction protocol is exercised on the LSH twin —
    # here pin the SimHash-specific shape: markers land, pair emission
    # anti-joins them, compaction purges
    from pyspark.sql import functions as F

    dt.overwrite(docs.where("doc_id < 10"))
    p_del = cdc.incremental_simhash_pairs(dt, ft, since=v3, **geo)
    assert p_del is not None and p_del.count() == 0
    stored = ft.read()
    dead = {
        r.doc_id
        for r in stored.where(F.col("band") == cdc.TOMBSTONE_BAND)
        .select("doc_id").distinct().collect()
    }
    assert dead == set(range(10, 40)) | {100}
    # a new doc identical to a DEAD doc's text pairs only with the
    # surviving docs of that text class, never the dead ones
    v7 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(300, rows[12][1])], "doc_id long, text string"
        )
    )
    p_new = cdc.incremental_simhash_pairs(dt, ft, since=v7, **geo)
    got = {(r.id_a, r.id_b) for r in p_new.collect()}
    assert (2, 300) in got and (7, 300) in got  # i%5==2 survivors
    assert all(a not in dead and b not in dead for a, b in got)
    assert cdc.compact_band_tombstones(ft) == len(dead)
    st2 = ft.read()
    assert st2.where(F.col("band") == cdc.TOMBSTONE_BAND).count() == 0
    assert st2.where("doc_id >= 10 and doc_id != 300").count() == 0


def test_compact_tombstones_purges_accumulated_pairs_table(spark, tmp_path):
    """A streaming sink's ACCUMULATED pairs table still references dead
    docs after a takedown; compact_band_tombstones(pairs_table=...)
    purges those rows in the same call — and does it BEFORE dropping
    the markers, so the operation is re-runnable after a crash."""
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))
    bt.append(
        spark.createDataFrame(
            [(1, 0, "h1"), (2, 0, "h1"), (3, 0, "h2"),
             (2, cdc.TOMBSTONE_BAND, "")],
            "doc_id long, band int, band_hash string",
        )
    )
    pt.append(
        spark.createDataFrame(
            [(1, 2, 1), (1, 3, 1), (2, 3, 1)],
            "id_a long, id_b long, n_shared_bands long",
        )
    )
    assert cdc.compact_band_tombstones(bt, pairs_table=pt) == 1
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == {(1, 3)}
    assert bt.read().where("doc_id = 2").count() == 0
    # idempotent re-run (no markers left, pairs untouched)
    assert cdc.compact_band_tombstones(bt, pairs_table=pt) == 0
    assert pt.read().count() == 1


def test_compact_tombstones_is_file_granular_when_localized(spark, tmp_path):
    """Round 10: with <= max_inline_ids tombstoned ids the bands and
    pairs compaction rewrites run through delete_where — files not
    holding a dead id ride into the next manifest byte-identical
    (same paths) instead of the whole table rewriting; past the
    threshold the full-overwrite path still stands (and rewrites
    everything). End state identical either way."""
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    def build(root):
        bt = ManifestedTable(spark, str(tmp_path / root / "bands"))
        pt = ManifestedTable(spark, str(tmp_path / root / "pairs"))
        # three band files: ids 0-9, 10-19, 20-29 (id 5 tombstoned,
        # marker co-located with its file-range commit)
        for lo in (0, 10, 20):
            rows = [(i, 0, f"h{i%4}") for i in range(lo, lo + 10)]
            if lo == 0:
                rows.append((5, cdc.TOMBSTONE_BAND, ""))
            bt.append(
                spark.createDataFrame(
                    rows, "doc_id long, band int, band_hash string"
                ).coalesce(1)
            )
        for lo in (0, 20):
            pt.append(
                spark.createDataFrame(
                    [(lo, lo + 1, 1), (lo + 5, lo + 6, 1)],
                    "id_a long, id_b long, n_shared_bands long",
                ).coalesce(1)
            )
        return bt, pt

    bt, pt = build("loc")
    untouched_b = set(bt.current_files()) - set(
        bt.files_where([("doc_id", "<=", 9)])
    )
    untouched_p = set(pt.current_files()) - set(
        pt.files_where([("id_a", "<=", 9)])
    )
    assert cdc.compact_band_tombstones(bt, pairs_table=pt) == 1
    # untouched files survived by PATH (no rewrite), dead rows gone
    assert untouched_b <= set(bt.current_files())
    assert untouched_p <= set(pt.current_files())
    assert bt.read().where("doc_id = 5").count() == 0
    assert bt.read().where("band = -1").count() == 0
    assert pt.read().where("id_a = 5 or id_b = 5").count() == 0
    assert bt.read().count() == 29 and pt.read().count() == 3

    # same scenario through the overwrite path: identical end state,
    # but every file rewrites
    bt2, pt2 = build("ow")
    before = set(bt2.current_files())
    assert cdc.compact_band_tombstones(
        bt2, pairs_table=pt2, max_inline_ids=0
    ) == 1
    assert not (before & set(bt2.current_files()))
    assert {r.doc_id for r in bt2.read().collect()} == {
        r.doc_id for r in bt.read().collect()
    }
    assert {(r.id_a, r.id_b) for r in pt2.read().collect()} == {
        (r.id_a, r.id_b) for r in pt.read().collect()
    }


def test_compact_tombstones_rewrites_cluster_table(spark, tmp_path):
    """One-call protocol form: compact_band_tombstones(pairs_table=,
    clusters_table=) rewrites the maintained cluster assignment via
    delete_from_clusters BEFORE purging pairs/markers — dead nodes
    gone, splits applied, idempotent re-run, and clusters_table
    without pairs_table refuses (edges drive the re-cluster)."""
    import pytest as _pytest

    from datastream_spark.operators.dedup import connected_components
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))
    ct = ManifestedTable(spark, str(tmp_path / "clusters"))
    bt.append(
        spark.createDataFrame(
            [(1, 0, "h1"), (2, 0, "h1"), (3, 0, "h2"),
             (2, cdc.TOMBSTONE_BAND, "")],
            "doc_id long, band int, band_hash string",
        )
    )
    pairs = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 1), (2, 3, 1)],
        "id_a long, id_b long, n_shared_bands long",
    )
    pt.append(pairs)
    ct.append(connected_components(pairs))

    with _pytest.raises(ValueError, match="requires\\s+pairs_table"):
        cdc.compact_band_tombstones(bt, clusters_table=ct)

    assert cdc.compact_band_tombstones(
        bt, pairs_table=pt, clusters_table=ct
    ) == 1
    assert {(r.node, r.component) for r in ct.read().collect()} == {
        (1, 1), (3, 1)
    }
    assert {(r.id_a, r.id_b) for r in pt.read().collect()} == {(1, 3)}
    # idempotent re-run: no markers left, nothing rewritten
    v = ct.current_version()
    assert cdc.compact_band_tombstones(
        bt, pairs_table=pt, clusters_table=ct
    ) == 0
    assert ct.current_version() == v


def test_takedown_propagates_to_cluster_layer(spark, tmp_path):
    """Round-9 protocol extension: a takedown must reach the CLUSTER
    table, not just the band/pairs tables. Full flow — delete_where →
    tombstone maintenance → delete_from_clusters on the accumulated
    pairs table → compact_band_tombstones(pairs_table=...) → next
    ingest folds in via incremental_clusters — with the maintained
    (node, component) assignment pinned against a from-scratch
    connected_components rebuild on the surviving corpus at every
    step, including a takedown of a component's MIN-LABEL doc (forces
    relabeling) and of an ENTIRE component (vanishes)."""
    from pyspark.sql import functions as F

    from datastream_spark.operators.dedup import (
        connected_components,
        delete_from_clusters,
        incremental_clusters,
        minhash_candidate_pairs,
        minhash_signature_arrays,
    )
    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)

    def rebuild_clusters():
        sigs = minhash_signature_arrays(
            dt.read(), "doc_id", "text",
            num_hashes=8, shingle_k=3, portable_hash=True,
        )
        return connected_components(
            minhash_candidate_pairs(sigs, id_col="doc_id", rows_per_band=4)
        )

    def comp(df):
        return {(r.node, r.component) for r in df.collect()}

    # 3 duplicate classes (i % 3) with DISJOINT vocabularies ->
    # identical signatures within a class, no shared band across
    # classes -> exactly 3 clique components (a shared-prefix corpus
    # here LSH-pairs across classes and merges everything — the pair
    # graph is whatever banding says, not what the writer intends)
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six seven",
        "red green blue yellow purple orange",
    ]
    docs = spark.createDataFrame(
        [(i, texts[i % 3]) for i in range(18)],
        "doc_id long, text string",
    )
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    pt = ManifestedTable(spark, str(tmp_path / "pairs"))

    dt.append(docs)
    p0 = cdc.incremental_lsh_pairs(dt, bt, since=None, portable_hash=True, **geo)
    pt.append(p0)
    clusters = incremental_clusters(None, p0.select("id_a", "id_b"))
    assert comp(clusters) == comp(rebuild_clusters())

    # takedown: class 0's min-label doc (0) + one more member (3), and
    # ALL of class 1 (1,4,7,10,13,16) — that component must vanish
    doomed = [0, 3, 1, 4, 7, 10, 13, 16]
    v1 = dt.current_version()
    dt.delete_where(F.col("doc_id").isin(doomed))
    p1 = cdc.incremental_lsh_pairs(dt, bt, since=v1, portable_hash=True, **geo)
    assert p1.count() == 0  # pure removal: no new pairs

    # cluster leg, PRE-compaction pairs table (dead rows anti-joined)
    clusters = delete_from_clusters(clusters, pt.read(), doomed)
    want = comp(rebuild_clusters())
    got = comp(clusters)
    assert got == want
    dead_nodes = {n for n, _ in got} & set(doomed)
    assert not dead_nodes
    # class 0 relabeled to its new min (6); class 1 gone; class 2 stable
    assert {(n, c) for n, c in got if n % 3 == 0} == {
        (n, 6) for n in (6, 9, 12, 15)
    }
    assert {(n, c) for n, c in got if n % 3 == 2} == {
        (n, 2) for n in (2, 5, 8, 11, 14, 17)
    }

    # compaction purges the pairs table; the POST-compaction path
    # (anti-joins are no-ops) agrees with the same rebuild
    assert cdc.compact_band_tombstones(bt, pairs_table=pt) == len(doomed)
    assert comp(
        delete_from_clusters(clusters, pt.read(), doomed)
    ) == want

    # life goes on: next ingest pairs with survivors only and folds in
    v2 = dt.current_version()
    dt.append(
        spark.createDataFrame(
            [(100, texts[0])], "doc_id long, text string"
        )
    )
    p2 = cdc.incremental_lsh_pairs(dt, bt, since=v2, portable_hash=True, **geo)
    assert {r.id_b for r in p2.collect()} == {100}
    assert all(r.id_a not in set(doomed) for r in p2.collect())
    pt.append(p2)
    clusters = incremental_clusters(clusters, p2.select("id_a", "id_b"))
    assert comp(clusters) == comp(rebuild_clusters())


def test_delete_range_gates_run_on_the_raw_delta(spark, tmp_path):
    """Netting collapses NULL ids and cross-version duplicate inserts
    BEFORE the uniqueness gate sees them (round-8 review) — so a
    delete-bearing range must refuse those ingest bugs from the RAW
    delta, exactly like an append-only range does."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    docs = spark.createDataFrame(
        [(i, f"one two three four five {i}") for i in range(8)],
        "doc_id long, text string",
    )
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    dt.append(docs)
    cdc.incremental_lsh_pairs(dt, bt, since=None, portable_hash=True, **geo)

    # pure double-append inside a delete-bearing range: no delete
    # explains the extra copy -> refuse
    v1 = dt.current_version()
    dt.delete_where(F.col("doc_id") == 0)
    dt.append(
        spark.createDataFrame(
            [(100, "brand new doc alpha")], "doc_id long, text string"
        )
    )
    dt.append(
        spark.createDataFrame(
            [(100, "brand new doc alpha")], "doc_id long, text string"
        )
    )
    with _pytest.raises(ValueError, match="MULTIPLE live rows"):
        cdc.incremental_lsh_pairs(dt, bt, since=v1, portable_hash=True, **geo)

    # the subtler case (round-8 review): a rewrite-co-located survivor
    # PLUS a duplicate append of the same id/content in one range —
    # the table ends with TWO live rows of the id, which a rebuild
    # would band twice; must refuse, not silently band once
    dt3 = ManifestedTable(spark, str(tmp_path / "docs3"))
    bt3 = ManifestedTable(spark, str(tmp_path / "bands3"))
    dt3.append(docs.repartition(1))
    cdc.incremental_lsh_pairs(dt3, bt3, since=None, portable_hash=True, **geo)
    v3 = dt3.current_version()
    dt3.delete_where(F.col("doc_id") == 0)  # rewrites the single file
    dt3.append(docs.where("doc_id = 5"))  # duplicate of a survivor
    with _pytest.raises(ValueError, match="MULTIPLE live rows"):
        cdc.incremental_lsh_pairs(dt3, bt3, since=v3, portable_hash=True, **geo)

    # NULL-id insert inside a delete-bearing range: netting would drop
    # the row silently -> the raw gate refuses first
    dt2 = ManifestedTable(spark, str(tmp_path / "docs2"))
    bt2 = ManifestedTable(spark, str(tmp_path / "bands2"))
    dt2.append(docs)
    cdc.incremental_lsh_pairs(dt2, bt2, since=None, portable_hash=True, **geo)
    v2 = dt2.current_version()
    dt2.delete_where(F.col("doc_id") == 1)
    dt2.append(
        spark.createDataFrame(
            [(None, "ghost doc")], "doc_id long, text string"
        )
    )
    with _pytest.raises(ValueError, match="NULL"):
        cdc.incremental_lsh_pairs(
            dt2, bt2, since=v2, portable_hash=True, **geo
        )


def test_duplicate_gate_assumption_is_per_range_gating(spark, tmp_path):
    """Explicit contract test for the GATE ASSUMPTION documented on
    the duplicate-live-row gate (sources/cdc.py, round-8 advice /
    VERDICT r9 #7): the gate sees only the RANGE's rows, so a
    duplicate copy parked in an untouched file BEFORE ``since`` is
    invisible — if a later range deletes the other copy, the id nets
    to deleted while a live row remains. What keeps that state
    unreachable is PER-RANGE GATING, and this test pins both halves:

    1. the range that would park the duplicate REFUSES (stored-id
       re-use, the check_unique_ids gate) — so with every range
       gated, the corrupt precondition cannot arise;
    2. if a caller overrides that refusal (check_unique_ids=False,
       documented as "only if ingest already guarantees it"), the
       later delete-bearing range exhibits exactly the documented
       blind spot: the id is tombstoned while its duplicate copy
       stays live in the docs table. This is the CONTRACT — a
       final-snapshot cross-check costs an O(corpus) scan on an
       O(delta) path to catch a corpus a prior override already
       corrupted;
    3. (round 10) callers that can't guarantee per-range gating opt
       into exactly that scan with ``verify_snapshot=True``, which
       catches the corruption in BOTH directions — the parked
       duplicate at insert time (live multiplicity 2 for a
       net-inserted id) and the surviving copy at takedown time
       (live multiplicity 1 for a net-deleted id) — and raises
       before anything is committed."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(6)],
        "doc_id long, text string",
    )
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    dt.append(docs)
    cdc.incremental_lsh_pairs(dt, bt, since=None, portable_hash=True, **geo)

    # (1) the duplicate-parking range refuses when gated
    v1 = dt.current_version()
    # different content on purpose: identical-content copies would
    # BOTH match the takedown predicate below and die together,
    # sidestepping the blind spot this test exists to pin
    dup = spark.createDataFrame(
        [(3, "a second copy with different words")], "doc_id long, text string"
    )
    dt.append(dup)
    with _pytest.raises(ValueError, match="already stored|re-us|unique"):
        cdc.incremental_lsh_pairs(dt, bt, since=v1, portable_hash=True, **geo)

    # (2) override the gate -> the dup copy is now parked in its own
    # file; a later range deleting ONE copy nets the id to deleted
    # (both copies' files rewrite, but per-id netting sees delete+
    # insert+stored-dup as a net removal of the id's only visible
    # copy). Pin the documented outcome: doc 3 tombstoned in the band
    # table while a live row remains in the docs table.
    # (3a) verify_snapshot sees through the uniqueness override: the
    # parked duplicate means id 3's live multiplicity is 2 where the
    # net-insert wants 1 -> refuse before committing anything
    with _pytest.raises(ValueError, match="final snapshot"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=v1, portable_hash=True,
            check_unique_ids=False, verify_snapshot=True, **geo
        )
    assert bt.read().where("doc_id = 3 and band >= 0").count() > 0
    cdc.incremental_lsh_pairs(
        dt, bt, since=v1, portable_hash=True, check_unique_ids=False, **geo
    )
    v2 = dt.current_version()
    dt.delete_where(
        (F.col("doc_id") == 3) & F.col("text").endswith("3")
    )
    live_after = dt.read().where("doc_id = 3").count()
    assert live_after == 1  # the duplicate copy survived the takedown
    # (3b) ...and through the takedown's blind spot: id 3 nets to
    # deleted but one copy is still live -> refuse, nothing committed
    n_bands_before = bt.read().count()
    with _pytest.raises(ValueError, match="final snapshot"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=v2, portable_hash=True,
            verify_snapshot=True, **geo
        )
    assert bt.read().count() == n_bands_before
    # (2, continued) without the flag, the documented blind spot:
    cdc.incremental_lsh_pairs(dt, bt, since=v2, portable_hash=True, **geo)
    tombstoned = bt.read().where("doc_id = 3 and band = -1").count()
    assert tombstoned > 0  # documented blind spot: id reserved dead...
    assert live_after > 0  # ...while a copy is still live in docs
    # (3c) a CLEAN corpus passes under the flag, including a genuine
    # takedown range (simhash twin, for the shared-helper threading)
    dtc = ManifestedTable(spark, str(tmp_path / "docs_clean"))
    fp = ManifestedTable(spark, str(tmp_path / "fps"))
    dtc.append(docs.repartition(2))
    cdc.incremental_simhash_pairs(
        dtc, fp, since=None, bits=32, bands=4, verify_snapshot=True
    )
    vc = dtc.current_version()
    dtc.delete_where(F.col("doc_id") == 2)
    assert (
        cdc.incremental_simhash_pairs(
            dtc, fp, since=vc, bits=32, bands=4, verify_snapshot=True
        )
        is not None
        or fp.read().where("doc_id = 2 and band = -1").count() > 0
    )


def test_manifest_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """delete_where is file-granular: commits not containing a match
    ride into the next manifest verbatim, so the change feed shows a
    pure DELETE for the doomed rows, delete+insert only for rows
    co-located in a rewritten file, and nothing at all for untouched
    files — the takedown primitive the tombstone maintainers consume."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "t"))
    with _pytest.raises(ValueError, match="no snapshot"):
        t.delete_where(F.col("doc_id") == 1)
    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(10)], "doc_id long, text string"
    ).repartition(1)
    b = spark.createDataFrame(
        [(i, f"b{i}") for i in range(10, 20)], "doc_id long, text string"
    ).repartition(1)
    t.append(a)
    v1 = t.append(b)
    v2 = t.delete_where(F.col("doc_id") == 15)
    assert v2 == v1 + 1
    # read-back: the row is gone, everything else intact
    assert t.read().where("doc_id = 15").count() == 0
    assert t.read().count() == 19
    # feed of the delete commit: doomed id pure-delete, co-located
    # survivors delete+insert, the untouched file's ids absent
    feed = cdc.table_changes(t, since=v1)
    kinds = {
        (r["doc_id"], r["_change_type"])
        for r in feed.select("doc_id", "_change_type").collect()
    }
    assert (15, "delete") in kinds and (15, "insert") not in kinds
    for i in range(10, 20):
        if i != 15:
            assert (i, "delete") in kinds and (i, "insert") in kinds
    assert all(i not in {k for k, _ in kinds} for i in range(10))
    # no match -> same version, no commit
    assert t.delete_where(F.col("doc_id") == 999) == v2
    # NULL-predicate rows are not matches and must SURVIVE the rewrite
    t.append(
        spark.createDataFrame(
            [(30, None), (31, "kill-me")], "doc_id long, text string"
        ).repartition(1)
    )
    t.delete_where(F.col("text") == "kill-me")
    assert t.read().where("doc_id = 31").count() == 0
    assert t.read().where("doc_id = 30").count() == 1  # NULL text kept
    # dooming EVERY row of a file leaves a consistent table
    t.append(
        spark.createDataFrame(
            [(40, "all-doomed"), (41, "all-doomed")],
            "doc_id long, text string",
        ).repartition(1)
    )
    n_before = t.read().count()
    t.delete_where(F.col("text") == "all-doomed")
    assert t.read().count() == n_before - 2


def test_manifest_footer_stats_prune_reads_and_takedowns(spark, tmp_path):
    """Each commit records per-file column min/max from the parquet
    FOOTERS (no data pages read — the manifest-level half of predicate
    pushdown, same core as Delta data-skipping / Iceberg metrics):
    ``files_where``/``read(where=)`` open only the file neighborhood a
    range predicate can touch, ``delete_where(prune=)`` bounds the
    detection pass the same way, and every prune is strictly
    conservative — pre-stats manifests, unusable columns, and
    type-mismatched literals keep the file."""
    import json as _json
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources.manifest import ManifestedTable

    import datetime as _dt

    t = ManifestedTable(spark, str(tmp_path / "t"))
    long_text = "x" * 100  # > _STATS_MAX_STR -> column unusable
    epoch = _dt.datetime(2024, 1, 1)
    for lo in (0, 10, 20):
        t.append(
            spark.createDataFrame(
                [
                    (
                        i,
                        f"doc {i:02d}",
                        float(i),
                        long_text,
                        epoch + _dt.timedelta(hours=i),
                    )
                    for i in range(lo, lo + 10)
                ],
                "doc_id long, tag string, score double, body string,"
                " ts timestamp",
            ).coalesce(1)
        )
    files = t.current_files()
    assert len(files) == 3

    # range prune hits exactly the one file whose [min,max] intersects
    rng = [("doc_id", ">=", 12), ("doc_id", "<=", 15)]
    assert len(t.files_where(rng)) == 1
    assert sorted(
        r["doc_id"] for r in t.read(where=rng).collect()
    ) == [12, 13, 14, 15]
    # result is EXACT, not file-granular: residual predicate applies
    assert t.read(where=[("doc_id", "=", 7)]).count() == 1
    # string + float + != ops prune too; empty result is schema-stable
    assert len(t.files_where([("tag", "=", "doc 25")])) == 1
    assert len(t.files_where([("score", ">", 19.5)])) == 1
    e = t.read(where=[("doc_id", ">", 999)])
    assert e.count() == 0 and e.columns == [
        "doc_id", "tag", "score", "body", "ts",
    ]
    # timestamp pruning: naive datetime literals are UTC by doctrine,
    # tz-aware ones normalize to the same instant; a string literal
    # against the tagged temporal bounds never compares (keeps all)
    t12 = epoch + _dt.timedelta(hours=12)
    assert len(t.files_where([("ts", "=", t12)])) == 1
    assert sorted(
        r["doc_id"]
        for r in t.read(
            where=[("ts", ">=", t12), ("ts", "<", epoch + _dt.timedelta(hours=15))]
        ).collect()
    ) == [12, 13, 14]
    aware = t12.replace(tzinfo=_dt.timezone.utc)
    assert len(t.files_where([("ts", "=", aware)])) == 1
    assert len(t.files_where([("ts", "=", "2024-01-01 12:00:00")])) == 3
    # unusable long-string column and type-mismatched literal: keep all
    assert len(t.files_where([("body", "=", "x")])) == 3
    assert len(t.files_where([("tag", "=", 5)])) == 3
    # a typo'd op refuses instead of silently skipping the prune
    with _pytest.raises(ValueError, match="unsupported op"):
        t.files_where([("doc_id", "==", 5)])

    # pre-stats manifests (or foreign writers) are read conservatively
    v = t.current_version()
    mp = t._manifest_path(v)
    doc = _json.load(open(mp))
    doc.pop("stats")
    _os.unlink(mp)
    _json.dump(doc, open(mp, "w"))
    assert len(t.files_where(rng)) == 3
    assert t.read(where=rng).count() == 4  # still exact

    # pruned takedown: detection opens only the candidate file, the
    # prune-skipped files ride into the next manifest VERBATIM (same
    # paths), and their carried-forward stats keep pruning afterwards
    t2 = ManifestedTable(spark, str(tmp_path / "t2"))
    for lo in (0, 10, 20):
        t2.append(
            spark.createDataFrame(
                [(i, f"d{i}") for i in range(lo, lo + 10)],
                "doc_id long, text string",
            ).coalesce(1)
        )
    before = set(t2.current_files())
    untouched = set(t2.files_where([("doc_id", "<", 10)])) | set(
        t2.files_where([("doc_id", ">=", 20)])
    )
    t2.delete_where(
        F.col("doc_id") == 13, prune=[("doc_id", "=", 13)]
    )
    after = set(t2.current_files())
    assert untouched <= after  # skipped + unhit files byte-identical
    assert t2.read().count() == 29
    assert t2.read().where("doc_id = 13").count() == 0
    assert len(t2.files_where([("doc_id", ">=", 20)])) == 1
    # the documented implication contract: a prune the condition does
    # NOT imply silently keeps doomed rows in pruned files
    t2.delete_where(
        F.col("doc_id") == 25, prune=[("doc_id", "<", 10)]
    )
    assert t2.read().where("doc_id = 25").count() == 1


def test_manifest_optimize_clusters_and_is_cdc_invisible(spark, tmp_path):
    """``optimize`` rewrites the snapshot with a better layout as ONE
    atomic commit: sort_by/zorder range-cluster the files so the
    footer stats prune on keys the WRITE order never clustered, the
    commit records ``data_change: false``, and ``table_changes``
    skips it — an incremental maintainer sees a layout rewrite as
    nothing at all (Delta's dataChange=false semantics), not as
    whole-corpus delete+insert churn."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import (
        CommitConflict,
        ManifestedTable,
    )

    t = ManifestedTable(spark, str(tmp_path / "t"))
    # 4 commits, each spanning the WHOLE id range: write order gives
    # the id column no clustering at all
    for k in range(4):
        t.append(
            spark.createDataFrame(
                [(i, k, f"d{i}-{k}") for i in range(k, 400, 4)],
                "doc_id long, wave int, text string",
            ).coalesce(1)
        )
    rng = [("doc_id", ">=", 100), ("doc_id", "<", 120)]
    assert len(t.files_where(rng)) == 4  # unprunable: every file spans all ids
    before_rows = sorted(
        (r["doc_id"], r["wave"]) for r in t.read().collect()
    )
    v_pre = t.current_version()

    # sort_by re-clusters -> the same predicate now prunes
    v_opt = t.optimize(sort_by=["doc_id"], target_file_bytes=2_000)
    assert v_opt == v_pre + 1
    n_files = len(t.current_files())
    assert n_files > 1
    assert len(t.files_where(rng)) < n_files
    assert sorted(
        (r["doc_id"], r["wave"]) for r in t.read().collect()
    ) == before_rows  # rows byte-identical, only layout changed
    assert sorted(
        r["doc_id"] for r in t.read(where=rng).collect()
    ) == sorted(range(100, 120))

    # CDC: the optimize commit is invisible — a maintainer's range
    # over it nets to NOTHING (not whole-corpus churn)
    assert cdc.table_changes(t, since=v_pre) is None
    # ...and a range STRADDLING it carries exactly the real changes
    t.append(
        spark.createDataFrame([(1000, 9, "new")], "doc_id long, wave int, text string")
    )
    feed = cdc.table_changes(t, since=v_pre)
    assert [
        (r["doc_id"], r["_change_type"]) for r in feed.collect()
    ] == [(1000, "insert")]

    # zorder leg: both interleaved columns prune at once
    tz = ManifestedTable(spark, str(tmp_path / "tz"))
    for k in range(4):
        tz.append(
            spark.createDataFrame(
                [(i, (i * 7 + k) % 100, k) for i in range(k, 400, 4)],
                "x long, y long, wave int",
            ).coalesce(1)
        )
    tz.optimize(zorder=["x", "y"], bits=8, target_file_bytes=1_000)
    nz = len(tz.current_files())
    px = len(tz.files_where([("x", "<", 50)]))
    py = len(tz.files_where([("y", "<", 12)]))
    assert px < nz and py < nz  # every interleaved column prunes
    assert tz.read(where=[("x", "<", 50)]).count() == 50
    assert tz.read().count() == 400

    # wide-range + temporal zorder: raw values would CLAMP into one
    # Morton corner (z_value caps at 2^bits-1) — min/max scaling must
    # make both dimensions prune
    import datetime as _dt

    tw = ManifestedTable(spark, str(tmp_path / "tw"))
    epoch = _dt.datetime(2024, 1, 1)
    for k in range(4):
        tw.append(
            spark.createDataFrame(
                [
                    (
                        1_000_000_000 + i * 7919,
                        epoch + _dt.timedelta(minutes=(i * 13 + k) % 400),
                    )
                    for i in range(k, 400, 4)
                ],
                "big_id long, ts timestamp",
            ).coalesce(1)
        )
    tw.optimize(zorder=["big_id", "ts"], bits=8, target_file_bytes=1_000)
    nw = len(tw.current_files())
    pid = len(tw.files_where([("big_id", "<", 1_000_000_000 + 200 * 7919)]))
    pts = len(
        tw.files_where([("ts", "<", epoch + _dt.timedelta(minutes=100))])
    )
    assert pid < nw and pts < nw  # both scaled dimensions prune
    assert tw.read().count() == 400
    with _pytest.raises(ValueError, match="range semantics"):
        t.optimize(zorder=["wave", "text"])  # string column refuses

    # OCC conditioning + refusals
    with _pytest.raises(CommitConflict):
        t.optimize(expected_base=v_pre)
    with _pytest.raises(ValueError, match="not both"):
        t.optimize(zorder=["doc_id"], sort_by=["doc_id"])
    # pure bin-packing: no clustering asked, file count drops
    before = len(t.current_files())
    t.optimize(target_file_bytes=1 << 30)
    assert len(t.current_files()) == 1 < before
    assert t.read().count() == 401
    # Delta's skip rule: files already near target ride through by
    # PATH — a second pack with a tiny target treats the packed file
    # as large and is a no-op commit-wise (no O(N^2) re-packing of a
    # growing table's head)
    packed = set(t.current_files())
    v_now = t.current_version()
    assert t.optimize(target_file_bytes=64) == v_now  # all large: no-op
    assert set(t.current_files()) == packed
    t.append(
        spark.createDataFrame(
            [(2000, 1, "tail")], "doc_id long, wave int, text string"
        )
    )
    t.append(
        spark.createDataFrame(
            [(2001, 1, "tail2")], "doc_id long, wave int, text string"
        )
    )
    import os as _os

    head = next(iter(packed))
    # target sized so the packed head counts as large and the two
    # one-row tail files as small
    t.optimize(target_file_bytes=_os.path.getsize(head))
    assert packed <= set(t.current_files())  # head kept by PATH
    assert len(t.current_files()) == 2
    assert t.read().count() == 403


def test_change_cursor_at_least_once_loop(spark, tmp_path):
    """ChangeCursor is the maintenance-loop position primitive:
    poll() hands the unprocessed (since, until] range, ack(until)
    persists atomically, a crash between the two replays the same
    range (at-least-once — the maintainers' contracts make replays
    safe), a fresh cursor instance resumes from the stored position,
    acks never move backwards, and an up-to-date log polls None."""
    import pytest as _pytest

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    geo = dict(num_hashes=8, rows_per_band=4, shingle_k=3)
    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    cur = cdc.ChangeCursor(dt, str(tmp_path / "cursor.json"))
    assert cur.poll() is None  # empty log

    dt.append(
        spark.createDataFrame(
            [(i, f"alpha beta gamma {i}") for i in range(6)],
            "doc_id long, text string",
        )
    )
    rng = cur.poll()
    assert rng == (None, dt.current_version())
    cdc.incremental_lsh_pairs(
        dt, bt, since=rng[0], until=rng[1], portable_hash=True, **geo
    )
    # crash BEFORE ack: the same range replays on a fresh instance...
    cur2 = cdc.ChangeCursor(dt, str(tmp_path / "cursor.json"))
    assert cur2.poll() == rng
    # ...and the maintainer's own gate refuses the double-fold loudly
    with _pytest.raises(ValueError, match="re-us|unique"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=rng[0], until=rng[1], portable_hash=True, **geo
        )
    cur2.ack(rng[1])
    assert cur2.poll() is None  # caught up
    # a new ingest advances the window from the stored position
    dt.append(
        spark.createDataFrame(
            [(10, "delta epsilon zeta")], "doc_id long, text string"
        )
    )
    rng2 = cdc.ChangeCursor(dt, str(tmp_path / "cursor.json")).poll()
    assert rng2 == (rng[1], dt.current_version())
    pairs = cdc.incremental_lsh_pairs(
        dt, bt, since=rng2[0], until=rng2[1], portable_hash=True, **geo
    )
    assert pairs is not None
    cur2.ack(rng2[1])
    with _pytest.raises(ValueError, match="backwards"):
        cur2.ack(rng[1])


def test_manifest_schema_in_log(spark, tmp_path):
    """The manifest, not a sampled footer, is the schema authority
    (Delta's schema-in-log rule): a mismatched append REFUSES instead
    of silently NULLing/dropping columns on read, ``merge_schema=True``
    widens the log (new nullable columns; old files read NULL; missing
    columns tolerated), a changed TYPE never merges, nullability
    differences never spuriously refuse (computed frames mark literal
    columns non-null, parquet reads are all-nullable), and the change
    feed reads every commit with the until-version's schema — one
    stable shape across a widening."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datastream_spark.sources import cdc
    from datastream_spark.sources.manifest import ManifestedTable

    t = ManifestedTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, x string"))
    # nullability-only difference: same logical schema, no refusal
    t.append(
        spark.createDataFrame([(2,)], "id long").withColumn("x", F.lit("b"))
    )
    assert t.read().count() == 2
    with _pytest.raises(ValueError, match="merge_schema"):
        t.append(spark.createDataFrame([(3, 1.5)], "id long, y double"))
    t.append(
        spark.createDataFrame(
            [(3, "c", 1.5)], "id long, x string, y double"
        ),
        merge_schema=True,
    )
    r = t.read()
    assert r.columns == ["id", "x", "y"]
    assert {(row["id"], row["y"]) for row in r.collect()} == {
        (1, None), (2, None), (3, 1.5),
    }
    with _pytest.raises(ValueError, match="type changed"):
        t.append(
            spark.createDataFrame(
                [(4, "d", "oops")], "id long, x string, y string"
            ),
            merge_schema=True,
        )
    # a frame MISSING a logged column is fine under the flag (NULLs)
    t.append(
        spark.createDataFrame([(5, "e")], "id long, x string"),
        merge_schema=True,
    )
    # change feed: one stable (widened) schema over the whole history
    feed = cdc.table_changes(t, since=None)
    assert feed.columns == ["id", "x", "y", "_change_type", "_commit_version"]
    assert feed.count() == 4
    # delete + optimize preserve the logged schema
    t.delete_where(F.col("id") == 1)
    t.optimize()
    assert t.read().columns == ["id", "x", "y"]
    assert t.read().count() == 3
    # time travel: an OLD version still reads with the schema valid
    # THEN (v0 predates the widening -> no y column)
    assert t.read(version=0).columns == ["id", "x"]


def test_cdc_null_id_gate_is_unconditional(spark, tmp_path):
    """NULL ids vanish from the maintainers' equi-joins silently, so
    the refusal must NOT sit behind check_unique_ids (round-8 review:
    the round-7 fix was only reachable with the flag on) — the
    maintainer refuses a NULL-id delta even with the flag disabled."""
    import pytest as _pytest

    from datastream_spark.sources import cdc
    from datastream_spark.sources.cdc import _refuse_null_ids
    from datastream_spark.sources.manifest import ManifestedTable

    bad = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="NULL"):
        _refuse_null_ids(bad, "doc_id", "test_op")
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    _refuse_null_ids(ok, "doc_id", "test_op")

    dt = ManifestedTable(spark, str(tmp_path / "docs"))
    bt = ManifestedTable(spark, str(tmp_path / "bands"))
    dt.append(bad)
    with _pytest.raises(ValueError, match="NULL"):
        cdc.incremental_lsh_pairs(
            dt, bt, since=None, portable_hash=True,
            num_hashes=8, rows_per_band=4, shingle_k=3,
            check_unique_ids=False,
        )
