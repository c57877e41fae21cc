"""``ingest_dashboard``: collectors append and cascade while a dashboard
reads the same store.

Set-up builds the registry and a fully downsampled history day (that
cold ingest and cascade warm the write path), then runs one dashboard
refresh so the measured reads run warm. The measured phase is
a closed loop (one client) of whole rounds; each round is a fixed,
seeded mix:

- one 6-hour ``append_dataframe`` batch for every batch-fed stream
  (which also propagates the derived streams), then
  ``downsample_streams(until=batch end)``;
- one dashboard refresh: ``get_data`` at raw level over 30-minute
  windows, ``get_data`` at a rollup level over a day, ``scan`` of a
  host group, ``aggregate_range`` of a host group over 12 hours, and
  ``find_streams``;
- one live ``append_multiple`` of fresh points for an edge host group,
  each point then read back by the next ``get_data`` that covers it.

Every read is checked against a NumPy recomputation from the generator.
"""

from __future__ import annotations

import calendar
import os
import time

import numpy as np

from . import gen
from .common import OpLog, close, slot_medians

READ_KINDS = ("get_data_raw", "get_data_rollup", "scan", "aggregate_range")
#: operations a dashboard refresh is timed over (live read-backs included)
REFRESH_KINDS = (*READ_KINDS, "find_streams")
WRITE_KINDS = ("ingest", "downsample", "live_append")
#: read shapes are fixed so that seeds move only which stream, host and offset is read
ROLLUP_WIDTH = {"10minutes": 600, "hours": 3600}
AGGREGATE_SPAN = 12 * 3600
LIVE_POINTS = 20
#: every stream's finest stored level (batch points are one minute apart),
#: so a cascade runs minutes -> 10minutes -> hours -> 6hours -> days
GRANULARITY = "minutes"
STEP = 60


def _epoch(ts) -> int:
    return calendar.timegm(ts.timetuple())


class SeriesWorkload:
    name = "ingest_dashboard"

    def __init__(self, spark, tracer, workdir: str, seed: int, spec: gen.SeriesSpec | None = None):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.spec = spec or gen.SeriesSpec()
        self.workdir = workdir
        self.rng = np.random.default_rng([seed, 3])
        self.streams = gen.series_streams(self.spec)
        self.batch_streams = [s for s in self.streams if not s.live]
        self.live_streams = [s for s in self.streams if s.live]
        self.oracle = gen.SeriesOracle()
        self.log = OpLog()
        self.ids: dict[int, str] = {}
        self.points_appended = 0
        self.points_pending = 0  # appended since the last downsample
        self.cur_end = gen.epoch(gen.EPOCH0)
        self.live_clock = self.cur_end
        self.days_done = 0
        self.rounds: list[list] = []  # the operation records of each measured round

    # -- set-up ----------------------------------------------------------

    def _registry(self, root: str):
        from datastream_spark.datastream import Datastream

        ds = Datastream(self.spark, root)
        ids = {s.index: ds.ensure_stream(s.tags, highest_granularity=GRANULARITY)
               for s in self.streams}
        host0 = [ids[s.index] for s in self.batch_streams if s.host == self.batch_streams[0].host]
        ds.ensure_stream({"derived": "host_sum"}, derive_from=host0, derive_op="sum",
                         highest_granularity="minutes")
        ds.ensure_stream({"derived": "rate"}, derive_from=[ids[self.batch_streams[1].index]],
                         derive_op="derivative", highest_granularity=GRANULARITY)
        return ds, ids

    def setup(self, repeats: int) -> dict:
        """Registry set-up ``repeats`` times in fresh roots (median
        reported), then the warm-up: the history days ingested and
        downsampled, and one dashboard refresh so the measured reads run warm."""
        reg_s = []
        for k in range(repeats):
            t0 = time.perf_counter()
            self.ds, self.ids = self._registry(os.path.join(self.workdir, f"store{k}"))
            reg_s.append(time.perf_counter() - t0)
        self.root = os.path.join(self.workdir, f"store{repeats - 1}")
        t0 = time.perf_counter()
        for _ in range(self.spec.history_days):
            self._ingest(4)
            self._downsample()
        self._refresh()
        return {"load_s": float(np.median(reg_s)), "warmup_s": time.perf_counter() - t0}

    # -- writes ------------------------------------------------------------

    def _batch_frame(self, n_batches: int):
        import pandas as pd

        ts_parts, val_parts, sid_parts = [], [], []
        for s in self.batch_streams:
            ts, vals = gen.batch_points(self.seed, self.spec, s, self.cur_end, n_batches)
            self.oracle.add(self.ids[s.index], ts, vals)
            ts_parts.append(ts)
            val_parts.append(vals)
            sid_parts.append(np.full(len(ts), self.ids[s.index], dtype=object))
        pdf = pd.DataFrame({
            "stream_id": np.concatenate(sid_parts),
            "ts": pd.to_datetime(np.concatenate(ts_parts), unit="s"),
            "value": np.concatenate(val_parts),
        })
        return self.spark.createDataFrame(pdf, "stream_id string, ts timestamp, value double")

    def _ingest(self, n_batches: int = 1) -> None:
        df = self._batch_frame(n_batches)
        n = self.spec.points_per_batch * n_batches * len(self.batch_streams)

        def op():
            self.ds.append_dataframe(df)
            return True, n

        self.log.run(self.tracer, self.spark, "ingest", op)
        self.points_appended += n
        self.points_pending += n
        self.cur_end += gen.BATCH_S * n_batches
        self.live_clock = max(self.live_clock, self.cur_end)

    def _downsample(self) -> None:
        until, n = self.cur_end, self.points_pending

        def op():
            self.ds.downsample_streams(until=gen.to_dt(until))
            return True, n

        self.log.run(self.tracer, self.spark, "downsample", op)
        self.points_pending = 0
        self.days_done = (until - gen.epoch(gen.EPOCH0)) // gen.DAY_S

    def _live_append(self, host: str) -> None:
        group = [s for s in self.live_streams if s.host == host]
        start = self.live_clock
        fresh = {}
        for s in group:
            fresh[s.index] = gen.live_points(self.seed, s, start, LIVE_POINTS)
            self.oracle.add(self.ids[s.index], *fresh[s.index])
        # the next live append starts in a fresh bucket of the stream's level
        self.live_clock = start + STEP
        points = [
            {"stream_id": self.ids[i], "timestamp": gen.to_dt(t), "value": float(v)}
            for i, (ts, vs) in fresh.items() for t, v in zip(ts, vs)
        ]

        def op():
            self.ds.append_multiple(points)
            return True, len(points)

        self.log.run(self.tracer, self.spark, "live_append", op)
        self.points_appended += len(points)
        self.points_pending += len(points)
        # every fresh point must be visible to the next get_data covering it
        for s in group:
            self._get_raw(self.ids[s.index], start, start + STEP)

    # -- reads -------------------------------------------------------------

    def _get_raw(self, sid: str, lo: int, hi: int) -> None:
        """get_data at the stream's own level over the STEP-aligned
        window [lo, hi): bounds round down to STEP, the end inclusively."""
        exp_ts, exp_v = self.oracle.window(sid, lo, hi)

        def op():
            t0 = time.perf_counter()
            dp = self.ds.get_data(sid, GRANULARITY, start=gen.to_dt(lo), end=gen.to_dt(hi - 1))
            plan = time.perf_counter() - t0
            rows = dp.df.collect()
            got_ts = [_epoch(r["ts"]) for r in rows]
            ok = got_ts == exp_ts.tolist() and [r["value"] for r in rows] == exp_v.tolist()
            return ok, len(rows), plan

        self.log.run(self.tracer, self.spark, "get_data_raw", op)

    def _check_buckets(self, rows, sid_of_row, expected: dict) -> bool:
        got = {}
        for r in rows:
            got[(sid_of_row(r), int(r["bucket_epoch"]))] = r
        if set(got) != set(expected):
            return False
        for key, e in expected.items():
            r = got[key]
            if not (r["v_count"] == e["count"] and close(r["v_sum"], e["sum"])
                    and r["v_min"] == e["min"] and r["v_max"] == e["max"]):
                return False
        return True

    def _full_day(self) -> int:
        return gen.epoch(gen.EPOCH0) + gen.DAY_S * int(self.rng.integers(self.days_done))

    def _get_rollup(self, level: str) -> None:
        """get_data at a rollup level over one fully downsampled day."""
        width = ROLLUP_WIDTH[level]
        lo = self._full_day()
        hi = lo + gen.DAY_S
        s = self.batch_streams[int(self.rng.integers(len(self.batch_streams)))]
        sid = self.ids[s.index]
        expected = {(sid, b): v for b, v in self.oracle.buckets(sid, lo, hi, width).items()}

        def op():
            t0 = time.perf_counter()
            dp = self.ds.get_data(sid, level, start=gen.to_dt(lo), end_exclusive=gen.to_dt(hi),
                                  value_downsamplers=["count", "sum", "min", "max"])
            plan = time.perf_counter() - t0
            rows = dp.df.collect()
            return self._check_buckets(rows, lambda r: sid, expected), len(rows), plan

        self.log.run(self.tracer, self.spark, "get_data_rollup", op)

    def _host(self) -> str:
        return self.batch_streams[int(self.rng.integers(len(self.batch_streams)))].host

    def _scan(self) -> None:
        host = self._host()
        lo = self._full_day()
        hi = lo + gen.DAY_S
        expected = {}
        for s in self.batch_streams:
            if s.host == host:
                sid = self.ids[s.index]
                expected.update({(sid, b): v for b, v in self.oracle.buckets(sid, lo, hi, 600).items()})

        def op():
            t0 = time.perf_counter()
            df = self.ds.scan({"host": host}, "10minutes", start=gen.to_dt(lo),
                              end_exclusive=gen.to_dt(hi))
            plan = time.perf_counter() - t0
            rows = df.collect()
            return self._check_buckets(rows, lambda r: r["stream_id"], expected), len(rows), plan

        self.log.run(self.tracer, self.spark, "scan", op)

    def _aggregate_range(self) -> None:
        host = self._host()
        length = AGGREGATE_SPAN
        first = gen.epoch(gen.EPOCH0)
        lo = first + int(self.rng.integers(0, self.cur_end - length - first + 1))
        hi = lo + length
        expected = {}
        for s in self.batch_streams:
            if s.host == host:
                e = self.oracle.aggregate(self.ids[s.index], lo, hi)
                if e is not None:
                    expected[self.ids[s.index]] = e

        def op():
            t0 = time.perf_counter()
            df = self.ds.aggregate_range({"host": host}, start=gen.to_dt(lo), end=gen.to_dt(hi))
            plan = time.perf_counter() - t0
            rows = df.collect()
            got = {r["stream_id"]: r for r in rows}
            ok = set(got) == set(expected) and all(
                got[k]["v_count"] == e["count"] and close(got[k]["v_sum"], e["sum"])
                and got[k]["v_min"] == e["min"] and got[k]["v_max"] == e["max"]
                for k, e in expected.items()
            )
            return ok, len(rows), plan

        self.log.run(self.tracer, self.spark, "aggregate_range", op)

    def _find(self) -> None:
        host = self._host()

        def op():
            found = self.ds.find_streams({"host": host})
            return len(found) == self.spec.metrics_per_host, len(found)

        self.log.run(self.tracer, self.spark, "find_streams", op)

    def _raw_window(self) -> None:
        s = self.batch_streams[int(self.rng.integers(len(self.batch_streams)))]
        first = gen.epoch(gen.EPOCH0)
        lo = first + STEP * int(self.rng.integers(0, (self.cur_end - 1800 - first) // STEP))
        self._get_raw(self.ids[s.index], lo, lo + 1800)

    # -- measured phase ----------------------------------------------------

    def iteration(self) -> None:
        n0 = len(self.log.records)
        self._ingest()
        self._downsample()
        self._refresh()
        self.rounds.append(self.log.records[n0:])

    def _refresh(self) -> None:
        """One dashboard refresh, then a live append read back."""
        self._raw_window()
        self._get_rollup("10minutes")
        self._scan()
        self._aggregate_range()
        self._find()
        self._raw_window()
        self._get_rollup("hours")
        self._scan()
        self._raw_window()
        live_host = self.live_streams[int(self.rng.integers(len(self.live_streams)))].host
        self._live_append(live_host)

    def summary(self, measured: OpLog) -> dict:
        """Workload figures for the report, from the measured phase only."""
        from .tracing import percentiles, store_stats

        def secs(*kinds):
            return [r.seconds for r in measured.of(*kinds)]

        ingest, down = measured.of("ingest"), measured.of("downsample")
        stats = store_stats(self.root)
        raw_points = self.points_appended
        writes = [[r.seconds for r in rnd if r.kind in WRITE_KINDS] for rnd in self.rounds]
        refresh = [[r.seconds for r in rnd if r.kind in REFRESH_KINDS] for rnd in self.rounds]
        # points appended per second of write work (appends and the cascade),
        # so that the read path moves latency_ms and not this
        written = np.median([sum(r.rows for r in rnd if r.kind in ("ingest", "live_append"))
                             for rnd in self.rounds])
        return {
            "throughput_per_s": written / sum(slot_medians(writes)),
            "latency_ms": 1e3 * sum(slot_medians(refresh)),
            "rounds_ms": [1e3 * sum(x) for x in refresh],
            "detail": {
                "ingest_points_per_s": sum(r.rows for r in ingest) / max(sum(r.seconds for r in ingest), 1e-9),
                "downsample_points_per_s": sum(r.rows for r in down) / max(sum(r.seconds for r in down), 1e-9),
                "store_bytes_per_point": sum(t["bytes"] for t in stats.values()) / max(raw_points, 1),
                "read_ms": percentiles([1e3 * x for x in secs(*READ_KINDS)]),
                "get_data_ms": percentiles([1e3 * x for x in secs("get_data_raw", "get_data_rollup")]),
                "scan_ms": percentiles([1e3 * x for x in secs("scan")]),
                "aggregate_range_ms": percentiles([1e3 * x for x in secs("aggregate_range")]),
                "queries_per_s": len(measured.of(*READ_KINDS, "find_streams")) / max(
                    sum(secs(*READ_KINDS, "find_streams")), 1e-9),
                "live_append_ms": percentiles([1e3 * x for x in secs("live_append")]),
            },
            "store": stats,
        }
