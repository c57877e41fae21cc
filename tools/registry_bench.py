"""Registry scale micro-bench for ``TableStreamRegistry`` (SCALE.md §1, §9).

Default (``--dirty``, n = 1M descriptors), on the delta log:
- the seeding save of n descriptors (one log commit);
- a save with 10 dirty descriptors (O(dirty), not O(n));
- a reload (no hydration at load);
- a fresh handle's time to first append: point get + mutated save;
- full hydration through ``all()`` (Arrow-batched).

``--churn`` (n = 10M): K dirty-save cycles against the log, then save
cost, point-get latency, live-file count, bytes on disk and read
amplification before and after compaction (see ``bench_churn``).

Usage: python tools/registry_bench.py [--dirty | --churn] [n_streams]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datastream_spark.registry import (  # noqa: E402
    StreamDescriptor,
    TableStreamRegistry,
)
from datastream_spark.session import get_spark  # noqa: E402


def bench_table_registry_dirty_save(n: int = 1_000_000) -> None:
    """O(dirty) evidence: save() cost with 10 dirty descriptors out of
    n on the TableStreamRegistry delta log, plus reload, first-append
    and full-hydration cost."""
    spark = get_spark("registry-bench-dirty")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="regbench-table-")
    reg = TableStreamRegistry(spark, root)
    # seed n descriptors via ONE log commit (bypassing per-stream
    # ensure; this bench measures save, not create)
    for i in range(n):
        d = StreamDescriptor(
            stream_id=f"s{i}",
            tags={"node": f"n{i}"},
            value_downsamplers=["count"],
            highest_granularity="seconds",
        )
        reg._streams[d.stream_id] = d
    t = time.time()
    reg.save()
    seed_s = round(time.time() - t, 2)

    for i in range(10):
        reg._streams[f"s{i}"].latest_us = 42
    t = time.time()
    reg.save()
    dirty_s = round(time.time() - t, 2)

    t = time.time()
    reg.load()
    load_s = round(time.time() - t, 2)  # O(1): no hydration at load

    # the VERDICT-r4 gate: fresh handle -> point get -> mutated save,
    # i.e. the registry cost on the first append of a new driver
    fresh = TableStreamRegistry(spark, root)
    t = time.time()
    d = fresh.get(f"s{n // 2}")
    d.latest_us = 99
    fresh.save()
    ttfa_s = round(time.time() - t, 2)

    # full hydration (find/all path), Arrow-batched
    fresh2 = TableStreamRegistry(spark, root)
    t = time.time()
    n_all = len(list(fresh2.all()))
    hydrate_s = round(time.time() - t, 2)
    assert n_all == n

    print(json.dumps({
        "table_registry_seed_1m_sec": seed_s,
        "table_registry_dirty10_save_sec": dirty_s,
        "table_registry_reload_sec": load_s,
        "time_to_first_append_sec": ttfa_s,
        "hydrate_all_sec": hydrate_s,
        "n_streams": n,
    }))
    shutil.rmtree(root, ignore_errors=True)


def bench_churn(
    n: int = 10_000_000, cycles: int = 40, dirty_per_cycle: int = 3
) -> None:
    """Decade-3 churn benchmark (VERDICT r5 item 7): K dirty-save
    cycles against a 10M-stream TableStreamRegistry delta log, then
    reload — records how save cost, point-get latency, live-file
    count, and on-disk bytes evolve as the log deepens, whether the
    AUTO_COMPACT_FILES fold actually fires under churn, and the
    read amplification (resolved rows scanned / live rows) before vs
    after compaction.

    Seeding is DISTRIBUTED: one Spark append of n log rows in the
    registry's own log schema (a driver loop building 10M descriptor
    objects would itself be the bottleneck being measured); the churn
    handle then exercises the real lazy-hydration path: point get ->
    mutate -> O(dirty) save.
    """
    spark = get_spark("registry-churn")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="regchurn-")
    out: dict = {"n_streams": n, "cycles": cycles,
                 "dirty_per_cycle": dirty_per_cycle}

    reg = TableStreamRegistry(spark, root)
    tmpl = StreamDescriptor(
        stream_id="SIDSID",
        tags={"node": "NODENODE"},
        value_downsamplers=["count"],
        highest_granularity="seconds",
    ).to_json()
    pre, rest = tmpl.split("SIDSID")
    mid, post = rest.split("NODENODE")
    docs = spark.range(n).select(
        F.concat(F.lit("s"), F.col("id")).alias("stream_id"),
        F.concat(
            F.lit(pre), F.lit("s"), F.col("id"),
            F.lit(mid), F.lit("n"), F.col("id"), F.lit(post),
        ).alias("doc"),
        F.lit(False).alias("tombstone"),
        F.lit(1).cast("int").alias("commit_v"),
    )
    t = time.time()
    reg.table.append(docs)
    reg.load()
    out["seed_append_sec"] = round(time.time() - t, 2)
    out["seed_files"] = len(reg.table.current_files())

    def _point_get_sec(handle, sid):
        t0 = time.time()
        handle.get(sid)
        return round(time.time() - t0, 3)

    out["point_get_cold_sec"] = _point_get_sec(reg, f"s{n // 2}")

    save_secs, files_track, compactions = [], [], 0
    prev_files = out["seed_files"]
    for k in range(cycles):
        for j in range(dirty_per_cycle):
            sid = f"s{(k * dirty_per_cycle + j) * (n // (cycles * dirty_per_cycle + 1))}"
            d = reg.get(sid)
            d.latest_us = k * 1000 + j
        t0 = time.time()
        reg.save()
        save_secs.append(round(time.time() - t0, 2))
        nf = len(reg.table.current_files())
        if nf < prev_files:
            compactions += 1
        prev_files = nf
        files_track.append(nf)
    out["save_sec_first5"] = save_secs[:5]
    out["save_sec_last5"] = save_secs[-5:]
    out["save_sec_max"] = max(save_secs)
    out["files_track"] = files_track[::max(1, cycles // 10)]
    out["auto_compactions_fired"] = compactions
    out["point_get_deep_log_sec"] = _point_get_sec(reg, f"s{n // 3}")

    def _du(path):
        tot = 0
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                tot += os.path.getsize(os.path.join(dirpath, f))
        return tot

    out["log_bytes_after_churn"] = _du(root)
    # resolved-read amplification: rows the LWW window must scan vs
    # live rows (n) — equals 1.0 right after a compaction commit
    live_rows = reg.table.read().count()
    out["read_amplification"] = round(live_rows / n, 4)

    # fresh handle after churn: time-to-first-append survives the deep log
    fresh = TableStreamRegistry(spark, root)
    t0 = time.time()
    d = fresh.get(f"s{n // 4}")
    d.latest_us = 7
    fresh.save()
    out["ttfa_after_churn_sec"] = round(time.time() - t0, 2)

    # explicit fold + the post-compaction point read
    reg.load()
    t0 = time.time()
    reg.compact()
    out["explicit_compact_sec"] = round(time.time() - t0, 2)
    out["files_after_compact"] = len(reg.table.current_files())
    out["bytes_after_compact"] = _du(root)
    reg.load()
    out["point_get_post_compact_sec"] = _point_get_sec(reg, f"s{2 * n // 3}")
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    if "--churn" in sys.argv:
        bench_churn(
            int(sys.argv[-1]) if sys.argv[-1].isdigit() else 10_000_000
        )
    else:
        bench_table_registry_dirty_save(
            int(sys.argv[-1]) if sys.argv[-1].isdigit() else 1_000_000
        )
