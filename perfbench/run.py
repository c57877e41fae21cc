#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_dashboard --seed 1 --seconds 5 --trace 0

Run from the repository root. The program under test is the
``datastream_spark`` package next to this directory; nothing is built.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (tracing off); with ``--trace 1`` they
are the per-layer ones, and the spans are written to
``.perfbench_out/<workload>-<seed>-spans.jsonl``. The line before it,
starting with ``report``, carries the per-operation detail of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import this directory as the ``perfbench`` package, never as top-level modules
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

#: set-up repetitions whose median is reported (the cold warm-up runs once)
SETUP_REPEATS = 3
#: Spark task slots: half the cores, so tasks, the JVM's JIT compiler and
#: GC threads and this driver do not queue for the same cores
SPARK_CORES = max(1, len(os.sched_getaffinity(0)) // 2)
#: tables the store walk reports (streams are stored at minutes, so the ladder starts at 10minutes)
TABLES = (
    "datapoints", "datapoints_derived",
    "rollup_10minutes", "rollup_hours", "rollup_6hours", "rollup_days",
)
#: benchmark operation -> Spark counter group
SPARK_OPS = {
    "ingest": "ingest", "downsample": "downsample", "live_append": "live_append",
    "get_data_raw": "get_data_raw", "get_data_rollup": "get_data_rollup", "scan": "scan",
    "aggregate_range": "aggregate_range",
    "quality": "dedup_text", "exact": "dedup_text", "signatures": "dedup_text",
    "lsh_pairs": "dedup_text", "components": "dedup_text", "kept": "dedup_text",
    "near_dup": "dedup_embed", "semdedup": "dedup_embed",
}
READ_OPS = ("get_data_raw", "get_data_rollup", "scan", "aggregate_range")
DEDUP_STAGES = {
    "textops.filter_s": ("quality",), "dedup.exact_s": ("exact",),
    "dedup.signatures_s": ("signatures",), "dedup.lsh_pairs_s": ("lsh_pairs",),
    "dedup.components_s": ("components", "kept"), "similarity.near_dup_s": ("near_dup",),
    "similarity.semdedup_s": ("semdedup",),
}


def _workload(name: str):
    from perfbench.corpus import CorpusWorkload
    from perfbench.series import SeriesWorkload

    return {"ingest_dashboard": SeriesWorkload, "corpus_dedup": CorpusWorkload}[name]


def _median(xs):
    import statistics

    return statistics.median(xs) if xs else 0.0


def _start_session(workdir: str, trace: bool):
    from datastream_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # get_spark forces a full driver GC every minute for long sessions; a
        # run lives one to two minutes, so that GC would land in the measured
        # round only in runs the machine had already slowed. Spark's default
        # interval (30 min) keeps it out of every run.
        "spark.cleaner.periodicGC.interval": "30min",
        # keep the JVM's temp files in the work directory; -XX:-UsePerfData
        # stops it writing /tmp/hsperfdata_<user>, which ignores java.io.tmpdir.
        # TieredStopAtLevel=1 compiles with C1 only: a run lives one to two
        # minutes, and with C2 still compiling through the measured phase an
        # operation's time depended on how far compilation had got (on a
        # 4-vCPU VM the first pass after the corpus warm-up took 7.1-11.2 s
        # over five seeds, and 6.9-7.7 s with C1 only, which was also faster
        # on every workload)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(workdir, "events")
        conf["spark.eventLog.compress"] = "false"
    return session.get_spark("perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            return not any(line.startswith("State:") and "Z" in line.split()[1] for line in f)
    except FileNotFoundError:
        return False


def _spark_metrics(counters: dict, log) -> dict:
    """Per measured operation kind: mean Spark counters per call and
    input records examined per row the operation returned or wrote."""
    from perfbench.tracing import SPARK_COUNTERS

    out = {}
    for group in dict.fromkeys(SPARK_OPS.values()):
        kinds = [k for k, g in SPARK_OPS.items() if g == group]
        recs = log.of(*kinds)
        calls = max(len([r for r in recs if r.kind == kinds[0]]), 1)
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for k in kinds:
            for c, v in counters.get(k, {}).items():
                tot[c] += v
        for c in SPARK_COUNTERS:
            out[f"spark.{group}.{c}"] = tot[c] / calls
        rows = sum(r.rows for r in recs if r.kind == kinds[0])
        out[f"spark.{group}.rows_examined_per_row_returned"] = tot["input_records"] / max(rows, 1)
    return out


def _layer_metrics(tracer, counters, wl, measured, setup: dict, rss: dict, stats: dict) -> dict:
    totals = tracer.totals()

    def span(name, unit=1.0):
        d = totals.get(name, {"calls": 0, "total_s": 0.0})
        return d["calls"], d["total_s"] * unit

    m = {"session.start_s": span("session.get_spark")[1]}
    for f in ("ensure", "find", "save"):
        m[f"registry.{f}_calls"], m[f"registry.{f}_ms"] = span(f"registry.{f}", 1e3)
    for f in ("append_raw", "overwrite_derived", "overwrite_rollup"):
        m[f"tables.{f}_calls"], m[f"tables.{f}_s"] = span(f"tables.{f}")
    m["tables.read_calls"], m["tables.read_ms"] = span("tables.read", 1e3)
    for t in TABLES:
        for k in ("files", "partition_dirs", "bytes"):
            m[f"tables.{t}.{k}"] = stats.get(t, {}).get(k, 0)
    for op in READ_OPS:
        recs = measured.of(op)
        m[f"datastream.{op}.plan_ms"] = 1e3 * _median([r.plan_s for r in recs])
        m[f"datastream.{op}.exec_ms"] = 1e3 * _median([r.exec_s for r in recs])
    # append_multiple is eager: plan = its driver-side time, exec = time in table writes
    plan, execs = [], []
    for op_id, (dur, inner) in _op_split(tracer, "live_append", "tables.").items():
        plan.append(dur - inner)
        execs.append(inner)
    m["datastream.append_multiple.plan_ms"] = 1e3 * _median(plan)
    m["datastream.append_multiple.exec_ms"] = 1e3 * _median(execs)
    m.update(_spark_metrics(counters, measured))
    passes = max(len(wl.rounds), 1)
    for name, kinds in DEDUP_STAGES.items():
        m[name] = sum(r.seconds for r in measured.of(*kinds)) / passes
    lsh = getattr(wl, "lsh_counts", {"candidates": 0, "verified": 0})
    m["dedup.lsh_candidates"] = lsh["candidates"] / passes
    m["dedup.lsh_precision"] = lsh["verified"] / max(lsh["candidates"], 1)
    m["setup.load_s"] = setup["load_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["rss.driver_mb"] = rss["driver"]
    m["rss.children_mb"] = rss["children"]
    m["trace.spans"] = len(tracer.spans)
    return m


def _op_split(tracer, label: str, prefix: str) -> dict:
    """Per operation id of ``label``: (op duration, time in top-level
    ``prefix`` spans inside it)."""
    out: dict[str, list[float]] = {}
    for name, t0, t1, parent, op_id in tracer.spans:
        if t1 is None or op_id is None or not op_id.startswith(label + "#"):
            continue
        d = out.setdefault(op_id, [0.0, 0.0])
        if name == f"op:{label}":
            d[0] = t1 - t0
        elif name.startswith(prefix) and (parent is None or not tracer.spans[parent][0].startswith(prefix)):
            d[1] += t1 - t0
    return {k: tuple(v) for k, v in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest_dashboard", "corpus_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.seed %= 2**32  # NumPy seeds must be non-negative

    if not os.path.isdir(os.path.join(ROOT, "datastream_spark")):
        print(f"perfbench: no datastream_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the JVM that builds spark-submit's command
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    try:
        result = _run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, workdir: str) -> dict:
    from perfbench.common import OpLog
    from perfbench.tracing import NullTracer, Tracer, parse_event_log, peak_rss_mb, percentiles

    tracer = Tracer() if args.trace else NullTracer()
    spark = None
    try:
        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        spark = _start_session(workdir, bool(args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        wl = _workload(args.workload)(spark, tracer, workdir, args.seed)
        wl.log.prefix = "setup."
        setup = wl.setup(SETUP_REPEATS)
        wl.log.prefix = ""
        n_setup = len(wl.log.records)
        t0 = time.perf_counter()
        rounds = 0
        while True:
            wl.iteration()
            rounds += 1
            window_s = time.perf_counter() - t0
            if window_s >= args.seconds:
                break
        measured = OpLog(wl.log.records[n_setup:])
        summary = wl.summary(measured)
        rss = peak_rss_mb()
    finally:
        if spark is not None:
            _stop_session(spark)
        tracer.close()

    log = wl.log
    e2e = {
        "setup_s": session_s + setup["load_s"] + setup["warmup_s"],
        "throughput_per_s": summary["throughput_per_s"],
        "latency_p50_ms": summary["latency_ms"],
    }
    units = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "window_s": round(window_s, 3), "rounds": rounds,
        "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
        "round_ms": percentiles(summary["rounds_ms"]),
        "setup": {"session_s": round(session_s, 3), **{k: round(v, 3) for k, v in setup.items()}},
        "op_failure_ratio": log.failed / max(log.attempted, 1),
        # JVM heap growth makes this vary by a third between runs of one seed,
        # so it is reported here and per layer, not as an end-to-end metric
        "peak_rss_mb": round(rss["driver"] + rss["children"], 1),
        "detail": summary["detail"],
    }
    if args.trace:
        counters = parse_event_log(os.path.join(workdir, "events"))
        metrics = _layer_metrics(tracer, counters, wl, measured, setup, rss, summary.get("store", {}))
        outdir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(outdir, exist_ok=True)
        spans_path = os.path.join(outdir, f"{args.workload}-{args.seed}-spans.jsonl")
        tracer.write(spans_path)
        report["spans"] = os.path.relpath(spans_path, ROOT)
        report["span_self_s"] = {k: round(v["self_s"], 4) for k, v in sorted(tracer.totals().items())}
        out_metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print("report " + json.dumps(report, default=str))
    return {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": out_metrics,
    }


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("bytes", "bytes"),
                         ("_per_row_returned", "ratio"), ("precision", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
