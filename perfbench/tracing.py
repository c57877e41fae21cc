"""Span recorder, layer instrumentation and post-run counters.

Tracing wraps the program's public entry points from outside (the
program itself is not edited): each wrapped call records a span with
name, start, end, parent span and the benchmark operation it ran
under. Spans stay in memory and are written out when the run ends.
Spark's own work is attributed per operation through the event log,
with every job of an operation labelled by ``setJobDescription``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

#: (span name, owner import path, attribute) for every wrapped entry point
ENTRY_POINTS = [
    ("session.get_spark", "datastream_spark.session", "get_spark"),
    *[
        (f"registry.{m}", "datastream_spark.registry:StreamRegistry", m)
        for m in ("ensure", "find", "get", "save")
    ],
    *[
        (f"datastream.{m}", "datastream_spark.datastream:Datastream", m)
        for m in (
            "append_dataframe", "append_multiple", "flush", "downsample_streams",
            "get_data", "scan", "aggregate_range", "find_streams",
        )
    ],
    *[
        (f"tables.{m}", "datastream_spark.sources.tables:TableStore", m)
        for m in ("read", "append_raw", "overwrite_rollup", "overwrite_derived")
    ],
    ("textops.quality_score", "datastream_spark.operators.textops", "quality_score"),
    ("textops.doc_fingerprint", "datastream_spark.operators.textops", "doc_fingerprint"),
    *[
        (f"dedup.{m}", "datastream_spark.operators.dedup", m)
        for m in ("minhash_signature_arrays", "minhash_near_dup_pairs", "connected_components")
    ],
    ("similarity.near_dup_pairs", "datastream_spark.operators.similarity", "near_dup_pairs"),
    ("similarity.semantic_dedup", "datastream_spark.operators.similarity", "semantic_dedup"),
]

JOB_PREFIX = "perfbench:"


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner


class NullTracer:
    """Tracing off: operations and spans cost one no-op context each."""

    enabled = False

    @contextlib.contextmanager
    def op(self, label: str, spark=None):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def close(self) -> None:
        pass


class Tracer:
    """Tracing on. A span is [name, start, end, parent index, op id]."""

    enabled = True

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._n_ops = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self._op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, label: str, spark=None):
        """One benchmark operation: a root span ``op:<label>`` and, when
        a session is given, a Spark job description naming the label."""
        self._n_ops += 1
        prev, self._op_id = self._op_id, f"{label}#{self._n_ops}"
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobDescription(JOB_PREFIX + label)
        try:
            with self.span(f"op:{label}"):
                yield
        finally:
            if sc is not None:
                sc.setJobDescription(None)
            self._op_id = prev

    def install(self) -> None:
        """Wrap every entry point in ``ENTRY_POINTS`` with a span."""
        for name, owner_path, attr in ENTRY_POINTS:
            owner = _resolve(owner_path)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(name, orig))
            self._patched.append((owner, attr, orig))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    # -- summaries -----------------------------------------------------

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds (total minus
        the part of the interval its child spans cover)."""
        child_time = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict[str, float]] = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            d = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += t1 - t0
            d["self_s"] += (t1 - t0) - child_time[i]
        return out

    def write(self, path: str) -> None:
        """Spans as JSON lines, times relative to the first span."""
        t_base = self.spans[0][1] if self.spans else 0.0
        with open(path, "w", encoding="utf-8") as f:
            for i, (name, t0, t1, parent, op_id) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": name, "parent": parent, "op": op_id,
                    "start_s": round(t0 - t_base, 6),
                    "end_s": None if t1 is None else round(t1 - t_base, 6),
                }) + "\n")


SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_time_s", "shuffle_write_bytes", "input_records")


def parse_event_log(evdir: str) -> dict[str, dict[str, float]]:
    """Per operation label: jobs, completed stages, tasks, summed task
    run time, shuffle bytes written and input records read, from the
    Spark event log of jobs whose description is ``perfbench:<label>``."""
    per: dict[str, dict[str, float]] = {}
    stage_op: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # truncated tail line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if not desc.startswith(JOB_PREFIX):
                        continue
                    label = desc[len(JOB_PREFIX):]
                    d = per.setdefault(label, dict.fromkeys(SPARK_COUNTERS, 0))
                    d["jobs"] += 1
                    for si in ev.get("Stage Infos", []):
                        stage_op[si["Stage ID"]] = label
                elif kind == "SparkListenerStageCompleted":
                    label = stage_op.get((ev.get("Stage Info") or {}).get("Stage ID"))
                    if label:
                        per[label]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    label = stage_op.get(ev.get("Stage ID"))
                    if label:
                        m = ev.get("Task Metrics") or {}
                        d = per[label]
                        d["tasks"] += 1
                        d["task_time_s"] += m.get("Executor Run Time", 0) / 1e3
                        d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        d["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return per


def store_stats(root: str) -> dict[str, dict[str, int]]:
    """Per table directory under a store root: parquet files, leaf
    partition directories holding them, and parquet bytes."""
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(root):
        return out
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        files = dirs = size = 0
        for dirpath, _, names in os.walk(tdir):
            pq = [n for n in names if n.endswith(".parquet")]
            if pq:
                dirs += 1
                files += len(pq)
                size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in pq)
        out[table] = {"files": files, "partition_dirs": dirs, "bytes": size}
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc PPid links)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _status_kb(int(entry), "PPid")
            children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of this driver process and of its
    descendants (the JVM and any Python workers it forked), in MB."""
    me = os.getpid()
    driver = _status_kb(me, "VmHWM")
    children = sum(_status_kb(p, "VmHWM") for p in descendants(me))
    return {"driver": driver / 1024.0, "children": children / 1024.0}


def percentiles(samples: list[float]) -> dict:
    """Median plus the highest of p90/p99/p999 that has at least ten
    samples beyond it, with the sample count."""
    import numpy as np

    n = len(samples)
    out = {"n": n, "p50": float(np.median(samples)) if n else float("nan")}
    for q, name in ((0.999, "p999"), (0.99, "p99"), (0.9, "p90")):
        if n * (1 - q) >= 10:
            out["tail"] = name
            out[name] = float(np.quantile(samples, q))
            break
    return out
