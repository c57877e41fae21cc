"""Rollup routing: answer an arbitrary time-range aggregate from the
materialized granularity ladder instead of scanning raw datapoints —
the "hypertable rollup" query path (SURVEY.md §4: the reference's
pre-materialized ladder re-used as OUR layer's routing logic; no
reference citation — the reference only reads one granularity at a
time via get_data, datastream/api.py:~500).

Given a half-open range ``[start, end)`` aligned to the finest
available level, ``range_cover`` decomposes it into the MINIMAL set of
ladder buckets — coarse levels for the interior, progressively finer
levels for the ragged edges. Because every ladder duration divides the
next (10 | 60 | 600 | 3600 | 21600 | 86400), the greedy
coarsest-first cover is exact and produces at most TWO contiguous
segments per level (one per edge), so a month-long query reads ~25 day
rows + a handful of edge rows instead of the raw fact table.

All merge-form statistics (count/sum/min/max/sum_squares and the time
downsamplers) combine exactly across segments (SURVEY.md §1.4
decomposability), so the routed answer is IDENTICAL to aggregating raw
— pinned by the q_a5_rollup_route oracle probe, whose DuckDB twin
aggregates the raw table directly.

Scale notes (100 TB posture): the routed plan reads O(range/coarsest +
levels) rollup rows — independent of raw datapoint count; each
segment's ``bucket_epoch`` range filter rides the rollup tables'
``p_date`` partitioning (the store path emits literal date predicates);
and the whole answer is ONE shuffle (the final per-stream hash-agg over
a few hundred merged rows), regardless of how many levels contribute.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from .rollup import MERGE_COLS, finish_columns, merge_rollup_aggs


def range_cover(
    start: int, end: int, durations
) -> list[tuple[int, int, int]]:
    """Decompose ``[start, end)`` (epoch seconds) into aligned ladder
    segments ``(duration, lo, hi)``, coarsest-possible-first.

    Requires: each duration divides every coarser one (true for the
    ladder), and start/end are multiples of the finest duration.
    Properties (property-tested): segments are disjoint, each aligned
    to its own duration, their concatenation is exactly ``[start,
    end)``, and no two adjacent same-level segments could merge into a
    coarser bucket (minimality).
    """
    ds = sorted({int(d) for d in durations}, reverse=True)
    if not ds:
        raise ValueError("range_cover needs at least one duration")
    finest = ds[-1]
    if start % finest or end % finest:
        raise ValueError(
            f"range [{start}, {end}) not aligned to finest duration {finest}"
        )
    for coarse, fine in zip(ds, ds[1:]):
        if coarse % fine:
            raise ValueError(f"duration {fine} does not divide {coarse}")
    segs: list[tuple[int, int, int]] = []

    def cover(lo: int, hi: int, idx: int) -> None:
        if lo >= hi:
            return
        d = ds[idx]
        if idx == len(ds) - 1:
            segs.append((d, lo, hi))
            return
        ilo = -(-lo // d) * d  # ceil to alignment
        ihi = (hi // d) * d  # floor to alignment
        if ilo < ihi:
            segs.append((d, ilo, ihi))
            cover(lo, ilo, idx + 1)
            cover(ihi, hi, idx + 1)
        else:
            cover(lo, hi, idx + 1)

    cover(int(start), int(end), 0)
    return sorted(segs, key=lambda s: s[1])


def level_ranges(start: int, end: int, durations) -> dict[int, list[tuple[int, int]]]:
    """``range_cover`` of ``[start, end)`` grouped by level: duration ->
    that level's ``(lo, hi)`` segments, levels in cover order."""
    by_level: dict[int, list[tuple[int, int]]] = {}
    for d, lo, hi in range_cover(start, end, durations):
        by_level.setdefault(d, []).append((lo, hi))
    return by_level


def ranges_sql(bucket: str, ranges) -> str:
    """One SQL predicate for a level's segments: the OR of
    ``lo <= bucket < hi`` over ``ranges``, where ``bucket`` is a column
    or SQL expression giving the bucket start in epoch seconds.

    ONE disjunctive filter per level, not one branch per segment:
    range_cover emits up to two ragged-edge segments plus an interior
    per level, and a per-segment ``where`` re-plans the level's ENTIRE
    subtree each time (for ladder frames built from raw that is a full
    scan+agg per segment — measured 22 scans / 24 exchanges on q_a5).
    Segments are pairwise disjoint, so the OR'd filter over one copy of
    the frame yields the exact same row multiset, and the range
    predicates still push down to the scan (Spark prunes on
    OR-of-ranges)."""
    return " OR ".join(f"({bucket} >= {lo} AND {bucket} < {hi})" for lo, hi in ranges)


def merge_range(parts: list[DataFrame], key: str = "stream_id") -> DataFrame:
    """The range aggregate of merge-form rows: the union of ``parts``
    (each ``key`` + ``MERGE_COLS``: a level's covered buckets, or raw
    points as one-point buckets), ONE ``groupBy(key)`` hash-agg, then
    the finished statistics. Only the built-in merge forms are merged:
    they are what every level, and a raw point, can supply."""
    u = functools.reduce(DataFrame.unionByName, parts)
    return finish_columns(u.groupBy(key).agg(*merge_rollup_aggs(custom=False)))


def route_range_aggregate(
    level_frames: dict[int, DataFrame],
    start: int,
    end: int,
    key: str = "stream_id",
    bucket_col: str = "bucket_epoch",
) -> DataFrame:
    """Range aggregate ``[start, end)`` per ``key``, answered from the
    ladder: minimal bucket cover -> merge-form union -> ONE hash-agg ->
    finished statistics (v_mean/v_std_dev/t_mean). Each frame in
    ``level_frames`` maps a level duration (seconds) to that level's
    rollup (``bucket_col`` + MERGE_COLS; buckets must be COMPLETE for
    the covered range). Output is identical to aggregating raw
    datapoints over the same range (oracle probe q_a5_rollup_route)."""
    return merge_range(
        [
            level_frames[d].where(ranges_sql(bucket_col, ranges)).selectExpr(key, *MERGE_COLS)
            for d, ranges in level_ranges(start, end, level_frames.keys()).items()
        ],
        key,
    )
