"""Downsampler engine: the reference's aggregation heart, Spark-first.

Parity target: the value/time downsampler state machines and the
``_downsample`` cascade driver (datastream/backends/mongodb.py:~1050-1400,
registry names datastream/api.py:~220 — SURVEY.md §2.4 A1-A11).

Design (SURVEY.md §1.4): all seven value downsamplers are algebraic /
decomposable, so every rollup level is computed from the *next finer*
level with merge forms — never re-reading raw data. One
``groupBy(stream_id, bucket).agg(...)`` computes all statistics in a
single hash-agg pass (Catalyst collapses the shared sub-aggregates), and
the cascade is error-free because count/sum/min/max/sum_squares merge
exactly; mean and std_dev are finish-time derivations.

This module is the one home of the merge-form format (``MERGE_FIELDS``)
and of its builders. The cascade, the range aggregate, ``scan``,
pre-aggregated appends, streaming and CDC all build and merge rollup
rows through it.

Scale notes (100 TB posture):
- Partial (map-side) aggregation applies automatically to all of these
  — the shuffle carries one row per (stream_id, bucket), not raw rows.
- The cascade rolls level g -> g+1 from the g rollup (6x-86400x smaller
  than raw), so only the first level ever scans the fact table.
- No Python UDFs anywhere: everything is JVM-side, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..granularity import Granularity, bucket_epoch

#: Value downsamplers (reference names, api.py:~220 [HIGH]); short BSON
#: keys (m/s/l/u/q/d/c) are dropped — columnar storage makes them moot.
VALUE_DOWNSAMPLERS = [
    "count",
    "sum",
    "min",
    "max",
    "sum_squares",
    "mean",
    "std_dev",
]

TIME_DOWNSAMPLERS = ["first", "last", "mean"]

#: Dependency expansion (api.py:~230 [MED]): requesting a derived stat
#: pulls in the merge-form stats it is finished from.
DOWNSAMPLER_DEPENDENCIES = {
    "mean": {"sum", "count"},
    "std_dev": {"count", "sum", "sum_squares"},
}


#: User-registered downsamplers (SURVEY §2.10: the extension surface
#: the reference lacks — any algebraic Spark aggregate plugs into the
#: SAME cascade, batch and streaming, because raw/merge/finish hooks
#: feed the shared agg builders below).
CUSTOM_DOWNSAMPLERS: dict[str, "CustomDownsampler"] = {}


class CustomDownsampler:
    """An algebraic value downsampler: ``raw(value, ts)`` aggregates
    datapoints into the merge form, ``merge(col)`` combines merge-form
    rows into coarser buckets, optional ``finish(df)`` derives display
    columns. The registrant guarantees decomposability (merge(raw(A),
    raw(B)) == raw(A ∪ B)) — the same contract the built-in seven
    satisfy, and the cascade-exactness property test is the template
    for verifying it."""

    def __init__(self, name, raw, merge, finish=None):
        self.name = name
        self.raw = raw
        self.merge = merge
        self.finish = finish


def register_downsampler(name: str, raw, merge, finish=None) -> None:
    """Register a custom value downsampler under ``v_<name>``.

    ``raw``: (value Column, ts Column) -> aggregate Column;
    ``merge``: (merge-form Column) -> aggregate Column;
    ``finish``: optional DataFrame -> DataFrame post-processing.
    Register before the first rollup materialization so every ladder
    level carries the column."""
    from ..exceptions import UnsupportedDownsampler

    if name in VALUE_DOWNSAMPLERS:
        raise UnsupportedDownsampler(f"{name} is a built-in downsampler")
    CUSTOM_DOWNSAMPLERS[name] = CustomDownsampler(name, raw, merge, finish)


def unregister_downsampler(name: str) -> None:
    CUSTOM_DOWNSAMPLERS.pop(name, None)


def expand_downsamplers(names: list[str]) -> list[str]:
    """Dependency-close a downsampler list, preserving registry order."""
    from ..exceptions import UnsupportedDownsampler

    wanted = set(names)
    for n in names:
        if n not in VALUE_DOWNSAMPLERS and n not in CUSTOM_DOWNSAMPLERS:
            raise UnsupportedDownsampler(n)
        wanted |= DOWNSAMPLER_DEPENDENCIES.get(n, set())
    ordered = [n for n in VALUE_DOWNSAMPLERS if n in wanted]
    ordered += [n for n in CUSTOM_DOWNSAMPLERS if n in wanted]
    return ordered


def raw_rollup_aggs(value: str = "value", ts: str = "ts") -> list[Column]:
    """Aggregate expressions raw -> first rollup level (A1-A10).

    Null values are skipped by value downsamplers; ``v_count`` counts
    non-null contributions (mongodb.py null handling [MED], pinned by
    the oracle probes). ``t_count`` counts rows with a timestamp and is
    the exact weight for cascading the time-mean.
    """
    v = F.col(value)
    t = F.col(ts)
    return [
        F.count(v).alias("v_count"),
        F.sum(v).alias("v_sum"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.sum(v * v).alias("v_sum_squares"),
        F.count(t).alias("t_count"),
        F.min(t).alias("t_first"),
        F.max(t).alias("t_last"),
        # time-mean kept as exact integer-µs sum + count; finished lazily
        F.sum(F.unix_micros(t)).alias("t_sum_micros"),
    ] + [
        ds.raw(v, t).alias(f"v_{ds.name}")
        for ds in CUSTOM_DOWNSAMPLERS.values()
    ]


#: A raw point's 1-second bucket start, as SQL.
POINT_BUCKET_SQL = "CAST(unix_micros(ts) / 1000000 AS BIGINT)"

#: A raw point's built-in merge forms, as SQL: the merge-form row of a
#: bucket holding that one point (what ``raw_rollup_aggs`` gives it).
POINT_MERGE_SQL = (
    "CASE WHEN value IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    " AS v_count",
    "value AS v_sum",
    "value AS v_min",
    "value AS v_max",
    "value * value AS v_sum_squares",
    "CAST(1 AS BIGINT) AS t_count",
    "ts AS t_first",
    "ts AS t_last",
    "unix_micros(ts) AS t_sum_micros",
)


def points_as_buckets(df: DataFrame) -> DataFrame:
    """Raw points (``stream_id``, ``ts``, ``value``) as one-point
    buckets: ``stream_id``, ``bucket_epoch`` and the built-in merge
    forms."""
    return df.selectExpr(
        "stream_id", f"{POINT_BUCKET_SQL} AS bucket_epoch", *POINT_MERGE_SQL
    )


def preagg_merge_row(value: dict, ts_us: int) -> dict:
    """The merge forms of a pre-aggregated append (F3, mongodb.py:~850
    [MED]): ``value`` is a dict of built-in downsampler members taken at
    ``ts_us`` (epoch µs). ``sum`` falls back to ``mean * count`` and
    ``sum_squares`` to ``(std_dev² + mean²) * count``; a member the dict
    cannot give is NULL. The time forms count the append as one point."""
    from ..exceptions import InvalidOperatorArguments

    bad = set(value) - set(VALUE_DOWNSAMPLERS)
    if bad:
        raise InvalidOperatorArguments(f"unknown downsamplers {sorted(bad)}")
    if "count" not in value or value["count"] < 1:
        raise InvalidOperatorArguments("pre-aggregated append needs count>=1")
    n = float(value["count"])
    mean = value.get("mean")
    v_sum = value.get("sum", mean * n if mean is not None else None)
    ss = value.get("sum_squares")
    if ss is None and value.get("std_dev") is not None and mean is not None:
        ss = (value["std_dev"] ** 2 + mean**2) * n
    return {
        "v_count": int(n),
        "v_sum": float(v_sum) if v_sum is not None else None,
        "v_min": float(value["min"]) if "min" in value else None,
        "v_max": float(value["max"]) if "max" in value else None,
        "v_sum_squares": float(ss) if ss is not None else None,
        "t_count": 1,
        "t_first": ts_us,
        "t_last": ts_us,
        "t_sum_micros": ts_us,
    }


#: Merge forms of the built-in statistics, rollup(g) -> rollup(g+1),
#: as SQL: one ``F.expr`` each instead of a chain of Column calls.
_MERGE_SQL = (
    "sum(v_count) AS v_count",
    "sum(v_sum) AS v_sum",
    "min(v_min) AS v_min",
    "max(v_max) AS v_max",
    "sum(v_sum_squares) AS v_sum_squares",
    "sum(t_count) AS t_count",
    "min(t_first) AS t_first",
    "max(t_last) AS t_last",
    "sum(t_sum_micros) AS t_sum_micros",
)


def merge_rollup_aggs(custom: bool = True) -> list[Column]:
    """Merge forms rollup(g) -> rollup(g+1) (A11 cascade, §1.4).

    ``custom=False`` leaves out the registered custom downsamplers: a
    range merge that also folds in raw points (one-point buckets carry
    only the built-in merge forms) can merge those alone."""
    aggs = [F.expr(e) for e in _MERGE_SQL]
    if custom:
        aggs += [
            ds.merge(F.col(f"v_{ds.name}")).alias(f"v_{ds.name}")
            for ds in CUSTOM_DOWNSAMPLERS.values()
        ]
    return aggs


#: Merge-form columns, in the order ``raw_rollup_aggs`` and
#: ``merge_rollup_aggs`` emit them.
MERGE_FIELDS = [
    T.StructField("v_count", T.LongType()),
    T.StructField("v_sum", T.DoubleType()),
    T.StructField("v_min", T.DoubleType()),
    T.StructField("v_max", T.DoubleType()),
    T.StructField("v_sum_squares", T.DoubleType()),
    T.StructField("t_count", T.LongType()),
    T.StructField("t_first", T.TimestampType()),
    T.StructField("t_last", T.TimestampType()),
    T.StructField("t_sum_micros", T.LongType()),
]

#: Names of the merge-form columns.
MERGE_COLS = [f.name for f in MERGE_FIELDS]

#: Data columns of every ``rollup_<g>`` file, in the order the writers
#: emit them: ``bucket_epoch``, the merge forms, then what
#: ``finish_columns`` adds. The store reads rollup tables with this
#: schema instead of inferring one.
ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("bucket_epoch", T.LongType()),
        *MERGE_FIELDS,
        T.StructField("v_mean", T.DoubleType()),
        T.StructField("v_std_dev", T.DoubleType()),
        T.StructField("t_mean", T.TimestampType()),
    ]
)


def rollup_schema(spark: SparkSession) -> T.StructType:
    """``ROLLUP_SCHEMA`` plus the columns of registered custom
    downsamplers. Only their aggregates know those types, so with any
    registered the schema is the analysed output of the cascade
    writer's plan over an empty frame (analysis only, no Spark job):
    ``v_<name>`` after ``t_sum_micros``, finish columns at the end."""
    if not CUSTOM_DOWNSAMPLERS:
        return ROLLUP_SCHEMA
    empty = spark.createDataFrame([], "stream_id string, ts timestamp, value double")
    out = rollup_from_raw(empty, Granularity.Seconds10).drop("stream_id")
    return T.StructType([T.StructField(f.name, f.dataType) for f in out.schema])


#: The statistics ``finish_columns`` derives, as SQL, in output order.
_FINISH_SQL = (
    "v_sum / v_count AS v_mean",
    "sqrt(greatest(v_sum_squares / v_count - (v_sum / v_count) * (v_sum / v_count),"
    " 0.0D)) AS v_std_dev",
    "timestamp_micros(CAST(t_sum_micros / t_count AS BIGINT)) AS t_mean",
)


def finish_columns(df: DataFrame) -> DataFrame:
    """Finish-time statistics from merge-form columns (A6, A7, A10),
    appended after ``df``'s columns in one projection.

    std_dev is the *population* form sqrt(E[x^2] - E[x]^2), computed
    from (count, sum, sum_squares) exactly as the reference's finish()
    does (mongodb.py:~1170 [MED]; pinned population-vs-sample by the
    Q-A1 oracle probe). Clamped at 0 against FP cancellation.
    """
    out = df.selectExpr("*", *_FINISH_SQL)
    if CUSTOM_DOWNSAMPLERS:
        cols = set(out.columns)
        for ds in CUSTOM_DOWNSAMPLERS.values():
            if ds.finish is not None and f"v_{ds.name}" in cols:
                out = ds.finish(out)
    return out


def rollup_from_raw(
    df: DataFrame,
    granularity: Granularity,
    key: str = "stream_id",
    value: str = "value",
    ts: str = "ts",
) -> DataFrame:
    """One-level rollup of a raw datapoint frame.

    Output: (key, bucket_epoch BIGINT, merge-form cols, finished cols).
    """
    d = granularity.duration_in_seconds()
    return finish_columns(
        df.groupBy(F.col(key), bucket_epoch(F.col(ts), d).alias("bucket_epoch")).agg(
            *raw_rollup_aggs(value, ts)
        )
    )


def rollup_cascade(
    rolled: DataFrame, coarser: Granularity, key: str = "stream_id"
) -> DataFrame:
    """Roll an already-rolled frame to a coarser level via merge forms.

    Exactness property (tested, Q-A2): cascade(raw->g1->g2) ==
    rollup_from_raw(raw, g2) for count/sum/min/max/sum_squares, and to
    FP round-off for mean/std_dev.
    """
    return finish_columns(
        rolled.groupBy(F.col(key), cascade_bucket(coarser).alias("bucket_epoch")).agg(
            *merge_rollup_aggs()
        )
    )


def cascade_bucket(coarser: Granularity) -> Column:
    """The ``coarser`` bucket start of a rolled row's ``bucket_epoch``."""
    d = coarser.duration_in_seconds()
    return (F.floor(F.col("bucket_epoch") / d) * d).cast("bigint")


def make_histogram_downsampler(
    n_bins: int = 32, lo: float = 0.0, hi: float = 100.0
):
    """(raw, merge, finish) for a fixed-bin histogram sketch — the
    mergeable percentile story for the materialized ladder.

    Exact percentiles don't cascade (quantiles aren't algebraic), so a
    ladder that must answer p50/p90/p99 from coarse rollups carries a
    sketch instead: per-bucket counts over ``n_bins`` equal-width bins
    spanning [lo, hi) (underflow clamps to bin 0, overflow to the last
    bin — the conventional fixed-range histogram contract, cf.
    TimescaleDB/Prometheus histograms). The merge form is the count
    array; merging is elementwise sum, which is exactly associative and
    commutative, so the sketch cascades with NO approximation loss
    relative to a single-pass histogram of the raw data. The only
    approximation is bin width, chosen once up front.

    Estimated quantile = linear interpolation inside the bin where the
    cumulative count crosses q*N — deterministic integer arithmetic on
    the counts, so the estimate is engine-portable (oracle probe
    q_a7_histogram_percentiles replays it in SQL).

    Register with ``register_downsampler("hist", *make_histogram_
    downsampler(...))`` — the array column then rides raw rollup, the
    merge cascade, the store ladder, and streaming rollup unchanged.
    """
    width = (hi - lo) / n_bins

    def bin_of(v):
        return F.least(
            F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(n_bins - 1),
        ).cast("int")

    def raw(v, t):
        b = bin_of(v)
        return F.array(
            *[
                F.count(F.when(b == i, F.lit(1))).alias(f"_b{i}")
                for i in range(n_bins)
            ]
        )

    def merge(c):
        return F.array(*[F.sum(c[i]) for i in range(n_bins)])

    return raw, merge, None


def histogram_cumulative(hist):
    """Cumulative-count array from a histogram-sketch column in ONE
    O(n_bins) fold (array-accumulator ``aggregate``). Higher-order
    lambdas evaluate interpreted, so the shape matters: the naive
    per-bin ``aggregate(slice(...))`` cumulative is O(n_bins²)
    interpreted steps per row — measured 24 s vs ~2 s on the q_a7
    probe's 10k rows. Compute this once and feed every quantile."""
    return F.aggregate(
        hist,
        F.struct(
            F.expr("cast(array() as array<bigint>)").alias("a"),
            F.lit(0).cast("bigint").alias("s"),
        ),
        lambda acc, x: F.struct(
            F.concat(acc["a"], F.array(acc["s"] + x)).alias("a"),
            (acc["s"] + x).alias("s"),
        ),
        lambda acc: acc["a"],
    )


def histogram_quantile_from_cum(cum, q: float, n_bins: int, lo: float, hi: float):
    """Interpolated quantile estimate from a PRE-COMPUTED cumulative
    array (``histogram_cumulative``): find the bin where the cumulative
    count crosses ``q * N``, interpolate linearly inside it. Pure
    expression — deterministic integer arithmetic on the counts, so
    the estimate is engine-portable (oracle probe
    q_a7_histogram_percentiles replays it in SQL)."""
    width = (hi - lo) / n_bins
    total = F.element_at(cum, n_bins)
    target = F.lit(q) * total.cast("double")
    # first bin whose cumulative count reaches the target (0-based)
    b = F.array_position(
        F.transform(cum, lambda c: c.cast("double") >= target), True
    ) - 1
    prev_cum = F.when(b == 0, F.lit(0).cast("bigint")).otherwise(
        F.element_at(cum, b.cast("int"))
    )
    in_bin = F.element_at(cum, (b + 1).cast("int")) - prev_cum
    frac = F.when(
        in_bin > 0, (target - prev_cum.cast("double")) / in_bin.cast("double")
    ).otherwise(F.lit(0.0))
    return F.lit(lo) + (b.cast("double") + frac) * F.lit(width)


def histogram_quantile(hist, q: float, n_bins: int, lo: float, hi: float):
    """Convenience single-quantile form; for several quantiles over the
    same sketch, materialize ``histogram_cumulative`` once and use
    ``histogram_quantile_from_cum``."""
    return histogram_quantile_from_cum(
        histogram_cumulative(hist), q, n_bins, lo, hi
    )


def histogram_quantiles(
    df: DataFrame,
    hist_col: str,
    keys: list[str],
    quantiles: list[float],
    n_bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Interpolated quantile estimates from a histogram-sketch column,
    long-form: posexplode the count array to (keys, bin, cnt > 0) rows,
    window-cumulate within each key group (≤ n_bins rows per
    partition, sorted inside the existing hash partitioning — no extra
    shuffle beyond the one on ``keys``), then pick each quantile's
    crossing bin with ``min_by`` in ONE hash aggregation and
    interpolate linearly inside it.

    This is the whole-stage-codegen shape: the array-fold alternative
    (``histogram_cumulative`` + per-quantile projection) evaluates
    interpreted higher-order lambdas, and Catalyst's project-collapse
    DUPLICATES the O(n_bins) fold into every expression that touches
    the cumulative column — measured 8-10 s of pure lambda
    interpretation on a 10k-row frame vs ~0.3 s for this form. Keep
    the array helpers for single-expression use; route anything per-row
    × per-quantile through here.

    Output: keys + ``n`` (total count) + one ``p<q>_est`` double per
    requested quantile (``p50_est``, ``p90_est``, ...).
    """
    from pyspark.sql import Window

    def _q_label(q: float) -> str:
        # stable percent-form label: 0.5→'50', 0.99→'99', 0.58→'58',
        # 0.999→'99_9'. int(q*100) truncated (int(0.58*100)==57) and
        # collided sub-percent quantiles (0.99 and 0.999 both 'p99'),
        # silently overwriting one aggregate with another.
        r = round(q * 100, 6)
        if abs(r - round(r)) < 1e-9:
            return str(int(round(r)))
        return repr(r).replace(".", "_")

    labels = [_q_label(q) for q in quantiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantile labels {labels} for {quantiles}")

    width = (hi - lo) / n_bins
    le = df.select(
        *keys, F.posexplode(F.col(hist_col)).alias("_bin", "_cnt")
    ).where(F.col("_cnt") > 0)
    w = Window.partitionBy(*keys).orderBy("_bin")
    wn = Window.partitionBy(*keys)
    cum = le.withColumn("_c_le", F.sum("_cnt").over(w)).withColumn(
        "_n", F.sum("_cnt").over(wn)
    )
    aggs = [F.max("_n").alias("n")]
    for q, lab in zip(quantiles, labels):
        # crossing bin: smallest present bin whose cumulative count
        # reaches q·N (min_by skips rows where the ordering is null)
        aggs.append(
            F.min_by(
                F.struct(
                    F.col("_bin").alias("b"),
                    F.col("_cnt").alias("c"),
                    F.col("_c_le").alias("cl"),
                ),
                F.when(F.col("_c_le") >= F.lit(q) * F.col("_n"), F.col("_bin")),
            ).alias(f"_s{lab}")
        )
    sel = cum.groupBy(*keys).agg(*aggs)
    cols = [*keys, F.col("n")]
    for q, lab in zip(quantiles, labels):
        s = F.col(f"_s{lab}")
        # mirror the oracle's arithmetic term-for-term so the doubles
        # agree bitwise: lo + (b + ((q·n) - (c_le - cnt)) / cnt) · width
        cols.append(
            (
                F.lit(lo)
                + (
                    s["b"]
                    + ((F.lit(q) * F.col("n")) - (s["cl"] - s["c"])) / s["c"]
                )
                * F.lit(width)
            ).alias(f"p{lab}_est")
        )
    return sel.select(*cols)


def make_hll_downsampler(lgk: int = 12):
    """(raw, merge, finish) for a mergeable distinct-count sketch —
    the cardinality story for the materialized ladder, the way the
    histogram downsampler is its percentile story.

    Exact COUNT(DISTINCT) doesn't cascade (distinctness isn't
    algebraic), so the ladder carries an Apache DataSketches HLL
    sketch (Spark's native ``hll_sketch_agg``/``hll_union_agg`` —
    JVM-side, binary column). The merge form is the sketch; union is
    register-wise max — associative, commutative, idempotent — so
    cascading never double-counts and never loses SET information.
    The ESTIMATE, however, is only bit-identical to a single-pass
    sketch while the sketch is still in exact coupon/list mode (up to
    a few hundred values at lgk=12): past promotion, DataSketches uses
    the HIP estimator for directly-updated sketches but the composite
    estimator after a union, so a cascaded estimate can differ from
    the direct one by a fraction of the ~1.04/sqrt(2^lgk) standard
    error (~1.6% at the default lgk=12; measured 50548 vs 50973 on
    50k distinct values) and even varies with partition layout. Treat
    every estimate as carrying the sketch's error bar — the
    cascade-consistency test pins exactness in coupon mode and bounded
    agreement past it.

    Register with ``register_downsampler("hll", *make_hll_
    downsampler())`` — the binary column rides raw rollup, the merge
    cascade, the store ladder, and streaming rollup unchanged.
    """

    def raw(v, t):
        # sketch the canonical string form: hll_sketch_agg accepts
        # int/bigint/string/binary, and the ladder's value column is
        # double by convention — the cast keys distinctness on the
        # exact value representation for any numeric input
        return F.hll_sketch_agg(v.cast("string"), F.lit(lgk))

    def merge(c):
        return F.hll_union_agg(c)

    return raw, merge, None


def hll_estimate(c: Column) -> Column:
    """Distinct-count estimate from an HLL-sketch ladder column."""
    return F.hll_sketch_estimate(c)
