"""Quantify cross-engine float divergence on probes that straddle the
6-d.p. canonicalization boundary at sf1.

``tools/compare.py`` demands bit-equality after ROUND(x, 6). For
statistics whose magnitude times row count approaches double
precision (a 4e9 revenue sum has ~5e-7 ULP; a million-row sweep makes
one-in-a-million round-half straddles expected), Spark's sequential
accumulation and DuckDB's pairwise/segment-tree combination disagree
by ULPs, and the 6-d.p. round amplifies an ~1e-12 relative difference
into a visible last-digit flip. This tool joins both engines' UNROUNDED
outputs on the probe's key columns and reports the max relative
divergence per numeric column — separating "float associativity noise"
from "logic bug" with a number.

Usage: COMPARE_SF_DIR=/root/repo/scaledata/sf1 python tools/float_divergence.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("COMPARE_SF_DIR", "/root/repo/scaledata/sf1")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# probe name -> (key columns, numeric columns to diff). Spark/oracle
# pairs below rebuild the probe WITHOUT the final ROUND so the raw
# engine-level divergence is visible.
CASES = {
    "q_j2_tpch_join": (["n_name"], ["revenue"]),
    "q_a13_mad_outliers": (["user_id", "event_id"], ["mscore"]),
    "q_a5_rollup_route": (
        ["user_id"],
        ["v_sum", "v_mean", "v_sum_squares", "v_std_dev"],
    ),
}


def spark_unrounded(name, spark):
    import pyspark.sql.functions as F
    from datastream_spark.probes import T, _ROUTE_LO, _ROUTE_HI
    from datastream_spark.operators import rollup, rollup_route
    from datastream_spark.granularity import Granularity

    if name == "q_j2_tpch_join":
        li = T(spark, SF_DIR, "lineitem")
        o = T(spark, SF_DIR, "orders").where(F.col("o_orderstatus") == "F")
        c = T(spark, SF_DIR, "customer")
        n = T(spark, SF_DIR, "nation")
        r = T(spark, SF_DIR, "region").where(F.col("r_name") == "ASIA")
        joined = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        )
        return joined.groupBy("n_name").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    if name == "q_a13_mad_outliers":
        # Replay mad_outliers' exact two-phase aggregation inline so
        # the tool pins the raw doubles independently of the operator.
        ev = (
            T(spark, SF_DIR, "events")
            .where(F.col("user_id") < 50)
            .select("user_id", "event_id", "value")
        )
        med = ev.groupBy("user_id").agg(
            F.expr("percentile(value, 0.5)").alias("key_median")
        )
        dev = (
            ev.join(F.broadcast(med), "user_id")
            .groupBy("user_id")
            .agg(
                F.expr("percentile(abs(value - key_median), 0.5)").alias(
                    "key_mad"
                ),
                F.first("key_median").alias("key_median"),
            )
        )
        return (
            ev.join(F.broadcast(dev), "user_id")
            .withColumn(
                "mscore",
                F.when(
                    F.col("key_mad") > 0,
                    F.lit(0.6745)
                    * (F.col("value") - F.col("key_median"))
                    / F.col("key_mad"),
                ),
            )
            .select("user_id", "event_id", "mscore")
        )
    if name == "q_a5_rollup_route":
        ev = T(spark, SF_DIR, "events")
        levels = {
            g.seconds: rollup.rollup_from_raw(ev, g, key="user_id")
            for g in (
                Granularity.Seconds10,
                Granularity.Minutes,
                Granularity.Minutes10,
                Granularity.Hours,
                Granularity.Hours6,
                Granularity.Days,
            )
        }
        out = rollup_route.route_range_aggregate(
            levels, _ROUTE_LO, _ROUTE_HI, key="user_id"
        )
        return out.select(
            "user_id", "v_sum", "v_mean", "v_sum_squares", "v_std_dev"
        )
    raise KeyError(name)


def duck_unrounded(name, con):
    from datastream_spark.probes import _ROUTE_LO, _ROUTE_HI

    if name == "q_j2_tpch_join":
        return con.execute(
            """
            SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
            GROUP BY n_name
            """
        ).df()
    if name == "q_a13_mad_outliers":
        return con.execute(
            """
            WITH p AS (
              SELECT user_id, event_id, value AS v
              FROM events WHERE user_id < 50
            ),
            med AS (
              SELECT user_id, quantile_cont(v, 0.5) AS key_median
              FROM p GROUP BY 1
            ),
            dev AS (
              SELECT p.user_id,
                     quantile_cont(abs(p.v - med.key_median), 0.5) AS key_mad,
                     any_value(med.key_median) AS key_median
              FROM p JOIN med USING (user_id) GROUP BY 1
            )
            SELECT p.user_id, p.event_id,
                   CASE WHEN dev.key_mad > 0
                        THEN 0.6745 * (p.v - dev.key_median) / dev.key_mad
                   END AS mscore
            FROM p JOIN dev USING (user_id)
            """
        ).df()
    if name == "q_a5_rollup_route":
        return con.execute(
            f"""
            SELECT user_id,
                   SUM(value) AS v_sum,
                   SUM(value) / COUNT(value) AS v_mean,
                   SUM(value * value) AS v_sum_squares,
                   sqrt(greatest(SUM(value * value) / COUNT(value)
                        - (SUM(value) / COUNT(value))
                          * (SUM(value) / COUNT(value)), 0)) AS v_std_dev
            FROM events
            WHERE epoch(ts) >= {_ROUTE_LO} AND epoch(ts) < {_ROUTE_HI}
            GROUP BY 1
            """
        ).df()
    raise KeyError(name)


def main() -> int:
    import duckdb
    from datastream_spark.session import get_spark

    spark = get_spark("float_divergence")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF_DIR}/{t}.parquet')"
        )

    for name, (keys, vals) in CASES.items():
        sdf = spark_unrounded(name, spark).toPandas()
        ddf = duck_unrounded(name, con)
        m = sdf.merge(ddf, on=keys, suffixes=("_s", "_d"))
        assert len(m) == len(sdf) == len(ddf), (name, len(m), len(sdf))
        print(f"{name}: {len(m)} rows joined on {keys}")
        for v in vals:
            s, d = m[f"{v}_s"], m[f"{v}_d"]
            denom = s.abs().combine(d.abs(), max).clip(lower=1e-30)
            rel = ((s - d).abs() / denom).fillna(0.0)
            n_diff = int((s != d).fillna(False).sum())
            print(
                f"  {v:>16}: bit-different rows = {n_diff:>6}"
                f"  max relative divergence = {rel.max():.3e}"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
