"""Strict differential diagnostic: pandas-level dtype + repr comparison.

The driver's t2 gate hashes values after converting both engines'
results to a columnar frame; DuckDB's ``.df()`` path turns HUGEINT
(int128, the type of ``SUM(integer)``) into float64 and preserves
-0.0 from IEEE rounding, while Spark's ``toPandas()`` keeps int64 and
BigDecimal rounding never emits -0.0.  ``tools/compare.py`` (fetchall
→ Python ints) can't see either divergence — this tool can.

Usage: python tools/strictdiff.py q_w2_derivative [probe ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def cell_repr(v) -> str:
    """Driver-style canonical cell: repr of the pandas scalar."""
    import math

    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # distinguishes -0.0 / 1.0 vs 1
    return repr(v)


def frame_sig(df) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [
        tuple(cell_repr(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


def main(selected: list[str]) -> int:
    import duckdb
    import __spark_entry__ as entrymod
    from datastream_spark.session import get_spark

    spark = get_spark("strictdiff")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = selected or [n for n in qs if n in oracles]
    failed = []
    for name in names:
        if name not in oracles:
            print(f"{name:24s} rows-only (no oracle)")
            continue
        spdf = qs[name](spark, SF_DIR).toPandas()
        dpdf = con.sql(oracles[name]).df()
        sd = {c: str(spdf[c].dtype) for c in sorted(spdf.columns)}
        dd = {c: str(dpdf[c].dtype) for c in sorted(dpdf.columns)}
        dtype_diff = {c: (sd.get(c), dd.get(c)) for c in set(sd) | set(dd)
                      if sd.get(c) != dd.get(c)}
        a, b = frame_sig(spdf), frame_sig(dpdf)
        ok = a == b and not dtype_diff
        print(f"{name:24s} {'OK' if ok else 'STRICT-FAIL'}"
              f"  rows {len(a)}/{len(b)}")
        if dtype_diff:
            print(f"   dtype mismatch: {dtype_diff}")
        if a != b:
            failed.append(name)
            sa, sb = set(a), set(b)
            for d in list(sa - sb)[:3]:
                print("   spark-only:", d)
            for d in list(sb - sa)[:3]:
                print("   duck-only :", d)
        elif dtype_diff:
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} strict-pass")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
