"""Local differential oracle: replicate the driver's t2 gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01, compares row count, column
names, and order-insensitive values (floats rounded to 6 d.p.).

Usage: python tools/compare.py [probe ...]
"""

from __future__ import annotations

import math
import os
import sys
import datetime as dt

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Override to hash-check at another scale (e.g. the sf1 generator-twin
# data: COMPARE_SF_DIR=/root/repo/scaledata/sf1) — same gate, more rows.
SF_DIR = os.environ.get("COMPARE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, (dt.datetime,)):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return canon(float(v))
    except Exception:
        pass
    return v


def rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main(selected: list[str]) -> int:
    import duckdb
    import __spark_entry__ as entrymod
    from datastream_spark.session import get_spark

    spark = get_spark("compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = selected or list(qs)
    failed = []
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            if name not in oracles:
                print(f"{name:24s} rows-only: spark={len(srows)} (no oracle)")
                continue
            drel = con.sql(oracles[name])
            dcols = list(drel.columns)
            drows = [tuple(r) for r in drel.fetchall()]
            ok_cols = sorted(scols) == sorted(dcols)
            a, b = rows_to_set(scols, srows), rows_to_set(dcols, drows)
            ok_rows = len(srows) == len(drows)
            ok_vals = a == b
            status = "OK" if (ok_cols and ok_rows and ok_vals) else "FAIL"
            print(
                f"{name:24s} {status}  rows {len(srows)}/{len(drows)}"
                f" cols={'ok' if ok_cols else f'{scols} vs {dcols}'}"
                f" vals={'ok' if ok_vals else 'MISMATCH'}"
            )
            if status == "FAIL":
                failed.append(name)
                if not ok_vals and ok_cols:
                    sa, sb = set(a), set(b)
                    for d in list(sa - sb)[:3]:
                        print("   spark-only:", d)
                    for d in list(sb - sa)[:3]:
                        print("   duck-only :", d)
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"{name:24s} ERROR {type(e).__name__}: {e}")
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
