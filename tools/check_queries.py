"""Dev harness mimicking the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row counts + sorted value tuples (column-name-sorted, like the driver).

Usage: python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from loongcollector_spark.queries import ORACLES, QUERIES
    from loongcollector_spark.session import get_spark

    # no console progress bars: they would run into the OK/FAIL lines
    spark = get_spark(
        "check-queries",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        srows = sorted(
            tuple(repr(norm(v)) for v in row) for row in sdf[scols].itertuples(index=False)
        )
        orows = sorted(
            tuple(repr(norm(v)) for v in row) for row in odf[ocols].itertuples(index=False)
        )
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            print("  spark head:", srows[:2])
            print("  oracle head:", orows[:2])
            failures += 1
            continue
        if srows != orows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted row {bad}:")
            print("  cols:  ", scols)
            print("  spark: ", srows[bad])
            print("  oracle:", orows[bad])
            failures += 1
            continue
        print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
