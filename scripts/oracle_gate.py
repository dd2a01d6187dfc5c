"""Driver-style correctness gate: run every __spark_entry__.queries() entry
and its oracle_sql() on the same parquet at a given SF, compare row count,
sorted-column schema, and value frame equality. Mirrors the per-round
CORRECTNESS_r{N}.json check so regressions surface before the driver runs.

Values are compared after ``frontier.datapipe.normalize``: floats to 9
significant digits by default, bit-exactly (``float.hex``) with STRICT=1 —
the mode the README's verification claim refers to. Usage:

    [STRICT=1] python scripts/oracle_gate.py [sf_dir] [query ...]
"""
import json
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e
from frontier.datapipe import ORACLE_TABLES, normalize


def main() -> int:
    strict = bool(os.environ.get("STRICT"))
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    if only:
        unknown = only - set(e.queries())
        if unknown:
            sys.exit(f"unknown query name(s): {sorted(unknown)}")

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    oracles = e.oracle_sql()
    report = {}
    fails = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        row = {"rows_match": None, "schema_match": None, "values_match": None, "err": None}
        try:
            sdf = fn(spark, sf).toPandas()
            odf = con.execute(oracles[name]).df()
            row["spark_rows"], row["oracle_rows"] = len(sdf), len(odf)
            row["rows_match"] = len(sdf) == len(odf)
            row["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
            if row["rows_match"] and row["schema_match"]:
                a, b = normalize(sdf, strict), normalize(odf, strict)
                row["values_match"] = a.equals(b)
                if not row["values_match"]:
                    diff = (a != b).any(axis=1)
                    row["detail"] = f"{int(diff.sum())} differing rows"
            else:
                row["values_match"] = False
        except Exception as ex:  # noqa: BLE001
            row["err"] = f"{type(ex).__name__}: {ex}"[:300]
        report[name] = row
        ok = row["values_match"] and not row["err"]
        if not ok:
            fails.append(name)
        print(("PASS " if ok else "FAIL ") + name, flush=True)

    print(json.dumps(report, indent=1, default=str))
    print("FAILURES:", fails)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
