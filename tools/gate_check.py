"""Local replica of the driver's correctness gate.

Runs each __spark_entry__ query on Spark AND its DuckDB oracle over the
same parquet tables, then compares row count, schema (column names) and
exact values (columns sorted by name, rows sorted by all columns,
elementwise exact equality — floats compared bit-for-bit via repr).
Each compared query's line ends with ``spark_s=<seconds>``: the wall
time of building and collecting its Spark result (``toPandas``).
Usage:
    python tools/gate_check.py [--adversarial] [sf_dir] [query ...]

``--adversarial`` runs the verify recipe's hostile-partitioning
session (32 shuffle partitions + 17-row Arrow batches): partitioning
or batch-boundary bugs in stateful folds diverge from the oracle here
even when the default session passes.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import spinix_spark too: put the repository
# root on their path, so the tool runs from any working directory
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # stringify every cell: exact repr for floats, plain str otherwise
    for c in df.columns:
        df[c] = df[c].map(
            lambda v: repr(float(v))
            if isinstance(v, float)
            else (repr(sorted(v)) if isinstance(v, (list, tuple)) else str(v))
        )
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> None:
    args = sys.argv[1:]
    adversarial = "--adversarial" in args
    if adversarial:
        args.remove("--adversarial")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    builder = (
        SparkSession.builder.master("local[8]")
        .config(
            "spark.sql.shuffle.partitions", "32" if adversarial else "8"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .appName("gate-check")
    )
    if adversarial:
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "17"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    # the AUTHORITATIVE registry count — docs cite this line's output,
    # and tests/test_registry.py pins doc counts to len(queries())
    run_set = [n for n in qs if not only or n in only]
    print(
        f"registry={len(qs)} queries ({len(oracles)} with value oracles); "
        f"running {len(run_set)}"
    )
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {e}")
            failures.append(name)
            continue
        spark_s = f"spark_s={time.perf_counter() - t0:.2f}"
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: no_oracle rows={len(sdf)} {spark_s}")
            continue
        try:
            odf = con.execute(sql).fetch_df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {e}")
            failures.append(name)
            continue
        rows = len(sdf) == len(odf)
        schema = sorted(sdf.columns) == sorted(odf.columns)
        values = False
        if rows and schema:
            cs, co = canon(sdf), canon(odf)
            values = cs.equals(co)
            if not values:
                neq = (cs != co).any(axis=0)
                bad_cols = [c for c in cs.columns if neq[c]]
                ex = None
                for c in bad_cols:
                    m = cs[c] != co[c]
                    i = m[m].index[0]
                    ex = (c, cs[c][i], co[c][i])
                    break
                print(
                    f"{name}: rows={rows} schema={schema} VALUES=False "
                    f"bad_cols={bad_cols} example={ex} {spark_s}"
                )
                failures.append(name)
                continue
        status = "OK" if (rows and schema and values) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(
            f"{name}: {status} rows={len(sdf)}/{len(odf)} schema={schema} "
            f"values={values} {spark_s}"
        )
    print("\nFAILURES:", failures if failures else "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
