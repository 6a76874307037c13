"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry through Spark and its ``oracle_sql()``
twin through DuckDB on the same parquet tables; compares column names,
row count, and an order-insensitive, type-sensitive value comparison
(floats rounded to 9 decimals). ``duck_views`` and ``compare`` are the
one comparison the tier-1 parity test runs too.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entrymod
from lab_etl_batch_data_processing_pipeline__spark.session import get_spark


def norm(v):
    """Canonicalize a value to a (type-class, value) pair.

    Type-SENSITIVE on purpose: the driver's value hash distinguishes
    dtypes that compare equal in Python (``Decimal(5) == 5`` is True,
    yet hashes differently), which is exactly how the r10
    ``events_level_shift`` red row slipped past a tuple-equality
    replica — DuckDB widens SUM(BIGINT) to HUGEINT (arrow decimal128)
    while Spark returns int64. Int widths collapse to one class (the
    driver has always accepted INT-vs-BIGINT oracles); everything else
    keeps its type tag.
    """
    import datetime
    from decimal import Decimal

    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", round(v, 9))
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime.datetime):
        return ("timestamp", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    # Struct symmetry: Spark returns Row (a tuple subclass with fields),
    # DuckDB's to_pylist returns dict — canonicalize both to a sorted
    # (key, norm(value)) tuple so struct columns compare by field name.
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return ("struct", tuple(sorted((k, norm(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("array", tuple(norm(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("binary", bytes(v))
    return (type(v).__name__, v)


def normalize(rows, columns):
    return sorted(
        [tuple(norm(r[c]) for c in sorted(columns)) for r in rows],
        key=lambda t: tuple(str(x) for x in t),
    )


TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(sdf, con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, list[str]]:
    """Run a Spark result and its DuckDB oracle and compare them order-
    insensitively. Returns the Spark row count and the problems found
    (SCHEMA, ROWS or VALUES); an empty list means they match."""
    spark_rows = [r.asDict() for r in sdf.collect()]
    cols = sdf.columns
    ddf = con.execute(sql).fetch_arrow_table()
    duck_cols = ddf.column_names
    duck_rows = ddf.to_pylist()
    problems = []
    if sorted(cols) != sorted(duck_cols):
        problems.append(f"SCHEMA spark={sorted(cols)} duck={sorted(duck_cols)}")
    if len(spark_rows) != len(duck_rows):
        problems.append(f"ROWS spark={len(spark_rows)} duck={len(duck_rows)}")
    if not problems:
        a = normalize(spark_rows, cols)
        b = normalize(duck_rows, cols)
        diff = [(x, y) for x, y in zip(a, b) if x != y]
        if diff:
            problems.append(f"VALUES {len(diff)} differ, e.g. {diff[:3]}")
    return len(spark_rows), problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Replicate the DRIVER's environment: a bare SparkSession with
        # none of session.py's confs (timezone, AQE tuning, parquet
        # nanos). Every query must survive this — the driver imports
        # __spark_entry__ with its own vanilla session.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            # UI-only, no query semantics: console progress bars write
            # \r-terminated fragments that splice into the per-key OK
            # lines when a sweep's output is captured with 2>&1 (one
            # captured sweep lost ~30 lines that way)
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")

    oracles = entrymod.oracle_sql()
    failures = []
    with duck_views(sf_dir) as con:
        for name, fn in entrymod.queries().items():
            if only and name not in only:
                continue
            n_rows, problems = compare(fn(spark, sf_dir), con, oracles[name])
            if problems:
                failures.append(name)
                print(f"{name:28s} FAIL  {' | '.join(problems)}")
            else:
                print(f"{name:28s} OK    {n_rows} rows")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
