"""CLI pipeline runner: the engine's spark-submit entry point.

Replaces the reference's two job scripts + Step Functions sequencing
(SURVEY.md §3 E1-E3) with one idempotent command:

    python -m lab_etl_batch_data_processing_pipeline__spark.run \
        --raw-dir /data/raw --out-dir /data/lake [--csv-header] \
        [--curated-only]

Reads the four raw tables (CSV with the declared reference schemas, or
parquet) and runs the two stages, writing every output table as parquet
with overwrite semantics (re-runs replace, never duplicate):

- E1 curates the raw tables and writes the 5 curated tables under
  ``<out-dir>/curated``.
- E2 reads ``curated_apartment_bookings`` and ``apartments`` back from
  that lake (the reference's own E1 -> E2 handoff), so the raw-CSV parse,
  dedup and join chain runs once per pass, not once more per metric. It
  writes the 7 metric tables under ``<out-dir>/presentation``.

The tables of a stage do not depend on one another, so each stage writes
them concurrently; E2 starts only after every E1 write has succeeded.
"""

from __future__ import annotations

import argparse
import os
import sys
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from . import schemas
from .plans.pipeline import curate, present
from .session import get_spark
from .sources.readers import read_csv, read_parquet
from .sources.writers import write_parquet


def _read_raw(spark: SparkSession, raw_dir: str, table: str, header: bool) -> DataFrame:
    parquet_path = os.path.join(raw_dir, f"{table}.parquet")
    if os.path.exists(parquet_path):
        return read_parquet(spark, parquet_path)
    return read_csv(
        spark, os.path.join(raw_dir, f"{table}.csv"), schemas.RAW_TABLES[table], header
    )


def _write_stage(spark: SparkSession, tables: dict[str, DataFrame], root: str) -> None:
    """Write ``tables`` to ``<root>/<name>`` concurrently, one thread per table.

    The threads inherit the caller's Spark local properties (job group,
    description), so ``cancelJobGroup`` and per-group job accounting cover
    the writes. Every write is awaited; then the first failure, in table
    order, is re-raised.
    """
    target = inheritable_thread_target(spark)(write_parquet)
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [
            pool.submit(target, df, os.path.join(root, name))
            for name, df in tables.items()
        ]
    for future in futures:
        future.result()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--raw-dir", required=True)
    parser.add_argument("--out-dir", required=True)
    parser.add_argument(
        "--csv-header",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="raw CSVs have a header row (disable with --no-csv-header)",
    )
    parser.add_argument(
        "--curated-only", action="store_true",
        help="run only the curation stage (E1), skip presentation metrics",
    )
    args = parser.parse_args(argv)

    spark = get_spark("lab-etl-pipeline")
    raw = {
        t: _read_raw(spark, args.raw_dir, t, args.csv_header)
        for t in ("apartment_attributes", "apartments", "bookings")
    }
    user_viewing_src = any(
        os.path.exists(os.path.join(args.raw_dir, f"user_viewing.{ext}"))
        for ext in ("csv", "parquet")
    )
    user_viewing = (
        _read_raw(spark, args.raw_dir, "user_viewing", args.csv_header)
        if user_viewing_src
        else None
    )

    curated = curate(
        spark,
        raw["apartment_attributes"],
        raw["apartments"],
        raw["bookings"],
        user_viewing,
    )
    curated_dir = os.path.join(args.out_dir, "curated")
    _write_stage(spark, curated, curated_dir)
    print(f"curated: wrote {len(curated)} tables to {args.out_dir}/curated")

    if not args.curated_only:
        metric_tables = present(
            read_parquet(spark, os.path.join(curated_dir, "curated_apartment_bookings")),
            read_parquet(spark, os.path.join(curated_dir, "apartments")),
        )
        _write_stage(spark, metric_tables, os.path.join(args.out_dir, "presentation"))
        print(
            f"presentation: wrote {len(metric_tables)} metric tables to "
            f"{args.out_dir}/presentation"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
