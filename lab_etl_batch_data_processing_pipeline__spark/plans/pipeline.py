"""The Medallion pipeline: raw -> curated -> presentation (SURVEY.md §3).

The reference runs this as two sequential jobs orchestrated by a 2-state
Step Functions machine (scripts/aws/step_functions.json:4-21) — which
degenerates, correctly, to two function calls in sequence. Each stage is a
pure function over DataFrames so it is idempotent and re-runnable; sinks
use dynamic partition overwrite (sources/writers.py).

``curate``   = E1 (curated_tranformation.py): clean 4 raw tables, convert
               currencies, build the 16-column denormalized join table.
``present``  = E2 (present_summary.py): compute all 7 metrics off the
               curated table. The CLI (run.py) hands E1 to E2 through the
               lake, as the reference does: it passes ``present`` the
               curated tables read back from the parquet E1 just wrote, so
               each metric scans that parquet instead of re-running the
               raw-CSV parse, dedup and join chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cleaning, enrich, joins, metrics
from ..schemas import RAW_DATE_COLUMNS


def curate(
    spark: SparkSession,
    apartment_attributes: DataFrame,
    apartments: DataFrame,
    bookings: DataFrame,
    user_viewing: DataFrame | None = None,
    rates: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Raw -> curated: dedup, date-normalize, cast, enrich, denormalize.

    Returns the cleaned inputs plus the 16-column curated join table.
    """
    rates = rates if rates is not None else enrich.default_exchange_rates(spark)

    attrs = cleaning.dedup_exact(apartment_attributes)
    apts = cleaning.normalize_dates(
        cleaning.dedup_exact(apartments), RAW_DATE_COLUMNS["apartments"]
    )
    bkgs = cleaning.normalize_dates(
        cleaning.dedup_exact(bookings), RAW_DATE_COLUMNS["bookings"]
    )
    out: dict[str, DataFrame] = {}
    if user_viewing is not None:
        out["user_viewing"] = cleaning.normalize_dates(
            cleaning.dedup_exact(user_viewing), RAW_DATE_COLUMNS["user_viewing"]
        )

    apts_usd = enrich.convert_currency(apts, rates, "price", "price_usd")
    out.update(
        apartment_attributes=attrs,
        apartments=apts_usd,
        bookings=bkgs,
        curated_apartment_bookings=joins.curated_apartment_bookings(
            bkgs, apts, attrs, rates
        ),
    )
    return out


def present(curated: DataFrame, listings: DataFrame) -> dict[str, DataFrame]:
    """Curated -> presentation: the 7 metric tables (M1-M7).

    Nothing is cached: each metric plans its own scan of ``curated``. Pass
    frames that are cheap to re-scan (the CLI reads them back from the
    curated lake).
    """
    revenue = F.col("total_price_usd")
    return {
        "average_listing_price": metrics.avg_listing_price_weekly(
            listings, "listing_created_on", "price_usd"
        ),
        "occupancy_rate_per_month": metrics.occupancy_rate_monthly(
            curated, "checkin_date", "checkout_date", "apartment_id", "booking_status"
        ),
        "popular_cities_per_week": metrics.popular_locations_weekly(
            curated, "booking_date", "cityname", "booking_status"
        ),
        "top_listings_weekly_revenue": metrics.top_revenue_weekly(
            curated, "booking_date", "apartment_id", revenue, "booking_status"
        ),
        "total_bookings_per_user": metrics.bookings_per_user(
            curated, "user_id", None, "booking_status"
        ),
        "avg_booking_duration_per_month": metrics.avg_duration_monthly(
            curated, "checkin_date", "checkout_date", "booking_status"
        ),
        "repeat_customer_rate_per_month": metrics.repeat_customer_rate_monthly(
            curated, "user_id", "booking_date", "booking_id", 30, "booking_status"
        ),
    }


def run_pipeline(
    spark: SparkSession,
    apartment_attributes: DataFrame,
    apartments: DataFrame,
    bookings: DataFrame,
    user_viewing: DataFrame | None = None,
    rates: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full raw -> presentation run; returns every curated + metric table."""
    curated_tables = curate(
        spark, apartment_attributes, apartments, bookings, user_viewing, rates
    )
    metric_tables = present(
        curated_tables["curated_apartment_bookings"], curated_tables["apartments"]
    )
    return {**curated_tables, **metric_tables}
