"""In-process ``run.main``: the E1 -> E2 lake handoff and the concurrent
stage writes.

The raw CSVs carry the FIXTURES.md §A hard cases: exact duplicate rows,
malformed ``dd/MM/yyyy`` dates, GBP (no exchange rate), an orphan
``apartment_id``, a NULL price, canceled/pending bookings, and two users
on either side of M7's 30-day repeat boundary.
"""

from __future__ import annotations

import contextlib
import io
import os
import threading
import time

import pytest

from lab_etl_batch_data_processing_pipeline__spark import run
from lab_etl_batch_data_processing_pipeline__spark.operators import metrics_sql
from lab_etl_batch_data_processing_pipeline__spark.plans import run_pipeline

ATTRS_CSV = """id,category,body,amenities,bathrooms,bedrooms,fee,has_photo,pets_allowed,price_display,price_type,square_feet,address,cityname,state,latitude,longitude
100,1BHK,desc,"gym,pool",1,1,10.00,true,true,$,m,500,addr,paris,fr,48.85,2.35
100,1BHK,desc,"gym,pool",1,1,10.00,true,true,$,m,500,addr,paris,fr,48.85,2.35
101,2BHK,desc2,wifi,2,2,,false,false,$,m,900,addr2,lyon,fr,45.76,4.83
102,Studio,desc3,,1,0,5.50,true,false,$,m,300,addr3,nice,fr,,
"""
APARTMENTS_CSV = """id,title,source,price,currency,listing_created_on,is_active,last_modified_timestamp
100,Flat A,Airbnb,100.00,USD,01/01/2024,true,05/01/2024
101,Flat B,Zillow,200.00,EUR,03/01/2024,true,05/01/2024
101,Flat B,Zillow,200.00,EUR,03/01/2024,true,05/01/2024
102,Flat C,Airbnb,5000.00,INR,2024-01-09,true,05/01/2024
103,Flat D,Airbnb,80.00,GBP,10/01/2024,false,
"""
# user 7 books again after exactly 30 days (a repeat), user 8 after 31 (not)
BOOKINGS_CSV = """booking_id,user_id,apartment_id,booking_date,checkin_date,checkout_date,total_price,currency,booking_status
1,7,100,01/01/2024,05/01/2024,07/01/2024,300.00,USD,confirmed
1,7,100,01/01/2024,05/01/2024,07/01/2024,300.00,USD,confirmed
2,7,101,31/01/2024,02/02/2024,05/02/2024,100.00,EUR,confirmed
3,8,100,01/01/2024,03/01/2024,04/01/2024,120.00,USD,confirmed
4,8,102,01/02/2024,10/02/2024,12/02/2024,9000.00,INR,confirmed
5,9,999,16/01/2024,21/01/2024,23/01/2024,50.00,USD,confirmed
6,10,101,17/01/2024,18/01/2024,20/01/2024,75.00,GBP,confirmed
7,11,100,bad-date,17/01/2024,18/01/2024,80.00,USD,confirmed
8,11,100,20/01/2024,31/02/2024,03/03/2024,90.00,USD,confirmed
9,12,101,20/01/2024,22/01/2024,25/01/2024,60.00,EUR,canceled
10,12,101,21/01/2024,22/01/2024,25/01/2024,60.00,EUR,pending
11,7,100,15/03/2024,16/03/2024,18/03/2024,,USD,confirmed
"""
VIEWING_CSV = """user_id,apartment_id,viewed_at,is_wishlisted,call_to_action
7,100,01/01/2024,true,Contact
7,100,01/01/2024,true,Contact
8,101,xx/01/2024,false,Book Now
"""

CURATED = (
    "user_viewing", "apartment_attributes", "apartments", "bookings",
    "curated_apartment_bookings",
)
PRESENTATION = tuple(metrics_sql.METRIC_SQL)


def _write_raw(raw_dir) -> None:
    raw_dir.mkdir()
    for name, text in (
        ("apartment_attributes", ATTRS_CSV), ("apartments", APARTMENTS_CSV),
        ("bookings", BOOKINGS_CSV), ("user_viewing", VIEWING_CSV),
    ):
        (raw_dir / f"{name}.csv").write_text(text)


def _main(raw_dir, out_dir) -> int:
    # keep the session's shuffle partitions: get_spark re-applies the
    # SPARK_SHUFFLE_PARTITIONS default to the running session
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(io.StringIO()):
        mp.setenv("SPARK_SHUFFLE_PARTITIONS", "4")
        return run.main(["--raw-dir", str(raw_dir), "--out-dir", str(out_dir)])


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _rows(df) -> list[str]:
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def lake_run(spark, tmp_path_factory):
    """One in-process run.main under a caller-set job group, with the
    persisted RDDs and ungrouped jobs before and after it."""
    root = tmp_path_factory.mktemp("run_lake")
    raw_dir = root / "raw"
    _write_raw(raw_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-run-lake"
    persisted_before = _persisted_ids(spark)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run.main under a caller job group")
    try:
        rc = _main(raw_dir, root / "lake")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return {
        "rc": rc,
        "raw": raw_dir,
        "lake": root / "lake",
        "persisted": (persisted_before, _persisted_ids(spark)),
        "grouped": set(tracker.getJobIdsForGroup(group)),
        "new_ungrouped": set(tracker.getJobIdsForGroup(None)) - ungrouped_before,
    }


def test_lake_presentation_matches_sql_and_in_memory(spark, lake_run):
    assert lake_run["rc"] == 0
    lake = lake_run["lake"]
    for name in CURATED:
        assert (lake / "curated" / name / "_SUCCESS").exists(), name

    cur = lambda t: spark.read.parquet(str(lake / "curated" / t))  # noqa: E731
    via_sql = metrics_sql.present_sql(
        spark, cur("curated_apartment_bookings"), cur("apartments")
    )
    raw = {
        t: run._read_raw(spark, str(lake_run["raw"]), t, True)
        for t in ("apartment_attributes", "apartments", "bookings", "user_viewing")
    }
    in_memory = run_pipeline(
        spark, raw["apartment_attributes"], raw["apartments"], raw["bookings"],
        raw["user_viewing"],
    )
    for name in PRESENTATION:
        got = spark.read.parquet(str(lake / "presentation" / name))
        assert _rows(got) == _rows(via_sql[name]), f"lake vs present_sql: {name}"
        want = in_memory[name]
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], name
        assert _rows(got) == _rows(want), f"lake vs run_pipeline: {name}"

    # the hard cases reached the metrics: NULL city (orphan), NULL revenue
    # (GBP), and the M7 boundary (user 7 repeats after 30 days in January,
    # user 8 after 31 days in February does not)
    read = lambda t: spark.read.parquet(str(lake / "presentation" / t))  # noqa: E731
    assert any(r.location is None for r in read("popular_cities_per_week").collect())
    assert any(r.total_revenue is None for r in read("top_listings_weekly_revenue").collect())
    m7 = {
        (r.month.year, r.month.month): (r.repeat_customers, r.total_customers)
        for r in read("repeat_customer_rate_per_month").collect() if r.month is not None
    }
    assert m7[(2024, 1)] == (1, 5) and m7[(2024, 2)] == (0, 1)


def test_run_main_leaves_nothing_persisted(lake_run):
    # no NEW persistent RDD: earlier tests' checkpointed RDDs may be
    # released by Spark's ContextCleaner while run.main runs
    before, after = lake_run["persisted"]
    assert after - before == set(), f"run.main left RDDs persisted: {sorted(after - before)}"


def test_concurrent_writes_inherit_caller_job_group(lake_run):
    # every job run.main started (12 table writes and the reads and
    # metric plans behind them) carries the caller's group, including
    # the ones submitted from the write threads
    assert lake_run["new_ungrouped"] == set()
    assert len(lake_run["grouped"]) >= len(CURATED) + len(PRESENTATION)


def _pool_threads() -> set[threading.Thread]:
    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def test_failed_curated_write_awaits_siblings_and_skips_presentation(
    spark, tmp_path, monkeypatch
):
    raw_dir = tmp_path / "raw"
    _write_raw(raw_dir)
    lake = tmp_path / "lake"
    (lake / "curated").mkdir(parents=True)
    # the apartments target resolves under a regular file: its Spark write
    # job fails creating the task output directories
    (tmp_path / "blocker").write_text("not a directory")
    os.symlink(tmp_path / "blocker" / "apartments", lake / "curated" / "apartments")

    # slow the sibling writes so returning before they finish would show
    write_parquet = run.write_parquet
    finished = []

    def slow_write(df, path, *args, **kwargs):
        if os.path.basename(path) != "apartments":
            time.sleep(0.5)
        write_parquet(df, path, *args, **kwargs)
        finished.append(os.path.basename(path))

    monkeypatch.setattr(run, "write_parquet", slow_write)
    threads_before = _pool_threads()
    with pytest.raises(Exception, match="apartments"):
        _main(raw_dir, lake)

    siblings = [t for t in CURATED if t != "apartments"]
    assert sorted(finished) == sorted(siblings)
    for name in siblings:
        assert (lake / "curated" / name / "_SUCCESS").exists(), name
    assert not (lake / "presentation").exists()
    assert _pool_threads() - threads_before == set()
