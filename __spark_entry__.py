"""Driver contract for the spark-graft builder (PySpark target) — thin
shim.

The driver imports THIS module and calls ``entry(spark)`` /
``queries()`` / ``oracle_sql()``. The implementation — every query
wrapper ``queries()`` lists, the rotation bookkeeping, the cache
builders, and the determinism rules — lives in
``lab_etl_batch_data_processing_pipeline__spark/registry.py`` (moved
there per the r8 verdict's entry-file-discipline task: the entry file
stays a stable, reviewable contract while the registry grows with the
engine). ``.cache`` artifacts remain anchored at the repo root, so
caches built by earlier rounds keep working.

The star import re-exports every public name (including the ``q_*``
wrappers some tests call directly); the explicit line re-exports the
underscore helpers that tests and tools reach for by name.
"""

from lab_etl_batch_data_processing_pipeline__spark.registry import *  # noqa: F401,F403
from lab_etl_batch_data_processing_pipeline__spark.registry import (  # noqa: F401
    _ann_recall,
    _booking_lines,
    _events_stream,
    _events_ts,
    _gen_tag,
    _t,
    entry,
    oracle_sql,
    prebuild_indexes,
    queries,
)
