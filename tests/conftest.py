from __future__ import annotations

import os
import sys
import tempfile

import pytest

# the driver contract and tools/ live at the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from lab_etl_batch_data_processing_pipeline__spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # saveAsTable targets (bucketing tests) land in a temp warehouse
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


class RegistryBuilds:
    """Each registry key's DataFrame at sf0.001, planned after one
    ``prebuild_indexes`` so the cached-artifact paths are the ones
    planned. ``build`` records the formatted static plan before anything
    runs the frame, and ``plan`` reads that record, so one build per key
    serves both the all-key oracle parity test and the plan gates."""

    def __init__(self, spark):
        self.spark = spark
        self.plans: dict[str, str] = {}
        entrymod.prebuild_indexes(spark, SF)

    def build(self, key: str):
        df = entrymod.queries()[key](self.spark, SF)
        self.plans[key] = formatted_plan(df)
        return df

    def plan(self, key: str) -> str:
        if key not in self.plans:
            self.build(key)
        return self.plans[key]


@pytest.fixture(scope="session")
def registry_builds(spark):
    return RegistryBuilds(spark)
