"""Shared fixtures: a local SparkSession configured like the target job."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("OMP_NUM_THREADS", "1")  # X7: 1 BLAS thread per worker


@pytest.fixture(scope="session")
def spark():
    from red_seal_ocr_spark.session import get_spark

    # the production session (AQE partition sizing, coalesce floor, Arrow
    # batch cap, worker reuse), at test scale
    spark = get_spark(
        "red-seal-ocr-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()
