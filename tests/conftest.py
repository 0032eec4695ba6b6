"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import pytest

from ocr_translate_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ocr_translate_spark-tests", cpus=4)
    yield spark
    spark.stop()
