from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_correctness

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from logistics_data_pipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def make_bronze(spark, rows):
    """Bronze-schema DataFrame from dict rows (missing keys -> NULL)."""
    from logistics_data_pipeline_spark.schemas import BRONZE_EVENT_SCHEMA

    defaults = {f.name: None for f in BRONZE_EVENT_SCHEMA.fields}
    full = [{**defaults, **r} for r in rows]
    return spark.createDataFrame(full, schema=BRONZE_EVENT_SCHEMA)
