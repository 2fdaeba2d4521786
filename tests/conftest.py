from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_calculator_v3_spark.session import get_spark  # noqa: E402
from pipeline_calculator_v3_spark.sql import TABLES  # noqa: E402

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def persistent_ids(spark) -> set[int]:
    """Ids of every RDD the session holds in ``getPersistentRDDs``, read in
    one py4j round trip (``AbstractCollection.toString`` is "[1, 3, 7]")."""
    s = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    s = s.strip("[]").strip()
    return {int(x) for x in s.split(",")} if s else set()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pcv3-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()
