from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA_ROOT, "sf0.001")
# The driver's correctness gate runs at sf0.01 — oracle tests use the same SF
# on BOTH engines so there is no scale mismatch.
SF_ORACLE = os.path.join(TESTDATA_ROOT, "sf0.01")


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def smoke_sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def spark():
    from synth_timeseries_data_spark.session import get_session

    spark = get_session("synth-ts-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_ORACLE}/{name}.parquet'"
        )
    yield con
    con.close()
