from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bitcoinminingetl_spark.session import get_spark

    # Small local session for sf0.001 unit tests: low shuffle partition
    # count keeps tiny-stage overhead down; AQE still exercises the same
    # plan shapes that run at scale.
    spark = get_spark(app_name="bitcoinminingetl-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from bitcoinminingetl_spark.oracle_check import duck_connect

    con = duck_connect(sf_dir)
    yield con
    con.close()
