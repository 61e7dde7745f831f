from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cuttana_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="cuttana-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def transcripts_small(tmp_path_factory):
    """N_CONV=200 fixture parquet (unit-test scale per FIXTURES.md)."""
    from cuttana_spark import transcripts

    p = tmp_path_factory.mktemp("fixtures") / "transcripts_200.parquet"
    transcripts.write_parquet(str(p), n_conv=200)
    return str(p)
