from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from bitcoin_datapipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class MockGroupState:
    """In-memory ``GroupState`` for driving a stateful processor without a
    stream.  Every ``update`` must fit ``schema`` (arity, types, Long
    range), as a real state store would require, or the test fails."""

    def __init__(self, schema):
        from pyspark.sql.types import _make_type_verifier

        self._verify = _make_type_verifier(schema, nullable=False)
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._verify(v)
        self._v = tuple(v)
