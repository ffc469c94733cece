"""Testdata table access.

The driver materializes a deterministic TPC-H-ish star schema plus an
``events`` stream table, ``documents`` and ``embeddings`` under
``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md).  ``events`` stands in
for the reference's trade stream (FIXTURES.md §1).

All readers go through :func:`table`.  ``events.ts`` is stored as parquet
TIMESTAMP(MICROS); the engine reads it as a RAW int64 via an explicit
user-specified schema (physical INT64 + LongType request = plain column
read, no timestamp semantics), so every event-time derivation stays exact
64-bit integer arithmetic with no session-timezone dependence — epochs
above 2^53 µs would silently lose ms precision under any double-typed
conversion path.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# path -> (modification stamp, the schema the engine reads the table with)
_SCHEMAS: dict[str, tuple[int, StructType]] = {}


def _stamp(path: str) -> int | None:
    """Newest modification time (ns) of a table path and, for a dataset
    directory, of its direct entries: a table rewritten in place gets a new
    stamp.  None when the path is not on the local file system (such a
    table is inferred on every read)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_mtime_ns
        with os.scandir(path) as it:
            return max([st.st_mtime_ns] + [e.stat().st_mtime_ns for e in it])
    except OSError:
        return None


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (column-pruned, pushdown-friendly parquet scan).

    Parquet schema inference runs a Spark job per read, so each table's
    schema is inferred ONCE per path and modification stamp and cached;
    later reads pass it explicitly and launch no job (query construction
    calls table() repeatedly).  A miss reads the table once and keeps that
    read, except for ``events``, whose ``ts`` column is re-typed to raw
    int64 epoch-µs (see module docstring) and so needs a second, forced
    read."""
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = _stamp(path)
    cached = _SCHEMAS.get(path)
    if stamp is not None and cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    if name == "events":
        schema = StructType(
            [
                StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
                for f in schema.fields
            ]
        )
        df = spark.read.schema(schema).parquet(path)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, schema)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
