"""Testdata table access.

The driver materializes a deterministic TPC-H-ish star schema plus an
``events`` stream table, ``documents`` and ``embeddings`` under
``/root/testdata/sf{0.001,0.01,0.1}/`` (TESTDATA.md).  ``events`` stands in
for the reference's trade stream (FIXTURES.md §1).

All readers go through :func:`table`, which opens every table with an
explicit schema and so launches no Spark job.  The schema comes from one
parquet footer, read in the session's own process and converted by Spark's
own converter under the session's confs: the per-file step of Spark's
schema inference, without the job Spark wraps around it.

``events.ts`` is stored as parquet TIMESTAMP(MICROS); the engine reads it as
a RAW int64 via the same explicit schema (physical INT64 + LongType request
= plain column read, no timestamp semantics), so every event-time derivation
stays exact 64-bit integer arithmetic with no session-timezone dependence —
epochs above 2^53 µs would silently lose ms precision under any double-typed
conversion path.
"""

from __future__ import annotations

import json
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

# summary files Spark's inference prefers, in its order, over any data file
_SUMMARIES = ("_common_metadata", "_metadata")

# path -> (modification stamp, the schema the engine reads the table with)
_SCHEMAS: dict[str, tuple[int, StructType]] = {}


def _stamp(path: str) -> int | None:
    """Newest modification time (ns) of a table path and, for a dataset
    directory, of its direct entries: a table rewritten in place gets a new
    stamp.  None when the path is not on the local file system (such a
    table's footer is read on every read)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_mtime_ns
        with os.scandir(path) as it:
            return max([st.st_mtime_ns] + [e.stat().st_mtime_ns for e in it])
    except OSError:
        return None


def _hidden(name: str) -> bool:
    """Spark's file-index rule: ``_x`` and ``.x`` entries are not part of
    the dataset, except the parquet summary files and ``_k=v`` partitions."""
    if name.startswith(_SUMMARIES):
        return False
    return (
        name.startswith(".")
        or name.endswith("._COPYING_")
        or (name.startswith("_") and "=" not in name)
    )


def _schema_file(spark: SparkSession, fs, status):
    """The file Spark's inference reads for a table path: the path itself,
    or for a flat dataset directory ``_common_metadata``, then
    ``_metadata``, then the first data file by name.  None where one footer
    does not decide the schema: a directory with sub-directories (partition
    columns), no data file, or several data files under ``mergeSchema``."""
    if not status.isDirectory():
        return status
    entries = {}
    for s in fs.listStatus(status.getPath()):
        name = s.getPath().getName()
        if not _hidden(name):
            if s.isDirectory():
                return None
            entries[name] = s
    data = sorted(n for n in entries if n not in _SUMMARIES)
    if len(data) > 1 and spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    for name in (*_SUMMARIES, *data[:1]):
        if name in entries:
            return entries[name]
    return None


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, derived without a
    job: one footer read (row groups skipped) and Spark's
    ``readSchemaFromFooter`` under the session's parquet confs
    (binaryAsString, int96AsTimestamp, inferTimestampNTZ, the Spark row
    metadata of Spark-written files), then ``asNullable`` as a file
    relation applies.  None where the path needs Spark's own inference."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    status = _schema_file(spark, fs, fs.getFileStatus(hpath))
    if status is None:
        return None
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    footer = jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta)
    converter = pq.ParquetToSparkSchemaConverter(state.conf())
    schema = pq.ParquetFileFormat.readSchemaFromFooter(footer, converter).asNullable()
    return StructType.fromJson(json.loads(schema.json()))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (column-pruned, pushdown-friendly parquet
    scan) with an explicit schema, launching no Spark job.

    The schema is read from the table's parquet footer in-process
    (:func:`_footer_schema`) and cached per path and modification stamp:
    a hit costs less than a footer read, and query construction calls
    table() repeatedly.  ``events`` gets ``ts`` re-typed to raw int64
    epoch-µs (see module docstring).  A partitioned directory, or any
    failure to read the footer, falls back to Spark's own inference, which
    runs a job."""
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    stamp = _stamp(path)
    cached = _SCHEMAS.get(path)
    if stamp is not None and cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    try:
        schema = _footer_schema(spark, path)
    except Exception:  # unreadable footer: let Spark's inference decide
        schema = None
    if schema is None:
        schema = spark.read.parquet(path).schema
    if name == "events":
        schema = StructType(
            [
                StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
                for f in schema.fields
            ]
        )
    if stamp is not None:
        _SCHEMAS[path] = (stamp, schema)
    return spark.read.schema(schema).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
