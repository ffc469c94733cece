"""The schema ``tables.table`` reads from one parquet footer, without a job,
equals the schema Spark's own inference (``spark.read.parquet``) gives,
on the testdata, on Spark- and Arrow-written files of every type family,
on dataset directories, and under the session's parquet confs."""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from bitcoin_datapipeline_spark import tables

TESTDATA_ROOT = os.path.dirname(tables.DEFAULT_SF_DIR)
TESTDATA = sorted(glob.glob(os.path.join(TESTDATA_ROOT, "sf*", "*.parquet")))

# one row of every type family, written by Spark (the file carries Spark's
# row metadata, which decides the schema)
SPARK_ROW = """SELECT
  CAST(1.5 AS DECIMAL(9, 2)) AS d9,
  CAST(12345678901234.5 AS DECIMAL(30, 4)) AS d30,
  DATE'2024-01-02' AS day,
  CAST('ab' AS BINARY) AS bin,
  'text' AS s,
  CAST(7 AS TINYINT) AS i8,
  CAST(7 AS SMALLINT) AS i16,
  CAST(1.25 AS FLOAT) AS f32,
  TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,
  TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ntz,
  array(1, 2) AS arr,
  named_struct('a', 1, 'b', 'x') AS st,
  map('k', 1.0D) AS mp,
  array(named_struct('x', map('a', array(CAST(1 AS BIGINT))))) AS deep"""


def _arrow_table() -> pa.Table:
    """The same families written by Arrow: no Spark row metadata, so the
    converter maps the parquet types itself."""
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    return pa.table(
        {
            "d9": pa.array([decimal.Decimal("1.50")], pa.decimal128(9, 2)),
            "d30": pa.array([decimal.Decimal("12345678901234.5000")], pa.decimal128(30, 4)),
            "day": pa.array([dt.date(2024, 1, 2)], pa.date32()),
            "bin": pa.array([b"ab"], pa.binary()),
            "fixed": pa.array([b"abcd"], pa.binary(4)),
            "s": pa.array(["text"], pa.string()),
            "i8": pa.array([7], pa.int8()),
            "u32": pa.array([7], pa.uint32()),
            "ts_utc": pa.array([ts], pa.timestamp("us", tz="UTC")),
            "ts_ms": pa.array([ts], pa.timestamp("ms", tz="UTC")),
            "ntz": pa.array([ts], pa.timestamp("us")),
            "arr": pa.array([[1, 2]], pa.list_(pa.int32())),
            "st": pa.array(
                [{"a": 1, "b": "x"}], pa.struct([("a", pa.int32()), ("b", pa.string())])
            ),
            "mp": pa.array([[("k", 1.0)]], pa.map_(pa.string(), pa.float64())),
            "deep": pa.array(
                [[{"x": [("a", [1])]}]],
                pa.list_(pa.struct([("x", pa.map_(pa.string(), pa.list_(pa.int64())))])),
            ),
        }
    )


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _assert_parity(spark, path: str) -> None:
    assert tables._footer_schema(spark, path) == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("path", TESTDATA, ids=lambda p: os.path.relpath(p, TESTDATA_ROOT))
def test_testdata_footer_schema_matches_inference(spark, path):
    _assert_parity(spark, path)


@pytest.mark.parametrize("ts_type", ["TIMESTAMP_MICROS", "TIMESTAMP_MILLIS", "INT96"])
def test_spark_written_dataset_matches_inference(spark, tmp_path, ts_type):
    """A Spark-written dataset directory: part files, ``_SUCCESS`` and
    checksum files, one of them picked."""
    d = str(tmp_path / "t.parquet")
    with _conf(spark, "spark.sql.parquet.outputTimestampType", ts_type):
        spark.sql(SPARK_ROW).repartition(2).write.parquet(d)
    assert "_SUCCESS" in os.listdir(d)
    _assert_parity(spark, d)


def test_arrow_written_file_matches_inference(spark, tmp_path):
    p = str(tmp_path / "a.parquet")
    pq.write_table(_arrow_table(), p)
    _assert_parity(spark, p)


def test_int96_file_matches_inference(spark, tmp_path):
    p = str(tmp_path / "int96.parquet")
    pq.write_table(_arrow_table(), p, use_deprecated_int96_timestamps=True)
    _assert_parity(spark, p)


def test_session_parquet_confs_are_honored(spark, tmp_path):
    p = str(tmp_path / "a.parquet")
    pq.write_table(_arrow_table(), p)
    with _conf(spark, "spark.sql.parquet.binaryAsString", "true"):
        _assert_parity(spark, p)
        assert tables._footer_schema(spark, p)["bin"].dataType == StringType()
    with _conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false"):
        _assert_parity(spark, p)


def test_directory_picks_the_file_spark_picks(spark, tmp_path):
    """Summary files first (``_common_metadata``, then ``_metadata``), else
    the first data file by name, whatever the other files hold."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-1.parquet"))
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), str(d / "part-2.parquet"))
    (d / "_SUCCESS").touch()
    _assert_parity(spark, str(d))
    assert tables._footer_schema(spark, str(d)).names == ["a"]
    pq.write_metadata(pa.schema([("a", pa.int64()), ("m", pa.float64())]), d / "_metadata")
    _assert_parity(spark, str(d))
    assert tables._footer_schema(spark, str(d)).names == ["a", "m"]
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.int32())]), d / "_common_metadata")
    _assert_parity(spark, str(d))
    assert tables._footer_schema(spark, str(d)).names == ["a", "c"]


def test_partitioned_directory_falls_back_to_inference(spark, tmp_path):
    d = str(tmp_path / "t.parquet")
    spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(d)
    assert tables._footer_schema(spark, d) is None
    df = tables.table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(d).schema
    assert sorted((r.id, r.p) for r in df.collect()) == [(0, 0), (1, 1), (2, 0), (3, 1)]


def test_merge_schema_falls_back_to_inference(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-1.parquet"))
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), str(d / "part-2.parquet"))
    with _conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        assert tables._footer_schema(spark, str(d)) is None
        assert tables.table(spark, str(tmp_path), "t").columns == ["a", "b"]
