"""Per-session caches: repeated queries recompile no generated code, and
repeated table reads infer no schema."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from bitcoin_datapipeline_spark import session, tables


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_mix_beyond_the_default(spark):
    """150 projections with distinct literals generate distinct classes,
    more than Spark's default 100-entry cache holds; with the engine's
    cache size the second round compiles nothing."""
    exprs = [f"id + {1_000_003 + i} AS x" for i in range(150)]
    for e in exprs:  # first round: compile every class
        spark.range(1).selectExpr(e).collect()
    before = _compiles(spark)
    for e in exprs:
        spark.range(1).selectExpr(e).collect()
    assert _compiles(spark) - before == 0


def test_second_table_read_runs_no_job(spark, sf_dir):
    tables.table(spark, sf_dir, "lineitem")
    sc = spark.sparkContext
    sc.setJobGroup("schema-cache-second-read", "second table() read")
    try:
        df = tables.table(spark, sf_dir, "lineitem")
        assert "l_orderkey" in df.columns
        assert sc.statusTracker().getJobIdsForGroup("schema-cache-second-read") == []
    finally:
        sc._jsc.clearJobGroup()


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/t.parquet")
    assert tables.table(spark, d, "t").columns == ["id"]
    assert tables.table(spark, d, "t").columns == ["id"]  # served from the cache
    (
        spark.range(3)
        .select(F.col("id").cast("string").alias("s"), F.lit(1).alias("one"))
        .write.mode("overwrite")
        .parquet(f"{d}/t.parquet")
    )
    df = tables.table(spark, d, "t")
    assert df.columns == ["s", "one"]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_events_ts_stays_raw_int64(spark, sf_dir):
    for _ in range(2):  # the miss and the cached read agree
        assert tables.table(spark, sf_dir, "events").schema["ts"].dataType == LongType()


class _Conf:
    def __init__(self, entries: str) -> None:
        self.values = {session.CODEGEN_CACHE_CONF: entries}

    def set(self, k, v) -> None:
        self.values[k] = v

    def get(self, k):
        return self.values[k]


class _Session:
    def __init__(self, entries: str) -> None:
        self.conf = _Conf(entries)


def test_configure_warns_once_on_a_small_codegen_cache(caplog):
    small = _Session("100")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.configure(small)
        session.configure(small)
        session.configure(_Session(str(session.CODEGEN_CACHE_ENTRIES)))
    msgs = [r.getMessage() for r in caplog.records if r.name == session.__name__]
    assert len(msgs) == 1
    assert session.CODEGEN_CACHE_CONF in msgs[0] and "=100 " in msgs[0]
