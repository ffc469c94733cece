"""Launch settings of the sessions get_spark builds: the driver JVM's heap
policy and the local streaming checkpoint manager."""

from __future__ import annotations

import pytest

from bitcoin_datapipeline_spark import session


@pytest.mark.parametrize(
    "memory, initial",
    [("2g", "-Xms768m"), ("8G", "-Xms3072m"), ("512m", "-Xms192m"),
     ("1024", "-Xms384m"), ("2gb", "-Xms768m"), ("524288k", "-Xms192m")],
)
def test_initial_heap_is_a_share_of_driver_memory(memory, initial):
    assert session.driver_java_options(memory) == f"{initial} {session.DRIVER_GC_OPTIONS}"


@pytest.mark.parametrize("memory", ["1.5g", "lots", "", "1k"])
def test_unreadable_or_tiny_memory_keeps_the_jvm_initial_heap(memory):
    assert session.driver_java_options(memory) == session.DRIVER_GC_OPTIONS


def test_launched_driver_runs_with_the_heap_policy(spark):
    """The options reach the JVM get_spark launched (spark-submit keeps
    default options next to any extraJavaOptions the caller passes)."""
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert session.DRIVER_GC_OPTIONS in args
    assert any(a.startswith("-Xms") for a in args)


def test_local_session_checkpoints_through_the_file_system_api(spark, tmp_path):
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == session.LOCAL_CHECKPOINT_MANAGER
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    for run, total in enumerate((5, 12)):  # the second run restarts from the checkpoint
        spark.range(5 + 2 * run).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("id long").parquet(src)
            .groupBy().count()
            .writeStream.format("memory").queryName("ckpt_fs_api")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table("ckpt_fs_api").collect()[0][0] == total
        spark.catalog.dropTempView("ckpt_fs_api")
    assert (tmp_path / "ckpt" / "commits" / "1").exists()
