"""SparkSession construction and session-level tuning.

Two entry points:

- :func:`get_spark` — build a session for tests / bench (local[N]).
- :func:`configure` — apply the *dynamic* confs this engine needs to an
  EXISTING session (the correctness driver owns its own SparkSession and
  passes it in, so everything the engine relies on at query time must be
  settable via ``spark.conf.set``).

Scale stance (the confs below are chosen for a real cluster, not just
local[32]):

- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switches replace the reference's hand-tuned batch sizes
  (reference: manual Kinesis batch=500 / insert batch sizes — see
  BASELINE.md).
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a 1000-executor cluster AQE coalescing makes the initial number
  mostly irrelevant as long as it is high enough, so production jobs should
  set it ≈ 2-3× total cores.
- Session timezone pinned to UTC: every event-time computation in this
  engine is pure epoch-ms integer arithmetic (no tz-dependent functions in
  the hot path), matching the reference's epoch-ms convention
  (schemas/avro/MarketTrade.avsc — event_ts/ingest_ts are ms longs).
- `events.ts` (parquet TIMESTAMP(MICROS)) is read as raw int64 epoch-µs via
  an explicit schema in tables.table — no session conf needed, no timezone
  dependence, exact integer `div` arithmetic everywhere.  (Spark ≤4.0's
  ``spark.sql.legacy.parquet.nanosAsLong`` was removed in 4.1; the explicit
  schema read replaces it.)
- Codegen cache sized to the query catalogue (``CODEGEN_CACHE_ENTRIES``):
  Spark keeps ONE cache of compiled generated classes per JVM (so on a
  cluster, one per executor as well as the driver), 100 entries by
  default.  The engine's queries need far more than that — about 290
  classes for an 11-query interactive mix, about 3,200 for a round-robin
  pass over the whole catalogue — so a default-sized cache evicts
  everything before a query comes back and every repeat re-runs Janino.
  The conf is STATIC (read once, when the JVM first generates code), so
  only :func:`get_spark` can set it; :func:`configure` can only warn
  that a session it did not build runs with a smaller cache.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Compiled-class cache entries per JVM: holds every class the full query
# catalogue generates, with headroom (one round-robin pass over all 239
# oracle-backed queries at sf0.01 compiles 3,210 classes; a second pass
# recompiles only 111, whose code embeds values that change per run).
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096

# Confs that are safe (and necessary) to set on a live session.
DYNAMIC_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r11 optimization: PySpark 4's per-DataFrame-call origin capture
    # (error-message call sites) walks the Python stack and makes two
    # extra py4j round-trips on EVERY DataFrame/Column API call — profiled
    # at ~half of all query-construction time (cProfile: 8.5k py4j
    # commands per bars construction, ~0.15 ms each).  A query engine
    # constructs plans in a hot loop; the debugging aid is priced for
    # notebooks.  Scale-independent: this is driver-side Python cost, the
    # same on a laptop or a 1000-executor cluster.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic confs to an existing session ONCE.

    Called from every :func:`~bitcoin_datapipeline_spark.tables.table`
    read, so query construction hits it repeatedly — the applied marker
    keeps that to ONE batch of ``conf.set`` py4j round-trips per session
    instead of four per table read.

    Contract note (r12, ADVICE r11): the marker means this is apply-once
    per session object, NOT re-application — a conf changed externally
    mid-session (a test toggling AQE, a notebook reset) stays changed
    until the session is rebuilt.  The marker is a Python attribute on
    the session wrapper, so a DIFFERENT wrapper around the same JVM
    session (e.g. a Spark Connect proxy) re-applies harmlessly; callers
    needing a forced re-apply can ``del spark._bdp_configured``.

    A session built elsewhere (the driver's own) may run a codegen cache
    smaller than ``CODEGEN_CACHE_ENTRIES``; the conf is static, so that is
    logged here once per session rather than fixed."""
    if getattr(spark, "_bdp_configured", False):
        return spark
    for k, v in DYNAMIC_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — session defaults will have to do.
            pass
    try:
        entries = int(spark.conf.get(CODEGEN_CACHE_CONF))
    except Exception:
        entries = None  # unreadable on this build: nothing to report
    if entries is not None and entries < CODEGEN_CACHE_ENTRIES:
        log.warning(
            "%s=%d is below the engine's %d: repeated queries will recompile "
            "generated code; the conf is static, so set it when building "
            "the session",
            CODEGEN_CACHE_CONF, entries, CODEGEN_CACHE_ENTRIES,
        )
    try:
        spark._bdp_configured = True
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "bitcoin_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = single JVM; give codegen'd aggs room before spill
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.maxResultSize", "2g")
        # set at build time too: pyspark caches the debugging flag on the
        # FIRST wrapped API call, which can precede the first table() read
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in DYNAMIC_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
