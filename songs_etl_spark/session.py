"""SparkSession construction and runtime tuning.

Design notes (100 TB posture)
-----------------------------
The same builder serves local[N] dev and a real cluster: everything scale
critical is expressed as SQL confs that hold on a 1000-executor cluster —
AQE (runtime re-plan, skew-join splitting, partition coalescing), a broadcast
threshold sized for star-schema dimensions, and zstd Parquet. Nothing here
hand-schedules work; Catalyst + AQE pick physical strategies.

``tune_runtime`` applies only *runtime-mutable* confs, so query callables can
run correctly inside a session we did not create (the verify driver's).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are safe (and useful) to set on an already-running session.
RUNTIME_CONF: dict[str, str] = {
    # UTC session tz: the testdata's naive (NTZ) timestamps are interpreted as
    # UTC wall-clock on the Spark side exactly as DuckDB reads them, so
    # NTZ→TIMESTAMP casts and date_trunc/date_format agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims (region/nation/customer/part/supplier at these SFs, and
    # every songs dim) are far below this: all star joins go broadcast-hash.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-column pruning for the landing-document schemas.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Generated classes are cached by their source text (see the cache size
    # in get_spark), and by default the whole-stage codegen stage id is part
    # of the class name. Under AQE a stage's id depends on the order stages
    # are planned in, so one plan run twice can come back as the same code
    # under another name and compile again: louvain_one_level kept
    # compiling 4-34 classes per pass at sf0.001 with a cache that held all
    # of them. Without the id it compiles 0 from its second run on, and equal
    # pipelines in different stages share one class (first-run compiles of
    # the four iterative benchmark queries: 269 -> 198). Only the class name
    # changes, never the code.
    "spark.sql.codegen.useIdInClassName": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable confs; ignore any the session rejects."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "songs-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession for local development and benchmarks.

    ``spark.sql.shuffle.partitions`` defaults to the core count: at local
    scale 200 tiny shuffle partitions are pure overhead, and AQE coalescing
    handles the in-between. On a real cluster this is overridden upward
    (2-3× total cores) by ``extra_conf``.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Compiled generated classes sit in one JVM-wide LRU cache. Spark's
        # default of 100 entries is below one pass of the registry's hot
        # sets: the four iterative benchmark queries need ~266 classes
        # (198 with useIdInClassName off, RUNTIME_CONF) and the ten headline
        # queries 171 at sf0.01, so every pass evicted what the next one
        # needed and recompiled all of it. At 1000 both sets compile 0-4
        # classes per pass from their second pass on. Cost, measured after a
        # whole-registry oracle sweep at sf0.01 (cache full) against the
        # 100-entry default: driver metaspace 214 -> 221 MB, heap after a
        # full GC 2311 -> 2349 MB, peak RSS 9.0 -> 7.9 GB. A static conf:
        # it only takes effect before the session starts, so it stays out of
        # RUNTIME_CONF, and a session created elsewhere and handed to
        # __spark_entry__ keeps Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.durability=test")
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_runtime(spark)
