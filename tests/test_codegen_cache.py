"""Generated classes are reused across runs of one query in a session.

louvain_one_level compiles about 180 whole-stage classes on its first run,
more than Spark's default codegen cache (100 entries) holds, so with the
default every run recompiled most of them. ``get_spark`` sizes the cache to
the registry's working set; a second run must then compile only a small
fraction of what the first did.
"""

from __future__ import annotations

from conftest import SF_DIR

from songs_etl_spark.plans._util import clear_tracked_persists
from songs_etl_spark.plans.graphs import louvain_one_level


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark) -> int:
    clear_tracked_persists()
    before = _compiles(spark)
    louvain_one_level(spark, SF_DIR).write.mode("overwrite").format("noop").save()
    return _compiles(spark) - before


def test_second_louvain_run_reuses_generated_classes(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    first = _run(spark)
    second = _run(spark)
    assert second * 4 <= first, (first, second)
