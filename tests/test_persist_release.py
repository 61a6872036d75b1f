"""One persist memo: every relation a registry query persists or cuts is
released by ``clear_tracked_persists()`` alone — the near-dup shingle
relation, the persists of the five queries that used to call ``persist()``
untracked, and the local checkpoints of four iterative queries."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans._util import clear_tracked_persists
from songs_etl_spark.plans.dedup import _shingle_docs

QUERIES = (
    "dedup_minhash_lsh",
    "dsir_importance_weights",
    "dedup_simhash_hamming",
    "misra_gries_heavy_tokens",
    "important_part_stock",
    "part_hierarchy_rollup",
    "ktruss_edge_peel",
    "hits_hubs_authorities",
    "dedup_connected_components",
)


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", QUERIES)
def test_clear_releases_every_persist(spark, name):
    clear_tracked_persists()
    before = _persisted(spark)
    REGISTRY[name].fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
    assert _persisted(spark) - before, f"{name} persisted nothing; the probe would pass vacuously"
    clear_tracked_persists()
    assert not _persisted(spark) - before


def test_shingle_memo_is_shared_and_released(spark):
    clear_tracked_persists()
    before = _persisted(spark)
    sh = _shingle_docs(spark, SF_DIR)
    assert _shingle_docs(spark, SF_DIR) is sh
    sh.count()
    assert _persisted(spark) - before
    clear_tracked_persists()
    assert not _persisted(spark) - before


STREAMING = (
    "streaming_foreachbatch_upsert",
    "streaming_dedup_admission",
    "streaming_indexed_admission",
)


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_sinks_release_their_checkpoints(spark, name):
    """The foreachBatch sinks checkpoint eagerly and release each checkpoint
    once their batch's writes are done: none outlives the query."""
    clear_tracked_persists()
    before = _persisted(spark)
    REGISTRY[name].fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = [i for i in _persisted(spark) - before if rdds.get(i).rdd().isLocallyCheckpointed()]
    assert not left, f"{name} left checkpoint RDDs {left}"
