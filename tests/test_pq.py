"""PQ-ADC invariants beyond the registered oracle: encode determinism,
codebook geometry, ADC-vs-exact sanity, and plan shape (Arrow passes, no
nested loop)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from songs_etl_spark.operators.clustering import assign_arrow, quantize_micro, train_centroids
from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans._util import t
from songs_etl_spark.plans.pq import _PQ_DSUB, _PQ_ITER, _PQ_KS, _PQ_M

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return t(spark, SF, "embeddings").select(
        "vec_id", quantize_micro("embedding").alias("emb")
    )


def _books(emb):
    return train_centroids(emb, _PQ_KS, _PQ_ITER, subspaces=_PQ_M)


def test_codebook_geometry(emb):
    books = _books(emb)
    assert len(books) == _PQ_M
    for book in books:
        assert 1 <= len(book) <= _PQ_KS
        for cid, cent in book:
            assert 1 <= cid <= _PQ_KS and len(cent) == _PQ_DSUB


def test_encode_is_deterministic_and_total(spark, emb):
    books = _books(emb)
    n = emb.count()
    a = {r.vec_id: tuple(r[f"code_{j}"] for j in range(_PQ_M))
         for r in assign_arrow(emb, books).collect()}
    b = {r.vec_id: tuple(r[f"code_{j}"] for j in range(_PQ_M))
         for r in assign_arrow(emb.repartition(7), books).collect()}
    assert len(a) == n and a == b  # partitioning-independent
    valid = {cid for book in books for cid, _ in book}
    assert all(c in valid for codes in a.values() for c in codes)


def test_adc_identical_vector_hits_the_distance_floor(spark):
    """A candidate bit-identical to a query gets the query's own codes, so
    its ADC distance is the minimum achievable for that query — it must
    rank first (tie-broken by id)."""
    import random

    from songs_etl_spark.plans.pq import pq_adc_topk

    rng = random.Random(3)
    rows = [(vid, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for vid in range(32)]
    rows.append((100, list(rows[2][1])))  # exact copy of query 2
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    emb = df.select("vec_id", quantize_micro("embedding").alias("emb"))
    got = pq_adc_topk(emb, query_max_id=3, topk=40).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    assert sorted(by_q) == [0, 1, 2]
    copy_row = next(r for r in by_q[2] if r.neighbor_id == 100)
    # the copy carries the query's own codes, so its ADC distance is the
    # per-query floor (sum of per-subspace minima); nothing scores below it
    # — other candidates may TIE it (4^M code tuples collide), never beat it
    assert all(r.adc_dist >= copy_row.adc_dist for r in by_q[2])
    top2 = min(by_q[2], key=lambda r: r.rank)
    assert top2.adc_dist == copy_row.adc_dist


def test_registered_pq_plan_has_no_nested_loop(spark):
    df = REGISTRY["ann_pq_adc_topk"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # the encode/score Arrow passes
