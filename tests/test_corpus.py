"""tools/corpus.py builds disjoint replicas (keys unique, foreign keys closed,
no verbatim vector copies beyond the planted mega-group), and the one
query-timing loop of tools/perf_profile.py reports both phases."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from songs_etl_spark.plans import REGISTRY
from tools import corpus as corpus_mod
from tools.corpus import HUB_PARTKEY, MEGA_COPIES
from tools.perf_profile import time_queries


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_x2"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(corpus_mod, "OUT_FILES", 4)  # tiny tables: 4 files each is enough
        corpus_mod.build(spark, SF_DIR, out, 2)
    return lambda table: spark.read.parquet(f"{out}/{table}.parquet")


def test_primary_keys_unique_and_doubled(spark, corpus):
    for table, keys in (
        ("orders", ["o_orderkey"]),
        ("customer", ["c_custkey"]),
        ("part", ["p_partkey"]),
        ("events", ["event_id"]),
        ("documents", ["doc_id"]),
        ("embeddings", ["vec_id"]),
    ):
        n, n_keys = corpus(table).agg(F.count("*"), F.countDistinct(*keys)).first()
        base = spark.read.parquet(f"{SF_DIR}/{table}.parquet").count()
        assert n == n_keys == 2 * base + (MEGA_COPIES if table == "embeddings" else 0), table


def test_foreign_keys_closed(corpus):
    def dangling(child, fk, parent, pk):
        keys = corpus(parent).select(F.col(pk).alias(fk))
        return corpus(child).join(keys, fk, "left_anti")

    assert dangling("lineitem", "l_orderkey", "orders", "o_orderkey").count() == 0
    assert dangling("orders", "o_custkey", "customer", "c_custkey").count() == 0
    orphans = dangling("lineitem", "l_partkey", "part", "p_partkey")
    assert orphans.filter(F.col("l_partkey") != HUB_PARTKEY).count() == 0
    assert orphans.count() > 0  # the planted hub


def test_only_the_mega_group_repeats_a_vector(corpus):
    groups = (
        corpus("embeddings")
        .groupBy("embedding")
        .agg(F.count("*").alias("n"), F.min("vec_id").alias("first"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert [(g["n"], g["first"]) for g in groups] == [(MEGA_COPIES + 1, 0)]


def test_timing_loop_splits_build_and_exec(spark):
    name = "pricing_summary"
    out = time_queries(spark, {name: REGISTRY[name].fn}, SF_DIR, 1)
    assert out["sf"] == SF_DIR and out["reps"] == 1
    total, build_s, exec_s = out["queries"][name], out["build_s"][name], out["exec_s"][name]
    assert min(build_s, exec_s) >= 0 and abs(build_s + exec_s - total) < 0.01
    assert out["total"] == total and len(out["passes"]) == 1
    assert isinstance(out["compiles"][name], int)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup(f"q:{name}:exec")
