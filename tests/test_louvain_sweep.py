"""The shared Louvain sweep: its before-numerator against the edge-joining
Q numerator, and the unit-weight graph both Louvain queries persist once."""

from __future__ import annotations

from conftest import SF_DIR
from pyspark.sql import functions as F

from songs_etl_spark.plans import _util
from songs_etl_spark.plans.graphs import (
    _q_num,
    _unit_graph,
    _wl_sweep,
    label_propagation_communities,
    louvain_levels,
    louvain_one_level,
)


def _lpa_labels(spark):
    return label_propagation_communities(spark, SF_DIR).select(
        F.col("part_key").alias("node"), F.col("community").alias("label")
    )


def _tracked():
    return [df for bucket in _util._TRACKED_PERSISTS.values() for df in bucket]


def test_sweep_before_numerator_equals_q_num(spark):
    """_wl_sweep reads the Q numerator of its input labels off kuc/dsum;
    on a graph without self-loops it must equal the numerator computed by
    joining every edge to both endpoint labels. At this scale LPA merges
    every part into one community (numerator 0), so a five-community
    labelling checks the identity with nonzero terms too."""
    und, pairs, deg, mm = _unit_graph(spark, SF_DIR)
    lpa = _lpa_labels(spark)
    mod5 = lpa.select("node", (F.col("node") % 5).alias("label"))
    for labels in (lpa, mod5):
        got = _wl_sweep(pairs, deg, mm, labels).num_before.first()["num_before"]
        want = _q_num(und, deg, mm, labels, "num").first()["num"]
        assert want is not None
        assert got == want
    assert want != 0


def test_louvain_queries_share_one_unit_pairs_persist(spark):
    """louvain_one_level then louvain_levels in one session: the
    unit-weight (src, dst, w) edge relation is persisted once and reused,
    next to the coarse graph's own (src, dst, w) relation."""
    _util.clear_tracked_persists()
    louvain_one_level(spark, SF_DIR)
    [pairs] = [df for df in _tracked() if df.columns == ["src", "dst", "w"]]
    louvain_levels(spark, SF_DIR)
    weighted = [df for df in _tracked() if df.columns == ["src", "dst", "w"]]
    twins = [df for df in weighted if df.sameSemantics(pairs)]
    assert len(twins) == 1 and twins[0] is pairs
    assert len(weighted) == 2  # unit pairs + the coarsened graph's pairs
