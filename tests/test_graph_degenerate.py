"""Degenerate-input leg for the iterative graph queries (plans/graphs.py):
with the lineitem table empty the co-purchase and purchase graphs have no
edge, and every query must still match its DuckDB oracle and raise
nothing. The other tables are the sf0.001 originals."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from conftest import SF_DIR

from songs_etl_spark.plans._util import clear_tracked_persists
from tools import oracle_check

QUERIES = (
    "ktruss_edge_peel",
    "kcore_decomposition_peel",
    "hits_hubs_authorities",
    "graph_bfs_distance",
    "closeness_centrality_sampled",
    "ppr_part_recommendations",
    "modularity_lpa_communities",
    "louvain_one_level",
    "louvain_levels",
)


@pytest.fixture(scope="module")
def empty_graph(spark, tmp_path_factory):
    clear_tracked_persists()
    root = tmp_path_factory.mktemp("graph_degenerate")
    d = root / "tables"
    d.mkdir()
    staging = str(root / "staging")
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).limit(0).coalesce(1).write.parquet(
        staging
    )
    (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
    shutil.move(part, d / "lineitem.parquet")
    for table in oracle_check.TABLES:
        if table != "lineitem":
            os.symlink(os.path.join(SF_DIR, f"{table}.parquet"), d / f"{table}.parquet")
    con = oracle_check.duckdb_connection(str(d))
    yield str(d), con
    con.close()
    clear_tracked_persists()


@pytest.mark.parametrize("query", QUERIES)
def test_empty_graph_matches_oracle(spark, empty_graph, query):
    sf_dir, con = empty_graph
    res = oracle_check.compare(query, spark, con, sf_dir)
    assert res["ok"], res.get("error")
