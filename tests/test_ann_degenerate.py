"""Degenerate-input leg for the vector-search and clustering families
(plans/similarity.py, plans/pq.py and plans/clustering.py): every query must match its DuckDB oracle — and raise nothing —
when the embeddings table is empty, has no query rows (vec_id < 10), or holds
a single row. The other tables are the sf0.001 originals."""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import sys

import pytest

from conftest import SF_DIR
from songs_etl_spark.plans import REGISTRY
from songs_etl_spark.plans._util import clear_tracked_persists

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "oracle_check.py"),
)
oracle_check = sys.modules.setdefault("oracle_check", importlib.util.module_from_spec(_spec))
if not hasattr(oracle_check, "compare"):
    _spec.loader.exec_module(oracle_check)

ANN_QUERIES = sorted(
    name
    for name, spec in REGISTRY.items()
    if spec.fn.__module__.rsplit(".", 1)[-1] in ("similarity", "pq", "clustering")
)

VARIANTS = {
    "zero_rows": lambda emb: emb.limit(0),
    "no_queries": lambda emb: emb.filter("vec_id >= 10"),
    "one_row": lambda emb: emb.orderBy("vec_id").limit(1),
}


@pytest.fixture(scope="module")
def variants(spark, tmp_path_factory):
    """One directory per variant: a Spark-written single-file embeddings
    table next to links to the unchanged sf0.001 tables."""
    clear_tracked_persists()
    root = tmp_path_factory.mktemp("ann_degenerate")
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = {}
    for name, make in VARIANTS.items():
        d = root / name
        d.mkdir()
        staging = str(root / f"{name}_staging")
        make(emb).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
        shutil.move(part, d / "embeddings.parquet")
        for table in oracle_check.TABLES:
            if table != "embeddings":
                os.symlink(os.path.join(SF_DIR, f"{table}.parquet"), d / f"{table}.parquet")
        out[name] = (str(d), oracle_check.duckdb_connection(str(d)))
    yield out
    for _, con in out.values():
        con.close()
    clear_tracked_persists()


@pytest.mark.parametrize("query", ANN_QUERIES)
@pytest.mark.parametrize("variant", sorted(VARIANTS))
def test_degenerate_embeddings_match_oracle(spark, variants, variant, query):
    sf_dir, con = variants[variant]
    res = oracle_check.compare(query, spark, con, sf_dir)
    assert res["ok"], res.get("error")
