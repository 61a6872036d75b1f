"""DuckDB oracle SQL is part of the fixed driver boundary: the Spark plans
and the helpers that build the oracle text may be reshaped, the emitted
oracles may not. Pins the first 16 hex digits of each oracle string's
sha256 for the families whose oracle builders share code: the tokenizers
(plans/text.py) and vector search (plans/similarity.py, plans/pq.py)."""

from __future__ import annotations

import hashlib

import pytest

from songs_etl_spark.plans import REGISTRY

PINNED = {
    "bpe_train_merges": "ec8649d593f483a0",
    "bpe_train_merges_batched": "ec8649d593f483a0",
    "bpe_train_merges_incremental": "ec8649d593f483a0",
    "bpe_segment_counts": "f3f30db834eb4648",
    "bpe_segment_counts_arrow": "f3f30db834eb4648",
    "bpe_fertility_by_lang": "dc6376607f246416",
    "wordpiece_train_merges": "8b40a579e9794edc",
    "wordpiece_segment_counts": "9198eca141cf0635",
    "ann_bruteforce_topk": "8a772aa1a7369dc1",
    "ann_ivf_probe": "74d6d21ca1b73401",
    "ann_ivf_multiprobe": "422e8630d8a74941",
    "ann_range_search_ivf": "476695178aca6681",
    "rag_context_pack": "9ef4b8d59d066614",
    "rag_context_pack_ivf": "85813494f1baaff7",
    "rag_rrf_fusion": "fac8463431c7dd8f",
    "mmr_diverse_rerank": "dd9f55f14f4e0aca",
    "knn_classify_embeddings": "3d8b22c50f633802",
    "knn_graph_ivf": "cb90a3df56994bc4",
    "hard_negative_mining": "990abeee6aa4473a",
    "embedding_neardup_lsh": "6794859c6ee77e21",
    "embedding_neardup_pairs": "6794859c6ee77e21",
    "rh_neardup_hisim": "5f833254321491f6",
    "embedding_incremental_admission": "e4ad13ba63545c91",
    "semantic_dedup": "938626a4c2f95a9d",
    "semantic_dedup_twolevel": "af95dc08a4733697",
    "lsh_recall_vs_exact": "91ecbe7511a20417",
    "ann_graph_beam_search": "66b63ca91f8b454c",
    "ann_graph_beam_search_nnd": "2c794079b968c2c0",
    "graph_ann_recall_vs_exact": "e39b05a0267f108e",
    "graph_ann_nnd_recall_vs_cell": "28daa11aed38a839",
    "knn_graph_nndescent": "23298fc1fe04fe45",
    "nndescent_recall_vs_exact": "823dfbfad325d646",
    "ann_pq_adc_topk": "6f180784929cbc60",
    "ann_ivfpq_topk": "91840ff5cd33c61b",
    "pq_recall_vs_exact": "3986ae00a3fccb4c",
    "ann_ivfpq_residual_topk": "7034abc6f6cf120f",
    "ann_ivfpq_refine_topk": "975a6b38249dedf2",
    "ann_opq_rotated_topk": "9e18973891438147",
    "opq_recall_vs_exact": "06c40cf851a5ebd4",
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_oracle_sql_pinned(name):
    digest = hashlib.sha256(REGISTRY[name].oracle.encode()).hexdigest()[:16]
    assert digest == PINNED[name]
