"""The tokenizer family's DuckDB oracle SQL is part of the fixed driver
boundary: the trainers and encoders may be reshaped, their oracles may not.
Pins the first 16 hex digits of each oracle string's sha256."""

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
}


@pytest.mark.parametrize("name", sorted(PINNED))
def test_oracle_sql_pinned(name):
    digest = hashlib.sha256(REGISTRY[name].oracle.encode()).hexdigest()[:16]
    assert digest == PINNED[name]
