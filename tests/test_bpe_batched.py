"""Property tests: the merge-trainer loop (plans/text._train_merges) is
bit-equal to sequential greedy BPE at k=1 and with top-K conflict-free
merges per driver round (k > 1) on adversarial corpora — ties, overlapping
pairs ('abab'), shared symbols — where a wrong batch-selection rule would
diverge.

The independent reference below is a ~20-line pure-Python sequential BPE
over the same brace encoding (greedy left-to-right str.replace — the exact
semantics of Spark's F.replace and DuckDB's replace on brace-encoded
strings), so the equality pins the Spark loop against an independent
implementation at every k."""

from __future__ import annotations

import random
import re

import pytest

from songs_etl_spark.plans.text import (
    _BPE_END,
    _conflict_free_batch,
    _train_merges,
    bpe_encode_base,
)

_SYMS = re.compile(r"\{([^}]*)\}")


def _py_sequential_bpe(wordfreq: list[tuple[str, int]], rounds: int):
    """Independent sequential reference: (merge_rank, a, b, cnt, merged)."""
    enc = {w: "".join("{%s}" % c for c in w) + "{%s}" % _BPE_END for w, _ in wordfreq}
    freqs = dict(wordfreq)
    out = []
    for r in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for w, p in enc.items():
            syms = _SYMS.findall(p)
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                counts[k] = counts.get(k, 0) + freqs[w]
        if not counts:
            break
        # argmax by (cnt DESC, a ASC, b ASC)
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r + 1, a, b, cnt, a + b))
        pat, rep = "{%s}{%s}" % (a, b), "{%s}" % (a + b)
        enc = {w: p.replace(pat, rep) for w, p in enc.items()}
    return out


def _spark_batched(spark, wordfreq, rounds, k):
    base = bpe_encode_base(
        spark.createDataFrame(wordfreq, "word string, freq bigint")
    ).localCheckpoint(eager=True)
    rows, words, _ = _train_merges(base, rounds, k=k)
    words.unpersist()
    return rows


CORPORA = {
    # overlapping self-pair chains: 'abab...' makes (a,b) and (b,a) collide
    "overlap_chain": [("ababab", 3), ("abab", 2), ("ba", 5)],
    # exact tie between two DISJOINT pairs — both may batch, order must hold
    "disjoint_tie": [("ab", 4), ("cd", 4), ("ef", 1)],
    # exact tie between two CONFLICTING pairs (share 'b') — only one may apply
    "conflict_tie": [("ab", 4), ("bc", 4), ("dd", 1)],
    # repeated single symbol: (a,a) self-merge, greedy non-overlap semantics
    "self_pair": [("aaaa", 3), ("aaa", 2)],
    # merge-creates-winner: after (a,b)->ab, pair (ab,c) should win next
    "created_winner": [("abc", 6), ("ab", 1), ("xy", 4)],
    # zero-row vocabulary: no candidates, no merge rows, no error
    "empty": [],
}


@pytest.mark.parametrize("name", sorted(CORPORA))
@pytest.mark.parametrize("k", [1, 2, 4])
def test_batched_equals_reference_adversarial(spark, name, k):
    wf = CORPORA[name]
    assert _spark_batched(spark, wf, 6, k) == _py_sequential_bpe(wf, 6)


def test_random_corpora_three_way(spark):
    """Randomized small-alphabet corpora (maximal tie/conflict density):
    batched == python reference for several seeds and K values, and the
    sequential (k=1) loop agrees on one of them (three-way consistency)."""
    rng = random.Random(1234)
    for trial in range(4):
        n_words = rng.randint(3, 7)
        wf_map: dict[str, int] = {}
        for _ in range(n_words):
            w = "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
            wf_map[w] = wf_map.get(w, 0) + rng.randint(1, 5)
        wf = sorted(wf_map.items())
        ref = _py_sequential_bpe(wf, 5)
        k = [2, 3, 5, 8][trial]
        assert _spark_batched(spark, wf, 5, k) == ref, (trial, wf)
        if trial == 0:
            base = bpe_encode_base(
                spark.createDataFrame(wf, "word string, freq bigint")
            ).localCheckpoint(eager=True)
            rows, words, _ = _train_merges(base, 5)
            words.unpersist()
            assert rows == ref


def test_conflict_free_batch_rule():
    """Unit pins on the selection rule itself (no Spark)."""

    def row(a, b, cnt):
        return {"a": a, "b": b, "cnt": cnt}

    # disjoint prefix accepted, conflict stops the scan, tie with the
    # rejected candidate truncates back to strictly-greater counts
    cands = [row("a", "b", 9), row("c", "d", 7), row("b", "x", 7)]
    assert _conflict_free_batch(cands, 4) == [cands[0]]
    # strictly above the conflict count → both survive
    cands = [row("a", "b", 9), row("c", "d", 8), row("b", "x", 7)]
    assert _conflict_free_batch(cands, 4) == cands[:2]
    # window exhaustion: the (k+1)-th candidate is only a bound — a tie with
    # it truncates, a strictly-lower count does not
    cands = [row("a", "b", 9), row("c", "d", 8), row("e", "f", 8)]
    assert _conflict_free_batch(cands, 2) == [cands[0]]
    cands = [row("a", "b", 9), row("c", "d", 8), row("e", "f", 7)]
    assert _conflict_free_batch(cands, 2) == cands[:2]
    # truncation emptying the batch falls back to the plain argmax
    cands = [row("a", "b", 7), row("b", "x", 7)]
    assert _conflict_free_batch(cands, 4) == [cands[0]]
