"""Round-9 operator contracts beyond the oracle gate: the unigram-LM EM
round's forward/backward posteriors pinned against an exact-arithmetic
(Fraction) reference AND a brute-force enumeration of every segmentation, the
interval-overlap join against a brute-force pair loop, and the composed
entity-resolution pipeline's survivorship invariants."""

from __future__ import annotations

import re
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from songs_etl_spark.plans.curation import entity_resolution_pipeline
from songs_etl_spark.plans.ranges import (
    _CHANNELS,
    _GRID_US,
    _JAN1_US,
    interval_overlap_sessions,
)
from songs_etl_spark.plans.text import (
    _BPE_END as _WP_END,
    _ULM_PIECE_MAX,
    _train_merges,
    _wordpiece_scores,
    bpe_encode_base,
    unigram_em_expected_arrow,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Unigram-LM EM round: E-step posteriors
# ---------------------------------------------------------------------------


def _float_forward_backward(w: str, p: dict[tuple[int, int], float]):
    """The exact op sequence unigram_em_expected_arrow runs per word."""
    pmax = _ULM_PIECE_MAX
    L = len(w)
    a = [0.0] * (L + 1)
    a[0] = 1.0
    for i in range(1, L + 1):
        acc = 0.0
        for j in range(max(0, i - pmax), i):
            acc = acc + a[j] * p[(j + 1, i - j)]
        a[i] = acc
    b = [0.0] * (L + 1)
    b[L] = 1.0
    for i in range(L - 1, -1, -1):
        acc = 0.0
        for k in range(i + 1, min(L, i + pmax) + 1):
            acc = acc + p[(i + 1, k - i)] * b[k]
        b[i] = acc
    z = a[L]
    return {
        (j + 1, i - j): ((a[j] * p[(j + 1, i - j)]) * b[i]) / z
        for i in range(1, L + 1)
        for j in range(max(0, i - pmax), i)
    }


def _exact_expected_counts(w: str, p: dict[tuple[int, int], Fraction]):
    """Brute-force reference: enumerate EVERY segmentation of w, weight each
    by its exact probability, accumulate per-span expected counts in
    Fraction arithmetic — no DP, no float, no op-order question."""
    pmax = _ULM_PIECE_MAX
    L = len(w)
    segs: list[tuple[tuple[tuple[int, int], ...], Fraction]] = []

    def rec(pos: int, spans: tuple, prob: Fraction):
        if pos == L:
            segs.append((spans, prob))
            return
        for ln in range(1, min(pmax, L - pos) + 1):
            rec(pos + ln, spans + ((pos + 1, ln),), prob * p[(pos + 1, ln)])

    rec(0, (), Fraction(1))
    z = sum(pr for _, pr in segs)
    out: dict[tuple[int, int], Fraction] = {}
    for spans, pr in segs:
        for sp in spans:
            out[sp] = out.get(sp, Fraction(0)) + pr / z
    return out


@pytest.mark.parametrize("word", ["a", "ab", "abab", "mississippi", "aaaaaaaa"])
def test_em_posteriors_match_exact_enumeration(word):
    # A deterministic toy piece model: p(piece) proportional to a small
    # integer derived from the piece's bytes (every substring gets mass).
    spans = [
        (s + 1, ln)
        for s in range(len(word))
        for ln in range(1, min(_ULM_PIECE_MAX, len(word) - s) + 1)
    ]
    weights = {sp: 1 + (sum(word.encode()[sp[0] - 1 : sp[0] - 1 + sp[1]]) % 7) for sp in spans}
    tot = sum(weights.values())
    p_float = {sp: wgt / tot for sp, wgt in weights.items()}
    p_exact = {sp: Fraction(wgt, tot) for sp, wgt in weights.items()}

    got = _float_forward_backward(word, p_float)
    want = _exact_expected_counts(word, p_exact)
    assert set(got) == set(want)
    for sp in got:
        assert got[sp] == pytest.approx(float(want[sp]), rel=1e-11)
    # Conservation: total expected pieces lies in [ceil(L/pmax), L].
    total = sum(want.values())
    assert len(word) / _ULM_PIECE_MAX <= total <= len(word)


def test_em_arrow_matches_reference_loops(spark):
    """The shipped Arrow kernel emits exactly _float_forward_backward's
    doubles (bit-equal — same op sequence), for every distinct word of the
    testdata corpus under its real round-0 model."""
    from songs_etl_spark.functions.text import tokens

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flat = docs.select(F.explode(tokens("text")).alias("word"))
    wfreq = flat.groupBy("word").agg(F.count("*").alias("freq"))
    words = [r["word"] for r in wfreq.collect()]
    # Round-0 model: occurrence-weighted substring counts (the plan's).
    freqs = {r["word"]: r["freq"] for r in wfreq.collect()}
    cnt: dict[str, int] = {}
    for w, f in freqs.items():
        for s in range(len(w)):
            for ln in range(1, min(_ULM_PIECE_MAX, len(w) - s) + 1):
                cnt[w[s : s + ln]] = cnt.get(w[s : s + ln], 0) + f
    total = float(sum(cnt.values()))
    per_word = spark.createDataFrame(
        [
            (
                w,
                freqs[w],
                [
                    {"s": s + 1, "l": ln, "p": cnt[w[s : s + ln]] / total}
                    for s in range(len(w))
                    for ln in range(1, min(_ULM_PIECE_MAX, len(w) - s) + 1)
                ],
            )
            for w in words
        ],
        "word string, freq long, cands array<struct<s:int,l:int,p:double>>",
    )
    got = {
        (r["word"], r["s"], r["l"]): r["e"]
        for r in unigram_em_expected_arrow(per_word).collect()
    }
    for w in words:
        p = {
            (s + 1, ln): cnt[w[s : s + ln]] / total
            for s in range(len(w))
            for ln in range(1, min(_ULM_PIECE_MAX, len(w) - s) + 1)
        }
        want = _float_forward_backward(w, p)
        for (s, ln), e in want.items():
            assert got[(w, s, ln)] == e  # bit-equal, not approx


# ---------------------------------------------------------------------------
# Interval × interval overlap join
# ---------------------------------------------------------------------------


def test_interval_overlap_matches_bruteforce(spark):
    # Load through the catalog: the testdata's ts physical type drifts
    # across driver generations (TIMESTAMP_NTZ vs nanos — see
    # sources/catalog.py); unix_micros below needs the normalized TIMESTAMP.
    from songs_etl_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        ev.withColumn(
            "new_session",
            F.when(
                F.col("ts") <= F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTE"),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("s0"),
            F.max(F.unix_micros("ts")).alias("s1"),
        )
        .collect()
    )
    campaigns = [
        (name, _JAN1_US + off + i * period, _JAN1_US + off + length + i * period)
        for (name, n, off, period, length) in _CHANNELS
        for i in range(n)
    ]
    want = {}
    for name, c0, c1 in campaigns:
        n_sess, users, overlap = 0, set(), 0
        for r in sessions:
            if r["s0"] < c1 and r["s1"] >= c0:
                n_sess += 1
                users.add(r["user_id"])
                overlap += min(r["s1"], c1) - max(r["s0"], c0)
        want[(name, c0)] = (n_sess, len(users), overlap)
    got = {
        (r["channel"], r["campaign_us"]): (r["n_sessions"], r["n_users"], r["overlap_us"])
        for r in interval_overlap_sessions(spark, SF_DIR).collect()
    }
    assert got == want
    # The grid really is exercised: some campaign spans multiple cells.
    assert any((c1 - 1) // _GRID_US > c0 // _GRID_US for _, c0, c1 in campaigns)


# ---------------------------------------------------------------------------
# Content-defined chunking: shift robustness
# ---------------------------------------------------------------------------


def _cdc_cuts(spark, rows):
    from songs_etl_spark.plans.dedup import _CDC_D, _CDC_W, _cdc_hash_sql

    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("cdc_docs")
    got = spark.sql(
        f"""SELECT doc_id, i FROM (
                SELECT doc_id, text,
                       explode(sequence(CAST({_CDC_W} AS BIGINT),
                                        CAST(length(text) AS BIGINT))) AS i
                FROM cdc_docs WHERE length(text) >= {_CDC_W}
            ) WHERE ({_cdc_hash_sql("i")}) % {_CDC_D} = 0"""
    ).collect()
    out: dict[int, set[int]] = {}
    for r in got:
        out.setdefault(r["doc_id"], set()).add(r["i"])
    return out


def test_cdc_boundaries_resync_after_insertion(spark):
    """The CDC property fixed-size windows lack: prepend one character and
    every cut point simply shifts by one — the rolling hash depends only on
    the trailing W chars, so boundaries re-synchronize after at most one
    window and all downstream chunks dedup against the original."""
    from songs_etl_spark.plans.dedup import _CDC_W

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .orderBy("doc_id")
        .limit(8)
        .collect()
    )
    base = " ".join(r["text"] for r in docs)
    cuts = _cdc_cuts(spark, [(0, base), (1, "Z" + base)])
    c0, c1 = cuts[0], cuts[1]
    assert len(c0) >= 5  # the corpus text actually produces cut points
    # every original cut reappears shifted by exactly one...
    assert {i + 1 for i in c0} <= c1
    # ...and any NEW cut lives inside the first (perturbed) window only.
    assert c1 - {i + 1 for i in c0} <= set(range(_CDC_W, _CDC_W + 1))


# ---------------------------------------------------------------------------
# Composed entity resolution
# ---------------------------------------------------------------------------


def test_entity_resolution_survivorship_invariants(spark):
    out = entity_resolution_pipeline(spark, SF_DIR).collect()
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    assert len(out) == len(docs)  # total function: every doc mapped once
    by_entity: dict[int, list] = {}
    for r in out:
        by_entity.setdefault(r["entity_id"], []).append(r)
    n_multi = 0
    for eid, members in by_entity.items():
        canon = {r["canonical_id"] for r in members}
        assert len(canon) == 1  # one canonical per entity
        cid = canon.pop()
        assert cid in {r["doc_id"] for r in members}  # canonical is a member
        # Survivorship rule: max n_chars, ties to smallest doc_id.
        best = min((-docs[r["doc_id"]], r["doc_id"]) for r in members)[1]
        assert cid == best
        for r in members:
            assert r["is_canonical"] == (r["doc_id"] == cid)
        if len(members) > 1:
            n_multi += 1
    assert n_multi > 0  # blocking found real clusters at sf0.001


# ---------------------------------------------------------------------------
# WordPiece trainer: bit-equality against a pure-Python likelihood reference
# ---------------------------------------------------------------------------

_WP_SYMS = re.compile(r"\{([^}]*)\}")


def _py_wordpiece(wordfreq: list[tuple[str, int]], rounds: int):
    """Independent sequential WordPiece reference: per round, pair counts +
    symbol counts (freq-weighted), argmax of cnt/(ca*cb) — computed as the
    same single IEEE division the Spark and DuckDB sides use — ties broken
    by (a, b) ascending, then greedy left-to-right brace replace."""
    enc = {
        w: "".join("{%s}" % c for c in w) + "{%s}" % _WP_END for w, _ in wordfreq
    }
    freqs = dict(wordfreq)
    out = []
    for r in range(rounds):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for w, p in enc.items():
            syms = _WP_SYMS.findall(p)
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + freqs[w]
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pair_counts[k] = pair_counts.get(k, 0) + freqs[w]
        if not pair_counts:
            break
        scored = {
            (a, b): cnt / float(sym_counts[a] * sym_counts[b])
            for (a, b), cnt in pair_counts.items()
        }
        (a, b), score = min(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        cnt = pair_counts[(a, b)]
        out.append(
            (
                r + 1,
                a,
                b,
                cnt,
                sym_counts[a],
                sym_counts[b],
                score,
                a + b,
            )
        )
        pat, rep = "{%s}{%s}" % (a, b), "{%s}" % (a + b)
        enc = {w: p.replace(pat, rep) for w, p in enc.items()}
    return out


WP_CORPORA = {
    # The discriminating case: ('th' appears 10x but t,e are everywhere;
    # 'qu' appears 3x on rare symbols) — BPE picks the frequent pair,
    # WordPiece must pick the high-likelihood rare pair.
    "likelihood_vs_frequency": [
        ("the", 10),
        ("ten", 10),
        ("tet", 5),
        ("qu", 3),
    ],
    # exact score tie between two pairs — binary (a, b) tie-break decides
    "score_tie": [("ab", 2), ("cd", 2), ("xx", 1)],
    # self-pair: (a, a) score uses count(a) squared
    "self_pair_wp": [("aaaa", 3), ("aab", 2)],
    # chain where an early merge changes later symbol counts
    "count_shift": [("abc", 6), ("bcd", 4), ("ab", 1), ("cd", 1)],
    # zero-row vocabulary: no candidates, no merge rows, no error
    "empty": [],
}


@pytest.mark.parametrize("name", sorted(WP_CORPORA))
def test_wordpiece_matches_python_reference(spark, name):
    corpus = WP_CORPORA[name]
    base = bpe_encode_base(
        spark.createDataFrame(corpus, "word string, freq bigint")
    ).localCheckpoint(eager=True)
    rows, words, _ = _train_merges(base, 6, _wordpiece_scores, "score")
    words.unpersist()
    assert rows == _py_wordpiece(corpus, rounds=6)


def test_wordpiece_diverges_from_bpe_when_likelihood_says_so(spark):
    """On the discriminating corpus the two criteria pick different first
    merges — guards against the trainer silently degenerating into BPE."""
    corpus = WP_CORPORA["likelihood_vs_frequency"]
    base = bpe_encode_base(
        spark.createDataFrame(corpus, "word string, freq bigint")
    ).localCheckpoint(eager=True)
    wp_rows, wp_words, _ = _train_merges(base, 1, _wordpiece_scores, "score")
    bpe_rows, bpe_words, _ = _train_merges(base, 1)
    wp_words.unpersist()
    bpe_words.unpersist()
    assert (wp_rows[0][1], wp_rows[0][2]) != (bpe_rows[0][1], bpe_rows[0][2])
