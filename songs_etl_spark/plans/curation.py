"""Corpus-curation operators — the document-selection half of a training-data
pipeline: heuristic quality gates (Gopher-style), within-doc repetition
scoring, eval-set decontamination, SimHash Hamming near-dup, and keep-best
canonical selection over duplicate clusters.

The reference (a playlist ETL) has none of these; they are the operations a
100 TB text corpus needs between "scanned" and "trainable". All pure
DataFrame expressions — map-side projections and keyed aggregations, each
with a DuckDB oracle. Threshold constants are calibrated to the synthetic
documents table (tiny ~31-word vocabulary) so both keep and drop branches are
exercised; production values differ but the plan shapes don't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from songs_etl_spark.functions.text import has_min_tokens, has_token, tokens, word_shingles
from songs_etl_spark.operators.graph import connected_components
from songs_etl_spark.plans._util import spread, t, track_persist
from songs_etl_spark.plans.dedup import (
    _CC_ORACLE,
    _ngram_jaccard_pairs,
    _shingle_docs,
    BUCKET_CAP,
    DUCKDB_SIMHASH_FP,
    SNM_MAX_DIST,
    SNM_PREFIX,
    SNM_WINDOW,
    simhash_fingerprints,
)
from songs_etl_spark.plans.registry import register
# imported for its registration side effect: _feature_matrix_oracle() reads
# doc_unigram_logprob's oracle from REGISTRY at module-import time, so the
# dependency must not hinge on plans/__init__.py import order
from songs_etl_spark.plans import text as _text  # noqa: F401

_DUCKDB_TOKS = """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok
            FROM documents
        )
"""

#: Stopword list for the quality gate (the synthetic vocabulary's function
#: words; a production pipeline plugs in a real list — same expression).
_STOPWORDS = ("the", "a", "of", "to", "and")

#: Quality gates (Rae et al. 2021 "Gopher" §A.2-style heuristics, thresholds
#: fitted to the synthetic corpus so ~both branches populate).
_MIN_WORDS = 30
_MEAN_WORD_LEN_RANGE = (3.0, 10.0)
_MIN_STOP_FRAC = 0.02
_MIN_DISTINCT_RATIO = 0.35


@register(
    "gopher_quality_filter",
    doc="Gopher-style heuristic quality gates: word count, mean word length, "
    "stopword fraction, vocabulary richness -> keep flag",
    oracle=f"""
        {_DUCKDB_TOKS}
        , stats AS (
            SELECT doc_id,
                   CAST(len(tok) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(tok, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)
                       / len(tok) AS mean_word_len,
                   CAST(len(list_filter(tok, t -> t IN {_STOPWORDS})) AS DOUBLE)
                       / len(tok) AS stop_frac,
                   CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS distinct_ratio
            FROM toks WHERE len(tok) > 0
        )
        SELECT doc_id, n_words, mean_word_len, stop_frac, distinct_ratio,
               (n_words >= {_MIN_WORDS}
                AND mean_word_len BETWEEN {_MEAN_WORD_LEN_RANGE[0]} AND {_MEAN_WORD_LEN_RANGE[1]}
                AND stop_frac >= {_MIN_STOP_FRAC}
                AND distinct_ratio >= {_MIN_DISTINCT_RATIO}) AS keep
        FROM stats
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + conjunctive keep flag, entirely
    map-side (one projection over the token array, no shuffle, no Python) —
    the shape that filters a 100 TB corpus in a single scan. Ratios are
    exact-integer-sum ÷ count, bit-identical across engines."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = tokens("text")
    base = docs.filter(has_token("text")).select("doc_id", tok.alias("tok"))
    n_words = F.size("tok").cast("bigint")
    sum_len = F.aggregate(
        F.transform("tok", lambda s: F.length(s).cast("bigint")), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    n_stop = F.size(F.filter("tok", lambda s: s.isin(*_STOPWORDS)))
    n_distinct = F.size(F.array_distinct("tok"))
    stats = base.select(
        "doc_id",
        n_words.alias("n_words"),
        (sum_len.cast("double") / n_words).alias("mean_word_len"),
        (n_stop.cast("double") / n_words).alias("stop_frac"),
        (n_distinct.cast("double") / n_words).alias("distinct_ratio"),
    )
    keep = (
        (F.col("n_words") >= _MIN_WORDS)
        & F.col("mean_word_len").between(*_MEAN_WORD_LEN_RANGE)
        & (F.col("stop_frac") >= _MIN_STOP_FRAC)
        & (F.col("distinct_ratio") >= _MIN_DISTINCT_RATIO)
    )
    return stats.withColumn("keep", keep)


@register(
    "doc_ngram_repetition",
    doc="within-doc duplicate 5-gram fraction (Gopher repetition filter)",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_transform(range(1, len(tok) - 3),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3] || ' ' || tok[i+4]
                   ) AS g
            FROM toks WHERE len(tok) >= 5
        )
        SELECT doc_id,
               CAST(len(g) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
               1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS dup_frac
        FROM grams
    """,
)
def doc_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 5-gram fraction per document — the classic repetition gate
    (a doc that repeats its own n-grams is boilerplate/spam). Map-side only:
    the n-gram array never explodes to rows, so the operator adds zero
    shuffle at any corpus size."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    base = docs.filter(has_min_tokens("text", 5)).select(
        "doc_id", tokens("text").alias("tok")
    )
    grams = word_shingles(F.col("tok"), 5)
    n_grams = F.size(grams).cast("bigint")
    n_distinct = F.size(F.array_distinct(grams)).cast("bigint")
    return base.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        (F.lit(1.0) - n_distinct.cast("double") / n_grams).alias("dup_frac"),
    )


#: Docs whose id hashes into the held-out bucket act as the eval set.
_EVAL_MOD = 97


@register(
    "decontaminate_ngram_overlap",
    doc="train/eval decontamination: training docs sharing token 3-grams with "
    "the held-out eval set, with overlap counts",
    oracle=f"""
        {_DUCKDB_TOKS}
        , grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(tok) - 1),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])) AS g
            FROM toks WHERE len(tok) >= 3
        ), eval_grams AS (
            SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % {_EVAL_MOD} = 0
        ), train_flat AS (
            SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % {_EVAL_MOD} <> 0
        )
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
        FROM train_flat t JOIN eval_grams e USING (gram)
        GROUP BY t.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share token
    n-grams with a held-out eval set (the standard pre-training hygiene
    step). The eval side's distinct n-grams are small by construction →
    broadcast; the training side streams through one equi-join + one keyed
    count, so the scan side never shuffles its text. n=3 here because the
    synthetic vocabulary is ~31 words (real pipelines use 8-13-gram overlap;
    same plan, longer shingles).

    Reads the session-cached shingle relation (plans/dedup._shingle_docs),
    deliberately: exploding a freshly-built shingle ARRAY EXPRESSION makes
    Generate re-evaluate the deep tokenize+shingle tree without the common-
    subexpression elimination Project gets — measured 18 s vs ~1 s over
    5,000 docs. Exploding the materialized relation is a plain column read,
    and every near-dup query in the session shares the one build."""
    grams = _shingle_docs(spark, sf_dir)
    eval_grams = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    train_flat = grams.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    return (
        train_flat.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_ngrams"))
    )


_HAMMING_MAX = 3
_SIM_BANDS = 4  # 4 bands × 16 bits


@register(
    "dedup_simhash_hamming",
    doc="SimHash near-dup pairs: banded Hamming-ball candidates (pigeonhole-"
    "exact for distance <= 3) + exact Hamming verify",
    oracle=DUCKDB_SIMHASH_FP
    + f"""
        , bands AS (
            SELECT doc_id, CAST(b AS INT) AS band,
                   substr(simhash64, CAST(b * 16 + 1 AS INT), 16) AS key
            FROM fp, (SELECT unnest(range({_SIM_BANDS})) AS b)
        ), small_buckets AS (
            SELECT band, key FROM bands GROUP BY band, key HAVING COUNT(*) <= {BUCKET_CAP}
        ), capped AS (
            SELECT b.doc_id, b.band, b.key
            FROM bands b JOIN small_buckets s ON b.band = s.band AND b.key = s.key
        ), cand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT c.da, c.db,
               CAST(len(list_filter(range(1, 65),
                   i -> substr(fa.simhash64, CAST(i AS INT), 1)
                        <> substr(fb.simhash64, CAST(i AS INT), 1))) AS BIGINT) AS hamming
        FROM cand c
        JOIN fp fa ON fa.doc_id = c.da
        JOIN fp fb ON fb.doc_id = c.db
        WHERE len(list_filter(range(1, 65),
                  i -> substr(fa.simhash64, CAST(i AS INT), 1)
                       <> substr(fb.simhash64, CAST(i AS INT), 1))) <= {_HAMMING_MAX}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance ≤ 3 via the banding trick:
    split the 64-bit fingerprint into 4 bands of 16 bits — 3 bit flips can
    corrupt at most 3 bands, so every true pair shares at least one intact
    band (pigeonhole: recall is EXACT, not probabilistic), and candidates
    come from a band equi-join instead of an O(n²) pair scan. Band buckets
    over BUCKET_CAP are dropped on both engines (a degenerate fingerprint
    region otherwise recreates the minhash skew bomb; the cap can in theory
    cost recall inside such a region, which the shared oracle would
    surface). Verification folds the 64 positions map-side."""
    fp = simhash_fingerprints(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash64", b * 16 + 1, 16).alias("key"),
                    )
                    for b in range(_SIM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    bands = track_persist(bands)
    small = (
        bands.groupBy("band", "key").count().filter(F.col("count") <= BUCKET_CAP).select("band", "key")
    )
    capped = bands.join(small, ["band", "key"])
    cand = (
        capped.select("band", "key", F.col("doc_id").alias("da"))
        .join(
            capped.select(
                F.col("band").alias("band2"), F.col("key").alias("key2"), F.col("doc_id").alias("db")
            ),
            (F.col("band") == F.col("band2")) & (F.col("key") == F.col("key2")) & (F.col("da") < F.col("db")),
        )
        .select("da", "db")
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("da"), F.col("simhash64").alias("ha"))
    fb = fp.select(F.col("doc_id").alias("db"), F.col("simhash64").alias("hb"))
    hamming = F.aggregate(
        F.sequence(F.lit(1), F.lit(64)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + (F.col("ha").substr(i, F.lit(1)) != F.col("hb").substr(i, F.lit(1))).cast("bigint"),
    )
    return (
        cand.join(fa, "da")
        .join(fb, "db")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("da", "db", "hamming")
    )


@register(
    "dedup_keep_best",
    doc="canonical selection over near-dup clusters: keep the highest-quality "
    "doc per component, map every doc to its canonical id",
    oracle=_CC_ORACLE.replace(
        """
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
        FROM reach GROUP BY src
    """,
        """
        , comp AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
            FROM reach GROUP BY src
        ), scored AS (
            SELECT c.doc_id, c.component_id, d.n_chars,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                                      ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN documents d USING (doc_id)
        ), clustered AS (
            SELECT s.doc_id, FIRST(s2.doc_id) AS canonical_id
            FROM scored s JOIN scored s2
              ON s2.component_id = s.component_id AND s2.rn = 1
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               COALESCE(cl.canonical_id, d.doc_id) AS canonical_id,
               COALESCE(cl.canonical_id, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d LEFT JOIN clustered cl USING (doc_id)
    """,
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: near-dup pairs → connected components →
    one survivor per cluster by quality (longest text, ties to smallest
    doc_id), every document mapped to its canonical id (docs outside any
    cluster are their own canonical). This is the query a pipeline actually
    runs — pairs and components are intermediates. The per-component argmax
    is a broadcast-back of one row per component, not a global sort."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    pairs = _ngram_jaccard_pairs(spark, sf_dir)
    comp = connected_components(pairs, src="da", dst="db").select(
        F.col("id").alias("doc_id"), "component_id"
    )
    scored = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("canonical_id"))
    )
    clustered = comp.join(F.broadcast(best), "component_id").select("doc_id", "canonical_id")
    return docs.select("doc_id").join(clustered, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
        (F.coalesce("canonical_id", "doc_id") == F.col("doc_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (broadcast-bitmap membership pre-filter)
# ---------------------------------------------------------------------------

#: Bloom geometry: 2^16 bits (2048 32-bit lanes — a ~16 KB broadcast), 2 hash
#: functions from disjoint md5 hex windows. Sized for the testdata's
#: benchmark-shingle cardinality; at production scale m grows with the
#: benchmark set (still KBs–MBs — the point of the pattern: the probe side,
#: the 100 TB corpus, only ever meets a broadcast bitmap, no shuffle of the
#: benchmark relation).
BLOOM_BITS = 65536


def _bloom_h(gram, start: int):
    """Position in [0, BLOOM_BITS): 32-bit md5 hex window → int (the repo's
    cross-engine hash: conv(substr(md5,·,8),16,10) ≡ DuckDB '0x'||substr)."""
    return (
        F.conv(F.substring(F.md5(gram), start, 8), 16, 10).cast("bigint")
        % BLOOM_BITS
    )


def _duck_bloom_h(expr: str, start: int) -> str:
    return f"CAST(('0x' || substr(md5({expr}), {start}, 8)) AS BIGINT) % {BLOOM_BITS}"


@register(
    "bloom_decontaminate",
    doc="Bloom-filter decontamination: benchmark 3-shingles folded into a "
    "broadcast 8 KB bitmap; the corpus probes it map-side (2 md5 windows, "
    "k=2 bloom) — no shuffle of the benchmark set against the corpus",
    oracle=f"""
        {_DUCKDB_TOKS.rstrip()},
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(tok) - 1),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                   )) AS shingles
            FROM toks WHERE len(tok) >= 3
        ),
        grams AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
        bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        pos AS (
            SELECT {_duck_bloom_h('gram', 1)} AS p FROM bench
            UNION ALL
            SELECT {_duck_bloom_h('gram', 9)} AS p FROM bench
        ),
        words AS (
            SELECT p // 32 AS w,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
            FROM pos GROUP BY 1
        ),
        probe AS (
            SELECT doc_id, gram,
                   {_duck_bloom_h('gram', 1)} AS p1,
                   {_duck_bloom_h('gram', 9)} AS p2
            FROM grams WHERE doc_id % 97 <> 0
        ),
        hits AS (
            SELECT pr.doc_id,
                   CASE WHEN w1.bits IS NOT NULL
                             AND ((w1.bits >> CAST(pr.p1 % 32 AS INT)) & 1) = 1
                             AND w2.bits IS NOT NULL
                             AND ((w2.bits >> CAST(pr.p2 % 32 AS INT)) & 1) = 1
                        THEN 1 ELSE 0 END AS hit
            FROM probe pr
            LEFT JOIN words w1 ON w1.w = pr.p1 // 32
            LEFT JOIN words w2 ON w2.w = pr.p2 // 32
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(hit) AS BIGINT) AS n_bloom_hits
            FROM hits GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_shingles, 0) AS n_shingles,
               COALESCE(p.n_bloom_hits, 0) AS n_bloom_hits,
               COALESCE(p.n_bloom_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        WHERE d.doc_id % 97 <> 0
    """,
)
def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by Bloom membership instead of an exact anti-join:
    fold every benchmark document's distinct 3-shingles into a fixed-size
    bit array (two positions per shingle from disjoint md5 windows; 32-bit lanes so
    neither engine's left shift can overflow a signed long), then
    probe every training document's shingles against the BROADCAST bitmap.

    Why this is the 100 TB plan: the exact-join decontamination
    (decontaminate_ngram_overlap) shuffles corpus shingles against the
    benchmark relation; here the benchmark collapses to ~8 KB of longs that
    ship to every executor, and the probe is two broadcast hash joins on a
    2048-row word table — the corpus-side relation is never shuffled at
    all. The price is Bloom false positives (hits, never misses): flagged
    docs go to the exact join for confirmation, so the expensive path runs
    on the ~contaminated subset only. Both the bitmap construction and the
    probe are deterministic expressions, so the DuckDB oracle rebuilds the
    identical bitmap and matches every count bit-for-bit.

    The bitmap lives in a k-row relation (word → 64-bit lane), not a
    driver-side value: build and probe are both engine-side; nothing but
    loop-free SQL end to end."""
    # The (doc_id, distinct shingles) relation is the session-cached
    # _shingle_docs materialization — rebuilding it inline would re-run the
    # dominant tokenize/shingle stage once per plan branch (bench bitmap,
    # probe, and again per corpus_curation_pipeline run).
    docs = t(spark, sf_dir, "documents")
    grams = _shingle_docs(spark, sf_dir).select(
        "doc_id", F.explode("shingles").alias("gram")
    )
    bench_pos = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(F.array(_bloom_h(F.col("gram"), 1), _bloom_h(F.col("gram"), 9))).alias("p"))
    )
    words = (
        bench_pos.select(
            (F.col("p") / 32).cast("bigint").alias("w"),
            (F.col("p") % 32).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)")).alias("bits"))
    )
    w1 = words.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    w2 = words.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    probe = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .withColumn("p1", _bloom_h(F.col("gram"), 1))
        .withColumn("p2", _bloom_h(F.col("gram"), 9))
        .withColumn("w1", (F.col("p1") / 32).cast("bigint"))
        .withColumn("w2", (F.col("p2") / 32).cast("bigint"))
    )
    hits = (
        probe.join(F.broadcast(w1), "w1", "left")
        .join(F.broadcast(w2), "w2", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("bits1").isNotNull()
                & F.col("bits2").isNotNull()
                & (F.expr("shiftright(bits1, CAST(p1 % 32 AS INT)) & 1") == 1)
                & (F.expr("shiftright(bits2, CAST(p2 % 32 AS INT)) & 1") == 1),
                1,
            ).otherwise(0),
        )
    )
    per_doc = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"), F.sum("hit").alias("n_bloom_hits")
    )
    return (
        docs.select("doc_id")
        .filter(F.col("doc_id") % 97 != 0)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0)).alias("n_bloom_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "nucleus_topp_by_source",
    doc="top-p (nucleus) selection per source: keep the largest docs until "
    "80% of the source's char mass is covered — cumulative-mass truncation "
    "in exact integer arithmetic",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   SUM(n_chars) OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_chars AS prev_mass,
                   SUM(n_chars) OVER (PARTITION BY source) AS total_mass,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS rk
            FROM documents
        )
        SELECT doc_id, source, n_chars, rk,
               CAST(prev_mass AS BIGINT) AS prev_mass,
               CAST(total_mass AS BIGINT) AS total_mass
        FROM ranked WHERE 5 * prev_mass < 4 * total_mass
    """,
)
def nucleus_topp_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) corpus truncation: within each source, rank documents
    by size and keep the prefix whose cumulative mass first reaches p = 0.8
    of the source total (a doc is kept iff the mass BEFORE it is < 80%, so
    the crossing document is included — the standard nucleus rule). All
    integer arithmetic (5·prev < 4·total), no float thresholds to diverge.

    One shuffle (hash by source) + one sort feeds all three window
    functions; at 100 TB per-source partitions sort in parallel and a
    mega-source is range-partitioned by the sort — same shape as every
    top-k-per-group query here."""
    docs = t(spark, sf_dir, "documents")
    w_order = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (F.sum("n_chars").over(w_cum) - F.col("n_chars")).alias("prev_mass"),
        F.sum("n_chars").over(w_all).alias("total_mass"),
        F.row_number().over(w_order).alias("rk"),
    )
    return ranked.filter(5 * F.col("prev_mass") < 4 * F.col("total_mass")).select(
        "doc_id", "source", "n_chars", "rk", "prev_mass", "total_mass"
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (composition of the stages above)
# ---------------------------------------------------------------------------

#: Repetition gate threshold (duplicate 5-gram fraction).
DUP_FRAC_MAX = 0.05


def _pipeline_oracle() -> str:
    """The composite's oracle IS the composition of the stage oracles —
    each registered stage SQL drops in as a parenthesized subquery (DuckDB
    allows WITH inside derived tables), joined on doc_id exactly like the
    DataFrame plan."""
    from songs_etl_spark.plans.registry import REGISTRY

    q = REGISTRY["gopher_quality_filter"].oracle
    r = REGISTRY["doc_ngram_repetition"].oracle
    b = REGISTRY["bloom_decontaminate"].oracle
    k = REGISTRY["dedup_keep_best"].oracle
    return f"""
        SELECT d.doc_id,
               COALESCE(q.keep, FALSE) AS quality_keep,
               COALESCE(r.dup_frac, 0.0) AS dup_frac,
               b.contaminated,
               k.is_canonical,
               COALESCE(q.keep, FALSE)
                   AND COALESCE(r.dup_frac, 0.0) <= {DUP_FRAC_MAX}
                   AND NOT b.contaminated
                   AND k.is_canonical AS final_keep
        FROM documents d
        LEFT JOIN ({q}) q ON q.doc_id = d.doc_id
        LEFT JOIN ({r}) r ON r.doc_id = d.doc_id
        JOIN ({b}) b ON b.doc_id = d.doc_id
        JOIN ({k}) k ON k.doc_id = d.doc_id
        WHERE d.doc_id % 97 <> 0
    """


@register(
    "corpus_curation_pipeline",
    doc="end-to-end curation verdict per document: quality gate AND "
    "repetition gate AND bloom decontamination AND near-dup canonical — "
    "the composed pipeline, with the composed oracle",
    oracle=_pipeline_oracle(),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation decision, one row per candidate training
    document (benchmark docs excluded — they are the decontamination
    reference): quality heuristics pass, within-doc repetition below
    threshold, no benchmark contamination (bloom pre-filter), and the doc is
    its near-dup cluster's canonical survivor. ``final_keep`` is the
    conjunction; the per-stage flags stay visible so a curation run can
    report drop reasons.

    Composition is by doc_id equi-joins of the four per-doc relations —
    each stage keeps its own audited plan (map-side gates, inverted-index
    dedup, broadcast bloom), and the combiner adds only hash joins on the
    narrow verdict relations. This is the form a 100 TB curation DAG
    actually takes: stage outputs materialize once, the verdict join is
    cheap, and any stage can be re-run independently."""
    docs = t(spark, sf_dir, "documents")
    q = gopher_quality_filter(spark, sf_dir).select("doc_id", F.col("keep").alias("quality_keep"))
    r = doc_ngram_repetition(spark, sf_dir).select("doc_id", "dup_frac")
    b = bloom_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    k = dedup_keep_best(spark, sf_dir).select("doc_id", "is_canonical")
    out = (
        docs.select("doc_id")
        .filter(F.col("doc_id") % 97 != 0)
        .join(q, "doc_id", "left")
        .join(r, "doc_id", "left")
        .join(b, "doc_id")
        .join(k, "doc_id")
        .select(
            "doc_id",
            F.coalesce("quality_keep", F.lit(False)).alias("quality_keep"),
            F.coalesce("dup_frac", F.lit(0.0)).alias("dup_frac"),
            "contaminated",
            "is_canonical",
            (
                F.coalesce("quality_keep", F.lit(False))
                & (F.coalesce("dup_frac", F.lit(0.0)) <= DUP_FRAC_MAX)
                & ~F.col("contaminated")
                & F.col("is_canonical")
            ).alias("final_keep"),
        )
    )
    return out


def _feature_matrix_oracle() -> str:
    from songs_etl_spark.plans.registry import REGISTRY

    q = REGISTRY["gopher_quality_filter"].oracle
    r = REGISTRY["doc_ngram_repetition"].oracle
    lp = REGISTRY["doc_unigram_logprob"].oracle
    return f"""
        SELECT q.doc_id,
               q.n_words,
               q.mean_word_len,
               q.stop_frac,
               q.distinct_ratio,
               COALESCE(r.dup_frac, 0.0) AS dup_frac,
               lp.mean_logprob,
               q.keep AS label
        FROM ({q}) q
        LEFT JOIN ({r}) r ON r.doc_id = q.doc_id
        JOIN ({lp}) lp ON lp.doc_id = q.doc_id
    """


@register(
    "quality_feature_matrix",
    tags=("bcast-const",),
    doc="ML-ready per-doc feature matrix: heuristic quality signals + "
    "repetition + LM logprob, labeled by the quality gate — the training "
    "table for a learned quality classifier",
    oracle=_feature_matrix_oracle(),
)
def quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-assembly step of replacing heuristic quality gates with a
    learned classifier (the FineWeb/DCLM-style progression): one row per
    document with the heuristic signals (length, word shape, stopword and
    diversity ratios), the repetition score, and the unigram-LM logprob,
    labeled by the current rule-based gate as the weak supervision target.
    Each feature column comes from an already-audited map-side stage; the
    assembly is doc_id equi-joins of narrow relations — the oracle composes
    the three stage oracles verbatim."""
    from songs_etl_spark.plans.text import doc_unigram_logprob

    q = gopher_quality_filter(spark, sf_dir)
    r = doc_ngram_repetition(spark, sf_dir).select("doc_id", "dup_frac")
    lp = doc_unigram_logprob(spark, sf_dir).select("doc_id", "mean_logprob")
    return (
        q.join(r, "doc_id", "left")
        .join(lp, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "stop_frac",
            "distinct_ratio",
            F.coalesce("dup_frac", F.lit(0.0)).alias("dup_frac"),
            "mean_logprob",
            F.col("keep").alias("label"),
        )
    )


#: Vocabulary size for the OOV-rate metric.
OOV_VOCAB_K = 100


@register(
    "oov_rate_per_doc",
    doc="tokenizer coverage: per-doc out-of-vocabulary rate against the "
    "corpus top-100 token vocabulary (broadcast vocab, exact ratios)",
    oracle=f"""
        WITH flat AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token FROM (
                SELECT token, COUNT(*) AS n,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
                FROM flat GROUP BY token
            ) WHERE rk <= {OOV_VOCAB_K}
        )
        SELECT f.doc_id,
               COUNT(*) AS n_tokens,
               COUNT(*) FILTER (WHERE v.token IS NULL) AS n_oov,
               CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS DOUBLE) / COUNT(*)
                   AS oov_rate
        FROM flat f LEFT JOIN vocab v ON v.token = f.token
        GROUP BY f.doc_id
    """,
)
def oov_rate_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own top-K
    token vocabulary — the tokenizer-coverage signal that flags docs a
    fixed vocab would shred into rare pieces (curation drops or routes
    them). The vocabulary is a deterministic top-K (count desc, token) —
    a K-row broadcast; membership is a broadcast left join on the token
    stream and the rate an exact integer ratio. At 100 TB the vocab is
    still K rows — the corpus-side explode is the only volume term."""
    from songs_etl_spark.plans._util import track_persist

    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    # persisted: the token explode feeds BOTH the vocab aggregation and the
    # membership join — unpersisted, the dominant tokenize stage runs twice
    flat = track_persist(docs.select("doc_id", F.explode(tokens("text")).alias("token")))
    w = Window.orderBy(F.desc("n"), "token")
    vocab = (
        flat.groupBy("token")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OOV_VOCAB_K)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    joined = flat.join(F.broadcast(vocab), "token", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        (
            F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
            / F.count("*")
        ).alias("oov_rate"),
    )


@register(
    "source_token_entropy",
    doc="per-source token-distribution Shannon entropy (nats) from exact "
    "count ratios — the low-entropy-source repetitiveness signal",
    oracle="""
        WITH flat AS (
            SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        counts AS (
            SELECT source, token, COUNT(*) AS c FROM flat GROUP BY source, token
        ),
        tot AS (SELECT source, SUM(c) AS t FROM counts GROUP BY source)
        SELECT c.source,
               CAST(t.t AS BIGINT) AS n_tokens,
               COUNT(*) AS n_distinct,
               ROUND(-SUM(ROUND((c.c / CAST(t.t AS DOUBLE))
                                * LN(c.c / CAST(t.t AS DOUBLE)), 12)), 9) AS entropy_nats
        FROM counts c JOIN tot t ON c.source = t.source
        GROUP BY c.source, t.t
    """,
)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution — a one-number
    repetitiveness/diversity profile (boilerplate-heavy sources score
    low; the signal behind per-source temperature and cap decisions).
    Per-term p·ln p values are rounded to 12 decimals BEFORE the sum so
    the accumulated float total is a sum of identical quantized values on
    both engines (sum order can't flip a 9-decimal final rounding), with
    the usual ROUND-9 on the result. One token-count aggregation + one
    per-source total, both map-side combining."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("source", F.explode(tokens("text")).alias("token"))
    counts = flat.groupBy("source", "token").agg(F.count("*").alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t").cast("double")
    return (
        counts.join(F.broadcast(tot), "source")
        .groupBy("source", "t")
        .agg(
            F.count("*").alias("n_distinct"),
            F.round(-F.sum(F.round(p * F.log(p), 12)), 9).alias("entropy_nats"),
        )
        .select(
            "source",
            F.col("t").cast("bigint").alias("n_tokens"),
            "n_distinct",
            "entropy_nats",
        )
    )


def _bloom_eval_oracle() -> str:
    from songs_etl_spark.plans.registry import REGISTRY

    bloom = REGISTRY["bloom_decontaminate"].oracle
    exact = REGISTRY["decontaminate_ngram_overlap"].oracle
    return f"""
        SELECT COUNT(*) AS n_docs,
               COUNT(*) FILTER (WHERE b.contaminated AND e.doc_id IS NOT NULL) AS tp,
               COUNT(*) FILTER (WHERE b.contaminated AND e.doc_id IS NULL) AS fp,
               COUNT(*) FILTER (WHERE NOT b.contaminated AND e.doc_id IS NOT NULL) AS fn,
               COUNT(*) FILTER (WHERE NOT b.contaminated AND e.doc_id IS NULL) AS tn
        FROM ({bloom}) b LEFT JOIN ({exact}) e ON e.doc_id = b.doc_id
    """


@register(
    "bloom_filter_confusion",
    doc="measured confusion matrix of the bloom pre-filter against the "
    "exact decontamination join — fn MUST be 0 (blooms have no false "
    "negatives); fp is the price paid for the no-shuffle probe",
    oracle=_bloom_eval_oracle(),
)
def bloom_filter_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantified contract of the bloom pre-filter: every truly
    contaminated document is flagged (fn = 0 — a Bloom filter cannot miss;
    a nonzero fn would mean a broken hash parity) and the false-positive
    count measures the extra exact-join work the two-stage design pays for
    never shuffling the corpus against the benchmark. Composes the two
    audited stages' oracles; both use the same doc_id % 97 benchmark split
    and 3-token shingles, so the comparison is apples-to-apples."""
    b = bloom_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    e = decontaminate_ngram_overlap(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("truly")
    )
    j = b.join(e, "doc_id", "left")
    is_true = F.col("truly").isNotNull()
    return j.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("contaminated") & is_true, 1)).alias("tp"),
        F.count(F.when(F.col("contaminated") & ~is_true, 1)).alias("fp"),
        F.count(F.when(~F.col("contaminated") & is_true, 1)).alias("fn"),
        F.count(F.when(~F.col("contaminated") & ~is_true, 1)).alias("tn"),
    )


@register(
    "ccnet_perplexity_buckets",
    tags=("bcast-const",),
    doc="CCNet-style quality tiers: per-language head/middle/tail tertiles "
    "by statistical-LM score (mean unigram log-probability)",
    oracle=f"""
        WITH flat AS (
            SELECT doc_id, unnest({_text._DUCKDB_TOKENS}) AS token FROM documents
        ), freq AS (
            SELECT token, COUNT(*) AS cnt FROM flat GROUP BY token
        ), corpus AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM flat
        ), scored AS (
            SELECT f.doc_id, LN(fr.cnt / c.total) AS lp
            FROM flat f JOIN freq fr USING (token) CROSS JOIN corpus c
        ), per_doc AS (
            SELECT doc_id, ROUND(AVG(lp), 6) AS mean_logprob
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang, p.mean_logprob,
               CASE NTILE(3) OVER (PARTITION BY d.lang
                                   ORDER BY p.mean_logprob DESC, d.doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM documents d JOIN per_doc p USING (doc_id)
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet curation recipe (Wenzek et al. 2020): score every document
    with a statistical language model and split EACH LANGUAGE into
    head/middle/tail quality tertiles — head feeds pre-training, tail gets
    dropped, middle is the dial. The LM here is the corpus unigram model
    (``doc_unigram_logprob``'s scoring chain); a KenLM-style n-gram model
    drops into the same seam.

    Plan at 100 TB: the unigram scoring is one broadcast-sized token
    aggregation + map-side logprob join; the tertile split is a per-lang
    window over the N-row (doc, score) relation — the only whole-language
    sort, on a 2-column relation. Deterministic: scores rounded to 6
    decimals BEFORE ranking and doc_id breaks ties, so NTILE boundaries
    are bit-stable across engines."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    freq = flat.groupBy("token").agg(F.count("*").alias("cnt"))
    total = flat.agg(F.count("*").cast("double").alias("total"))
    per_doc = (
        flat.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("cnt") / F.col("total")).alias("lp"))
        .groupBy("doc_id")
        .agg(F.round(F.avg("lp"), 6).alias("mean_logprob"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("mean_logprob"), "doc_id")
    tier = F.ntile(3).over(w)
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "lang",
            "mean_logprob",
            F.when(tier == 1, "head").when(tier == 2, "middle").otherwise("tail").alias("bucket"),
        )
    )


# --- CCNet-style cross-document line deduplication ---------------------------

#: Line convention for the flat testdata texts: consecutive 8-token chunks
#: (real web text would split on newlines; the algorithm below is identical
#: either way — only this tokenize-and-chunk step differs).
_LINE_W = 8


@register(
    "line_dedup_boilerplate",
    doc="CCNet line-level dedup: lines repeated across documents are "
    "boilerplate — removed everywhere except their min-doc_id keeper, "
    "texts reconstructed in line order",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, {_text.DUCKDB_TOKENS_SQL} AS ts FROM documents
        ),
        lines AS (
            SELECT doc_id, CAST(g.i AS BIGINT) AS line_no,
                   array_to_string(
                       list_slice(ts, CAST(g.i AS BIGINT) * {_LINE_W} + 1,
                                  CAST(g.i AS BIGINT) * {_LINE_W} + {_LINE_W}),
                       ' ') AS line
            FROM tok,
                 LATERAL (SELECT unnest(range((len(ts) + {_LINE_W} - 1)
                                              // {_LINE_W})) AS i) g
        ),
        freq AS (
            SELECT line, COUNT(DISTINCT doc_id) AS df,
                   MIN(doc_id) AS keeper
            FROM lines GROUP BY line
        )
        SELECT l.doc_id,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN f.df = 1 OR l.doc_id = f.keeper
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(
                   CASE WHEN f.df = 1 OR l.doc_id = f.keeper THEN l.line END,
                   ' ' ORDER BY l.line_no), '') AS kept_text
        FROM lines l JOIN freq f ON f.line = l.line
        GROUP BY l.doc_id
    """,
)
def line_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet preprocessing step the document-level dedup family does
    not cover: BOILERPLATE removal by cross-document LINE deduplication
    (Wenzek et al. 2020 — cookie banners, nav bars, and footers repeat
    across pages of a site; hashing every line over the whole corpus and
    dropping repeated ones removes them without any page-level model).
    A repeated line survives only in its canonical keeper document
    (min doc_id — the keep-first convention dedup_exact uses); each
    document is then reconstructed from its surviving lines in order.

    Scale shape: explode to the line relation, ONE content-keyed groupBy
    for corpus-wide line frequencies (partial aggregation collapses
    per-partition repeats map-side — at web scale the df distribution is
    exactly the boilerplate head this query exists to find), an equi-join
    back on the line hash, and a per-doc reassembly aggregation. No
    windows over the corpus, no driver state; the same shape CCNet runs
    over Common Crawl shards. Reassembly sorts each doc's own kept lines
    (array_sort on (line_no, line) structs — bounded by document length),
    matching the oracle's ORDER BY line_no inside string_agg."""
    # Docs with no [a-z0-9] tokens produce no lines (the oracle's range(0)
    # semantics) — filtered up front, because F.sequence(0, -1) would emit a
    # DESCENDING two-element sequence and fabricate phantom empty lines.
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    ts = tokens("text")
    docs = docs.filter(has_token("text"))
    n_lines = F.ceil(F.size(ts) / F.lit(_LINE_W)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("line_no"),
            F.array_join(F.slice(ts, i * _LINE_W + 1, _LINE_W), " ").alias("line"),
        ),
    )
    lines = docs.select(
        "doc_id", F.explode(chunks).alias("ch")
    ).select("doc_id", F.col("ch.line_no").alias("line_no"), F.col("ch.line").alias("line"))
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("df"), F.min("doc_id").alias("keeper")
    )
    joined = lines.join(freq, "line")
    keep = (F.col("df") == 1) | (F.col("doc_id") == F.col("keeper"))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    keep,
                                    F.struct(
                                        F.col("line_no").alias("line_no"),
                                        F.col("line").alias("line"),
                                    ),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
    )


@register(
    "conditional_entropy_lang_source",
    tags=("bcast-const",),
    doc="information-theoretic association audit: H(lang), H(lang|source) "
    "and mutual information I(lang;source) from exact joint counts — how "
    "much knowing the source tells you about language (the redundancy "
    "signal chisq_brand_size tests, in bits)",
    oracle="""
        WITH joint AS (
            SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
        ), src AS (
            SELECT source, SUM(c) AS cs FROM joint GROUP BY source
        ), tot AS (SELECT SUM(c) AS n FROM joint),
        hl AS (
            SELECT ROUND(-SUM(ROUND((cl / CAST(n AS DOUBLE))
                               * LOG2(cl / CAST(n AS DOUBLE)), 12)), 9) AS h_lang
            FROM (SELECT lang, SUM(c) AS cl FROM joint GROUP BY lang), tot
        ), hls AS (
            SELECT ROUND(-SUM(ROUND((j.c / CAST(t.n AS DOUBLE))
                               * LOG2(j.c / CAST(s.cs AS DOUBLE)), 12)), 9)
                       AS h_lang_given_source
            FROM joint j JOIN src s USING (source), tot t
        )
        SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_docs,
               h_lang,
               h_lang_given_source,
               ROUND(h_lang - h_lang_given_source, 9) AS mutual_info_bits
        FROM hl, hls
    """,
)
def conditional_entropy_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H(lang) = −Σ p(l)·log₂p(l), H(lang|source) = −Σ p(l,s)·log₂p(l|s),
    I = H(lang) − H(lang|source) — zero bits means sources are language-
    agnostic, H(lang) bits means source determines language (and one of the
    two columns is redundant for stratification). All probabilities are
    exact count ratios from ONE joint aggregation (|sources|·|langs| cells);
    per-term p·log₂p rounds to 12 decimals before summation (the
    source_token_entropy ulp discipline), results round to 9.

    Scale shape: one map-side-combining groupBy to the joint table, then
    constant-size algebra — the cheapest possible dependence test between
    two categorical columns at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    joint = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    from songs_etl_spark.plans._util import track_persist

    joint = track_persist(joint)
    src = joint.groupBy("source").agg(F.sum("c").alias("cs"))
    tot = joint.agg(F.sum("c").alias("n"))
    lang = joint.groupBy("lang").agg(F.sum("c").alias("cl"))
    pl = F.col("cl") / F.col("n").cast("double")
    h_lang = (
        lang.crossJoin(F.broadcast(tot))
        .agg(F.round(-F.sum(F.round(pl * F.log2(pl), 12)), 9).alias("h_lang"))
    )
    pls = F.col("c") / F.col("n").cast("double")
    pcond = F.col("c") / F.col("cs").cast("double")
    h_cond = (
        joint.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(-F.sum(F.round(pls * F.log2(pcond), 12)), 9).alias(
                "h_lang_given_source"
            )
        )
    )
    return (
        tot.select(F.col("n").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(h_lang))
        .crossJoin(F.broadcast(h_cond))
        .select(
            "n_docs",
            "h_lang",
            "h_lang_given_source",
            F.round(F.col("h_lang") - F.col("h_lang_given_source"), 9).alias(
                "mutual_info_bits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Composed entity resolution (blocking → scoring → clustering → survivorship)
# ---------------------------------------------------------------------------

def _snm_keyed(docs: DataFrame) -> DataFrame:
    """The ER blocking's key projection: comparison prefix + the two
    sorted-neighborhood sort keys (reversed and forward lowercase heads)."""
    return docs.select(
        "doc_id",
        F.substring("text", 1, SNM_PREFIX).alias("prefix"),
        F.reverse(F.lower(F.substring("text", 1, 12))).alias("k1"),
        F.lower(F.substring("text", 1, 12)).alias("k2"),
    )


def _snm_candidate_pairs(keyed: DataFrame) -> DataFrame:
    """Multi-pass sorted-neighborhood candidate generation (UNFILTERED —
    scoring is the caller's stage): each record vs its SNM_WINDOW
    predecessors per sort pass, via stacked lag() columns so candidates
    materialize straight out of one window pass each — a
    position-inequality join would plan as BroadcastNestedLoopJoin and
    lose SNM's linearity (dedup_sorted_neighborhood's shape)."""

    def snm_pass(key: str) -> DataFrame:
        w = Window.orderBy(key, "doc_id")
        lagged = keyed.select(
            F.col("doc_id").alias("a"),
            F.col("prefix").alias("pa"),
            *[F.lag("doc_id", k).over(w).alias(f"b{k}") for k in range(1, SNM_WINDOW + 1)],
            *[F.lag("prefix", k).over(w).alias(f"q{k}") for k in range(1, SNM_WINDOW + 1)],
        )
        preds = F.array(
            *[
                F.struct(F.col(f"b{k}").alias("b"), F.col(f"q{k}").alias("pb"))
                for k in range(1, SNM_WINDOW + 1)
            ]
        )
        return (
            lagged.select("a", "pa", F.explode(preds).alias("p"))
            .filter(F.col("p.b").isNotNull())
            .select("a", "pa", F.col("p.b").alias("b"), F.col("p.pb").alias("pb"))
        )

    return snm_pass("k1").unionByName(snm_pass("k2"))


_ER_ORACLE = f"""
        WITH RECURSIVE keyed AS (
            SELECT doc_id, substr(text, 1, {{prefix}}) AS prefix,
                   reverse(lower(substr(text, 1, 12))) AS k1,
                   lower(substr(text, 1, 12)) AS k2
            FROM documents
        ),
        o1 AS (
            SELECT doc_id, prefix, ROW_NUMBER() OVER (ORDER BY k1, doc_id) AS pos
            FROM keyed
        ),
        o2 AS (
            SELECT doc_id, prefix, ROW_NUMBER() OVER (ORDER BY k2, doc_id) AS pos
            FROM keyed
        ),
        cand AS (
            SELECT LEAST(a.doc_id, b.doc_id) AS da, GREATEST(a.doc_id, b.doc_id) AS db
            FROM o1 a JOIN o1 b ON b.pos BETWEEN a.pos - {{w}} AND a.pos - 1
            WHERE levenshtein(a.prefix, b.prefix) <= {{maxd}}
            UNION
            SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id)
            FROM o2 a JOIN o2 b ON b.pos BETWEEN a.pos - {{w}} AND a.pos - 1
            WHERE levenshtein(a.prefix, b.prefix) <= {{maxd}}
        ),
        edges AS (
            SELECT da AS src, db AS dst FROM cand
            UNION
            SELECT db, da FROM cand
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        comp AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS entity_id
            FROM reach GROUP BY src
        ),
        scored AS (
            SELECT c.doc_id, c.entity_id,
                   ROW_NUMBER() OVER (PARTITION BY c.entity_id
                                      ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN documents d USING (doc_id)
        ),
        canon AS (
            SELECT entity_id, doc_id AS canonical_id FROM scored WHERE rn = 1
        )
        SELECT d.doc_id,
               COALESCE(s.entity_id, d.doc_id) AS entity_id,
               COALESCE(cn.canonical_id, d.doc_id) AS canonical_id,
               COALESCE(cn.canonical_id, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d
        LEFT JOIN scored s ON s.doc_id = d.doc_id
        LEFT JOIN canon cn ON cn.entity_id = s.entity_id
    """


@register(
    "entity_resolution_pipeline",
    doc="composed entity resolution end-to-end: multi-pass sorted-neighborhood "
    "blocking → pairwise edit-distance scoring → two-star connected components "
    "→ keep-best survivorship (record → canonical entity in one query)",
    oracle=_ER_ORACLE.format(prefix=SNM_PREFIX, w=SNM_WINDOW, maxd=SNM_MAX_DIST),
)
def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record → canonical entity, end to end — the query an ER user actually
    runs, composed entirely from stages that are individually green:

    1. **Blocking** (multi-pass sorted-neighborhood, Hernandez-Stolfo): the
       corpus is totally ordered under TWO derived keys — the reversed
       lowercase 12-char prefix (shared tails cluster) and the forward
       lowercase prefix (shared heads cluster) — and each record is
       compared only with its ``SNM_WINDOW`` predecessors per pass.
       Candidates are exactly 2·n·W rows by construction (stacked ``lag``
       columns out of one window pass each — no join node, no O(n²)),
       the linearity blocking exists for.
    2. **Pairwise scoring**: prefix edit distance (JVM ``levenshtein``,
       identical in DuckDB), match iff ≤ ``SNM_MAX_DIST``; matched pairs
       canonicalized to (least, greatest) and deduped across passes.
    3. **Clustering**: two-star connected components (Kiveris et al.) over
       the match graph — O(log² n) rounds on adversarial chains, same
       per-round shuffle budget as min-label propagation.
    4. **Survivorship**: one canonical record per entity by quality
       (longest ``n_chars``, ties to smallest doc_id) — a per-component
       argmax broadcast back, not a global sort; unclustered docs are their
       own entity and canonical.

    Output: every document mapped to (entity_id, canonical_id,
    is_canonical). The oracle recomputes all four stages in one DuckDB
    statement (windowed blocking self-joins + WITH RECURSIVE reachability +
    argmax). Proves the library composes without a planner: no stage
    materializes driver-side, and every inter-stage boundary is a DataFrame.
    """
    from songs_etl_spark.operators.graph import connected_components_twostar

    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    cand = _snm_candidate_pairs(_snm_keyed(docs))
    matched = (
        cand.filter(F.levenshtein("pa", "pb") <= SNM_MAX_DIST)
        .select(F.least("a", "b").alias("da"), F.greatest("a", "b").alias("db"))
        .distinct()
    )
    comp = connected_components_twostar(matched, src="da", dst="db").select(
        F.col("id").alias("doc_id"), F.col("component_id").alias("entity_id")
    )
    scored = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w_best = Window.partitionBy("entity_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    canon = (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("entity_id", F.col("doc_id").alias("canonical_id"))
    )
    clustered = comp.join(F.broadcast(canon), "entity_id").select(
        "doc_id", "entity_id", "canonical_id"
    )
    return (
        docs.select("doc_id")
        .join(clustered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("entity_id", "doc_id").alias("entity_id"),
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
            (F.coalesce("canonical_id", F.col("doc_id")) == F.col("doc_id")).alias(
                "is_canonical"
            ),
        )
    )


@register(
    "er_blocking_quality",
    tags=("bcast-const",),
    doc="ER blocking evaluation: pair completeness (recall of true "
    "exact-duplicate pairs inside the sorted-neighborhood candidate set) "
    "and reduction ratio (1 - candidates/all-pairs) — the two numbers "
    "every blocking-scheme choice is made on",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   reverse(lower(substr(text, 1, 12))) AS k1,
                   lower(substr(text, 1, 12)) AS k2
            FROM documents
        ),
        o1 AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k1, doc_id) AS pos FROM keyed
        ),
        o2 AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k2, doc_id) AS pos FROM keyed
        ),
        cand AS (
            SELECT LEAST(a.doc_id, b.doc_id) AS da, GREATEST(a.doc_id, b.doc_id) AS db
            FROM o1 a JOIN o1 b ON b.pos BETWEEN a.pos - {SNM_WINDOW} AND a.pos - 1
            UNION
            SELECT LEAST(a.doc_id, b.doc_id), GREATEST(a.doc_id, b.doc_id)
            FROM o2 a JOIN o2 b ON b.pos BETWEEN a.pos - {SNM_WINDOW} AND a.pos - 1
        ),
        truth AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM (SELECT doc_id, md5(substr(text, 1, 64)) AS h FROM documents) a
            JOIN (SELECT doc_id, md5(substr(text, 1, 64)) AS h FROM documents) b
              ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
        tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
        cov AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_covered
            FROM truth t JOIN cand c ON c.da = t.da AND c.db = t.db
        )
        SELECT nn.n AS n_docs, cc.n_candidates, tc.n_true, cov.n_covered,
               CASE WHEN tc.n_true > 0
                    THEN CAST(cov.n_covered AS DOUBLE) / tc.n_true
               END AS pair_completeness,
               1.0 - CAST(cc.n_candidates AS DOUBLE)
                   / CAST(nn.n * (nn.n - 1) / 2 AS DOUBLE) AS reduction_ratio
        FROM nn, cc, tc, cov
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (Christen's ER survey metrics) for the
    sorted-neighborhood blocking the ER pipeline runs: **pair
    completeness** — what fraction of TRUE duplicate pairs (ground truth:
    identical 64-char heads, the certain matches; byte-identical full
    texts don't exist below sf0.1 in this corpus) the candidate set
    covers —
    against **reduction ratio** — what fraction of the n·(n−1)/2 all-pairs
    space blocking never touches. Every blocking choice (window size, key
    count) is a trade on exactly these two numbers; registering them makes
    a blocking regression (narrowed window, broken sort key) fail the
    value hash rather than silently shrink recall downstream.

    Shape: the UNFILTERED candidate relation comes from the same stacked
    ``lag`` window passes as the pipeline (2·n·W rows by construction, no
    join); truth pairs come from an exact-content equi-join (group-sized,
    never all-pairs); the all-pairs denominator is the closed form
    n(n−1)/2 from a COUNT — computed, never materialized. Counts are exact
    ints; the two ratios are single correctly-rounded divisions."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    cand = (
        _snm_candidate_pairs(_snm_keyed(docs))
        .select(F.least("a", "b").alias("da"), F.greatest("a", "b").alias("db"))
        .distinct()
    )
    hashed = docs.select("doc_id", F.md5(F.substring("text", 1, 64)).alias("h"))
    truth = (
        hashed.alias("x")
        .join(hashed.alias("y"), "h")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
    )
    nn = docs.agg(F.count("*").alias("n"))
    cc = cand.agg(F.count("*").alias("n_candidates"))
    tc = truth.agg(F.count("*").alias("n_true"))
    cov = truth.join(cand, ["da", "db"]).agg(F.count("*").alias("n_covered"))
    return (
        nn.crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n").alias("n_docs"),
            "n_candidates",
            "n_true",
            "n_covered",
            # 0/0 on a corpus with zero true duplicate pairs yields NaN in
            # Spark but NULL in DuckDB — guard so the degenerate corpus
            # reports NULL identically on both engines.
            F.when(
                F.col("n_true") > 0,
                F.col("n_covered").cast("double") / F.col("n_true"),
            ).alias("pair_completeness"),
            (
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / (F.col("n") * (F.col("n") - 1) / 2).cast("double")
            ).alias("reduction_ratio"),
        )
    )


#: JSD geometry: per-source token distributions over the global top-V
#: vocabulary plus one OOV bucket (so both distributions sum to 1 over the
#: same V+1 outcomes); log values quantized to integer micro-nats (the
#: naive_bayes/zipf libm convention) so the per-source sums are exact.
_JSD_V = 100
_JSD_LQ = "CAST(FLOOR(ROUND(LN({}), 9) * 1000000) AS BIGINT)"


@register(
    "jsd_source_divergence",
    tags=("bcast-const",),
    doc="per-source Jensen-Shannon divergence of the token distribution vs "
    "the corpus (top-V vocabulary + OOV bucket) — the curation outlier "
    "ranking that flags off-distribution sources; exact integer micro-nat "
    "sums, two divisions per source",
    oracle=f"""
        WITH tok AS (
            SELECT source, unnest({_text._DUCKDB_TOKENS}) AS token FROM documents
        ),
        g AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS b FROM tok GROUP BY token),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM tok),
        vocab AS (SELECT token, b FROM g ORDER BY b DESC, token LIMIT {_JSD_V}),
        stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS at FROM tok GROUP BY source),
        sv AS (
            SELECT t.source, t.token, CAST(COUNT(*) AS BIGINT) AS a
            FROM tok t JOIN vocab v USING (token) GROUP BY 1, 2
        ),
        grid AS (
            SELECT s.source, s.at, v.b, COALESCE(sv.a, 0) AS a
            FROM stot s CROSS JOIN vocab v
            LEFT JOIN sv ON sv.source = s.source AND sv.token = v.token
        ),
        oov AS (
            SELECT s.source, s.at,
                   tot.bt - (SELECT SUM(b) FROM vocab) AS b,
                   s.at - COALESCE(SUM(sv.a), 0) AS a
            FROM stot s LEFT JOIN sv ON sv.source = s.source, tot
            GROUP BY s.source, s.at, tot.bt
        ),
        outcomes AS (
            SELECT source, at, a, b FROM grid
            UNION ALL
            SELECT source, at, a, b FROM oov
        ),
        terms AS (
            SELECT o.source, o.at, tot.bt,
                   CASE WHEN o.a > 0 THEN o.a * {_JSD_LQ.format(
                       "CAST(2 * o.a * tot.bt AS DOUBLE) / CAST(o.a * tot.bt + o.b * o.at AS DOUBLE)"
                   )} ELSE 0 END AS t1,
                   CASE WHEN o.b > 0 THEN o.b * {_JSD_LQ.format(
                       "CAST(2 * o.b * o.at AS DOUBLE) / CAST(o.a * tot.bt + o.b * o.at AS DOUBLE)"
                   )} ELSE 0 END AS t2
            FROM outcomes o, tot
        )
        SELECT source,
               CAST(at AS BIGINT) AS n_tokens,
               (CAST(SUM(t1) AS DOUBLE) / CAST(at AS DOUBLE)
                + CAST(SUM(t2) AS DOUBLE) / CAST(bt AS DOUBLE)) / 2000000.0 AS jsd_nats
        FROM terms GROUP BY source, at, bt
    """,
)
def jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token distribution
    and the corpus-wide one — the curation ranking that surfaces
    off-distribution sources (spam farms, mis-scraped domains, wrong-
    language feeds) BEFORE they skew training mixes: JSD is symmetric,
    bounded by ln 2, and defined even where one side has zero mass —
    exactly why it beats raw KL for this audit
    (``conditional_entropy_lang_source`` measures dependence between two
    categorical columns; this measures distributional DISTANCE per group).

    Outcome space: the global top-{_JSD_V} tokens plus one OOV bucket, so
    both distributions are over the same finite outcomes and sum to 1.
    Exactness: with p = a/A (source) and q = b/B (corpus), each log ratio
    reduces to ln(2aB/(aB+bA)) — an exact-int64 quotient evaluated in one
    correctly-rounded division — quantized to integer micro-nats (the
    ROUND-9/FLOOR convention of naive_bayes_langid), so per-source term
    sums Σ a·L₁ and Σ b·L₂ are exact integers and the final JSD is two
    divisions and an average. Scale shape: the corpus is tokenized once;
    everything after is the (sources × V+1) grid — catalog-bounded, built
    by a broadcast cross of two tiny aggregates (bcast-const), never a
    data-sized pair scan."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.select("source", F.explode(tokens("text")).alias("token"))
    g = tok.groupBy("token").agg(F.count("*").alias("b"))
    tot = tok.agg(F.count("*").alias("bt"))
    vocab = g.orderBy(F.desc("b"), "token").limit(_JSD_V)
    stot = tok.groupBy("source").agg(F.count("*").alias("at"))
    sv = (
        tok.join(F.broadcast(vocab.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count("*").alias("a"))
    )
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .join(sv, ["source", "token"], "left")
        .select("source", "at", "b", F.coalesce("a", F.lit(0)).alias("a"))
    )
    vmass = vocab.agg(F.sum("b").alias("vb"))
    oov = (
        stot.join(sv.groupBy("source").agg(F.sum("a").alias("sa")), "source", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vmass))
        .select(
            "source",
            "at",
            (F.col("bt") - F.col("vb")).alias("b"),
            (F.col("at") - F.coalesce("sa", F.lit(0))).alias("a"),
        )
    )
    outcomes = grid.unionByName(oov).crossJoin(F.broadcast(tot))

    def lq(x: F.Column) -> F.Column:
        return F.floor(F.round(F.log(x), 9) * F.lit(1_000_000)).cast("bigint")

    den = (F.col("a") * F.col("bt") + F.col("b") * F.col("at")).cast("double")
    t1 = F.when(
        F.col("a") > 0,
        F.col("a") * lq((F.lit(2) * F.col("a") * F.col("bt")).cast("double") / den),
    ).otherwise(F.lit(0))
    t2 = F.when(
        F.col("b") > 0,
        F.col("b") * lq((F.lit(2) * F.col("b") * F.col("at")).cast("double") / den),
    ).otherwise(F.lit(0))
    return (
        outcomes.select("source", "at", "bt", t1.alias("t1"), t2.alias("t2"))
        .groupBy("source", "at", "bt")
        .agg(F.sum("t1").alias("s1"), F.sum("t2").alias("s2"))
        .select(
            "source",
            F.col("at").cast("bigint").alias("n_tokens"),
            (
                (
                    F.col("s1").cast("double") / F.col("at").cast("double")
                    + F.col("s2").cast("double") / F.col("bt").cast("double")
                )
                / F.lit(2_000_000.0)
            ).alias("jsd_nats"),
        )
    )
