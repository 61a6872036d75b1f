"""Text-analysis operators over the documents table (training-data pipeline
surface): tokenization + explode, per-document quality stats, n-gram
language-ID heuristic, content fingerprinting, and binary-column plumbing.

Everything is pure JVM expressions (split/transform/filter/md5) — no Python
in the hot path — so these run at 100 TB as single-pass scans with map-side
aggregation only where an aggregate is asked for.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from songs_etl_spark.functions.text import has_min_tokens, has_token, tokens, word_shingles
from songs_etl_spark.plans._util import cut, iterate, spread, t, track_persist
from songs_etl_spark.plans.registry import register

#: Tiny per-language stopword inventories for the n-gram/stopword langid
#: heuristic. Deliberately small — the operator shape (hit counting + argmax)
#: is what scales, the dictionaries are swappable.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "la", "de", "los", "que", "y"],
    "de": ["der", "die", "und", "das", "ein", "ist"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}

STOPWORDS = LANG_STOPWORDS["en"]

from songs_etl_spark.functions.text import DUCKDB_TOKENS_SQL

_DUCKDB_TOKENS = DUCKDB_TOKENS_SQL


@register(
    "token_explode_topk",
    doc="F1-F3 explode + agg + deterministic top-k (token frequency)",
    bench=True,
    oracle=f"""
        SELECT token, COUNT(*) AS n
        FROM (SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents)
        WHERE length(token) > 3
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 100
    """,
)
def token_explode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → count → top-k, tie-broken on the token so the
    limit is deterministic. The generated-column explode never materializes
    the token arrays to storage."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    return (
        docs.select(F.explode(tokens("text")).alias("token"))
        .filter(F.length("token") > 3)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(100)
    )


@register(
    "doc_quality_stats",
    doc="per-document quality scoring: token/char counts, type-token ratio, stopword ratio",
    bench=True,
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, n_chars, {_DUCKDB_TOKENS} AS tok FROM documents
        )
        SELECT doc_id,
               n_chars,
               len(tok) AS n_tokens,
               len(list_distinct(tok)) AS n_types,
               CAST(len(list_filter(tok, x -> list_contains({STOPWORDS!r}, x))) AS DOUBLE)
                   / len(tok) AS stopword_ratio,
               CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS type_token_ratio,
               CASE WHEN len(tok) >= 20 AND len(tok) <= 1000 THEN 1 ELSE 0 END AS len_ok
        FROM toks
        WHERE len(tok) > 0
    """,
)
def doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword/type-token quality signals, the standard pre-training
    filter family. Ratios are exact-int divisions → bit-stable doubles."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    with_tok = docs.filter(has_token("text")).select("doc_id", "n_chars", tok.alias("tok"))
    return with_tok.select(
        "doc_id",
        "n_chars",
        F.size("tok").alias("n_tokens"),
        F.size(F.array_distinct("tok")).alias("n_types"),
        (
            F.size(F.filter("tok", lambda x: F.array_contains(stop_arr, x))).cast("double")
            / F.size("tok")
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct("tok")).cast("double") / F.size("tok")).alias(
            "type_token_ratio"
        ),
        F.when((F.size("tok") >= 20) & (F.size("tok") <= 1000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("len_ok"),
    )


def _hits_sql(lang: str) -> str:
    return f"len(list_intersect(list_distinct(tok), {LANG_STOPWORDS[lang]!r}))"


@register(
    "langid_heuristic",
    doc="language identification via stopword-hit argmax",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents)
        SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
               CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
                    WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS predicted
        FROM (
            SELECT doc_id,
                   {_hits_sql('en')} AS en_hits,
                   {_hits_sql('es')} AS es_hits,
                   {_hits_sql('de')} AS de_hits,
                   {_hits_sql('fr')} AS fr_hits
            FROM toks
        )
    """,
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-inventory langid: count distinct-token hits per language,
    argmax with a fixed priority order (en > es > de > fr on ties) so the
    prediction is deterministic."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    base = docs.select("doc_id", F.array_distinct(tokens("text")).alias("tok"))

    def hits(lang: str) -> F.Column:
        arr = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        return F.size(F.array_intersect(F.col("tok"), arr))

    scored = base.select(
        "doc_id",
        hits("en").alias("en_hits"),
        hits("es").alias("es_hits"),
        hits("de").alias("de_hits"),
        hits("fr").alias("fr_hits"),
    )
    e, s_, d, f_ = (F.col(c) for c in ("en_hits", "es_hits", "de_hits", "fr_hits"))
    predicted = (
        F.when((e >= s_) & (e >= d) & (e >= f_), "en")
        .when((s_ >= d) & (s_ >= f_), "es")
        .when(d >= f_, "de")
        .otherwise("fr")
    )
    return scored.withColumn("predicted", predicted)


@register(
    "doc_fingerprint",
    doc="document fingerprinting: min-k hashed-shingle signature",
    oracle="""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, len(tok) - 1),
                       i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                   )) AS shingles
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tok
                  FROM documents)
            WHERE len(tok) >= 3
        )
        SELECT doc_id,
               array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:4], '') AS fingerprint,
               len(shingles) AS n_shingles
        FROM sh
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k signature: the k lexicographically smallest md5(shingle) values,
    concatenated. A compact content fingerprint (MinHash's min-k variant) —
    identical docs share it, near-identical docs share most of it."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = tokens("text")
    base = docs.filter(has_min_tokens("text", 3)).select("doc_id", tok.alias("tok"))
    shingles = F.array_distinct(word_shingles(F.col("tok"), 3))
    return base.select(
        "doc_id",
        F.array_join(
            F.slice(F.array_sort(F.transform(shingles, F.md5)), 1, 4), ""
        ).alias("fingerprint"),
        F.size(shingles).alias("n_shingles"),
    )


#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol —
#: the GPT-2 pre-tokenization shape, reduced to syntax RE2 (DuckDB) and the
#: Java regex engine (Spark) interpret identically.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n]"


@register(
    "token_count_bpe",
    doc="token counting: whitespace vs BPE-ish regex pre-tokenizer, per document",
    oracle=f"""
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '[ \\t\\n]+')) AS n_ws_tokens,
               len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
               CAST(length(text) AS DOUBLE)
                   / len(regexp_extract_all(text, '{BPE_PATTERN}')) AS chars_per_bpe_token
        FROM documents
        WHERE length(trim(text)) > 0
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training budget estimation: whitespace token count next to a
    BPE-ish regex pre-tokenizer count (letter runs / digit runs / single
    symbols), plus the chars-per-token ratio (int/int → bit-stable double).
    Pure JVM regex — a single map-side pass at any scale."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id").filter(
        F.length(F.trim("text")) > 0
    )
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), "[ \\t\\n]+")).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        (F.length("text").cast("double") / bpe).alias("chars_per_bpe_token"),
    )


@register(
    "doc_binary_chunks",
    doc="multimodal column plumbing: opaque binary payloads + typed chunk metadata",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               (octet_length(encode(text)) + 255) // 256 AS n_chunks,
               md5(text) AS content_md5
        FROM documents
    """,
)
def doc_binary_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column schema plumbing: payloads as opaque binary with
    typed metadata (byte size, fixed-size chunk count, content hash). The
    decode/feature-extract path over real image/audio bytes lives in
    songs_etl_spark.operators.multimodal (mapInPandas; stubbed decode)."""
    docs = t(spark, sf_dir, "documents")
    n_bytes = F.octet_length(F.encode("text", "UTF-8"))
    return docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        ((n_bytes + F.lit(255)) / F.lit(256)).cast("bigint").alias("n_chunks"),
        F.md5(F.encode("text", "UTF-8")).alias("content_md5"),
    )


@register(
    "tfidf_top_terms",
    tags=("bcast-const",),
    doc="corpus TF-IDF: per-doc top-3 terms, integer-keyed ranking (tf desc, df asc)",
    oracle=f"""
        WITH flat AS (
            SELECT doc_id, unnest({_DUCKDB_TOKENS}) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM flat GROUP BY doc_id, token
        ), df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM flat GROUP BY token
        ), n AS (
            SELECT COUNT(DISTINCT doc_id) AS n_docs FROM flat
        ), ranked AS (
            SELECT tf.doc_id, tf.token, tf.tf, df.df,
                   ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rk
            FROM tf JOIN df USING (token) CROSS JOIN n
        )
        SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               tfidf, rk
        FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic relevance/keyword
    operator over a corpus. Two keyed aggregations (term frequency per doc,
    document frequency per token) joined back on token; the corpus size is a
    1-row broadcast, never a collect.

    Determinism discipline: the RANKING key is purely integer — (tf desc,
    df asc, token) — so the kept rows and their order are bit-stable on any
    engine; the float tfidf (whose last ulp can differ between libm
    implementations) is display-only, rounded to 6 decimals. At 100 TB both
    aggregations are standard map-side-combine shuffles on (doc, token) /
    token, and the df relation is the only broadcast-sized side."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = flat.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = flat.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n = flat.agg(F.count_distinct("doc_id").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token")
    )
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rk")
    )


@register(
    "doc_unigram_logprob",
    tags=("bcast-const",),
    doc="quality scoring: mean unigram log-probability per doc (statistical LM filter shape)",
    oracle=f"""
        WITH flat AS (
            SELECT doc_id, unnest({_DUCKDB_TOKENS}) AS token FROM documents
        ), freq AS (
            SELECT token, COUNT(*) AS cnt FROM flat GROUP BY token
        ), corpus AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM flat
        ), scored AS (
            SELECT f.doc_id, LN(fr.cnt / c.total) AS lp
            FROM flat f JOIN freq fr USING (token) CROSS JOIN corpus c
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               ROUND(AVG(lp), 6) AS mean_logprob
        FROM scored GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simplest statistical-LM quality filter: score each document by the
    mean log-probability of its tokens under the corpus unigram distribution
    (low = rare/garbled text, the classic pre-training quality signal).

    Plan shape at 100 TB: one (token) aggregation builds the unigram table —
    broadcast-sized for any natural-language vocabulary — then a broadcast
    join back to the token stream and a per-doc aggregation; the corpus total
    is a 1-row broadcast. AVG of doubles is the one order-sensitive step:
    rounded to 6 decimals, and the oracle computes the identical quantity, so
    the comparison tolerates only sub-round-off divergence (display-level,
    like the cosine family)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    freq = flat.groupBy("token").agg(F.count("*").alias("cnt"))
    total = flat.agg(F.count("*").cast("double").alias("total"))
    scored = (
        flat.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("cnt") / F.col("total")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


#: PMI vocabulary cap and pair-support floor: co-occurrence is computed only
#: over the _PMI_TOPV most document-frequent tokens (bounding per-doc pair
#: fan-out at V²/2) and pairs must co-occur in ≥ _PMI_MIN_DOCS documents.
_PMI_TOPV = 50
_PMI_MIN_DOCS = 5


@register(
    "token_pmi_top_pairs",
    tags=("bcast-const",),
    doc="pointwise mutual information of token co-occurrence (top-V "
    "vocabulary, document-level), the collocation-mining shape",
    oracle=f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest({_DUCKDB_TOKENS}) AS token
            FROM documents
        ), topv AS (
            SELECT token, COUNT(*) AS df FROM dt GROUP BY token
            ORDER BY df DESC, token LIMIT {_PMI_TOPV}
        ), fdt AS (
            SELECT dt.doc_id, dt.token, topv.df
            FROM dt JOIN topv USING (token)
        ), pairs AS (
            SELECT a.token AS token_a, b.token AS token_b,
                   COUNT(*) AS n_both,
                   ANY_VALUE(a.df) AS df_a, ANY_VALUE(b.df) AS df_b
            FROM fdt a JOIN fdt b
              ON a.doc_id = b.doc_id AND a.token < b.token
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_PMI_MIN_DOCS}
        ), corpus AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT token_a, token_b, n_both, df_a, df_b,
               ROUND(LN(CAST(n_both AS DOUBLE) * n_docs / (df_a * df_b)), 6) AS pmi
        FROM pairs, corpus
    """,
)
def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI between frequent tokens — the classic collocation /
    co-occurrence statistic (PMI(x,y) = ln P(x,y)/(P(x)P(y)) with
    document-frequency probabilities). The vocabulary is capped to the top-V
    document-frequent tokens (deterministic df-then-token ordering), so the
    per-document pair fan-out is ≤ V²/2 regardless of corpus size, and the
    co-occurrence self-join is keyed by doc_id — per-key work bounded by V,
    never |vocab|². df/N ratios are exact integer ratios; the one ``ln`` is
    a fixed double chain rounded to 6 decimals (same discipline as
    doc_unigram_logprob). At 100 TB: two token-keyed aggregations + one
    doc-keyed self-join, with the V-row vocabulary broadcast.
    """
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    dt = docs.select("doc_id", F.explode(tokens("text")).alias("token")).distinct()
    topv = (
        dt.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(_PMI_TOPV)
    )
    fdt = dt.join(F.broadcast(topv), "token")
    a = fdt.select("doc_id", F.col("token").alias("token_a"), F.col("df").alias("df_a"))
    b = fdt.select("doc_id", F.col("token").alias("token_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(
            F.count("*").alias("n_both"),
            F.any_value("df_a").alias("df_a"),
            F.any_value("df_b").alias("df_b"),
        )
        .where(F.col("n_both") >= _PMI_MIN_DOCS)
    )
    n_docs = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    return pairs.crossJoin(F.broadcast(n_docs)).select(
        "token_a",
        "token_b",
        "n_both",
        "df_a",
        "df_b",
        F.round(
            F.log(
                F.col("n_both").cast("double")
                * F.col("n_docs")
                / (F.col("df_a") * F.col("df_b"))
            ),
            6,
        ).alias("pmi"),
    )


_DUCKDB_BIGRAMS = (
    "list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])"
)


@register(
    "doc_bigram_logprob",
    tags=("bcast-const",),
    doc="bigram-LM quality scoring with add-one smoothing: mean conditional "
    "log-probability per document",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents
        ), uni AS (
            SELECT unnest(tok) AS token FROM toks
        ), ucnt AS (
            SELECT token, COUNT(*) AS c1 FROM uni GROUP BY token
        ), vocab AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM ucnt
        ), big AS (
            SELECT doc_id, unnest({_DUCKDB_BIGRAMS}) AS bigram FROM toks
        ), bcnt AS (
            SELECT bigram, COUNT(*) AS c12 FROM big GROUP BY bigram
        ), scored AS (
            SELECT b.doc_id,
                   LN((bc.c12 + 1) / (uc.c1 + v.v)) AS lp
            FROM big b
            JOIN bcnt bc USING (bigram)
            JOIN ucnt uc ON uc.token = split_part(b.bigram, ' ', 1)
            CROSS JOIN vocab v
        )
        SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS mean_logprob
        FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One rung up from doc_unigram_logprob: score each document by the mean
    conditional bigram log-probability ln P(w₂|w₁) under the corpus bigram
    model with add-one smoothing, P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V). Rare or
    garbled word *sequences* (not just rare words) pull the score down — the
    next-strongest cheap LM filter after unigram.

    Plan shape: bigram and unigram count tables are token-keyed aggregations
    (both broadcast-sized for natural language); the scoring pass joins them
    back onto the bigram stream map-side. The smoothed ratio is exact
    integers in double; ln + AVG rounded to 6 decimals, same discipline as
    the unigram query. Docs with <2 tokens have no bigrams and drop out —
    both engines agree by construction.
    """
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    toks = docs.select("doc_id", tokens("text").alias("tok"))
    uni = toks.select(F.explode("tok").alias("token"))
    ucnt = uni.groupBy("token").agg(F.count("*").alias("c1"))
    vocab = ucnt.agg(F.count("*").cast("double").alias("v"))
    big = toks.select(
        "doc_id", F.explode(word_shingles(F.col("tok"), 2)).alias("bigram")
    )
    bcnt = big.groupBy("bigram").agg(F.count("*").alias("c12"))
    first_tok = F.split(F.col("bigram"), " ")[0]
    scored = (
        big.join(F.broadcast(bcnt), "bigram")
        .withColumn("token", first_tok)
        .join(F.broadcast(ucnt), "token")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = "1.2"
BM25_B = "0.75"


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(tok, x -> x = '{q}')) AS tf{i}"
        for i, q in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = " + ".join(
        f"LN(1 + (st.n - df.df{i} + 0.5) / (df.df{i} + 0.5))"
        f" * (tf.tf{i} * (CAST('{BM25_K1}' AS DOUBLE) + 1))"
        f" / (tf.tf{i} + CAST('{BM25_K1}' AS DOUBLE)"
        f" * (1 - CAST('{BM25_B}' AS DOUBLE)"
        f" + CAST('{BM25_B}' AS DOUBLE) * tf.dl / st.avgdl))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents
        ),
        td AS (SELECT doc_id, tok, len(tok) AS dl FROM toks WHERE len(tok) > 0),
        st AS (
            SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM td
        ),
        tf AS (SELECT doc_id, dl, {tf_cols} FROM td),
        df AS (SELECT {df_cols} FROM tf)
        SELECT tf.doc_id, CAST(tf.dl AS BIGINT) AS dl,
               ROUND({terms}, 9) AS bm25
        FROM tf, df, st
    """


@register(
    "bm25_doc_scores",
    tags=("bcast-const",),
    doc="retrieval ranking: BM25 score per document for a fixed query-term "
    "set — map-side term frequencies, one broadcast stats row, fixed "
    "float chain rounded to 9 (ln 1-ulp guard)",
    oracle=_bm25_oracle(),
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Sparck Jones, the k1/b formulation with the +1 idf
    smoothing) for a pinned query-term set. Everything data-dependent is
    exact — term frequencies and document lengths are map-side integer
    array ops, document frequencies and the corpus (N, avgdl) one tiny
    aggregate broadcast back — and the score itself is a fixed literal
    chain of IEEE ops per document summed in written order (three terms, no
    aggregation), so both engines agree to the final bit before the ROUND-9
    guard absorbs the single transcendental's known 1-ulp ln divergence.

    At 100 TB this is one pass over the corpus plus a broadcast of a
    1-row/3-value stats relation — the scoring half of a retrieval stack
    whose candidate generation is the inverted-index family above."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    td = (
        docs.filter(has_token("text"))
        .select("doc_id", tokens("text").alias("tok"))
        .withColumn("dl", F.size("tok"))
    )
    def tf_of(term: str):
        # NB: a 2-arg lambda (x, q=q) would make PySpark pass the array
        # INDEX as the second argument — bind the term via closure instead.
        return F.size(F.filter("tok", lambda x: x == F.lit(term)))

    for i, q in enumerate(BM25_TERMS):
        td = td.withColumn(f"tf{i}", tf_of(q))
    stats = td.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").cast("double").alias("n"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    k1 = float(BM25_K1)
    b = float(BM25_B)
    joined = td.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(BM25_TERMS)):
        tf = F.col(f"tf{i}")
        idf = F.log(
            1 + (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        term = (
            idf
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
        score = term if score is None else score + term
    return joined.select(
        "doc_id", F.col("dl").cast("bigint").alias("dl"), F.round(score, 9).alias("bm25")
    )


@register(
    "kwic_spark_contexts",
    doc="keyword-in-context extraction: +-3-token windows around every "
    "occurrence of the query term — the retrieval display/debug op, all "
    "map-side",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id, tok, unnest(range(1, len(tok) + 1)) AS pos FROM toks
        )
        SELECT doc_id,
               CAST(pos AS BIGINT) AS pos,
               COALESCE(array_to_string(tok[GREATEST(pos - 3, 1) : pos - 1], ' '), '') AS left_ctx,
               COALESCE(array_to_string(tok[pos + 1 : pos + 3], ' '), '') AS right_ctx
        FROM hits WHERE tok[pos] = 'spark'
    """,
)
def kwic_spark_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context for the term 'spark': every occurrence position
    with its 3-token left and right contexts — the concordance view used
    to debug retrieval hits and audit redaction/excision behavior. Pure
    map-side: posexplode over the token array, slice for each context
    (positions are 1-based on both engines; the left slice clamps at the
    document start). Fan-out is occurrences, never pairs."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    toks = docs.select("doc_id", tokens("text").alias("tok"))
    hits = toks.select(
        "doc_id", "tok", F.posexplode("tok").alias("pos0", "term")
    ).filter(F.col("term") == "spark")
    pos = F.col("pos0") + 1
    left_start = F.greatest(pos - 3, F.lit(1))
    return hits.select(
        "doc_id",
        pos.cast("bigint").alias("pos"),
        F.array_join(
            F.slice("tok", left_start, pos - left_start), " "
        ).alias("left_ctx"),
        F.array_join(
            F.slice("tok", pos + 1, F.lit(3)), " "
        ).alias("right_ctx"),
    )


@register(
    "vocab_growth_heaps",
    tags=("bcast-const",),
    doc="Heaps'-law vocabulary growth: distinct-token count after each "
    "quarter of the corpus — token first-seen positions, no expanding "
    "distinct state",
    oracle="""
        WITH bounds AS (
            SELECT MAX(doc_id) + 1 AS n FROM documents
        ),
        flat AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        first_seen AS (
            SELECT token, MIN(doc_id) AS d0 FROM flat GROUP BY token
        ),
        tok_q AS (
            SELECT LEAST(CAST(FLOOR(d0 * 4 / bounds.n) AS INT) + 1, 4) AS quartile
            FROM first_seen, bounds
        ),
        tokens_per_q AS (
            SELECT quartile, COUNT(*) AS new_types FROM tok_q GROUP BY quartile
        ),
        docs_q AS (
            SELECT LEAST(CAST(FLOOR(doc_id * 4 / bounds.n) AS INT) + 1, 4) AS quartile,
                   COUNT(*) AS n_docs
            FROM documents, bounds GROUP BY 1
        )
        SELECT d.quartile,
               CAST(d.n_docs AS BIGINT) AS n_docs,
               CAST(COALESCE(t.new_types, 0) AS BIGINT) AS new_types,
               CAST(SUM(COALESCE(t.new_types, 0)) OVER (ORDER BY d.quartile
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        FROM docs_q d LEFT JOIN tokens_per_q t ON t.quartile = d.quartile
    """,
)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size growth across the corpus (the Heaps'-law curve that
    sizes tokenizers and predicts open-vocabulary rates): every token
    collapses to its FIRST document (one token-keyed aggregation), first
    appearances bucket into corpus quartiles by doc id, and the running
    vocabulary size is a cumulative sum over 4 rows — the same
    linear-state rewrite as cumulative_unique_users, where the naive
    expanding-window COUNT(DISTINCT) would be quadratic."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    n_df = docs.agg((F.max("doc_id") + 1).alias("n"))
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    first_seen = flat.groupBy("token").agg(F.min("doc_id").alias("d0"))
    tok_q = first_seen.crossJoin(F.broadcast(n_df)).select(
        F.least(F.floor(F.col("d0") * 4 / F.col("n")).cast("int") + 1, F.lit(4)).alias(
            "quartile"
        )
    )
    tokens_per_q = tok_q.groupBy("quartile").agg(F.count("*").alias("new_types"))
    docs_q = (
        docs.crossJoin(F.broadcast(n_df))
        .groupBy(
            F.least(F.floor(F.col("doc_id") * 4 / F.col("n")).cast("int") + 1, F.lit(4)).alias(
                "quartile"
            )
        )
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.orderBy("quartile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        docs_q.join(tokens_per_q, "quartile", "left")
        .select(
            "quartile",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        .withColumn("vocab_size", F.sum("new_types").over(w).cast("bigint"))
    )


#: BPE training rounds for the registered query (the merge-table depth).
_BPE_ROUNDS = 8

#: Canonical symbol-sequence encoding for BPE: every symbol wrapped in
#: {braces} (characters outside the token alphabet [a-z0-9] and the '#'
#: end-of-word marker), so a literal replace of '{a}{b}' -> '{ab}' is the
#: greedy left-to-right non-overlapping merge on BOTH engines — adjacent
#: occurrences share no boundary characters, unlike space-separated
#: encodings where replace misses every second occurrence of 'a b a b'.
_BPE_END = "#"

#: The one regex that splits a brace-encoded word back into its symbol
#: list; Spark (``_symbols``) and DuckDB (``_sql_symbols``) read it alike.
_SYM_RE = r"\{([^}]*)\}"


def _symbols() -> F.Column:
    """Symbol list of the brace-encoded ``p`` column."""
    return F.regexp_extract_all("p", F.lit(_SYM_RE), 1)


def _sql_symbols(col: str) -> str:
    """DuckDB twin of ``_symbols``."""
    return f"regexp_extract_all({col}, '{_SYM_RE}', 1)"


# DuckDB fragments shared by the BPE and WordPiece unrolls: the corpus
# word-frequency preamble (w0 = brace-encoded vocabulary), the per-round
# frequency-weighted adjacent-pair count, and the per-round literal-replace
# merge of best{r} into w{r+1}. CTEs materialized (DuckDB 1.0 re-executes
# multiply-referenced CTEs — the unroll chains R deep).
_SQL_W0 = f"""
        WITH wfreq AS MATERIALIZED (
            SELECT word, COUNT(*) AS freq FROM (
                SELECT unnest({_DUCKDB_TOKENS}) AS word FROM documents
            ) GROUP BY word
        ),
        w0 AS MATERIALIZED (
            SELECT word, freq,
                   regexp_replace(word, '(.)', '{{\\1}}', 'g') || '{{{_BPE_END}}}' AS p
            FROM wfreq
        )"""


def _sql_pairs(r: int) -> str:
    return f"""pairs{r} AS (
            SELECT u.pr['a'] AS a, u.pr['b'] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq,
                       unnest(list_transform(range(1, len(syms)),
                              i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS pr
                FROM (
                    SELECT freq, {_sql_symbols('p')} AS syms
                    FROM w{r}
                )
            ) u GROUP BY 1, 2
        )"""


def _sql_merge_step(r: int) -> str:
    return f"""w{r + 1} AS MATERIALIZED (
            SELECT w.word, w.freq,
                   replace(w.p, '{{' || t.a || '}}{{' || t.b || '}}',
                           '{{' || t.a || t.b || '}}') AS p
            FROM w{r} w, best{r} t
        )"""


def _duckdb_merge_sql(rounds: int, round_ctes, extra_cols: str, final_select: str | None) -> str:
    """Fixed-unroll DuckDB twin of ``_train_merges``: w0, then per round
    the ``round_ctes(r)`` that end in the 1-row argmax ``best{r}``, then the
    merge into w{r+1}. The default final select emits the merge table
    (merge_rank, sym_a, sym_b, pair_count, ``extra_cols``, merged); pass
    ``final_select`` to consume the fully-merged vocabulary ``w{R}``
    instead."""
    parts = [_SQL_W0]
    for r in range(rounds):
        parts.append("\n        , " + ",\n        ".join([*round_ctes(r), _sql_merge_step(r)]))
    if final_select is not None:
        parts.append("\n        " + final_select.replace("{R}", str(rounds)))
        return "".join(parts)
    selects = [
        f"SELECT {r + 1} AS merge_rank, a AS sym_a, b AS sym_b, "
        f"cnt AS pair_count, {extra_cols}a || b AS merged FROM best{r}"
        for r in range(rounds)
    ]
    parts.append("\n        " + "\n        UNION ALL\n        ".join(selects))
    return "".join(parts)


def _duckdb_bpe_sql(rounds: int = _BPE_ROUNDS, final_select: str | None = None) -> str:
    """BPE unroll: per round, the frequency-weighted pair count and its
    (count DESC, pair ASC) argmax."""

    def round_ctes(r: int) -> list[str]:
        best = f"""best{r} AS MATERIALIZED (
            SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1
        )"""
        return [_sql_pairs(r), best]

    return _duckdb_merge_sql(rounds, round_ctes, "", final_select)


def _counts_final_select(out_col: str) -> str:
    """Oracle tail of the segment-count encoders: per-document word and
    segment counts joined to the fully-merged vocabulary w{R}."""
    return f"""
        , doc_words AS (
            SELECT doc_id, unnest({_DUCKDB_TOKENS}) AS word FROM documents
        )
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len({_sql_symbols('w.p')})) AS BIGINT)
                   AS {out_col}
        FROM doc_words d JOIN w{{R}} w USING (word)
        GROUP BY d.doc_id"""


_MERGES_SCHEMA = "merge_rank int, sym_a string, sym_b string, pair_count bigint, merged string"


@register(
    "bpe_train_merges",
    doc="iterative algorithm: byte-pair-encoding tokenizer training — the "
    "first R merge rules learned from the corpus word-frequency table, "
    "full value-level unrolled oracle",
    oracle=_duckdb_bpe_sql(),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first ``_BPE_ROUNDS`` BPE merges (Sennrich et al. 2016) on
    the corpus: words (with '#' end marker) start as character sequences;
    each round counts adjacent symbol pairs weighted by word frequency,
    merges the most frequent pair everywhere (greedy left-to-right,
    lexicographic tie-break), and repeats. Output is the learned merge
    table — (merge_rank, sym_a, sym_b, pair_count, merged) — exactly what
    a BPE tokenizer ships as its model.

    Spark shape per round (``_train_merges`` at k=1): one explode +
    (pair)-keyed sum over the DISTINCT word relation (vocabulary-sized, not
    corpus-sized — the standard BPE trick of training on the word-frequency
    dict), an argmax collect (model state on the driver, like Lloyd's
    centroids), and a map-side literal replace. At 100 TB the corpus only
    ever contributes through the one word-count aggregation up front; all R
    rounds run on the vocabulary relation.

    Cross-engine exactness: integer frequency sums, binary-collation
    string ordering for the tie-break, and the brace-encoded symbol
    strings make Spark's and DuckDB's literal ``replace`` the identical
    greedy merge (see _BPE_END note)."""
    return spark.createDataFrame(_train(spark, sf_dir)[0], _MERGES_SCHEMA)


@register(
    "bpe_train_merges_batched",
    doc="iterative algorithm, production trainer path: BPE merge training "
    "with top-K conflict-free merges applied per driver round (~R/K "
    "barriers instead of R), bit-equal to the sequential trainer by the "
    "disjoint-prefix argument; same unrolled sequential oracle",
    oracle=_duckdb_bpe_sql(),
)
def bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_train_merges`` with the per-merge driver barrier removed — the
    trainer-side completion of the encoder's Arrow fix
    (``bpe_segment_counts_arrow``). The sequential trainer is correct but
    runs one Spark job + one driver collect PER MERGE; a production
    tokenizer is 30k-50k merges = 30k sequential barriers, a round count
    that scales with the MODEL rather than the data. This path collects the
    top-(K+1) pair window once per round and applies every merge in the
    maximal conflict-free prefix (``_conflict_free_batch``: pairwise
    symbol-disjoint, counts strictly above the first rejected candidate's)
    in a single map pass — ~R/K driver barriers, each still backed by the
    one vocabulary-sized aggregation.

    Equality with the sequential trainer is not approximate: disjoint
    merges commute, batch counts strictly dominate everything a merge can
    create or leave behind, so the greedy argmax sequence is preserved
    exactly (proof sketch at ``_conflict_free_batch``; property-tested on
    tie/overlap-adversarial corpora in tests/test_bpe_batched.py and
    oracle-checked here against the SAME fully-sequential DuckDB unroll as
    ``bpe_train_merges``)."""
    return spark.createDataFrame(_train(spark, sf_dir, k=_BPE_BATCH_K)[0], _MERGES_SCHEMA)


@register(
    "bpe_train_merges_incremental",
    doc="iterative algorithm, large-vocabulary trainer path: batched BPE "
    "training with DELTA-MAINTAINED pair counts (only words containing a "
    "just-merged pair are recounted; deltas fold into checkpointed state) "
    "— identical merge tables to the recount path by exact integer "
    "arithmetic; same unrolled sequential oracle",
    oracle=_duckdb_bpe_sql(),
)
def bpe_train_merges_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_train_merges_batched`` with ``incremental=True``: pair counts
    are maintained by delta instead of recounted from the full vocabulary
    each round. The oracle gate proves the two paths produce the SAME
    merge table on the same corpus (both are checked against the identical
    sequential DuckDB unroll); which one is FASTER depends on vocabulary
    size — a measured crossover, not a uniform win (BASELINE.md round 8:
    recount wins at 94k words where per-round wall is job-overhead-bound,
    delta wins 1.4x at 822k words with the per-round curve dropping down
    the Zipf tail). Production tokenizer runs (1M+ word vocabularies,
    R=30k) sit on the delta side of the crossover; the registered-corpus
    default stays recount."""
    out_rows = _train(spark, sf_dir, k=_BPE_BATCH_K, incremental=True)[0]
    return spark.createDataFrame(out_rows, _MERGES_SCHEMA)


def _base_words(spark: SparkSession, sf_dir: str):
    """The BPE trainer/encoder's shared starting relation: corpus word
    frequencies with each word brace-encoded as a character symbol sequence
    plus the end-of-word marker."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    wfreq = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return bpe_encode_base(wfreq)


def bpe_encode_base(wfreq: DataFrame) -> DataFrame:
    """Brace-encode a (word, freq) relation into the trainers' base form:
    one {sym} per character plus the end-of-word marker (public so tests can
    train on synthetic corpora through the identical encoding)."""
    return wfreq.select(
        "word",
        "freq",
        F.concat(
            F.regexp_replace("word", "(.)", "{$1}"), F.lit("{" + _BPE_END + "}")
        ).alias("p"),
    )


def bpe_apply_merges(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned BPE merge table of ARBITRARY size to a brace-encoded
    symbol relation — the production encoder seam.

    The registered expression form chains one literal ``F.replace`` per
    merge, which is exact but O(R) deep in the expression tree: fine at the
    oracle's R=8, not compilable at a production tokenizer's 30k+ merges.
    Here the merge table rides the task closure (model-in-closure Arrow
    pattern, same as operators/clustering.assign_arrow) and each Arrow
    batch applies the merges with pandas' non-regex ``str.replace`` —
    Python's left-to-right non-overlapping replace, the IDENTICAL semantics
    of Spark's ``F.replace`` and DuckDB's ``replace`` on brace-encoded
    strings (no shared boundary chars between adjacent occurrences), so the
    two forms are bit-equal at any R (pinned by test at R=8 against the
    unrolled oracle). Corpus-scale cost: one map pass over the
    vocabulary-sized relation, no shuffle, no join."""
    reps = [("{%s}{%s}" % (a, b), "{%s%s}" % (a, b)) for a, b in merges]
    fields = list(words.schema.fieldNames())

    def apply_batches(batches):
        for pdf in batches:
            s = pdf["p"]
            for pat, rep in reps:
                s = s.str.replace(pat, rep, regex=False)
            yield pdf.assign(p=s)[fields]

    return words.mapInPandas(apply_batches, schema=words.schema)


def _adjacent_pairs(syms: F.Column) -> F.Column:
    """(a, b) structs of the adjacent pairs of a symbol list. Callers guard
    size >= 2: Spark's ``sequence(1, 0)`` DESCENDS instead of being empty,
    so a 1-symbol word would index element_at out of bounds."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"),
            F.element_at(syms, i + 1).alias("b"),
        ),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """BPE candidate relation: frequency-weighted (a, b, cnt) adjacent-pair
    counts over a brace-encoded (freq, p) relation. Additive in ``cnt``,
    which the incremental trainer's delta fold relies on."""
    syms = _symbols()
    return (
        words.filter(F.size(syms) >= 2)
        .select("freq", F.explode(_adjacent_pairs(syms)).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_replace(col: F.Column, a: str, b: str) -> F.Column:
    """One BPE merge as the brace-encoded literal replace (greedy
    left-to-right non-overlapping on both engines — see _BPE_END)."""
    return F.replace(col, F.lit("{" + a + "}{" + b + "}"), F.lit("{" + a + b + "}"))


#: Candidate window per batched-trainer round: the top (_BPE_BATCH_K + 1)
#: pairs are collected; up to _BPE_BATCH_K non-conflicting merges apply per
#: round. K = 16 is the measured knee (tools/bpe_stress.py, R=512 on a 94k
#: Zipf vocabulary): the conflict-free strictly-above-c_stop rule admits
#: ~2.8 merges/round there regardless of window size — K=16/64/256 all
#: measured 182 barriers vs the sequential trainer's 512 (3.0x wall win,
#: bit-equal merge tables) — so a wider window only pays collect size.
#: The property test pins the selection rule on adversarial corpora at
#: several K.
_BPE_BATCH_K = 16


def _conflict_free_batch(cands: list, k: int) -> list:
    """Select the provably-order-preserving merge batch from the sorted
    (cnt DESC, a, b) candidate window.

    Rule: accept the maximal PREFIX whose pairs are pairwise
    symbol-disjoint, then truncate to members with cnt STRICTLY above
    ``c_stop`` = the count at the first rejected position (first conflict,
    or the (k+1)-th candidate when no conflict appears in the window).

    Why this equals the sequential trainer exactly: batch members are
    pairwise disjoint, so applying one leaves the others' counts unchanged;
    every pair outside the batch — including every pair a merge CREATES —
    is bounded by c_stop (a created pair ({ab}, x)'s count is at most the
    pre-merge count of (b, x), which overlaps an accepted symbol and is
    therefore not in the batch, hence ≤ c_stop, inductively across the
    batch). With batch counts strictly above c_stop, the sequential argmax
    at every sub-step is exactly the next batch member in sorted order —
    non-overlapping merges commute, and nothing outside the batch can
    overtake them, ties included. Falls back to the plain argmax (the
    sequential step verbatim) whenever truncation empties the batch, so
    k=1 always returns ``cands[0]``."""
    accepted: list = []
    used: set[str] = set()
    c_stop = None
    for i, row in enumerate(cands):
        if i >= k or row["a"] in used or row["b"] in used:
            c_stop = row["cnt"]
            break
        accepted.append(row)
        used.add(row["a"])
        used.add(row["b"])
    if c_stop is not None:
        accepted = [r for r in accepted if r["cnt"] > c_stop]
    return accepted or [cands[0]]


def _train_merges(
    base: DataFrame,
    rounds: int,
    candidates=_pair_counts,
    rank: str = "cnt",
    k: int = 1,
    on_round=None,
    incremental: bool = False,
):
    """The merge-trainer loop of the BPE and WordPiece families over a
    prepared (word, freq, p) base. Each driver round ranks the
    ``candidates(words)`` relation — (a, b, ``rank``, ...) rows — by
    (``rank`` DESC, a, b), collects the top k+1, applies the
    ``_conflict_free_batch`` of up to k merges in one map-side literal
    replace, and records one merge row (merge_rank, *candidate row,
    merged) per applied merge. At k=1 this is the plain sequential greedy
    trainer; at k > 1 it needs ~R/k driver barriers and is bit-equal to k=1
    by the ``_conflict_free_batch`` argument. That argument holds for the
    count criterion only, as does the delta fold below, so a score-ranked
    trainer (WordPiece) runs at k=1 without ``incremental``.

    The rounds run under :func:`iterate`, so the per-round words relation
    is cut and per-round cost stays CONSTANT in r (tools/bpe_stress.py
    measures the R=512 curve); the cut fills inside the next round's
    argmax job (or the caller's first action).

    ``incremental`` selects the pair-count strategy; BOTH are exact and
    produce identical merge tables (asserted head-to-head in
    tools/bpe_stress.py --compare-incremental):

    - ``False`` (default): recount all pairs each round — one
      vocabulary-sized explode + shuffle aggregation per round over the
      DISTINCT-WORD vocabulary (corpus size enters only through the
      ``freq`` weights).
    - ``True``: delta maintenance — filter words to those CONTAINING a
      just-merged pair (literal ``contains``), recount only those before/
      after the merges, fold (negated-old + new) deltas into a
      cut count state. Saves the unaffected-word explode but
      pays a pair-vocabulary-sized state fold + cut per round and
      one extra driver barrier. Measured at R=512 on a 94k-word Zipf
      vocabulary (BASELINE.md round 8): 151.9 s vs 100.6 s for the
      recount — SLOWER, because per-round wall is dominated by fixed
      job overhead and the state fold is as large as the recount at this
      vocab size. Kept as the measured-crossover seam for vocabularies
      where the pair state is much smaller than the word relation.

    Returns (merge rows, final words relation — caller persists,
    driver-barrier count); ``on_round(barrier_index, merges_done)`` is
    called after each round so harnesses can record the per-round wall
    curve without touching the trainer."""
    assert rank == "cnt" or (k == 1 and not incremental), (
        "batching and delta counts are exact for the count criterion only"
    )
    out_rows: list = []
    n_barriers = 0

    def merge_round(state: tuple[DataFrame, DataFrame | None]):
        nonlocal n_barriers
        words, counts = state
        if len(out_rows) >= rounds:
            return None
        ranked = (counts if incremental else candidates(words)).orderBy(F.desc(rank), "a", "b")
        cands = ranked.limit(k + 1).collect()
        n_barriers += 1
        if not cands:  # vocabulary fully merged (degenerate tiny corpora)
            return None
        batch = _conflict_free_batch(cands, k)[: rounds - len(out_rows)]
        col = F.col("p")
        for row in batch:
            out_rows.append((len(out_rows) + 1, *row, row["a"] + row["b"]))
            col = _merge_replace(col, row["a"], row["b"])
        if incremental:
            hits = [F.col("p").contains("{%s}{%s}" % (r["a"], r["b"])) for r in batch]
            affected = words.filter(reduce(lambda x, y: x | y, hits))
            neg = candidates(affected).select("a", "b", (-F.col("cnt")).alias("cnt"))
            pos = candidates(affected.select("word", "freq", col.alias("p")))
            counts = (
                counts.unionByName(neg)
                .unionByName(pos)
                .groupBy("a", "b")
                .agg(F.sum("cnt").alias("cnt"))
                .filter(F.col("cnt") != 0)
            )
        if on_round is not None:
            on_round(n_barriers, len(out_rows))
        return words.select("word", "freq", col.alias("p")), counts

    counts = cut(candidates(base)) if incremental else None
    (words, _), _ = iterate((base, counts), merge_round, rounds)
    return out_rows, words, n_barriers


def _train(spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS, **train_kw):
    """Train on the corpus: returns (merge rows, final (word, freq, p)
    vocabulary relation with all merges applied, pre-merge base relation).
    The final relation's plan is self-contained (the merges are baked in as
    literal replaces), so it stays valid for lazy consumers; final and base
    are track_persisted for reuse (the Arrow encoder re-applies the merges
    to the SAME base rather than re-aggregating the corpus).
    ``train_kw`` goes to ``_train_merges``."""
    base = track_persist(_base_words(spark, sf_dir))
    base.count()
    out_rows, words, _ = _train_merges(base, rounds, **train_kw)
    return out_rows, track_persist(words), base


def _segment_counts(
    spark: SparkSession, sf_dir: str, vocab: DataFrame, out_col: str
) -> DataFrame:
    """Encoder tail: one broadcast join of a merged (word, p) vocabulary
    onto the exploded token stream + a per-doc integer aggregation —
    (doc_id, n_words, ``out_col``), the corpus-sized work being a single
    map-side join + one doc-keyed sum."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    return (
        flat.join(F.broadcast(vocab.select("word", "p")), "word")
        .select("doc_id", F.size(_symbols()).alias("n_sym"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias(out_col),
        )
    )


@register(
    "bpe_segment_counts",
    doc="tokenizer APPLY: per-document BPE segment counts under the learned "
    "merge table — the token-budget accounting a trained tokenizer feeds "
    "into packing/quota stages",
    oracle=_duckdb_bpe_sql(final_select=_counts_final_select("n_bpe_tokens")),
)
def bpe_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode step of the BPE pair: apply the ``bpe_train_merges`` model to
    every document and count resulting segments — (doc_id, n_words,
    n_bpe_tokens). n_bpe_tokens < character count measures the compression
    the learned merges bought; this is the number packing/quota operators
    (pack_documents_budget, rag_context_pack) would budget against under a
    real subword tokenizer instead of whitespace tokens.

    Plan: training as in ``bpe_train_merges`` (vocabulary relation only),
    then the ``_segment_counts`` tail."""
    return _segment_counts(spark, sf_dir, _train(spark, sf_dir)[1], "n_bpe_tokens")


@register(
    "bpe_segment_counts_arrow",
    doc="tokenizer APPLY, production encoder path: per-document BPE segment "
    "counts with the merge table applied model-in-closure via Arrow "
    "(arbitrary merge-table size) instead of an R-deep replace chain",
    oracle=_duckdb_bpe_sql(final_select=_counts_final_select("n_bpe_tokens")),
)
def bpe_segment_counts_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_segment_counts`` with the encode step swapped to the
    production path: the learned merge table is shipped in the Arrow task
    closure (``bpe_apply_merges``) and applied by one vocabulary-sized map
    pass, instead of baking R literal replaces into the expression tree.
    Identical output by construction (Python / Spark / DuckDB literal
    replace all share left-to-right non-overlapping semantics on the
    brace encoding) — and identically ORACLE-CHECKED, so the claim is
    verified per run, not assumed. This is the shape that survives a 30k+
    merge production tokenizer, where an O(R)-deep expression chain stops
    compiling; R here stays the oracle's unroll depth."""
    merge_rows, _, base = _train(spark, sf_dir)
    applied = bpe_apply_merges(base.select("word", "p"), [(m[1], m[2]) for m in merge_rows])
    return _segment_counts(spark, sf_dir, applied, "n_bpe_tokens")


# ---------------------------------------------------------------------------
# WordPiece trainer — the third tokenizer family (BPE has train+apply,
# unigram-LM has EM round + prune + apply; WordPiece completes the trio)
# ---------------------------------------------------------------------------

#: WordPiece training rounds for the registered query (merge-table depth —
#: matches _BPE_ROUNDS so the two trainers' merge tables are comparable on
#: the same corpus).
_WP_ROUNDS = 8


def _duckdb_wordpiece_sql(rounds: int = _WP_ROUNDS, final_select: str | None = None) -> str:
    """WordPiece unroll: per round, count adjacent symbol pairs AND
    individual symbol occurrences (both frequency-weighted), score each
    pair by the likelihood criterion ``count(ab) / (count(a) * count(b))``
    and pick the (score DESC, pair ASC) argmax. The score is the one double
    in the pipeline and it is a deterministic per-row expression over exact
    int64 sums (both engines' int64→double conversion and division are
    correctly rounded), so the argmax — ties broken on binary string order
    — is bit-identical cross-engine."""

    def round_ctes(r: int) -> list[str]:
        syms = f"""syms{r} AS MATERIALIZED (
            SELECT s AS sym, CAST(SUM(freq) AS BIGINT) AS c
            FROM (
                SELECT freq, unnest({_sql_symbols('p')}) AS s
                FROM w{r}
            ) GROUP BY s
        )"""
        best = f"""best{r} AS MATERIALIZED (
            SELECT p.a, p.b, p.cnt, sa.c AS ca, sb.c AS cb,
                   CAST(p.cnt AS DOUBLE) / CAST(sa.c * sb.c AS DOUBLE) AS score
            FROM pairs{r} p
            JOIN syms{r} sa ON sa.sym = p.a
            JOIN syms{r} sb ON sb.sym = p.b
            ORDER BY score DESC, p.a, p.b LIMIT 1
        )"""
        return [syms, _sql_pairs(r), best]

    extra_cols = "ca AS count_a, cb AS count_b, score, "
    return _duckdb_merge_sql(rounds, round_ctes, extra_cols, final_select)


def _wordpiece_scores(words: DataFrame) -> DataFrame:
    """WordPiece candidate relation: (a, b, cnt, ca, cb, score) with score =
    cnt / (ca · cb). ONE vocabulary-sized explode + aggregation tallies
    adjacent pairs and symbol occurrences together (a pair row is (a, b), a
    symbol row is (a, NULL) — disjoint key spaces, one shuffle), cut
    so the score join's two broadcast reads of the symbol slice do not each
    re-run the explode. Counts are exact integer sums; the score is one
    correctly-rounded division."""
    syms = _symbols()
    pairs = F.when(F.size(syms) >= 2, _adjacent_pairs(syms)).otherwise(F.array())
    singles = F.transform(
        syms, lambda s: F.struct(s.alias("a"), F.lit(None).cast("string").alias("b"))
    )
    tallies = cut(
        words.select("freq", F.explode(F.concat(pairs, singles)).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )
    sc = tallies.filter(F.col("b").isNull())
    score = F.col("cnt").cast("double") / (F.col("ca") * F.col("cb")).cast("double")
    return (
        tallies.filter(F.col("b").isNotNull())
        .join(F.broadcast(sc.select("a", F.col("cnt").alias("ca"))), "a")
        .join(F.broadcast(sc.select(F.col("a").alias("b"), F.col("cnt").alias("cb"))), "b")
        .select("a", "b", "cnt", "ca", "cb", score.alias("score"))
    )


#: ``_train`` arguments of the WordPiece trainer.
_WP_TRAIN = dict(rounds=_WP_ROUNDS, candidates=_wordpiece_scores, rank="score")


@register(
    "wordpiece_train_merges",
    doc="iterative algorithm: WordPiece tokenizer training — the first R "
    "merges by the likelihood score count(ab)/(count(a)*count(b)) "
    "(Schuster & Nakajima 2012; the BERT tokenizer's criterion), full "
    "value-level unrolled oracle",
    oracle=_duckdb_wordpiece_sql(),
)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first ``_WP_ROUNDS`` WordPiece merges on the corpus
    word-frequency table. Identical mechanics to ``bpe_train_merges``
    (brace-encoded symbol sequences, greedy literal-replace merge,
    vocabulary-sized per-round state, the same ``_train_merges`` loop at
    k=1) with one change — the merge criterion: BPE merges the most
    FREQUENT adjacent pair; WordPiece merges the pair maximizing
    ``count(ab) / (count(a) * count(b))``, the likelihood gain of the merge
    under a unigram model. That denominator is what makes WordPiece prefer
    gluing rare-but-predictive symbol pairs over merely common ones — the
    criterion BERT's tokenizer ships.

    Spark shape per round: the ``_wordpiece_scores`` tally (vocabulary-
    sized, never corpus-sized — the corpus contributes only through the
    word-frequency aggregation up front), the tiny symbol slice broadcast
    into the score join, one argmax collect (model state on the driver),
    one map-side replace.

    Cross-engine exactness: all counts are integer sums; the score is a
    single correctly-rounded division of int64-exact doubles (registry
    determinism rule 3), so ordering plus the binary-collation (a, b)
    tie-break selects the identical merge on both engines. Completes the
    tokenizer-trainer trio: BPE (frequency), WordPiece (likelihood),
    unigram-LM (EM + prune)."""
    return spark.createDataFrame(
        _train(spark, sf_dir, **_WP_TRAIN)[0],
        "merge_rank int, sym_a string, sym_b string, pair_count bigint, "
        "count_a bigint, count_b bigint, score double, merged string",
    )


@register(
    "wordpiece_segment_counts",
    doc="tokenizer APPLY, WordPiece: per-document segment counts under the "
    "likelihood-learned merge table — train+apply parity with the BPE "
    "family for the third tokenizer",
    oracle=_duckdb_wordpiece_sql(final_select=_counts_final_select("n_wp_tokens")),
)
def wordpiece_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode step of the WordPiece pair: apply the
    ``wordpiece_train_merges`` model to every document and count resulting
    segments — (doc_id, n_words, n_wp_tokens), the same token-budget
    surface ``bpe_segment_counts`` gives the frequency-trained model.
    Comparing the two columns on the same corpus is the standard
    tokenizer-selection diff (likelihood merges buy better compression on
    rare-morphology text; frequency merges on head-heavy text). Plan
    identical to the BPE encoder."""
    words = _train(spark, sf_dir, **_WP_TRAIN)[1]
    return _segment_counts(spark, sf_dir, words, "n_wp_tokens")


#: Unigram-LM tokenizer geometry: candidate pieces are ALL substrings of
#: corpus words up to this length (so Viterbi is always feasible via
#: single-char pieces), and the oracle's DP unroll covers words up to
#: _ULM_LMAX chars (corpus max is 8; the Spark side handles any length —
#: the unroll bound is asserted against the data by the oracle equality
#: itself: a longer word would produce a row the oracle lacks).
_ULM_PIECE_MAX = 4
_ULM_LMAX = 16


def _duckdb_unigram_sql() -> str:
    """Fully-unrolled DuckDB twin of the unigram-LM segmenter: piece
    vocabulary (all substrings ≤ _ULM_PIECE_MAX, occurrence-weighted by
    word frequency) → round-9 log-probs → per-word VITERBI DP unrolled to
    _ULM_LMAX positions (struct-min argmax: max score, tie fewer pieces,
    tie longest last piece) → per-doc aggregation with nano-quantized
    logprob sums (exact integer addition, partition-order-independent)."""
    parts = [
        f"""
        WITH toks AS (
            SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents
        ),
        wfreq AS MATERIALIZED (
            SELECT word, COUNT(*) AS freq
            FROM (SELECT unnest(tok) AS word FROM toks) GROUP BY word
        ),
        pieces AS MATERIALIZED (
            SELECT piece, SUM(freq) AS cnt FROM (
                SELECT w.freq,
                       substr(w.word, CAST(ss.s AS INT), CAST(ll.l AS INT)) AS piece
                FROM wfreq w,
                     LATERAL (SELECT unnest(range(1, LENGTH(w.word) + 1)) AS s) ss,
                     LATERAL (SELECT unnest(range(1, {_ULM_PIECE_MAX + 1})) AS l) ll
                WHERE ss.s + ll.l - 1 <= LENGTH(w.word)
            ) GROUP BY piece
        ),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM pieces),
        probs AS MATERIALIZED (
            SELECT piece, ROUND(LN(CAST(cnt AS DOUBLE) / t.total), 9) AS lp
            FROM pieces, tot t
        ),
        words AS MATERIALIZED (SELECT word, LENGTH(word) AS len FROM wfreq),
        best0 AS (SELECT word, len, CAST(0 AS DOUBLE) AS score, 0 AS n FROM words)"""
    ]
    for i in range(1, _ULM_LMAX + 1):
        js = range(max(0, i - _ULM_PIECE_MAX), i)
        cands = "\n            UNION ALL\n            ".join(
            f"""SELECT b.word, b.len, b.score + p.lp AS score, b.n + 1 AS n, {j} AS j
            FROM best{j} b JOIN probs p ON p.piece = substr(b.word, {j + 1}, {i - j})
            WHERE b.len >= {i}"""
            for j in js
        )
        parts.append(
            f"""
        , best{i} AS MATERIALIZED (
            SELECT word, len,
                   -struct_extract(m, 'negscore') AS score,
                   struct_extract(m, 'n') AS n
            FROM (
                SELECT word, len,
                       min({{'negscore': -score, 'n': n, 'j': j}}) AS m
                FROM (
            {cands}
                ) GROUP BY word, len
            )
        )"""
        )
    finals = "\n            UNION ALL\n            ".join(
        f"SELECT word, score, n FROM best{i} WHERE len = {i}"
        for i in range(1, _ULM_LMAX + 1)
    )
    parts.append(
        f"""
        , seg AS MATERIALIZED (
            {finals}
        ),
        doc_words AS (SELECT doc_id, unnest(tok) AS word FROM toks)
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(s.n) AS BIGINT) AS n_lm_tokens,
               CAST(SUM(CAST(ROUND(s.score * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
                   AS lm_logprob
        FROM doc_words d JOIN seg s USING (word)
        GROUP BY d.doc_id"""
    )
    return "".join(parts)


def unigram_segment_arrow(words: DataFrame, lp_map: dict[str, float]) -> DataFrame:
    """Viterbi segmentation of (word) rows under a unigram piece model that
    rides the task closure (model-in-closure Arrow pattern — the tokenizer
    IS the model). DP state per position: (score, n_pieces); candidates
    compared as (−score, n, j) tuples — Python tuple order is exactly the
    oracle's struct-min field order, and every float op (score + lp, unary
    minus) is the identical IEEE sequence, so results are bit-equal to the
    unrolled SQL at any word length."""
    import pandas as pd

    pmax = _ULM_PIECE_MAX

    def run(batches):
        for pdf in batches:
            out_n, out_s = [], []
            for w in pdf["word"]:
                L = len(w)
                best = [(-0.0, 0)] + [None] * L  # (negscore, n)
                for i in range(1, L + 1):
                    m = None
                    for j in range(max(0, i - pmax), i):
                        negs, n = best[j]
                        cand = (-((-negs) + lp_map[w[j:i]]), n + 1, j)
                        if m is None or cand < m:
                            m = cand
                    best[i] = (m[0], m[1])
                out_n.append(best[L][1])
                out_s.append(-best[L][0])
            yield pd.DataFrame({"word": pdf["word"], "n": out_n, "score": out_s})

    return words.mapInPandas(run, "word string, n int, score double")


def unigram_segment_joined(per_word: DataFrame) -> DataFrame:
    """Viterbi segmentation over (word, cands: array<struct<s,l,lp>>) rows —
    the JOIN-FED form of :func:`unigram_segment_arrow`: the piece model
    arrives per-row via a broadcast equi-join on the distributed piece
    relation instead of a driver-collected closure dict, so no driver-side
    materialization grows with the vocabulary. Each row's DP reads its own
    candidate spans ((s, l) 1-based start/length) from a per-row dict; the
    float chain — (−score, n, j) tuple comparisons, score + lp in j-ascending
    order — is op-for-op the closure form's, so results are bit-equal
    (pinned by the shared oracle)."""
    import pandas as pd

    pmax = _ULM_PIECE_MAX

    def run(batches):
        for pdf in batches:
            out_n, out_s = [], []
            for w, cands in zip(pdf["word"], pdf["cands"]):
                lp_span = {(c["s"], c["l"]): c["lp"] for c in cands}
                L = len(w)
                best = [(-0.0, 0)] + [None] * L  # (negscore, n)
                for i in range(1, L + 1):
                    m = None
                    for j in range(max(0, i - pmax), i):
                        negs, n = best[j]
                        cand = (-((-negs) + lp_span[(j + 1, i - j)]), n + 1, j)
                        if m is None or cand < m:
                            m = cand
                    best[i] = (m[0], m[1])
                out_n.append(best[L][1])
                out_s.append(-best[L][0])
            yield pd.DataFrame({"word": pdf["word"], "n": out_n, "score": out_s})

    return per_word.mapInPandas(run, "word string, n int, score double")


@register(
    "unigram_lm_segment_counts",
    tags=("bcast-const",),
    doc="second tokenizer family: SentencePiece-style unigram-LM Viterbi "
    "segmentation (max-likelihood piece split per word) — piece model, DP "
    "and per-doc token counts all inside a fully unrolled exact oracle",
    oracle=_duckdb_unigram_sql(),
)
def unigram_lm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM tokenizer (Kudo 2018, SentencePiece's default) beside
    the BPE pair: score every substring piece (≤4 chars, occurrence-
    weighted by word frequency, round-9 log-probs), then segment each
    vocabulary word by VITERBI — the max-total-logprob split, ties to
    fewer pieces then longest-last-piece — and account per document:
    (doc_id, n_words, n_lm_tokens, lm_logprob).

    Spark shape at 100 TB: the corpus contributes one word-count
    aggregation and one piece-count aggregation; the piece model reaches
    the Viterbi DP by a BROADCAST EQUI-JOIN — each distinct word explodes
    its candidate (start, length, piece) spans, joins the distributed piece
    relation on piece, and regroups to a per-word candidate list — so no
    driver-side materialization grows with the vocabulary (the closure-dict
    form this replaced collected the whole piece model to the driver;
    at web scale vocabulary relations are GBs). The DP itself
    (unigram_segment_joined) runs per word over its own ≤ 4·len candidate
    spans; per-doc accounting is a broadcast join + integer sums. Log-prob
    sums are nano-quantized to exact integers before the doc aggregation,
    so the total is partition-order-independent. The lp model values are
    computed by Spark expressions (round-9 after ln — the established
    cross-engine contract) and only then handed to Python, so DP floats
    never depend on Python's libm."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("doc_id", F.explode(tokens("text")).alias("word"))
    wfreq = flat.groupBy("word").agg(F.count("*").alias("freq"))
    pieces = (
        wfreq.select(
            "freq",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda s: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.lit(_ULM_PIECE_MAX)),
                                lambda l: F.substring(F.col("word"), s, l),
                            ),
                            lambda p, li: s + li + 1 - 1 <= F.length(F.col("word")),
                        ),
                    )
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    total = pieces.agg(F.sum("cnt").cast("double").alias("total"))
    probs = pieces.crossJoin(F.broadcast(total)).select(
        "piece", F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 9).alias("lp")
    )
    cand = wfreq.select(
        "word",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda s: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(_ULM_PIECE_MAX)),
                            lambda ln: F.struct(
                                s.alias("s"),
                                ln.alias("l"),
                                F.substring(F.col("word"), s, ln).alias("piece"),
                            ),
                        ),
                        lambda st: st["s"] + st["l"] - 1 <= F.length(F.col("word")),
                    ),
                )
            )
        ).alias("c"),
    ).select("word", "c.s", "c.l", "c.piece")
    per_word = (
        cand.join(F.broadcast(probs), "piece")
        .groupBy("word")
        .agg(F.collect_list(F.struct("s", "l", "lp")).alias("cands"))
    )
    seg = unigram_segment_joined(per_word)
    nano = F.round(F.col("score") * 1e9).cast("bigint")
    return (
        flat.join(F.broadcast(seg.select("word", "n", nano.alias("nano"))), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n").cast("bigint").alias("n_lm_tokens"),
            (F.sum("nano").cast("double") / F.lit(1e9)).alias("lm_logprob"),
        )
    )


def _duckdb_unigram_em_sql(final_select: str | None = None) -> str:
    """Fully-unrolled DuckDB twin of the unigram-LM EM training round:
    round-0 piece probabilities (relative substring frequencies — the SAME
    counts the registered Viterbi model logs) → per-word FORWARD/BACKWARD
    lattice sums unrolled as a column chain of CTEs (one CTE per position,
    every float addition written left-associative in ascending-j order, so
    the IEEE op sequence is pinned — no SQL SUM aggregate touches a float)
    → per-span expected counts nano-quantized per (word, span) → exact
    integer piece aggregation → M-step renormalization to round-9
    log-probs. COALESCE-0 terms stand in for spans past a word's end
    (adding +0.0 is exact, so the fixed _ULM_LMAX unroll and the per-word
    Python loops agree bit-for-bit)."""
    P = _ULM_PIECE_MAX
    L = _ULM_LMAX
    pivot_cols = ",\n                   ".join(
        f"MAX(CASE WHEN s = {s} AND l = {l} THEN p END) AS p_{s}_{l}"
        for s in range(1, L + 1)
        for l in range(1, P + 1)
        if s + l - 1 <= L
    )
    parts = [
        f"""
        WITH toks AS (
            SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents
        ),
        wfreq AS MATERIALIZED (
            SELECT word, COUNT(*) AS freq
            FROM (SELECT unnest(tok) AS word FROM toks) GROUP BY word
        ),
        pieces AS MATERIALIZED (
            SELECT piece, SUM(freq) AS cnt FROM (
                SELECT w.freq,
                       substr(w.word, CAST(ss.s AS INT), CAST(ll.l AS INT)) AS piece
                FROM wfreq w,
                     LATERAL (SELECT unnest(range(1, LENGTH(w.word) + 1)) AS s) ss,
                     LATERAL (SELECT unnest(range(1, {P + 1})) AS l) ll
                WHERE ss.s + ll.l - 1 <= LENGTH(w.word)
            ) GROUP BY piece
        ),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM pieces),
        probs AS MATERIALIZED (
            SELECT piece, CAST(cnt AS DOUBLE) / t.total AS p,
                   ROUND(LN(CAST(cnt AS DOUBLE) / t.total), 9) AS lp_old
            FROM pieces, tot t
        ),
        spans AS (
            SELECT w.word, w.freq, LENGTH(w.word) AS len,
                   CAST(ss.s AS INT) AS s, CAST(ll.l AS INT) AS l,
                   substr(w.word, CAST(ss.s AS INT), CAST(ll.l AS INT)) AS piece
            FROM wfreq w,
                 LATERAL (SELECT unnest(range(1, LENGTH(w.word) + 1)) AS s) ss,
                 LATERAL (SELECT unnest(range(1, {P + 1})) AS l) ll
            WHERE ss.s + ll.l - 1 <= LENGTH(w.word)
        ),
        w0 AS MATERIALIZED (
            SELECT sp.word, sp.freq, sp.len,
                   {pivot_cols}
            FROM (SELECT s2.*, pr.p FROM spans s2 JOIN probs pr USING (piece)) sp
            GROUP BY sp.word, sp.freq, sp.len
        ),
        aa0 AS (SELECT *, CAST(1 AS DOUBLE) AS a0 FROM w0)"""
    ]
    for i in range(1, L + 1):
        terms = " + ".join(
            f"COALESCE(a{j} * p_{j + 1}_{i - j}, 0.0)"
            for j in range(max(0, i - P), i)
        )
        parts.append(f"""
        , aa{i} AS (SELECT *, {terms} AS a{i} FROM aa{i - 1})""")
    parts.append(f"""
        , bb{L} AS (SELECT *, CASE WHEN len = {L} THEN CAST(1 AS DOUBLE)
                                   ELSE CAST(0 AS DOUBLE) END AS b{L} FROM aa{L})""")
    for i in range(L - 1, -1, -1):
        terms = " + ".join(
            f"COALESCE(p_{i + 1}_{k - i} * b{k}, 0.0)"
            for k in range(i + 1, min(L, i + P) + 1)
        )
        parts.append(f"""
        , bb{i} AS (SELECT *, CASE WHEN len = {i} THEN CAST(1 AS DOUBLE)
                                   WHEN len < {i} THEN CAST(0 AS DOUBLE)
                                   ELSE {terms} END AS b{i} FROM bb{i + 1})""")
    z_case = " ".join(f"WHEN {i} THEN a{i}" for i in range(1, L + 1))
    parts.append(f"""
        , zt AS MATERIALIZED (SELECT *, CASE len {z_case} END AS z FROM bb0)""")
    eterms = "\n            UNION ALL ".join(
        f"""SELECT word, substr(word, {j + 1}, {i - j}) AS piece,
                   CAST(ROUND(freq * (((a{j} * p_{j + 1}_{i - j}) * b{i}) / z) * 1e9)
                        AS BIGINT) AS enano
            FROM zt WHERE len >= {i}"""
        for i in range(1, L + 1)
        for j in range(max(0, i - P), i)
    )
    parts.append(f"""
        , eterms AS (
            {eterms}
        ),
        eagg AS MATERIALIZED (SELECT piece, CAST(SUM(enano) AS BIGINT) AS e_nano
                 FROM eterms GROUP BY piece),
        etot AS (SELECT CAST(SUM(e_nano) AS BIGINT) AS tot_nano FROM eagg)""")
    parts.append(
        final_select
        if final_select is not None
        else """
        SELECT e.piece,
               e.e_nano,
               p.lp_old,
               CASE WHEN e.e_nano > 0
                    THEN ROUND(LN(CAST(e.e_nano AS DOUBLE) / CAST(t.tot_nano AS DOUBLE)), 9)
               END AS lp_em
        FROM eagg e JOIN probs p USING (piece), etot t"""
    )
    return "".join(parts)


def unigram_em_expected_arrow(per_word: DataFrame) -> DataFrame:
    """E-step of the unigram-LM EM round over (word, freq, cands) rows —
    the same join-fed Arrow shape as :func:`unigram_segment_joined` (the
    piece model arrives per row via a broadcast equi-join; no driver-side
    dict grows with the vocabulary). Per word: forward sums
    ``a[i] = Σ_j a[j]·p(w[j:i])`` and backward sums
    ``b[i] = Σ_k p(w[i:k])·b[k]`` accumulated in ascending-index order, then
    one output row per lattice span with its posterior expected count
    ``e = ((a[j]·p)·b[i]) / a[L]``. Every addition/multiplication is the
    identical IEEE op sequence as the oracle's left-associative unrolled
    expressions, so the emitted doubles are bit-equal and the nano
    quantization downstream lands on the same integers."""
    import pandas as pd

    pmax = _ULM_PIECE_MAX

    def run(batches):
        for pdf in batches:
            ws, fs, ss, ls, es = [], [], [], [], []
            for w, f, cands in zip(pdf["word"], pdf["freq"], pdf["cands"]):
                p = {(c["s"], c["l"]): c["p"] for c in cands}
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
                for i in range(1, L + 1):
                    for j in range(max(0, i - pmax), i):
                        e = ((a[j] * p[(j + 1, i - j)]) * b[i]) / z
                        ws.append(w)
                        fs.append(f)
                        ss.append(j + 1)
                        ls.append(i - j)
                        es.append(e)
            yield pd.DataFrame({"word": ws, "freq": fs, "s": ss, "l": ls, "e": es})

    return per_word.mapInPandas(run, "word string, freq long, s int, l int, e double")


@register(
    "unigram_lm_em_round",
    tags=("bcast-const",),
    doc="tokenizer TRAIN, unigram-LM family: one SentencePiece EM "
    "re-estimation round — E-step expected piece counts over the full "
    "segmentation lattice (forward/backward), M-step renormalization — "
    "completing the train half the BPE family already has",
    oracle=_duckdb_unigram_em_sql(),
)
def unigram_lm_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM re-estimation round of the unigram LM (Kudo 2018 §3.2 /
    SentencePiece's trainer loop), the missing TRAIN half beside
    ``unigram_lm_segment_counts``'s apply half: starting from the round-0
    piece model (relative substring frequencies — the same counts the
    Viterbi query logs), compute each piece's EXPECTED count over all
    segmentations of every corpus word (forward/backward over the word
    lattice, occurrence-weighted), then renormalize to the round-1 model.

    Scale shape — identical to the apply side: the corpus contributes one
    word-frequency aggregation; the piece model reaches the lattice by a
    BROADCAST EQUI-JOIN on piece (no driver-side model dict); the
    forward/backward DP runs per distinct word over its own ≤ 4·len spans
    inside one Arrow pass; and the cross-word reduction is an exact
    INTEGER sum — each span's expected count is nano-quantized by a Spark
    expression before aggregation, so the result is partition-order-
    independent (float posteriors never meet a distributed SUM). The
    M-step is two tiny broadcasts (piece totals + grand total).

    Output per piece: exact nano-count ``e_nano``, the round-0 ``lp_old``
    and the re-estimated round-1 ``lp_em`` (NULL for pieces whose expected
    mass rounds below one nano — LN(0) is undefined on both engines).
    Bit-equal property test vs an exact-arithmetic reference:
    tests/test_round9_ops.py."""
    eagg, probs = _unigram_em_eagg(spark, sf_dir)
    etot = eagg.agg(F.sum("e_nano").cast("bigint").alias("tot_nano"))
    return (
        eagg.join(F.broadcast(probs.select("piece", "lp_old")), "piece")
        .crossJoin(F.broadcast(etot))
        .select(
            "piece",
            "e_nano",
            "lp_old",
            F.when(
                F.col("e_nano") > 0,
                F.round(
                    F.log(F.col("e_nano").cast("double") / F.col("tot_nano").cast("double")),
                    9,
                ),
            ).alias("lp_em"),
        )
    )


def _unigram_em_eagg(spark: SparkSession, sf_dir: str):
    """Shared E-step pipeline: returns (eagg, probs) — exact per-piece
    expected nano-counts and the round-0 model. See unigram_lm_em_round."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select(F.explode(tokens("text")).alias("word"))
    wfreq = flat.groupBy("word").agg(F.count("*").alias("freq"))
    pieces = (
        wfreq.select(
            "freq",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda s: F.filter(
                            F.transform(
                                F.sequence(F.lit(1), F.lit(_ULM_PIECE_MAX)),
                                lambda l: F.substring(F.col("word"), s, l),
                            ),
                            lambda p, li: s + li + 1 - 1 <= F.length(F.col("word")),
                        ),
                    )
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    total = pieces.agg(F.sum("cnt").cast("double").alias("total"))
    probs = pieces.crossJoin(F.broadcast(total)).select(
        "piece",
        (F.col("cnt").cast("double") / F.col("total")).alias("p"),
        F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 9).alias("lp_old"),
    )
    cand = wfreq.select(
        "word",
        "freq",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda s: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(_ULM_PIECE_MAX)),
                            lambda ln: F.struct(
                                s.alias("s"),
                                ln.alias("l"),
                                F.substring(F.col("word"), s, ln).alias("piece"),
                            ),
                        ),
                        lambda st: st["s"] + st["l"] - 1 <= F.length(F.col("word")),
                    ),
                )
            )
        ).alias("c"),
    ).select("word", "freq", "c.s", "c.l", "c.piece")
    per_word = (
        cand.join(F.broadcast(probs.select("piece", "p")), "piece")
        .groupBy("word", "freq")
        .agg(F.collect_list(F.struct("s", "l", "p")).alias("cands"))
    )
    et = unigram_em_expected_arrow(per_word)
    enano = F.round(F.col("freq") * F.col("e") * F.lit(1e9)).cast("bigint")
    eagg = (
        et.select(F.expr("substring(word, s, l)").alias("piece"), enano.alias("enano"))
        .groupBy("piece")
        .agg(F.sum("enano").cast("bigint").alias("e_nano"))
    )
    return eagg, probs


#: Prune keep-fraction: SentencePiece's trainer drops the lowest-
#: contribution ~20-40% of pieces per outer iteration; 60% kept here so
#: both branches are well-populated on the testdata vocabulary. Single-char
#: pieces are ALWAYS kept (segmentation feasibility — the SentencePiece
#: invariant).
#: ... kept = ceil(3n/5), computed as (3n + 4) DIV 5 in pure INTEGER
#: arithmetic on both engines (a float 0.6·n would sit one ulp under the
#: true product and is a ceil hazard at multiples of 5).
_ULM_KEEP_NUM, _ULM_KEEP_DEN = 3, 5

_ULM_PRUNE_FINAL = f"""
        , rnk AS (
            SELECT piece, e_nano,
                   ROW_NUMBER() OVER (ORDER BY e_nano DESC, piece) AS r
            FROM eagg
        ),
        n AS (SELECT CAST(({_ULM_KEEP_NUM} * COUNT(*) + {_ULM_KEEP_DEN - 1}) // {_ULM_KEEP_DEN}
                     AS BIGINT) AS k FROM eagg),
        marked AS (
            SELECT piece, e_nano,
                   (LENGTH(piece) = 1 OR r <= n.k) AS kept
            FROM rnk, n
        ),
        ktot AS (SELECT CAST(SUM(CASE WHEN kept THEN e_nano END) AS BIGINT) AS kept_nano
                 FROM marked)
        SELECT m.piece, m.e_nano, m.kept,
               CASE WHEN m.kept AND m.e_nano > 0
                    THEN ROUND(LN(CAST(m.e_nano AS DOUBLE) / CAST(t.kept_nano AS DOUBLE)), 9)
               END AS lp_pruned
        FROM marked m, ktot t"""


@register(
    "unigram_lm_em_prune",
    tags=("bcast-const",),
    doc="tokenizer TRAIN, unigram-LM family: the SentencePiece prune step "
    "after the EM round — drop the lowest-expected-count pieces (keeping "
    "every single-char piece for feasibility), renormalize the survivors",
    oracle=_duckdb_unigram_em_sql(final_select=_ULM_PRUNE_FINAL),
)
def unigram_lm_em_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of the SentencePiece outer iteration (EM rounds →
    PRUNE → repeat until target vocab): rank pieces by EM expected count,
    keep the top 3/5 (ceil, exact integer arithmetic — see
    ``_ULM_KEEP_NUM``) plus every single-character piece (the
    feasibility invariant — any word must remain segmentable), and
    renormalize the survivors' probabilities. With ``unigram_lm_em_round``
    (E/M) and ``unigram_lm_segment_counts`` (Viterbi apply), both tokenizer
    families now carry their full train+apply loop.

    Scale shape: everything after the shared E-step is vocabulary-sized —
    one ranking window over the piece relation (model-sized by definition),
    one count broadcast, one kept-mass broadcast. The ranking tie-breaks on
    (e_nano DESC, piece), total both engines."""
    eagg, _ = _unigram_em_eagg(spark, sf_dir)
    w = Window.orderBy(F.col("e_nano").desc(), "piece")
    n = eagg.agg(
        F.expr(
            f"CAST(({_ULM_KEEP_NUM} * COUNT(*) + {_ULM_KEEP_DEN - 1}) DIV {_ULM_KEEP_DEN} AS BIGINT)"
        ).alias("k")
    )
    marked = (
        eagg.withColumn("r", F.row_number().over(w))
        .crossJoin(F.broadcast(n))
        .select(
            "piece",
            "e_nano",
            ((F.length("piece") == 1) | (F.col("r") <= F.col("k"))).alias("kept"),
        )
    )
    ktot = marked.agg(
        F.sum(F.when(F.col("kept"), F.col("e_nano"))).cast("bigint").alias("kept_nano")
    )
    return marked.crossJoin(F.broadcast(ktot)).select(
        "piece",
        "e_nano",
        "kept",
        F.when(
            F.col("kept") & (F.col("e_nano") > 0),
            F.round(
                F.log(F.col("e_nano").cast("double") / F.col("kept_nano").cast("double")),
                9,
            ),
        ).alias("lp_pruned"),
    )


#: Interpolated Kneser-Ney absolute discount (the standard 0.75) pinned as
#: a string literal so both engines parse the identical double.
_KN_D = "0.75"


@register(
    "kneser_ney_bigram_logprob",
    tags=("bcast-const",),
    doc="interpolated Kneser-Ney bigram LM (KenLM/CCNet's smoothing family) "
    "scoring each document by mean conditional log-probability; "
    "continuation counts, absolute discounting, and interpolation weights "
    "all from first principles, micro-unit-quantized mean",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_DUCKDB_TOKENS} AS tok FROM documents
        ), big AS (
            SELECT doc_id, unnest({_DUCKDB_BIGRAMS}) AS bigram FROM toks
        ), bcnt AS MATERIALIZED (
            SELECT bigram,
                   split_part(bigram, ' ', 1) AS w1,
                   split_part(bigram, ' ', 2) AS w2,
                   COUNT(*) AS c12
            FROM big GROUP BY bigram
        ), w1s AS (
            SELECT w1, SUM(c12) AS c1, COUNT(DISTINCT w2) AS fw
            FROM bcnt GROUP BY w1
        ), w2s AS (
            SELECT w2, COUNT(DISTINCT w1) AS bw FROM bcnt GROUP BY w2
        ), tt AS (
            SELECT COUNT(*) AS t FROM bcnt
        ), scored AS (
            SELECT b.doc_id,
                   CAST(FLOOR(ROUND(LN(
                       ((CAST(bc.c12 AS DOUBLE) - {_KN_D}) / CAST(s1.c1 AS DOUBLE))
                       + ((({_KN_D} * CAST(s1.fw AS DOUBLE)) / CAST(s1.c1 AS DOUBLE))
                          * (CAST(s2.bw AS DOUBLE) / CAST(tt.t AS DOUBLE)))
                   ), 9) * 1000000) AS BIGINT) AS lpq
            FROM big b
            JOIN bcnt bc USING (bigram)
            JOIN w1s s1 ON s1.w1 = bc.w1
            JOIN w2s s2 ON s2.w2 = bc.w2
            CROSS JOIN tt
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lpq) AS DOUBLE) / CAST(COUNT(*) * 1000000 AS DOUBLE)
                   AS mean_kn_logprob
        FROM scored GROUP BY doc_id
    """,
)
def kneser_ney_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing family behind
    KenLM, i.e. what CCNet-style quality filtering actually runs in
    production (ccnet_perplexity_buckets consumes scores of exactly this
    shape). For every observed bigram:

        P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁) + (D·N₁₊(w₁·)/c(w₁)) · N₁₊(·w₂)/T

    with absolute discount D = 0.75, N₁₊(w₁·) = distinct successors of w₁,
    N₁₊(·w₂) = distinct predecessors of w₂ (the continuation count — KN's
    defining idea: a word's unigram credit is how many *contexts* it
    follows, not how often it occurs), T = distinct bigram types.

    Scale shape: all three model relations are token-keyed aggregations of
    the bigram-type table (vocabulary-sized, broadcast); scoring is one
    map-side pass over the bigram stream. Determinism: counts are exact
    integers; the probability is one fixed parenthesized double chain;
    ln is rounded to 9 then micro-unit-quantized to an integer BEFORE the
    per-document sum, so the mean is an exact-integer aggregate divided by
    an exact count — bit-identical across engines and partitionings (a
    stricter discipline than doc_bigram_logprob's post-AVG rounding)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    toks = docs.select("doc_id", tokens("text").alias("tok"))
    big = toks.select(
        "doc_id", F.explode(word_shingles(F.col("tok"), 2)).alias("bigram")
    )
    parts = F.split(F.col("bigram"), " ")
    bcnt = (
        big.groupBy("bigram")
        .agg(F.count("*").alias("c12"))
        .select("bigram", parts[0].alias("w1"), parts[1].alias("w2"), "c12")
    )
    w1s = bcnt.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count_distinct("w2").alias("fw")
    )
    w2s = bcnt.groupBy("w2").agg(F.count_distinct("w1").alias("bw"))
    tt = bcnt.agg(F.count("*").alias("t"))
    d = F.lit(float(_KN_D))
    p = (
        (F.col("c12").cast("double") - d) / F.col("c1").cast("double")
    ) + (
        ((d * F.col("fw").cast("double")) / F.col("c1").cast("double"))
        * (F.col("bw").cast("double") / F.col("t").cast("double"))
    )
    scored = (
        big.join(F.broadcast(bcnt), "bigram")
        .join(F.broadcast(w1s), "w1")
        .join(F.broadcast(w2s), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            F.floor(F.round(F.log(p), 9) * 1000000).cast("long").alias("lpq"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum("lpq").cast("double")
            / (F.count("*") * F.lit(1000000)).cast("double")
        ).alias("mean_kn_logprob"),
    )


#: Fertility oracle tail: per-language word/char/subword totals under the
#: learned merges.
_BPE_FERTILITY_FINAL_SELECT = f"""
        , doc_words AS (
            SELECT lang, unnest({_DUCKDB_TOKENS}) AS word FROM documents
        )
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars,
               CAST(SUM(len({_sql_symbols('w.p')})) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(SUM(len({_sql_symbols('w.p')})) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS fertility,
               CAST(SUM(LENGTH(d.word)) AS DOUBLE)
                   / CAST(SUM(len({_sql_symbols('w.p')})) AS DOUBLE)
                   AS chars_per_token
        FROM doc_words d JOIN w{{R}} w USING (word)
        GROUP BY d.lang"""


@register(
    "bpe_fertility_by_lang",
    doc="tokenizer evaluation: per-language fertility (subword tokens per "
    "word) and compression (chars per subword token) under the learned BPE "
    "merges — the standard cross-lingual tokenizer-equity audit",
    oracle=_duckdb_bpe_sql(final_select=_BPE_FERTILITY_FINAL_SELECT),
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility audit of the trained BPE tokenizer, reported per language:
    ``fertility`` = subword tokens emitted per whitespace word (the metric
    multilingual-tokenizer papers report — a language with 2× the fertility
    pays 2× the sequence length for the same text, the classic low-resource
    tokenizer inequity), and ``chars_per_token`` = how many characters each
    learned subword covers (compression actually bought by the merges;
    counts include the end-of-word sentinel symbol, consistently on both
    engines).

    Plan shape: training touches only the vocabulary-sized word-frequency
    relation (``_train``); the audit is one broadcast join of the
    merged vocabulary onto the exploded (lang, word) stream plus a
    per-language integer aggregation — exact integer totals, ratios as one
    double division each."""
    words = _train(spark, sf_dir)[1]
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    flat = docs.select("lang", F.explode(tokens("text")).alias("word"))
    agg = (
        flat.join(F.broadcast(words.select("word", "p")), "word")
        .select("lang", F.length("word").alias("wlen"), F.size(_symbols()).alias("n_sym"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wlen").cast("bigint").alias("n_chars"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        (F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double")).alias(
            "fertility"
        ),
        (F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double")).alias(
            "chars_per_token"
        ),
    )


#: Vocabulary checkpoints for the coverage curve.
_VOCAB_SIZES = (100, 1_000, 10_000)


@register(
    "vocab_coverage_curve",
    doc="tokenizer budgeting: corpus token coverage at vocab sizes "
    "100/1k/10k — frequency-ranked cumulative mass",
    oracle=f"""
        WITH counts AS (
            SELECT token, COUNT(*) AS c
            FROM (SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents)
            GROUP BY token
        ),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r
            FROM counts
        ),
        tot AS (SELECT SUM(c) AS n, COUNT(*) AS n_vocab FROM ranked)
        SELECT v.vocab_size,
               CAST(SUM(CASE WHEN ranked.r <= v.vocab_size THEN ranked.c
                             ELSE 0 END) AS BIGINT) AS covered_tokens,
               CAST(ANY_VALUE(tot.n) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN ranked.r <= v.vocab_size THEN ranked.c
                             ELSE 0 END) AS DOUBLE)
                   / CAST(ANY_VALUE(tot.n) AS DOUBLE) AS coverage,
               CAST(ANY_VALUE(tot.n_vocab) AS BIGINT) AS n_vocab
        FROM ranked, tot,
             (SELECT unnest([{', '.join(str(v) for v in _VOCAB_SIZES)}])
                     AS vocab_size) v
        GROUP BY v.vocab_size
    """,
    tags=("bcast-const",),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of the corpus does a v-word vocabulary cover? The
    budgeting curve behind every vocab-size decision (tokenizer training,
    OOV-rate forecasting, embedding-table sizing): rank token types by
    frequency and accumulate their mass at v ∈ {100, 1k, 10k}.

    Scale shape: one tokenize + one partial-aggregating shuffle reduce the
    corpus to its TYPE relation (vocabulary-sized — Heaps-law sublinear in
    the corpus, the same reduction bpe_train_merges rides); the global
    frequency rank is a range-partitioned sort of that small relation,
    and the three checkpoints are conditional sums in one aggregation.
    The corpus itself is never globally sorted. The 3-row checkpoint
    relation joins as a broadcast constant (bcast-const tag)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    ranked = counts.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "token"))
        .alias("r"),
    )
    tot = ranked.agg(
        F.sum("c").alias("n"), F.count("*").alias("n_vocab")
    )
    sizes = spark.createDataFrame(
        [(v,) for v in _VOCAB_SIZES], "vocab_size bigint"
    )
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("vocab_size"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("covered_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered_tokens",
            F.col("n").cast("bigint").alias("total_tokens"),
            (F.col("covered_tokens").cast("double") / F.col("n").cast("double")).alias(
                "coverage"
            ),
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
        )
    )


#: Zipf fit window: OLS over the top-_ZIPF_TOPR frequency ranks. Log terms
#: quantize to integer micro-units (FLOOR(ROUND(ln·,9)·1e6)) BEFORE the OLS
#: sums, so the distributed accumulation is exact integer arithmetic and the
#: closed-form slope is one fixed scalar chain on exact sums.
_ZIPF_TOPR = 1000
_ZIPF_LQ = "CAST(FLOOR(ROUND(LN({}), 9) * 1000000) AS BIGINT)"


@register(
    "zipf_law_fit",
    tags=("bcast-const",),
    doc="corpus statistics: Zipf's-law exponent by OLS on integer-quantized "
    "(ln rank, ln freq) over the top-1000 ranks",
    oracle=f"""
        WITH counts AS (
            SELECT token, COUNT(*) AS c
            FROM (SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents)
            GROUP BY token
        ),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r
            FROM counts
        ),
        pts AS (
            SELECT {_ZIPF_LQ.format('CAST(r AS DOUBLE)')} AS lx,
                   {_ZIPF_LQ.format('CAST(c AS DOUBLE)')} AS ly
            FROM ranked WHERE r <= {_ZIPF_TOPR}
        ),
        s AS (
            SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
                   SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
               ROUND((CAST(sy AS DOUBLE)
                      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept
        FROM s
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the corpus obey Zipf's law, and with what exponent? OLS of
    ln(freq) on ln(rank) over the top-1000 frequency ranks — the
    one-number sanity check that a scraped corpus has natural-language
    token statistics (an exponent far from −1 flags boilerplate floods or
    tokenizer breakage before any model sees the data).

    Numerical discipline: each log point quantizes to integer micro-units
    up front (the kneser_ney/logprob convention for libm values), so the
    OLS sums are exact integers accumulated map-side in any order; the
    closed-form slope/intercept then run as one scalar chain on those
    exact sums, identical on both engines. The 1e6 scaling cancels in the
    slope (covariance over variance); the intercept divides it back out.
    Shape: the corpus collapses to its vocabulary relation in one
    aggregation; the rank window sorts only that (Heaps-sublinear)
    relation; the OLS is a 1-row reduce."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    ranked = counts.select(
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "token")).alias("r"),
    ).filter(F.col("r") <= _ZIPF_TOPR)

    def lq(col: F.Column) -> F.Column:
        return F.floor(F.round(F.log(col), 9) * F.lit(1_000_000)).cast("bigint")

    pts = ranked.select(
        lq(F.col("r").cast("double")).alias("lx"),
        lq(F.col("c").cast("double")).alias("ly"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd / F.lit(1_000_000.0), 6).alias("intercept"),
    )


#: Integer micro-unit quantization of a libm natural log (the zipf_law_fit /
#: kneser_ney convention): ROUND(,9) collapses cross-engine 1-ulp wobble,
#: FLOOR(*1e6) makes the value an exact BIGINT safe to sum in any order.
_NB_LQ = "CAST(FLOOR(ROUND(LN({}), 9) * 1000000) AS BIGINT)"


#: Shared oracle prefix for the naive-Bayes pair: train/test split, model,
#: and the per-(doc, lang) integer-quantized score relation ``sc`` — one
#: definition so the confusion-matrix and confidence-margin finals can never
#: silently diverge.
_NB_SQL_PREFIX = f"""
        WITH train AS MATERIALIZED (
            SELECT doc_id, lang, {_DUCKDB_TOKENS} AS tok
            FROM documents WHERE doc_id % 5 <> 0
        ),
        test AS MATERIALIZED (
            SELECT doc_id, lang AS actual, {_DUCKDB_TOKENS} AS tok
            FROM documents WHERE doc_id % 5 = 0
        ),
        tr_tok AS MATERIALIZED (
            SELECT lang, unnest(tok) AS token FROM train
        ),
        cond AS (SELECT lang, token, COUNT(*) AS c FROM tr_tok GROUP BY 1, 2),
        totals AS (SELECT lang, COUNT(*) AS tot FROM tr_tok GROUP BY 1),
        vocab AS (SELECT COUNT(DISTINCT token) AS v FROM tr_tok),
        priors AS (SELECT lang, COUNT(*) AS nd FROM train GROUP BY 1),
        ntr AS (SELECT COUNT(*) AS n FROM train),
        langs AS MATERIALIZED (
            SELECT tt.lang,
                   {_NB_LQ.format('1.0 / CAST(tot + v AS DOUBLE)')} AS dflt,
                   {_NB_LQ.format('CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)')}
                       AS prior
            FROM totals tt
            JOIN priors p ON p.lang = tt.lang
            CROSS JOIN vocab CROSS JOIN ntr
        ),
        model AS (
            SELECT c.lang, c.token,
                   {_NB_LQ.format(
                       'CAST(c + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)')}
                       AS lqc
            FROM cond c JOIN totals tt ON tt.lang = c.lang CROSS JOIN vocab
        ),
        te_tok AS (
            SELECT doc_id, unnest(tok) AS token FROM test
        ),
        sc_tok AS (
            SELECT tt.doc_id, l.lang,
                   SUM(COALESCE(m.lqc, l.dflt)) AS tsum
            FROM te_tok tt
            CROSS JOIN langs l
            LEFT JOIN model m ON m.token = tt.token AND m.lang = l.lang
            GROUP BY 1, 2
        ),
        sc AS (
            SELECT d.doc_id, d.actual, l.lang,
                   l.prior + COALESCE(st.tsum, 0) AS score
            FROM (SELECT doc_id, actual FROM test) d
            CROSS JOIN langs l
            LEFT JOIN sc_tok st ON st.doc_id = d.doc_id AND st.lang = l.lang
        )"""


@register(
    "naive_bayes_langid",
    tags=("bcast-const",),
    doc="multinomial naive-Bayes language classifier: trained on the 80% "
    "split, Laplace-smoothed, integer-quantized log-probs; confusion matrix "
    "over the held-out 20%",
    oracle=_NB_SQL_PREFIX
    + """
        , pred AS (
            SELECT actual, lang AS predicted,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rn
            FROM sc
        )
        SELECT actual AS actual_lang, predicted AS predicted_lang,
               COUNT(*) AS n_docs
        FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts-based multinomial naive Bayes — the classic fully-relational
    text classifier (langid_heuristic is the dictionary cousin; this one
    LEARNS its table from a training split). Train on doc_id % 5 != 0,
    Laplace-smooth, score the held-out fifth, emit the confusion matrix.

    Scale shape: the trained model IS a DataFrame (vocabulary x language
    log-probs — Heaps-sublinear in corpus size), never driver state. Test
    tokens fan out over the 5-row broadcast language relation, probe the
    model with one (token, lang) equi-join, and collapse per (doc, lang)
    with map-side combine; the argmax is a 5-row-per-doc window. Unseen
    tokens fall back to the per-language smoothing floor via coalesce --
    no vocab x lang densification anywhere.

    Determinism: every log-prob is quantized to integer micro-units
    before any sum (the zipf/kneser-ney libm rule); per-doc scores are
    exact BIGINT sums, the argmax tie-breaks on language code."""
    sc = _nb_doc_scores(spark, sf_dir)
    wp = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    pred = sc.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") == 1)
    return pred.groupBy(
        F.col("actual").alias("actual_lang"),
        F.col("lang").alias("predicted_lang"),
    ).agg(F.count("*").alias("n_docs"))


def _nb_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared naive-Bayes scoring stage: (doc_id, actual, lang, score) with
    one exact-BIGINT micro-log-unit score per (held-out doc, language) —
    the relation both ``naive_bayes_langid`` (argmax → confusion matrix)
    and ``langid_confidence_margin`` (top1−top2 → abstain decision)
    consume; the twin of the oracle's ``sc`` CTE (_NB_SQL_PREFIX)."""
    def lq(col: F.Column) -> F.Column:
        return F.floor(F.round(F.log(col), 9) * F.lit(1_000_000)).cast("bigint")

    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    tr_tok = track_persist(
        spread(train, key="doc_id").select("lang", F.explode(tokens("text")).alias("token"))
    )
    cond = tr_tok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    totals = tr_tok.groupBy("lang").agg(F.count("*").alias("tot"))
    vocab = tr_tok.select("token").distinct().agg(F.count("*").alias("v"))
    priors = train.groupBy("lang").agg(F.count("*").alias("nd"))
    ntr = train.agg(F.count("*").alias("n"))
    langs = (
        totals.join(priors, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(ntr))
        .select(
            "lang",
            lq(F.lit(1.0) / (F.col("tot") + F.col("v")).cast("double")).alias(
                "dflt"
            ),
            lq(F.col("nd").cast("double") / F.col("n").cast("double")).alias(
                "prior"
            ),
        )
    )
    model = (
        cond.join(F.broadcast(totals), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "token",
            lq(
                (F.col("c") + 1).cast("double")
                / (F.col("tot") + F.col("v")).cast("double")
            ).alias("lqc"),
        )
    )
    te_tok = test.select("doc_id", F.explode(tokens("text")).alias("token"))
    sc_tok = (
        te_tok.crossJoin(F.broadcast(langs.select("lang", "dflt")))
        .join(model, ["token", "lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.coalesce(F.col("lqc"), F.col("dflt"))).alias("tsum"))
    )
    sc = (
        test.select("doc_id", F.col("lang").alias("actual"))
        .crossJoin(F.broadcast(langs.select("lang", "prior")))
        .join(sc_tok, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "actual",
            "lang",
            (F.col("prior") + F.coalesce(F.col("tsum"), F.lit(0))).alias("score"),
        )
    )
    # Persisted: three registry queries consume this relation (argmax
    # confusion matrix, margin, reliability bins), and the margin/bins
    # consumers used to reference it TWICE each (rank-1 ⋈ rank-2 self-join)
    # — unpersisted, the whole train+score pipeline re-executed per
    # reference.
    return track_persist(sc)


def _nb_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, actual, predicted, s1, s2): best and second-best language
    score per held-out doc in ONE window pass — ``lead(score)`` over the
    same (doc_id, score desc, lang) order the argmax uses, instead of the
    former rank-1 ⋈ rank-2 self-join that evaluated the scoring stage
    twice and paid an extra doc_id shuffle for the join. The s2 NOT NULL
    filter preserves the old inner-join semantics (every doc has |langs|
    ≥ 2 rows by construction, so nothing is actually dropped)."""
    sc = _nb_doc_scores(spark, sf_dir)
    wp = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    return (
        sc.select(
            "doc_id",
            "actual",
            F.col("lang").alias("predicted"),
            F.col("score").alias("s1"),
            F.lead("score").over(wp).alias("s2"),
            F.row_number().over(wp).alias("rn"),
        )
        .filter((F.col("rn") == 1) & F.col("s2").isNotNull())
        .drop("rn")
    )


#: Abstain threshold for langid_confidence_margin, in micro-log-units
#: (the NB score scale): top1−top2 below 5 log-units → abstain.
_NB_MARGIN_TAU = 5_000_000


@register(
    "langid_confidence_margin",
    tags=("bcast-const",),
    doc="classifier OBSERVABILITY: naive-Bayes language-ID confidence "
    "margin (top1 − top2 score per held-out doc) with an abstain flag — "
    "the calibration signal a production router thresholds before "
    "trusting an automatic label",
    oracle=_NB_SQL_PREFIX
    + f"""
        , ranked AS (
            SELECT doc_id, lang, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rn
            FROM sc
        )
        SELECT r1.doc_id,
               r1.lang AS predicted_lang,
               CAST(r1.score - r2.score AS BIGINT) AS margin_micro,
               (r1.score - r2.score) < {_NB_MARGIN_TAU} AS abstain
        FROM ranked r1
        JOIN ranked r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
        WHERE r1.rn = 1
    """,
)
def langid_confidence_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence accounting over the SAME scores ``naive_bayes_langid``
    argmaxes: per held-out document, the margin between the best and
    second-best language score (exact BIGINT micro-log-units — no float
    enters the comparison) and whether the classifier should ABSTAIN
    (margin < 5 log-units). Low-margin docs are exactly the ones a
    production pipeline routes to a heavier model or human review; the
    margin distribution is also the drift canary for the deployed model.

    Plan shape: the scoring stage is shared (model as a DataFrame,
    broadcast language fan-out, one (token, lang) equi-join); this adds
    only a 5-row-per-doc window and a rank-1⋈rank-2 self-join on doc_id —
    both keyed by doc, no new corpus-scale stage."""
    top2 = _nb_top2(spark, sf_dir)
    return top2.select(
        "doc_id",
        F.col("predicted").alias("predicted_lang"),
        (F.col("s1") - F.col("s2")).cast("bigint").alias("margin_micro"),
        ((F.col("s1") - F.col("s2")) < _NB_MARGIN_TAU).alias("abstain"),
    )


#: TextRank: fixed rounds, integer rank scale, and the damping split d=0.85
#: applied as exact integer multiply-then-floor-divide — the whole iteration
#: is BIGINT arithmetic (unlike float PageRank there is nothing to quantize:
#: ranks ARE integers), so it is bit-stable in any partition order.
TEXTRANK_ITER = 3
TEXTRANK_SCALE = 1_000_000_000_000
_TEXTRANK_TOPK = 50


def _textrank_oracle(n_iter: int = TEXTRANK_ITER) -> str:
    s = TEXTRANK_SCALE
    head = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter({_DUCKDB_TOKENS}, x -> length(x) >= 3) AS tok
            FROM documents
        ),
        adj AS (
            SELECT tok[g.i] AS a, tok[g.i + 1] AS b
            FROM toks, unnest(generate_series(1, length(tok) - 1)) AS g(i)
        ),
        und AS (
            SELECT a, b FROM adj WHERE a <> b
            UNION ALL
            SELECT b, a FROM adj WHERE a <> b
        ),
        ew AS MATERIALIZED (
            SELECT a, b, COUNT(*) AS w FROM und GROUP BY a, b
        ),
        wt AS (SELECT a, SUM(w) AS tw FROM ew GROUP BY a),
        edges AS MATERIALIZED (
            SELECT ew.a, ew.b, ew.w, wt.tw FROM ew JOIN wt ON wt.a = ew.a
        ),
        nodes AS (SELECT DISTINCT a AS token FROM ew),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT token, {s} // (SELECT n FROM nn) AS r FROM nodes)"""
    rounds = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        rounds.append(
            f""",
        c{i} AS (
            SELECT e.b AS token,
                   CAST(SUM(r.r * e.w // e.tw) AS BIGINT) AS contrib
            FROM edges e JOIN {prev} r ON r.token = e.a GROUP BY e.b
        ),
        r{i} AS MATERIALIZED (
            SELECT token,
                   (15 * {s}) // (100 * (SELECT n FROM nn))
                   + (85 * contrib) // 100 AS r
            FROM c{i}
        )"""
        )
        prev = f"r{i}"
    tail = f"""
        SELECT token AS keyword, CAST(r AS BIGINT) AS rank_pico
        FROM {prev}
        QUALIFY ROW_NUMBER() OVER (ORDER BY r DESC, token) <= {_TEXTRANK_TOPK}
    """
    return head + "".join(rounds) + tail


@register(
    "textrank_keywords",
    tags=("bcast-const",),
    doc="TextRank keyword extraction: weighted PageRank over the token "
    "adjacency graph in pure BIGINT arithmetic, top-50 vs unrolled oracle",
    oracle=_textrank_oracle(),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TextRank: tokens (length >= 3) are nodes, adjacent
    tokens co-occurring in a document are undirected weighted edges, and 3
    damped power-iteration rounds rank every word — graph-based keyword
    extraction, the unsupervised alternative to tfidf_top_terms.

    The iteration is ALL integer: ranks live in pico-units, each edge
    contribution is (r·w) // W(u) (exact floor division), damping is
    (85·x)//100, so no float ever enters and the result is bit-stable
    under any partition order — stronger than the quantize-then-sum
    discipline pagerank_copurchase needs for its float damping.

    Scale shape: the corpus collapses to the adjacency-pair relation in
    one map-side pass (slice+zip inside codegen, no self-join), edge
    weights and per-node totals are two map-side-combining aggregations
    on the Heaps-sublinear vocabulary graph, and each round is one
    edge⋈rank equi-join + integer sum — the LPA/PageRank round shape.
    The edge relation persists across rounds."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = F.filter(tokens("text"), lambda x: F.length(x) >= 3)
    toks = docs.select(tok.alias("tok")).filter(F.size("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("tok", 1, F.size("tok") - 1),
                F.slice("tok", 2, F.size("tok") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    und = pairs.filter(F.col("a") != F.col("b"))
    und = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    ew = und.groupBy("a", "b").agg(F.count("*").alias("w"))
    wt = ew.groupBy("a").agg(F.sum("w").alias("tw"))
    edges = track_persist(ew.join(wt, "a"))
    nodes = ew.select(F.col("a").alias("token")).distinct()
    nn = nodes.agg(F.count("*").alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "token", F.expr(f"{TEXTRANK_SCALE} DIV n").alias("r")
    )
    for _ in range(TEXTRANK_ITER):
        contrib = (
            edges.join(r, edges.a == r.token)
            .select(F.col("b").alias("token"), F.expr("r * w DIV tw").alias("cc"))
            .groupBy("token")
            .agg(F.sum("cc").cast("bigint").alias("contrib"))
        )
        r = contrib.crossJoin(F.broadcast(nn)).select(
            "token",
            (
                F.expr(f"(15 * {TEXTRANK_SCALE}) DIV (100 * n)")
                + F.expr("(85 * contrib) DIV 100")
            ).alias("r"),
        )
    w = Window.orderBy(F.col("r").desc(), "token")
    return (
        r.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TEXTRANK_TOPK)
        .select(F.col("token").alias("keyword"), F.col("r").cast("bigint").alias("rank_pico"))
    )


@register(
    "readability_flesch",
    doc="per-document Flesch reading-ease from deterministic surface "
    "heuristics (regex word / sentence / vowel-group counts) — the classic "
    "readability gate a curation pipeline stacks next to gopher_quality_filter",
    oracle="""
        WITH counted AS (
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                   GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                       AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                   AS flesch_score
        FROM counted WHERE n_words > 0
    """,
)
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with the three counts defined by engine-portable
    regexes: words = ``[a-z]+`` runs of the lowercased text, sentences =
    ``[.!?]+`` terminator runs (floored at 1 — headlines/fragments), and
    syllables approximated by vowel-group runs ``[aeiouy]+`` (the standard
    cheap estimator; floored at 1). All three are exact integers, the score
    is a fixed left-associated double chain from exact casts — bit-identical
    across engines (registry rule 3).

    Scale shape: pure per-row JVM regex expressions inside one whole-stage
    codegen span — no shuffle at all, the cheapest possible quality signal
    at 100 TB (same class as doc_quality_stats; this one exists because
    readability bands are a common curation axis the length/punct ratios
    don't capture)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    lower = F.lower(F.col("text"))
    n_words = F.size(F.regexp_extract_all(lower, F.lit("[a-z]+"), F.lit(0)))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))), F.lit(1)
    )
    n_syl = F.greatest(
        F.size(F.regexp_extract_all(lower, F.lit("[aeiouy]+"), F.lit(0))), F.lit(1)
    )
    counted = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sent.cast("bigint").alias("n_sentences"),
        n_syl.cast("bigint").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015)
          * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
          * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    return counted.select(
        "doc_id", "n_words", "n_sentences", "n_syllables", score.alias("flesch_score")
    )


@register(
    "doc_length_quartiles_by_lang",
    doc="per-language EXACT length quartiles (lower order statistics, no "
    "interpolation) by rank selection inside each group — the grouped twin "
    "of exact_median_two_pass's global selection",
    oracle="""
        WITH r AS (
            SELECT lang, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS BIGINT) AS q1_chars,
               CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS BIGINT) AS median_chars,
               CAST(MAX(CASE WHEN rn = (3 * n + 1) // 4 THEN n_chars END) AS BIGINT) AS q3_chars
        FROM r GROUP BY lang
    """,
)
def doc_length_quartiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower quartiles by explicit rank selection: q_p = the value at rank
    ⌈p·n⌉ of the (n_chars, doc_id)-ordered group — pure integer selection,
    no interpolation, so nothing can diverge between engines (the
    approx-quantile family certifies error instead; this is the exact
    anchor at group grain). One window per language partition + one
    conditional aggregation.

    At 100 TB each language sorts independently (partition-parallel); for a
    group too large to sort, the exact_median_two_pass histogram trick
    drops in per group."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    r = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )

    def at(rank: F.Column) -> F.Column:
        return F.max(F.when(F.col("rn") == rank, F.col("n_chars"))).cast("bigint")

    return r.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        at(F.floor((F.col("n") + 3) / 4)).alias("q1_chars"),
        at(F.floor((F.col("n") + 1) / 2)).alias("median_chars"),
        at(F.floor((3 * F.col("n") + 1) / 4)).alias("q3_chars"),
    )


@register(
    "langid_reliability_bins",
    tags=("bcast-const",),
    doc="classifier calibration: margin-decile reliability table for the "
    "naive-Bayes language ID — per confidence bin, documents and accuracy; "
    "the reliability-diagram input that decides the production abstain "
    "threshold empirically",
    oracle=_NB_SQL_PREFIX
    + """
        , ranked AS (
            SELECT doc_id, actual, lang, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, lang) AS rn
            FROM sc
        ), verdicts AS (
            SELECT r1.doc_id, r1.actual, r1.lang AS predicted,
                   r1.score - r2.score AS margin
            FROM ranked r1
            JOIN ranked r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
            WHERE r1.rn = 1
        ), binned AS (
            SELECT *, NTILE(10) OVER (ORDER BY margin, doc_id) AS bin
            FROM verdicts
        )
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(margin) AS BIGINT) AS min_margin,
               CAST(MAX(margin) AS BIGINT) AS max_margin,
               CAST(COUNT(*) FILTER (WHERE predicted = actual) AS BIGINT) AS n_correct,
               CAST(COUNT(*) FILTER (WHERE predicted = actual) AS DOUBLE)
                   / COUNT(*) AS accuracy
        FROM binned GROUP BY bin
    """,
)
def langid_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The empirical calibration table behind ``langid_confidence_margin``'s
    abstain threshold: held-out docs binned into margin DECILES, each bin
    reporting its accuracy — if low-margin bins show materially lower
    accuracy (they do, that's the point of margins), the production cutoff
    is read straight off this table instead of guessed. This is the
    reliability-diagram / expected-calibration-error input, computed for a
    fully-relational classifier.

    Plan: the shared scoring stage, the same 5-row-per-doc window, one
    NTILE over the (margin, doc_id) order and one bin-keyed aggregation —
    counts exact, accuracy one division (registry rule 2)."""
    verdicts = _nb_top2(spark, sf_dir).select(
        "doc_id", "actual", "predicted", (F.col("s1") - F.col("s2")).alias("margin")
    )
    binned = verdicts.withColumn(
        "bin", F.ntile(10).over(Window.orderBy("margin", "doc_id"))
    )
    correct = F.count(F.when(F.col("predicted") == F.col("actual"), 1))
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("margin").cast("bigint").alias("min_margin"),
        F.max("margin").cast("bigint").alias("max_margin"),
        correct.cast("bigint").alias("n_correct"),
        (correct.cast("double") / F.count("*")).alias("accuracy"),
    )


#: Greedy decode length (steps beyond the seed token).
_DECODE_STEPS = 5


def _greedy_decode_oracle(steps: int = _DECODE_STEPS) -> str:
    parts = [
        f"""
        WITH toks AS (
            SELECT {_DUCKDB_TOKENS} AS tok FROM documents
        ),
        big AS MATERIALIZED (
            SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b,
                   COUNT(*) AS cnt
            FROM (SELECT unnest({_DUCKDB_BIGRAMS}) AS bg FROM toks)
            GROUP BY 1, 2
        ),
        uni AS (
            SELECT u AS token, COUNT(*) AS cnt
            FROM (SELECT unnest(tok) AS u FROM toks) GROUP BY 1
        ),
        g0 AS MATERIALIZED (
            SELECT token, cnt FROM uni ORDER BY cnt DESC, token LIMIT 1
        )"""
    ]
    for s in range(1, steps + 1):
        parts.append(
            f"""
        , g{s} AS MATERIALIZED (
            SELECT b.b AS token, b.cnt FROM big b JOIN g{s - 1} p ON b.a = p.token
            ORDER BY b.cnt DESC, b.b LIMIT 1
        )"""
        )
    finals = [
        f"SELECT {s} AS step, token, CAST(cnt AS BIGINT) AS cnt FROM g{s}"
        for s in range(steps + 1)
    ]
    parts.append("\n        " + "\n        UNION ALL\n        ".join(finals))
    return "".join(parts)


@register(
    "greedy_bigram_decode",
    doc="LM DECODE as relational ops: greedy argmax walk over the corpus "
    "bigram table from the most frequent seed token — 5 generation steps, "
    "each an exact count-argmax, fully unrolled oracle",
    oracle=_greedy_decode_oracle(),
)
def greedy_bigram_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding of the corpus bigram LM: seed with the most frequent
    token, then 5 steps of next = argmax count(cur → next), ties to the
    lexicographically smaller token. The generation loop of every
    autoregressive LM, restated over a relational model — and the
    inspect-your-LM smoke test a data pipeline runs after building n-gram
    tables (a degenerate walk — straight into a loop or boilerplate —
    flags corpus pathologies the per-doc scores hide).

    Scale shape: the bigram/unigram tables are the corpus-sized work
    (token-keyed aggregations, built once, persisted); each decode step is
    a 1-row argmax against the persisted table — model-sized driver state,
    the Lloyd/BPE discipline. A production decode batches B prompts per
    step (the argmax becomes a per-prompt window) without changing the
    per-step plan."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.filter(has_min_tokens("text", 2)).select(tokens("text").alias("tok"))
    big = track_persist(
        tok.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tok") - 1),
                    lambda i: F.struct(
                        F.element_at("tok", i).alias("a"),
                        F.element_at("tok", i + 1).alias("b"),
                    ),
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    big.count()
    uni = tok.select(F.explode("tok").alias("token")).groupBy("token").agg(
        F.count("*").alias("cnt")
    )
    seed = uni.orderBy(F.desc("cnt"), "token").limit(1).collect()[0]
    out = [(0, seed["token"], int(seed["cnt"]))]
    cur = seed["token"]
    for step in range(1, _DECODE_STEPS + 1):
        rows = (
            big.filter(F.col("a") == cur)
            .orderBy(F.desc("cnt"), "b")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        cur = rows[0]["b"]
        out.append((step, cur, int(rows[0]["cnt"])))
    return spark.createDataFrame(out, "step int, token string, cnt bigint")


#: Skip-gram geometry: context window (forward offsets 1.._SG_WINDOW), GloVe
#: inverse-distance weights kept exact as integers scaled by lcm(1..5)=60,
#: and the long co-occurrence tail pruned at _SG_MIN_COOC.
_SG_WINDOW = 5
_SG_WEIGHT_LCM = 60
_SG_MIN_COOC = 5


@register(
    "skipgram_window_counts",
    doc="word2vec/GloVe co-occurrence counting pass: positional skip-gram "
    "pairs within a ±5 window via offset EQUI-joins (never a per-doc "
    "quadratic), exact integer inverse-distance weights",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id,
                   generate_subscripts(toks, 1) - 1 AS pos,
                   unnest(toks) AS token
            FROM (SELECT doc_id, {_DUCKDB_TOKENS} AS toks FROM documents)
        ), pr AS (
            SELECT a.token AS token_a, b.token AS token_b, off.d AS d
            FROM pos a
            CROSS JOIN (VALUES (1), (2), (3), (4), (5)) AS off(d)
            JOIN pos b
              ON b.doc_id = a.doc_id AND b.pos = a.pos + off.d
        )
        SELECT token_a, token_b,
               COUNT(*) AS n_cooc,
               CAST(SUM({_SG_WEIGHT_LCM} // d) AS BIGINT) AS w60
        FROM pr
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_SG_MIN_COOC}
    """,
)
def skipgram_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence counting pass under word2vec/GloVe: for every
    ordered token pair (a, b) where b follows a within ``_SG_WINDOW``
    positions in the same document, the raw pair count and the GloVe-style
    inverse-distance mass Σ 1/d — kept exact by scaling to lcm(1..5)=60
    (60/d ∈ {{60,30,20,15,12}}), so both engines sum integers. Complements
    ``token_pmi_top_pairs`` (document-level, unordered, df-based): this is
    the positional statistic embedding trainers actually consume.

    Shape: each token row fans out to its ≤5 forward context positions
    (offset and weight folded to literals at plan time) and meets the
    position relation in an EQUI-join keyed (doc_id, pos) — never a per-doc
    self-join that goes quadratic in document length; per-key fan-out is
    bounded by the window. One shuffle for the join, one for the final
    (token_a, token_b) aggregation; the HAVING prunes the hapax tail so the
    result stays report-sized while the plan stays linear in corpus tokens
    at any scale."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    )
    probes = pos.select(
        "doc_id",
        F.col("token").alias("token_a"),
        F.explode(
            F.array(*[
                F.struct(
                    (F.col("pos") + F.lit(d)).alias("ppos"),
                    F.lit(_SG_WEIGHT_LCM // d).alias("w"),
                )
                for d in range(1, _SG_WINDOW + 1)
            ])
        ).alias("ctx"),
    ).select("doc_id", "token_a", F.col("ctx.ppos").alias("pos"), F.col("ctx.w").alias("w"))
    pairs = probes.join(
        pos.select("doc_id", "pos", F.col("token").alias("token_b")),
        ["doc_id", "pos"],
    )
    return (
        pairs.groupBy("token_a", "token_b")
        .agg(
            F.count("*").alias("n_cooc"),
            F.sum("w").cast("bigint").alias("w60"),
        )
        .filter(F.col("n_cooc") >= _SG_MIN_COOC)
    )


# ---------------------------------------------------------------------------
# Stupid-backoff n-gram LM + perplexity filter (round-10 verdict #4 — the
# CCNet-tier model-based quality filter)
# ---------------------------------------------------------------------------

#: Stupid-backoff penalty ln(0.4) in integer micro-nats — the Brants et al.
#: 2007 constant, quantized once with the module's ln discipline
#: (floor(round(ln·1e6))) so both engines add the identical integer.
_SB_ALPHA_MU = -916291  # = floor(round(ln(0.4), 9) * 1e6)

#: Perplexity band edges as mean-log-prob thresholds in micro-nats
#: (ppl < P  ⇔  mean_lp > −ln P): the CCNet head/middle/tail split at
#: ppl 20 / 100 / 500. Integer thresholds ⇒ the banding compare is
#: sum_lp > thr·n in exact BIGINT, no float boundary anywhere.
_SB_HEAD_MU = -2995733  # floor(round(-ln(20), 9) * 1e6)
_SB_MID_MU = -4605171  # floor(round(-ln(100), 9) * 1e6)
_SB_TAIL_MU = -6214609  # floor(round(-ln(500), 9) * 1e6)

#: Training slice: the LM is fit on ONE source partition and scores the
#: whole corpus — the CCNet arrangement (reference-corpus model, target
#: corpus scored). Training on the scored corpus itself would make every
#: observed n-gram count ≥ 1 and the backoff path dead code.
_SB_TRAIN_SOURCE = "src0"

_SB_LN = "CAST(FLOOR(ROUND(LN({x}), 9) * 1000000) AS BIGINT)"


def _sb_oracle() -> str:
    L = _SB_LN.format
    lp_uni = (
        f"{L(x='f.c1w + 1')} - {L(x='tv.t + tv.v')}"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, source, {_DUCKDB_TOKENS} AS tok FROM documents
        ),
        pos AS (
            SELECT doc_id, source,
                   unnest(range(0, len(tok))) AS pos,
                   unnest(tok) AS w
            FROM toks
        ),
        seq AS (
            SELECT doc_id, source, pos, w,
                   LAG(w, 1) OVER dw AS v,
                   LAG(w, 2) OVER dw AS u
            FROM pos
            WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
        ),
        tr AS (SELECT * FROM seq WHERE source = '{_SB_TRAIN_SOURCE}'),
        c1 AS (SELECT w, COUNT(*) AS c FROM tr GROUP BY w),
        c2 AS (
            SELECT v AS a, w AS b, COUNT(*) AS c FROM tr
            WHERE v IS NOT NULL GROUP BY v, w
        ),
        c3 AS (
            SELECT u AS a, v AS b, w AS c_, COUNT(*) AS c FROM tr
            WHERE u IS NOT NULL GROUP BY u, v, w
        ),
        tv AS (
            SELECT (SELECT COUNT(*) FROM tr) AS t,
                   (SELECT COUNT(*) FROM c1) AS v
        ),
        joined AS (
            SELECT s.doc_id, s.pos,
                   t3.c AS k3, d3.c AS k2uv, b2.c AS k2vw, u1.c AS c1v,
                   COALESCE(w1.c, 0) AS c1w
            FROM seq s
            LEFT JOIN c3 t3 ON t3.a = s.u AND t3.b = s.v AND t3.c_ = s.w
            LEFT JOIN c2 d3 ON d3.a = s.u AND d3.b = s.v
            LEFT JOIN c2 b2 ON b2.a = s.v AND b2.b = s.w
            LEFT JOIN c1 u1 ON u1.w = s.v
            LEFT JOIN c1 w1 ON w1.w = s.w
        ),
        scored AS (
            SELECT f.doc_id,
                   CASE
                     WHEN f.pos >= 2 AND f.k3 IS NOT NULL
                       THEN {L(x='f.k3')} - {L(x='f.k2uv')}
                     WHEN f.pos >= 1 AND f.k2vw IS NOT NULL
                       THEN (CASE WHEN f.pos >= 2 THEN {_SB_ALPHA_MU} ELSE 0 END)
                            + {L(x='f.k2vw')} - {L(x='f.c1v')}
                     ELSE (CASE WHEN f.pos = 0 THEN 0
                                WHEN f.pos = 1 THEN {_SB_ALPHA_MU}
                                ELSE {2 * _SB_ALPHA_MU} END)
                          + {lp_uni}
                   END AS lp,
                   CASE WHEN f.pos >= 2 AND f.k3 IS NOT NULL
                        THEN 1 ELSE 0 END AS tri_hit,
                   CASE WHEN (f.pos < 2 OR f.k3 IS NULL)
                             AND f.pos >= 1 AND f.k2vw IS NOT NULL
                        THEN 1 ELSE 0 END AS big_hit
            FROM joined f CROSS JOIN tv
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(lp) AS BIGINT) AS sum_lp_micro,
                   CAST(SUM(tri_hit) AS BIGINT) AS n_trigram_hits,
                   CAST(SUM(big_hit) AS BIGINT) AS n_bigram_hits
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.sum_lp_micro, 0) AS sum_lp_micro,
               COALESCE(p.n_trigram_hits, 0) AS n_trigram_hits,
               COALESCE(p.n_bigram_hits, 0) AS n_bigram_hits,
               CASE WHEN p.n_tokens > 0
                    THEN CAST(p.sum_lp_micro AS DOUBLE)
                         / (CAST(p.n_tokens AS DOUBLE) * 1000000.0)
               END AS mean_logprob_nats,
               CASE
                 WHEN p.n_tokens IS NULL THEN 'empty'
                 WHEN p.sum_lp_micro > {_SB_HEAD_MU} * p.n_tokens THEN 'head'
                 WHEN p.sum_lp_micro > {_SB_MID_MU} * p.n_tokens THEN 'middle'
                 WHEN p.sum_lp_micro > {_SB_TAIL_MU} * p.n_tokens THEN 'tail'
                 ELSE 'reject'
               END AS ppl_band
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id"""


@register(
    "ngram_lm_perplexity_filter",
    tags=("bcast-const",),
    doc="CCNet-tier model-based quality filter: trigram stupid-backoff LM "
    f"(Brants et al. 2007, alpha=0.4) trained on the '{_SB_TRAIN_SOURCE}' "
    "source slice in one corpus pass, every doc scored by mean token "
    "log-prob in exact integer micro-nats, bucketed into the CCNet "
    "head/middle/tail perplexity bands on integer thresholds",
    oracle=_sb_oracle(),
)
def ngram_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filtering — the pretraining-standard
    model-based filter (CCNet, Wenzek et al. 2020), closing round-10
    verdict #4: the engine had heuristic doc-quality stats and tokenizer
    trainers but no LM-scoring rung between them.

    Model = trigram stupid backoff (Brants et al. 2007): score of token w
    after context (u, v) is c₃(uvw)/c₂(uv) when the trigram was seen,
    else α·c₂(vw)/c₁(v), else α²·(c₁(w)+1)/(T+V) — the final rung add-one
    smoothed so out-of-vocabulary tokens score finitely. Trained on the
    _SB_TRAIN_SOURCE slice only and scored over the WHOLE corpus (the CCNet
    reference-model/target-corpus arrangement; self-training would leave
    the backoff path structurally dead since every observed n-gram counts
    ≥ 1). α and every ln are quantized to integer micro-nats with the
    module's floor(round(ln,9)·1e6) discipline, so per-doc scores are
    exact BIGINT sums — order-independent — and the head/middle/tail
    banding (ppl 20/100/500) is the integer compare sum_lp > thr·n.

    Scale shape at 100 TB: ONE pass over the lagged token stream builds
    all three count tables (w / (v,w) / (u,v,w) keyed aggregations,
    map-side combined); all three are vocabulary-sized — broadcast for
    natural language — so scoring is map-side joins over the token
    stream followed by one doc-keyed aggregation. No shuffle touches the
    corpus except the per-doc rollup."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    seq = (
        docs.select(
            "doc_id", "source", F.posexplode(tokens("text")).alias("pos", "w")
        )
        .withColumn("v", F.lag("w", 1).over(wd))
        .withColumn("u", F.lag("w", 2).over(wd))
    )
    seq = track_persist(seq)
    tr = seq.filter(F.col("source") == _SB_TRAIN_SOURCE)
    c1 = tr.groupBy("w").agg(F.count("*").alias("c"))
    c2 = (
        tr.filter(F.col("v").isNotNull())
        .groupBy(F.col("v").alias("a"), F.col("w").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    c3 = (
        tr.filter(F.col("u").isNotNull())
        .groupBy(F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c_"))
        .agg(F.count("*").alias("c"))
    )
    tv = tr.agg(F.count("*").alias("t")).crossJoin(
        F.broadcast(c1.agg(F.count("*").alias("v_")))
    )

    def L(col):
        return F.floor(F.round(F.log(col.cast("double")), 9) * F.lit(1_000_000)).cast(
            "bigint"
        )

    a_mu = F.lit(_SB_ALPHA_MU)
    joined = (
        seq.join(
            F.broadcast(c3.select("a", "b", "c_", F.col("c").alias("k3"))),
            (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")) & (F.col("c_") == F.col("w")),
            "left",
        )
        .drop("a", "b", "c_")
        .join(
            F.broadcast(c2.select(F.col("a").alias("a2"), F.col("b").alias("b2"), F.col("c").alias("k2uv"))),
            (F.col("a2") == F.col("u")) & (F.col("b2") == F.col("v")),
            "left",
        )
        .drop("a2", "b2")
        .join(
            F.broadcast(c2.select(F.col("a").alias("a3"), F.col("b").alias("b3"), F.col("c").alias("k2vw"))),
            (F.col("a3") == F.col("v")) & (F.col("b3") == F.col("w")),
            "left",
        )
        .drop("a3", "b3")
        .join(
            F.broadcast(c1.select(F.col("w").alias("w1"), F.col("c").alias("c1v"))),
            F.col("w1") == F.col("v"),
            "left",
        )
        .drop("w1")
        .join(
            F.broadcast(c1.select(F.col("w").alias("w2"), F.col("c").alias("c1w_"))),
            F.col("w2") == F.col("w"),
            "left",
        )
        .drop("w2")
        .withColumn("c1w", F.coalesce("c1w_", F.lit(0)))
        .crossJoin(F.broadcast(tv))
    )
    lp = (
        F.when(
            (F.col("pos") >= 2) & F.col("k3").isNotNull(),
            L(F.col("k3")) - L(F.col("k2uv")),
        )
        .when(
            (F.col("pos") >= 1) & F.col("k2vw").isNotNull(),
            F.when(F.col("pos") >= 2, a_mu).otherwise(F.lit(0))
            + L(F.col("k2vw"))
            - L(F.col("c1v")),
        )
        .otherwise(
            F.when(F.col("pos") == 0, F.lit(0))
            .when(F.col("pos") == 1, a_mu)
            .otherwise(F.lit(2 * _SB_ALPHA_MU))
            + L(F.col("c1w") + 1)
            - L(F.col("t") + F.col("v_"))
        )
    )
    tri_hit = F.when(
        (F.col("pos") >= 2) & F.col("k3").isNotNull(), F.lit(1)
    ).otherwise(F.lit(0))
    big_hit = F.when(
        ((F.col("pos") < 2) | F.col("k3").isNull())
        & (F.col("pos") >= 1)
        & F.col("k2vw").isNotNull(),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_doc = (
        joined.select(
            "doc_id",
            lp.alias("lp"),
            tri_hit.alias("tri_hit"),
            big_hit.alias("big_hit"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens_"),
            F.sum("lp").cast("bigint").alias("sum_lp_"),
            F.sum("tri_hit").cast("bigint").alias("tri_"),
            F.sum("big_hit").cast("bigint").alias("big_"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens_", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("sum_lp_", F.lit(0)).cast("bigint").alias("sum_lp_micro"),
        F.coalesce("tri_", F.lit(0)).cast("bigint").alias("n_trigram_hits"),
        F.coalesce("big_", F.lit(0)).cast("bigint").alias("n_bigram_hits"),
        F.when(
            F.col("n_tokens_") > 0,
            F.col("sum_lp_").cast("double")
            / (F.col("n_tokens_").cast("double") * F.lit(1_000_000.0)),
        ).alias("mean_logprob_nats"),
        F.when(F.col("n_tokens_").isNull(), F.lit("empty"))
        .when(
            F.col("sum_lp_") > F.lit(_SB_HEAD_MU) * F.col("n_tokens_"), F.lit("head")
        )
        .when(
            F.col("sum_lp_") > F.lit(_SB_MID_MU) * F.col("n_tokens_"), F.lit("middle")
        )
        .when(
            F.col("sum_lp_") > F.lit(_SB_TAIL_MU) * F.col("n_tokens_"), F.lit("tail")
        )
        .otherwise(F.lit("reject"))
        .alias("ppl_band"),
    )
