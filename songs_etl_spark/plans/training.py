"""Training-data pipeline operators beyond the dedup/similarity families:
PII redaction, sequence packing, per-language quota sampling, and per-label
embedding centroids. The reference has no equivalents (it is a song-ETL);
these are the operations a 100 TB LLM-corpus pipeline layers on the same
engine, expressed as pure JVM DataFrame plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from songs_etl_spark.functions.text import tokens
from songs_etl_spark.plans._util import spread, t, track_persist
from songs_etl_spark.plans.registry import register

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Patterns kept inside the Java-regex ∩ RE2 common subset (no backrefs, no
#: lookaround) so Spark and DuckDB compile them identically.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-[0-9]{3,6}"


@register(
    "pii_redact_docs",
    doc="PII scrub: regex redaction of emails/phones with per-doc counts",
    oracle=f"""
        WITH seeded AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                        || '-1234 now' AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
               md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
        FROM seeded
    """,
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails/phone numbers before a corpus ships to training. The
    testdata's synthetic text contains no PII, so the harness first seeds
    each doc with deterministic doc_id-derived PII — both engines construct
    the identical input, redact it, and must agree on counts and the full
    redacted text (md5). Map-side only: no shuffle, no UDF; at 100 TB this
    runs at scan speed as a projection."""
    docs = t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit("-1234 now"),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(F.encode(redacted, "UTF-8")).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

#: Token budget per pack (a stand-in context length).
_PACK_BUDGET = 512

_DUCK_TOKCOUNT = (
    "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
)


@register(
    "pack_documents_budget",
    doc="sequence packing: docs binned into fixed-token-budget packs per language shard",
    oracle=f"""
        WITH counted AS (
            SELECT lang, doc_id, {_DUCK_TOKCOUNT} AS n_tok FROM documents
        ), prefixed AS (
            SELECT lang, doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            0) AS prefix
            FROM counted
        )
        SELECT lang,
               CAST(prefix // {_PACK_BUDGET} AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM prefixed
        GROUP BY lang, prefix // {_PACK_BUDGET}
    """,
)
def pack_documents_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-token-budget packs (the sequence-packing
    step before example construction): within each language shard, docs are
    laid out in doc_id order and a doc's pack is its exclusive prefix-sum of
    tokens divided by the budget.

    Scale shape: the window is PARTITIONED by the shard key — packing is
    embarrassingly parallel across shards, and no global sort or
    single-partition window exists anywhere in the plan. A real corpus
    shards by (source, date, hash-prefix) the same way; packing across the
    whole corpus in one sequence would serialize and is deliberately not the
    semantic."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    counted = docs.select("lang", "doc_id", F.size(tokens("text")).alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixed = counted.withColumn(
        "prefix", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return (
        prefixed.withColumn(
            "pack_id", F.floor(F.col("prefix") / _PACK_BUDGET).cast("bigint")
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Per-language quota sampling
# ---------------------------------------------------------------------------

#: Max docs kept per language.
_LANG_QUOTA = 40


@register(
    "lang_quota_sample",
    doc="per-language quota sampling: deterministic content-hash top-K per shard",
    oracle=f"""
        SELECT doc_id, lang, rk FROM (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY md5(text), doc_id) AS rk
            FROM documents
        ) WHERE rk <= {_LANG_QUOTA}
    """,
)
def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balance a corpus by capping each language at a quota. The
    kept set is decided by content-hash order (md5(text), doc_id tiebreak) —
    never rand(): re-running over the same corpus, any partitioning, keeps
    the identical sample (the property the sampling family establishes in
    plans/sampling.py). One shuffle keyed by lang; skewed languages are a
    bounded top-K per key, not a sort of the whole shard."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.encode("text", "UTF-8")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _LANG_QUOTA)
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids
# ---------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    doc="per-label embedding centroid norms via exact integer-quantized sums",
    oracle="""
        WITH comp AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(FLOOR(unnest(CAST(embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS q
            FROM embeddings
        ), sums AS (
            SELECT label, dim, SUM(q) AS s,
                   COUNT(*) AS n
            FROM comp GROUP BY label, dim
        )
        SELECT label,
               CAST(MAX(n) AS BIGINT) AS n_vecs,
               ROUND(SQRT(CAST(SUM(s * s) AS DOUBLE)) / (1e6 * MAX(n)), 6) AS centroid_norm
        FROM sums GROUP BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid L2-norm per label — the corpus-organization statistic behind
    IVF cell quality and cluster drift checks. Reproducibility follows the
    k-means discipline (operators/clustering.py): components quantize to
    integer micro-units up front, so per-(label, dim) partial sums are exact
    and partition-order-independent; the squared sums accumulate in DECIMAL
    (they exceed double's 2^53 exact range), and only the final
    sqrt/divide/round happens in IEEE doubles — identical on both engines.
    Two keyed shuffles ((label, dim) then label), no Python, no collect."""
    emb = t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1e6).cast("bigint"),
            )
        ).alias("dim", "q"),
    )
    sums = comp.groupBy("label", "dim").agg(
        F.sum("q").alias("s"), F.count("*").alias("n")
    )
    s_dec = F.col("s").cast("decimal(18,0)")
    return (
        sums.groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_vecs"),
            F.round(
                F.sqrt(F.sum(s_dec * s_dec).cast("double"))
                / (F.lit(1e6) * F.max("n")),
                6,
            ).alias("centroid_norm"),
        )
    )


@register(
    "training_shuffle_shards",
    doc="deterministic global training shuffle: hash-assigned shards + "
    "hash-ordered position within each shard",
    oracle="""
        WITH assigned AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT) % 8 AS shard,
                   CAST(('0x' || substr(md5('order|' || CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT) AS ord
            FROM documents
        )
        SELECT doc_id, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT) AS pos
        FROM assigned
    """,
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global shuffle every training run needs, without ``rand()``: each
    document's shard and within-shard position derive from content hashes
    (md5 with distinct salts for shard vs order), so the permutation is
    reproducible across engines, reruns, and cluster sizes — an epoch seed
    becomes part of the salt. One hash-partitioned shuffle on the shard key,
    one within-partition sort; at 100 TB each shard sorts independently
    (shard count scales with cluster width) and no global sort ever runs."""
    docs = t(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))), 25, 8), 16, 10)
        .cast("bigint") % 8
    )
    ordkey = F.conv(
        F.substring(F.md5(F.concat(F.lit("order|"), F.col("doc_id").cast("string"))), 25, 8), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("ord", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), ordkey.alias("ord"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing
# ---------------------------------------------------------------------------

#: Mixing temperature: kept-count per domain ∝ n_d^TAU (τ=0.5 — the classic
#: multilingual-pretraining exponent that upweights small languages).
_MIX_TAU = 0.5


@register(
    "domain_temperature_mix",
    tags=("bcast-const",),
    doc="temperature-scaled domain mixing (τ=0.5): per-domain keep rate "
    "sqrt(n_min/n_d), hash-coin kept set",
    oracle="""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        ),
        rates AS (
            SELECT lang, SQRT(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / n)
                   AS keep_rate
            FROM counts
        )
        SELECT d.doc_id, d.lang, r.keep_rate
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(CAST(('0x' || substr(md5(CAST(d.text AS VARCHAR)), 25, 8)) AS BIGINT)
                   AS DOUBLE) / 4294967296.0 < r.keep_rate
    """,
)
def domain_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-balance a multi-domain corpus toward p(d) ∝ n_d^τ (τ=0.5) by
    downsampling: keep rate per domain is sqrt(n_min/n_d), which makes the
    kept count ∝ sqrt(n_min·n_d) ∝ n_d^0.5 — the standard temperature
    exponent that boosts under-represented languages without upsampling.
    The coin is the same content-hash uniform as `weighted_doc_sample`
    (never rand(): same corpus → same sample on any engine or partitioning).

    Plan: one tiny per-domain count aggregation (|domains| rows, broadcast
    back) and a map-side filter — scan-speed at any corpus size; the rate
    table is the only coordination."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        F.sqrt(F.col("n_min").cast("double") / F.col("n")).alias("keep_rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("text")), 25, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u < F.col("keep_rate"))
        .select("doc_id", "lang", "keep_rate")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights
# ---------------------------------------------------------------------------

#: Hashed-feature bucket count for the importance model (vocabulary-free:
#: any corpus hashes into a fixed 256-bucket table).
_DSIR_BUCKETS = 256


@register(
    "dsir_importance_weights",
    tags=("bcast-const",),
    doc="DSIR-style importance weights (Xie et al. 2023): hashed-unigram "
    "bucket counts, add-one-smoothed target/raw log-ratio averaged per doc",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS tok
            FROM documents
        ),
        b AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % {_DSIR_BUCKETS}
                       AS bucket
            FROM toks
        ),
        raw AS (SELECT bucket, COUNT(*) AS rc FROM b GROUP BY bucket),
        tgt AS (SELECT bucket, COUNT(*) AS tc FROM b WHERE lang = 'en' GROUP BY bucket),
        totals AS (
            SELECT (SELECT COUNT(*) FROM b) AS rt,
                   (SELECT COUNT(*) FROM b WHERE lang = 'en') AS tt
        ),
        scored AS (
            SELECT b.doc_id,
                   LN((COALESCE(t.tc, 0) + 1.0) / (totals.tt + {_DSIR_BUCKETS}))
                   - LN((r.rc + 1.0) / (totals.rt + {_DSIR_BUCKETS})) AS lr
            FROM b
            JOIN raw r USING (bucket)
            LEFT JOIN tgt t USING (bucket)
            CROSS JOIN totals
        )
        SELECT doc_id, COUNT(*) AS n_tokens, ROUND(AVG(lr), 6) AS dsir_logweight
        FROM scored GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, the hashed-n-gram scoring
    half: build add-one-smoothed bucket distributions for a TARGET slice
    (lang='en' here — in production, the high-quality reference corpus) and
    the RAW corpus, then score every document by the mean
    log(p_target/p_raw) of its hashed unigram buckets. Documents that look
    like the target get high weights; resampling by these weights (the
    hash-coin of `weighted_doc_sample`) completes the DSIR recipe.

    Scale shape: features are HASHED (fixed {_DSIR_BUCKETS}-bucket table, no
    vocabulary state), both count tables are {_DSIR_BUCKETS}-row broadcasts,
    and scoring is one broadcast join + per-doc aggregation over the token
    stream — linear, shuffle only on doc_id. AVG of doubles is rounded to 6
    decimals (same display-level tolerance as `doc_unigram_logprob`)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    toks = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    b = toks.select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("bigint")
         % _DSIR_BUCKETS).alias("bucket"),
    )
    b = track_persist(b)
    raw = b.groupBy("bucket").agg(F.count("*").alias("rc"))
    tgt = b.filter(F.col("lang") == "en").groupBy("bucket").agg(
        F.count("*").alias("tc")
    )
    totals = b.agg(
        F.count("*").alias("rt"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("tt"),
    )
    scored = (
        b.join(F.broadcast(raw), "bucket")
        .join(F.broadcast(tgt), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                F.log((F.coalesce("tc", F.lit(0)) + F.lit(1.0)) / (F.col("tt") + _DSIR_BUCKETS))
                - F.log((F.col("rc") + F.lit(1.0)) / (F.col("rt") + _DSIR_BUCKETS))
            ).alias("lr"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.round(F.avg("lr"), 6).alias("dsir_logweight")
    )
    return out


# ---------------------------------------------------------------------------
# Context-window chunking (sliding token windows per document)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@register(
    "doc_chunk_sliding",
    doc="context-length chunking: overlapping token windows per document "
    "(size 32, stride 24) — the doc→training-example fan-out",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        starts AS (
            SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS s
            FROM tok WHERE len(toks) > 0
        )
        SELECT doc_id,
               CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_index,
               array_to_string(toks[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text,
               len(toks[s + 1 : s + {CHUNK_SIZE}]) AS n_tokens
        FROM starts
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into overlapping context windows: token starts at
    0, stride, 2·stride … < n_tokens, each chunk the next ``CHUNK_SIZE``
    tokens (the final chunks are short — kept, standard LM-pretraining
    practice, deduplicated downstream by the pack/dedup operators).

    All map-side: tokenize → ``sequence`` of starts → ``posexplode`` →
    ``slice`` — one bounded fan-out (≈ n/stride rows per doc) with zero
    shuffle; Catalyst prunes the scan to (doc_id, text). The scale contract
    is the same as token_explode: amplification is data-proportional, never
    quadratic, and feeds straight into ``pack_documents_budget`` for
    sequence packing."""
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    return (
        tok.select(
            "doc_id",
            "toks",
            F.posexplode(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
            ).alias("chunk_index", "s"),
        )
        .select(
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            F.array_join(F.slice("toks", F.col("s") + 1, F.lit(CHUNK_SIZE)), " ").alias(
                "chunk_text"
            ),
            F.size(F.slice("toks", F.col("s") + 1, F.lit(CHUNK_SIZE)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


#: Power-of-two packing buckets for sequence-length batching. Docs longer
#: than the last bucket keep their own length (pad 0, "oversize" — they'd be
#: chunked upstream by doc_chunk_sliding).
_SEQ_BUCKETS = (64, 128, 256, 512, 1024, 2048)

from songs_etl_spark.functions.text import DUCKDB_TOKENS_SQL as _DUCKDB_TOKENS


@register(
    "seq_len_bucket_padding",
    doc="training batcher audit: power-of-two sequence-length buckets with "
    "exact padding-waste accounting",
    oracle=f"""
        WITH n AS (
            SELECT len({_DUCKDB_TOKENS}) AS n_tokens FROM documents
        ),
        b AS (
            SELECT n_tokens,
                   CASE {' '.join(f'WHEN n_tokens <= {w} THEN {w}' for w in _SEQ_BUCKETS)}
                        ELSE n_tokens END AS bucket
            FROM n
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(bucket - n_tokens) AS BIGINT) AS total_padding,
               CAST(SUM(bucket - n_tokens) AS DOUBLE)
                   / CAST(SUM(bucket) AS DOUBLE) AS pad_ratio
        FROM b GROUP BY bucket
    """,
)
def seq_len_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The padding-waste audit every fixed-shape training batcher needs:
    documents are tiled into power-of-two sequence-length buckets (the
    standard bucketed-batching scheme — one static graph shape per
    bucket), and each bucket reports how many pad tokens the batch shape
    costs relative to real tokens. ``pad_ratio`` near 1 in a bucket means
    the bucket boundaries are wrong for the corpus; the aggregate drives
    bucket-boundary tuning before a multi-week run burns FLOPs on pads.

    One tokenize + one partial-aggregating shuffle on a ≤7-value key:
    trivially linear at any corpus size. All sums are exact integers;
    the ratio is a single division of exact values (registry rule 2)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    n = docs.select(F.size(tokens("text")).alias("n_tokens"))
    bucket = F.col("n_tokens")
    for w in reversed(_SEQ_BUCKETS):
        bucket = F.when(F.col("n_tokens") <= w, F.lit(w)).otherwise(bucket)
    b = n.select("n_tokens", bucket.alias("bucket"))
    return b.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n_tokens")).alias("total_padding"),
        (
            F.sum(F.col("bucket") - F.col("n_tokens")).cast("double")
            / F.sum("bucket").cast("double")
        ).alias("pad_ratio"),
    )


#: Token budget the epoch planner schedules against, and the repeat-factor
#: ceiling past which a domain is flagged as exhausted (the Gopher/Llama
#: data-card rule of thumb: ≳4 epochs of a source stops helping).
EPOCH_BUDGET_TOKENS = 1_000_000
EPOCH_CAP = 4.0


@register(
    "epoch_schedule_by_source",
    tags=("bcast-const",),
    doc="epoch/repeat-factor planner: turn temperature weights (τ=0.5 over "
    "per-language token counts) + a total token budget into per-language "
    "target tokens, epochs needed, and exhaustion flags — the concrete "
    "sampling plan domain_temperature_mix's keep-rates feed",
    oracle=f"""
        WITH toks AS (
            SELECT lang,
                   COUNT(*) AS n_docs,
                   SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                       AS avail_tokens
            FROM documents GROUP BY lang
        ), s AS (
            SELECT lang, n_docs, avail_tokens,
                   SQRT(CAST(avail_tokens AS DOUBLE)) AS w
            FROM toks
        ), denom AS (
            SELECT list_reduce(list(w ORDER BY lang), (x, y) -> x + y) AS d FROM s
        )
        SELECT s.lang,
               CAST(s.n_docs AS BIGINT) AS n_docs,
               CAST(s.avail_tokens AS BIGINT) AS avail_tokens,
               s.w / denom.d AS weight,
               {EPOCH_BUDGET_TOKENS} * (s.w / denom.d) AS target_tokens,
               {EPOCH_BUDGET_TOKENS} * (s.w / denom.d)
                   / CAST(s.avail_tokens AS DOUBLE) AS epochs_needed,
               {EPOCH_BUDGET_TOKENS} * (s.w / denom.d)
                   / CAST(s.avail_tokens AS DOUBLE) > {EPOCH_CAP} AS exhausted
        FROM s, denom
    """,
)
def epoch_schedule_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From corpus statistics to a runnable mixing plan: per language,
    target_tokens = budget · n_tok^τ / Σ n_tok^τ (τ=0.5), epochs_needed =
    target / available, and an ``exhausted`` flag when the plan would repeat
    a source past EPOCH_CAP epochs (the point where repetition stops
    substituting for fresh data — the check every data card publishes).

    Determinism: per-language token counts are exact bigint sums of per-row
    regex counts; the ONLY cross-group float reduction (Σ√n over languages)
    is a fold over the lang-sorted value list — fixed order on both engines
    (F.aggregate ↔ list_reduce), so every share/epoch value is one
    deterministic double chain.

    Plan: one aggregation to |languages| rows; everything after is
    constant-size. The planner's output is what a reader feeds to
    weighted sampling (domain_temperature_mix) and packing
    (pack_documents_budget) — together the three stages are the standard
    mixture pipeline."""
    docs = t(spark, sf_dir, "documents")
    ntok = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0)))
    toks = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("avail_tokens"),
    )
    s = toks.withColumn("w", F.sqrt(F.col("avail_tokens").cast("double")))
    arr = s.agg(F.sort_array(F.collect_list(F.struct("lang", "w"))).alias("a")).select(
        F.transform("a", lambda x: x["w"]).alias("ws")
    )
    denom = arr.select(
        F.aggregate(
            F.slice("ws", 2, F.size("ws") - 1),
            F.element_at("ws", 1),
            lambda acc, x: acc + x,
        ).alias("d")
    )
    share = F.col("w") / F.col("d")
    target = F.lit(EPOCH_BUDGET_TOKENS) * share
    epochs = target / F.col("avail_tokens").cast("double")
    return s.crossJoin(F.broadcast(denom)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "avail_tokens",
        share.alias("weight"),
        target.alias("target_tokens"),
        epochs.alias("epochs_needed"),
        (epochs > EPOCH_CAP).alias("exhausted"),
    )


# ---------------------------------------------------------------------------
# Curriculum scheduling
# ---------------------------------------------------------------------------

#: Curriculum phases per language shard (easy → hard quartiles).
_CURRICULUM_PHASES = 4


@register(
    "curriculum_phase_schedule",
    doc="curriculum learning schedule: per-language difficulty quartiles "
    "(n_chars as the difficulty proxy) with per-phase and cumulative token "
    "budgets — the phase table a curriculum dataloader consumes",
    oracle=f"""
        WITH scored AS (
            SELECT lang, doc_id, n_chars, {_DUCK_TOKCOUNT} AS n_tok,
                   NTILE({_CURRICULUM_PHASES}) OVER (
                       PARTITION BY lang ORDER BY n_chars, doc_id) AS phase
            FROM documents
        ), per_phase AS (
            SELECT lang, phase, COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS phase_tokens,
                   CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                   CAST(MAX(n_chars) AS BIGINT) AS max_chars
            FROM scored GROUP BY lang, phase
        )
        SELECT lang, phase, n_docs, phase_tokens,
               CAST(SUM(phase_tokens) OVER (
                   PARTITION BY lang ORDER BY phase) AS BIGINT) AS cum_tokens,
               min_chars, max_chars
        FROM per_phase
    """,
)
def curriculum_phase_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum learning's data-side artifact: within each language shard,
    rank documents by a difficulty proxy (n_chars, ties by doc_id) into
    NTILE phases and emit each phase's document count, token budget, and
    cumulative token budget — the table a staged dataloader walks
    (train on phases 1..k before admitting k+1).

    Scale shape: like pack_documents_budget, every window PARTITIONS by the
    shard key — phase assignment is embarrassingly parallel across shards
    and no global sort exists; the cumulative sum runs over the
    4-rows-per-shard aggregate. All outputs are exact integers. At 100 TB
    the difficulty proxy would be a model score column; the plan is
    identical — one ranked window + one shard-keyed aggregation."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    scored = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.size(tokens("text")).alias("n_tok"),
        F.ntile(_CURRICULUM_PHASES).over(w).alias("phase"),
    )
    per_phase = scored.groupBy("lang", "phase").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("phase_tokens"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )
    wc = Window.partitionBy("lang").orderBy("phase")
    return per_phase.select(
        "lang",
        "phase",
        "n_docs",
        "phase_tokens",
        F.sum("phase_tokens").over(wc).cast("bigint").alias("cum_tokens"),
        "min_chars",
        "max_chars",
    )
