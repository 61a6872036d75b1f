"""Sketch-based approximate aggregates — the scale path for metrics whose
exact forms don't fit executor memory at 100 TB.

Exact COUNT(DISTINCT) shuffles every distinct value; exact percentiles sort
whole groups. Their sketch twins (HyperLogLog++, Greenwald-Khanna) keep
O(1/ε) state per group, merge associatively map-side, and never shuffle raw
values — the only formulations that survive a 1000-executor fan-in.

Oracle discipline: sketch *estimates* are engine-specific, but their
published error bounds are not. Each query here computes the estimate AND
the exact value, then emits ``(group, exact, within_bound)`` where
``within_bound`` asserts the estimate lands inside the bound; the DuckDB
oracle recomputes the exact value and asserts ``within_bound = TRUE`` — so
the sketches get a full value-hash correctness check (a drifting estimate
fails the hash), not the weaker rows-only pass. Both sketches are
deterministic for a fixed dataset (hash-based, no RNG), so the check cannot
flake. The exact twin is verification harness only — the production caller
uses the estimate column alone (see the estimate-only builders), keeping the
sketch's no-raw-value-shuffle property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from songs_etl_spark.functions.text import tokens
from songs_etl_spark.plans._util import spread, t, track_persist
from songs_etl_spark.plans.registry import register

#: HLL++ relative standard deviation requested, and the acceptance bound
#: asserted by the oracle (3σ → ~99.7% for a random hash seed; deterministic
#: for a fixed dataset).
_HLL_RSD = 0.02
_HLL_BOUND = 3 * _HLL_RSD

#: Greenwald-Khanna accuracy parameter: rank error ≤ n / _GK_ACCURACY.
_GK_ACCURACY = 10_000

from songs_etl_spark.functions.text import DUCKDB_TOKENS_SQL as _DUCKDB_TOKENS


def approx_distinct_tokens_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape: (lang, approx_vocab) via ``approx_count_distinct``
    (HLL++). One ~kilobyte register set per group regardless of vocabulary
    size — no distinct-value shuffle anywhere."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    return (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang")
        .agg(F.approx_count_distinct("token", rsd=_HLL_RSD).alias("approx_vocab"))
    )


@register(
    "approx_distinct_tokens",
    doc="HyperLogLog++ distinct-token counts per language, error-bound-asserted "
    "against the exact count (full value-hash oracle)",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_vocab,
               TRUE AS within_bound
        FROM (
            SELECT lang, unnest({_DUCKDB_TOKENS}) AS token FROM documents
        )
        GROUP BY lang
    """,
)
def approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ estimate vs exact distinct per language: emits the exact count
    (hash-anchored by the oracle) plus ``within_bound`` = |estimate − exact|
    ≤ 3·rsd·exact (±1 for integer rounding at tiny cardinalities). An HLL
    estimate outside its published bound flips ``within_bound`` and fails
    the value hash. The exact branch exists only to *verify* the sketch —
    production callers use ``approx_distinct_tokens_estimate``."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.select("lang", F.explode(tokens("text")).alias("token"))
    agg = tok.groupBy("lang").agg(
        F.approx_count_distinct("token", rsd=_HLL_RSD).alias("approx_vocab"),
        F.count_distinct("token").alias("exact_vocab"),
    )
    err = F.abs(F.col("approx_vocab") - F.col("exact_vocab"))
    return agg.select(
        "lang",
        "exact_vocab",
        (err <= F.lit(_HLL_BOUND) * F.col("exact_vocab") + F.lit(1)).alias("within_bound"),
    )


def approx_quantiles_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape: (event_type, quantiles[p50,p90,p99]) via
    ``percentile_approx`` (GK sketch). Mergeable state → map-side partials,
    no per-group sort."""
    events = t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), _GK_ACCURACY
        ).alias("quantiles")
    )


@register(
    "approx_quantiles_event_value",
    doc="Greenwald-Khanna approximate quantiles of event value per type, "
    "rank-error-bound-asserted (full value-hash oracle)",
    oracle="""
        SELECT event_type, p, TRUE AS within_bound
        FROM (SELECT DISTINCT event_type FROM events),
             (SELECT unnest(['p50', 'p90', 'p99']) AS p)
    """,
)
def approx_quantiles_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK estimates verified by their rank-error contract: ``percentile_
    approx(value, p, acc)`` must return an element whose rank in the group is
    within n/acc of p·n. For each (event_type, p) the estimate is broadcast
    back onto events and its empirical rank counted: ``within_bound`` holds
    iff  #(value < q̂) ≤ ⌈(p+ε)·n⌉  and  #(value ≤ q̂) ≥ ⌊(p−ε)·n⌋,
    ε = 1/accuracy (+1 row of integer slack). One extra scan, one broadcast
    join, one aggregation — all map-side partial — and the oracle asserts
    every group/percentile lands in bound."""
    events = t(spark, sf_dir, "events")
    est = (
        events.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), _GK_ACCURACY
            ).alias("q")
        )
        .select(
            "event_type",
            F.col("q")[0].alias("q50"),
            F.col("q")[1].alias("q90"),
            F.col("q")[2].alias("q99"),
        )
    )
    joined = events.join(F.broadcast(est), "event_type")
    counted = joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        *[
            F.sum((F.col("value") < F.col(f"q{tag}")).cast("bigint")).alias(f"lt{tag}")
            for tag in (50, 90, 99)
        ],
        *[
            F.sum((F.col("value") <= F.col(f"q{tag}")).cast("bigint")).alias(f"le{tag}")
            for tag in (50, 90, 99)
        ],
    )
    eps = 1.0 / _GK_ACCURACY

    def in_bound(tag: int, p: float) -> F.Column:
        n = F.col("n").cast("double")
        return (
            (F.col(f"lt{tag}").cast("double") <= F.ceil((p + eps) * n) + 1)
            & (F.col(f"le{tag}").cast("double") >= F.floor((p - eps) * n) - 1)
        )

    checks = counted.select(
        "event_type",
        F.stack(
            F.lit(3),
            F.lit("p50"), in_bound(50, 0.5),
            F.lit("p90"), in_bound(90, 0.9),
            F.lit("p99"), in_bound(99, 0.99),
        ).alias("p", "within_bound"),
    )
    return checks


# --- Count-Min sketch heavy hitters ----------------------------------------

#: CMS geometry: d independent hash rows × w buckets. Point-query guarantee
#: (Cormode & Muthukrishnan 2005): estimate ≥ exact always, and
#: estimate ≤ exact + (e/w)·N with probability ≥ 1 − e^{-d} per query
#: (deterministic for a fixed dataset and fixed hash seeds — no RNG here).
_CMS_D = 4
_CMS_W = 512
_CMS_TOPK = 20


def _cms_bucket(tok, seed: int):
    """Row-``seed`` bucket for a token: md5 of a seed-tagged copy, first 8
    hex chars as an integer mod w. Pure JVM expression chain."""
    h = F.md5(F.concat(F.lit(f"cms{seed}:"), tok))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _CMS_W).alias("bucket")


def countmin_sketch(tok_df: DataFrame) -> DataFrame:
    """Production CMS builder: the token stream fans out to its d (seed,
    bucket) cells and aggregates counts — map-side combine collapses every
    partition to ≤ d·w rows before the (single) shuffle, so sketch cost is
    independent of corpus size. Output: (seed, bucket, bucket_count)."""
    cells = tok_df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seed"), _cms_bucket(F.col("token"), s))
                for s in range(_CMS_D)
            ])
        ).alias("cell")
    ).select("cell.seed", "cell.bucket")
    return cells.groupBy("seed", "bucket").agg(F.count("*").alias("bucket_count"))


@register(
    "heavy_hitters_countmin",
    tags=("bcast-const",),
    doc="Count-Min sketch heavy hitters: top-k tokens with CMS point-query "
    "estimates asserted against the published (e/w)·N error bound",
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents
        )
        SELECT token, COUNT(*) AS exact_count, TRUE AS within_bound
        FROM tok GROUP BY token
        ORDER BY exact_count DESC, token
        LIMIT {_CMS_TOPK}
    """,
)
def heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by frequency, each carrying ``within_bound`` =
    (CMS estimate ≥ exact) ∧ (CMS estimate ≤ exact + ⌈(e/w)·N⌉): the
    Count-Min point-query contract. The sketch itself is built straight from
    the token stream (``countmin_sketch``) — d·w = 2048 cells total, merged
    map-side, never a distinct-token shuffle — which is why CMS survives a
    vocabulary that doesn't fit anywhere. The exact counts exist only to
    anchor the oracle (and pick the deterministic top-k row set); production
    heavy-hitter queries read the sketch alone. An estimate drifting outside
    the published bound flips ``within_bound`` and fails the value hash."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    cms = countmin_sketch(tok)

    cnt = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    top = cnt.orderBy(F.desc("exact_count"), "token").limit(_CMS_TOPK)
    probes = top.select(
        "token",
        "exact_count",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seed"), _cms_bucket(F.col("token"), s))
                for s in range(_CMS_D)
            ])
        ).alias("cell"),
    ).select("token", "exact_count", "cell.seed", "cell.bucket")
    est = (
        cms.join(F.broadcast(probes), ["seed", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("bucket_count").alias("estimate"))
    )
    total = tok.agg(F.count("*").alias("n_total"))
    bound = F.ceil(F.lit(2.718281828459045 / _CMS_W) * F.col("n_total"))
    return est.crossJoin(F.broadcast(total)).select(
        "token",
        "exact_count",
        (
            (F.col("estimate") >= F.col("exact_count"))
            & (F.col("estimate") <= F.col("exact_count") + bound)
        ).alias("within_bound"),
    )


# --- Count-Sketch (signed) heavy-hitter estimates ---------------------------

#: Count-Sketch geometry: d ODD rows (median of d is a single sorted
#: element, no averaging) × w buckets. Per-row estimate g(t)·C[s, h(t)] is
#: UNBIASED (signs cancel colliders in expectation, unlike CMS's one-sided
#: overcount); the median-of-rows bound is |est − f_t| ≤ 3·√(F₂/w) w.h.p.
#: (Charikar, Chen & Farach-Colton 2002).
_CS_D = 5
_CS_W = 512
_CS_TOPK = 20


def _cs_cell(tok, seed: int):
    """Row-``seed`` (bucket, sign) for a token: one md5 of a seed-tagged
    copy — first 8 hex chars mod w give the bucket, the 9th hex digit's
    parity gives the ±1 sign. Pure JVM expression chain."""
    h = F.md5(F.concat(F.lit(f"cs{seed}:"), tok))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _CS_W).alias("bucket")
    sign = (
        F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign")
    )
    return bucket, sign


def count_sketch(tok_df: DataFrame) -> DataFrame:
    """Production Count-Sketch builder: each token occurrence fans out to
    its d (seed, bucket) cells contributing its ±1 sign, and cells aggregate
    by plain SUM — map-side combine collapses every partition to ≤ d·w rows
    before the single shuffle, and sketches from different partitions /
    days / tables merge by the same SUM (fully mergeable, like CMS).
    Output: (seed, bucket, cell_sum)."""
    cells = tok_df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seed"), *_cs_cell(F.col("token"), s))
                for s in range(_CS_D)
            ])
        ).alias("cell")
    ).select("cell.seed", "cell.bucket", "cell.sign")
    return cells.groupBy("seed", "bucket").agg(F.sum("sign").alias("cell_sum"))


_CS_SQL_CELL = (
    "CAST('0x' || substr(md5('cs' || CAST(s.seed AS VARCHAR) || ':' || token), 1, 8) "
    f"AS BIGINT) % {_CS_W}"
)
_CS_SQL_SIGN = (
    "CASE WHEN CAST('0x' || substr(md5('cs' || CAST(s.seed AS VARCHAR) || ':' || token), "
    "9, 1) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
)


@register(
    "count_sketch_token_freq",
    tags=("bcast-const",),
    doc="Count-Sketch (signed) heavy-hitter estimates: median-of-d unbiased "
    "point queries for the top-k tokens, the estimate AND the 3·sqrt(F2/w) "
    "bound check both inside the value hash — the two-sided-error sibling "
    "of heavy_hitters_countmin",
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents
        ), seeds AS (
            SELECT unnest(range({_CS_D})) AS seed
        ), sketch AS (
            SELECT seed, bucket, SUM(sign) AS cell_sum FROM (
                SELECT s.seed, {_CS_SQL_CELL} AS bucket, {_CS_SQL_SIGN} AS sign
                FROM tok, seeds s
            ) GROUP BY 1, 2
        ), cnt AS (
            SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token
        ), f2 AS (
            SELECT SUM(exact_count * exact_count) AS f2 FROM cnt
        ), top AS (
            SELECT token, exact_count FROM cnt
            ORDER BY exact_count DESC, token LIMIT {_CS_TOPK}
        ), probes AS (
            SELECT t.token, t.exact_count, s.seed,
                   {_CS_SQL_CELL} AS bucket, {_CS_SQL_SIGN} AS sign
            FROM top t, seeds s
        ), est AS (
            SELECT p.token, p.exact_count,
                   list_sort(list(p.sign * sk.cell_sum))[{(_CS_D + 1) // 2}] AS estimate
            FROM probes p
            JOIN sketch sk ON sk.seed = p.seed AND sk.bucket = p.bucket
            GROUP BY 1, 2
        )
        SELECT est.token,
               CAST(est.exact_count AS BIGINT) AS exact_count,
               CAST(est.estimate AS BIGINT) AS estimate,
               (ABS(est.estimate - est.exact_count)
                   <= 3 * sqrt(CAST(f2.f2 AS DOUBLE) / {_CS_W})) AS within_bound
        FROM est, f2
    """,
)
def count_sketch_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch point estimates for the top-{_CS_TOPK} tokens — the
    two-sided-error member of the heavy-hitter family: CMS only ever
    OVERcounts (min of one-sided rows), Misra-Gries keeps candidates not
    magnitudes; Count-Sketch's signed buckets make every row's
    g(t)·C[s,h(t)] an UNBIASED estimate (colliders cancel in expectation),
    and the median over d={_CS_D} odd rows is a pure integer — so unlike
    both siblings it also estimates frequencies accurately for items
    SLIGHTLY below the heavy tail, which is why it is the primitive inside
    frequent-directions and many streaming-regression sketches.

    Scale shape identical to CMS: the sketch is d·w = {_CS_D * _CS_W}
    integer cells built with map-side combine (per-partition pre-aggregation
    ships ≤ d·w rows regardless of corpus size) and merged by plain SUM —
    fully mergeable across partitions, days, tables. The exact counts and
    F₂ exist only to anchor the contract (pick the deterministic top-k and
    check |est − exact| ≤ 3·√(F₂/w), the Charikar-Chen-Farach-Colton
    bound); production point queries read the sketch alone. Both the
    estimate AND the bound flag sit inside the value hash, computed
    IDENTICALLY on both engines (exact integer sums; one sqrt of an
    int64-exact double), so a hash-function or merge regression fails
    CORRECTNESS rather than drifting silently."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    sketch = count_sketch(tok)

    cnt = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    f2 = cnt.agg(F.sum(F.col("exact_count") * F.col("exact_count")).alias("f2"))
    top = cnt.orderBy(F.desc("exact_count"), "token").limit(_CS_TOPK)
    probes = top.select(
        "token",
        "exact_count",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seed"), *_cs_cell(F.col("token"), s))
                for s in range(_CS_D)
            ])
        ).alias("cell"),
    ).select("token", "exact_count", "cell.seed", "cell.bucket", "cell.sign")
    est = (
        sketch.join(F.broadcast(probes), ["seed", "bucket"])
        .groupBy("token", "exact_count")
        .agg(
            F.element_at(
                F.sort_array(F.collect_list(F.col("sign") * F.col("cell_sum"))),
                (_CS_D + 1) // 2,
            ).alias("estimate")
        )
    )
    return est.crossJoin(F.broadcast(f2)).select(
        "token",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.col("estimate").cast("bigint").alias("estimate"),
        (
            F.abs(F.col("estimate") - F.col("exact_count"))
            <= F.lit(3) * F.sqrt(F.col("f2").cast("double") / _CS_W)
        ).alias("within_bound"),
    )


#: HyperLogLog geometry for the registered query: m=64 buckets (6-bit
#: bucket index from the md5 head), rho from the next 52 hash bits.
#: alpha_64 = 0.7213/(1 + 1.079/64), pinned as a literal so both engines
#: multiply the same double.
_HLL_M = 64
_HLL_ALPHA = 0.709
#: Harmonic-mean terms are summed as exact integers 2^(62-rho) in
#: DECIMAL(38,0) — dyadic doubles 2^-rho would need >53 mantissa bits to
#: sum exactly, so the sum would be partition-order-dependent.
_HLL_SCALE = 62


@register(
    "hll_distinct_custkeys",
    doc="HyperLogLog distinct-count sketch built from first principles "
    "(md5 bucket/rho registers, exact-integer harmonic mean) with its "
    "measured error against the exact distinct count in the same row",
    tags=("bcast-const",),
    oracle=f"""
        WITH h AS (
            SELECT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
        ), br AS (
            SELECT CAST('0x' || substr(hx, 1, 2) AS BIGINT) // 4 AS bucket,
                   CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
                        ELSE 53 - LENGTH(bin(CAST('0x' || substr(hx, 3, 13) AS BIGINT)))
                   END AS rho
            FROM h
        ), reg AS (
            SELECT g.bucket, COALESCE(MAX(br.rho), 0) AS r
            FROM (SELECT unnest(range({_HLL_M})) AS bucket) g
            LEFT JOIN br ON br.bucket = g.bucket
            GROUP BY g.bucket
        ), s AS (
            SELECT SUM(CAST(POWER(2, {_HLL_SCALE} - r) AS DECIMAL(38,0))) AS sumint
            FROM reg
        ), ex AS (
            SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders
        )
        SELECT ex.n_exact,
               (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                   / CAST(s.sumint AS DOUBLE) AS hll_estimate,
               ABS((({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                   / CAST(s.sumint AS DOUBLE) - ex.n_exact) / ex.n_exact AS rel_error
        FROM ex, s
    """,
)
def hll_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable distinct-count sketch at 100 TB: per-partition HLL
    registers combine with a MAX — one map-side pass plus a 64-row
    aggregate, no shuffle of the data, and registers from different days /
    tables union losslessly (the property approx_count_distinct uses
    internally; built here from first principles so the whole computation
    sits inside the value hash, unlike Spark's opaque HLL++ binary).

    Determinism: bucket = md5 head (6 bits), rho = leading-zero count of
    the next 52 bits via pure integer/string ops (53 − bit_length, no
    float log); the harmonic mean sums exact integers 2^(62−rho) in
    DECIMAL(38,0) (order-independent), and the final estimate is one fixed
    left-assoc double chain — bit-identical across engines, so the sketch's
    measured relative error vs the exact COUNT(DISTINCT) is certified per
    run, the same contract as minhash_estimate_accuracy."""
    orders = spread(t(spark, sf_dir, "orders"), key="o_orderkey")
    hx = F.md5(F.col("o_custkey").cast("string"))
    head = F.conv(F.substring(hx, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(hx, 3, 13), 16, 10).cast("long")
    br = orders.select(
        F.shiftright(head, 2).alias("bucket"),
        F.when(v == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(v)))
        .alias("rho"),
    )
    reg = (
        spark.range(_HLL_M)
        .select(F.col("id").alias("bucket"))
        .join(br.groupBy("bucket").agg(F.max("rho").alias("mx")), "bucket", "left")
        .select(F.coalesce("mx", F.lit(0)).alias("r"))
    )
    s = reg.agg(
        F.sum(F.pow(F.lit(2.0), F.lit(_HLL_SCALE) - F.col("r")).cast("decimal(38,0)")).alias(
            "sumint"
        )
    )
    ex = orders.agg(F.countDistinct("o_custkey").alias("n_exact"))
    est = (
        (F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M))) * F.lit(float(2**_HLL_SCALE))
    ) / F.col("sumint").cast("double")
    return (
        ex.crossJoin(s)
        .select(
            "n_exact",
            est.alias("hll_estimate"),
            (F.abs(est - F.col("n_exact")) / F.col("n_exact")).alias("rel_error"),
        )
    )


@register(
    "hll_jaccard_yearly_customers",
    doc="set-overlap estimation from merged HyperLogLog sketches: per-year "
    "customer registers union with an elementwise MAX, and "
    "inclusion-exclusion yields |A∩B| / Jaccard without ever co-shuffling "
    "the two sets — the mergeability property that makes sketch-based "
    "overlap audits (corpus-vs-corpus contamination, day-over-day churn) "
    "one register-sized exchange at 100 TB",
    tags=("bcast-const",),
    oracle=f"""
        WITH br AS (
            SELECT EXTRACT(YEAR FROM o_orderdate) AS tag,
                   CAST('0x' || substr(hx, 1, 2) AS BIGINT) // 4 AS bucket,
                   CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
                        ELSE 53 - LENGTH(bin(CAST('0x' || substr(hx, 3, 13) AS BIGINT)))
                   END AS rho
            FROM (
                SELECT o_orderdate, md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders
                WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
            )
        ), reg AS (
            SELECT g.tag, g.bucket, COALESCE(MAX(br.rho), 0) AS r
            FROM (SELECT t.tag, b.bucket
                  FROM (VALUES (1996), (1997)) t(tag),
                       (SELECT unnest(range({_HLL_M})) AS bucket) b) g
            LEFT JOIN br ON br.tag = g.tag AND br.bucket = g.bucket
            GROUP BY g.tag, g.bucket
        ), s AS (
            SELECT tag, SUM(CAST(POWER(2, {_HLL_SCALE} - r) AS DECIMAL(38,0))) AS sumint
            FROM reg GROUP BY tag
        ), su AS (
            SELECT SUM(CAST(POWER(2, {_HLL_SCALE} - r) AS DECIMAL(38,0))) AS sumint
            FROM (SELECT bucket, MAX(r) AS r FROM reg GROUP BY bucket)
        ), est AS (
            SELECT (SELECT (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                        / CAST(sumint AS DOUBLE) FROM s WHERE tag = 1996) AS est_a,
                   (SELECT (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                        / CAST(sumint AS DOUBLE) FROM s WHERE tag = 1997) AS est_b,
                   (SELECT (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                        / CAST(sumint AS DOUBLE) FROM su) AS est_u
        ), ex AS (
            SELECT CAST(COUNT(DISTINCT CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1996
                                            THEN o_custkey END) AS BIGINT) AS n_a,
                   CAST(COUNT(DISTINCT CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1997
                                            THEN o_custkey END) AS BIGINT) AS n_b,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_union
            FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
        )
        SELECT ex.n_a, ex.n_b, ex.n_union,
               CAST((ex.n_a + ex.n_b) - ex.n_union AS DOUBLE)
                   / CAST(ex.n_union AS DOUBLE) AS jaccard_exact,
               est.est_a, est.est_b, est.est_u AS est_union,
               ((est.est_a + est.est_b) - est.est_u) / est.est_u AS jaccard_est,
               ABS(est.est_u - ex.n_union) / CAST(ex.n_union AS DOUBLE)
                   AS union_rel_error
        FROM ex, est
    """,
)
def hll_jaccard_yearly_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard overlap of the 1996 vs 1997 customer sets from HLL registers
    alone: one hashed map pass builds per-year registers, the union sketch
    is an elementwise ``MAX`` of the two register vectors (lossless — the
    defining HLL merge identity), and inclusion-exclusion recovers the
    intersection estimate. The exact counts ride along only to certify the
    estimates inside the value hash (same contract as
    ``hll_distinct_custkeys``: every double here is a fixed left-assoc
    chain over an order-independent exact-integer harmonic sum, so the
    sketch computation itself is what the oracle pins, not a tolerance).

    At 100 TB the production shape is: each corpus/day/shard aggregates to
    a 64-slot register vector map-side; overlap questions between ANY pair
    of sets are then answered from register vectors alone — no re-scan, no
    distinct-value shuffle, no co-partitioned join of the raw sets."""
    orders = spread(t(spark, sf_dir, "orders"), key="o_orderkey")
    yr = F.year("o_orderdate")
    src = orders.filter(yr.isin(1996, 1997)).select(
        yr.alias("tag"), F.md5(F.col("o_custkey").cast("string")).alias("hx")
    )
    head = F.conv(F.substring("hx", 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring("hx", 3, 13), 16, 10).cast("long")
    br = src.select(
        "tag",
        F.shiftright(head, 2).alias("bucket"),
        F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v))).alias("rho"),
    )
    grid = (
        spark.range(_HLL_M)
        .select(F.col("id").alias("bucket"))
        .crossJoin(spark.createDataFrame([(1996,), (1997,)], "tag int"))
    )
    reg = (
        grid.join(br.groupBy("tag", "bucket").agg(F.max("rho").alias("mx")),
                  ["tag", "bucket"], "left")
        .select("tag", "bucket", F.coalesce("mx", F.lit(0)).alias("r"))
    )
    term = F.pow(F.lit(2.0), F.lit(_HLL_SCALE) - F.col("r")).cast("decimal(38,0)")
    s = reg.groupBy("tag").agg(F.sum(term).alias("sumint"))
    su = (
        reg.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .agg(F.sum(term).alias("sumint"))
    )

    def est(sumint: F.Column) -> F.Column:
        return (
            (F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M)))
            * F.lit(float(2**_HLL_SCALE))
        ) / sumint.cast("double")

    est_ab = (
        s.groupBy()
        .pivot("tag", [1996, 1997])
        .agg(F.first("sumint"))
        .select(est(F.col("1996")).alias("est_a"), est(F.col("1997")).alias("est_b"))
    )
    est_u = su.select(est(F.col("sumint")).alias("est_u"))
    ex = src.groupBy().agg(
        F.countDistinct(F.when(F.col("tag") == 1996, F.col("hx"))).alias("n_a"),
        F.countDistinct(F.when(F.col("tag") == 1997, F.col("hx"))).alias("n_b"),
        F.countDistinct("hx").alias("n_union"),
    )
    return (
        ex.crossJoin(F.broadcast(est_ab))
        .crossJoin(F.broadcast(est_u))
        .select(
            "n_a",
            "n_b",
            "n_union",
            (
                (F.col("n_a") + F.col("n_b") - F.col("n_union")).cast("double")
                / F.col("n_union").cast("double")
            ).alias("jaccard_exact"),
            "est_a",
            "est_b",
            F.col("est_u").alias("est_union"),
            (((F.col("est_a") + F.col("est_b")) - F.col("est_u")) / F.col("est_u")).alias(
                "jaccard_est"
            ),
            (
                F.abs(F.col("est_u") - F.col("n_union").cast("double"))
                / F.col("n_union").cast("double")
            ).alias("union_rel_error"),
        )
    )


#: KMV/theta sketch size. 2^52 = 16^13 is the hash-value range (13 md5 hex
#: digits), so normalized θ = v/2^52 never needs a float until the final
#: estimate chain.
_KMV_K = 64
_KMV_RANGE = float(2**52)


@register(
    "kmv_theta_custkey_overlap",
    doc="KMV (k-minimum-values) / theta sketch from first principles: "
    "distinct-count, union AND intersection estimates over the yearly "
    "customer sets — the sketch set-algebra HyperLogLog cannot do "
    "(inclusion-exclusion-free intersection), exact counts certified in "
    "the same row",
    tags=("bcast-const",),
    oracle=f"""
        WITH src AS MATERIALIZED (
            SELECT DISTINCT EXTRACT(YEAR FROM o_orderdate) AS tag,
                   CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)
                        AS BIGINT) AS v
            FROM orders
            WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
        ),
        ska AS MATERIALIZED (
            SELECT v FROM src WHERE tag = 1996 ORDER BY v LIMIT {_KMV_K}
        ),
        skb AS MATERIALIZED (
            SELECT v FROM src WHERE tag = 1997 ORDER BY v LIMIT {_KMV_K}
        ),
        sku AS (
            SELECT DISTINCT v FROM (SELECT v FROM ska UNION ALL SELECT v FROM skb)
            ORDER BY v LIMIT {_KMV_K}
        ),
        th AS (
            SELECT (SELECT MAX(v) FROM ska) AS ta,
                   (SELECT MAX(v) FROM skb) AS tb,
                   (SELECT MAX(v) FROM sku) AS tu
        ),
        m AS (
            SELECT COUNT(*) AS n_match
            FROM ska JOIN skb USING (v), th
            WHERE ska.v < LEAST(th.ta, th.tb)
        ),
        ex AS (
            SELECT CAST(COUNT(DISTINCT CASE WHEN tag = 1996 THEN v END) AS BIGINT) AS n_a,
                   CAST(COUNT(DISTINCT CASE WHEN tag = 1997 THEN v END) AS BIGINT) AS n_b,
                   CAST(COUNT(DISTINCT v) AS BIGINT) AS n_union
            FROM src
        ),
        exi AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_inter FROM (
                SELECT v FROM src WHERE tag = 1996
                INTERSECT
                SELECT v FROM src WHERE tag = 1997
            )
        )
        SELECT ex.n_a, ex.n_b, ex.n_union, exi.n_inter,
               (CAST({_KMV_K - 1} AS DOUBLE) * CAST({2**52} AS DOUBLE))
                   / CAST(th.ta AS DOUBLE) AS est_a,
               (CAST({_KMV_K - 1} AS DOUBLE) * CAST({2**52} AS DOUBLE))
                   / CAST(th.tb AS DOUBLE) AS est_b,
               (CAST({_KMV_K - 1} AS DOUBLE) * CAST({2**52} AS DOUBLE))
                   / CAST(th.tu AS DOUBLE) AS est_union,
               (CAST(m.n_match AS DOUBLE) * CAST({2**52} AS DOUBLE))
                   / CAST(LEAST(th.ta, th.tb) AS DOUBLE) AS est_inter
        FROM ex, exi, th, m
    """,
)
def kmv_theta_custkey_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta sketches of the 1996 and 1997 customer sets with full set
    algebra: each sketch is the k smallest distinct 52-bit hash values
    (θ = the k-th), n̂ = (k−1)·2⁵²/θ; the union sketch is the k smallest of
    the merged value sets (lossless KMV merge); and the intersection is
    estimated theta-style — retained values present in BOTH sketches below
    θ∩ = min(θ_A, θ_B), scaled by the sampling rate θ∩/2⁵². HLL's registers
    destroy membership, so intersections there must go through
    inclusion-exclusion (see hll_jaccard_yearly_customers) whose error
    grows with the union; KMV keeps actual hash samples, making A∩B, A∖B,
    and multi-way overlaps directly estimable — why production systems
    (DataSketches) carry both families.

    Scale/determinism: per-set k-smallest is a distributed sort-limit
    (per-partition top-k, then a k-row merge — no full shuffle); every
    retained value is an exact integer; estimates are fixed double chains
    over integer θ. The exact counts ride along to certify the estimates
    inside the value hash."""
    orders = spread(t(spark, sf_dir, "orders"), key="o_orderkey")
    yr = F.year("o_orderdate")
    src = (
        orders.filter(yr.isin(1996, 1997))
        .select(
            yr.alias("tag"),
            F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 13), 16, 10)
            .cast("long")
            .alias("v"),
        )
        .distinct()
    )
    ska = src.filter(F.col("tag") == 1996).select("v").orderBy("v").limit(_KMV_K)
    skb = src.filter(F.col("tag") == 1997).select("v").orderBy("v").limit(_KMV_K)
    sku = ska.union(skb).distinct().orderBy("v").limit(_KMV_K)
    th = (
        ska.agg(F.max("v").alias("ta"))
        .crossJoin(skb.agg(F.max("v").alias("tb")))
        .crossJoin(sku.agg(F.max("v").alias("tu")))
    )
    m = (
        ska.join(skb, "v")
        .crossJoin(F.broadcast(th))
        .filter(F.col("v") < F.least("ta", "tb"))
        .agg(F.count("*").alias("n_match"))
    )
    ex = src.agg(
        F.countDistinct(F.when(F.col("tag") == 1996, F.col("v"))).alias("n_a"),
        F.countDistinct(F.when(F.col("tag") == 1997, F.col("v"))).alias("n_b"),
        F.countDistinct("v").alias("n_union"),
    )
    exi = (
        src.filter(F.col("tag") == 1996)
        .select("v")
        .join(src.filter(F.col("tag") == 1997).select("v"), "v")
        .agg(F.count("*").alias("n_inter"))
    )
    scale = F.lit((_KMV_K - 1) * 1.0) * F.lit(_KMV_RANGE)
    return (
        ex.crossJoin(F.broadcast(exi))
        .crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(m))
        .select(
            "n_a",
            "n_b",
            "n_union",
            "n_inter",
            (scale / F.col("ta").cast("double")).alias("est_a"),
            (scale / F.col("tb").cast("double")).alias("est_b"),
            (scale / F.col("tu").cast("double")).alias("est_union"),
            (
                (F.col("n_match").cast("double") * F.lit(_KMV_RANGE))
                / F.least("ta", "tb").cast("double")
            ).alias("est_inter"),
        )
    )


# --- AMS (Alon-Matias-Szegedy) F2 / self-join-size sketch -------------------

#: AMS geometry: 32 ±1-sign estimators, median of 4 groups of 8 means.
#: Each estimator X_j = Σ_rows s_j(key) is an exact integer sum (map-side
#: combining, one global 1-row aggregate); X_j² is an unbiased estimate of
#: F2 = Σ_key count(key)² — the self-join size, the quantity a 100 TB
#: optimizer needs to size a self-equi-join without ever shuffling keys.
#: Means divide by 8 (a power of two — exact in binary floating point) and
#: the median of 4 averages the two middle values, so the whole estimate is
#: a fixed arithmetic chain on exact integers: bit-identical cross-engine.
_AMS_K = 32
_AMS_GROUPS = 4
_AMS_PER_GROUP = _AMS_K // _AMS_GROUPS
#: Acceptance bound asserted by the oracle: one mean of 8 estimators has
#: relative std ≤ sqrt(2/8) = 0.5 (Var[X²] ≤ 2·F2²); the median of 4 such
#: means lands within 0.5 unless ≥2 of 4 independent groups deviate —
#: deterministic for the fixed seeds/dataset, so the check cannot flake.
_AMS_BOUND = 0.5


def _ams_sign(key, j: int) -> F.Column:
    """±1 four-universal-style sign for estimator ``j``: parity of the last
    hex digit of md5('ams{j}:'+key). Pure JVM expression chain."""
    h = F.md5(F.concat(F.lit(f"ams{j}:"), key.cast("string")))
    digit = F.conv(F.substring(h, 32, 1), 16, 10).cast("int")
    return F.lit(1) - F.lit(2) * (digit % 2)


def _ams_sign_sql(j: int) -> str:
    return (
        f"(1 - 2 * ((strpos('0123456789abcdef', "
        f"substr(md5('ams{j}:' || CAST(l_partkey AS VARCHAR)), 32, 1)) - 1) % 2))"
    )


@register(
    "ams_f2_selfjoin_size",
    tags=("bcast-const",),
    doc="AMS F2 sketch: self-join size of l_partkey estimated from 32 ±1 "
    "sign sums (median-of-means), certified against the exact Σc² within "
    "the published variance bound",
    oracle=f"""
        WITH x AS (
            SELECT {', '.join(f'SUM({_ams_sign_sql(j)}) AS x{j}' for j in range(_AMS_K))}
            FROM lineitem
        ),
        f2 AS (
            SELECT SUM(c * c) AS exact_f2
            FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)
        ),
        m AS (
            SELECT list_sort([
                {', '.join(
                    '(' + ' + '.join(
                        f'x{g * _AMS_PER_GROUP + i} * x{g * _AMS_PER_GROUP + i}'
                        for i in range(_AMS_PER_GROUP)
                    ) + ') / 8.0'
                    for g in range(_AMS_GROUPS)
                )}
            ]) AS sa FROM x
        )
        SELECT (m.sa[2] + m.sa[3]) / 2 AS estimate_f2,
               CAST(f2.exact_f2 AS BIGINT) AS exact_f2,
               ROUND(ABS((m.sa[2] + m.sa[3]) / 2 - f2.exact_f2) / f2.exact_f2, 9)
                   AS rel_err,
               ABS((m.sa[2] + m.sa[3]) / 2 - f2.exact_f2) / f2.exact_f2
                   <= {_AMS_BOUND} AS within_bound
        FROM m, f2
    """,
)
def ams_f2_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment (F2) estimation — the AMS tug-of-war sketch (Alon,
    Matias & Szegedy 1996). F2 = Σ_key count(key)² is the self-join size:
    exactly what a join planner wants before committing to a self-join on
    a 100 TB fact table, and the exact computation needs a full
    groupBy(key) shuffle. The sketch needs ONE map-side pass: every row
    adds its ±1 hash-sign to 32 running sums (all partial-aggregated, the
    reduce fan-in is 32 integers), X_j² is unbiased for F2, and
    median-of-means (4 groups × 8) tames the variance. The exact Σc²
    twin exists to certify the estimate inside the published
    sqrt(2/m)-relative-error bound (``within_bound`` joins the value
    hash); production callers read ``estimate_f2`` alone and never
    shuffle keys. The final 1-row × 1-row crossJoin is broadcast-constant
    (hence the bcast-const tag)."""
    li = t(spark, sf_dir, "lineitem")
    key = F.col("l_partkey")
    x = li.agg(
        *[F.sum(_ams_sign(key, j)).alias(f"x{j}") for j in range(_AMS_K)]
    )
    means = F.array_sort(
        F.array(*[
            sum(
                (F.col(f"x{g * _AMS_PER_GROUP + i}") * F.col(f"x{g * _AMS_PER_GROUP + i}")
                 for i in range(1, _AMS_PER_GROUP)),
                F.col(f"x{g * _AMS_PER_GROUP}") * F.col(f"x{g * _AMS_PER_GROUP}"),
            ).cast("double") / F.lit(8.0)
            for g in range(_AMS_GROUPS)
        ])
    )
    est = x.select(
        ((F.element_at(means, 2) + F.element_at(means, 3)) / F.lit(2.0)).alias(
            "estimate_f2"
        )
    )
    f2 = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    err = F.abs(F.col("estimate_f2") - F.col("exact_f2")) / F.col("exact_f2")
    return (
        est.crossJoin(F.broadcast(f2))
        .select(
            "estimate_f2",
            F.col("exact_f2").cast("bigint").alias("exact_f2"),
            F.round(err, 9).alias("rel_err"),
            (err <= F.lit(_AMS_BOUND)).alias("within_bound"),
        )
    )


# --- Rolling-window distinct counts from merged HLL registers ---------------

_ROLL_DAYS = 7
#: Acceptance bound: 3 × the HLL standard error 1.04/√m (m = 64) ≈ 0.39 —
#: deterministic for fixed hashes/data, same contract as hll_distinct_custkeys.
_ROLL_BOUND = 3 * 1.04 / 8.0


@register(
    "rolling_distinct_users_hll",
    tags=("bcast-const",),
    doc="rolling 7-day distinct users per day from DAILY HLL registers "
    "merged by MAX — the sketch-algebra path that never re-scans history",
    oracle=f"""
        WITH ev AS (
            SELECT user_id,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                        AS BIGINT) // 4 AS bucket,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 13)
                        AS BIGINT) AS v
            FROM events
        ),
        days AS (SELECT DISTINCT dn FROM ev),
        win AS (
            SELECT e.user_id, e.dn + u.i AS rdn, e.bucket,
                   CASE WHEN e.v = 0 THEN 53
                        ELSE 53 - LENGTH(bin(e.v)) END AS rho
            FROM ev e, LATERAL (SELECT unnest(range({_ROLL_DAYS})) AS i) u
            JOIN days d ON d.dn = e.dn + u.i
        ),
        reg AS (
            SELECT g.rdn, g.bucket, COALESCE(MAX(w.rho), 0) AS r
            FROM (SELECT d.dn AS rdn, b.bucket
                  FROM days d, (SELECT unnest(range({_HLL_M})) AS bucket) b) g
            LEFT JOIN win w ON w.rdn = g.rdn AND w.bucket = g.bucket
            GROUP BY g.rdn, g.bucket
        ),
        est AS (
            SELECT rdn,
                   (({_HLL_ALPHA} * {_HLL_M * _HLL_M}) * POWER(2, {_HLL_SCALE}))
                       / CAST(SUM(CAST(POWER(2, {_HLL_SCALE} - r) AS DECIMAL(38,0)))
                              AS DOUBLE) AS hll_estimate
            FROM reg GROUP BY rdn
        ),
        ex AS (
            SELECT rdn, COUNT(DISTINCT user_id) AS n_exact FROM win GROUP BY rdn
        )
        SELECT strftime(DATE '1970-01-01' + INTERVAL (ex.rdn) DAY,
                        '%Y-%m-%d') AS day,
               CAST(ex.n_exact AS BIGINT) AS n_exact,
               est.hll_estimate,
               ABS(est.hll_estimate - ex.n_exact) / ex.n_exact AS rel_error,
               ABS(est.hll_estimate - ex.n_exact) / ex.n_exact
                   <= {_ROLL_BOUND} AS within_bound
        FROM ex JOIN est ON est.rdn = ex.rdn
    """,
)
def rolling_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day unique users per day — the metric every growth
    dashboard wants, and the one COUNT(DISTINCT) cannot give at 100 TB
    without re-scanning a week of raw events per day. The sketch path:
    daily HLL registers (64 buckets, built map-side) merge across the
    window with an elementwise MAX — the HLL union property — so history
    is never re-read; here the window merge materializes by fanning each
    event's registers to the ≤7 report days they influence (one explode,
    linear) and MAX-aggregating per (day, bucket). The exact twin rides
    the same fan-out relation, and the published 3σ bound joins the value
    hash (``within_bound``), the sketches-family contract.

    Determinism: identical md5 bucket/rho integer derivations as
    hll_distinct_custkeys; harmonic terms sum as exact DECIMAL integers;
    the estimate is one fixed double chain."""
    ev = spread(t(spark, sf_dir, "events"), key="event_id")
    hx = F.md5(F.col("user_id").cast("string"))
    head = F.conv(F.substring(hx, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(hx, 3, 13), 16, 10).cast("long")
    base = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("dn"),
        F.shiftright(head, 2).alias("bucket"),
        F.when(v == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(v)))
        .alias("rho"),
    )
    from songs_etl_spark.plans._util import track_persist

    days = track_persist(base.select("dn").distinct())
    fan = base.select(
        "user_id", "dn", "bucket", "rho",
        F.explode(F.sequence(F.lit(0), F.lit(_ROLL_DAYS - 1))).alias("i"),
    ).select(
        "user_id", "bucket", "rho", (F.col("dn") + F.col("i")).alias("rdn")
    )
    win = track_persist(
        fan.join(F.broadcast(days.select(F.col("dn").alias("rdn"))), "rdn")
    )
    grid = days.select(F.col("dn").alias("rdn")).crossJoin(
        spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    )
    reg = grid.join(
        win.groupBy("rdn", "bucket").agg(F.max("rho").alias("mx")),
        ["rdn", "bucket"],
        "left",
    ).select("rdn", F.coalesce("mx", F.lit(0)).alias("r"))
    est = reg.groupBy("rdn").agg(
        (
            (F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M)))
            * F.lit(float(2**_HLL_SCALE))
            / F.sum(
                F.pow(F.lit(2.0), F.lit(_HLL_SCALE) - F.col("r")).cast("decimal(38,0)")
            ).cast("double")
        ).alias("hll_estimate")
    )
    ex = win.groupBy("rdn").agg(F.count_distinct("user_id").alias("n_exact"))
    err = F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact")
    return ex.join(est, "rdn").select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("rdn").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        "hll_estimate",
        err.alias("rel_error"),
        (err <= F.lit(_ROLL_BOUND)).alias("within_bound"),
    )


#: Misra-Gries summary width: per-batch summaries keep at most _MG_K
#: counters, and the merged estimate's deterministic error bound is
#: n/(_MG_K+1). The registered query reports exactly the tokens whose true
#: frequency exceeds that bound.
_MG_K = 64


def misra_gries_summaries(tok: DataFrame) -> DataFrame:
    """Per-Arrow-batch Misra-Gries(k) summaries over a ``token`` stream —
    the deterministic heavy-hitter counterpart of the Count-Min sketch
    (no hash collisions, one-sided error).

    For a *static* batch, the MG summary has a closed form: decrement every
    token's count by the (k+1)-st largest batch count and keep the strictly
    positive remainder (equivalent to running the classic k-counter
    decrement algorithm to completion). That is a vectorized
    ``value_counts`` + offset per batch — no per-row Python loop — and each
    batch emits ≤ k ``(token, mg_count)`` rows regardless of batch
    vocabulary. Summaries merge by plain per-token SUM (Agarwal et al.,
    "Mergeable Summaries", PODS'12): the merged estimate e(x) satisfies
    ``true(x) − n/(k+1) ≤ e(x) ≤ true(x)``, because each batch's offset is
    at most m_b/(k+1) and offsets are only ever subtracted.

    At 100 TB this is the point: the full vocabulary is never shuffled —
    executors ship ≤ k rows per Arrow batch, the merge is an ordinary
    map-side-combinable SUM, and every global heavy hitter is guaranteed
    present in the merged summary (if true(x) > n/(k+1), some batch had
    count_b(x) > m_b/(k+1) ≥ its offset, so x survives somewhere)."""
    import pandas as pd

    k = _MG_K

    def run(batches):
        for pdf in batches:
            vc = pdf["token"].value_counts()
            offset = int(vc.iloc[k]) if len(vc) > k else 0
            kept = vc[vc > offset] - offset
            yield pd.DataFrame(
                {"token": kept.index.astype(str), "mg_count": kept.to_numpy()}
            )

    return (
        tok.mapInPandas(run, "token string, mg_count bigint")
        .groupBy("token")
        .agg(F.sum("mg_count").alias("mg_estimate"))
    )


@register(
    "misra_gries_heavy_tokens",
    tags=("bcast-const",),
    doc="Misra-Gries mergeable heavy-hitter summaries + exact verify pass: "
    "all tokens with frequency > n/(k+1), their exact counts, and the "
    "deterministic MG error bound asserted per row",
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_DUCKDB_TOKENS}) AS token FROM documents
        )
        SELECT token,
               COUNT(*) AS exact_count,
               TRUE AS within_bound
        FROM tok
        GROUP BY token
        HAVING COUNT(*) * {_MG_K + 1} > (SELECT COUNT(*) FROM tok)
    """,
)
def misra_gries_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters via the two-pass Misra-Gries pipeline: pass 1
    builds per-batch MG(k) summaries and merges them (a guaranteed superset
    of every token with count > n/(k+1) — see
    :func:`misra_gries_summaries`); pass 2 exact-counts ONLY the candidate
    tokens (broadcast semi-join, the candidate set is ≤ k rows per batch
    merged) and keeps those above the threshold. ``within_bound`` asserts
    the merged MG estimate obeys its published deterministic envelope
    ``exact − n/(k+1) ≤ estimate ≤ exact`` in exact integer arithmetic
    (``(k+1)·estimate ≥ (k+1)·exact − n``); a drifting summary fails the
    value hash. Unlike Count-Min (hash collisions → two-sided probabilistic
    bound), MG's bound is deterministic and one-sided — the classic
    trade-off between the two heavy-hitter sketches.

    The merged summary is PERSISTED before its two consumers (candidate
    semi-join + estimate join): the plan references it twice, and an
    un-persisted ``merged`` re-ran the corpus-sized mapInPandas MG pass
    once per reference. The candidate set is bounded by ``batches × k``
    rows (≤ k per Arrow batch), NOT a constant — it grows with input
    partition count, so the broadcast hint is a size claim about the
    deployment's batch count; AQE may demote it at extreme partition
    counts, which is fine (the join keys stay equi)."""
    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    merged = track_persist(misra_gries_summaries(tok))

    exact = (
        tok.join(F.broadcast(merged.select("token")), "token")
        .groupBy("token")
        .agg(F.count("*").alias("exact_count"))
    )
    total = tok.agg(F.count("*").alias("n_total"))
    kp1 = F.lit(_MG_K + 1)
    return (
        exact.join(F.broadcast(merged), "token")
        .crossJoin(F.broadcast(total))
        .filter(F.col("exact_count") * kp1 > F.col("n_total"))
        .select(
            "token",
            "exact_count",
            (
                (F.col("mg_estimate") <= F.col("exact_count"))
                & (
                    F.col("mg_estimate") * kp1
                    >= F.col("exact_count") * kp1 - F.col("n_total")
                )
            ).alias("within_bound"),
        )
    )


def _cf_coeffs(z: float) -> tuple[float, float, float, float]:
    """Cornish-Fisher expansion coefficients for normal quantile ``z``:
    w = z + c1·g1 + c2·g2 + c3·g1² (third-order, the standard form). The
    coefficients are folded to Python floats ONCE and inlined as literals on
    both engines, so the per-group arithmetic is the identical IEEE
    expression tree."""
    return (
        z,
        (z * z - 1.0) / 6.0,
        (z * z * z - 3.0 * z) / 24.0,
        -(2.0 * z * z * z - 5.0 * z) / 36.0,
    )


#: Normal quantiles for the three reported percentiles.
_MOM_Z = {"q50": 0.0, "q90": 1.2815515655446004, "q99": 2.3263478740408408}


def _moments_sql_quantile(tag: str) -> str:
    """DuckDB expression mirroring the Spark Cornish-Fisher estimate."""
    a, c1, c2, c3 = _cf_coeffs(_MOM_Z[tag])
    return (
        f"CAST(FLOOR((m1 + std*({a!r} + {c1!r}*g1 + {c2!r}*g2 + {c3!r}*g1*g1))"
        f" * 100.0) AS BIGINT) AS {tag}_micros"
    )


@register(
    "moments_sketch_quantiles",
    doc="Moments sketch (Gan et al., VLDB'18 shape): O(1) mergeable power "
    "sums per group in exact integer units, Cornish-Fisher p50/p90/p99 "
    "estimates derived by identical closed-form arithmetic on both engines",
    oracle=f"""
        WITH x AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS v
            FROM events
        ), s AS (
            SELECT event_type, COUNT(*) AS n,
                   SUM(v) AS s1, SUM(v*v) AS s2,
                   SUM(v*v*v) AS s3, SUM(v*v*v*v) AS s4
            FROM x GROUP BY event_type
        ), d AS (
            SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
                   CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
                   CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2,
                   CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS d3,
                   CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS d4
            FROM s
        ), m AS (
            SELECT event_type, n,
                   d1/nd AS m1, d2/nd AS r2, d3/nd AS r3, d4/nd AS r4
            FROM d
        ), c AS (
            SELECT event_type, n, m1,
                   r2 - m1*m1 AS m2,
                   r3 - 3.0*m1*r2 + 2.0*m1*m1*m1 AS m3,
                   r4 - 4.0*m1*r3 + 6.0*m1*m1*r2 - 3.0*m1*m1*m1*m1 AS m4
            FROM m
        ), g AS (
            SELECT event_type, n, m1, SQRT(m2) AS std,
                   m3/(m2*SQRT(m2)) AS g1,
                   m4/(m2*m2) - 3.0 AS g2
            FROM c
        )
        SELECT event_type,
               n AS n_events,
               CAST(FLOOR(m1 * 100.0) AS BIGINT) AS mean_micros,
               CAST(FLOOR(std * 100.0) AS BIGINT) AS std_micros,
               CAST(FLOOR(g1 * 1000000000.0) AS BIGINT) AS skew_nano,
               CAST(FLOOR(g2 * 1000000000.0) AS BIGINT) AS kurt_nano,
               {_moments_sql_quantile("q50")},
               {_moments_sql_quantile("q90")},
               {_moments_sql_quantile("q99")}
        FROM g
    """,
)
def moments_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates from the *moments sketch*: the only
    per-group state is (n, Σx, Σx², Σx³, Σx⁴) — five mergeable sums that
    combine map-side and occupy O(1) bytes per group regardless of group
    size, vs the O(1/ε) centroids a GK/t-digest keeps. The sums are taken
    over exact integer ten-thousandths in DECIMAL(38,0) (order-independent;
    Σx⁴ ≤ 5.8·10²⁶ per row, well inside 38 digits at any test SF), so both
    engines start from bit-identical integers; mean/std/skew/kurtosis and
    the third-order Cornish-Fisher p50/p90/p99 expansions are then the same
    closed-form IEEE expression tree on both sides, emitted as floored
    integer micro-units. At 100 TB this is the cheapest quantile summary
    that still merges associatively — one narrow groupBy, no value
    shuffle, no per-group sort (the trade-off: CF accuracy degrades on
    far-from-normal tails, which is why the moments-sketch paper solves
    max-entropy instead; the sums, the mergeability, and the plan shape are
    identical)."""
    events = t(spark, sf_dir, "events")
    v = (F.col("value").cast("decimal(18,4)") * 10000).cast("decimal(38,0)")
    x = events.select("event_type", v.alias("v"))
    s = x.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m = s.select("event_type", "n", m1.alias("m1"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    m1c, r2c, r3c, r4c = F.col("m1"), F.col("r2"), F.col("r3"), F.col("r4")
    c = m.select(
        "event_type",
        "n",
        "m1",
        (r2c - m1c * m1c).alias("m2"),
        (r3c - F.lit(3.0) * m1c * r2c + F.lit(2.0) * m1c * m1c * m1c).alias("m3"),
        (
            r4c
            - F.lit(4.0) * m1c * r3c
            + F.lit(6.0) * m1c * m1c * r2c
            - F.lit(3.0) * m1c * m1c * m1c * m1c
        ).alias("m4"),
    )
    m2c, m3c, m4c = F.col("m2"), F.col("m3"), F.col("m4")
    g = c.select(
        "event_type",
        "n",
        "m1",
        F.sqrt(m2c).alias("std"),
        (m3c / (m2c * F.sqrt(m2c))).alias("g1"),
        (m4c / (m2c * m2c) - F.lit(3.0)).alias("g2"),
    )

    def cf(tag: str) -> F.Column:
        a, c1, c2, c3 = _cf_coeffs(_MOM_Z[tag])
        w = (
            F.lit(a)
            + F.lit(c1) * F.col("g1")
            + F.lit(c2) * F.col("g2")
            + F.lit(c3) * F.col("g1") * F.col("g1")
        )
        return F.floor((F.col("m1") + F.col("std") * w) * F.lit(100.0)).alias(
            f"{tag}_micros"
        )

    return g.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.floor(F.col("m1") * F.lit(100.0)).alias("mean_micros"),
        F.floor(F.col("std") * F.lit(100.0)).alias("std_micros"),
        F.floor(F.col("g1") * F.lit(1000000000.0)).alias("skew_nano"),
        F.floor(F.col("g2") * F.lit(1000000000.0)).alias("kurt_nano"),
        cf("q50"),
        cf("q90"),
        cf("q99"),
    )
