"""Random-projection (Johnson–Lindenstrauss) and power-iteration PCA over
the embeddings table — the two classic dimensionality levers of a
100 TB vector pipeline:

* **JL sign projection** (Achlioptas 2003): a data-independent ±1 matrix
  shrinks d=64 vectors to d'=16 while approximately preserving pairwise
  distances. At scale this is the cheapest index-side compression there
  is — no training pass, the projection is a constant that ships in every
  task closure, and candidate generation runs entirely on the short
  vectors. The registered query *certifies* the lever: it ranks neighbors
  in both the original and the projected space and emits per-query
  recall@k, the number a capacity-planning engineer actually needs.

* **Power-iteration PCA**: the top principal component extracted with the
  same driver-model/distributed-data split as Lloyd's k-means
  (operators/clustering.py): the d×d second-moment matrix is an
  associative integer aggregate (one Arrow map pass of per-partition
  partial Gram matrices — model-sized, shuffle-free), the d-vector
  iterate lives on the driver, and the final per-vector projection is a
  JVM fold. PCA/whitening is the standard preprocessing step before
  OPQ/PQ indexing and embedding drift audits.

Exactness discipline (see plans/registry.py): vector components quantize
to integers up front, so *every* distributed sum here is an exact integer
aggregate (partition-order-independent); the only float arithmetic is
fixed left-associative fold chains replayed verbatim by the unrolled
DuckDB oracles — distances and recalls are therefore bit-identical across
engines, not merely close.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from songs_etl_spark.plans._util import spread, t
from songs_etl_spark.plans.registry import register
from songs_etl_spark.plans.similarity import _DUCK_COS

#: JL geometry: d=64 → d'=16 sign-projection, 8 query vectors, recall@10.
_JL_D = 64
_JL_DP = 16
_JL_NQ = 8
_JL_K = 10

#: Micro-unit quantization (same as operators/clustering.quantize_micro,
#: kept as BIGINT here because every downstream op is integer arithmetic).
_Q_SCALE = 1_000_000


def _jl_sign(k: int, j: int) -> int:
    """±1 from the md5 parity of the string ``"{k}-{j}"`` — the same
    derivation the SQL oracle performs with ``md5(k || '-' || j)``, so the
    projection matrix is a shared cross-engine constant, not a seed."""
    return 1 if int(hashlib.md5(f"{k}-{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


def _quant_long(col: str) -> F.Column:
    return F.transform(col, lambda x: F.floor(x.cast("double") * _Q_SCALE).cast("long"))


def _int_d2(a: str, b: str) -> F.Column:
    """Exact-integer squared L2 between two BIGINT arrays (order-free)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_DUCK_INT_D2 = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])),"
    " (acc, x) -> acc + x)"
)


def _int_topk(df: DataFrame, col: str, nq: int, k: int) -> DataFrame:
    """Exact-integer top-k per query over a BIGINT-array column: broadcast
    the nq-row query side, scan candidates map-side (ann_bruteforce_topk's
    plan), rank by (d2, neighbor_id) — integer ties, fully deterministic."""
    q = df.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col(col).alias("qv")
    )
    c = spread(
        df.filter(F.col("vec_id") >= nq).select(
            F.col("vec_id").alias("neighbor_id"), F.col(col).alias("cv")
        ),
        key="neighbor_id",
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        F.broadcast(q)
        .crossJoin(c)
        .select("query_id", "neighbor_id", _int_d2("qv", "cv").alias("d2"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )


def _recall_vs_exact(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query (hits, recall@k) of an approximate neighbor set against
    the exact one — left join on (query, neighbor), count survivors."""
    approx = approx.withColumnRenamed("neighbor_id", "a_neighbor_id")
    return (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").alias("hits"),
            (F.count("a_neighbor_id").cast("double") / k).alias("recall_at_k"),
        )
    )


@register(
    "jl_random_projection_recall",
    doc="Johnson-Lindenstrauss ±1 sign projection d=64→16 with per-query "
    "recall@10 against exact nearest neighbors — the certification run for "
    "projection-based candidate generation, computed entirely in exact "
    "integer arithmetic",
    tags=("bcast-const",),
    oracle=f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT)) AS q
            FROM embeddings
        ), signs AS (
            SELECT k.k, j.j,
                   CASE WHEN CAST('0x' || substr(
                            md5(CAST(k.k AS VARCHAR) || '-' || CAST(j.j AS VARCHAR)),
                            1, 1) AS INTEGER) % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM (SELECT unnest(range({_JL_DP})) AS k) k,
                 (SELECT unnest(range({_JL_D})) AS j) j
        ), proj AS (
            SELECT v.vec_id, s.k, SUM(s.s * v.q[s.j + 1]) AS yk
            FROM v, signs s
            GROUP BY v.vec_id, s.k
        ), y AS (
            SELECT vec_id, list(yk ORDER BY k) AS y FROM proj GROUP BY vec_id
        ), exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_DUCK_INT_D2.format(a='q.q', b='c.q')}, c.vec_id
                       ) AS rnk
                FROM v q JOIN v c ON q.vec_id < {_JL_NQ} AND c.vec_id >= {_JL_NQ}
            ) WHERE rnk <= {_JL_K}
        ), approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_DUCK_INT_D2.format(a='q.y', b='c.y')}, c.vec_id
                       ) AS rnk
                FROM y q JOIN y c ON q.vec_id < {_JL_NQ} AND c.vec_id >= {_JL_NQ}
            ) WHERE rnk <= {_JL_K}
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
               CAST(COUNT(a.neighbor_id) AS DOUBLE) / {_JL_K} AS recall_at_k
        FROM exact e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
)
def jl_random_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of JL-projected candidate ranking vs exact ranking, per
    query vector. Both rankings run in exact integer arithmetic (micro-unit
    quantized components; the ±1 projection of integers is an integer), so
    there is no float anywhere — distances, ranks, and recalls are exact
    and the oracle pins them to the digit.

    Scale shape: the sign matrix is a d'×d constant folded into the plan
    (zero training, zero state); projection is a per-row JVM fold (one map
    pass, no shuffle); both rankings broadcast the 8-row query side and
    scan candidates map-side with a per-partition top-k, the
    ann_bruteforce_topk plan. At 100 TB the projected ranking touches 4×
    fewer bytes per candidate — the certified recall is the price tag of
    that saving."""
    emb = t(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _quant_long("embedding").alias("q"))
    sign_arrays = [
        F.array(*[F.lit(_jl_sign(k, j)).cast("long") for j in range(_JL_D)])
        for k in range(_JL_DP)
    ]
    y = v.select(
        "vec_id",
        "q",
        F.array(
            *[
                F.aggregate(
                    F.zip_with(F.col("q"), sk, lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for sk in sign_arrays
            ]
        ).alias("y"),
    )

    exact = _int_topk(y, "q", _JL_NQ, _JL_K)
    approx = _int_topk(y, "y", _JL_NQ, _JL_K)
    return _recall_vs_exact(exact, approx, _JL_K)


#: Power-iteration geometry: fixed 4 rounds from v0 = e1, full d=64.
_PCA_ROUNDS = 4


def _gram_partials(vecs: DataFrame) -> DataFrame:
    """ONE Arrow map pass emitting per-partition exact-integer partials of
    the second-moment statistics: upper-triangle Gram entries
    (i, j, Σ q_i·q_j), component sums (i=-1 rows), and the row count
    (i=-2). Each partition contributes ≤ d(d+1)/2 + d + 1 rows regardless
    of its size — the associative-combine shape that makes a d×d covariance
    one model-sized exchange at 100 TB (the same split as Lloyd's k-means:
    data stays distributed, the model crosses the wire)."""
    import numpy as np
    import pandas as pd

    d = _JL_D

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        g = np.zeros((d, d), dtype=np.int64)
        s = np.zeros(d, dtype=np.int64)
        cnt = 0
        for b in batches:
            if not len(b):
                continue
            x = np.array([np.asarray(r, dtype=np.int64) for r in b["q"]])
            g += x.T @ x
            s += x.sum(axis=0)
            cnt += len(b)
        if cnt == 0:
            return
        iu = np.triu_indices(d)
        yield pd.DataFrame({"i": iu[0].astype("int32"), "j": iu[1].astype("int32"), "v": g[iu]})
        yield pd.DataFrame(
            {"i": np.full(d, -1, dtype="int32"), "j": np.arange(d, dtype="int32"), "v": s}
        )
        yield pd.DataFrame({"i": np.array([-2], dtype="int32"), "j": np.array([0], dtype="int32"),
                            "v": np.array([cnt], dtype="int64")})

    return vecs.select("q").mapInPandas(run, "i int, j int, v long")


def _pca_oracle() -> str:
    d = _JL_D
    parts = [
        f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT)) AS q
            FROM embeddings
        ),
        nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM v),
        su AS MATERIALIZED (
            SELECT j.j, CAST(SUM(v.q[j.j + 1]) AS HUGEINT) AS s
            FROM v, (SELECT unnest(range({d})) AS j) j
            GROUP BY j.j
        ),
        pairs AS MATERIALIZED (
            SELECT i.i, j.j, CAST(SUM(v.q[i.i + 1] * v.q[j.j + 1]) AS HUGEINT) AS g
            FROM v, (SELECT unnest(range({d})) AS i) i, (SELECT unnest(range({d})) AS j) j
            WHERE i.i <= j.j
            GROUP BY i.i, j.j
        ),
        mat AS (
            SELECT i, j, g FROM pairs
            UNION ALL
            SELECT j AS i, i AS j, g FROM pairs WHERE i < j
        ),
        crow AS MATERIALIZED (
            SELECT m.i, list(CAST(nn.n * m.g - si.s * sj.s AS DOUBLE) ORDER BY m.j) AS row
            FROM mat m, nn, su si, su sj
            WHERE si.j = m.i AND sj.j = m.j
            GROUP BY m.i
        ),
        vl0 AS (
            SELECT list_transform(range({d}),
                                  j -> CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END) AS vl
        )"""
    ]
    for r in range(_PCA_ROUNDS):
        parts.append(
            f"""
        , w{r} AS (
            SELECT c.i,
                   list_reduce(list_transform(list_zip(c.row, v.vl), p -> p[1] * p[2]),
                               (acc, x) -> acc + x) AS w
            FROM crow c, vl{r} v
        ),
        wl{r} AS (SELECT list(w ORDER BY i) AS wl FROM w{r}),
        vl{r + 1} AS (
            SELECT list_transform(
                       wl,
                       x -> x / sqrt(list_reduce(list_transform(wl, y -> y * y),
                                                 (acc, z) -> acc + z))) AS vl
            FROM wl{r}
        )"""
        )
    parts.append(
        f"""
        SELECT v.vec_id,
               list_reduce(
                   list_transform(
                       list_zip(list_transform(v.q, x -> CAST(x AS DOUBLE)), e.vl),
                       p -> p[1] * p[2]),
                   (acc, x) -> acc + x) AS pc1_score
        FROM v, vl{_PCA_ROUNDS} e"""
    )
    return "".join(parts)


@register(
    "embedding_pca_power_iteration",
    doc="top principal component via distributed exact-integer second-moment "
    "accumulation (Arrow partial Gram, map-side combine) + fixed-round "
    "driver power iteration; per-vector PC1 projection bit-matched by the "
    "fully unrolled oracle",
    tags=("bcast-const",),
    oracle=_pca_oracle(),
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PC1 score per embedding — the whitening/drift-audit primitive — with
    the canonical driver-model/distributed-data split:

    1. **Moments** (distributed, exact): components quantize to micro-unit
       integers; ONE Arrow pass emits per-partition partial Gram triangles
       + component sums + counts (``_gram_partials``), reduced by an
       integer groupBy — order-independent, so the d×d matrix collected to
       the driver is a pure function of the data. The centered matrix
       n²·Cov = n·Σqqᵀ − (Σq)(Σq)ᵀ is assembled in arbitrary-precision
       Python ints (the oracle mirrors with HUGEINT) and cast entrywise to
       double (both engines round-to-nearest — verified bit-equal).
    2. **Power iteration** (driver, model-sized): 4 fixed rounds from
       v₀ = e₁, every matvec/norm a left-assoc fold replayed exactly by
       the oracle's ``list_reduce`` chains. d doubles of state; scaling n
       never grows this stage.
    3. **Projection** (distributed, JVM): pc1_score = Σ q_j·v_j as an
       ``F.aggregate`` fold over the quantized components with the
       eigenvector folded in as plan literals — one map pass, no shuffle,
       whole-stage codegen.

    Eigenvector scaling note: v is unit-norm in the quantized integer
    space; scores are therefore micro-unit-scaled projections (a fixed
    linear relabeling of the float-space PC1 — rank-identical, and what
    keeps every distributed sum exact)."""
    emb = spread(t(spark, sf_dir, "embeddings"), key="vec_id")
    v = emb.select("vec_id", _quant_long("embedding").alias("q"))
    d = _JL_D

    rows = _gram_partials(v).groupBy("i", "j").agg(F.sum("v").alias("v")).collect()
    g = {}
    s = [0] * d
    n = 0
    for r in rows:
        if r["i"] == -2:
            n += r["v"]
        elif r["i"] == -1:
            s[r["j"]] += r["v"]
        else:
            g[(r["i"], r["j"])] = g.get((r["i"], r["j"]), 0) + r["v"]
    # exact integer n²·Cov in arbitrary precision, then one rounding each
    c = [
        [float(n * g[(min(i, j), max(i, j))] - s[i] * s[j]) for j in range(d)]
        for i in range(d)
    ]
    vec = [1.0] + [0.0] * (d - 1)
    for _ in range(_PCA_ROUNDS):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc += c[i][j] * vec[j]
            w.append(acc)
        nrm_acc = 0.0
        for x in w:
            nrm_acc += x * x
        import math

        nrm = math.sqrt(nrm_acc)
        vec = [x / nrm for x in w]

    vlit = F.array(*[F.lit(x) for x in vec])
    return v.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.transform("q", lambda x: x.cast("double")), vlit, lambda a, b: a * b
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("pc1_score"),
    )


@register(
    "sq8_scalar_quant_recall",
    doc="scalar quantization (SQ8): per-dimension min/max trained 8-bit "
    "codes, code-space neighbor ranking certified with recall@10 against "
    "exact — the byte-per-dimension index compression lever (FAISS SQ8 "
    "shape), exact integer arithmetic end to end",
    tags=("bcast-const",),
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_Q_SCALE}) AS BIGINT)) AS q
            FROM embeddings
        ), mm AS (
            SELECT j.j, MIN(v.q[j.j + 1]) AS mn, MAX(v.q[j.j + 1]) AS mx
            FROM v, (SELECT unnest(range({_JL_D})) AS j) j
            GROUP BY j.j
        ), mml AS (
            SELECT list(mn ORDER BY j) AS mn, list(mx - mn ORDER BY j) AS gap FROM mm
        ), codes AS MATERIALIZED (
            SELECT v.vec_id,
                   list_transform(range({_JL_D}),
                       j -> CASE WHEN m.gap[j + 1] = 0 THEN CAST(0 AS BIGINT)
                                 ELSE CAST(FLOOR(
                                          CAST((v.q[j + 1] - m.mn[j + 1]) * 255 AS DOUBLE)
                                          / CAST(m.gap[j + 1] AS DOUBLE)) AS BIGINT)
                            END) AS c
            FROM v, mml m
        ), exact AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_DUCK_INT_D2.format(a='q.q', b='c.q')}, c.vec_id
                       ) AS rnk
                FROM v q JOIN v c ON q.vec_id < {_JL_NQ} AND c.vec_id >= {_JL_NQ}
            ) WHERE rnk <= {_JL_K}
        ), approx AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_DUCK_INT_D2.format(a='q.c', b='c.c')}, c.vec_id
                       ) AS rnk
                FROM codes q JOIN codes c
                  ON q.vec_id < {_JL_NQ} AND c.vec_id >= {_JL_NQ}
            ) WHERE rnk <= {_JL_K}
        )
        SELECT e.query_id,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
               CAST(COUNT(a.neighbor_id) AS DOUBLE) / {_JL_K} AS recall_at_k
        FROM exact e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.query_id
    """,
)
def sq8_scalar_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 8-bit scalar-quantized neighbor ranking vs exact, per
    query. SQ8 is the third compression family next to JL (data-independent
    projection) and PQ (trained subspace codebooks): a *trained but
    codebook-free* per-dimension affine map to one byte — 4× smaller than
    float32 with near-perfect recall on well-spread dimensions, and the
    cheapest trained index to maintain (its "model" is d (min, max) pairs,
    refreshable with one associative aggregate).

    Exactness: training is 2d exact-integer MIN/MAX aggregates over the
    micro-unit components (one map-side-combined pass, no explode); the
    code assignment is a single mirrored double-division-floor chain (both
    engines evaluate the identical IEEE expression, so codes are
    bit-equal); ranking and recall are pure integer arithmetic. The d-pair
    model broadcasts as plan literals via a 1-row crossJoin — at 100 TB
    both ranking scans stay map-side passes over the candidate corpus."""
    emb = t(spark, sf_dir, "embeddings")
    v = spread(emb.select("vec_id", _quant_long("embedding").alias("q")), key="vec_id")
    d = _JL_D
    mm = v.agg(
        *[F.min(F.col("q")[j]).alias(f"mn_{j}") for j in range(d)],
        *[F.max(F.col("q")[j]).alias(f"mx_{j}") for j in range(d)],
    ).select(
        F.array(*[F.col(f"mn_{j}") for j in range(d)]).alias("mn"),
        F.array(*[(F.col(f"mx_{j}") - F.col(f"mn_{j}")) for j in range(d)]).alias("gap"),
    )
    coded = (
        v.crossJoin(F.broadcast(mm))
        .select(
            "vec_id",
            "q",
            F.zip_with(
                F.zip_with(F.col("q"), F.col("mn"), lambda a, b: (a - b) * 255),
                F.col("gap"),
                lambda a, g: F.when(g == 0, F.lit(0).cast("long")).otherwise(
                    F.floor(a.cast("double") / g.cast("double")).cast("long")
                ),
            ).alias("c"),
        )
    )
    exact = _int_topk(coded, "q", _JL_NQ, _JL_K)
    approx = _int_topk(coded, "c", _JL_NQ, _JL_K)
    return _recall_vs_exact(exact, approx, _JL_K)


# --- Fisher-score feature selection over embedding dimensions ---------------

_FISHER_TOPK = 10
_FQ = 1_000_000  # micro-unit quantization, the projection-family convention


@register(
    "fisher_score_dims",
    doc="supervised feature selection: per-dimension Fisher ratio "
    "(between-class / within-class variance) from exact quantized sums, "
    "top-10 dimensions",
    oracle=f"""
        WITH comp AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(FLOOR(unnest(CAST(embedding AS DOUBLE[])) * {_FQ})
                        AS BIGINT) AS q
            FROM embeddings
        ),
        cls AS (
            SELECT dim, label, COUNT(*) AS n, SUM(q) AS s,
                   SUM(q * q) AS ss
            FROM comp GROUP BY dim, label
        ),
        tot AS (
            SELECT dim, SUM(n) AS tn, SUM(s) AS ts FROM cls GROUP BY dim
        ),
        terms AS (
            SELECT c.dim, c.label,
                   CAST(c.n AS DOUBLE)
                   * ((CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE))
                      - (CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE)))
                   * ((CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE))
                      - (CAST(t.ts AS DOUBLE) / CAST(t.tn AS DOUBLE))) AS tb,
                   CAST(c.ss AS DOUBLE)
                   - ((CAST(c.s AS DOUBLE) * CAST(c.s AS DOUBLE))
                      / CAST(c.n AS DOUBLE)) AS tw
            FROM cls c JOIN tot t USING (dim)
        ),
        folded AS (
            SELECT dim,
                   list_reduce(list(tb ORDER BY label), (a, x) -> a + x)
                       AS between_var,
                   list_reduce(list(tw ORDER BY label), (a, x) -> a + x)
                       AS within_var
            FROM terms GROUP BY dim
        )
        SELECT CAST(dim AS INT) AS dim,
               ROUND(between_var / within_var, 9) AS fisher,
               CAST(rnk AS INT) AS rank
        FROM (
            SELECT dim, between_var, within_var,
                   ROW_NUMBER() OVER (
                       ORDER BY ROUND(between_var / within_var, 9) DESC, dim
                   ) AS rnk
            FROM folded
        ) WHERE rnk <= {_FISHER_TOPK}
    """,
)
def fisher_score_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which embedding dimensions separate the labels? The Fisher ratio
    Σ_c n_c(μ_c − μ)² / Σ_c n_c σ_c² per dimension — the classic filter
    for supervised feature selection and a cheap probe of whether a
    labeled embedding space carries class signal at all.

    Exactness discipline (projection-family conventions): components
    quantize to integer micro-units, so the per-(dim, label) count/sum/
    sum-of-squares sketch is exact integers from ONE aggregation shuffle;
    class means and variance terms are then fixed double chains on those
    exact sums. The one float SUM over classes is order-sensitive, so
    both engines fold the per-class terms in explicit label order
    (array_sort + left-assoc aggregate == list(ORDER BY) + list_reduce) —
    the same ordered-fold pattern as the MMR/centroid queries. The final
    relation is dims × labels (model-sized); ranking sorts 128 rows."""
    emb = t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * _FQ).cast("bigint"),
            )
        ).alias("dim", "q"),
    )
    cls = comp.groupBy("dim", "label").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ss"),
    )
    tot = cls.groupBy("dim").agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    mu_c = F.col("s").cast("double") / F.col("n").cast("double")
    mu = F.col("ts").cast("double") / F.col("tn").cast("double")
    tb = F.col("n").cast("double") * ((mu_c - mu) * (mu_c - mu))
    tw = F.col("ss").cast("double") - (
        (F.col("s").cast("double") * F.col("s").cast("double"))
        / F.col("n").cast("double")
    )
    terms = cls.join(tot, "dim").select(
        "dim", "label", tb.alias("tb"), tw.alias("tw")
    )
    fold = lambda c: F.aggregate(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct("label", c))), lambda s: s[c]
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    folded = terms.groupBy("dim").agg(
        fold("tb").alias("between_var"), fold("tw").alias("within_var")
    )
    fisher = F.round(F.col("between_var") / F.col("within_var"), 9)
    w = Window.orderBy(fisher.desc(), "dim")
    return (
        folded.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _FISHER_TOPK)
        .select(
            F.col("dim").cast("int").alias("dim"),
            fisher.alias("fisher"),
            F.col("rnk").cast("int").alias("rank"),
        )
    )


#: Matryoshka (MRL) evaluation geometry: rank with the first _MRL_DIM of 64
#: dims and certify recall@_MRL_TOPK against the full-dimension ranking.
_MRL_DIM = 16
_MRL_TOPK = 3

_MRL_COS_TR = (
    f"round(list_cosine_similarity(list_slice(CAST({{a}} AS DOUBLE[]), 1, {_MRL_DIM}),"
    f" list_slice(CAST({{b}} AS DOUBLE[]), 1, {_MRL_DIM})), 6)"
)


@register(
    "matryoshka_truncation_recall",
    tags=("bcast-const",),
    doc="Matryoshka-style truncation certification: rank neighbors with "
    "the first 16 of 64 dims and measure recall@3 against the "
    "full-dimension exact ranking — the dial that decides how short a "
    "prefix the index tier can store",
    oracle=f"""
        WITH ex AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_DUCK_COS.format(a='q.embedding', b='c.embedding')}
                                    DESC, c.vec_id) AS rank
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 10 AND c.vec_id >= 10
            ) WHERE rank <= {_MRL_TOPK}
        ), tr AS MATERIALIZED (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_MRL_COS_TR.format(a='q.embedding', b='c.embedding')}
                                    DESC, c.vec_id) AS rank
                FROM embeddings q JOIN embeddings c
                  ON q.vec_id < 10 AND c.vec_id >= 10
            ) WHERE rank <= {_MRL_TOPK}
        ), j AS (
            SELECT COUNT(*) AS m FROM tr JOIN ex USING (query_id, neighbor_id)
        )
        SELECT (SELECT COUNT(DISTINCT query_id) FROM ex) AS n_queries,
               (SELECT COUNT(*) FROM ex) AS n_exact,
               (SELECT COUNT(*) FROM tr) AS n_trunc,
               (SELECT m FROM j) AS n_matched,
               CAST((SELECT m FROM j) AS DOUBLE)
                   / (SELECT COUNT(*) FROM ex) AS recall_at_3
    """,
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation: MRL-trained embedding models
    promise that a short PREFIX of the vector ranks nearly as well as the
    full vector, letting the hot index tier store 4× fewer floats. This
    query pins that promise with a measured number: top-3 by 16-dim-prefix
    cosine vs top-3 by full 64-dim cosine, recall@3 over the query set
    (the jl_random_projection_recall companion — JL compresses with a
    random matrix, MRL just truncates).

    Scale shape: both rankings are the ann_bruteforce broadcast-query
    map-side scan (the short ranking reads 4× fewer bytes per row — the
    actual win being certified); the recall join is query-keyed. On
    near-uniform random test vectors recall is the information-theoretic
    WORST case (like pq_recall_vs_exact) — the measured floor, not the
    clustered-real-data ceiling."""
    from songs_etl_spark.functions.vectors import cosine_from_norms, l2_norm

    emb = t(spark, sf_dir, "embeddings")

    def ranking(vec_expr):
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            vec_expr.alias("q_emb"),
        ).select("query_id", "q_emb", l2_norm("q_emb").alias("q_norm"))
        c = spread(
            emb.filter(F.col("vec_id") >= 10).select(
                F.col("vec_id").alias("neighbor_id"), vec_expr.alias("c_emb")
            ).select("neighbor_id", "c_emb", l2_norm("c_emb").alias("c_norm")),
            key="neighbor_id",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), "neighbor_id"
        )
        return (
            F.broadcast(q)
            .crossJoin(c)
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_from_norms(
                        "q_emb", "c_emb", F.col("q_norm"), F.col("c_norm")
                    ),
                    6,
                ).alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _MRL_TOPK)
            .select("query_id", "neighbor_id")
        )

    full = F.col("embedding").cast("array<double>")
    trunc = F.slice(F.col("embedding").cast("array<double>"), 1, _MRL_DIM)
    ex = ranking(full)
    tr = ranking(trunc)
    matched = tr.join(ex, ["query_id", "neighbor_id"])
    return (
        ex.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("n_exact"),
        )
        .crossJoin(F.broadcast(tr.agg(F.count("*").alias("n_trunc"))))
        .crossJoin(F.broadcast(matched.agg(F.count("*").alias("n_matched"))))
        .select(
            "n_queries",
            "n_exact",
            "n_trunc",
            "n_matched",
            (F.col("n_matched").cast("double") / F.col("n_exact")).alias("recall_at_3"),
        )
    )
