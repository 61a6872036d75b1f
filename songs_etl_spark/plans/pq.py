"""Product-quantization (PQ) similarity search — the memory-side scale
lever IVF alone doesn't give you: a 100 TB embedding corpus doesn't fit RAM
as raw floats, so production ANN indexes (FAISS IVF-PQ, SCaNN) store each
vector as M small codes (here 4 × 3-bit codes for a 64-dim vector — ~170×
smaller than float32; a production 8-subspace/8-bit config is 64×) and score queries against codes via asymmetric distance
computation (ADC): per query, an M×k lookup table of exact
query-to-codeword distances, then each candidate's distance is M table
lookups summed — no float vector ever touched at query time.

Exactness discipline (same contract as the k-means family,
operators/clustering.py): components quantize to integer micro-units up
front; the M subspace codebooks train together with the one Lloyd trainer
(``train_centroids(subspaces=M)``: per round one Arrow stats pass labels
every subspace, exact integer-sum means) and vectors encode in one
``assign_arrow`` pass; distances fold dimension-by-dimension in array
order; the ADC total sums
the M partials left-to-right. Every float op sequence is reproduced
verbatim by the unrolled DuckDB oracle, so the registered query is
value-checked end to end — codebook training, encoding, and ADC ranking.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from songs_etl_spark.functions.vectors import sq_l2
from songs_etl_spark.operators.clustering import (
    _fold_d2,
    assign_arrow,
    quantize_micro,
    train_centroids,
)
from songs_etl_spark.plans._util import spread, t, track_persist
from songs_etl_spark.plans.registry import register
from songs_etl_spark.plans.similarity import (
    _duck_ivf_probes,
    _exact_head,
    _exact_topk,
    _ivf_probes,
    _recall_tail,
    _top_k,
)

#: PQ geometry for the registered query: 64-dim vectors → M=4 subspaces of
#: 16 dims, k=8 codewords per subspace (codes fit 3 bits each — 12 bits per
#: vector), 2 Lloyd rounds per codebook. Small enough that the fully
#: unrolled oracle stays tractable, big enough that training, encoding and
#: ADC ranking are all exercised with real multi-member codewords.
_PQ_M = 4
_PQ_DSUB = 16
_PQ_KS = 8
_PQ_ITER = 2
_PQ_TOPK = 3

_DIST_FOLD = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])),"
    " (acc, x) -> acc + x)"
)


def _duckdb_pq_sql(final_select: str | None = None, base_v: str | None = None) -> str:
    """Fully-unrolled DuckDB twin: per subspace, seed codebook (k smallest
    vec_ids) → _PQ_ITER Lloyd rounds (struct-min argmin, exact integer-sum
    means) → codes (final argmin) and per-query ADC tables (exact fold
    distances to every codeword) → candidates scored by M table lookups
    summed left-to-right → top-k per query. CTEs referenced more than once
    are MATERIALIZED (DuckDB re-executes shared CTEs otherwise). Pass
    ``final_select`` (may add its own CTEs, starting with ", name AS …")
    to consume the code/tab chain differently (ann_ivfpq_topk); pass
    ``base_v`` to override the WITH prefix defining the (vec_id, emb)
    training relation ``v`` (ann_ivfpq_residual_topk trains on
    coarse-residuals instead of raw micro vectors)."""
    parts = [
        base_v
        if base_v is not None
        else """
        WITH v AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS emb
            FROM embeddings
        )"""
    ]
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DSUB + 1, (m + 1) * _PQ_DSUB
        dist = _DIST_FOLD.format(a="s.emb", b="c.centroid")
        parts.append(
            f"""
        , sub{m} AS MATERIALIZED (
            SELECT vec_id, list_slice(emb, {lo}, {hi}) AS emb FROM v
        ),
        cent{m}_0 AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY vec_id) AS cluster, emb AS centroid
            FROM (SELECT * FROM sub{m} ORDER BY vec_id LIMIT {_PQ_KS})
        )"""
        )
        for i in range(_PQ_ITER):
            parts.append(
                f"""
        , assign{m}_{i} AS (
            SELECT vec_id,
                   struct_extract(min({{'dist': dist, 'cluster': cluster}}), 'cluster') AS cluster
            FROM (
                SELECT s.vec_id, c.cluster, {dist} AS dist
                FROM sub{m} s CROSS JOIN cent{m}_{i} c
            ) GROUP BY vec_id
        ),
        comp{m}_{i} AS (
            SELECT cluster, u['dim'] AS dim, SUM(u['v']) / COUNT(*) AS mu
            FROM (
                SELECT a.cluster,
                       unnest(list_transform(range(1, len(s.emb) + 1),
                              j -> {{'dim': j, 'v': s.emb[j]}})) AS u
                FROM assign{m}_{i} a JOIN sub{m} s ON a.vec_id = s.vec_id
            ) GROUP BY cluster, dim
        ),
        cent{m}_{i + 1} AS MATERIALIZED (
            SELECT cluster, list(mu ORDER BY dim) AS centroid
            FROM comp{m}_{i} GROUP BY cluster
        )"""
            )
        parts.append(
            f"""
        , code{m} AS MATERIALIZED (
            SELECT vec_id,
                   struct_extract(min({{'dist': dist, 'cluster': cluster}}), 'cluster') AS code
            FROM (
                SELECT s.vec_id, c.cluster, {dist} AS dist
                FROM sub{m} s CROSS JOIN cent{m}_{_PQ_ITER} c
            ) GROUP BY vec_id
        ),
        tab{m} AS MATERIALIZED (
            SELECT s.vec_id AS query_id, c.cluster,
                   {dist} AS d
            FROM sub{m} s CROSS JOIN cent{m}_{_PQ_ITER} c
            WHERE s.vec_id < 10
        )"""
        )
    if final_select is not None:
        parts.append(final_select)
        return "".join(parts)
    adc = "((t0.d + t1.d) + t2.d) + t3.d"
    code_joins = "\n            ".join(
        f"JOIN code{m} c{m} ON c{m}.vec_id = c0.vec_id" for m in range(1, _PQ_M)
    )
    tab_joins = "\n            ".join(
        f"JOIN tab{m} t{m} ON t{m}.cluster = c{m}.code"
        + (" AND t%d.query_id = t0.query_id" % m if m else "")
        for m in range(_PQ_M)
    )
    parts.append(
        f"""
        , scored AS (
            SELECT t0.query_id, c0.vec_id AS neighbor_id, {adc} AS adc_dist
            FROM code0 c0
            {code_joins}
            {tab_joins}
            WHERE c0.vec_id >= 10
        )
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {_PQ_TOPK}"""
    )
    return "".join(parts)


@register(
    "ann_pq_adc_topk",
    doc="similarity search, memory-scale path: product-quantization codes "
    "+ asymmetric-distance (ADC) top-k — codebook training, encoding and "
    "ranking all inside the exact-value oracle",
    oracle=_duckdb_pq_sql(),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC search end to end: (1) train per-subspace codebooks on the
    corpus (shared Lloyd trainer, model on the driver); (2) encode
    candidates as M codes in one Arrow map pass (at rest this is the
    compressed index — 12 bits/vector here vs 2048-bit float32);
    (3) per query, build the M×k ADC table of exact query-to-codeword
    distances driver-side (geometry-sized), ship it in the scoring pass's
    closure, and rank candidates by M table lookups summed left-to-right;
    (4) exact top-k per query by (adc_dist, neighbor_id).

    At 100 TB: candidates are touched once by each of two map-side Arrow
    passes (encode — amortized across queries as the stored index — and
    score); the only shuffle is the per-query top-k window over the scored
    relation, and composing with the IVF cell probe (ann_ivf_probe) bounds
    even that to one cell per query. Nothing data-sized ever reaches the
    driver; queries and models are geometry-bounded.

    ADC is an approximation of true distance (that is the point — the
    recall/memory dial every PQ deployment tunes); the oracle checks the
    COMPUTATION exactly, training included, so quantization error is the
    algorithm's, never the engine's."""
    emb = _micro_emb(spark, sf_dir)
    return pq_adc_topk(emb, query_max_id=10, topk=_PQ_TOPK)


def _micro_emb(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The persisted (vec_id, *cols, emb) embeddings relation, components
    quantized to integer micro-units."""
    return track_persist(
        spread(
            t(spark, sf_dir, "embeddings").select(
                "vec_id", *cols, quantize_micro("embedding").alias("emb")
            ),
            key="vec_id",
        )
    )


def pq_adc_topk(
    emb: DataFrame, query_max_id: int, topk: int = _PQ_TOPK
) -> DataFrame:
    """The PQ-ADC pipeline over any (vec_id, emb[micro-units]) relation:
    queries are vec_id < query_max_id, candidates the rest. See
    ``ann_pq_adc_topk`` for the plan narrative."""
    import numpy as np
    import pandas as pd

    books = train_centroids(emb, _PQ_KS, _PQ_ITER, subspaces=_PQ_M)
    codes = assign_arrow(emb.filter(F.col("vec_id") >= query_max_id), books)

    q_rows = _query_rows(emb, query_max_id)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    tabs = _adc_tables(books, [r["emb"] for r in q_rows])
    nq, m = len(q_rows), len(books)

    def score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            if not len(batch):
                continue
            n = len(batch)
            code_cols = [batch[f"code_{j}"].to_numpy() for j in range(m)]
            # (n, nq) partial-distance planes summed left-to-right — the
            # same IEEE order as the oracle's ((t0+t1)+t2)+t3 expression
            total = tabs[0][:, code_cols[0]].T.copy()
            for j in range(1, m):
                np.add(total, tabs[j][:, code_cols[j]].T, out=total)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "neighbor_id": np.tile(batch["vec_id"].to_numpy(), nq),
                    "adc_dist": total.T.reshape(-1, order="C"),
                }
            )

    scored = codes.mapInPandas(score, "query_id long, neighbor_id long, adc_dist double")
    return _top_k(scored, topk, "adc_dist", "neighbor_id").select(
        "query_id", "neighbor_id", "adc_dist", "rank"
    )


def _query_rows(emb: DataFrame, query_max_id: int = 10) -> list:
    """The query vectors (vec_id < query_max_id) of a (vec_id, emb)
    relation, collected in vec_id order."""
    return sorted(
        emb.filter(F.col("vec_id") < query_max_id).select("vec_id", "emb").collect(),
        key=lambda r: r["vec_id"],
    )


def _adc_tables(books: list[list[tuple[int, list[float]]]], q_vecs: list) -> list:
    """Driver-side ADC tables: ``tabs[j][qi, cid]`` is the exact fold-order
    distance from query ``qi``'s subspace-j slice to codeword ``cid``,
    dense-indexed by cluster id (inf where no codeword has that id) for
    O(1) lookup. Geometry-sized (|queries| × M × k); an empty query set
    or codebook gives empty tables, not an error."""
    import numpy as np

    q_mat = np.array(q_vecs, dtype=np.float64).reshape(len(q_vecs), len(books) * _PQ_DSUB)
    tabs = []
    for j, book in enumerate(books):
        cmat = np.array([c for _, c in book], dtype=np.float64).reshape(len(book), _PQ_DSUB)
        cids = [cid for cid, _ in book]
        dense = np.full((len(q_vecs), max(cids, default=0) + 1), np.inf)
        dense[:, cids] = _fold_d2(q_mat[:, j * _PQ_DSUB : (j + 1) * _PQ_DSUB], cmat)
        tabs.append(dense)
    return tabs


def _ivf_adc_scored(
    codes: DataFrame,
    probes: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    q_rows: list,
    tabs: list,
) -> DataFrame:
    """Join-based ADC inside the probed cells, the JVM twin of
    :func:`pq_adc_topk`'s closure-based scoring: candidates (vec_id,
    label, code_0..code_{M-1}) meet the broadcast (query_id, probe_label)
    probe set on their cell, pick up their M partial distances from one
    broadcast (query_id, code_j, d_j) table per subspace, and sum them
    left-to-right in one codegen'd projection — the oracle's
    ((t0+t1)+t2)+t3 order. Returns (query_id, probe_label, neighbor_id,
    adc_dist)."""
    scored = codes.join(F.broadcast(probes), codes["label"] == probes["probe_label"])
    for j, book in enumerate(books):
        rows = [
            (int(r["vec_id"]), int(cid), float(tabs[j][qi, cid]))
            for qi, r in enumerate(q_rows)
            for cid, _ in book
        ]
        tab = codes.sparkSession.createDataFrame(rows, f"query_id long, code_{j} int, d{j} double")
        scored = scored.join(F.broadcast(tab), ["query_id", f"code_{j}"])
    adc = ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    return scored.select(
        "query_id",
        "probe_label",
        F.col("vec_id").alias("neighbor_id"),
        adc.alias("adc_dist"),
    )


def _ivfpq_tail() -> str:
    """The IVF-PQ final stage appended to the shared PQ chain: coarse-cell
    probe (:func:`_duck_ivf_probes`: min-vec_id representatives, raw-float
    cosine) restricts each query's candidates to ONE cell; ADC ranks within it."""
    adc = "((t0.d + t1.d) + t2.d) + t3.d"
    code_joins = "\n            ".join(
        f"JOIN code{m} c{m} ON c{m}.vec_id = c0.vec_id" for m in range(1, _PQ_M)
    )
    tab_joins = "\n            ".join(
        f"JOIN tab{m} t{m} ON t{m}.cluster = c{m}.code"
        + (" AND t%d.query_id = p.query_id" % m if m else " AND t0.query_id = p.query_id")
        for m in range(_PQ_M)
    )
    return f"""
        , {_duck_ivf_probes(1, materialized=True)}, labels AS (
            SELECT vec_id, label FROM embeddings
        ), scored AS (
            SELECT p.query_id, p.probe_label, c0.vec_id AS neighbor_id, {adc} AS adc_dist
            FROM code0 c0
            {code_joins}
            JOIN labels l ON l.vec_id = c0.vec_id
            JOIN probes p ON p.probe_label = l.label
            {tab_joins}
            WHERE c0.vec_id >= 10
        )
        SELECT query_id, probe_label, neighbor_id, adc_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {_PQ_TOPK}"""


@register(
    "ann_ivfpq_topk",
    doc="similarity search, full production composition: IVF coarse-cell "
    "probe + PQ codes + join-based ADC ranking inside the probed cell — "
    "the FAISS IVF-PQ index shape, training included in the oracle",
    tags=("bcast-const",),
    oracle=_duckdb_pq_sql(final_select=_ivfpq_tail()),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the index layout a billion-vector deployment actually
    ships: (1) each query picks its coarse cell against the broadcast
    one-representative-per-label table (:func:`_ivf_probes`, raw-float
    cosine); (2) candidates carry their M PQ codes (``assign_arrow`` — at
    rest, the 64×-compressed index); (3) ADC here is JOIN-based
    (:func:`_ivf_adc_scored`), the JVM twin of ann_pq_adc_topk's
    closure-based scoring. Cell probe + broadcast lookups means per-query
    work is one cell's codes — no full-corpus scan, no float vectors at
    query time.

    Two ADC formulations, one oracle family: closure-based (Arrow, zero
    join — best when every candidate is scored) and join-based (codegen,
    composes with any candidate-restricting join — best under IVF pruning).
    Both are exact-value-checked against the same unrolled training SQL."""
    probes = _ivf_probes(t(spark, sf_dir, "embeddings"), 1).select("query_id", "probe_label")
    emb = _micro_emb(spark, sf_dir, "label")
    books = train_centroids(emb, _PQ_KS, _PQ_ITER, subspaces=_PQ_M)
    codes = assign_arrow(emb.filter(F.col("vec_id") >= 10), books).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    q_rows = _query_rows(emb)
    tabs = _adc_tables(books, [r["emb"] for r in q_rows])
    return _top_k(
        _ivf_adc_scored(codes, probes, books, q_rows, tabs), _PQ_TOPK, "adc_dist", "neighbor_id"
    ).select("query_id", "probe_label", "neighbor_id", "adc_dist", "rank")


def _pq_recall_oracle() -> str:
    from songs_etl_spark.plans.registry import REGISTRY

    pq = _duckdb_pq_sql()
    bf = REGISTRY["ann_bruteforce_topk"].oracle
    return f"""
        WITH pq AS (SELECT query_id, neighbor_id FROM ({pq})),
             ex AS (SELECT query_id, neighbor_id FROM ({bf}) WHERE rank <= {_PQ_TOPK}),
             j AS (SELECT COUNT(*) AS m FROM pq JOIN ex USING (query_id, neighbor_id))
        SELECT (SELECT COUNT(DISTINCT query_id) FROM ex) AS n_queries,
               (SELECT COUNT(*) FROM ex) AS n_exact,
               (SELECT COUNT(*) FROM pq) AS n_pq,
               (SELECT m FROM j) AS n_matched,
               CAST((SELECT m FROM j) AS DOUBLE)
                   / (SELECT COUNT(*) FROM ex) AS recall_at_3
    """


@register(
    "pq_recall_vs_exact",
    doc="measured recall@3 of the PQ-ADC path against exact brute-force "
    "cosine top-3 — the quantified contract the compressed index is "
    "deployed on (the lsh_recall_vs_exact analog for PQ)",
    tags=("bcast-const",),
    oracle=_pq_recall_oracle(),
)
def pq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ is lossy BY DESIGN (that's the 64× memory cut); what a deployment
    needs is the measured recall of the compressed index against exact
    search — this query joins ``ann_pq_adc_topk``'s top-3 to the exact
    cosine top-3 (unit-norm embeddings: cosine order = L2 order) and emits
    the count + ratio, all inside the value hash, so a codebook or ADC
    regression that silently degrades recall fails CORRECTNESS, not just a
    benchmark eyeball. Numerator/denominator are exact ints; the ratio is
    one int/int division — bit-stable.

    Expected magnitude on THIS corpus: low (~0.1-0.2). The testdata
    embeddings are near-uniform random 64-dim vectors — the information-
    theoretic worst case for 1-byte-per-vector quantization, where the
    query-to-NN margin is smaller than the cell diameter (same reason
    embedding_neardup_lsh's 0.4 regime can't prune). On clustered real
    embeddings PQ recall rises steeply with structure; the point of this
    query is that the number is MEASURED and pinned, not assumed."""
    pq = ann_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ex = _exact_topk(spark, sf_dir, _PQ_TOPK)
    return _recall_tail(
        _exact_head(ex),
        {"n_pq": pq, "n_matched": pq.join(ex, ["query_id", "neighbor_id"])},
        {"recall_at_3": ("n_matched", "n_exact")},
    )


#: Residual IVF-PQ oracle: the training relation v becomes each vector's
#: coarse residual (micro components minus its cell representative's), so
#: every downstream CTE of the shared chain — codebooks, codes — trains on
#: residuals exactly as FAISS IVF-PQ does. All arithmetic stays EXACT:
#: micro components are integers ≤ 1e6 in doubles, residual differences and
#: squared-distance folds stay far inside 2^53.
_RESIDUAL_BASE_V = """
        WITH raw AS MATERIALIZED (
            SELECT vec_id, label,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS emb
            FROM embeddings
        ),
        mreps AS MATERIALIZED (
            SELECT label, emb AS rep_emb FROM (
                SELECT label, emb,
                       row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
                FROM raw
            ) WHERE rn = 1
        ),
        v AS MATERIALIZED (
            SELECT r.vec_id,
                   list_transform(range(1, len(r.emb) + 1),
                                  j -> r.emb[j] - p.rep_emb[j]) AS emb
            FROM raw r JOIN mreps p USING (label)
        )"""


def _ivfpq_residual_tail(refine_c: int | None = None) -> str:
    """Final stage for the residual index: probe as in _ivfpq_tail (raw
    cosine against raw representatives), then the query's ADC tables are
    built from its residual AGAINST THE PROBED CELL'S representative —
    the defining difference from the plain IVF-PQ, where a query reuses
    one global table set regardless of cell.

    With ``refine_c`` set, the ADC ranking keeps the top-C candidates per
    query and a REFINE stage recomputes their EXACT micro-unit distances
    against the stored vectors (the ``raw`` CTE), emitting the final top-k
    by exact distance — the FAISS refine composition
    (ann_ivfpq_refine_topk)."""
    adc = "((t0.d + t1.d) + t2.d) + t3.d"
    code_joins = "\n            ".join(
        f"JOIN code{m} c{m} ON c{m}.vec_id = c0.vec_id" for m in range(1, _PQ_M)
    )
    tab_joins = "\n            ".join(
        f"JOIN qtab{m} t{m} ON t{m}.cluster = c{m}.code"
        + f" AND t{m}.query_id = p.query_id"
        for m in range(_PQ_M)
    )
    qtabs = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DSUB + 1, (m + 1) * _PQ_DSUB
        dist = _DIST_FOLD.format(a=f"list_slice(q.emb, {lo}, {hi})", b="c.centroid")
        qtabs.append(
            f"""
        , qtab{m} AS MATERIALIZED (
            SELECT q.query_id, c.cluster, {dist} AS d
            FROM qres q CROSS JOIN cent{m}_{_PQ_ITER} c
        )"""
        )
    if refine_c is None:
        final = f"""
        SELECT query_id, probe_label, neighbor_id, adc_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {_PQ_TOPK}"""
    else:
        exact = _DIST_FOLD.format(a="q.emb", b="n.emb")
        final = f"""
        , topc AS MATERIALIZED (
            SELECT query_id, probe_label, neighbor_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY adc_dist, neighbor_id) AS rank
                FROM scored
            ) WHERE rank <= {refine_c}
        ), refined AS (
            SELECT t.query_id, t.probe_label, t.neighbor_id,
                   {exact} AS exact_dist
            FROM topc t
            JOIN raw q ON q.vec_id = t.query_id
            JOIN raw n ON n.vec_id = t.neighbor_id
        )
        SELECT query_id, probe_label, neighbor_id, exact_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY exact_dist, neighbor_id) AS rank
            FROM refined
        ) WHERE rank <= {_PQ_TOPK}"""
    return f"""
        , {_duck_ivf_probes(1, reps="rreps", materialized=True)}, qres AS MATERIALIZED (
            SELECT p.query_id,
                   list_transform(range(1, len(q.emb) + 1),
                                  j -> q.emb[j] - r.rep_emb[j]) AS emb
            FROM probes p
            JOIN raw q ON q.vec_id = p.query_id
            JOIN mreps r ON r.label = p.probe_label
        ){''.join(qtabs)}
        , labels AS (
            SELECT vec_id, label FROM embeddings
        ), scored AS (
            SELECT p.query_id, p.probe_label, c0.vec_id AS neighbor_id, {adc} AS adc_dist
            FROM code0 c0
            {code_joins}
            JOIN labels l ON l.vec_id = c0.vec_id
            JOIN probes p ON p.probe_label = l.label
            {tab_joins}
            WHERE c0.vec_id >= 10
        ){final}"""


def _ivfpq_residual_scored(spark: SparkSession, sf_dir: str):
    """The residual IVF-PQ pipeline up to (but not including) the final
    per-query ranking: returns ``(scored, emb)`` where ``scored`` is the
    ADC-scored candidate relation (query_id, probe_label, neighbor_id,
    adc_dist) and ``emb`` the persisted (vec_id, label, emb[micro])
    relation — shared by ``ann_ivfpq_residual_topk`` (rank directly) and
    ``ann_ivfpq_refine_topk`` (top-C then exact-distance refine)."""
    import numpy as np

    probes = _ivf_probes(t(spark, sf_dir, "embeddings"), 1).select("query_id", "probe_label")
    emb = _micro_emb(spark, sf_dir, "label")
    rep_w = Window.partitionBy("label").orderBy("vec_id")
    mreps = (
        emb.withColumn("rn", F.row_number().over(rep_w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("emb").alias("rep_emb"))
    )
    res = track_persist(
        emb.join(F.broadcast(mreps), "label").select(
            "vec_id",
            "label",
            F.zip_with("emb", "rep_emb", lambda a, b: a - b).alias("emb"),
        )
    )
    books = train_centroids(res, _PQ_KS, _PQ_ITER, subspaces=_PQ_M)
    codes = assign_arrow(res.filter(F.col("vec_id") >= 10), books).join(
        emb.select("vec_id", "label"), "vec_id"
    )

    # Per-(query, probed-cell) residuals: ≤ |queries| rows of driver state.
    probe_map = {r["query_id"]: r["probe_label"] for r in probes.collect()}
    q_rows = _query_rows(emb)
    rep_map = {r["label"]: np.asarray(r["rep_emb"], dtype=np.float64)
               for r in mreps.collect()}
    tabs = _adc_tables(
        books,
        [np.asarray(r["emb"], dtype=np.float64) - rep_map[probe_map[r["vec_id"]]]
         for r in q_rows],
    )
    return _ivf_adc_scored(codes, probes, books, q_rows, tabs), emb


@register(
    "ann_ivfpq_residual_topk",
    doc="similarity search, the full FAISS IVF-PQ layout: coarse-cell probe "
    "+ RESIDUAL product quantization (codebooks trained on vector minus "
    "cell representative) + per-cell ADC from the query's probed-cell "
    "residual — training, encoding and ranking in the exact oracle",
    tags=("bcast-const",),
    oracle=_duckdb_pq_sql(final_select=_ivfpq_residual_tail(), base_v=_RESIDUAL_BASE_V),
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — what FAISS's IndexIVFPQ actually stores: PQ codes
    of the RESIDUAL r = v − centroid(cell(v)) rather than of v itself.
    Residuals are centered near the origin, so a shared codebook spends its
    k codewords on the (much tighter) residual distribution instead of on
    cell locations the coarse index already encodes — the standard ~1-2 bit
    accuracy win per code at identical memory. Differences from
    ``ann_ivfpq_topk``: (1) codebooks/codes train on residuals; (2) each
    query builds its ADC tables from its residual against the PROBED
    cell's representative (a per-(query, cell) table, still
    geometry-sized).

    Scale shape is unchanged — one Arrow encode pass over residuals, the
    probe against a broadcast representative table, broadcast per-query ADC
    lookups, per-cell candidates only. Exactness: micro components are
    exact integers, residual subtraction and squared-distance folds stay
    inside 2^53, so every ADC value is EXACT integer-derived arithmetic —
    no rounding boundary anywhere below the final double output."""
    scored, _ = _ivfpq_residual_scored(spark, sf_dir)
    return _top_k(scored, _PQ_TOPK, "adc_dist", "neighbor_id").select(
        "query_id", "probe_label", "neighbor_id", "adc_dist", "rank"
    )


#: Refine candidate budget: the ADC shortlist kept per query before exact
#: re-ranking — the FAISS k_factor convention (C = k_factor × k, 3 here).
_REFINE_C = 3 * _PQ_TOPK


@register(
    "ann_ivfpq_refine_topk",
    doc="similarity search, recall-grade production composition: residual "
    "IVF-PQ ADC shortlist (top-C, C=3k) re-ranked by EXACT micro-unit "
    "distances against the stored vectors — the FAISS IndexRefine stage; "
    "training, shortlist and refine all inside the exact-value oracle",
    tags=("bcast-const",),
    oracle=_duckdb_pq_sql(
        final_select=_ivfpq_residual_tail(refine_c=_REFINE_C),
        base_v=_RESIDUAL_BASE_V,
    ),
)
def ann_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-refine over the residual IVF-PQ shortlist — the stage every
    recall-sensitive FAISS deployment bolts on (IndexRefineFlat): ADC
    ranks are approximate BY DESIGN, so the index keeps the ADC top-C
    (C = 3×k, the k_factor dial) per query and re-scores just those C
    candidates with EXACT distances against the stored full-precision
    vectors, emitting the final top-k by exact distance. Quantization
    error then affects only which candidates make the shortlist, never
    their final order — the standard recall upgrade at the cost of C
    exact distance evaluations per query.

    Scale shape: the shortlist (C×|queries| rows — query-set-sized, not
    corpus-sized) is BROADCAST back against the stored vectors, so the
    refine adds ONE map-side join over the corpus scan plus a
    query-partitioned top-k window — no new shuffle family beyond the
    shortlist ranking it already paid. Exactness end to end: micro
    components are integers ≤ 1e6 in doubles; the squared-distance fold
    peaks at 64 × (2e6)² ≈ 2.6e14 ≪ 2^53, so exact_dist is exact integer
    arithmetic (left-to-right fold, the oracle's list_reduce order) and
    the value hash matches bit-for-bit."""
    scored, emb = _ivfpq_residual_scored(spark, sf_dir)
    topc = _top_k(scored, _REFINE_C, "adc_dist", "neighbor_id").select(
        "query_id", "probe_label", "neighbor_id"
    )
    qvec = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    nvec = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("n_emb"))
    refined = (
        nvec.join(F.broadcast(topc), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id", "probe_label", "neighbor_id", sq_l2("q_emb", "n_emb").alias("exact_dist")
        )
    )
    return _top_k(refined, _PQ_TOPK, "exact_dist", "neighbor_id").select(
        "query_id", "probe_label", "neighbor_id", "exact_dist", "rank"
    )


# ---------------------------------------------------------------------------
# OPQ-lite: exact orthogonal rotation ahead of PQ
# ---------------------------------------------------------------------------

#: OPQ-lite rotation geometry: dims are ranked by exact integer second
#: moment (energy), rank r pairs with rank 63−r (highest with lowest — the
#: OPQ variance-balancing heuristic), each pair gets the EXACTLY-orthogonal
#: scaled Pythagorean Givens rotation 5·R = [[3, −4], [4, 3]] (3-4-5
#: triangle: RᵀR = I over the rationals, so the scaled integer matrix
#: satisfies R'ᵀR' = 25·I — distances scale uniformly ×25 and L2 order is
#: preserved EXACTLY), and pair p lands in subspace p mod M so per-subspace
#: energy is dealt round-robin. Rotated components stay integer-valued
#: doubles ≤ 7e6; the distance fold peaks at 16 × (14e6)² ≈ 3.1e15 ≪ 2^53.
_OPQ_NDIM = _PQ_M * _PQ_DSUB

_OPQ_BASE_V = f"""
        WITH raw AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS DOUBLE)) AS emb
            FROM embeddings
        ),
        dime AS (
            SELECT u['d'] AS dim,
                   SUM(CAST(u['v'] AS BIGINT) * CAST(u['v'] AS BIGINT)) AS energy
            FROM (SELECT unnest(list_transform(range(1, {_OPQ_NDIM + 1}),
                                j -> {{'d': j, 'v': emb[j]}})) AS u
                  FROM raw)
            GROUP BY 1
        ),
        rnk AS (
            SELECT dim, ROW_NUMBER() OVER (ORDER BY energy DESC, dim) - 1 AS r
            FROM dime
        ),
        prs AS MATERIALIZED (
            SELECT a.r AS p, CAST(a.dim AS INT) AS da, CAST(b.dim AS INT) AS db
            FROM rnk a JOIN rnk b ON b.r = {_OPQ_NDIM - 1} - a.r
            WHERE a.r < {_OPQ_NDIM // 2}
        ),
        rote AS (
            SELECT r.vec_id,
                   CAST((p.p % {_PQ_M}) * {_PQ_DSUB} + (p.p // {_PQ_M}) * 2 + 1 AS INT) AS pos,
                   3 * r.emb[p.da] - 4 * r.emb[p.db] AS val
            FROM raw r CROSS JOIN prs p
            UNION ALL
            SELECT r.vec_id,
                   CAST((p.p % {_PQ_M}) * {_PQ_DSUB} + (p.p // {_PQ_M}) * 2 + 2 AS INT),
                   4 * r.emb[p.da] + 3 * r.emb[p.db]
            FROM raw r CROSS JOIN prs p
        ),
        v AS MATERIALIZED (
            SELECT vec_id, list(val ORDER BY pos) AS emb FROM rote GROUP BY vec_id
        )"""


def opq_rotate(emb: DataFrame) -> DataFrame:
    """Apply the OPQ-lite rotation to a (vec_id, emb[micro]) relation: one
    exact integer energy aggregation ranks the dims, the (model-sized —
    64-row) pairing is collected to the driver, and the rotation itself is
    a single map-side array projection with literal index pairs (no join,
    no shuffle, no Python). See the geometry note above for why the result
    is an exact orthogonal transform."""
    dime = (
        emb.select(F.posexplode("emb").alias("d0", "v"))
        .groupBy((F.col("d0") + 1).alias("dim"))
        .agg(
            F.sum(F.col("v").cast("bigint") * F.col("v").cast("bigint")).alias("energy")
        )
    )
    # A dim absent from the aggregate (zero rows) ranks with energy 0.
    energy = {r["dim"]: r["energy"] for r in dime.collect()}
    order = sorted(range(1, _OPQ_NDIM + 1), key=lambda d: (-energy.get(d, 0), d))
    entries: dict[int, F.Column] = {}
    for p in range(_OPQ_NDIM // 2):
        da, db = order[p], order[_OPQ_NDIM - 1 - p]
        a, b = F.element_at("emb", da), F.element_at("emb", db)
        pos = (p % _PQ_M) * _PQ_DSUB + (p // _PQ_M) * 2 + 1
        entries[pos] = 3 * a - 4 * b
        entries[pos + 1] = 4 * a + 3 * b
    return emb.select(
        "vec_id", F.array(*[entries[i] for i in range(1, _OPQ_NDIM + 1)]).alias("emb")
    )


@register(
    "ann_opq_rotated_topk",
    doc="similarity search, next PQ accuracy rung: OPQ-lite — an exact "
    "integer orthogonal rotation (energy-ranked dim pairing, scaled "
    "Pythagorean Givens) balances variance across subspaces before the "
    "PQ-ADC chain; rotation, training and ranking all inside the oracle",
    oracle=_duckdb_pq_sql(base_v=_OPQ_BASE_V),
)
def ann_opq_rotated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ (Ge et al., He et al.) reduces PQ quantization error by rotating
    the space so variance is balanced across subspaces before independent
    per-subspace quantization. The full algorithm learns R by alternating
    SVD; this is the standard cheap rung below it — a DATA-DRIVEN but
    closed-form rotation: rank dims by energy (exact integer second
    moments), pair the hottest with the coldest, mix each pair with the
    exactly-orthogonal scaled 3-4-5 Givens rotation, and deal pairs
    round-robin across the M subspaces. Because the scaled matrix obeys
    R'ᵀR' = 25·I in INTEGER arithmetic, rotated L2 order equals original
    L2 order exactly — so the recall delta vs plain PQ
    (``opq_recall_vs_exact``) isolates pure quantization improvement, and
    every value stays inside the exact-fold discipline (integer-valued
    doubles, left-to-right folds ≪ 2^53).

    Scale shape: identical to ``ann_pq_adc_topk`` plus one exact integer
    dim aggregation (64 output rows — model-sized) and one map-side array
    projection; the rotation adds NO shuffle and no Python to the corpus
    path."""
    emb = _micro_emb(spark, sf_dir)
    return pq_adc_topk(opq_rotate(emb), query_max_id=10, topk=_PQ_TOPK)


def _opq_recall_oracle() -> str:
    from songs_etl_spark.plans.registry import REGISTRY

    pq = _duckdb_pq_sql()
    opq = _duckdb_pq_sql(base_v=_OPQ_BASE_V)
    bf = REGISTRY["ann_bruteforce_topk"].oracle
    return f"""
        WITH pq AS (SELECT query_id, neighbor_id FROM ({pq})),
             opq AS (SELECT query_id, neighbor_id FROM ({opq})),
             ex AS (SELECT query_id, neighbor_id FROM ({bf}) WHERE rank <= {_PQ_TOPK}),
             jp AS (SELECT COUNT(*) AS m FROM pq JOIN ex USING (query_id, neighbor_id)),
             jo AS (SELECT COUNT(*) AS m FROM opq JOIN ex USING (query_id, neighbor_id))
        SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
               (SELECT m FROM jp) AS n_matched_pq,
               (SELECT m FROM jo) AS n_matched_opq,
               CAST((SELECT m FROM jp) AS DOUBLE) / (SELECT COUNT(*) FROM ex) AS recall_pq,
               CAST((SELECT m FROM jo) AS DOUBLE) / (SELECT COUNT(*) FROM ex) AS recall_opq
    """


@register(
    "opq_recall_vs_exact",
    doc="measured recall@3 of plain PQ vs OPQ-rotated PQ against exact "
    "top-3, side by side — the contract row that pins the rotation's "
    "recall delta inside the value hash",
    tags=("bcast-const",),
    oracle=_opq_recall_oracle(),
)
def opq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ ladder rung's acceptance test: recall@3 of the un-rotated
    PQ-ADC path and the OPQ-rotated path against the same exact top-3, in
    one row — numerators exact ints, ratios single int/int divisions. On
    THIS corpus (near-uniform random vectors, per-dim energies ~equal) the
    rotation's balancing has little to work with, so expect a small delta
    in either direction; on real anisotropic embeddings the gap is the
    point. Either way the number is MEASURED and hash-pinned every run —
    a silent regression in the rotation (a wrong pairing, a non-orthogonal
    mix) shows up as a recall change and fails correctness."""
    pq = ann_pq_adc_topk(spark, sf_dir).select("query_id", "neighbor_id")
    opq = ann_opq_rotated_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ex = _exact_topk(spark, sf_dir, _PQ_TOPK)
    return _recall_tail(
        ex.agg(F.count(F.lit(1)).alias("n_exact")),
        {
            "n_matched_pq": pq.join(ex, ["query_id", "neighbor_id"]),
            "n_matched_opq": opq.join(ex, ["query_id", "neighbor_id"]),
        },
        {"recall_pq": ("n_matched_pq", "n_exact"), "recall_opq": ("n_matched_opq", "n_exact")},
    )
