"""Lloyd's k-means over an embedding column, the one owner of Lloyd's
algorithm: flat k-means (``kmeans_assign``), spherical k-means
(``cosine=True``: label by argmax of dot(v, μ_c)/||μ_c||), the PQ codebooks of plans/pq.py (``subspaces=M``) and the
coarse level of the two-level IVF path all train with ``train_centroids``
and label with ``assign_arrow`` — IVF index builds, corpus organization.

Spark-first design — per round (``_lloyd_round``):

1. **Stats pass**: one Arrow map pass; the model (the k centroids per
   subspace, the rows a broadcast join would ship) rides the task closure,
   each batch labels every subspace with ``_nearest`` and emits its
   ``(sub, cluster, dim, Σv, n)`` partials — at most k·d rows. No shuffle
   of the corpus, no join.
2. **Update**: one small (sub, cluster, dim)-keyed aggregation of the
   partials, collected to the driver as the next round's model (model on
   the driver, data distributed); each component is one IEEE division Σv/n.

The final labelling is one more Arrow map pass with the same kernel.

Reproducibility design (what makes a distributed iterative float algorithm a
pure function of its input): components are quantized to integer MICRO-UNITS
(``floor(x · 10⁶)``) up front. Integers of this size are exactly
representable in doubles, so every partial sum in the centroid means is
exact and therefore independent of partition order and batch boundaries —
the one place float addition order could leak in. Distances fold in array
order (deterministic IEEE sequence, ``_fold_d2``), seeds are the k smallest
vector ids, and the iteration count is fixed, so results are bit-identical
across runs, partitionings, and engines. (A fixed 1e-6 input quantization
is far below any embedding's meaningful precision.)
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_micro(vec_col: str) -> F.Column:
    """float array → exact integer-valued double array in micro-units."""
    return F.transform(vec_col, lambda x: F.floor(x.cast("double") * 1e6).cast("double"))


def _fold_d2(pts, cents, dot: bool = False):
    """(n, k) squared-L2 matrix accumulated dimension-by-dimension: each
    element's op sequence is ``acc + (p_j − c_j)²`` left-to-right — the
    exact IEEE chain of the SQL ``list_reduce`` fold and Spark's
    ``F.aggregate``, so distances computed here are bit-identical to the
    unrolled oracles. (A BLAS matmul or ``.sum(axis)`` pairwise reduction
    would diverge by ulps and could flip near-tie argmins.) ``dot=True``
    folds ``acc + p_j·c_j`` instead: the dot-product chain."""
    import numpy as np

    d2 = np.zeros((pts.shape[0], cents.shape[0]))
    tmp = np.empty_like(d2)
    for j in range(pts.shape[1]):
        # preallocated out= buffers: same IEEE ops per element, no per-dim
        # allocation churn (the matrix is touched d times)
        if dot:
            np.multiply(pts[:, j, None], cents[None, :, j], out=tmp)
        else:
            np.subtract(pts[:, j, None], cents[None, :, j], out=tmp)
            np.multiply(tmp, tmp, out=tmp)
        np.add(d2, tmp, out=d2)
    return d2


def _nearest(pts, cents, cosine: bool = False):
    """The labelling kernel of every Lloyd pass: per row of ``pts``, the
    index of its centroid row in ``cents`` and the score there. Euclidean:
    the first argmin of the fold-order squared L2. Cosine: the first argmax
    of the fold-order dot over the centroid's fold-order norm (a vector's
    own norm is constant per row and cannot change its argmax). Over
    centroids in ascending cluster id, the first index IS the oracles'
    (score, cluster) struct-min tie rule."""
    import numpy as np

    if cosine:
        norm = np.sqrt(_fold_d2(cents, np.zeros((1, cents.shape[1])))[:, 0])
        score = _fold_d2(pts, cents, dot=True) / norm[None, :]
        lab = score.argmax(axis=1)
    else:
        score = _fold_d2(pts, cents)
        lab = score.argmin(axis=1)
    return lab, score[np.arange(len(lab)), lab]


def _models(books: list[list[tuple[int, list[float]]]]) -> list:
    """Per codebook, (cluster ids, centroid matrix) as numpy arrays — the
    form the model rides the task closure in."""
    import numpy as np

    return [
        (np.array([c for c, _ in b], dtype=np.int64), np.array([v for _, v in b], dtype=np.float64))
        for b in books
    ]


def _points(batch: "pd.DataFrame"):
    """An Arrow batch's ``emb`` column as an (n, d) float64 matrix."""
    import numpy as np

    return np.array([np.asarray(e, dtype=np.float64) for e in batch["emb"]])


def assign_arrow(
    vecs: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    cosine: bool = False,
) -> DataFrame:
    """Label every vector of an (id_col, emb) relation in ONE Arrow map
    pass: the codebooks ride the task closure; each batch splits its
    vectors into ``len(books)`` equal-width subspaces and labels each with
    ``_nearest``. Map-side only: no shuffle, no join. One codebook gives
    (id_col, cluster, dist), or (id_col, cluster, sim) with ``cosine``:
    the chosen centroid and its score. M codebooks (PQ) give (id_col,
    code_0, …, code_{M-1})."""
    import pandas as pd

    models = _models(books)
    single = len(models) == 1
    score = "sim" if cosine else "dist"

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            if not len(batch):
                continue
            pts = _points(batch)
            w = pts.shape[1] // len(models)
            out = {id_col: batch[id_col].astype("int64")}
            for j, (ids, cents) in enumerate(models):
                lab, val = _nearest(pts[:, j * w : (j + 1) * w], cents, cosine)
                out["cluster" if single else f"code_{j}"] = ids[lab].astype("int32")
            if single:
                out[score] = val
            yield pd.DataFrame(out)

    cols = [f"code_{j} int" for j in range(len(books))]
    if single:
        cols = ["cluster int", f"{score} double"]
    return vecs.select(id_col, "emb").mapInPandas(run, ", ".join([f"{id_col} long", *cols]))


def kmeans_assign(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """Run ``n_iter`` Lloyd update rounds from deterministic seeds (the k
    vectors with the smallest ids) and return (id_col, cluster, dist): each
    vector's final cluster and squared-L2 distance (micro-units²) to its
    centroid. Clusters that lose all members simply drop out (k shrinks) —
    same behavior on any engine. The driver round-trip of the model is
    bit-preserving (IEEE doubles), so results remain identical to the
    fully-relational formulation the DuckDB oracle unrolls."""
    from songs_etl_spark.plans._util import track_persist

    vecs = track_persist(vectors.select(id_col, quantize_micro(vec_col).alias("emb")))
    return assign_arrow(vecs, train_centroids(vecs, k, n_iter, id_col, seed_ids), id_col)


def _lloyd_round(
    vecs: DataFrame, books: list[list[tuple[int, list[float]]]], cosine: bool = False
) -> list[list[tuple[int, list[float]]]]:
    """One Lloyd round for every subspace at once: ONE Arrow stats pass over
    the (…, emb) relation labels each subspace with ``_nearest`` and emits
    per-batch (sub, cluster, dim, Σv, n) partials, then one small
    aggregation and a model-sized collect give each surviving cluster's
    mean Σv/n. Every training input is integer-valued doubles (micro-units,
    their differences, or the ×25 integer OPQ rotation), so the partial
    sums are exact in any order below 2^53 and the mean is the one IEEE
    division the oracles write as ``SUM(v) / COUNT(*)``. Clusters that lose
    all members drop out; survivors keep their ids."""
    import numpy as np
    import pandas as pd

    models = _models(books)

    def stats(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            if not len(batch):
                continue
            pts = _points(batch)
            w = pts.shape[1] // len(models)
            for j, (ids, cents) in enumerate(models):
                sub = pts[:, j * w : (j + 1) * w]
                lab, _ = _nearest(sub, cents, cosine)
                n = np.bincount(lab, minlength=len(ids))
                s = np.zeros((len(ids), w))
                np.add.at(s, lab, sub)
                live = np.flatnonzero(n)
                yield pd.DataFrame({
                    "sub": j, "cluster": np.repeat(ids[live], w),
                    "dim": np.tile(np.arange(w), len(live)),
                    "s": s[live].ravel(), "n": np.repeat(n[live], w),
                })

    rows = (
        vecs.select("emb")
        .mapInPandas(stats, "sub int, cluster int, dim int, s double, n long")
        .groupBy("sub", "cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    means: dict[tuple[int, int], dict[int, float]] = {}
    for r in rows:
        means.setdefault((r["sub"], r["cluster"]), {})[r["dim"]] = r["s"] / r["n"]
    return [
        [(c, [dims[d] for d in sorted(dims)]) for (sj, c), dims in sorted(means.items()) if sj == j]
        for j in range(len(books))
    ]


def train_centroids(
    vecs: DataFrame,
    k: int,
    n_iter: int,
    id_col: str = "vec_id",
    seed_ids: list[int] | None = None,
    subspaces: int = 1,
    cosine: bool = False,
) -> list[list[tuple[int, list[float]]]]:
    """The Lloyd trainer over any pre-quantized (id_col, emb) relation:
    one codebook per subspace — ``subspaces`` equal-width slices of the
    vector (1 for k-means, M for PQ), all trained together by ``n_iter``
    rounds of ``_lloyd_round``. Seeds are the k smallest ids, or the
    caller's ``seed_ids`` in list order (e.g.
    plans/clustering.kmeans_scalable_seeding — the k-means‖ pass; seed
    order defines cluster numbering). Returns per subspace the final
    [(cluster_id, centroid), ...]; clusters that lose all members drop out
    (ids keep their seed numbering, no renumbering — matching the unrolled
    SQL oracles). Model size subspaces·k·width doubles on the driver —
    bounded by geometry, never by data; an empty relation gives empty
    codebooks."""
    if seed_ids is None:
        seeds = [list(r["emb"]) for r in vecs.orderBy(id_col).limit(k).select("emb").collect()]
    else:
        picked = {
            r[id_col]: list(r["emb"])
            for r in vecs.filter(F.col(id_col).isin(list(seed_ids))).collect()
        }
        missing = [s for s in seed_ids if s not in picked]
        if missing:
            raise ValueError(f"train_centroids: seed ids absent from input: {missing}")
        seeds = [picked[s] for s in seed_ids]
    w = len(seeds[0]) // subspaces if seeds else 0
    books = [
        [(i + 1, s[j * w : (j + 1) * w]) for i, s in enumerate(seeds)] for j in range(subspaces)
    ]
    for _ in range(n_iter):
        books = _lloyd_round(vecs, books, cosine)
    return books


def _lloyd_numpy(pts, k: int, n_iter: int):
    """Single-cell Lloyd on a (n, d) float64 array of micro-quantized
    integers, seeds = first k rows (caller sorts by id). Pure numpy on a
    fixed-order array — bit-deterministic. Returns (k', d) centroids
    (empty clusters dropped, survivors keep their seed order, renumbered
    compactly each iteration).

    Distances accumulate dimension-by-dimension (the j-loop), NOT via the
    expanded-form matmul: ``acc + (p_j − c_j)²`` left-to-right is the exact
    IEEE op sequence of the SQL ``list_reduce`` fold and Spark's
    ``F.aggregate`` — so the two-level assignment is value-oracle-checkable
    (plans/clustering._duckdb_twolevel_sql), not just self-consistent. A
    BLAS matmul's summation order would diverge by ulps once centroids stop
    being integers (iteration ≥ 2) and could flip near-tie argmins."""
    import numpy as np

    cents = pts[:k].copy()
    for _ in range(n_iter):
        lab = _nearest(pts, cents)[0]  # first-min == struct-min (d, sub)
        new = []
        for c in range(cents.shape[0]):
            members = pts[lab == c]
            if len(members):
                # exact: integer-valued doubles sum without rounding
                new.append(members.sum(axis=0) / len(members))
        cents = np.stack(new) if new else cents[:1]
    return cents


def kmeans_assign_twolevel(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    n_iter: int = 3,
    sample_mult: int = 8,
) -> DataFrame:
    """IVF-style two-level k-means assignment: the scale path for k ∝ N.

    Flat Lloyd's assignment step costs N·k distance evaluations per round;
    with SemDeDup's k = N/target_cluster_size that term is N²/size — the
    known asymptotic wall of flat k-means (BASELINE.md scale-stress notes).
    The standard fix is the IVF structure (coarse-then-fine quantization,
    as in IVF ANN indexes — same shape as plans/similarity.ann_ivf_probe):

    1. **Sample** ~``sample_mult·k`` training points by deterministic hash
       coin on the id (md5 low-32-bits mod denom — reproducible, no RNG,
       the cross-engine discipline of plans/sampling.py).
    2. **Coarse train**: flat Lloyd (``train_centroids``) with k_c = ceil(√k)
       centroids ON THE SAMPLE ONLY — cost |S|·√k, independent of N's
       quadratic term; the cell centroids are the means of the sample's
       final coarse assignment (one more ``_lloyd_round``).
    3. **Fine train**: group the sample by coarse cell; per cell, a numpy
       Lloyd (Arrow ``applyInPandas``, rows sorted by id, seeds = lowest
       ids) produces ~k/k_c sub-centroids — per-cell cost |cell|·k_f with
       |cell| ≈ |S|/k_c, so the whole stage is ~|S|·k_f.
    4. **Assign**: ONE Arrow map pass over the N-row relation with the
       trained model (k_c coarse + k fine centroids — the same relations a
       broadcast join would ship) in the task closure: fold-order coarse
       argmin picks the cell (N·√k evals), then each vector meets only its
       own cell's ~√k sub-centroids for the fine argmin (N·√k evals). The
       N-row relation is never shuffled and never joined; cells with no
       fine centroids (possible when the final coarse re-assign moves
       full-data vectors into a cell no sample point landed in) fall back
       to the coarse centroid as their single sub-centroid (sub = k_f).

    Total assignment work is N·2√k instead of N·k — for k ∝ N that turns
    the quadratic term into N^1.5, and tools/scale_stress.py measures the
    resulting curve (semantic_dedup_twolevel row in BASELINE.md).

    Output contract matches ``kmeans_assign``: (id_col, cluster, dist) with
    ``dist`` the squared L2 (micro-units²) to the chosen fine centroid.
    Cluster ids are ``cell · k_f_max + sub`` — stable, disjoint across
    cells. Deterministic end-to-end: hash-coin sample, seed-by-lowest-id at
    both levels, fixed iteration counts, exact integer micro-unit sums.
    """
    import math

    import numpy as np
    import pandas as pd

    k_c = max(2, math.isqrt(k - 1) + 1)
    k_f = max(1, (k + k_c - 1) // k_c)

    from songs_etl_spark.plans._util import track_persist

    vecs = track_persist(vectors.select(id_col, quantize_micro(vec_col).alias("emb")))
    n = vecs.count()
    target = min(n, max(sample_mult * k, 4 * k_c))
    denom = max(1, n // max(1, target))
    # Deterministic hash coin on the id: low 32 bits of md5 mod denom — the
    # cross-engine sampling discipline of plans/sampling.py (Spark conv(
    # substr(md5,25,8)) ≡ DuckDB CAST('0x'||substr(md5,25,8) AS BIGINT)),
    # so the two-level assignment is value-oracle-checkable end to end.
    coin = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 25, 8), 16, 10).cast("bigint")
        % F.lit(denom)
        == 0
    )
    sample = track_persist(vecs.filter(coin))

    # Coarse level: flat Lloyd on the sample; the cells are the sample's
    # final assignment, and the cell centroids their per-cell means — one
    # more Lloyd round over the trained codebook.
    (coarse_book,) = train_centroids(sample, k_c, n_iter, id_col)
    # Persisted: a second two-level run over the same corpus in the session
    # (semantic_dedup_twolevel after kmeans_twolevel_assign) reuses it.
    coarse = track_persist(
        assign_arrow(sample, [coarse_book], id_col)
        .select(id_col, F.col("cluster").alias("cell"))
        .join(sample, id_col)
    )
    (cell_book,) = _lloyd_round(sample, [coarse_book])

    fine_schema = "cell int, sub int, centroid array<double>"

    def train_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cell = int(pdf["cell"].iloc[0])
        pts = _points(pdf.sort_values("__id"))
        cents = _lloyd_numpy(pts, min(k_f, len(pts)), n_iter)
        return pd.DataFrame(
            {"cell": cell, "sub": range(len(cents)), "centroid": [list(c) for c in cents]}
        )

    fine_cents = (
        coarse.select(F.col("cell"), F.col(id_col).alias("__id"), "emb")
        .groupBy("cell")
        .applyInPandas(train_cell, schema=fine_schema)
    )

    # Both assignment stages in ONE Arrow map pass over the N-row relation:
    # the trained model (k_c coarse centroids + k fine sub-centroids, the
    # exact relations the broadcast joins would ship) rides the closure;
    # per batch, a fold-order coarse argmin picks the cell, then each
    # cell-group takes its fold-order (d, sub) argmin over that cell's
    # sub-centroids only. No join, no shuffle, bit-identical to the
    # relational formulation the DuckDB oracle unrolls (_fold_d2 docstring).
    ((cell_ids, cmat),) = _models([cell_book])
    fine_by_cell: dict[int, tuple] = {}
    for cell, sub, cent in sorted(
        (int(r["cell"]), int(r["sub"]), list(r["centroid"])) for r in fine_cents.collect()
    ):
        subs, cents = fine_by_cell.setdefault(cell, ([], []))
        subs.append(sub)
        cents.append(cent)
    # Fallback ONLY for cells with no fine centroids: every trained coarse
    # cell has ≥1 sample member, so this is normally a no-op guard, and it
    # must not compete with the fine centroids in covered cells (the cell
    # mean would beat them and silently deviate from the IVF assignment).
    for cell, cent in cell_book:
        fine_by_cell.setdefault(cell, ([k_f], [cent]))
    fine_np = {
        cell: (np.array(subs, dtype=np.int64), np.array(cents, dtype=np.float64))
        for cell, (subs, cents) in fine_by_cell.items()
    }

    def assign_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            pts = _points(batch)
            ids = batch[id_col].astype("int64").to_numpy()
            cells = cell_ids[_nearest(pts, cmat)[0]]
            out_cluster = np.empty(len(ids), dtype=np.int64)
            out_dist = np.empty(len(ids), dtype=np.float64)
            for cell in np.unique(cells):
                mask = cells == cell
                subs, fmat = fine_np[int(cell)]
                pick, out_dist[mask] = _nearest(pts[mask], fmat)
                out_cluster[mask] = int(cell) * (k_f + 1) + subs[pick]
            yield pd.DataFrame(
                {id_col: ids, "cluster": out_cluster.astype("int32"), "dist": out_dist}
            )

    return vecs.select(id_col, "emb").mapInPandas(
        assign_batches, f"{id_col} long, cluster int, dist double"
    )
