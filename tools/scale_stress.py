"""Scale-stress harness for the near-dup / clustering family.

Builds 1x / 3x / 10x replica corpora of the sf0.1 testdata with
tools/corpus.py (perturbed replicas plus a hot shingle, a duplicate
mega-group and a co-purchase hub part), then times every scale-path query at
each multiplier with perf_profile.time_queries, persisted relations
released before every rep. The point is a measured scaling CURVE (is
wall-time growth sub-quadratic? does the hot key stall a task?), not
another correctness pass — BASELINE.md records the table.

Usage:
    python tools/scale_stress.py [--mults 1,3,10] [--base /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from songs_etl_spark.plans._util import cut, t

QUERIES = (
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_connected_components",
    "dedup_connected_components_twostar",
    "embedding_neardup_lsh",
    "rh_neardup_hisim",
    "dedup_duplicate_spans",
    "semantic_dedup_scaled",
    "semantic_dedup_twolevel",
    "dedup_incremental_batch",
    "bloom_decontaminate",
    "bpe_train_merges",
    "bpe_train_merges_batched",
    "bpe_segment_counts",
    "embedding_incremental_admission",
    "ccnet_perplexity_buckets",
    "rag_context_pack",
    "rag_context_pack_ivf",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "mmr_diverse_rerank",
    "link_prediction_resource_alloc",
    "naive_bayes_langid",
    "textrank_keywords",
    "dedup_containment_asymmetric",
    "hits_hubs_authorities",
    "ppr_part_recommendations",
    "item_item_cosine_cf",
    "kaplan_meier_repurchase",
    "knn_graph_scaled",
    "graph_bfs_distance",
    "negative_edge_sample",
    "graph_edge_churn_monthly",
    # events-table legs (replicated since round 9 — more users, same month)
    "user_sessionization",
    "asof_strict_prior_click",
    "interval_overlap_sessions",
    "moments_sketch_quantiles",
    "range_join_error_clicks",
)

#: The registered embedding_neardup_lsh runs the testdata's adversarial
#: 0.4-cosine regime, where sign-LSH candidate pruning is information-
#: theoretically impossible (see plans/similarity.py) — candidates grow
#: ~4·C(n,2). It is measured only up to this multiplier; the production
#: regime row (rh_neardup_hisim: threshold 0.9, 12-bit × 16 bands) covers
#: the full curve.
LOWSIM_MAX_MULT = 3


def _scaled_cells(emb):
    """(vec_id, cell) from the two-level k-means at the k ∝ N scale
    contract: k = N/500, so cells hold ~500 vectors at any corpus size."""
    from songs_etl_spark.operators.clustering import kmeans_assign_twolevel

    k = max(8, emb.count() // 500)
    return kmeans_assign_twolevel(emb, k=k, n_iter=3).select("vec_id", F.col("cluster").alias("cell"))


def rh_neardup_hisim(spark, sf_dir):
    from songs_etl_spark.plans.similarity import rh_neardup_pairs

    return rh_neardup_pairs(t(spark, sf_dir, "embeddings"))


def semantic_dedup_scaled(spark, sf_dir):
    """SemDeDup at its own scale contract: the registered query fixes k=8
    for the oracle, but the paper's cost model requires k ∝ N so cluster
    size (and hence the within-cluster pair stage) stays constant. Here
    k = N/500 — the measured curve should be ~linear in N."""
    from songs_etl_spark.plans.similarity import semdedup_keep

    emb = t(spark, sf_dir, "embeddings")
    k = max(8, emb.count() // 500)
    return semdedup_keep(emb, k=k, n_iter=3)


def semantic_dedup_twolevel(spark, sf_dir):
    """SemDeDup at the same k ∝ N contract but with the IVF two-level
    assignment (operators/clustering.kmeans_assign_twolevel): coarse √k
    quantizer trained on a hash sample, per-cell Arrow Lloyd for the fine
    level, one Arrow map pass for both assignment stages. The flat variant's N·k
    assignment term becomes N·2√k — this row's curve vs
    semantic_dedup_scaled's is the measured payoff."""
    from songs_etl_spark.plans.similarity import semdedup_keep_from_assignment

    emb = t(spark, sf_dir, "embeddings")
    return semdedup_keep_from_assignment(emb, _scaled_cells(emb).withColumnRenamed("cell", "cluster"))


def knn_graph_scaled(spark, sf_dir):
    """knn_graph_ivf at its scale contract: the registered query keys cells
    off the fixed ``label`` column (10 cells — cell size grows with the
    corpus, so Σ|cell|² grows quadratically by construction). Production
    runs k ∝ N learned cells (same contract as semantic_dedup_scaled), which
    keeps per-cell size ~constant; this row measures that curve, mega-group
    included (the 1001 bit-identical vectors land in one cell and bound its
    window at ~10⁶ scored rows regardless of multiplier)."""
    from songs_etl_spark.plans.similarity import knn_topk_within_cells

    emb = t(spark, sf_dir, "embeddings")
    cells = _scaled_cells(emb)
    return knn_topk_within_cells(emb.join(cells, "vec_id").select("vec_id", "cell", "embedding"))


def nndescent_build_scaled(spark, sf_dir):
    """NN-descent index BUILD at its scale contract (round-10 verdict
    what's-wrong #2 closed): init cells from the two-level assignment with
    k ∝ N — |cell| stays ~500 so the init's Σ|cell|² term becomes ~N·500
    — then the usual capped symmetrize/propose/re-rank rounds at the
    composed search's degree. The curve vs knn_graph_scaled (same bounded
    cells, no rounds) isolates what NN-descent's rounds cost on top of a
    bounded init; vs the round-10 label-cell legs it shows the init wall
    removed."""
    from songs_etl_spark.plans.similarity import _GB_ND_K, nndescent_edges

    emb = t(spark, sf_dir, "embeddings")
    return nndescent_edges(emb, k=_GB_ND_K, init_cells=_scaled_cells(emb))


def graph_beam_nnd_scaled(spark, sf_dir):
    """The composed graph-ANN production path at scale (round-10 verdict
    #1's m-leg): beam search over the symmetrized NN-descent index whose
    init runs on two-level cells with k ∝ N. Same search plan as the
    registered ann_graph_beam_search_nnd; only the init assignment is the
    scale-grade one (the registered query keeps label cells for the
    oracle). Compare against the ann_graph_beam_search SOLO legs
    (BASELINE.md round 10: 2.6x per 3x data — the per-cell build term)."""
    from songs_etl_spark.plans.similarity import _graph_beam_topk, _nnd_search_edges

    emb = t(spark, sf_dir, "embeddings")
    cands = emb.filter(F.col("vec_id") >= 10)
    edges = cut(_nnd_search_edges(cands, init_cells=_scaled_cells(cands)))
    return _graph_beam_topk(emb, edges)


def kcore_peel_k120(spark, sf_dir):
    """kcore_decomposition_peel's machinery with k raised to the stress
    corpus's MEDIAN degree (120; min is 38): at the registered k=4 the
    replicated corpora are already a 4-core — the fixed-point probe exits
    at round 0 and the measured curve is just the edge build + one degree
    pass. k=120 forces real peel rounds (round 0 drops ~half the nodes,
    the cascade follows) — measuring the per-round semi-join + rewrite
    machinery the registered query pays on graphs that do peel."""
    from songs_etl_spark.plans.graphs import kcore_peel_core

    return kcore_peel_core(spark, sf_dir, k=120)


STRESS_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_stress")


#: Stress-LOCAL legs (globals in this file, not in REGISTRY, so they carry
#: no tags) whose plans contain the same broadcast-1-row-aggregate cross
#: joins their registered counterparts quarantine with 'bcast-const':
#: nndescent_build_scaled / graph_beam_nnd_scaled run knn_graph_nndescent's
#: and ann_graph_beam_search_nnd's machinery (the N-count broadcast of the
#: rank-space seeding, the entry/query-set broadcasts) with only the init
#: cell assignment swapped.
_LOCAL_BCAST_CONST = {"nndescent_build_scaled", "graph_beam_nnd_scaled"}


def stress_rule(name: str, plan: str) -> bool:
    """The nested-loop tag rule (oracle_check.untagged_nested_loop) plus one
    stricter clause at stress scale: a CartesianProduct (a shuffled pair
    enumeration) fails even for tagged queries. The stress-local legs above
    count as 'bcast-const'; other local legs have no tags."""
    from songs_etl_spark.plans import REGISTRY
    from tools.oracle_check import untagged_nested_loop

    tags = ("bcast-const",) if name in _LOCAL_BCAST_CONST else getattr(REGISTRY.get(name), "tags", ())
    return "CartesianProduct" in plan or untagged_nested_loop("BroadcastNestedLoopJoin" in plan, tags)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,3,10")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument(
        "--reuse",
        action="store_true",
        help="skip the corpus build when the multiplier dir already exists",
    )
    ap.add_argument("--no-clean", action="store_true", help="keep the corpora on exit (for --reuse)")
    ap.add_argument(
        "--partitions",
        type=int,
        default=0,
        help="override spark.sql.shuffle.partitions for the timed runs (0 = session default)",
    )
    ap.add_argument("--reps", type=int, default=1, help="time each query REPS times, keep the min")
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    names = args.queries.split(",")

    from songs_etl_spark.plans import REGISTRY
    from songs_etl_spark.session import get_spark
    from songs_etl_spark.sources.catalog import clear_table_cache
    from tools.corpus import build
    from perfbench.clock import now
    from tools.perf_profile import time_queries, warm_up

    spark = get_spark("scale-stress")
    if args.partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.partitions))
    fns = {n: REGISTRY[n].fn if n in REGISTRY else globals()[n] for n in names}
    # Codegen warm-up on the base dir so the 1x timings aren't compile-bound.
    warm_up(spark, fns, args.base)

    results: dict[str, dict[str, float]] = {name: {} for name in names}
    sizes: dict[str, dict[str, int]] = {}
    for mult in mults:
        out_dir = os.path.join(STRESS_ROOT, f"m{mult}")
        t0 = now()
        # events.parquet is the newest table in the corpus — a pre-round-9
        # cached dir without it must be rebuilt even under --reuse
        if not (args.reuse and os.path.isdir(f"{out_dir}/events.parquet")):
            build(spark, args.base, out_dir, mult)
            # The corpus dir may have just been rewritten in place: drop
            # memoized table handles so reads re-list files/schema.
            clear_table_cache()
        gen_s = now() - t0
        n_docs = spark.read.parquet(f"{out_dir}/documents.parquet").count()
        n_vecs = spark.read.parquet(f"{out_dir}/embeddings.parquet").count()
        sizes[f"m{mult}"] = {"docs": n_docs, "vecs": n_vecs}
        print(f"-- m{mult}: {n_docs} docs, {n_vecs} vecs (generated in {gen_s:.1f}s)")
        for name, fn in fns.items():
            if name == "embedding_neardup_lsh" and mult > LOWSIM_MAX_MULT:
                print(
                    f"   {name:38s}  omitted at {mult}x: 0.4-threshold regime is "
                    "unprunable by design; see rh_neardup_hisim for the production curve"
                )
                continue
            timed = time_queries(spark, {name: fn}, out_dir, max(args.reps, 1), rule=stress_rule)
            secs = results[name][f"m{mult}"] = timed["queries"][name]
            reps_note = f"  (reps: {[p[name] for p in timed['passes']]})" if args.reps > 1 else ""
            print(
                f"   {name:38s} {secs:8.2f} s  build {timed['build_s'][name]:.2f} "
                f"/ exec {timed['exec_s'][name]:.2f}{reps_note}"
            )
    print(json.dumps({"sizes": sizes, "seconds": results}))

    # Markdown table for BASELINE.md.
    cols = [f"m{m}" for m in mults]
    print("\n| query | " + " | ".join(f"{c} (s)" for c in cols) + " | growth vs corpus |")
    print("|---|" + "---|" * (len(cols) + 1))
    for name in names:
        r = results[name]
        if r.get(cols[0]) and r.get(cols[-1]):
            growth = r[cols[-1]] / r[cols[0]]
            note = f"{growth:.1f}x time for {mults[-1]}x data"
        else:
            note = "n/a"
        print(f"| {name} | " + " | ".join(str(r.get(c, "-")) for c in cols) + f" | {note} |")
    if not args.no_clean:
        shutil.rmtree(STRESS_ROOT, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
