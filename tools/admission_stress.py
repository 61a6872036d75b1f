"""Admission-pipeline lifecycle stress (round-7): per-drain cost and state
growth over a multi-batch ingest.

Text modality: the corpus-rescanning probe (admit_batch_into) re-tokenizes
the admitted corpus every drain, so drain time grows with the corpus; the
persisted-index probe (admit_text_batch_indexed) pays batch-sized map work
plus keyed lookups — its per-drain time should stay ~flat as the corpus
grows. Both paths must produce IDENTICAL verdicts (asserted here on the
full stream, same contract as tests/test_text_indexed_admission.py).

Embedding modality: a duplicate-heavy stream drained with and without
periodic compaction (compact_every) — index sizes and admissions recorded;
admissions must be identical (compaction is admission-invariant).

Usage:
    python tools/admission_stress.py [--batches 8] [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.clock import now
from pyspark.sql import functions as F


def text_leg(
    spark, sf_dir: str, n_batches: int, seed_docs: int = 0, steady_per: int = 0
) -> dict:
    """With ``seed_docs`` set, drain 0 admits that many documents and later
    drains stay small — the steady-state regime where the rescan probe's
    corpus-sized re-tokenize pass shows against the indexed probe's
    state-read. ``steady_per`` pins the steady-state drain size so
    per-drain walls are comparable ACROSS corpus sizes (the crossover
    protocol: same batch, growing corpus)."""
    from songs_etl_spark.streaming.ingest import (
        admit_batch_into,
        admit_text_batch_indexed,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    if steady_per:
        per = steady_per
    elif seed_docs:
        per = max(1, (len(docs) - seed_docs) // max(n_batches - 1, 1))
    else:
        per = max(1, len(docs) // n_batches)
    base = tempfile.mkdtemp(prefix="adm_stress_text_")
    out = {"rescan_s": [], "indexed_s": [], "corpus_docs": []}
    try:
        for i in range(n_batches):
            if seed_docs:
                lo = 0 if i == 0 else seed_docs + (i - 1) * per
                hi = seed_docs if i == 0 else seed_docs + i * per
            else:
                lo, hi = i * per, (i + 1) * per
            rows = [(r.doc_id, r.text) for r in docs[lo:hi]]
            if not rows:
                break
            batch = spark.createDataFrame(rows, "doc_id bigint, text string")
            t0 = now()
            admit_batch_into(
                batch, f"{base}/corpus_r", f"{base}/verdicts_r"
            )
            out["rescan_s"].append(round(now() - t0, 2))
            t0 = now()
            admit_text_batch_indexed(
                batch, f"{base}/corpus_i", f"{base}/state_i", f"{base}/verdicts_i"
            )
            out["indexed_s"].append(round(now() - t0, 2))
            out["corpus_docs"].append(
                spark.read.parquet(f"{base}/corpus_i").count()
            )
        vr = {
            r.doc_id: (r.duplicate_of, r.is_new)
            for r in spark.read.parquet(f"{base}/verdicts_r").collect()
        }
        vi = {
            r.doc_id: (r.duplicate_of, r.is_new)
            for r in spark.read.parquet(f"{base}/verdicts_i").collect()
        }
        assert vr == vi, "indexed text admission diverged from rescan probe"
        out["verdicts_equal"] = True
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def embedding_leg(spark, sf_dir: str, n_batches: int) -> dict:
    """Duplicate-heavy vector stream: each batch is 1/n of the embeddings
    table plus near-copies of batch-0 vectors (the boilerplate flood)."""
    from songs_etl_spark.streaming.ingest import admit_embedding_batch_into
    from songs_etl_spark.streaming.ingest import (
        compact_embedding_admission_state,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .orderBy("vec_id")
    )
    rows = emb.collect()
    per = max(1, len(rows) // n_batches)
    base = tempfile.mkdtemp(prefix="adm_stress_emb_")
    dim = len(rows[0].embedding)
    out = {"plain_index_rows": [], "compact_index_rows": [], "drain_s": []}
    try:
        for i in range(n_batches):
            chunk = rows[i * per: (i + 1) * per]
            if not chunk:
                break
            # 90% duplicate flood: near-copies (scaled — cosine 1.0) of the
            # first batch's vectors, fresh ids per drain
            flood = [
                (10_000_000 + i * 100_000 + j, [x * (1 + (i + 1) / 1000.0) for x in r.embedding])
                for j, r in enumerate(rows[: 9 * len(chunk)])
            ]
            batch = spark.createDataFrame(
                [(r.vec_id, list(r.embedding)) for r in chunk] + flood,
                "vec_id bigint, embedding array<double>",
            )
            for mode, every in (("plain", None), ("compact", 2)):
                t0 = now()
                admit_embedding_batch_into(
                    batch,
                    f"{base}/corpus_{mode}",
                    f"{base}/index_{mode}",
                    f"{base}/verdicts_{mode}",
                    dim=dim,
                )
                if every and (i + 1) % every == 0:
                    compact_embedding_admission_state(
                        spark, f"{base}/corpus_{mode}", f"{base}/index_{mode}", dim=dim
                    )
                if mode == "plain":
                    out["drain_s"].append(round(now() - t0, 2))
                out[f"{mode}_index_rows"].append(
                    spark.read.parquet(f"{base}/index_{mode}").count()
                )
        vp = {
            r.vec_id: (r.duplicate_of, r.is_new)
            for r in spark.read.parquet(f"{base}/verdicts_plain").collect()
        }
        vc = {
            r.vec_id: (r.duplicate_of, r.is_new)
            for r in spark.read.parquet(f"{base}/verdicts_compact").collect()
        }
        assert vp == vc, "compaction changed admissions"
        out["admissions_equal"] = True
        out["batch_rows"] = per * 10
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def crossover_leg(spark, dirs: list[str], n_batches: int, steady_per: int) -> dict:
    """Round-8 crossover protocol (round-7 verdict task 2): IDENTICAL
    steady-state drains (``steady_per`` docs each) against corpora of
    growing size — drain 0 seeds all but the last (n_batches-1) batches,
    then per-drain wall is recorded for the rescan probe vs the
    LSM-indexed probe. The 100 TB claim this measures: the rescan probe's
    per-drain cost grows with the corpus (it re-tokenizes every admitted
    document every drain) while the indexed probe's stays ~flat (batch-
    sized map work + keyed lookups against persisted postings). Verdict
    identity between the two probes is asserted inside every leg."""
    out: dict = {}
    for d in dirs:
        n_docs = spark.read.parquet(f"{d}/documents.parquet").count()
        seed = max(1, n_docs - (n_batches - 1) * steady_per)
        leg = text_leg(spark, d, n_batches, seed_docs=seed, steady_per=steady_per)
        out[d] = {
            "n_docs": n_docs,
            "seed_docs": seed,
            # drain 0 is the seeding drain (corpus-sized for BOTH probes);
            # steady-state = drains 1..n
            "rescan_steady_s": leg["rescan_s"][1:],
            "indexed_steady_s": leg["indexed_s"][1:],
            "seed_drain_s": {"rescan": leg["rescan_s"][0], "indexed": leg["indexed_s"][0]},
            "verdicts_equal": leg["verdicts_equal"],
        }
        print(
            f"-- {d}: corpus {n_docs} docs, steady drains of {steady_per}: "
            f"rescan {out[d]['rescan_steady_s']} s vs indexed "
            f"{out[d]['indexed_steady_s']} s",
            flush=True,
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--seed-docs", type=int, default=0)
    ap.add_argument("--skip-embedding", action="store_true")
    ap.add_argument(
        "--crossover-dirs",
        default="",
        help="comma-separated sf dirs of GROWING size (e.g. the kept "
        ".scale_stress/m10,m30 corpora); runs the fixed-batch crossover "
        "protocol against each and prints the rescan-vs-indexed curve",
    )
    ap.add_argument(
        "--steady-batch",
        type=int,
        default=500,
        help="steady-state drain size (docs) for the crossover protocol",
    )
    args = ap.parse_args()

    from songs_etl_spark.session import get_spark

    spark = get_spark("admission-stress")
    if args.crossover_dirs:
        dirs = [d for d in args.crossover_dirs.split(",") if d]
        cross = crossover_leg(spark, dirs, args.batches, args.steady_batch)
        print(json.dumps({"crossover": cross}))
        print("\n| corpus docs | rescan steady drains (s) | indexed steady drains (s) |")
        print("|---|---|---|")
        for d, leg in cross.items():
            print(
                f"| {leg['n_docs']} | {leg['rescan_steady_s']} | "
                f"{leg['indexed_steady_s']} |"
            )
        spark.stop()
        return 0
    text = text_leg(spark, args.sf, args.batches, seed_docs=args.seed_docs)
    embv = (
        {"plain_index_rows": [], "compact_index_rows": [], "drain_s": []}
        if args.skip_embedding
        else embedding_leg(spark, args.sf, args.batches)
    )
    print(json.dumps({"text": text, "embedding": embv}))

    print("\n| drain | rescan (s) | indexed (s) | corpus docs |")
    print("|---|---|---|---|")
    for i, (a, b, n) in enumerate(
        zip(text["rescan_s"], text["indexed_s"], text["corpus_docs"])
    ):
        print(f"| {i} | {a} | {b} | {n} |")
    print("\n| drain | plain index rows | compacted index rows | drain (s) |")
    print("|---|---|---|---|")
    for i, (a, b, s) in enumerate(
        zip(embv["plain_index_rows"], embv["compact_index_rows"], embv["drain_s"])
    ):
        print(f"| {i} | {a} | {b} | {s} |")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
