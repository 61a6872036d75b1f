"""BPE trainer stress at PRODUCTION round counts (round-6 verdict task 2).

The batched trainer's argument is driver-barrier count: a production
tokenizer is 30k+ merges, and `bpe_train_merges` (the trainer loop
`_train_merges` at k=1) pays one Spark job + one collect PER MERGE while
`bpe_train_merges_batched` (k=K) pays ~R/K. The
registered oracle regime (R=8) cannot show that, and the TESTDATA corpus
cannot either — its synthetic text holds only ~31 distinct words, so the
vocabulary exhausts after a few dozen merges. This harness therefore trains
on a deterministic ZIPFIAN synthetic vocabulary (hash-composed words, freq
= 1e6/(rank+1)) through the PUBLIC encoding seam (bpe_encode_base), at
R>=512 for k=1 and several K values, recording wall time, the
MEASURED barrier count (which bakes in the conflict/tie truncation rate)
and bit-equality of the full merge tables.

Round-7 finding this harness exposed: with per-round persist() the logical
plan chained one projection per round and Catalyst re-analysis made round
cost grow without bound (~1 s -> 40+ s by round 16 on a 20k vocab); the
trainer loop localCheckpoints per round, making per-round cost constant
— the fix that actually unlocks production R, independent of K.

Usage:
    python tools/bpe_stress.py [--rounds 512] [--vocab 100000]
        [--ks 4,16,64,256] [--skip-sequential] [--compare-incremental]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.clock import now
from pyspark.sql import functions as F


def zipf_vocab(spark, n: int):
    """Deterministic (word, freq) relation: word i is 3-8 hash-derived
    letters; freq follows 1e6/(i+1) (Zipf). Collisions collapse by max —
    the vocabulary is large, skewed, and identical on every run."""
    return (
        spark.range(n)
        .select(
            F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(1), (F.pmod("id", 6) + 3).cast("int")),
                    lambda i: F.chr(F.lit(97) + F.pmod(F.xxhash64("id", i), 26)),
                ),
            ).alias("word"),
            (F.lit(1_000_000) / (F.col("id") + 1)).cast("bigint").alias("freq"),
        )
        .groupBy("word")
        .agg(F.max("freq").alias("freq"))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=512)
    ap.add_argument("--vocab", type=int, default=100_000)
    ap.add_argument("--ks", default="4,16,64,256")
    ap.add_argument(
        "--skip-sequential",
        action="store_true",
        help="measure only the batched legs (the sequential k=1 leg is ~R jobs)",
    )
    ap.add_argument(
        "--compare-incremental",
        action="store_true",
        help="run each batched K leg TWICE — full recount vs delta-maintained "
        "pair counts — assert identical merge tables, record both walls "
        "(the measured-crossover protocol for the incremental seam)",
    )
    args = ap.parse_args()
    ks = [int(k) for k in args.ks.split(",")]

    from songs_etl_spark.plans._util import clear_tracked_persists
    from songs_etl_spark.plans.text import _train_merges, bpe_encode_base
    from songs_etl_spark.session import get_spark

    spark = get_spark("bpe-stress")
    base = bpe_encode_base(zipf_vocab(spark, args.vocab)).persist()
    n_words = base.count()
    print(f"-- zipf vocab: {n_words} distinct words, R={args.rounds}", flush=True)

    results: dict[str, dict] = {}
    seq_rows = None
    if not args.skip_sequential:
        t0 = now()
        seq_rows, _, seq_barriers = _train_merges(base, args.rounds)
        secs = round(now() - t0, 2)
        clear_tracked_persists()  # every round's cut words relation
        results["sequential"] = {
            "secs": secs,
            "barriers": seq_barriers,
            "merges": len(seq_rows),
        }
        print(f"   sequential        {secs:8.2f} s  {seq_barriers} barriers", flush=True)

    modes = [False, True] if args.compare_incremental else [False]
    tables: dict = {}
    for k in ks:
        for incremental in modes:
            label = f"batched_k{k}" + ("_delta" if incremental else "")
            t0 = now()
            round_walls: list[float] = []
            last = [t0]

            def on_round(barrier_idx, merges_done):
                t = now()
                round_walls.append(t - last[0])
                last[0] = t

            rows, _, barriers = _train_merges(
                base, args.rounds, k=k, on_round=on_round, incremental=incremental
            )
            secs = round(now() - t0, 2)
            clear_tracked_persists()
            # Per-round wall curve: quartile means show whether round cost
            # DROPS with merge rank (the delta-maintenance claim: affected-
            # word mass shrinks down the Zipf tail) or stays overhead-bound.
            if len(round_walls) >= 8:
                q = len(round_walls) // 4
                quartiles = [
                    round(sum(round_walls[i * q : (i + 1) * q]) / q, 2)
                    for i in range(4)
                ]
                print(f"   {label} per-round wall by quartile: {quartiles} s", flush=True)
            else:
                quartiles = None
            equal = None
            if seq_rows is not None:
                equal = rows == seq_rows
                if not equal:
                    raise AssertionError(
                        f"{label} diverged from sequential at R={args.rounds}"
                    )
            tables[label] = rows
            other = f"batched_k{k}" if incremental else None
            if other and other in tables and tables[other] != rows:
                raise AssertionError(
                    f"delta-maintained K={k} diverged from the recount table"
                )
            results[label] = {
                "secs": secs,
                "barriers": barriers,
                "merges": len(rows),
                "bit_equal_to_sequential": equal,
                "round_wall_quartiles": quartiles,
            }
            eq = "" if equal is None else ("  == sequential" if equal else "  DIVERGED")
            print(
                f"   {label:22s} {secs:8.2f} s  {barriers} barriers "
                f"({len(rows) / max(barriers, 1):.1f} merges/round){eq}",
                flush=True,
            )

    base.unpersist()
    print(json.dumps({"n_words": n_words, "rounds": args.rounds, "results": results}))

    print("\n| trainer | wall (s) | driver barriers | merges/barrier |")
    print("|---|---|---|---|")
    for name, r in results.items():
        print(
            f"| {name} | {r['secs']} | {r['barriers']} | "
            f"{r['merges'] / max(r['barriers'], 1):.1f} |"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
