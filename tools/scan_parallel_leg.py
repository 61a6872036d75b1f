"""Scan-parallel bench leg (round-12 verdict item 5).

The driver's 8-vs-32-core scaling block is uninformative on the stock
testdata: every table is a single-row-group parquet file, so scan
parallelism is 1 task and the headline queries are overhead-bound — the
measured core-count ratios sit at ~1 and say nothing about the engine's
parallel posture. This tool builds a corpus whose scans actually split and
measures the same headline queries at two core counts on it.

Leg corpus (``build``): every heavy table (lineitem, orders, events,
documents, embeddings) is replicated ``--mult`` times with deterministic
id offsets (replica k of a row gets pk + k·(max_pk+1); orders/lineitem
offset o_orderkey consistently so the star joins keep their fan-out), then
written as a 32-file parquet directory — multi-file, multi-row-group, so a
scan yields 32 splits. Replica content is perturbed as in
tools/scale_stress.py, so the leg measures scan parallelism rather than
duplicate-group skew: replica k's document text is the base text with its
tokens reordered by a per-replica hash (``scale_stress._scrambled`` — same
vocabulary, disjoint shingles), and events.user_id is offset like a key
(user_id + k·(max_user_id+1)), so replicas add users instead of making
each user ``--mult`` times denser. Dimensions
(region/nation/customer/supplier/part) are copied unreplicated. No RNG
anywhere; the corpus is a pure function of the base SF.

Measurement (``run``): same methodology as bench.py — warm-up pass at
sf0.001 for codegen, shingle/persist caches cleared before each timed
pass, per-query min over ``--reps`` passes through the noop sink. Run it
twice with different $SPARK_GRAFT_CPUS and compare:

    python tools/scan_parallel_leg.py build --out /tmp/scanleg --mult 10
    SPARK_GRAFT_CPUS=32 python tools/scan_parallel_leg.py run --dir /tmp/scanleg
    SPARK_GRAFT_CPUS=8  python tools/scan_parallel_leg.py run --dir /tmp/scanleg

BASELINE.md records the measured ratio table. This is a measurement leg,
not a correctness gate: the replicated corpus has no DuckDB oracle, and
the driver's bench contract (bench.py at $SPARK_GRAFT_SF_DIR) is
untouched.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from songs_etl_spark.session import get_spark
from tools.scale_stress import _scrambled

DIMS = ["region", "nation", "customer", "supplier", "part"]
OUT_FILES = 32


def build(base: str, out: str, mult: int) -> None:
    spark = get_spark("scanleg-build")
    os.makedirs(out, exist_ok=True)

    def read(table: str):
        return spark.read.parquet(f"{base}/{table}.parquet")

    def step(df, col: str) -> int:
        return df.agg(F.max(col)).first()[0] + 1

    def write(df, table: str) -> None:
        df.repartition(OUT_FILES).write.mode("overwrite").parquet(f"{out}/{table}.parquet")

    def replicate(df, offsets: dict[str, int], perturb=lambda k: {}):
        """Union of ``mult`` replicas; replica k shifts each ``offsets``
        column by k·step and overrides the columns ``perturb(k)`` returns."""
        outdf = df
        for k in range(1, mult):
            cols = {c: F.col(c) + F.lit(k * n) for c, n in offsets.items()}
            outdf = outdf.unionByName(df.withColumns({**cols, **perturb(k)}))
        return outdf

    # orders + lineitem share the o_orderkey offset so the star fan-out is
    # preserved per replica.
    orders, lineitem = read("orders"), read("lineitem")
    n_ord = step(orders, "o_orderkey")
    write(replicate(orders, {"o_orderkey": n_ord}), "orders")
    write(replicate(lineitem, {"l_orderkey": n_ord}), "lineitem")

    events = read("events")
    offsets = {c: step(events, c) for c in ("event_id", "user_id")}
    write(replicate(events, offsets), "events")

    docs = read("documents")
    docs = replicate(
        docs, {"doc_id": step(docs, "doc_id")}, lambda k: {"text": _scrambled(F.col("text"), k)}
    )
    write(docs, "documents")

    emb = read("embeddings")
    write(replicate(emb, {"vec_id": step(emb, "vec_id")}), "embeddings")

    for table in DIMS:
        read(table).repartition(4).write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    spark.stop()


def run(leg_dir: str, reps: int) -> None:
    from songs_etl_spark.plans import REGISTRY
    from songs_etl_spark.plans._util import clear_tracked_persists
    from songs_etl_spark.plans.dedup import clear_shingle_cache

    spark = get_spark("scanleg-run")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = [n for n, s in REGISTRY.items() if s.bench]
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for name in names:
            try:
                REGISTRY[name].fn(spark, warm).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception as exc:  # pragma: no cover
                print(f"warm-up failed for {name}: {exc!r}", file=sys.stderr)
    passes: list[dict[str, float]] = []
    for _ in range(reps):
        clear_shingle_cache()
        clear_tracked_persists()
        per: dict[str, float] = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"scanleg:{name}")
            start = time.perf_counter()
            REGISTRY[name].fn(spark, leg_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            per[name] = round(time.perf_counter() - start, 3)
            spark.sparkContext.setJobDescription(None)
        passes.append(per)
    timings = {n: min(p[n] for p in passes) for n in names}
    print(
        json.dumps(
            {
                "leg": leg_dir,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "reps": reps,
                "queries": timings,
                "total": round(sum(timings.values()), 3),
                "pass_totals": [round(sum(p.values()), 3) for p in passes],
            }
        )
    )
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["build", "run"])
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/scanleg")
    ap.add_argument("--dir", default="/tmp/scanleg")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if args.mode == "build":
        build(args.base, args.out, args.mult)
    else:
        run(args.dir, args.reps)


if __name__ == "__main__":
    main()
