"""Replica corpus builder: ``--mult`` disjoint copies of a testdata directory,
written as 32-file parquet per table, so scans split into many tasks (the
stock testdata is single-row-group parquet: scan parallelism 1, core-count
ratios ≈1 by construction). No RNG: the corpus is a pure function of the base.

Replica k shifts each key by k·(max key + 1), so replicas share no key and
every join keeps its per-replica fan-out: o_orderkey/l_orderkey,
o_custkey/c_custkey, l_partkey/p_partkey, doc_id, vec_id, and events'
event_id and user_id (more users over the same month, not denser ones).
region, nation and supplier are copied once (l_suppkey is not shifted).
Replica content is perturbed: documents of base doc_id % 10 == 0 get a
2-token replica prefix (true near-duplicates), the rest their tokens
reordered by a per-replica hash (same vocabulary, disjoint 3-shingles);
embeddings of base vec_id % 10 == 0 are scaled copies (cosine 1.0), the rest
get per-(k, i) sign flips — no two replica vectors are bit-identical.

Three skew plants: a hot shingle (20% of all documents end in the same
3-token phrase, far past the near-dup DF cap), a mega-group (MEGA_COPIES
bit-identical copies of vector 0, ids from 1e9, which ``rh_neardup_pairs``
must collapse before banding) and a hub part (HUB_PARTKEY, not in ``part``,
added to every 5th order: a co-purchase node ``RA_HUB_CAP`` must prune).

Scan leg (headline set on a multi-file corpus at two core counts):

    python tools/corpus.py --base <testdata>/sf0.1 --out /tmp/scanleg --mult 10
    SPARK_GRAFT_CPUS=4 python tools/perf_profile.py --bench --sf /tmp/scanleg
    SPARK_GRAFT_CPUS=2 python tools/perf_profile.py --bench --sf /tmp/scanleg

tools/scale_stress.py builds its ×1/×3/×10 corpora with the same builder.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OUT_FILES = 32

#: Size of the bit-identical duplicate mega-group planted in every corpus.
MEGA_COPIES = 1000

#: Part key of the planted co-purchase hub.
HUB_PARTKEY = 999_999_999


def replicate(df: DataFrame, offsets: dict[str, int], mult: int, perturb=lambda k: {}) -> DataFrame:
    """Union of ``mult`` replicas of ``df``: replica 0 is ``df`` itself,
    replica k shifts each ``offsets`` column by k·offset and overrides the
    columns ``perturb(k)`` returns (expressions over the base row)."""
    out = df
    for k in range(1, mult):
        shifted = {c: F.col(c) + F.lit(k * n) for c, n in offsets.items()}
        out = out.unionByName(df.withColumns({**shifted, **perturb(k)}))
    return out


def _scrambled(text_col: F.Column, k: int) -> F.Column:
    """Tokens reordered by a per-replica hash — same vocabulary, disjoint
    3-shingles."""
    from songs_etl_spark.functions.text import tokens

    tok = tokens(text_col)
    ordered = F.transform(
        F.array_sort(
            F.transform(tok, lambda t: F.struct(F.xxhash64(t, F.lit(k)).alias("h"), t.alias("t")))
        ),
        lambda s: s["t"],
    )
    return F.array_join(ordered, " ")


def _doc_text(k: int) -> dict[str, F.Column]:
    near_dup = F.concat(F.lit(f"r{k}a r{k}b "), F.col("text"))
    return {"text": F.when(F.col("doc_id") % 10 == 0, near_dup).otherwise(_scrambled(F.col("text"), k))}


def _embedding(k: int) -> dict[str, F.Column]:
    flipped = F.transform(
        F.col("embedding"),
        lambda x, i: (x * (1 - 2 * F.pmod(F.xxhash64(F.col("vec_id"), i, F.lit(k)), F.lit(2)))).cast("float"),
    )
    scaled = F.transform(F.col("embedding"), lambda x: (x * F.lit(1.0 + k / 1000.0)).cast("float"))
    return {"embedding": F.when(F.col("vec_id") % 10 == 0, scaled).otherwise(flipped)}


def build(spark: SparkSession, base: str, out: str, mult: int) -> None:
    """Write the ×``mult`` corpus of ``base`` to ``out`` (all ten tables)."""

    def read(table: str) -> DataFrame:
        return spark.read.parquet(f"{base}/{table}.parquet")

    def step(table: str, col: str) -> int:
        return read(table).agg(F.max(col)).first()[0] + 1

    def write(df: DataFrame, table: str) -> None:
        df.repartition(OUT_FILES).write.mode("overwrite").parquet(f"{out}/{table}.parquet")

    o_step, c_step, p_step = step("orders", "o_orderkey"), step("customer", "c_custkey"), step("part", "p_partkey")
    write(replicate(read("orders"), {"o_orderkey": o_step, "o_custkey": c_step}, mult), "orders")
    write(replicate(read("customer"), {"c_custkey": c_step}, mult), "customer")
    write(replicate(read("part"), {"p_partkey": p_step}, mult), "part")
    for table in ("region", "nation", "supplier"):
        write(read(table), table)

    li = replicate(read("lineitem"), {"l_orderkey": o_step, "l_partkey": p_step}, mult)
    hub = (
        li.filter(F.col("l_orderkey") % 5 == 0)
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("l_shipdate"))
        .select(
            "l_orderkey",
            F.lit(HUB_PARTKEY).cast("long").alias("l_partkey"),
            F.lit(1).cast("long").alias("l_suppkey"),
            F.lit(99).cast("int").alias("l_linenumber"),
            F.lit(1.0).alias("l_quantity"),
            F.lit(1.0).alias("l_extendedprice"),
            F.lit(0.0).alias("l_discount"),
            F.lit(0.0).alias("l_tax"),
            F.lit("N").alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            "l_shipdate",
        )
    )
    write(li.unionByName(hub), "lineitem")

    offsets = {c: step("events", c) for c in ("event_id", "user_id")}
    write(replicate(read("events"), offsets, mult), "events")

    docs = replicate(read("documents"), {"doc_id": step("documents", "doc_id")}, mult, _doc_text)
    hot = F.concat(F.col("text"), F.lit(" zzhot zzkey zzval"))
    write(docs.withColumn("text", F.when(F.col("doc_id") % 5 == 0, hot).otherwise(F.col("text"))), "documents")

    emb = read("embeddings")
    mega = (
        spark.range(MEGA_COPIES)
        .crossJoin(F.broadcast(emb.filter(F.col("vec_id") == 0).select("embedding", "label")))
        .select((F.lit(1_000_000_000) + F.col("id")).alias("vec_id"), "embedding", "label")
    )
    emb = replicate(emb, {"vec_id": step("embeddings", "vec_id")}, mult, _embedding)
    write(emb.unionByName(mega), "embeddings")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="testdata directory to replicate")
    ap.add_argument("--out", default="/tmp/scanleg")
    ap.add_argument("--mult", type=int, default=10)
    args = ap.parse_args()

    from songs_etl_spark.session import get_spark

    spark = get_spark("corpus-build")
    build(spark, args.base, args.out, args.mult)
    spark.stop()


if __name__ == "__main__":
    main()
