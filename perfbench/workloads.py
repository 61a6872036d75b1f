"""The benchmark's workloads: what one pass does and how its output is checked.

Each workload is driven by ``run.py`` in a closed loop with one client:
``prepare`` makes the inputs, ``warm_up`` runs once untimed and checks
correctness, then ``run_pass`` repeats until the measuring time is used up
and at least ``min_passes`` passes are done.
Layers are timed from here, around calls into their public functions; nothing
inside ``songs_etl_spark`` is changed. Operation times are read from
``clock.now()``; spans are epoch wall times, to line up with Spark's event log.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import clock
import datagen

HEADLINE_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "doc_quality_stats",
    "token_explode_topk",
    "pricing_summary",
    "star_revenue_by_nation",
    "top_orders_by_revenue",
    "user_sessionization",
    "fact_build_star",
    "ann_bruteforce_topk",
)
# One driver-bound loop per family: community detection, edge peeling,
# tokenizer training and node peeling. A pass is kept short enough for three
# timed passes per run, whose median rides out a burst of load on a shared
# host. Left out for time: wordpiece_train_merges (the same trainer loop as
# bpe_train_merges), ann_pq_adc_topk, and pagerank_copurchase, which spends
# most of its time executing rather than building at this scale.
ITERATIVE_QUERIES = (
    "louvain_one_level",
    "ktruss_edge_peel",
    "bpe_train_merges",
    "kcore_decomposition_peel",
)
INGEST_DATE = "2024-05-02"


@dataclass
class Op:
    """One operation of a pass: a registry query or a pipeline run."""

    name: str
    wall_s: float  # the part that counts towards the pass time
    build_s: float  # driver side: inside the query function / the pipeline call
    exec_s: float  # materializing the result: the sink / reading the output back
    ok: bool


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    trace: bool
    #: (label, epoch start, epoch end) of every traced span.
    spans: list[tuple[str, float, float]] = field(default_factory=list)

    def job_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def span(self, label: str, start: float) -> None:
        self.spans.append((label, start, time.time()))


def _report(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class RegistryWorkload:
    """A fixed set of registry queries at one scale, each sunk to ``noop``.

    The seed fixes the generated tables; the queries run in their listed
    order, because the first query of a pass runs up to twice as slow as it
    does later in the pass, so a seeded order would move time between
    operations from seed to seed. Every pass
    starts from empty plan caches, as ``bench.py`` does, so each pass redoes
    all data work. The untimed warm-up pass runs every query through
    ``tools/oracle_check.compare`` (Spark result against its DuckDB oracle):
    it compiles the plans the timed passes reuse and is the correctness check.
    """

    def __init__(self, names: tuple[str, ...], scale: float, min_passes: int) -> None:
        self.names = names
        self.scale = scale
        self.min_passes = min_passes

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = os.path.join(ctx.work, "tables")
        datagen.write_tables(self.sf_dir, ctx.seed, self.scale)

    def warm_up(self, ctx: Context) -> list[bool]:
        from oracle_check import compare, duckdb_connection

        self._clear()
        con = duckdb_connection(self.sf_dir)
        results = []
        try:
            for name in self.names:
                t0 = time.perf_counter()
                res = compare(name, ctx.spark, con, self.sf_dir)
                took = time.perf_counter() - t0
                _report(f"check {name}: {'ok' if res['ok'] else 'FAIL'} {took:.2f} s")
                if not res["ok"]:
                    _report(f"  {res.get('error', '')}")
                results.append(res["ok"])
        finally:
            con.close()
        return results

    def run_pass(self, ctx: Context) -> list[Op]:
        from songs_etl_spark.plans import REGISTRY

        self._clear()
        ops = []
        for name in self.names:
            ok, t1 = True, None
            ctx.job_group(f"q:{name}:build")
            start, t0 = time.time(), clock.now()
            try:
                df = REGISTRY[name].fn(ctx.spark, self.sf_dir)
                t1 = clock.now()
                ctx.span("build", start)
                ctx.job_group(f"q:{name}:exec")
                start = time.time()
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # a failed query is counted, not fatal
                _report(f"{name} raised {exc!r}")
                ok = False
            t2 = clock.now()
            t1 = t2 if t1 is None else t1
            ctx.span("exec", start)
            ops.append(Op(name, t2 - t0, t1 - t0, t2 - t1, ok))
        return ops

    def persisted_mb(self, ctx: Context) -> float:
        """RDD storage (memory plus disk) held right now."""
        infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    @staticmethod
    def _clear() -> None:
        from songs_etl_spark.plans._util import clear_tracked_persists
        from songs_etl_spark.plans.dedup import clear_shingle_cache

        clear_shingle_cache()
        clear_tracked_persists()


class StarEtlWorkload:
    """One ``operators.star.run_pipeline`` call per pass, into a fresh
    warehouse directory, followed by a check of the written tables against
    counts computed from the generated landing documents."""

    min_passes = 3

    def __init__(self, n_entries: int) -> None:
        self.n_entries = n_entries
        self.passes = 0

    def prepare(self, ctx: Context) -> None:
        landing = os.path.join(ctx.work, "landing")
        self.playlists, self.tracks, users, self.expected = datagen.write_landing(
            landing, ctx.seed, self.n_entries
        )
        self.input_bytes = os.path.getsize(self.playlists) + os.path.getsize(self.tracks)
        self.dim_user = ctx.spark.createDataFrame(
            users, "dim_user_id string, name string, spotify_id string"
        )
        if ctx.trace:
            self._install_step_marks(ctx)

    def warm_up(self, ctx: Context) -> list[bool]:
        return [op.ok for op in self.run_pass(ctx)]

    def run_pass(self, ctx: Context) -> list[Op]:
        from songs_etl_spark.operators.star import run_pipeline

        self.passes += 1
        warehouse = os.path.join(ctx.work, f"warehouse{self.passes}")
        ctx.job_group("star:pipeline")
        start, t0 = time.time(), clock.now()
        ok, t1 = False, None
        try:
            tables = run_pipeline(
                ctx.spark, self.playlists, self.tracks, self.dim_user, warehouse, INGEST_DATE
            )
            t1 = clock.now()
            ctx.span("pipeline", start)
            ctx.job_group("star:check")
            start = time.time()
            ok = self.verify(tables)
        except Exception as exc:  # a failed pipeline or check is counted, not fatal
            _report(f"star_etl pass raised {exc!r}")
        t2 = clock.now()
        t1 = t2 if t1 is None else t1
        ctx.span("check", start)
        if ctx.trace:
            self.written = _tree_size(warehouse)
        shutil.rmtree(os.path.join(ctx.work, f"warehouse{self.passes - 1}"), ignore_errors=True)
        return [Op("run_pipeline", t1 - t0, t1 - t0, t2 - t1, ok)]

    def verify(self, tables: dict) -> bool:
        """Row counts, NULL-key counts and foreign-key integrity of the
        written warehouse, against ``datagen``'s expected counts."""
        from pyspark.sql import functions as F

        dims = ("dim_platform", "dim_playlist", "dim_artist", "dim_track")
        got = {name: tables[name].count() for name in dims}
        fact = tables["fact_songs"]
        for dim, key, df in (
            ("platform", "dim_platform_id", tables["dim_platform"]),
            ("playlist", "dim_playlist_id", tables["dim_playlist"]),
            ("artist", "dim_artist_id", tables["dim_artist"]),
            ("track", "dim_track_id", tables["dim_track"]),
            ("user", "dim_user_id", self.dim_user),
        ):
            fact = fact.join(
                F.broadcast(df.select(key, F.lit(True).alias(f"has_{dim}"))), key, "left"
            )
        row = fact.agg(
            F.count("*").alias("fact_songs"),
            *(
                F.sum(F.col(c).isNull().cast("int")).alias(f"fact_null_{n}")
                for n, c in (
                    ("playlist", "dim_playlist_id"),
                    ("track", "dim_track_id"),
                    ("artist", "dim_artist_id"),
                    ("user", "dim_user_id"),
                    ("added_at", "added_at"),
                )
            ),
            F.sum(
                (
                    (F.col("dim_platform_id").isNotNull() & F.col("has_platform").isNull())
                    | (F.col("dim_playlist_id").isNotNull() & F.col("has_playlist").isNull())
                    | (F.col("dim_artist_id").isNotNull() & F.col("has_artist").isNull())
                    | (F.col("dim_track_id").isNotNull() & F.col("has_track").isNull())
                    | (F.col("dim_user_id").isNotNull() & F.col("has_user").isNull())
                ).cast("int")
            ).alias("fk_orphans"),
        ).first()
        got.update(row.asDict())
        want = dict(self.expected, fk_orphans=0)
        bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
        if bad:
            _report(f"star_etl check failed (got, want): {bad}")
        return not bad

    def _install_step_marks(self, ctx: Context) -> None:
        """Record a span around each call of the public step functions that
        ``run_pipeline`` looks up at call time. Ingest ends when the last
        ``ingest_landing_to_parquet`` call returns, the dimensions end when
        ``build_fact_songs`` is entered, and the fact step ends with the
        pipeline."""
        from songs_etl_spark.operators import star

        def spanned(fn, label):
            def wrapper(*args, **kwargs):
                start = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    ctx.span(label, start)

            return wrapper

        star.ingest_landing_to_parquet = spanned(star.ingest_landing_to_parquet, "ingest")
        star.build_fact_songs = spanned(star.build_fact_songs, "build_fact")


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker and
    checksum files."""
    files = size = 0
    for parent, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(parent, name))
    return files, size


WORKLOADS = {
    "star_etl": lambda: StarEtlWorkload(n_entries=40_000),
    "headline_scan": lambda: RegistryWorkload(HEADLINE_QUERIES, scale=0.01, min_passes=1),
    "iterative_build": lambda: RegistryWorkload(ITERATIVE_QUERIES, scale=0.001, min_passes=3),
}
