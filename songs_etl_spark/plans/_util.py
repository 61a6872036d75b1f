"""Shared helpers for query definitions (see registry.py for the determinism
policy these helpers implement)."""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from songs_etl_spark.session import default_parallelism
from songs_etl_spark.sources.catalog import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def spread(df: DataFrame, n: int | None = None, key: str | None = None) -> DataFrame:
    """Repartition to the core count before compute-dense stages.

    Parquet scan parallelism is bounded by row groups, and AQE coalesces
    post-shuffle partitions by *bytes* — both collapse to ~1 partition for
    inputs that are small on disk but expensive per row (tokenize/shingle/
    hash/vector math over the documents and embeddings tables). An explicit
    repartition keeps such stages at full parallelism; at 100 TB the scan
    already yields thousands of splits and the extra shuffle of the (tiny
    relative) compute input stays negligible.

    Pass ``key`` (the relation's primary key / a high-cardinality unique
    column) whenever one exists: a KEYED repartition hash-partitions
    without the local sort every keyless ``repartition(n)`` pays first
    (``spark.sql.execution.sortBeforeRepartition``, needed for
    deterministic retries of round-robin — measured ~3x the exchange cost
    of a keyed shuffle on lineitem, guide §2.5). A unique key spreads as
    evenly as round-robin up to hash binomial noise; row placement is not
    semantic, so results are unchanged. Keyless callers (derived relations
    with no natural key) keep the round-robin + sort behavior — that sort
    is the price of retry-deterministic placement, not a bug.
    """
    if key is not None:
        return df.repartition(n or default_parallelism(), key)
    return df.repartition(n or default_parallelism())


def money(col: Column | str) -> Column:
    """Exact per-row decimal view of a ≤4-decimal measure column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,4)")


def dec2(col: Column) -> Column:
    """Final presentation cast for exact decimal aggregates.

    DOUBLE, not a narrower decimal: Spark's decimal→double conversion
    (BigDecimal.doubleValue) is correctly rounded, whereas decimal *scale
    reduction* rounds half-up in Spark but not in DuckDB, and DuckDB's
    pandas bridge turns decimals into float64 anyway. Oracle twin:
    ``CAST(... AS DOUBLE)`` — EXCEPT when the exact sum can exceed 2⁵³ at
    the accumulated scale (e.g. scale-8 product sums at sf ≥ 0.1): DuckDB's
    direct DECIMAL→DOUBLE divides int128 by 10^scale in double arithmetic
    and can be 1 ulp off; use ``CAST(CAST(... AS VARCHAR) AS DOUBLE)`` in
    the oracle there (string parse is correctly rounded — see
    pricing_summary).
    """
    return col.cast("double")


def qty(col: Column | str) -> Column:
    """Integer-valued double measure → exact BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("bigint")


def fmt_date(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def fmt_ts(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def ts_lit(value: str) -> Column:
    """Literal for comparison against the testdata's timestamp_ntz columns."""
    return F.lit(value).cast("timestamp_ntz")


#: Session-lifetime registry of relations persisted inside query plans
#: (the near-dup shingle relation, SemDeDup assignments, two-level k-means
#: stages, PageRank edge/degree relations, LSH band relations) and of every
#: cut, keyed by the plan's semantic hash (or an explicit key: persist_keyed,
#: and (cut, id) for a cut) so re-invoking a
#: registry function returns the SAME persisted relation instead of stacking
#: a new cached copy per call (long-lived sessions run ~190 queries, several
#: of which rebuild shared relations). Spark's CacheManager evicts under memory pressure, but
#: explicit release stays the hygiene rule: clear_tracked_persists() is the
#: one call that releases every relation a query persisted or cut.
_TRACKED_PERSISTS: dict[Hashable, list[DataFrame]] = {}


def track_persist(df: DataFrame) -> DataFrame:
    """persist() a plan-internal relation and register it for
    clear_tracked_persists() — use for every persist that outlives the
    query function that created it. Memoized on ``df.semanticHash()`` with
    a ``sameSemantics`` confirmation (the 32-bit hash can collide, and a
    collision must never silently substitute a different relation) AND an
    output-column-name check: ``sameSemantics`` canonicalizes attribute
    names away, so two queries building the same relation under different
    aliases (e.g. an edge list as (src, dst) vs (u, v)) are semantic
    twins whose substitution breaks every downstream ``F.col`` — caught
    live in round 10 when louvain's (src, dst) symmetrized edges hit an
    earlier (u, v) persist only under the full suite. Name-variant twins
    persist separately; semantically-AND-nominally-equal plans share one
    persisted relation."""
    try:
        key = df.semanticHash()
        bucket = _TRACKED_PERSISTS.setdefault(key, [])
        for hit in bucket:
            if df.sameSemantics(hit) and df.columns == hit.columns:
                return hit
    except Exception:  # pragma: no cover — Connect-only or API drift
        bucket = _TRACKED_PERSISTS.setdefault(id(df), [])
    df = df.persist()
    bucket.append(df)
    return df


def persist_keyed(key: tuple, build: Callable[[], DataFrame], level: StorageLevel) -> DataFrame:
    """track_persist under an explicit ``key`` that is looked up before
    ``build()`` runs — for a relation whose plan is itself slow to build,
    where a semantic-hash lookup would pay that build on every hit. Same
    registry, so clear_tracked_persists() releases it too."""
    bucket = _TRACKED_PERSISTS.setdefault(key, [])
    if not bucket:
        bucket.append(build().persist(level))
    return bucket[0]


def cut(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage to a leaf: ``localCheckpoint(eager=False)``,
    registered in the tracked-persist memo so clear_tracked_persists()
    releases the checkpoint blocks. The one lineage cut in plans/ and
    operators/; a cut of a relation this function returned is that
    relation unchanged.

    Why cut and not persist: persist caches the data but keeps the logical
    plan, so a relation rebuilt from its predecessor every round chains r
    plans deep and Catalyst re-analyzes the whole tree on every action and
    at every AQE stage (measured: BPE rounds grow from ~1 s to 40+ s by
    round 16, a 4-hop beam search 8 s -> 186 s, a Louvain sweep 98 s on a
    200-node graph); a relation read twice or more is also recomputed per
    reader when not materialized. A cut makes every round plan against a
    scan. Why lazy: under AQE, ``localCheckpoint(eager=False)`` already
    runs every shuffle stage of the plan when it is called; the checkpoint
    then fills inside the next action (a fixed-point count or min, the next
    round's argmax, the caller's sink), so eager would only add one job.

    Released only by clear_tracked_persists(): acting on a cut relation
    after its blocks are gone fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    so nothing here frees early."""
    if (cut, id(df)) in _TRACKED_PERSISTS:  # the memo keeps df alive, so its id is unique
        return df
    out = df.localCheckpoint(eager=False)
    _TRACKED_PERSISTS[(cut, id(out))] = [out]
    return out


def iterate(
    state: DataFrame | tuple,
    step: Callable[[DataFrame | tuple], DataFrame | tuple | None],
    rounds: int,
) -> tuple[DataFrame | tuple, bool]:
    """Run up to ``rounds`` rounds of ``state = step(state)``, where the
    state is a DataFrame or a tuple holding DataFrames; every DataFrame of
    each new state goes through :func:`cut`. ``step`` returns None at its
    fixed point. Returns the last state and whether the fixed point was
    reached (False when all ``rounds`` ran). Releases nothing and sets no
    job group: the caller's build group counts the rounds' jobs."""
    for _ in range(rounds):
        nxt = step(state)
        if nxt is None:
            return state, True
        if isinstance(nxt, tuple):
            state = tuple(cut(x) if isinstance(x, DataFrame) else x for x in nxt)
        else:
            state = cut(nxt)
    return state, False


def clear_tracked_persists() -> None:
    """Unpersist every tracked relation and free the blocks of every cut
    (bench, tools and tests call this between passes or datasets)."""
    for bucket in _TRACKED_PERSISTS.values():
        for df in bucket:
            try:
                release(df)
            except Exception:
                pass  # session may already be gone
    _TRACKED_PERSISTS.clear()


def release(df: DataFrame) -> None:
    """Unpersist ``df`` and, when it is a local checkpoint, the checkpoint
    RDD behind its ``LogicalRDD`` leaf (``DataFrame.unpersist`` alone leaves
    those blocks until the ContextCleaner sees the RDD collected)."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
