"""Statistical analytics over the warehouse tables: distributed group-wise
OLS regression, Markov transition matrices, incremental materialized-view
maintenance, and z-score anomaly detection.

The reference's analytics ceiling is GROUP BY + daily full refresh
(cf_load/main.py WRITE_TRUNCATE); these queries are the scale-era
restatements: every statistic here decomposes into *exact, mergeable,
map-side-combining sums* (n, Σx, Σy, Σxy, Σx², Σy² as decimal/bigint), so a
single aggregation shuffle computes regression lines, variances, and
anomaly thresholds over arbitrarily large groups — no per-group sort, no
second pass over raw data, no double-precision accumulation order
dependence.

Determinism: raw measures are cast to exact decimal *before* aggregation
(registry policy rule 1); the closed-form algebra then runs on doubles
obtained from those exact sums (correctly-rounded conversions), a fixed
per-row expression chain both engines evaluate identically (rule 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from songs_etl_spark.plans._util import dec2, fmt_date, money, qty, t, ts_lit
from songs_etl_spark.plans.registry import register

#: DuckDB twin of the correctly-rounded decimal→double conversion (see
#: _util.dec2): string round-trip, because DuckDB's direct DECIMAL→DOUBLE
#: divides the int128 payload in double arithmetic and can land 1 ulp off
#: once the scaled integer exceeds 2^53.
_D = "CAST(CAST({} AS VARCHAR) AS DOUBLE)"


@register(
    "regression_price_by_qty",
    doc="group-wise OLS (slope/intercept/r2) from exact mergeable sums — "
    "single-shuffle distributed regression",
    oracle=f"""
        WITH s AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   {_D.format("SUM(CAST(l_quantity AS BIGINT))")} AS sx,
                   {_D.format("SUM(CAST(l_extendedprice AS DECIMAL(18,4)))")} AS sy,
                   {_D.format("SUM(CAST(l_quantity AS BIGINT) * CAST(l_extendedprice AS DECIMAL(19,4)))")} AS sxy,
                   {_D.format("SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))")} AS sxx,
                   {_D.format("SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))")} AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               CAST(n AS BIGINT) AS n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
               ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
        FROM s
    """,
)
def regression_price_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of extendedprice against quantity per returnflag.

    The moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact — bigint for the
    integer-valued quantity, DECIMAL(18,4)-derived for price — so they merge
    associatively across any partitioning (one shuffle, map-side partials).
    The closed-form slope/intercept/r² algebra then runs on doubles converted
    from those exact sums: every operation is a fixed IEEE expression both
    engines evaluate identically, so the output needs no rounding. This is
    the 100 TB regression shape: state per group is six numbers, never the
    points. (Spark's builtin regr_slope/regr_avgx accumulate *doubles* whose
    partial-merge order varies run to run — the decimal-moment formulation
    trades them for reproducibility at identical cost.)
    """
    li = t(spark, sf_dir, "lineitem")
    x = qty("l_quantity")
    y = money("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_raw"),
        F.sum(x).alias("sx_raw"),
        F.sum(y).alias("sy_raw"),
        F.sum(x * y).alias("sxy_raw"),
        F.sum(x * x).alias("sxx_raw"),
        F.sum(y * y).alias("syy_raw"),
    )
    n, sx, sy, sxy, sxx, syy = (
        dec2(F.col(c)) for c in ("n_raw", "sx_raw", "sy_raw", "sxy_raw", "sxx_raw", "syy_raw")
    )
    cov_n = n * sxy - sx * sy  # n² · covariance
    varx_n = n * sxx - sx * sx  # n² · variance(x)
    vary_n = n * syy - sy * sy  # n² · variance(y)
    slope = cov_n / varx_n
    return s.select(
        "l_returnflag",
        F.col("n_raw").alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((cov_n * cov_n) / (varx_n * vary_n)).alias("r2"),
    )


@register(
    "events_markov_transitions",
    doc="first-order Markov transition matrix over per-user event sequences "
    "(lag/lead window, single shuffle)",
    oracle="""
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
        ),
        cnt AS (
            SELECT from_type, to_type, COUNT(*) AS n_trans
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n_trans,
               CAST(n_trans AS DOUBLE)
                   / CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical transition probabilities between consecutive event types in
    each user's timeline (order ``ts, event_id`` — the deterministic
    tie-break). One shuffle keyed by user_id orders the sequences; the pair
    counts then aggregate map-side. The per-row probability is an exact
    bigint ratio in double — no accumulation-order dependence. At 100 TB the
    state is |event_type|² cells regardless of event count; the user_id
    shuffle is the same partitioning sessionization already pays, so the two
    plans pipeline on a shared exchange.
    """
    ev = t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("to_type"),
    )
    cnt = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_trans"))
    )
    total = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n_trans",
        (dec2(F.col("n_trans")) / dec2(F.sum("n_trans").over(total))).alias("p"),
    )


#: Incremental-maintenance cutoff: rows at/after this instant are the
#: "late-arriving" delta batch applied to the materialized base rollup.
_ROLLUP_CUTOFF = "2024-01-25 00:00:00"


@register(
    "incremental_daily_rollup",
    doc="incremental materialized-view maintenance: delta batch merged into "
    "a base rollup ≡ full recompute (the oracle IS the full recompute)",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-maintaining daily rollup: the events table is split at a cutoff
    into the already-materialized base aggregate and a late delta batch; the
    delta is aggregated *alone* and merged into the base by key (full outer
    join, additive combine). The registry oracle is the full recompute over
    all events — passing the value hash proves merge(base, Δ) ≡ recompute.

    This is the replacement for the reference's daily WRITE_TRUNCATE full
    refresh (terraform cron + cf_load): at 100 TB you can't re-aggregate
    history per batch, but count/decimal-sum are self-mergeable, so the
    per-batch cost is O(|Δ| + |touched keys|). The merge join moves only
    *aggregate* rows (one per touched key), never raw events — a full outer
    join can't broadcast its build side, but both inputs here are already
    key-partitioned aggregates orders of magnitude smaller than the fact
    scan. Same algebra the streaming foreachBatch upsert applies
    continuously (streaming/ingest.py).
    """
    ev = t(spark, sf_dir, "events")
    cutoff = ts_lit(_ROLLUP_CUTOFF)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(F.count("*").alias("n"), F.sum(money("value")).alias("sv"))

    base = rollup(ev.where(F.col("ts") < cutoff))
    delta = rollup(ev.where(F.col("ts") >= cutoff))
    merged = base.alias("b").join(
        delta.alias("d"), on=["day", "event_type"], how="full_outer"
    )
    zero = F.lit(0).cast("decimal(28,4)")
    return merged.select(
        "day",
        "event_type",
        (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
        dec2(
            F.coalesce(F.col("b.sv"), zero) + F.coalesce(F.col("d.sv"), zero)
        ).alias("sum_value"),
    )


@register(
    "anomaly_zscore_events",
    doc="z-score outlier detection per event_type from exact moment sums "
    "(one agg + one broadcast join, no per-group sort)",
    oracle="""
        WITH s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sv,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS svv
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, e.event_id, e.value,
               (e.value - s.sv / s.n)
                   / sqrt((s.svv - s.sv * s.sv / s.n) / (s.n - 1)) AS z
        FROM events e JOIN s USING (event_type)
        WHERE abs((e.value - s.sv / s.n)
                  / sqrt((s.svv - s.sv * s.sv / s.n) / (s.n - 1))) > 3
    """,
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value lies more than 3σ from their type's mean. Mean and
    sample variance come from exact decimal moment sums (one aggregation,
    map-side combining); the tiny per-type statistics relation is broadcast
    back onto the stream-shaped scan, so the 100 TB pass is scan + broadcast
    hash join with zero additional shuffles. The per-row z expression is a
    fixed double chain over exactly-derived inputs — bit-identical across
    engines, no rounding needed.
    """
    ev = t(spark, sf_dir, "events")
    v = money("value")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n_raw"),
        F.sum(v).alias("sv_raw"),
        F.sum(v * v).alias("svv_raw"),
    )
    n, sv, svv = (dec2(F.col(c)) for c in ("n_raw", "sv_raw", "svv_raw"))
    stats = s.select(
        "event_type",
        (sv / n).alias("mean"),
        F.sqrt((svv - sv * sv / n) / (n - F.lit(1.0))).alias("std"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return joined.where(F.abs(z) > 3).select(
        "event_type", "event_id", "value", z.alias("z")
    )


#: Market-basket support threshold: a pair must co-occur in at least this
#: many orders to be reported.
_BASKET_MIN_SUPPORT = 3


@register(
    "copurchase_frequent_pairs",
    doc="market-basket frequent pairs: parts co-occurring in the same order "
    "(per-key-bounded self-join, support-thresholded)",
    oracle=f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS support
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    """,
)
def copurchase_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise frequent-itemset mining (the A-Priori k=2 pass): which part
    pairs appear together in at least ``_BASKET_MIN_SUPPORT`` orders. The
    pair enumeration is a self-equi-join on the order key, so per-key work is
    (items per order)² — bounded by the basket-size distribution (≤ ~80
    pairs for TPC-H's ≤13-line orders), never |parts|² — and the support
    count is an ordinary mergeable aggregation. At 100 TB the known hazard is
    a pathological mega-basket; the production guard is the same cap
    discipline as the dedup family (drop or sample baskets above a size cap,
    cf. DF_CAP in plans/dedup.py) — not needed for this schema, where basket
    size is bounded by design.
    """
    li = t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _BASKET_MIN_SUPPORT)
    )


@register(
    "ab_test_welch_t",
    doc="two-sample Welch t-statistic per event_type from exact moment sums "
    "(deterministic cohort split, single aggregation)",
    oracle="""
        WITH s AS (
            SELECT event_type, user_id % 2 AS cohort,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sv,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS svv
            FROM events GROUP BY 1, 2
        ), w AS (
            SELECT a.event_type,
                   CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
                   a.sv / a.n AS mean_a, b.sv / b.n AS mean_b,
                   (a.svv - a.sv * a.sv / a.n) / (a.n - 1) AS var_a,
                   (b.svv - b.sv * b.sv / b.n) / (b.n - 1) AS var_b
            FROM s a JOIN s b ON a.event_type = b.event_type
            WHERE a.cohort = 0 AND b.cohort = 1
        )
        SELECT event_type, n_a, n_b,
               mean_a - mean_b AS mean_diff,
               (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat
        FROM w
    """,
)
def ab_test_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-statistic between two deterministic user
    cohorts (user_id parity — in production the hash-based assignment of
    plans/sampling.py) for each event type. Everything reduces to the same
    exact decimal moment sums as the regression/z-score queries: one
    aggregation keyed by (event_type, cohort), then a tiny self-join pairs
    the cohort rows and a fixed double expression chain produces the
    statistic — no per-row second pass, no variance accumulation in floats.
    The experiment-analysis shape for 100 TB event logs: cost is one
    map-side-combining shuffle of 6 numbers per (type, cohort).
    """
    ev = t(spark, sf_dir, "events")
    v = money("value")
    s = ev.groupBy("event_type", (F.col("user_id") % 2).alias("cohort")).agg(
        F.count("*").alias("n_raw"),
        F.sum(v).alias("sv_raw"),
        F.sum(v * v).alias("svv_raw"),
    )
    n, sv, svv = (dec2(F.col(c)) for c in ("n_raw", "sv_raw", "svv_raw"))
    stats = s.select(
        "event_type",
        "cohort",
        F.col("n_raw"),
        n.alias("n"),
        (sv / n).alias("mean"),
        ((svv - sv * sv / n) / (n - F.lit(1.0))).alias("var"),
    )
    a = stats.where(F.col("cohort") == 0).alias("a")
    b = stats.where(F.col("cohort") == 1).alias("b")
    diff = F.col("a.mean") - F.col("b.mean")
    return a.join(b, F.col("a.event_type") == F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n_raw").alias("n_a"),
        F.col("b.n_raw").alias("n_b"),
        diff.alias("mean_diff"),
        (diff / F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n"))).alias(
            "t_stat"
        ),
    )


@register(
    "mann_whitney_value_test",
    doc="two-sample Mann-Whitney U per event_type from exact doubled-rank "
    "integer sums with the tie-corrected normal approximation — the "
    "rank-based (outlier-immune) sibling of ab_test_welch_t",
    oracle="""
        WITH ranked AS (
            SELECT event_type, user_id % 2 AS cohort,
                   2 * RANK() OVER (PARTITION BY event_type
                                    ORDER BY CAST(value AS DECIMAL(18,4)) NULLS LAST)
                       + COUNT(*) OVER (PARTITION BY event_type, CAST(value AS DECIMAL(18,4)))
                       - 1 AS r2
            FROM events
        ), ties AS (
            SELECT event_type, SUM(t * t * t - t) AS tie_term
            FROM (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
                FROM events GROUP BY event_type, CAST(value AS DECIMAL(18,4))
            ) GROUP BY event_type
        ), s AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN cohort = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r2sum
            FROM ranked GROUP BY event_type
        )
        SELECT s.event_type,
               s.n1 AS n_treat,
               s.n0 AS n_ctrl,
               s.r2sum - s.n1 * (s.n1 + 1) AS u2_stat,
               CASE WHEN CAST(s.n1 AS DOUBLE) * CAST(s.n0 AS DOUBLE) / 12
                         * ((CAST(s.n1 + s.n0 AS DOUBLE) + 1)
                            - CAST(t.tie_term AS DOUBLE)
                              / (CAST(s.n1 + s.n0 AS DOUBLE)
                                 * (CAST(s.n1 + s.n0 AS DOUBLE) - 1))) > 0
               THEN (CAST(s.r2sum - s.n1 * (s.n1 + 1) AS DOUBLE) / 2
                        - CAST(s.n1 AS DOUBLE) * CAST(s.n0 AS DOUBLE) / 2)
                    / sqrt(CAST(s.n1 AS DOUBLE) * CAST(s.n0 AS DOUBLE) / 12
                           * ((CAST(s.n1 + s.n0 AS DOUBLE) + 1)
                              - CAST(t.tie_term AS DOUBLE)
                                / (CAST(s.n1 + s.n0 AS DOUBLE)
                                   * (CAST(s.n1 + s.n0 AS DOUBLE) - 1))))
               END AS z_stat
        FROM s JOIN ties t ON t.event_type = s.event_type
    """,
)
def mann_whitney_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two deterministic
    user cohorts per event type — the nonparametric sibling of
    ``ab_test_welch_t``: it compares RANKS, so a handful of whale values
    can't swing it and no normality assumption enters. The statistic is
    exact: ties take the textbook midrank via the integer identity
    2·midrank = 2·min_rank + tie_count − 1 (the spearman_spend_orders
    doubled-rank trick), so the rank sum R, U = R − n₁(n₁+1)/2, and the
    tie-correction term Σ(t³−t) are all exact int64 BEFORE the one
    fixed double chain that forms the tie-corrected normal z.

    Scale shape: one rank window keyed by event_type (same skew caveat as
    order_percentile_ranks — a type is ~1/5 of events; at 100 TB the
    per-type global rank swaps to the two-pass histogram selection of
    exact_median_two_pass), one per-(type, value) tie aggregation, one
    final per-type fold. Emits 2·U as the exact integer ``u2_stat`` so
    the hash pins the statistic itself, not just its float image."""
    ev = t(spark, sf_dir, "events")
    v = money("value")
    # NULLS LAST pinned on BOTH engines (Spark windows default NULLS FIRST,
    # DuckDB RANK defaults NULLS LAST — latent cross-engine divergence if
    # events.value ever goes nullable).
    wr = Window.partitionBy("event_type").orderBy(v.asc_nulls_last())
    wt = Window.partitionBy("event_type", v)
    ranked = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        (
            F.lit(2) * F.rank().over(wr)
            + F.count("*").over(wt)
            - F.lit(1)
        ).alias("r2"),
    )
    ties = (
        ev.groupBy("event_type", v.alias("val"))
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_term")
        )
    )
    s = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("r2")).otherwise(0)).alias("r2sum"),
    )
    n1d = F.col("n1").cast("double")
    n0d = F.col("n0").cast("double")
    nd = (F.col("n1") + F.col("n0")).cast("double")
    u2 = F.col("r2sum") - F.col("n1") * (F.col("n1") + 1)
    # Guard the all-tied degenerate case (variance term 0 → NULL z on both
    # engines, instead of NaN-in-Spark / engine-dependent behavior).
    var_term = (
        n1d * n0d / 12
        * ((nd + 1) - F.col("tie_term").cast("double") / (nd * (nd - 1)))
    )
    z = F.when(
        var_term > 0,
        (u2.cast("double") / 2 - n1d * n0d / 2) / F.sqrt(var_term),
    )
    return (
        s.join(ties, "event_type")
        .select(
            "event_type",
            F.col("n1").cast("bigint").alias("n_treat"),
            F.col("n0").cast("bigint").alias("n_ctrl"),
            u2.cast("bigint").alias("u2_stat"),
            z.alias("z_stat"),
        )
    )


@register(
    "cuped_adjusted_lift",
    tags=("bcast-const",),
    doc="CUPED variance-reduced A/B lift: per-user pre-period covariate, "
    "pooled theta = cov(X,Y)/var(X) from exact decimal moment sums, "
    "adjusted treatment-control lift + measured rho-squared variance "
    "reduction in one row",
    oracle="""
        WITH per_user AS (
            SELECT user_id, user_id % 2 AS cohort,
                   CAST(COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) <= 15
                            THEN CAST(value AS DECIMAL(18,4)) END), 0) AS DECIMAL(18,4)) AS x,
                   CAST(COALESCE(SUM(CASE WHEN EXTRACT(day FROM ts) >= 16
                            THEN CAST(value AS DECIMAL(18,4)) END), 0) AS DECIMAL(18,4)) AS y
            FROM events GROUP BY 1, 2
        ), m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
                   CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
                   CAST(CAST(SUM(CASE WHEN cohort = 1 THEN x END) AS VARCHAR) AS DOUBLE) AS sx1,
                   CAST(CAST(SUM(CASE WHEN cohort = 1 THEN y END) AS VARCHAR) AS DOUBLE) AS sy1,
                   CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
                   CAST(CAST(SUM(CASE WHEN cohort = 0 THEN x END) AS VARCHAR) AS DOUBLE) AS sx0,
                   CAST(CAST(SUM(CASE WHEN cohort = 0 THEN y END) AS VARCHAR) AS DOUBLE) AS sy0
            FROM per_user
        )
        SELECT CAST(n1 AS BIGINT) AS n_treat,
               CAST(n0 AS BIGINT) AS n_ctrl,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
               sy1 / n1 - sy0 / n0 AS lift_raw,
               (sy1 / n1 - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx1 / n1 - sx / n))
                   - (sy0 / n0 - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (sx0 / n0 - sx / n))
                   AS lift_cuped,
               ((sxy - sx * sy / n) * (sxy - sx * sy / n))
                   / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS var_reduction_rho2
        FROM m
    """,
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et al.
    2013) — the variance-reduction step every mature experimentation
    platform applies before reading an A/B lift: each user's pre-period
    activity X (value sum, Jan 1-15) is regressed out of their
    experiment-period metric Y (Jan 16-31) with the pooled
    θ = cov(X, Y)/var(X), and the treatment−control lift is re-computed on
    the adjusted metric Y − θ·(X − X̄). The same row carries the measured
    ρ² — the fraction of metric variance the covariate removes, i.e. how
    many fewer samples the experiment now needs.

    Distributed shape: one user-keyed aggregation (conditional decimal
    sums split the month into pre/post), then ONE global aggregation
    producing every moment — n / ΣX / ΣY / ΣXY / ΣX² / ΣY² plus the
    per-cohort splits as conditional sums — so the whole analysis is two
    map-side-combining shuffles ending in a single row, the Welch-t shape
    with a covariate. Exactness: all sums are decimal/integer (per-user
    sums re-cast to DECIMAL(18,4) — exact, values are bounded — so the
    cross-products stay inside DECIMAL(38,8) on both engines); θ, lifts,
    and ρ² are fixed double expression chains over those exact sums, with
    the oracle reading big decimals through the VARCHAR parse (registry
    dec2 note). Cohorts are the deterministic user_id-parity split of
    ``ab_test_welch_t``."""
    ev = t(spark, sf_dir, "events")
    v = money("value")
    zero = F.lit(0).cast("decimal(18,4)")
    per_user = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("cohort")
    ).agg(
        F.coalesce(F.sum(F.when(F.dayofmonth("ts") <= 15, v)), zero)
        .cast("decimal(18,4)")
        .alias("x"),
        F.coalesce(F.sum(F.when(F.dayofmonth("ts") >= 16, v)), zero)
        .cast("decimal(18,4)")
        .alias("y"),
    )
    c1 = F.col("cohort") == 1
    c0 = F.col("cohort") == 0
    m = per_user.agg(
        F.count("*").cast("double").alias("n"),
        dec2(F.sum("x")).alias("sx"),
        dec2(F.sum("y")).alias("sy"),
        dec2(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        dec2(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        dec2(F.sum(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(F.when(c1, 1).otherwise(0)).cast("double").alias("n1"),
        dec2(F.sum(F.when(c1, F.col("x")))).alias("sx1"),
        dec2(F.sum(F.when(c1, F.col("y")))).alias("sy1"),
        F.sum(F.when(c0, 1).otherwise(0)).cast("double").alias("n0"),
        dec2(F.sum(F.when(c0, F.col("x")))).alias("sx0"),
        dec2(F.sum(F.when(c0, F.col("y")))).alias("sy0"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    n1, sx1, sy1 = F.col("n1"), F.col("sx1"), F.col("sy1")
    n0, sx0, sy0 = F.col("n0"), F.col("sx0"), F.col("sy0")
    cov = sxy - sx * sy / n
    varx = sxx - sx * sx / n
    vary = syy - sy * sy / n
    theta = cov / varx
    return m.select(
        n1.cast("bigint").alias("n_treat"),
        n0.cast("bigint").alias("n_ctrl"),
        theta.alias("theta"),
        (sy1 / n1 - sy0 / n0).alias("lift_raw"),
        (
            (sy1 / n1 - theta * (sx1 / n1 - sx / n))
            - (sy0 / n0 - theta * (sx0 / n0 - sx / n))
        ).alias("lift_cuped"),
        (cov * cov / (varx * vary)).alias("var_reduction_rho2"),
    )


@register(
    "diff_in_diff_events",
    doc="difference-in-differences estimate over the CUPED cohort split: "
    "4 (cohort x period) cells from one aggregation, parallel-trends "
    "baseline gap and the DiD effect in one row, exact decimal sums",
    oracle="""
        WITH cells AS (
            SELECT user_id % 2 AS cohort,
                   CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 0 ELSE 1 END AS period,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sv
            FROM events GROUP BY 1, 2
        ), p AS (
            SELECT MAX(CASE WHEN cohort = 1 AND period = 0 THEN n END) AS n_t_pre,
                   MAX(CASE WHEN cohort = 1 AND period = 1 THEN n END) AS n_t_post,
                   MAX(CASE WHEN cohort = 0 AND period = 0 THEN n END) AS n_c_pre,
                   MAX(CASE WHEN cohort = 0 AND period = 1 THEN n END) AS n_c_post,
                   MAX(CASE WHEN cohort = 1 AND period = 0 THEN sv END) AS s_t_pre,
                   MAX(CASE WHEN cohort = 1 AND period = 1 THEN sv END) AS s_t_post,
                   MAX(CASE WHEN cohort = 0 AND period = 0 THEN sv END) AS s_c_pre,
                   MAX(CASE WHEN cohort = 0 AND period = 1 THEN sv END) AS s_c_post
            FROM cells
        )
        SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
               s_t_pre / n_t_pre - s_c_pre / n_c_pre AS baseline_gap,
               (s_t_post / n_t_post - s_t_pre / n_t_pre)
                   - (s_c_post / n_c_post - s_c_pre / n_c_pre) AS did_effect
        FROM p
    """,
)
def diff_in_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the design-based sibling of
    ``cuped_adjusted_lift`` on the same cohort split and period boundary:
    instead of regressing the pre-period out per user, DiD subtracts the
    CONTROL group's pre→post drift from the treatment group's, so any
    common shock (seasonality, pricing change) cancels. The row also
    reports the pre-period baseline gap — the parallel-trends diagnostic a
    reviewer asks for first.

    Shape: ONE map-side-combining aggregation to 4 (cohort, period) cells,
    pivoted to a single row by conditional MAX (the RANSAC candidate
    pivot), then a fixed double chain over exact decimal sums — the
    cheapest causal estimate there is, and exactly how it should run at
    100 TB."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).alias("cohort"),
        F.when(F.dayofmonth("ts") <= 15, F.lit(0)).otherwise(F.lit(1)).alias("period"),
    ).agg(
        F.count("*").alias("n"),
        dec2(F.sum(money("value"))).alias("sv"),
    )

    def cell(c: int, pd: int, col: str):
        return F.max(F.when((F.col("cohort") == c) & (F.col("period") == pd), F.col(col)))

    p = cells.agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(1, 0, "sv").alias("s_t_pre"),
        cell(1, 1, "sv").alias("s_t_post"),
        cell(0, 0, "sv").alias("s_c_pre"),
        cell(0, 1, "sv").alias("s_c_post"),
    )
    mean = lambda s, n: F.col(s) / F.col(n)  # noqa: E731
    return p.select(
        F.col("n_t_pre").cast("bigint").alias("n_t_pre"),
        F.col("n_t_post").cast("bigint").alias("n_t_post"),
        F.col("n_c_pre").cast("bigint").alias("n_c_pre"),
        F.col("n_c_post").cast("bigint").alias("n_c_post"),
        (mean("s_t_pre", "n_t_pre") - mean("s_c_pre", "n_c_pre")).alias("baseline_gap"),
        (
            (mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre"))
            - (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre"))
        ).alias("did_effect"),
    )


@register(
    "order_percentile_ranks",
    doc="rank-family window functions (percent_rank / cume_dist / ntile) "
    "over order value within customer segment",
    oracle="""
        SELECT c.c_mktsegment, o.o_orderkey,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               CAST(ntile(10) OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice, o.o_orderkey) AS INT) AS decile
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WINDOW w AS (PARTITION BY c.c_mktsegment ORDER BY o.o_totalprice)
    """,
)
def order_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order placed on its segment's value distribution: percent_rank
    and cume_dist (pure integer-ratio doubles — exact on both engines) plus
    a decile bucket. ntile's bucket assignment depends on total order, so its
    window adds the o_orderkey tie-break; percent_rank/cume_dist are
    tie-invariant and keep the value-only ordering. One shuffle keyed by
    segment + per-partition sort; the customer side is a broadcast. Skew
    note: a segment is ~1/5 of all orders here, so at 100 TB this exact
    global ranking becomes the percentile_approx path (quantiles_price_by_
    flag_approx) — this query is the exact-window member of that family.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    w_val = Window.partitionBy("c_mktsegment").orderBy("o_totalprice")
    w_tie = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    return joined.select(
        "c_mktsegment",
        "o_orderkey",
        F.percent_rank().over(w_val).alias("pr"),
        F.cume_dist().over(w_val).alias("cd"),
        F.ntile(10).over(w_tie).cast("int").alias("decile"),
    )


@register(
    "cohort_retention",
    doc="cohort retention triangle: users grouped by first-activity day, "
    "retention ratio per day offset (two aggregations + one join)",
    oracle="""
        WITH first AS (
            SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        ), base AS (
            SELECT user_id, CAST(first_ts AS DATE) AS cohort_day FROM first
        ), sizes AS (
            SELECT cohort_day, COUNT(*) AS cohort_size FROM base GROUP BY cohort_day
        ), act AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events
        )
        SELECT strftime(b.cohort_day, '%Y-%m-%d') AS cohort_day,
               date_diff('day', b.cohort_day, a.act_day) AS day_offset,
               COUNT(*) AS n_active,
               ANY_VALUE(s.cohort_size) AS cohort_size,
               CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(s.cohort_size) AS retention
        FROM base b
        JOIN act a ON a.user_id = b.user_id
        JOIN sizes s ON s.cohort_day = b.cohort_day
        GROUP BY b.cohort_day, date_diff('day', b.cohort_day, a.act_day)
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic retention triangle: assign each user to the cohort of
    their first-activity day, then for every (cohort, day offset) count what
    fraction of the cohort was active. Two aggregations (first-activity per
    user, distinct activity days per user) share the user_id partitioning;
    the cohort assignment joins back on user_id and the cohort-size relation
    is broadcast. The retention ratio is an exact bigint ratio in double.
    At 100 TB the state is |users| rows for the first-activity aggregate —
    the same cardinality every per-user operator here already shuffles —
    and the output is |cohorts| × |offsets|, tiny.
    """
    ev = t(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    sizes = base.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    act = ev.select("user_id", F.col("ts").cast("date").alias("act_day")).distinct()
    joined = base.join(act, "user_id").join(F.broadcast(sizes), "cohort_day")
    agg = joined.groupBy(
        "cohort_day", F.datediff("act_day", "cohort_day").alias("day_offset")
    ).agg(F.count("*").alias("n_active"), F.any_value("cohort_size").alias("cohort_size"))
    return agg.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_active",
        "cohort_size",
        (dec2(F.col("n_active")) / dec2(F.col("cohort_size"))).alias("retention"),
    )


#: Debounce horizon in seconds: an event closer than this to the previous
#: event of the same (user, type) is suppressed.
_DEBOUNCE_S = 300


@register(
    "event_debounce",
    doc="windowed event debouncing: suppress same-user same-type events "
    "within a 5-minute horizon of the previous raw event (lag window)",
    oracle=f"""
        WITH seq AS (
            SELECT event_id, user_id, event_type,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                   epoch(ts) - epoch(LAG(ts) OVER (
                       PARTITION BY user_id, event_type ORDER BY ts, event_id
                   )) AS gap_s
            FROM events
        )
        SELECT event_id, user_id, event_type, ts_s
        FROM seq WHERE gap_s IS NULL OR gap_s >= {_DEBOUNCE_S}
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep an event only if the *previous raw* event of the same (user,
    type) is at least the debounce horizon older — the standard lag-window
    formulation (each event debounces against its immediate predecessor,
    suppressed or not; the chained "collapse whole bursts to one" variant is
    the sessionization operator's gap logic). One shuffle keyed by the
    (user, type) pair, per-key sort on (ts, event_id) — the deterministic
    tie-break — and a pure arithmetic filter; no second pass. The dedup tier
    for telemetry double-fires that exact-key dedup can't catch (distinct
    event_ids, near-identical times).
    """
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            gap.alias("gap_s"),
        )
        .where(F.col("gap_s").isNull() | (F.col("gap_s") >= _DEBOUNCE_S))
        .drop("gap_s")
    )


@register(
    "snapshot_diff_customer",
    doc="table-diff operator: classify keys as insert/delete/update between "
    "two snapshots (full outer join on the key)",
    oracle="""
        WITH b AS (
            SELECT c_custkey + 1000000 AS c_custkey, c_acctbal
            FROM customer WHERE c_custkey % 50 = 0
            UNION ALL
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0
                        THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
            FROM customer WHERE c_custkey % 97 <> 0
        )
        SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
               CASE WHEN a.c_custkey IS NULL THEN 'insert'
                    WHEN b.c_custkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type
        FROM customer a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
        WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
           OR a.c_acctbal <> b.c_acctbal
    """,
)
def snapshot_diff_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the inverse of CDC apply (cdc_apply_events): given two
    table versions, emit the change feed (inserted / deleted / updated keys).
    The second snapshot is derived in-query by a deterministic perturbation
    (every 50th key re-inserted under a new id, every 97th deleted, every
    10th rebalanced) so the oracle can rebuild it; in production both sides
    are real table versions. Plan: one full outer join keyed by the primary
    key — at 100 TB both sides hash-partition on the key (no broadcast for a
    full outer), which is the minimum data movement any diff can do; with
    bucketed storage on the key (operators/bucketing.py) it degrades to a
    zero-shuffle zip of co-located partitions. Value comparison here is the
    single measure column; the general operator compares a row hash.
    """
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    inserts = c.where(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_acctbal"
    )
    survivors = c.where(F.col("c_custkey") % 97 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    b = inserts.unionByName(survivors)
    a = c.alias("a")
    bb = b.alias("b")
    joined = a.join(bb, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer")
    change = (
        F.when(F.col("a.c_custkey").isNull(), F.lit("insert"))
        .when(F.col("b.c_custkey").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return joined.where(
        F.col("a.c_custkey").isNull()
        | F.col("b.c_custkey").isNull()
        | (F.col("a.c_acctbal") != F.col("b.c_acctbal"))
    ).select(
        F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        change.alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Exponentially weighted moving average (bounded-window, exact arithmetic)
# ---------------------------------------------------------------------------


@register(
    "ewma_user_value",
    doc="time-series smoothing: per-user EWMA of event values over the last "
    "8 events (alpha=1/2, unnormalized) — dyadic weights on integer cents "
    "make every term exact, so the fold is order-independent across engines",
    oracle="""
        WITH w AS (
            SELECT event_id, user_id, ts,
                   list(CAST(CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT) AS DOUBLE))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
            FROM events WHERE event_type = 'purchase'
        )
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               list_sum(list_transform(arr, (x, i) -> x * pow(0.5, len(arr) - i + 1))) / 100
                   AS ewma_value
        FROM w
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over a bounded trailing window: y_t = Σ_k (1/2)^(k+1)·x_{t-k}
    for the last 8 purchase events, ordered by (ts, event_id).

    Exactness design (what makes a float recursion oracle-matchable): values
    are lifted to integer cents (exact), weights are powers of 1/2 (dyadic —
    multiplication only shifts the exponent), so every term and every
    partial sum is exactly representable; the final /100 is one IEEE op.
    The sum is therefore independent of fold order — DuckDB's 1-based
    ``list_transform`` index and Spark's 0-based ``transform`` index are
    aligned so weight exponents coincide.

    Plan shape: one shuffle (hash by user_id), one sort within partitions —
    the canonical window plan; the collect_list frame carries ≤8 doubles per
    row. At 100 TB this is a single time-ordered pass per user partition;
    skewed hyper-active users bound the frame at 8 either way."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cents = F.round(money("value") * 100).cast("bigint").cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    from songs_etl_spark.plans._util import fmt_ts

    arr = F.collect_list(cents).over(w)
    out = ev.select(
        "event_id",
        "user_id",
        fmt_ts("ts").alias("ts_s"),
        arr.alias("arr"),
    )
    terms = F.transform(
        F.col("arr"),
        lambda x, i: x * F.pow(F.lit(0.5), F.size(F.col("arr")) - i),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_s",
        (F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x) / 100).alias(
            "ewma_value"
        ),
    )


@register(
    "histogram_order_totals",
    doc="equi-width histogram over order totals (exact-decimal binning), with "
    "per-bucket exact-decimal stats",
    oracle="""
        SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,4)) / 10000) + 1 AS BIGINT) AS bucket,
               COUNT(*) AS n,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS lo,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS hi,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS mass
        FROM orders GROUP BY 1
    """,
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram: bucket index from exact-decimal floor division
    (10 000-wide bins — boundary values can't split on a float ulp), one
    hash aggregation — the single-pass distribution profile every
    column-stats pass runs at scale."""
    orders = t(spark, sf_dir, "orders")
    m = money("o_totalprice")
    return (
        orders.groupBy((F.floor(m / 10000) + 1).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            dec2(F.min(m)).alias("lo"),
            dec2(F.max(m)).alias("hi"),
            dec2(F.sum(m)).alias("mass"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) interleave key — multi-dimensional clustering layout
# ---------------------------------------------------------------------------

_Z_BITS = 10


def zorder_key(x, y, bits: int = _Z_BITS):
    """Morton interleave of two non-negative ints (< 2^bits each): bit b of
    x lands at position 2b, bit b of y at 2b+1. Pure literal-shift
    expressions — whole-stage codegen, no UDF."""
    terms = []
    for b in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b))
        terms.append(F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1))
    out = terms[0]
    for term in terms[1:]:
        out = out + term
    return out


def _duck_zorder(x: str, y: str, bits: int = _Z_BITS) -> str:
    parts = [f"((({x} >> {b}) & 1) << {2 * b}) + ((({y} >> {b}) & 1) << {2 * b + 1})" for b in range(bits)]
    return " + ".join(parts)


@register(
    "zorder_key_events",
    doc="Z-order (Morton) clustering key: bit-interleave of two bucketed "
    "dimensions — the multi-column data-skipping layout key",
    oracle=f"""
        WITH b AS (
            SELECT event_id,
                   ((user_id % 1024) + 1024) % 1024 AS xb,
                   ((CAST(FLOOR(value) AS BIGINT) % 1024) + 1024) % 1024 AS yb
            FROM events
        )
        SELECT event_id, xb, yb, CAST({_duck_zorder('xb', 'yb')} AS BIGINT) AS zval
        FROM b
    """,
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (user bucket, value bucket): sorting/range-clustering
    the table by ``zval`` gives every output file a bounded range in BOTH
    dimensions, so min/max footer stats prune files for predicates on either
    column or both — the standard multi-dimensional layout trick (Delta
    OPTIMIZE ZORDER, Hudi clustering) expressed as a plain projection.
    tests/test_data_skipping.py exercises the layout; this query pins the
    key computation bit-for-bit against SQL."""
    ev = t(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(1024)).alias("xb"),
        F.pmod(F.floor("value").cast("bigint"), F.lit(1024)).alias("yb"),
    )
    return b.select(
        "event_id", "xb", "yb", zorder_key(F.col("xb"), F.col("yb")).cast("bigint").alias("zval")
    )


@register(
    "top_event_paths",
    doc="sequence mining: most frequent per-(user, day) event-type paths — "
    "ordered collect per session key, then path frequency top-k",
    oracle="""
        WITH paths AS (
            SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM events GROUP BY 1, 2
        )
        SELECT path, COUNT(*) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path
        LIMIT 25
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: concatenate each (user, day)'s event types in
    time order into a path string, then rank paths by frequency — the
    click-path report every product-analytics stack runs. The ordered
    concatenation is ``array_sort(collect_list(struct(ts, event_id,
    event_type)))`` — struct field order makes the sort key (ts, id), so
    the path is deterministic under any partitioning (same discipline as
    the funnel fold). Two shuffles: session key, then path; the top-k is
    the usual sort-limit with a total tie-break."""
    ev = t(spark, sf_dir, "events")
    paths = (
        ev.groupBy(
            "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(25)
    )


@register(
    "missing_hour_buckets",
    doc="data-quality gap detection: hours of each day with zero events "
    "(calendar sequence anti-joined to the observed buckets)",
    oracle="""
        WITH days AS (
            SELECT DISTINCT date_trunc('day', ts) AS day FROM events
        ),
        calendar AS (
            SELECT day, unnest(generate_series(0, 23)) AS hour FROM days
        ),
        observed AS (
            SELECT DISTINCT date_trunc('day', ts) AS day,
                   CAST(hour(ts) AS BIGINT) AS hour
            FROM events WHERE event_type = 'signup'
        )
        SELECT strftime(c.day, '%Y-%m-%d') AS day, CAST(c.hour AS BIGINT) AS hour
        FROM calendar c
        LEFT JOIN observed o ON o.day = c.day AND o.hour = c.hour
        WHERE o.day IS NULL
    """,
)
def missing_hour_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring query behind every ingestion-freshness alert: build
    the dense day×hour calendar from the observed days (sequence + explode
    — no driver-side date loop), anti-join the hours where the monitored
    (sparse) signup stream reported, report the
    holes. Calendar generation is map-side; the anti-join is one broadcast
    (the observed-bucket relation aggregates to day×hour cardinality,
    tiny at any corpus size)."""
    ev = t(spark, sf_dir, "events")
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    calendar = days.select(
        "day", F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hour")
    )
    # the sparse stream being monitored: signup hours have real holes at
    # every SF (the dense streams fill every bucket past sf0.001)
    observed = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").cast("bigint").alias("hour"),
        )
        .distinct()
    )
    return (
        calendar.join(observed, ["day", "hour"], "left_anti")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("hour").cast("bigint").alias("hour"),
        )
    )


@register(
    "top_brands_with_other",
    doc="top-N + OTHER rollup: the 5 highest-revenue brands keep their "
    "identity, the tail collapses into one OTHER row (exact decimals)",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS r
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
        ),
        ranked AS (
            SELECT p_brand, r,
                   ROW_NUMBER() OVER (ORDER BY r DESC, p_brand) AS rk
            FROM rev
        )
        SELECT CASE WHEN rk <= 5 THEN p_brand ELSE 'OTHER' END AS brand,
               CAST(SUM(r) AS DOUBLE) AS revenue,
               COUNT(*) AS n_brands
        FROM ranked GROUP BY 1
    """,
)
def top_brands_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard rollup: exact per-brand revenue, deterministic top-5
    (total order: revenue desc, brand), everything else one OTHER row.
    Decimal-exact end to end; the rank is over the already-aggregated brand
    relation (tiny), so the only big-data work is the first
    broadcast-dimension aggregation."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(money("l_extendedprice")).alias("r"))
    )
    ranked = rev.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("r"), "p_brand"))
    )
    return (
        ranked.groupBy(
            F.when(F.col("rk") <= 5, F.col("p_brand")).otherwise("OTHER").alias("brand")
        )
        .agg(dec2(F.sum("r")).alias("revenue"), F.count("*").alias("n_brands"))
    )


@register(
    "aqp_sampled_counts",
    doc="approximate query processing on the deterministic 1%-hash sample: "
    "scaled estimates vs exact counts with relative error, all reproducible",
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 25, 8)) AS BIGINT) % 100 AS coin
            FROM events
        ),
        agg AS (
            SELECT event_type,
                   COUNT(*) AS n_exact,
                   100 * COUNT(*) FILTER (WHERE coin = 0) AS n_est
            FROM base GROUP BY event_type
        )
        SELECT event_type, n_exact, n_est,
               ROUND(ABS(CAST(n_est AS DOUBLE) - n_exact) / n_exact, 9) AS rel_err
        FROM agg
    """,
)
def aqp_sampled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing with a DETERMINISTIC sample: the 1%
    hash-coin subset (md5 low bits — the repo's sampling discipline, never
    ``rand()``) scales counts by 100 and sits next to the exact answer so
    the error is measurable, reproducible, and engine-identical. At 100 TB
    the estimate column is what a dashboard reads from the 1% sample table
    while the exact pass runs on schedule; here both run in one scan
    (conditional aggregation — the sample costs no second pass)."""
    from songs_etl_spark.plans.sampling import hash_bucket

    ev = t(spark, sf_dir, "events")
    coin = hash_bucket(F.col("event_id"))
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_exact"),
        (100 * F.count(F.when(coin == 0, 1))).alias("n_est"),
    )
    return agg.select(
        "event_type",
        "n_exact",
        "n_est",
        F.round(
            F.abs(F.col("n_est").cast("double") - F.col("n_exact")) / F.col("n_exact"), 9
        ).alias("rel_err"),
    )


@register(
    "order_value_daily_proration",
    doc="allocation spread: each order's value prorated over the 7 days "
    "from its order date (integer-cent shares, remainder to day 1), "
    "summed per calendar day",
    oracle="""
        WITH o AS (
            SELECT o_orderkey,
                   o_orderdate,
                   CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT) AS cents
            FROM orders
        ),
        spread AS (
            SELECT o_orderkey,
                   o_orderdate + i.i * INTERVAL 1 DAY AS day,
                   cents // 7 + CASE WHEN i.i = 0 THEN cents - 7 * (cents // 7) ELSE 0 END
                       AS share_cents
            FROM o CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) i
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               COUNT(*) AS n_orders,
               CAST(SUM(share_cents) AS BIGINT) AS cents
        FROM spread GROUP BY 1
    """,
)
def order_value_daily_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-recognition-style proration: every order's value splits into
    7 daily shares starting at its order date — integer cents, floor
    shares, remainder on day 1 (the linear_attribution discipline), so
    per-day totals are exact integers however the rows distribute. The
    date series is a bounded map-side explode (sequence of 7), then one
    hash aggregation by day — the lateral-date-spread shape every finance
    rollup uses, with no self-join and no calendar table to maintain."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(money("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base = F.expr("cents DIV 7")
    spread_df = o.select(
        "o_orderkey",
        "o_orderdate",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
    ).select(
        F.date_format(F.date_add("o_orderdate", F.col("i")), "yyyy-MM-dd").alias("day"),
        (base + F.when(F.col("i") == 0, F.col("cents") - 7 * base).otherwise(F.lit(0))).alias(
            "share_cents"
        ),
    )
    return spread_df.groupBy("day").agg(
        F.count("*").alias("n_orders"),
        F.sum("share_cents").cast("bigint").alias("cents"),
    )


@register(
    "top_token_per_source",
    doc="grouped mode: each source's most frequent token, deterministic "
    "tie-break, min(struct(-n, token)) argmax — no per-group sort",
    oracle="""
        WITH flat AS (
            SELECT source,
                   unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                      x -> x <> '')) AS token
            FROM documents
        ),
        counts AS (SELECT source, token, COUNT(*) AS n FROM flat GROUP BY 1, 2)
        SELECT source,
               struct_extract(min({'negn': -n, 'token': token}), 'token') AS top_token,
               CAST(-struct_extract(min({'negn': -n, 'token': token}), 'negn') AS BIGINT) AS n
        FROM counts GROUP BY source
    """,
)
def top_token_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped MODE without a window sort: count (source, token), then
    one more hash aggregation taking min(struct(-n, token)) — the
    lexicographic struct min is simultaneously the count argmax and the
    alphabetic tie-break, deterministic on any engine (the same trick as
    the k-means assignment argmin). Two shuffles, no row_number, no
    per-group sort — at 100 TB the token-count relation is the only big
    intermediate and both aggregations combine map-side."""
    docs = t(spark, sf_dir, "documents")
    from songs_etl_spark.functions.text import tokens as tok_fn

    flat = docs.select("source", F.explode(tok_fn(F.col("text"))).alias("token"))
    counts = flat.groupBy("source", "token").agg(F.count("*").alias("n"))
    best = counts.groupBy("source").agg(
        F.min(F.struct((-F.col("n")).alias("negn"), F.col("token"))).alias("b")
    )
    return best.select(
        "source",
        F.col("b.token").alias("top_token"),
        (-F.col("b.negn")).cast("bigint").alias("n"),
    )


@register(
    "daily_revenue_click_corr",
    doc="cross-series Pearson correlation (daily purchase cents vs click "
    "count) from exact integer sums — closed form, single deterministic "
    "float chain, ROUND-9",
    oracle="""
        WITH daily AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        s AS (
            -- DuckDB promotes BIGINT*BIGINT sums to HUGEINT (no wrap); the
            -- string round-trip conversion is the module's _D discipline
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
            FROM daily
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               ROUND((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS pearson_r
        FROM s
    """,
)
def daily_revenue_click_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between two daily series (purchase revenue in
    cents, click count) — NOT ``F.corr``, whose streaming-covariance float
    accumulation is partition-order-dependent: all five moments are exact
    integer sums (cents ≤ 2^27 · days keeps every product far under 2^53),
    and the closed form is one fixed scalar chain both engines execute
    identically, ROUND-9 for the final sqrt/divide pair. The daily
    aggregation is one shuffle; the moment row is a second tiny one."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(money("value") * 100).cast("bigint")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "click", 1)).cast("bigint").alias("y"),
    )
    # moments accumulate in DECIMAL(38,0): bigint*bigint would silently
    # wrap in Spark's non-ANSI mode once a day's cents square exceeds 2^63,
    # while the decimal product/sum stays exact (DuckDB side: HUGEINT)
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = daily.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(num / den, 9).alias("pearson_r"),
    )


#: CCF lag range: clicks at day t vs purchase value at day t+lag.
_CCF_LAGS = 3


@register(
    "ccf_clicks_vs_value",
    tags=("bcast-const",),
    doc="cross-correlation function (lead-lag Pearson, lags -3..+3) between "
    "the daily click and purchase-value series — the do-clicks-LEAD-"
    "revenue profile; exact integer moments per lag, day-index equi-join",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT) AS di,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        lags AS (SELECT unnest(range(-{_CCF_LAGS}, {_CCF_LAGS + 1})) AS lag),
        paired AS (
            SELECT l.lag, a.x, b.y
            FROM daily a CROSS JOIN lags l
            JOIN daily b ON b.di = a.di + l.lag
        ),
        s AS (
            SELECT lag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
                   CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
            FROM paired GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag_days,
               CAST(n AS BIGINT) AS n_days,
               CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                    THEN ROUND((n * sxy - sx * sy)
                         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
               END AS pearson_r
        FROM s
    """,
)
def ccf_clicks_vs_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation FUNCTION between the daily click-count series and
    the daily purchase-value series at lags −{_CCF_LAGS}..+{_CCF_LAGS}:
    ``daily_revenue_click_corr`` gives the contemporaneous r, this gives
    the lead-lag profile — r at lag +1 is "today's clicks vs TOMORROW's
    revenue", the marketing question (do clicks lead conversions, and by
    how many days?), and the asymmetry of the curve around 0 is the
    direction-of-influence diagnostic (``acf_daily_revenue`` is the
    self-lag special case of this shape).

    Determinism and shape: days collapse to integer day indexes
    (epoch-micros div 86,400,000,000 — pure int arithmetic, no calendar
    functions in the join), each lag is an EQUI-join of the tiny daily
    relation against its shifted self (7 lags × ~31 rows — the lag
    relation broadcasts, hence bcast-const), and per-lag Pearson r comes
    from the same exact integer moment sums + fixed ROUND-9 scalar chain
    as the lag-0 query. The corpus is read once; everything after the
    daily aggregation is constant-sized."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(money("value") * 100).cast("bigint")
    daily = ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts")) / F.lit(86_400_000_000))
        .cast("bigint")
        .alias("di")
    ).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.range(-_CCF_LAGS, _CCF_LAGS + 1).select(F.col("id").alias("lag"))
    a = daily.select("di", "x").crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("di") + F.col("lag")).alias("tdi"), "x"
    )
    paired = a.join(daily.select(F.col("di").alias("tdi"), "y"), "tdi")
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    s = paired.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # Zero variance at a lag (constant series) → NULL on both engines
    # rather than NaN-in-Spark / NULL-in-DuckDB divergence.
    den2 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_days"),
        F.when(den2 > 0, F.round(num / F.sqrt(den2), 9)).alias("pearson_r"),
    )


@register(
    "cumulative_unique_users",
    doc="running distinct-user count per day WITHOUT distinct-state: each "
    "user reduces to a first-seen day, then one cumulative sum",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
        ),
        per_day AS (
            SELECT d0 AS day, COUNT(*) AS new_users FROM first_seen GROUP BY d0
        ),
        cal AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
        SELECT strftime(c.day, '%Y-%m-%d') AS day,
               CAST(COALESCE(p.new_users, 0) AS BIGINT) AS new_users,
               CAST(SUM(COALESCE(p.new_users, 0)) OVER (ORDER BY c.day
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        FROM cal c LEFT JOIN per_day p ON p.day = c.day
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — computed with
    NO running-distinct state: a user's entire history collapses to a
    first-seen day (one user-keyed aggregation), daily new-user counts
    follow, and the cumulative metric is a window sum over the tiny
    per-day relation. The naive formulation (distinct users per expanding
    window) is quadratic state; this one is the standard linear rewrite
    every growth dashboard should use. The final global-ordered window
    runs over day-cardinality rows only — constant-size at any event
    volume."""
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    per_day = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    cal = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    dense = cal.join(per_day, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return dense.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "nation_share_of_region",
    doc="percent-of-parent report: each nation's revenue share within its "
    "region (exact decimal revenue, ratio as one exact division)",
    oracle="""
        WITH rev AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS v
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        )
        SELECT region, nation,
               CAST(v AS DOUBLE) AS revenue,
               CAST(v AS DOUBLE) / CAST(SUM(v) OVER (PARTITION BY region) AS DOUBLE)
                   AS share_of_region
        FROM rev
    """,
)
def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent over the star schema: revenue per (region, nation)
    with each nation's share of its region — the drill-down report shape.
    All dims broadcast onto the lineitem scan, one aggregation shuffle;
    the parent total is a window over the tiny aggregate and the share is
    a single division of exact decimal sums (both engines: decimal →
    double correctly rounded, then one IEEE divide)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        # orders is fact-sized — NOT broadcast; AQE picks the join strategy
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(money("l_extendedprice")).alias("v"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        dec2(F.col("v")).alias("revenue"),
        (dec2(F.col("v")) / dec2(F.sum("v").over(w))).alias("share_of_region"),
    )


@register(
    "gini_customer_spend",
    doc="spend-inequality Gini coefficient from exact integer cents: "
    "rank-weighted sorted sum, one fixed float chain at the end",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk
            FROM spend
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(CAST(SUM(cents) AS VARCHAR) AS DOUBLE) AS total,
                   CAST(CAST(SUM(rk * cents) AS VARCHAR) AS DOUBLE) AS weighted
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               ROUND(2 * weighted / (n * total) - (n + 1) / n, 9) AS gini
        FROM s
    """,
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend — the inequality summary a
    mixing/curation pipeline uses to detect domination by a few heavy
    sources. Formulation: G = 2·Σ(rank·xᵢ)/(n·Σx) − (n+1)/n over the
    ascending-sorted integer-cent totals (deterministic tie-break on the
    customer key). Both moments are exact integer sums (HUGEINT/decimal —
    rank·cents can pass 2⁶³ at corpus scale), so the final expression is
    one fixed float chain, ROUND-9. The global sort runs on the per-
    customer aggregate (one row per customer), not raw orders."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.row_number().over(Window.orderBy("cents", "o_custkey")).alias("rk"),
    )
    cd = F.col("cents").cast("decimal(19,0)")
    s = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(cd).cast("double").alias("total"),
        F.sum(F.col("rk").cast("decimal(19,0)") * cd).cast("double").alias("weighted"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(
            2 * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1) / F.col("n"),
            9,
        ).alias("gini"),
    )


@register(
    "new_vs_returning_daily",
    doc="daily new vs returning active users: first-seen day per user (one "
    "aggregation), then conditional counts per active day",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
        ),
        active AS (
            SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
        )
        SELECT strftime(a.day, '%Y-%m-%d') AS day,
               COUNT(*) AS n_active,
               COUNT(*) FILTER (WHERE f.d0 = a.day) AS n_new,
               COUNT(*) FILTER (WHERE f.d0 < a.day) AS n_returning
        FROM active a JOIN first_seen f ON f.user_id = a.user_id
        GROUP BY a.day
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention dashboard's daily split: an active user is NEW on
    their first-seen day and RETURNING after. First-seen collapses each
    user's history to one row (the cumulative_unique_users trick); the
    daily split joins that narrow relation onto the distinct (day, user)
    activity — conditional counts, no window, no expanding distinct state.

    No broadcast hint on first_seen: unlike the bounded dims this family
    broadcasts, it is one row PER USER — it grows with user cardinality,
    and pinning it broadcast would forbid AQE's fallback to a plain hash
    join (both sides key on user_id) and risk OOM at corpus scale. AQE
    picks broadcast on its own while the relation is actually small."""
    ev = t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    active = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    j = active.join(first_seen, "user_id")
    return j.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.count("*").alias("n_active"),
        F.count(F.when(F.col("d0") == F.col("day"), 1)).alias("n_new"),
        F.count(F.when(F.col("d0") < F.col("day"), 1)).alias("n_returning"),
    )


@register(
    "peak_concurrent_users_daily",
    doc="sweep-line interval concurrency: each user's daily activity span "
    "becomes +1/-1 events; a running sum per day finds the peak number "
    "of simultaneously-active users",
    oracle="""
        WITH spans AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   MIN(ts) AS t_start, MAX(ts) AS t_end
            FROM events GROUP BY user_id, date_trunc('day', ts)
        ),
        deltas AS (
            SELECT day, t_start AS t, 1 AS d, user_id FROM spans
            UNION ALL
            SELECT day, t_end, -1, user_id FROM spans
        ),
        swept AS (
            SELECT day,
                   SUM(d) OVER (PARTITION BY day
                                ORDER BY t, d DESC, user_id
                                ROWS UNBOUNDED PRECEDING) AS running
            FROM deltas
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(MAX(running) AS BIGINT) AS peak_concurrent
        FROM swept GROUP BY day
    """,
)
def peak_concurrent_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sweep-line algorithm as a window plan: activity intervals
    decompose into +1 (start) / −1 (end) deltas, a running sum ordered by
    time gives the live concurrency at every boundary, and the per-day max
    is the peak. Tie discipline: at equal timestamps starts count BEFORE
    ends (d DESC) with user_id as the total tie-break, so a zero-length
    span still registers concurrency 1 — the same rule in both engines.
    Partitioned by day, the sweep parallelizes across days; within one
    day it is the optimal O(n log n) interval-overlap computation with no
    interval-pair join anywhere."""
    ev = t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    deltas = spans.select(
        "day", F.col("t_start").alias("t"), F.lit(1).alias("d"), "user_id"
    ).unionByName(
        spans.select("day", F.col("t_end").alias("t"), F.lit(-1).alias("d"), "user_id")
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", F.desc("d"), "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.select("day", F.sum("d").over(w).alias("running"))
    return swept.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.max("running").cast("bigint").alias("peak_concurrent")
    )


@register(
    "daily_session_stats",
    doc="session-quality rollup: per day, session count, bounce rate "
    "(single-event sessions) and mean events/session — gap-rule "
    "sessionization feeding exact count ratios",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(is_start) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_no
            FROM seq
        ),
        per_session AS (
            SELECT user_id, session_no,
                   strftime(date_trunc('day', MIN(ts)), '%Y-%m-%d') AS day,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_no
        )
        SELECT day,
               COUNT(*) AS n_sessions,
               COUNT(*) FILTER (WHERE n_events = 1) AS n_bounces,
               CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE) / COUNT(*)
                   AS bounce_rate,
               CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_events
        FROM per_session GROUP BY day
    """,
)
def daily_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-health rollup on top of gap sessionization (30-minute
    inactivity closes a session, the user_sessionization rule): sessions
    attribute to their START day, bounces are single-event sessions, and
    both summary ratios are exact-integer divisions. One user-keyed
    shuffle drives both window passes; the per-session and per-day
    aggregations combine map-side."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = seq.select(
        "user_id", "ts", F.sum("is_start").over(wc).alias("session_no")
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias("day"),
        F.count("*").alias("n_events"),
    )
    bounces = F.count(F.when(F.col("n_events") == 1, 1))
    return per_session.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        bounces.alias("n_bounces"),
        (bounces.cast("double") / F.count("*")).alias("bounce_rate"),
        (F.sum("n_events").cast("double") / F.count("*")).alias("mean_events"),
    )


@register(
    "revenue_changepoint_cusum",
    tags=("bcast-const",),
    doc="change-point detection: CUSUM of daily revenue deviations from "
    "the overall mean; the argmax |CUSUM| day is the level-shift "
    "estimate — exact integer sums, fixed float chain",
    oracle="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        tot AS (
            SELECT CAST(CAST(SUM(cents) AS VARCHAR) AS DOUBLE) AS total,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM daily
        ),
        cum AS (
            SELECT day,
                   CAST(CAST(SUM(cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                             AS VARCHAR) AS DOUBLE) AS s,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t
            FROM daily
        ),
        scored AS (
            SELECT day, ROUND(ABS(s - t * (tot.total / tot.n)), 6) AS dev
            FROM cum, tot
        )
        SELECT struct_extract(b, 'day_s') AS change_day,
               struct_extract(b, 'dev') AS cusum_max
        FROM (
            SELECT MAX({'dev': dev, 'day_s': strftime(day, '%Y-%m-%d')}) AS b
            FROM scored
        )
    """,
)
def revenue_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift detection on the daily purchase-revenue series: the
    CUSUM statistic S_t − t·mean peaks (in absolute value) at the most
    likely change point. Every input is an exact integer sum (cents;
    string-roundtrip double conversion per the module discipline), the
    per-day deviation is a fixed chain ROUNDed to 6, and the argmax is a
    lexicographic struct max with the day itself as tie-break — so both
    engines elect the identical day. One daily aggregation + one
    day-ordered window over day-cardinality rows."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(money("value") * 100).cast("bigint")).alias("cents")
    )
    tot = daily.agg(
        F.sum(F.col("cents").cast("decimal(19,0)")).cast("double").alias("total"),
        F.count("*").cast("double").alias("n"),
    )
    wo = Window.orderBy("day")
    cum = daily.select(
        "day",
        F.sum(F.col("cents").cast("decimal(19,0)"))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("s"),
        F.row_number().over(wo).cast("double").alias("t"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.round(F.abs(F.col("s") - F.col("t") * (F.col("total") / F.col("n"))), 6).alias(
            "dev"
        ),
    )
    return scored.agg(
        F.max(F.struct(F.col("dev"), F.col("day_s"))).alias("b")
    ).select(
        F.col("b.day_s").alias("change_day"),
        F.col("b.dev").alias("cusum_max"),
    )


@register(
    "benford_first_digit_audit",
    tags=("bcast-const",),
    doc="fraud/data-quality audit: first-digit distribution of order "
    "totals vs Benford's law, per-digit deviation — exact counts, fixed "
    "log chain",
    oracle="""
        WITH digits AS (
            SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                        AS VARCHAR), 1, 1) AS d
            FROM orders
            WHERE CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) > 0
        ),
        obs AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
        tot AS (SELECT SUM(n) AS t FROM obs)
        SELECT obs.d AS first_digit,
               CAST(obs.n AS BIGINT) AS n,
               ROUND(obs.n / CAST(tot.t AS DOUBLE), 9) AS observed_p,
               ROUND(LN(1 + 1.0 / CAST(obs.d AS INT)) / LN(10), 9) AS benford_p
        FROM obs, tot
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the money column: leading digits of the
    exact scaled-integer representation (no float formatting ambiguity)
    counted against log10(1 + 1/d). Fabricated or unit-mangled monetary
    data departs from the curve — the classic forensic screen, here one
    map-side digit projection and one 9-row aggregation. Both ratios
    ROUND-9 (the ln pair is the module's known 1-ulp divergence)."""
    o = t(spark, sf_dir, "orders")
    scaled = (money("o_totalprice") * 10000).cast("bigint")
    digits = o.select(
        F.substring(scaled.cast("string"), 1, 1).alias("d")
    ).filter(scaled > 0)
    obs = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("t"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.col("t").cast("double"), 9).alias("observed_p"),
        F.round(
            F.log(1 + 1.0 / F.col("d").cast("int")) / F.log(F.lit(10.0)), 9
        ).alias("benford_p"),
    )


@register(
    "hhi_brand_concentration",
    doc="market-concentration Herfindahl index per region: sum of squared "
    "revenue shares — exact decimal revenue, fixed float chain, ROUND-9",
    oracle="""
        WITH rev AS (
            SELECT r.r_name AS region, p.p_brand AS brand,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS v
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        tot AS (SELECT region, SUM(v) AS t FROM rev GROUP BY region)
        SELECT rev.region,
               COUNT(*) AS n_brands,
               ROUND(SUM(ROUND(POW(CAST(rev.v AS DOUBLE) / CAST(tot.t AS DOUBLE), 2), 12)), 9)
                   AS hhi
        FROM rev JOIN tot ON rev.region = tot.region
        GROUP BY rev.region
    """,
)
def hhi_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of brand revenue within each
    region (Σ share² — 1/n_brands when perfectly even, 1.0 when one brand
    owns the region): the Gini's cousin for market/source domination.
    Shares come from exact decimal sums; each squared share is quantized
    to 12 decimals before the cross-brand sum (accumulation order can't
    move the ROUND-9 result), same discipline as source_token_entropy."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_extendedprice")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("r_name").alias("region"), F.col("p_brand").alias("brand"))
        .agg(F.sum(money("l_extendedprice")).alias("v"))
    )
    tot = rev.groupBy("region").agg(F.sum("v").alias("t"))
    share = F.col("v").cast("double") / F.col("t").cast("double")
    return (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region")
        .agg(
            F.count("*").alias("n_brands"),
            F.round(F.sum(F.round(F.pow(share, 2), 12)), 9).alias("hhi"),
        )
    )




def _ndcg_oracle() -> str:
    from songs_etl_spark.plans.registry import REGISTRY

    bm25 = REGISTRY["bm25_doc_scores"].oracle
    quality = REGISTRY["gopher_quality_filter"].oracle
    return """
        WITH scores AS (
            SELECT b.doc_id, b.bm25, CASE WHEN q.keep THEN 1 ELSE 0 END AS rel
            FROM (%s) b JOIN (%s) q ON q.doc_id = b.doc_id
        ),
        ranked AS (
            SELECT rel, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS pos
            FROM scores
        ),
        ideal AS (
            SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS pos
            FROM scores
        ),
        dcg AS (
            SELECT SUM(ROUND(rel / (LN(pos + 1) / LN(2)), 12)) AS v
            FROM ranked WHERE pos <= 20
        ),
        idcg AS (
            SELECT SUM(ROUND(rel / (LN(pos + 1) / LN(2)), 12)) AS v
            FROM ideal WHERE pos <= 20
        )
        SELECT ROUND(dcg.v, 9) AS dcg20,
               ROUND(idcg.v, 9) AS idcg20,
               ROUND(dcg.v / idcg.v, 9) AS ndcg20
        FROM dcg, idcg
    """ % (bm25, quality)

@register(
    "ndcg_bm25_vs_quality",
    tags=("bcast-const",),
    doc="ranking evaluation: NDCG@20 of the BM25 ordering against the "
    "quality-gate relevance labels — per-position terms quantized, one "
    "summary row",
    oracle=_ndcg_oracle(), 
)
def ndcg_bm25_vs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ranking evaluation: does the BM25 ordering surface the
    quality-gate-approved documents? NDCG@20 with binary relevance =
    gopher keep; discounts 1/log2(pos+1) with per-position terms quantized
    to 12 decimals before the 20-term sums (the entropy/HHI discipline),
    ideal ranking tie-broken on doc_id. Composes two audited stages —
    the scorer and the labeler — into the IR-evaluation metric a
    retrieval stack reports."""
    from songs_etl_spark.plans.curation import gopher_quality_filter
    from songs_etl_spark.plans.text import bm25_doc_scores
    from pyspark.sql.window import Window as W

    b = bm25_doc_scores(spark, sf_dir).select("doc_id", "bm25")
    q = gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.when(F.col("keep"), 1).otherwise(0).alias("rel")
    )
    scores = b.join(q, "doc_id")
    ranked = scores.withColumn(
        "pos", F.row_number().over(W.orderBy(F.desc("bm25"), "doc_id"))
    ).filter(F.col("pos") <= 20)
    ideal = scores.withColumn(
        "pos", F.row_number().over(W.orderBy(F.desc("rel"), "doc_id"))
    ).filter(F.col("pos") <= 20)
    term = F.round(
        F.col("rel") / (F.log(F.col("pos") + 1) / F.log(F.lit(2.0))), 12
    )
    dcg = ranked.agg(F.sum(term).alias("v"))
    idcg = ideal.agg(F.sum(term).alias("v2"))
    return dcg.crossJoin(idcg).select(
        F.round(F.col("v"), 9).alias("dcg20"),
        F.round(F.col("v2"), 9).alias("idcg20"),
        F.round(F.col("v") / F.col("v2"), 9).alias("ndcg20"),
    )


@register(
    "lorenz_spend_deciles",
    tags=("bcast-const",),
    doc="Lorenz curve of customer spend: per decile (ntile over exact "
    "cents), cumulative share of customers vs cumulative share of spend "
    "— the distribution behind the Gini number",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        tiled AS (
            SELECT cents, NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
            FROM spend
        ),
        per AS (
            SELECT decile, COUNT(*) AS n, SUM(cents) AS c FROM tiled GROUP BY decile
        ),
        tot AS (SELECT SUM(n) AS tn, SUM(c) AS tc FROM per)
        SELECT per.decile,
               CAST(per.n AS BIGINT) AS n_customers,
               CAST(per.c AS BIGINT) AS cents,
               ROUND(CAST(SUM(per.n) OVER (ORDER BY per.decile ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / tot.tn, 9) AS cum_pop_share,
               ROUND(CAST(SUM(per.c) OVER (ORDER BY per.decile ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE) / tot.tc, 9) AS cum_spend_share
        FROM per, tot
    """,
)
def lorenz_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve underlying gini_customer_spend: customers tiled
    into spend deciles (ascending, total tie-break), each decile's
    cumulative population and spend shares as exact integer ratios. The
    global ntile runs over the per-customer aggregate (one row per
    customer); the decile relation is 10 rows, so the cumulative window
    is trivial."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    tiled = spend.select(
        "cents", F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile")
    )
    per = tiled.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("c").alias("tc"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("c").cast("bigint").alias("cents"),
            F.round(
                F.sum("n").over(w).cast("double") / F.col("tn").cast("double"), 9
            ).alias("cum_pop_share"),
            F.round(
                F.sum("c").over(w).cast("double") / F.col("tc").cast("double"), 9
            ).alias("cum_spend_share"),
        )
    )


@register(
    "pareto_frontier_orders",
    doc="2D skyline: orders not dominated on (earlier date, higher price) — "
    "window-pass frontier vs NOT-EXISTS dominance oracle",
    oracle="""
        WITH dmax AS (
            SELECT o_orderdate AS d, MAX(o_totalprice) AS mp
            FROM orders GROUP BY o_orderdate
        ),
        sky AS (
            SELECT d, mp FROM dmax a
            WHERE NOT EXISTS (
                SELECT 1 FROM dmax b WHERE b.d < a.d AND b.mp >= a.mp
            )
        )
        SELECT o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
               o.o_totalprice AS total_price
        FROM orders o
        JOIN sky ON o.o_orderdate = sky.d AND o.o_totalprice = sky.mp
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline query: the Pareto-optimal orders under (minimize
    o_orderdate, maximize o_totalprice) — an order survives iff no other
    order is at least as early AND at least as expensive (strict in one
    dimension). The textbook formulation is a quadratic NOT-EXISTS
    self-join (the oracle); the scale plan exploits the 2D structure:

    1. one partial-aggregating shuffle reduces orders to the *date-level*
       relation (date, max price) — cardinality = #distinct dates, orders
       of magnitude below the fact table at any SF;
    2. a running-max window over that tiny relation (sorted by date) marks
       a date as frontier iff its max price strictly exceeds every earlier
       date's max — the classic sort-scan skyline, O(D log D) on D dates;
    3. the frontier dates broadcast-join back to orders (no fact shuffle).

    Ties: same-date orders survive only at the date's max price; equal
    (date, price) duplicates all survive (neither strictly dominates).
    Dominance tests compare raw parquet doubles (no arithmetic), so the
    frontier set is bit-identical across engines. The global window runs
    on the date-level relation only — if the frontier dimension were
    high-cardinality, step 2 would range-partition by date and stitch
    boundary maxima, same as running_order_totals documents."""
    o = t(spark, sf_dir, "orders")
    dmax = o.groupBy("o_orderdate").agg(F.max("o_totalprice").alias("mp"))
    w = Window.orderBy("o_orderdate").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        dmax.select("o_orderdate", "mp", F.max("mp").over(w).alias("prev_max"))
        .where(F.col("prev_max").isNull() | (F.col("mp") > F.col("prev_max")))
        .select(F.col("o_orderdate").alias("sky_d"), F.col("mp").alias("sky_mp"))
    )
    return (
        o.join(
            F.broadcast(sky),
            (F.col("o_orderdate") == F.col("sky_d"))
            & (F.col("o_totalprice") == F.col("sky_mp")),
        )
        .select(
            "o_orderkey",
            fmt_date("o_orderdate").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
        )
    )


#: Association-rule thresholds: pair support floor (shared with the
#: frequent-pairs pass) and the minimum confidence a rule must clear.
_RULE_MIN_CONF_PCT = 10


@register(
    "association_rules_copurchase",
    tags=("bcast-const",),
    doc="market-basket association rules A→B over frequent co-purchase "
    "pairs: confidence and lift from exact basket counts",
    oracle=f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
        isup AS (
            SELECT l_partkey, COUNT(*) AS s FROM items GROUP BY l_partkey
        ),
        pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS s
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {{minsup}}
        ),
        rules AS (
            SELECT pa AS antecedent, pb AS consequent, p.s AS pair_support,
                   ia.s AS ante_support, ic.s AS cons_support
            FROM pairs p
            JOIN isup ia ON ia.l_partkey = p.pa
            JOIN isup ic ON ic.l_partkey = p.pb
            UNION ALL
            SELECT pb, pa, p.s, ic.s, ia.s
            FROM pairs p
            JOIN isup ia ON ia.l_partkey = p.pa
            JOIN isup ic ON ic.l_partkey = p.pb
        )
        SELECT antecedent, consequent,
               CAST(pair_support AS BIGINT) AS pair_support,
               CAST(ante_support AS BIGINT) AS ante_support,
               CAST(pair_support AS DOUBLE) / CAST(ante_support AS DOUBLE)
                   AS confidence,
               (CAST(pair_support AS DOUBLE) / CAST(ante_support AS DOUBLE))
                   / (CAST(cons_support AS DOUBLE) / CAST(nb.n AS DOUBLE)) AS lift
        FROM rules, nb
        WHERE pair_support * 100 >= ante_support * {_RULE_MIN_CONF_PCT}
    """.replace("{minsup}", "3"),
)
def association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A-Priori rule-generation pass on top of the k=2 frequent
    itemsets: every frequent pair (A, B) yields both directed rules with
    confidence = supp(A∪B)/supp(A) and lift = confidence / (supp(B)/N) —
    the two numbers a recommender or planogram query actually consumes.
    Item supports come from one partial-aggregating groupBy; rules attach
    them via two broadcast-sized equi-joins (the item-support relation is
    |parts|, dimension-sized); the confidence floor is applied in exact
    integer cross-multiplication (pair·100 ≥ ante·pct, no float
    comparison on the cut), and confidence/lift are emitted as single
    divisions of exact counts (registry rule 2 — deterministic raw
    doubles). Both directions of each pair materialize from ONE
    pair-support aggregation (UNION ALL, no second basket join)."""
    li = t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    from songs_etl_spark.plans._util import track_persist

    items = track_persist(items)
    nb = items.agg(F.count_distinct("l_orderkey").alias("n"))
    isup = items.groupBy("l_partkey").agg(F.count("*").alias("s"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("s"))
        .where(F.col("s") >= _BASKET_MIN_SUPPORT)
    )
    ia = isup.select(F.col("l_partkey").alias("pa"), F.col("s").alias("sa"))
    ic = isup.select(F.col("l_partkey").alias("pb"), F.col("s").alias("sb"))
    joined = pairs.join(F.broadcast(ia), "pa").join(F.broadcast(ic), "pb")
    fwd = joined.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        F.col("s").alias("pair_support"),
        F.col("sa").alias("ante_support"),
        F.col("sb").alias("cons_support"),
    )
    rev = joined.select(
        F.col("pb").alias("antecedent"),
        F.col("pa").alias("consequent"),
        F.col("s").alias("pair_support"),
        F.col("sb").alias("ante_support"),
        F.col("sa").alias("cons_support"),
    )
    rules = fwd.unionByName(rev).crossJoin(F.broadcast(nb))
    conf = F.col("pair_support").cast("double") / F.col("ante_support").cast("double")
    return (
        rules.where(
            F.col("pair_support") * 100 >= F.col("ante_support") * _RULE_MIN_CONF_PCT
        )
        .select(
            "antecedent",
            "consequent",
            F.col("pair_support").cast("bigint").alias("pair_support"),
            F.col("ante_support").cast("bigint").alias("ante_support"),
            conf.alias("confidence"),
            (
                conf
                / (F.col("cons_support").cast("double") / F.col("n").cast("double"))
            ).alias("lift"),
        )
    )


#: z for 95% two-sided Wilson intervals — one shared literal, exact on both
#: engines (the nearest double to Φ⁻¹(0.975)).
_WILSON_Z = "1.959963984540054"


def _wilson_sql(k: str, n: str) -> tuple[str, str]:
    z = _WILSON_Z
    p = f"(CAST({k} AS DOUBLE) / CAST({n} AS DOUBLE))"
    nn = f"CAST({n} AS DOUBLE)"
    center = f"({p} + (({z} * {z}) / (2.0 * {nn})))"
    margin = (
        f"({z} * SQRT((({p} * (1.0 - {p})) / {nn})"
        f" + (({z} * {z}) / (4.0 * ({nn} * {nn})))))"
    )
    denom = f"(1.0 + (({z} * {z}) / {nn}))"
    return f"(({center} - {margin}) / {denom})", f"(({center} + {margin}) / {denom})"


@register(
    "funnel_wilson_intervals",
    doc="funnel conversion rates with 95% Wilson score intervals — exact "
    "per-user presence counts, fixed-chain interval arithmetic",
    oracle=f"""
        WITH flags AS (
            SELECT user_id,
                   MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT SUM(has_v) AS v,
                   SUM(has_v * has_c) AS vc,
                   SUM(has_v * has_c * has_p) AS vcp
            FROM flags
        )
        SELECT 'view->click' AS step,
               CAST(v AS BIGINT) AS trials, CAST(vc AS BIGINT) AS successes,
               CAST(vc AS DOUBLE) / CAST(v AS DOUBLE) AS rate,
               {_wilson_sql('vc', 'v')[0]} AS wilson_low,
               {_wilson_sql('vc', 'v')[1]} AS wilson_high
        FROM agg
        UNION ALL
        SELECT 'click->purchase',
               CAST(vc AS BIGINT), CAST(vcp AS BIGINT),
               CAST(vcp AS DOUBLE) / CAST(vc AS DOUBLE),
               {_wilson_sql('vcp', 'vc')[0]},
               {_wilson_sql('vcp', 'vc')[1]}
        FROM agg
    """,
)
def funnel_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion rates that are honest about sample size: each
    step's rate carries its 95% Wilson score interval — the interval that
    stays inside [0, 1] and behaves at small n, which is why growth
    dashboards use it over the naive normal approximation. Counts are
    exact per-user presence sums (one user-keyed aggregation, then a
    1-row reduce); the interval is one fixed arithmetic chain on those
    exact integers with a shared z literal — bit-identical across engines
    (registry rule 3). The two funnel steps project from the SAME 1-row
    aggregate (no second scan)."""
    ev = t(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_v"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_c"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_p"
        ),
    )
    agg = flags.agg(
        F.sum("has_v").alias("v"),
        F.sum(F.col("has_v") * F.col("has_c")).alias("vc"),
        F.sum(F.col("has_v") * F.col("has_c") * F.col("has_p")).alias("vcp"),
    )

    z = float(_WILSON_Z)

    def wilson(k: F.Column, n: F.Column) -> tuple[F.Column, F.Column]:
        p = k.cast("double") / n.cast("double")
        nn = n.cast("double")
        center = p + (F.lit(z) * F.lit(z)) / (F.lit(2.0) * nn)
        margin = F.lit(z) * F.sqrt(
            ((p * (F.lit(1.0) - p)) / nn)
            + ((F.lit(z) * F.lit(z)) / (F.lit(4.0) * (nn * nn)))
        )
        denom = F.lit(1.0) + (F.lit(z) * F.lit(z)) / nn
        return (center - margin) / denom, (center + margin) / denom

    lo1, hi1 = wilson(F.col("vc"), F.col("v"))
    lo2, hi2 = wilson(F.col("vcp"), F.col("vc"))
    s1 = agg.select(
        F.lit("view->click").alias("step"),
        F.col("v").cast("bigint").alias("trials"),
        F.col("vc").cast("bigint").alias("successes"),
        (F.col("vc").cast("double") / F.col("v").cast("double")).alias("rate"),
        lo1.alias("wilson_low"),
        hi1.alias("wilson_high"),
    )
    s2 = agg.select(
        F.lit("click->purchase").alias("step"),
        F.col("vc").cast("bigint").alias("trials"),
        F.col("vcp").cast("bigint").alias("successes"),
        (F.col("vcp").cast("double") / F.col("vc").cast("double")).alias("rate"),
        lo2.alias("wilson_low"),
        hi2.alias("wilson_high"),
    )
    return s1.unionByName(s2)


@register(
    "cohort_ltv_curves",
    doc="cohort lifetime-value curves: cumulative per-capita revenue by "
    "acquisition month and month offset — exact cents, window over the "
    "cohort-level relation",
    oracle="""
        WITH first AS (
            SELECT o_custkey,
                   MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cm
            FROM orders GROUP BY o_custkey
        ),
        sizes AS (SELECT cm, COUNT(*) AS cohort_size FROM first GROUP BY cm),
        rev AS (
            SELECT f.cm,
                   (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cm
                       AS age,
                   SUM(CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS cents
            FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
            GROUP BY f.cm,
                     (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cm
        )
        SELECT CAST(r.cm AS BIGINT) AS cohort_month,
               CAST(r.age AS BIGINT) AS month_offset,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               CAST(r.cents AS BIGINT) AS cents,
               CAST(SUM(r.cents) OVER (PARTITION BY r.cm ORDER BY r.age
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents,
               CAST(SUM(r.cents) OVER (PARTITION BY r.cm ORDER BY r.age
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / (100.0 * s.cohort_size) AS ltv_per_user
        FROM rev r JOIN sizes s ON s.cm = r.cm
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curves per acquisition cohort — the revenue twin of
    cohort_retention (which counts activity, not money): customers are
    cohorted by first-order month, revenue accumulates by month offset,
    and the per-capita LTV curve is the number a growth model discounts.
    Month keys are exact integers (year·12+month — no interval
    arithmetic), revenue is exact cents (decimal-cast before the ×100),
    the cumulative window runs over the cohort-level relation (cohorts ×
    offsets — tiny), and the per-user curve is one division of exact
    values. Two user-keyed aggregations share their partitioning; the
    cohort-size relation is broadcast."""
    o = t(spark, sf_dir, "orders")
    cm = (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
    first = o.groupBy("o_custkey").agg(F.min(cm).alias("cm"))
    sizes = first.groupBy("cm").agg(F.count("*").alias("cohort_size"))
    rev = (
        o.join(first, "o_custkey")
        .groupBy("cm", (cm - F.col("cm")).alias("age"))
        .agg(
            F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents")
        )
    )
    w = Window.partitionBy("cm").orderBy("age").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return rev.join(F.broadcast(sizes), "cm").select(
        F.col("cm").cast("bigint").alias("cohort_month"),
        F.col("age").cast("bigint").alias("month_offset"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.col("cents").cast("bigint").alias("cents"),
        F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
        (
            F.sum("cents").over(w).cast("double")
            / (F.lit(100.0) * F.col("cohort_size"))
        ).alias("ltv_per_user"),
    )


@register(
    "kaplan_meier_repurchase",
    tags=("bcast-const",),
    doc="survival analysis: Kaplan-Meier estimator of time-to-next-order "
    "with right-censoring at the corpus horizon, integer-quantized "
    "log-survival (no float product chain)",
    oracle="""
        WITH horizon AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders
        ),
        seq AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS DATE) AS d,
                   LEAD(CAST(o_orderdate AS DATE))
                       OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS nxt
            FROM orders
        ),
        obs AS (
            SELECT CASE WHEN nxt IS NULL
                        THEN (SELECT h FROM horizon) - d
                        ELSE nxt - d END AS dur,
                   CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS event
            FROM seq
        ),
        per_t AS (
            SELECT dur, COUNT(*) AS n_total,
                   CAST(SUM(event) AS BIGINT) AS n_events,
                   CAST(SUM(1 - event) AS BIGINT) AS n_censored
            FROM obs GROUP BY dur
        ),
        risk AS (
            SELECT dur, n_events, n_censored,
                   (SELECT COUNT(*) FROM obs)
                       - COALESCE(SUM(n_total) OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS n_risk
            FROM per_t
        ),
        steps AS (
            SELECT dur, n_risk, n_events, n_censored,
                   CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard,
                   CASE WHEN n_events = n_risk THEN NULL
                        ELSE CAST(FLOOR(ROUND(LN(1.0
                                 - CAST(n_events AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE)), 9) * 1000000)
                             AS BIGINT) END AS lq
            FROM risk WHERE n_events > 0
        )
        SELECT CAST(dur AS BIGINT) AS t_days,
               CAST(n_risk AS BIGINT) AS n_risk,
               n_events, n_censored, hazard,
               CAST(SUM(lq) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS log_surv_micro
        FROM steps
    """,
)
def kaplan_meier_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-repurchase — the survival curve a retention
    team reads churn off. Each order contributes one duration: days to the
    customer's NEXT order (event = 1), or days to the corpus horizon (max
    order date) when none follows (right-censored, event = 0). The
    estimator steps only at event durations; the risk set n_i counts every
    observation (event or censored) with duration >= t_i.

    Scale shape: one per-customer window (LEAD over the order sequence —
    the same single-sort shape as user_sessionization), then the corpus
    collapses to the per-duration relation (distinct day counts, ~1e3
    rows regardless of input size); the risk-set prefix window and the
    log-survival cumsum run on that tiny relation. The horizon is a
    broadcast 1-row aggregate.

    Determinism: n_i/d_i are exact integers; the hazard is one exact-int
    division (registry rule 2); the survival product is restated as a sum
    of per-step ln(1 - d/n) values quantized to integer micro-units
    (ROUND(,9) then FLOOR(*1e6) — the zipf_law_fit/libm convention), so
    the cumulative sum is exact integer arithmetic in any order. The
    final step where d = n (ln 0) emits NULL on both engines."""
    o = t(spark, sf_dir, "orders")
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.to_date("o_orderdate").alias("d"),
        F.lead(F.to_date("o_orderdate")).over(w).alias("nxt"),
    )
    obs = seq.crossJoin(F.broadcast(horizon)).select(
        F.when(F.col("nxt").isNull(), F.datediff("h", "d"))
        .otherwise(F.datediff("nxt", "d"))
        .alias("dur"),
        F.when(F.col("nxt").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("event"),
    )
    per_t = obs.groupBy("dur").agg(
        F.count("*").alias("n_total"),
        F.sum("event").cast("bigint").alias("n_events"),
        F.sum(F.lit(1) - F.col("event")).cast("bigint").alias("n_censored"),
    )
    total = obs.agg(F.count("*").alias("n_all"))
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_all") - F.coalesce(F.sum("n_total").over(wcum), F.lit(0)),
        )
        .filter(F.col("n_events") > 0)
    )
    hazard = F.col("n_events").cast("double") / F.col("n_risk").cast("double")
    lq = F.when(F.col("n_events") == F.col("n_risk"), F.lit(None)).otherwise(
        F.floor(F.round(F.log(F.lit(1.0) - hazard), 9) * F.lit(1_000_000)).cast(
            "bigint"
        )
    )
    wsurv = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    steps = risk.select(
        F.col("dur").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "n_events",
        "n_censored",
        hazard.alias("hazard"),
        lq.alias("lq"),
        F.col("dur").alias("dur"),
    )
    return steps.select(
        "t_days",
        "n_risk",
        "n_events",
        "n_censored",
        "hazard",
        F.sum("lq").over(wsurv).cast("bigint").alias("log_surv_micro"),
    ).drop("dur")


@register(
    "roc_auc_urgency_by_segment",
    doc="rank-based ROC AUC (Mann-Whitney with exact tie handling) of order "
    "value predicting urgency, per market segment — integer x2 rank algebra, "
    "no per-row global sort",
    oracle="""
        WITH scored AS (
            SELECT c.c_mktsegment AS segment,
                   o.o_totalprice AS score,
                   CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                       AS pos
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        ),
        by_score AS (
            SELECT segment, score,
                   CAST(SUM(pos) AS BIGINT) AS c_pos,
                   CAST(SUM(1 - pos) AS BIGINT) AS c_neg
            FROM scored GROUP BY segment, score
        ),
        cum AS (
            SELECT segment, c_pos, c_neg,
                   COALESCE(SUM(c_neg) OVER (PARTITION BY segment ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS neg_below
            FROM by_score
        ),
        agg AS (
            SELECT segment,
                   CAST(SUM(c_pos) AS BIGINT) AS n_pos,
                   CAST(SUM(c_neg) AS BIGINT) AS n_neg,
                   CAST(SUM(2 * c_pos * neg_below + c_pos * c_neg) AS BIGINT)
                       AS num2
            FROM cum GROUP BY segment
        )
        SELECT segment, n_pos, n_neg,
               CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                    ELSE CAST(num2 AS DOUBLE)
                         / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
        FROM agg
    """,
)
def roc_auc_urgency_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation primitive: ROC AUC as the Mann-Whitney statistic —
    P(score_pos > score_neg) + tie credit — of order value predicting
    1-URGENT priority, per market segment (≈0.5 everywhere: priority is
    independent of price in the generator, which is exactly what the
    metric should report).

    Scale shape: NOT the textbook per-row rank (a per-segment global sort
    of the fact table). The corpus first collapses to the (segment,
    distinct score) relation with positive/negative counts — one
    map-side-combining aggregation — and the pair count is recovered from
    a prefix sum over that far smaller relation: concordant pairs =
    c_pos * negatives_below, ties credit 1/2 via the x2 integer algebra
    (num2 = 2*concordant + tied), so every intermediate is an exact
    BIGINT and the final AUC is one division (registry rule 2). Grouping
    keys are raw float64 scores — binary equality, identical both
    engines. The customer dim joins broadcast."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    scored = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    by_score = scored.groupBy("segment", "score").agg(
        F.sum("pos").cast("bigint").alias("c_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("c_neg"),
    )
    wneg = (
        Window.partitionBy("segment")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = by_score.withColumn(
        "neg_below", F.coalesce(F.sum("c_neg").over(wneg), F.lit(0))
    )
    agg = cum.groupBy("segment").agg(
        F.sum("c_pos").cast("bigint").alias("n_pos"),
        F.sum("c_neg").cast("bigint").alias("n_neg"),
        F.sum(
            F.lit(2) * F.col("c_pos") * F.col("neg_below")
            + F.col("c_pos") * F.col("c_neg")
        )
        .cast("bigint")
        .alias("num2"),
    )
    return agg.select(
        "segment",
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None))
        .otherwise(
            F.col("num2").cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        )
        .alias("auc"),
    )


@register(
    "acf_daily_revenue",
    tags=("bcast-const",),
    doc="time-series autocorrelation: Pearson ACF of zero-filled daily "
    "revenue at lags 1..7, exact HUGEINT/decimal(38) moment sums",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS cents
            FROM orders GROUP BY 1
        ),
        span AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
        cal AS MATERIALIZED (
            SELECT g.day - (SELECT mn FROM span) AS idx,
                   CAST(COALESCE(d.cents, 0) AS HUGEINT) AS v
            FROM (SELECT unnest(generate_series(
                      (SELECT mn FROM span), (SELECT mx FROM span),
                      INTERVAL 1 DAY))::DATE AS day) g
            LEFT JOIN daily d ON d.day = g.day
        ),
        pairs AS (
            SELECT l.lag, a.v AS x, b.v AS y
            FROM cal a
            CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
            JOIN cal b ON b.idx = a.idx + l.lag
        ),
        s AS (
            SELECT lag, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM pairs GROUP BY lag
        )
        SELECT CAST(lag AS BIGINT) AS lag_days,
               CAST(n AS BIGINT) AS n_pairs,
               (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
               / SQRT((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS acf
        FROM s
    """,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily-revenue series at lags 1..7 — the
    seasonality probe behind every forecasting pipeline (a weekly cycle
    shows as a lag-7 peak). The fact table first collapses to one exact
    cents value per calendar day (missing days zero-filled from a
    generated date spine, so lags align on real time, not row order);
    the ACF then runs entirely on that tiny relation.

    Determinism: all five moment sums accumulate exact integers (cents
    products in decimal(38,0) on Spark / HUGEINT in DuckDB — daily cents
    reach ~1e10 at sf0.1, so x*y overflows BIGINT), and the Pearson
    formula is one fixed double chain over those exact sums (sqrt
    IEEE-exact — registry rule 3). The oracle converts each HUGEINT sum
    through VARCHAR (the _D trick): DuckDB's direct int128→double is not
    correctly rounded past 2^53, Spark's BigDecimal.doubleValue is. Scale shape:
    one map-side-combining aggregation over the fact table; the spine
    join, lag fan-out (x7) and self-join touch only the per-day relation
    (~years x 365 rows regardless of corpus size)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    span = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = span.select(
        "mn", F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    cal = (
        spine.join(daily, "day", "left")
        .select(
            F.datediff("day", "mn").alias("idx"),
            F.coalesce("cents", F.lit(0)).cast("decimal(38,0)").alias("v"),
        )
    )
    from songs_etl_spark.plans._util import track_persist

    cal = track_persist(cal)
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = cal.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("idx") + F.col("lag")).alias("jidx"), F.col("v").alias("x")
    )
    b = cal.select(F.col("idx").alias("jidx"), F.col("v").alias("y"))
    s = (
        a.join(b, "jidx")
        .groupBy("lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    acf = (nd * sxy - sx * sy) / F.sqrt(
        (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag_days"),
        F.col("n").cast("bigint").alias("n_pairs"),
        acf.alias("acf"),
    )


#: Quantized natural log (micro-units): the zipf_law_fit libm convention.
_LNQ = "CAST(FLOOR(ROUND(LN({}), 9) * 1000000) AS BIGINT)"
#: HUGEINT sum -> correctly-rounded double (DuckDB int128->double is not).
_HD = "CAST(CAST({} AS VARCHAR) AS DOUBLE)"


@register(
    "price_elasticity_by_brand",
    doc="log-log demand regression: per-brand OLS of ln(quantity) on "
    "ln(unit price) — the elasticity estimate, from exact widened moment "
    "sums of micro-quantized logs",
    oracle=f"""
        WITH pts AS (
            SELECT p.p_brand AS brand,
                   CAST({_LNQ.format(
                       'l.l_extendedprice / l.l_quantity')} AS HUGEINT) AS lx,
                   CAST({_LNQ.format('l.l_quantity')} AS HUGEINT) AS ly
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        ),
        s AS (
            SELECT brand, COUNT(*) AS n,
                   SUM(lx) AS sx, SUM(ly) AS sy, SUM(lx * ly) AS sxy,
                   SUM(lx * lx) AS sxx, SUM(ly * ly) AS syy
            FROM pts GROUP BY brand
        )
        SELECT brand, CAST(n AS BIGINT) AS n_obs,
               (CAST(n AS DOUBLE) * {_HD.format('sxy')}
                - {_HD.format('sx')} * {_HD.format('sy')})
               / (CAST(n AS DOUBLE) * {_HD.format('sxx')}
                  - {_HD.format('sx')} * {_HD.format('sx')}) AS elasticity,
               (CAST(n AS DOUBLE) * {_HD.format('sxy')}
                - {_HD.format('sx')} * {_HD.format('sy')})
               * (CAST(n AS DOUBLE) * {_HD.format('sxy')}
                  - {_HD.format('sx')} * {_HD.format('sy')})
               / ((CAST(n AS DOUBLE) * {_HD.format('sxx')}
                   - {_HD.format('sx')} * {_HD.format('sx')})
                  * (CAST(n AS DOUBLE) * {_HD.format('syy')}
                     - {_HD.format('sy')} * {_HD.format('sy')})) AS r2
        FROM s
    """,
)
def price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand — the pricing team's
    regression: slope of ln(quantity) on ln(unit price) across line items
    (unit price = extended price / quantity, an exact-rounded IEEE
    division identical on both engines). TPC-H quantities are independent
    of price, so elasticities hover near zero with tiny r² — which is the
    correct finding, and the machinery is what transfers.

    Scale: one fact⋈dim equi-join then a single map-side-combining
    aggregation per brand — the regression_price_by_qty shape, but with
    the log points INTEGER-quantized first (zipf convention) and the
    moment sums widened to decimal(38,0)/HUGEINT: Σ(lx²) reaches ~1e20 at
    sf0.1, past BIGINT. The closed-form slope/r² runs on doubles obtained
    from those exact sums (oracle converts int128 through VARCHAR — the
    ACF/_D correct-rounding rule)."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_quantity")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")

    def lnq(col: F.Column) -> F.Column:
        return (
            F.floor(F.round(F.log(col), 9) * F.lit(1_000_000))
            .cast("decimal(38,0)")
        )

    pts = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        lnq(F.col("l_extendedprice") / F.col("l_quantity")).alias("lx"),
        lnq(F.col("l_quantity")).alias("ly"),
    )
    s = pts.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nd * sxy - sx * sy
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_obs"),
        (cov / vx).alias("elasticity"),
        (cov * cov / (vx * vy)).alias("r2"),
    )


@register(
    "dow_seasonality_revenue",
    tags=("bcast-const",),
    doc="weekly seasonality profile: day-of-week revenue index over the "
    "zero-filled daily series, exact integer sums and fixed division chain",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS cents
            FROM orders GROUP BY 1
        ),
        span AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
        cal AS (
            SELECT g.day, (g.day - DATE '1988-01-04') % 7 AS dow,
                   COALESCE(d.cents, 0) AS v
            FROM (SELECT unnest(generate_series(
                      (SELECT mn FROM span), (SELECT mx FROM span),
                      INTERVAL 1 DAY))::DATE AS day) g
            LEFT JOIN daily d ON d.day = g.day
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                   CAST(SUM(v) AS BIGINT) AS s_all
            FROM cal
        )
        SELECT CAST(dow AS BIGINT) AS dow_monday0,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(v) AS BIGINT) AS total_cents,
               CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
                   AS mean_dollars,
               (CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               / (CAST((SELECT s_all FROM tot) AS DOUBLE)
                  / CAST((SELECT n_all FROM tot) AS DOUBLE)) AS seasonal_index
        FROM cal GROUP BY dow
    """,
)
def dow_seasonality_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality index — mean revenue per day-of-week over the
    zero-filled calendar, relative to the all-days mean (ratio-to-overall,
    the first stage of classical seasonal decomposition; the lag-7 ACF is
    the complementary detector). Day-of-week derives from the day count
    since a fixed Monday epoch (1988-01-04) mod 7 — pure integer
    arithmetic, immune to the engines' different DOW numbering
    conventions. Sums are exact cents; the mean and index are a fixed
    two-division double chain over exact integers (registry rules 2-3).
    Scale: one fact aggregation to the per-day relation; everything after
    runs on ~calendar-sized data."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    span = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    spine = span.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    cal = (
        spine.join(daily, "day", "left")
        .select(
            F.pmod(F.datediff("day", F.lit("1988-01-04").cast("date")), F.lit(7)).alias(
                "dow"
            ),
            F.coalesce("cents", F.lit(0)).alias("v"),
        )
    )
    from songs_etl_spark.plans._util import track_persist

    cal = track_persist(cal)
    tot = cal.agg(
        F.count("*").alias("n_all"), F.sum("v").cast("bigint").alias("s_all")
    )
    per = cal.groupBy("dow").agg(
        F.count("*").alias("n_days"), F.sum("v").cast("bigint").alias("total_cents")
    )
    mean_dow = F.col("total_cents").cast("double") / F.col("n_days").cast("double")
    mean_all = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("bigint").alias("dow_monday0"),
        F.col("n_days").cast("bigint").alias("n_days"),
        "total_cents",
        (mean_dow / F.lit(100.0)).alias("mean_dollars"),
        (mean_dow / mean_all).alias("seasonal_index"),
    )


@register(
    "activity_streaks_islands",
    doc="gaps-and-islands: longest consecutive-active-day streak per user "
    "via the day_index - row_number island key — pure integer windows",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   (d - DATE '1988-01-04')
                   - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
            FROM days
        ),
        runs AS (
            SELECT user_id, grp, COUNT(*) AS len,
                   MIN(d) AS streak_start
            FROM isl GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(MAX(len) AS BIGINT) AS longest_streak_days,
               CAST(COUNT(*) AS BIGINT) AS n_streaks,
               CAST(SUM(len) AS BIGINT) AS active_days,
               strftime(arg_max(streak_start,
                                len * 10000000
                                - (streak_start - DATE '1988-01-04')),
                        '%Y-%m-%d') AS longest_streak_from
        FROM runs GROUP BY user_id
    """,
)
def activity_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic GAPS-AND-ISLANDS pattern: consecutive active days
    collapse into streaks because (day_number − row_number) is constant
    within a run — no self-join, no recursion. Per user: longest streak,
    streak count, total active days, and the start date of the longest
    streak (earliest wins ties, via an integer argmax). Day numbers are
    days since a fixed epoch — pure integers end to end.

    Scale: distinct (user, day) is one map-side-combining aggregation;
    the row_number window and both rollups share the user-keyed
    partitioning (single shuffle chain). The same shape handles
    sensor-uptime islands and session stitching."""
    ev = t(spark, sf_dir, "events")
    epoch = F.lit("1988-01-04").cast("date")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        (F.datediff("d", epoch) - F.row_number().over(w)).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.min("d").alias("streak_start")
    )
    # longest streak's start date: argmax over the scalar key
    # len*1e7 - start_idx -- longest run wins, earliest start on ties
    # (streak lengths and day indices are both far below 1e7).
    key = F.col("len") * F.lit(10_000_000) - F.datediff("streak_start", epoch)
    return runs.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak_days"),
        F.count("*").cast("bigint").alias("n_streaks"),
        F.sum("len").cast("bigint").alias("active_days"),
        fmt_date(F.max_by("streak_start", key)).alias("longest_streak_from"),
    )


@register(
    "abc_part_classification",
    tags=("bcast-const",),
    doc="ABC (Pareto) inventory classification: parts split at 80%/95% of "
    "cumulative revenue by exact integer threshold compares",
    oracle="""
        WITH pr AS (
            SELECT l_partkey AS pk,
                   SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS cents
            FROM lineitem GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM pr),
        ranked AS (
            SELECT pk, cents,
                   SUM(cents) OVER (ORDER BY cents DESC, pk
                                    ROWS UNBOUNDED PRECEDING) AS cum
            FROM pr
        ),
        classed AS (
            SELECT CASE WHEN cum * 100 <= (SELECT tc FROM tot) * 80 THEN 'A'
                        WHEN cum * 100 <= (SELECT tc FROM tot) * 95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   cents
            FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(cents) AS BIGINT) AS class_cents,
               CAST(SUM(cents) AS DOUBLE) / CAST((SELECT tc FROM tot) AS DOUBLE)
                   AS revenue_share
        FROM classed GROUP BY abc_class
    """,
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis — the inventory-control Pareto split: rank parts by
    revenue, class A holds the first 80% of cumulative revenue, B the
    next 15%, C the tail. Class boundaries are exact integer
    cross-multiplications (cum·100 ≤ total·80 — no percentage floats),
    revenue is exact cents, and only the final share is a division
    (registry rule 2). The fact table collapses to the per-part relation
    first (one aggregation shuffle); the cumulative window sorts that
    much smaller relation; the total is a broadcast 1-row aggregate.
    Same family as lorenz_spend_deciles/pareto_frontier, but the named
    operations-research classification."""
    li = t(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(money("l_extendedprice") * 100).cast("bigint")).alias("cents")
    )
    tot = pr.agg(F.sum("cents").cast("bigint").alias("tc"))
    wcum = Window.orderBy(F.col("cents").desc(), "pk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = pr.withColumn("cum", F.sum("cents").over(wcum))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cum") * 100 <= F.col("tc") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("tc") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "cents",
        "tc",
    )
    return classed.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
        (
            F.sum("cents").cast("double") / F.first("tc").cast("double")
        ).alias("revenue_share"),
    )


@register(
    "monthly_churn_rate",
    tags=("bcast-const",),
    doc="month-over-month churn: share of each month's active customers "
    "with no order the following month — distinct-set anti-join restated "
    "as a left join on the per-month activity relation",
    oracle="""
        WITH act AS (
            SELECT DISTINCT o_custkey AS c,
                   year(o_orderdate) * 12 + month(o_orderdate) AS mk
            FROM orders
        ),
        pairs AS (
            SELECT a.mk, a.c,
                   CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS churned
            FROM act a LEFT JOIN act b ON b.c = a.c AND b.mk = a.mk + 1
        ),
        mx AS (SELECT MAX(mk) AS m FROM act)
        SELECT CAST(mk AS BIGINT) AS month_key,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(1 - churned) AS BIGINT) AS n_retained,
               CAST(SUM(churned) AS BIGINT) AS n_churned,
               CAST(SUM(churned) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS churn_rate
        FROM pairs WHERE mk < (SELECT m FROM mx)
        GROUP BY mk
    """,
)
def monthly_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month churn — the retention KPI cohort_retention
    doesn't give directly (that one tracks fixed acquisition cohorts;
    churn compares EVERY month against its successor). A customer active
    in month m churns if absent in m+1; the horizon month is excluded
    (its successor is unobserved). The set difference is restated as a
    self LEFT JOIN of the distinct (customer, month) relation on
    (customer, month+1) — two shuffles on the same key, integer counts,
    one final division per month."""
    o = t(spark, sf_dir, "orders")
    act = o.select(
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mk"),
    ).distinct()
    from songs_etl_spark.plans._util import track_persist

    act = track_persist(act)
    b = act.select(F.col("c").alias("c2"), (F.col("mk") - 1).alias("mk2"))
    pairs = act.join(
        b, (F.col("c") == F.col("c2")) & (F.col("mk") == F.col("mk2")), "left"
    ).select("mk", F.when(F.col("c2").isNull(), 1).otherwise(0).alias("churned"))
    mx = act.agg(F.max("mk").alias("m"))
    return (
        pairs.crossJoin(F.broadcast(mx))
        .filter(F.col("mk") < F.col("m"))
        .groupBy(F.col("mk").cast("bigint").alias("month_key"))
        .agg(
            F.count("*").cast("bigint").alias("n_active"),
            F.sum(F.lit(1) - F.col("churned")).cast("bigint").alias("n_retained"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            (
                F.sum("churned").cast("double") / F.count("*").cast("double")
            ).alias("churn_rate"),
        )
    )


@register(
    "kendall_tau_spend_vs_orders",
    tags=("bcast-const",),
    doc="rank-agreement metric: Kendall's tau between spend rank and "
    "order-count rank over the top-100 customers — exact integer "
    "concordance counting on a constant-bounded relation",
    oracle="""
        WITH spend AS (
            SELECT o_custkey AS c,
                   SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS cents,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        top100 AS MATERIALIZED (
            SELECT c, n_orders,
                   ROW_NUMBER() OVER (ORDER BY cents DESC, c) AS rs
            FROM spend
            QUALIFY rs <= 100
        ),
        rr AS MATERIALIZED (
            SELECT rs, ROW_NUMBER() OVER (ORDER BY n_orders DESC, c) AS ro
            FROM top100
        ),
        pairs AS (
            SELECT CASE WHEN (a.rs - b.rs) * (a.ro - b.ro) > 0 THEN 1 ELSE 0 END
                       AS conc
            FROM rr a JOIN rr b ON a.rs < b.rs
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(conc) AS BIGINT) AS concordant,
               CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
               CAST(2 * SUM(conc) - COUNT(*) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS kendall_tau
        FROM pairs
    """,
)
def kendall_tau_spend_vs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do two rankings agree? Kendall's τ between customer rank-by-spend
    and rank-by-order-count over the top-100 spenders — the
    rank-correlation summary for KPI consistency checks (NDCG's cousin
    for rankings without graded relevance). Both ranks are strict
    row_numbers (deterministic tie-breaks on customer key), so τ-a
    applies: τ = (C − D)/(n(n−1)/2) with C + D exhaustive.

    The quadratic pair enumeration runs on a CONSTANT-bounded relation
    (100 rows → 4,950 pairs, independent of corpus size — the fact table
    collapses to per-customer sums first), so the nested-loop join is
    bcast-const by construction, same as the other metric queries'
    broadcast aggregates. Concordance is pure integer sign algebra; the
    only division is the final τ (registry rule 2)."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.count("*").alias("n_orders"),
    )
    ws = Window.orderBy(F.col("cents").desc(), "c")
    top100 = (
        spend.withColumn("rs", F.row_number().over(ws)).filter(F.col("rs") <= 100)
    )
    wo = Window.orderBy(F.col("n_orders").desc(), "c")
    rr = top100.withColumn("ro", F.row_number().over(wo)).select("rs", "ro")
    a = rr.select(F.col("rs").alias("ars"), F.col("ro").alias("aro"))
    b = rr.select(F.col("rs").alias("brs"), F.col("ro").alias("bro"))
    pairs = F.broadcast(a).join(b, F.col("ars") < F.col("brs")).select(
        F.when(
            (F.col("ars") - F.col("brs")) * (F.col("aro") - F.col("bro")) > 0, 1
        )
        .otherwise(0)
        .alias("conc")
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("conc").cast("bigint").alias("concordant"),
        (F.count("*") - F.sum("conc")).cast("bigint").alias("discordant"),
        (
            (2 * F.sum("conc") - F.count("*")).cast("double")
            / F.count("*").cast("double")
        ).alias("kendall_tau"),
    )


#: Hub cap for the item-item CF wedge join (the RA_HUB_CAP discipline from
#: plans/graphs.py): a customer buying everything contributes O(deg²)
#: candidate pairs while telling us nothing about item affinity — drop
#: baskets larger than this, mirrored verbatim in the oracle.
CF_HUB_CAP = 64


@register(
    "item_item_cosine_cf",
    doc="item-item collaborative filtering: top-3 neighbors per part by "
    "cosine over customer-incidence sets, hub-capped wedge join, exact "
    "integer counts",
    oracle=f"""
        WITH cp AS (
            SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        ok_cust AS (
            SELECT c FROM cp GROUP BY c HAVING COUNT(*) <= {CF_HUB_CAP}
        ),
        cpf AS MATERIALIZED (
            SELECT cp.c, cp.p FROM cp JOIN ok_cust USING (c)
        ),
        deg AS (SELECT p, COUNT(*) AS d FROM cpf GROUP BY p),
        pairs AS (
            SELECT a.p AS pa, b.p AS pb, COUNT(*) AS common
            FROM cpf a JOIN cpf b ON a.c = b.c AND a.p < b.p
            GROUP BY a.p, b.p
        ),
        und AS (
            SELECT pa AS p, pb AS q, common FROM pairs
            UNION ALL
            SELECT pb, pa, common FROM pairs
        ),
        scored AS (
            SELECT u.p, u.q, u.common,
                   CAST(u.common AS DOUBLE)
                   / SQRT(CAST(da.d * db.d AS DOUBLE)) AS cosine_sim
            FROM und u
            JOIN deg da ON da.p = u.p
            JOIN deg db ON db.p = u.q
        )
        SELECT p AS part_key, q AS neighbor_key,
               CAST(common AS BIGINT) AS common_customers,
               cosine_sim, CAST(rk AS INT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY p
                                         ORDER BY cosine_sim DESC, q) AS rk
            FROM scored
        ) WHERE rk <= 3
    """,
)
def item_item_cosine_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — the Amazon-classic 'customers
    who bought X also bought Y', scored as cosine between the parts'
    customer-incidence vectors (binary, so cos = common/√(da·db), all
    from exact integer counts). Each part keeps its top-3 neighbors.

    Scale discipline: the wedge join on customer is the quadratic risk,
    so mega-baskets (> CF_HUB_CAP distinct parts) are dropped BEFORE the
    self-join — filter-first, exactly the link_prediction_resource_alloc
    rule, mirrored in the oracle so the check stays exact. Everything
    else is equi-joins and map-side-combining counts; the cosine is one
    division after an IEEE sqrt of an exact integer product, identical
    on both engines; the top-3 window runs per part on the (sparse)
    neighbor relation."""
    from songs_etl_spark.plans._util import track_persist

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    ok_cust = cp.groupBy("c").agg(F.count("*").alias("nc")).filter(
        F.col("nc") <= CF_HUB_CAP
    ).select("c")
    cpf = track_persist(cp.join(ok_cust, "c"))
    deg = cpf.groupBy("p").agg(F.count("*").alias("d"))
    a = cpf.select("c", F.col("p").alias("pa"))
    b = cpf.select("c", F.col("p").alias("pb"))
    # The wedge stream's (pa, pb) keys are nearly UNIQUE per customer (two
    # parts rarely co-occur across many baskets), so Spark's default
    # partial-aggregate builds a giant map-side hash that reduces nothing
    # (measured: GC-locker stalls + 13.6x wall growth for 10x data at 32
    # reducers). Repartitioning by the pair key first makes the aggregation
    # run as ONE complete-mode hash at 4x-core width -- same single shuffle,
    # no useless map-side hash, reducers sized to fit memory.
    from songs_etl_spark.session import default_parallelism

    pairs = (
        a.join(b, "c")
        .filter(F.col("pa") < F.col("pb"))
        .repartition(default_parallelism() * 4, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("common"))
    )
    # Both directions via ONE generated-column explode, not a union of two
    # selects over `pairs`: union branches duplicate the unpersisted
    # subtree in the physical plan, so the wedge join + pair aggregation —
    # the whole cost of this query — executed TWICE.
    und = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("p"), F.col("pb").alias("q")),
                F.struct(F.col("pb").alias("p"), F.col("pa").alias("q")),
            )
        ).alias("e"),
        "common",
    ).select("e.p", "e.q", "common")
    da = deg.select(F.col("p").alias("p"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("q"), F.col("d").alias("db"))
    scored = (
        und.join(da, "p")
        .join(db, "q")
        .select(
            "p",
            "q",
            "common",
            (
                F.col("common").cast("double")
                / F.sqrt((F.col("da") * F.col("db")).cast("double"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("p").orderBy(F.col("cosine_sim").desc(), "q")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("p").alias("part_key"),
            F.col("q").alias("neighbor_key"),
            F.col("common").cast("bigint").alias("common_customers"),
            "cosine_sim",
            F.col("rk").cast("int").alias("rank"),
        )
    )


@register(
    "infogain_feature_splits",
    tags=("bcast-const",),
    doc="decision-tree split scoring: information gain of three candidate "
    "bucketizations about the return flag, micro-nat integer entropy "
    "algebra (quantized ln, floor-divided weightings)",
    oracle=f"""
        WITH base AS MATERIALIZED (
            SELECT l_returnflag AS cls,
                   CAST(l_quantity AS BIGINT) // 10 AS qb,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS db,
                   CAST(month(l_shipdate) AS BIGINT) AS mb
            FROM lineitem
        ),
        fb AS (
            SELECT 'qty_div10' AS feature, qb AS bucket, cls FROM base
            UNION ALL
            SELECT 'discount_pct', db, cls FROM base
            UNION ALL
            SELECT 'ship_month', mb, cls FROM base
        ),
        bc AS (
            SELECT feature, bucket, cls, COUNT(*) AS n_bc
            FROM fb GROUP BY 1, 2, 3
        ),
        bcw AS (
            SELECT *, SUM(n_bc) OVER (PARTITION BY feature, bucket) AS n_b
            FROM bc
        ),
        b AS (
            SELECT feature, bucket,
                   CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b,
                   CAST(-SUM(n_bc * {_LNQ.format(
                       'CAST(n_bc AS DOUBLE) / CAST(n_b AS DOUBLE)')})
                        AS BIGINT)
                       // CAST(ANY_VALUE(n_b) AS BIGINT) AS h_b
            FROM bcw GROUP BY feature, bucket
        ),
        root AS (
            SELECT CAST(-SUM(n_c * {_LNQ.format(
                       'CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE)')}) AS BIGINT)
                       // CAST(n AS BIGINT) AS h_root,
                   n
            FROM (
                SELECT cls, COUNT(*) AS n_c,
                       SUM(COUNT(*)) OVER () AS n
                FROM base GROUP BY cls
            ) GROUP BY n
        )
        SELECT feature,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               (SELECT h_root FROM root) AS h_root_micro,
               CAST(SUM(n_b * h_b) // (SELECT n FROM root) AS BIGINT)
                   AS h_cond_micro,
               (SELECT h_root FROM root)
                   - CAST(SUM(n_b * h_b) // (SELECT n FROM root) AS BIGINT)
                   AS gain_micro
        FROM b GROUP BY feature
    """,
)
def infogain_feature_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which feature would a decision tree split on first? Information
    gain of three candidate bucketizations (quantity÷10, discount
    percent, ship month) about the return flag — the C4.5/random-forest
    split criterion as a pure aggregation workload.

    Entropy never touches float accumulation: each class log-probability
    quantizes to micro-nats (the zipf/_LNQ rule), per-bucket entropies
    are exact integer dot products floor-divided by bucket counts, and
    the conditional entropy is an integer-weighted floor-divided sum —
    every intermediate a BIGINT, reproducible in any partition order.

    Scale: the fact table collapses to (feature, bucket, class) counts in
    one map-side-combining aggregation after a bounded ×3 unpivot; the
    entropy algebra runs on that tiny relation."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("cls"),
        F.expr("CAST(l_quantity AS BIGINT) DIV 10").alias("qb"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("db"),
        F.month("l_shipdate").cast("bigint").alias("mb"),
    )
    fb = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("qty_div10").alias("feature"), F.col("qb").alias("bucket")),
                F.struct(F.lit("discount_pct").alias("feature"), F.col("db").alias("bucket")),
                F.struct(F.lit("ship_month").alias("feature"), F.col("mb").alias("bucket")),
            )
        ).alias("f"),
        "cls",
    ).select(F.col("f.feature").alias("feature"), F.col("f.bucket").alias("bucket"), "cls")
    bc = fb.groupBy("feature", "bucket", "cls").agg(F.count("*").alias("n_bc"))

    def lq(col: F.Column) -> F.Column:
        return F.floor(F.round(F.log(col), 9) * F.lit(1_000_000)).cast("bigint")

    wb = Window.partitionBy("feature", "bucket")
    bc = bc.withColumn("n_b", F.sum("n_bc").over(wb))
    b = bc.groupBy("feature", "bucket").agg(
        F.first("n_b").alias("n_b"),
        (
            -F.sum(
                F.col("n_bc")
                * lq(F.col("n_bc").cast("double") / F.col("n_b").cast("double"))
            )
        ).cast("bigint").alias("num"),
    ).select(
        "feature",
        "bucket",
        "n_b",
        F.expr("num DIV n_b").alias("h_b"),
    )
    cls_counts = base.groupBy("cls").agg(F.count("*").alias("n_c"))
    nrow = cls_counts.agg(F.sum("n_c").cast("bigint").alias("n"))
    root = (
        cls_counts.crossJoin(F.broadcast(nrow))
        .select(
            "n",
            (
                F.col("n_c")
                * lq(F.col("n_c").cast("double") / F.col("n").cast("double"))
            ).alias("term"),
        )
        .groupBy("n")
        .agg((-F.sum("term")).cast("bigint").alias("num"))
        .select("n", F.expr("num DIV n").alias("h_root"))
    )
    return (
        b.groupBy("feature")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum(F.col("n_b") * F.col("h_b")).cast("bigint").alias("wsum"),
        )
        .crossJoin(F.broadcast(root))
        .select(
            "feature",
            "n_buckets",
            F.col("h_root").alias("h_root_micro"),
            F.expr("wsum DIV n").alias("h_cond_micro"),
            (F.col("h_root") - F.expr("wsum DIV n")).alias("gain_micro"),
        )
    )


@register(
    "mom_yoy_revenue_growth",
    doc="BI staple: month-over-month and year-over-year revenue growth "
    "via lag windows over the monthly rollup, exact cents and single "
    "divisions",
    oracle="""
        WITH monthly AS (
            SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mk,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100, 0)
                            AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ),
        lagged AS (
            SELECT mk, cents,
                   LAG(cents, 1) OVER (ORDER BY mk) AS prev_m,
                   LAG(cents, 12) OVER (ORDER BY mk) AS prev_y
            FROM monthly
        )
        SELECT CAST(mk AS BIGINT) AS month_key,
               cents,
               CAST(prev_m AS BIGINT) AS prev_month_cents,
               CAST(prev_y AS BIGINT) AS prev_year_cents,
               CASE WHEN prev_m IS NULL OR prev_m = 0 THEN NULL
                    ELSE CAST(cents - prev_m AS DOUBLE) / CAST(prev_m AS DOUBLE)
               END AS mom_growth,
               CASE WHEN prev_y IS NULL OR prev_y = 0 THEN NULL
                    ELSE CAST(cents - prev_y AS DOUBLE) / CAST(prev_y AS DOUBLE)
               END AS yoy_growth
        FROM lagged
    """,
)
def mom_yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report every finance dashboard opens with: monthly revenue
    with month-over-month and year-over-year growth rates. The fact
    table collapses to exact monthly cents in one aggregation; LAG(1)
    and LAG(12) over the (tiny) monthly relation fetch both comparison
    bases from a single sort; growth is one exact-int division each
    (registry rule 2), NULL when the base month is missing or zero.
    Consecutive-month gaps are handled by the integer month key: a
    missing month simply yields no row, and LAG compares against the
    previous PRESENT month only if adjacent keys exist — matching the
    oracle exactly."""
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mk")
    ).agg(
        F.sum(F.round(money("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("mk")
    lagged = monthly.select(
        "mk",
        "cents",
        F.lag("cents", 1).over(w).alias("prev_m"),
        F.lag("cents", 12).over(w).alias("prev_y"),
    )

    def growth(prev: str) -> F.Column:
        return F.when(
            F.col(prev).isNull() | (F.col(prev) == 0), F.lit(None)
        ).otherwise(
            (F.col("cents") - F.col(prev)).cast("double") / F.col(prev).cast("double")
        )

    return lagged.select(
        F.col("mk").cast("bigint").alias("month_key"),
        "cents",
        F.col("prev_m").cast("bigint").alias("prev_month_cents"),
        F.col("prev_y").cast("bigint").alias("prev_year_cents"),
        growth("prev_m").alias("mom_growth"),
        growth("prev_y").alias("yoy_growth"),
    )


@register(
    "spearman_spend_orders",
    doc="Spearman rank correlation (tie-corrected average ranks) between "
    "per-customer total spend and order count — the monotone-association "
    "twin of kendall_tau_spend_vs_orders, O(n log n) where Kendall is "
    "pair-quadratic",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                       AS BIGINT) AS BIGINT)) AS spend_c,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT
                2 * RANK() OVER (ORDER BY spend_c)
                  + COUNT(*) OVER (PARTITION BY spend_c) - 1 AS u,
                2 * RANK() OVER (ORDER BY n_orders)
                  + COUNT(*) OVER (PARTITION BY n_orders) - 1 AS v
            FROM per_cust
        ), sums AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(u AS HUGEINT)) AS su, SUM(CAST(v AS HUGEINT)) AS sv,
                   SUM(CAST(u AS HUGEINT) * u) AS suu,
                   SUM(CAST(v AS HUGEINT) * v) AS svv,
                   SUM(CAST(u AS HUGEINT) * v) AS suv
            FROM ranked
        )
        SELECT n AS n_customers,
               CAST(n * suv - su * sv AS DOUBLE)
                 / (SQRT(CAST(n * suu - su * su AS DOUBLE))
                    * SQRT(CAST(n * svv - sv * sv AS DOUBLE))) AS spearman_rho
        FROM sums
    """,
)
def spearman_spend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho = Pearson correlation of the rank variables, with the
    standard average-rank tie correction. Exactness: average ranks are
    half-integers, so ``2·avg_rank = 2·min_rank + ties − 1`` is an INTEGER
    (scaling both variables by 2 leaves Pearson invariant); all five moment
    sums are then exact fixed-point aggregations — DECIMAL(38,0) on the
    Spark side, HUGEINT (int128) in the oracle — and rho is one closed-form
    double chain from exact integers, identical on both engines. Headroom:
    n·Σu² ≈ (4/3)(2n)⁴ stays under 10³⁸ to n ≈ 10⁹ customers per
    correlation call (bigint sums would wrap silently past n ≈ 5·10⁴).

    Plan shape: one hash aggregation to per-customer (spend, n_orders) — the
    only pass over the big table — then two rank windows over the (much
    smaller) customer aggregate and a single global moment reduction. The
    global-order windows sort the aggregate, not the fact table; at the
    extreme where even customers don't fit one sort, the same algebra runs on
    approx percentile ranks, trading exactness knowingly."""
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(money("o_totalprice") * 100).cast("bigint")).alias("spend_c"),
            F.count("*").alias("n_orders"),
        )
    )
    u = (
        2 * F.rank().over(Window.orderBy("spend_c"))
        + F.count("*").over(Window.partitionBy("spend_c"))
        - 1
    )
    v = (
        2 * F.rank().over(Window.orderBy("n_orders"))
        + F.count("*").over(Window.partitionBy("n_orders"))
        - 1
    )
    ranked = per_cust.select(u.cast("bigint").alias("u"), v.cast("bigint").alias("v"))
    ud, vd = (F.col(c).cast("decimal(38,0)") for c in ("u", "v"))
    sums = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(ud).alias("su"),
        F.sum(vd).alias("sv"),
        F.sum(ud * vd).alias("suv"),
        F.sum(ud * ud).alias("suu"),
        F.sum(vd * vd).alias("svv"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("suv") - F.col("su") * F.col("sv")).cast("double")
    d1 = F.sqrt((nd * F.col("suu") - F.col("su") * F.col("su")).cast("double"))
    d2 = F.sqrt((nd * F.col("svv") - F.col("sv") * F.col("sv")).cast("double"))
    return sums.select(
        F.col("n").alias("n_customers"), (num / (d1 * d2)).alias("spearman_rho")
    )


@register(
    "holt_linear_forecast",
    doc="Holt double-exponential smoothing (level+trend, alpha=beta=1/2) over "
    "the daily revenue series, 7-day-ahead forecasts — the trend-aware "
    "upgrade of ewma_user_value's single smoothing",
    oracle="""
        WITH RECURSIVE days AS (
            SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate) AS i,
                   y FROM (
                SELECT o_orderdate,
                       CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                            AS BIGINT)) AS DOUBLE) AS y
                FROM orders GROUP BY o_orderdate
            )
        ), rec(i, l, b) AS (
            SELECT 1, d1.y, d2.y - d1.y
            FROM days d1 JOIN days d2 ON d1.i = 1 AND d2.i = 2
            UNION ALL
            SELECT d.i,
                   0.5 * d.y + 0.5 * (r.l + r.b),
                   0.5 * ((0.5 * d.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
            FROM rec r JOIN days d ON d.i = r.i + 1
        ), fitted AS (
            SELECT l, b FROM rec ORDER BY i DESC LIMIT 1
        )
        SELECT CAST(h.h AS BIGINT) AS horizon_days,
               f.l / 100 AS level_rev,
               f.b / 100 AS trend_rev,
               (f.l + CAST(h.h AS DOUBLE) * f.b) / 100 AS forecast_rev
        FROM fitted f, (SELECT unnest(range(1, 8)) AS h) h
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend method over observed order days: l₁=y₁,
    b₁=y₂−y₁, then for t≥2  lₜ = ½yₜ + ½(lₜ₋₁+bₜ₋₁),
    bₜ = ½(lₜ−lₜ₋₁) + ½bₜ₋₁; forecast ŷ(h) = lₙ + h·bₙ for h=1..7.

    Exactness: an inherently sequential float recurrence is cross-engine
    exact when both engines execute the SAME IEEE op chain in the same
    order — here Spark's left-to-right array fold and DuckDB's recursive
    CTE evaluate op-for-op identical expressions over identical inputs
    (daily revenue = exact bigint cent sums cast once to double), so every
    level/trend value matches bit-for-bit; no dyadic-weight restriction
    needed (cf. ewma_user_value, whose window-sum formulation required it).

    Scale shape: the heavy work is one hash aggregation (orders → daily
    cents); the fold then runs over the DAYS series — thousands of elements
    regardless of fact-table size — in a single task, the correct plan for
    any per-series recurrence (series length is calendar-bounded; for many
    series the same fold runs per group key in parallel)."""
    orders = t(spark, sf_dir, "orders")
    cents = F.round(money("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(cents).cast("double").alias("y")
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("o_orderdate", "y"))).alias("arr")
    ).select(F.transform("arr", lambda x: x["y"]).alias("ys"))

    def step(acc: F.Column, y: F.Column) -> F.Column:
        l_next = 0.5 * y + 0.5 * (acc["l"] + acc["b"])
        b_next = 0.5 * (l_next - acc["l"]) + 0.5 * acc["b"]
        return F.struct(l_next.alias("l"), b_next.alias("b"))

    fitted = series.select(
        F.aggregate(
            F.slice("ys", 2, F.size("ys") - 1),
            F.struct(
                F.element_at("ys", 1).alias("l"),
                (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
            ),
            step,
        ).alias("s")
    ).select(F.col("s.l").alias("l"), F.col("s.b").alias("b"))
    horizons = F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h")
    return fitted.select("l", "b", horizons).select(
        F.col("h").cast("bigint").alias("horizon_days"),
        (F.col("l") / 100).alias("level_rev"),
        (F.col("b") / 100).alias("trend_rev"),
        ((F.col("l") + F.col("h").cast("double") * F.col("b")) / 100).alias(
            "forecast_rev"
        ),
    )


#: Bucket count of the theilsen slope-median histogram selection — the bin
#: relation is at most this many rows regardless of the pair count, so the
#: cumulative-count window over it is constant-bounded (the
#: exact_median_two_pass discipline applied to a double-valued measure:
#: bounds come from a min/max aggregate instead of a fixed cent width).
_TS_BINS = 4096


@register(
    "theilsen_revenue_trend",
    tags=("bcast-const",),
    doc="Theil-Sen robust trend of daily revenue: median of all pairwise "
    "day-slopes + median-residual intercept — the outlier-immune twin of "
    "regression_price_by_qty's OLS",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                        AS BIGINT)) AS DOUBLE) AS y
            FROM orders GROUP BY o_orderdate
        ), pairs AS (
            SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
            FROM daily a JOIN daily b ON a.x < b.x
        ), m AS (SELECT COUNT(*) AS c FROM pairs),
        ranked AS (
            SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM pairs
        ), med AS (
            SELECT AVG(slope) AS slope FROM ranked, m
            WHERE rn IN ((c + 1) // 2, (c + 2) // 2)
        ), resid AS (
            SELECT d.y - med.slope * CAST(d.x AS DOUBLE) AS r FROM daily d, med
        ), rks AS (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM resid
        ), mc AS (SELECT COUNT(*) AS c FROM resid),
        bmed AS (
            SELECT AVG(r) AS icept FROM rks, mc
            WHERE rn IN ((c + 1) // 2, (c + 2) // 2)
        )
        SELECT (SELECT COUNT(*) FROM daily) AS n_days,
               (SELECT c FROM m) AS n_pairs,
               med.slope / 100 AS slope_rev_per_day,
               bmed.icept / 100 AS intercept_rev
        FROM med, bmed
    """,
)
def theilsen_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator: slope = median over all day pairs (i<j) of
    (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = median of (yᵢ − slope·xᵢ) — breakdown
    point 29%, immune to the revenue spikes that drag OLS.

    Exactness via ORDER STATISTICS instead of sums: every pairwise slope is
    a deterministic 3-op double chain over exact inputs (cent sums < 2⁵³ so
    y-differences are exact; x is epoch-day), and a median SELECTS values
    rather than accumulating them — order-independent by definition. The
    even-count midpoint is AVG of exactly two doubles (one add + one halve)
    on both engines.

    Scale shape: the only pass over the fact table is the daily cents
    aggregation; the pair relation is CALENDAR-bounded (D days → D(D−1)/2
    slopes, ~2.9M for the 7-year TPC-H range — constant as orders grow), so
    the O(D²) core never sees N. The scalar medians/count ride broadcast
    1-row joins (bcast-const). For per-group trends the same plan runs per
    key with the pair join keyed on (group, day)."""
    orders = t(spark, sf_dir, "orders")
    cents = F.round(money("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy("o_orderdate").agg(F.sum(cents).cast("double").alias("y"))
    daily = daily.select(
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("bigint").alias("x"), "y"
    )
    from songs_etl_spark.session import default_parallelism

    # Hash-repartition the stream side of the pair join: the broadcast
    # nested-loop join's output parallelism is its stream side's, and the
    # daily relation arrives in 1-2 post-aggregation partitions — without
    # this the D(D-1)/2-row slope computation (the query's heaviest stage)
    # runs nearly serial (guide §2.1).
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya")).repartition(
        default_parallelism(), "xa"
    )
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, F.col("xa") < F.col("xb"))
        .select(
            (
                (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope")
        )
    )
    # Deliberately NOT persisted: with the stream side repartitioned the
    # pair join is a 0.3 s map-side pass (measured, sf0.01), and the three
    # consumers below (this scalar collect, the bin histogram, the
    # candidate-bucket rank) each recompute it cheaper than filling and
    # re-reading a 2.9M-row cache — whose unfilled partitions the
    # concurrent broadcast subtrees additionally raced to compute
    # (measured 8-15 s persisted-unfilled vs ~3 s recomputed, guide §5).
    # The collect is count/min/max only — model-sized driver state, the
    # Lloyd-centroid/BPE-argmax precedent.
    c, mn, mx = pairs.agg(
        F.count("*"), F.min("slope"), F.max("slope")
    ).collect()[0]
    # Slope median by histogram-then-select (the exact_median_two_pass
    # plan, guide §2.2) instead of a single-partition global rank window:
    # pass 1 bins every slope into one of _TS_BINS value-range buckets and
    # a window over the BIN relation (≤ _TS_BINS rows by construction —
    # constant-bounded, unlike the D²-sized pair relation) locates the
    # buckets holding the two middle ranks; pass 2 ranks ONLY those
    # buckets' rows, each bucket sorted in its own partition, and offsets
    # by the bucket's cumulative count. The bucket map
    # floor((s−mn)/(mx−mn)·B) is weakly monotone in s (each IEEE step —
    # subtract a constant, divide by a positive constant, multiply by a
    # positive constant, floor — is order-preserving), so bucket-local
    # ranks + exact integer offsets reproduce the global ranks and the
    # SELECTED VALUES are identical to the global sort's: same order
    # statistic, no single-partition stage over an unbounded relation.
    # Fewer than 2 distinct dates: no pairs, so c == 0 and mn/mx are NULL.
    # The short circuit keeps them out of the bucket expression; the empty
    # selection below then averages to the NULL-median row, as the
    # oracle's AVG over no rows does.
    k1, k2 = (c + 1) // 2, (c + 2) // 2
    bucket = (
        F.least(
            F.lit(_TS_BINS - 1),
            F.floor((F.col("slope") - F.lit(mn)) / F.lit(mx - mn) * _TS_BINS),
        )
        if c > 0 and mx > mn
        else F.lit(0)
    )
    binned = pairs.select("slope", bucket.cast("bigint").alias("bin"))
    bins = (
        binned.groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("prev_cum", F.col("cum") - F.col("cnt"))
    )
    hit = bins.filter(
        ((F.col("prev_cum") < k1) & (F.col("cum") >= k1))
        | ((F.col("prev_cum") < k2) & (F.col("cum") >= k2))
    )
    med = (
        binned.join(F.broadcast(hit.select("bin", "prev_cum")), "bin")
        .withColumn(
            "grank",
            F.col("prev_cum")
            + F.row_number().over(Window.partitionBy("bin").orderBy("slope")),
        )
        .filter((F.col("grank") == k1) | (F.col("grank") == k2))
        .agg(F.avg("slope").alias("slope"))
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("slope") * F.col("x").cast("double")).alias("r")
    )
    rks = resid.select("r", F.row_number().over(Window.orderBy("r")).alias("rn"))
    mc = resid.agg(F.count("*").alias("c"))
    bmed = (
        rks.crossJoin(F.broadcast(mc))
        .filter(
            (F.col("rn") == F.floor((F.col("c") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("c") + 2) / 2))
        )
        .agg(F.avg("r").alias("icept"))
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        n_days.withColumn("n_pairs", F.lit(c).cast("bigint"))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(bmed))
        .select(
            "n_days",
            "n_pairs",
            (F.col("slope") / 100).alias("slope_rev_per_day"),
            (F.col("icept") / 100).alias("intercept_rev"),
        )
    )


#: Median bin width in cents (1000.00 currency units) — coarse histogram
#: for the first pass of the two-pass exact selection.
_MEDIAN_BIN_CENTS = 100_000


@register(
    "exact_median_two_pass",
    tags=("bcast-const",),
    doc="EXACT median of lineitem extended price by two-pass histogram "
    "selection — order statistics at 100 TB without a global sort "
    "(approx-quantile queries certify error; this one pays two scans for "
    "zero error)",
    oracle="""
        WITH c AS (
            SELECT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * 100)
                   AS BIGINT) AS cents
            FROM lineitem
        ), n AS (SELECT COUNT(*) AS c FROM c),
        r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c)
        SELECT (SELECT c FROM n) AS n_rows,
               AVG(CAST(cents AS DOUBLE)) / 100 AS median_price
        FROM r, n
        WHERE rn IN ((n.c + 1) // 2, (n.c + 2) // 2)
    """,
)
def exact_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median via histogram-then-select — the classic distributed
    order-statistic plan: pass 1 bins every value into 1000-unit buckets
    (one hash aggregation; ~hundreds of bins regardless of N) and a window
    over the BIN relation locates which bucket holds each middle rank;
    pass 2 sorts ONLY the candidate buckets' rows (a per-bin window over
    ~1/n_bins of the data) and offsets local row numbers by the bucket's
    cumulative count to pick the exact global ranks. Even counts average
    the two middle values (one add + one halve, same IEEE on both engines);
    all other arithmetic is integer cents.

    The oracle computes the same order statistic the honest way (global
    sort) — any binning/offset error lands on a different rank. At 100 TB
    the global sort is the plan that dies; this one's heavy stages are one
    map-side-combining aggregation and one narrow-slice window. (Spark's
    built-in percentile_approx trades exactness instead; both belong in the
    toolbox — see quantiles_price_by_flag_approx.)"""
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(money("l_extendedprice") * 100).cast("bigint")
    vals = li.select(cents.alias("cents"), (cents / _MEDIAN_BIN_CENTS).cast("bigint").alias("bin"))
    n = vals.agg(F.count("*").alias("c"))
    k1 = F.floor((F.col("c") + 1) / 2)
    k2 = F.floor((F.col("c") + 2) / 2)
    bins = (
        vals.groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("prev_cum", F.col("cum") - F.col("cnt"))
    )
    hit = bins.crossJoin(F.broadcast(n)).filter(
        ((F.col("prev_cum") < k1) & (k1 <= F.col("cum")))
        | ((F.col("prev_cum") < k2) & (k2 <= F.col("cum")))
    )
    ranked = (
        vals.join(F.broadcast(hit.select("bin", "prev_cum")), "bin")
        .withColumn(
            "grank",
            F.col("prev_cum")
            + F.row_number().over(Window.partitionBy("bin").orderBy("cents")),
        )
        .crossJoin(F.broadcast(n))
        .filter((F.col("grank") == k1) | (F.col("grank") == k2))
    )
    return ranked.agg(
        F.first(F.col("c")).cast("bigint").alias("n_rows"),
        (F.avg(F.col("cents").cast("double")) / 100).alias("median_price"),
    )


@register(
    "segment_migration_matrix",
    doc="year-over-year customer value-segment migration: 1996 spend "
    "quintile x 1997 spend quintile transition counts — the retention/"
    "upsell movement matrix behind cohort planning (rfm_customer_segments "
    "gives the static picture; this is its dynamics)",
    oracle="""
        WITH yearly AS (
            SELECT o_custkey, EXTRACT(YEAR FROM o_orderdate) AS yr,
                   SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                       AS BIGINT)) AS spend_c
            FROM orders
            WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
            GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)
        ), ranked AS (
            SELECT o_custkey, yr,
                   ROW_NUMBER() OVER (PARTITION BY yr
                                      ORDER BY spend_c, o_custkey) AS rn,
                   COUNT(*) OVER (PARTITION BY yr) AS n
            FROM yearly
        ), seg AS (
            SELECT o_custkey, yr, (rn - 1) * 5 // n + 1 AS q FROM ranked
        )
        SELECT a.q AS q_from, b.q AS q_to, COUNT(*) AS n_customers
        FROM seg a JOIN seg b ON a.o_custkey = b.o_custkey
        WHERE a.yr = 1996 AND b.yr = 1997
        GROUP BY a.q, b.q
    """,
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quintile-to-quintile transition counts for customers active in both
    1996 and 1997. Quintiles use the explicit rank formula
    ⌊(rank−1)·5/n⌋+1 over (spend, custkey)-ordered rows — NOT NTILE, whose
    remainder-distribution rule (and tie placement) is engine-defined; the
    explicit formula with a total tie-break order is deterministic
    everywhere. All arithmetic is integer (exact cent sums, ranks,
    counts) — nothing to quantize.

    Scale shape: one orders aggregation to (customer, year, cents); two
    windows over the per-customer relation partitioned BY YEAR (parallel
    across years, sorted within — the fact table is never globally
    sorted); one self equi-join on customer. At 100 TB the per-customer
    relation is the small one — this is the standard funnel from fact to
    entity grain."""
    orders = t(spark, sf_dir, "orders")
    cents = F.round(money("o_totalprice") * 100).cast("bigint")
    yr = F.year("o_orderdate")
    yearly = (
        orders.filter(yr.isin(1996, 1997))
        .groupBy("o_custkey", yr.alias("yr"))
        .agg(F.sum(cents).alias("spend_c"))
    )
    wr = Window.partitionBy("yr").orderBy("spend_c", "o_custkey")
    wn = Window.partitionBy("yr")
    seg = yearly.select(
        "o_custkey",
        "yr",
        (
            (F.row_number().over(wr) - 1) * 5 / F.count("*").over(wn)
        ).cast("bigint").alias("q0"),
    ).select("o_custkey", "yr", (F.col("q0") + 1).alias("q"))
    a = seg.filter(F.col("yr") == 1996).select("o_custkey", F.col("q").alias("q_from"))
    b = seg.filter(F.col("yr") == 1997).select("o_custkey", F.col("q").alias("q_to"))
    return (
        a.join(b, "o_custkey")
        .groupBy("q_from", "q_to")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "correlation_matrix_lineitem",
    doc="pairwise Pearson correlation matrix over (quantity, price, "
    "discount) from one pass of exact decimal moment sums — the "
    "multi-measure generalization of daily_revenue_click_corr",
    oracle="""
        WITH s AS (
            SELECT COUNT(*) AS n,
                   SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sq,
                   SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sp,
                   SUM(CAST(l_discount AS DECIMAL(19,4))) AS sd,
                   SUM(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_quantity AS DECIMAL(19,4))) AS sqq,
                   SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4))) AS spp,
                   SUM(CAST(l_discount AS DECIMAL(19,4))
                       * CAST(l_discount AS DECIMAL(19,4))) AS sdd,
                   SUM(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4))) AS sqp,
                   SUM(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_discount AS DECIMAL(19,4))) AS sqd,
                   SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                       * CAST(l_discount AS DECIMAL(19,4))) AS spd
            FROM lineitem
        )
        SELECT p.m1, p.m2,
               (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
               / (SQRT(CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                  * SQRT(CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
                   AS pearson_r
        FROM s, LATERAL (
            VALUES ('quantity', 'price',    sq, sp, sqq, spp, sqp),
                   ('quantity', 'discount', sq, sd, sqq, sdd, sqd),
                   ('price',    'discount', sp, sd, spp, sdd, spd)
        ) p(m1, m2, sx, sy, sxx, syy, sxy)
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Pearson matrix over three lineitem measures, computed
    from ONE aggregation pass: n plus 3 first-moment, 3 second-moment and 3
    cross-moment sums — all exact DECIMAL (registry rule 1), so the nine
    sums are partition-order-independent and every r is one closed-form
    double chain (rule 2; the VARCHAR round-trip is the _D conversion —
    scale-8 product sums exceed 2⁵³ at sf ≥ 0.1). One shuffle of nine
    numbers regardless of N — the multi-measure profile a feature-selection
    pass wants before anything pairwise-expensive."""
    li = t(spark, sf_dir, "lineitem")
    q, p, d = money("l_quantity"), money("l_extendedprice"), money("l_discount")
    s = li.agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"),
        F.sum(p * p).alias("spp"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * p).alias("sqp"),
        F.sum(q * d).alias("sqd"),
        F.sum(p * d).alias("spd"),
    )

    def _d(c: str) -> F.Column:
        return F.col(c).cast("string").cast("double")

    def r_expr(sx, sy, sxx, syy, sxy) -> F.Column:
        n = F.col("n").cast("double")
        num = n * _d(sxy) - _d(sx) * _d(sy)
        den = F.sqrt(n * _d(sxx) - _d(sx) * _d(sx)) * F.sqrt(
            n * _d(syy) - _d(sy) * _d(sy)
        )
        return num / den

    pairs = [
        ("quantity", "price", ("sq", "sp", "sqq", "spp", "sqp")),
        ("quantity", "discount", ("sq", "sd", "sqq", "sdd", "sqd")),
        ("price", "discount", ("sp", "sd", "spp", "sdd", "spd")),
    ]
    rows = [
        s.select(F.lit(m1).alias("m1"), F.lit(m2).alias("m2"), r_expr(*cols).alias("pearson_r"))
        for m1, m2, cols in pairs
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "skewness_kurtosis_by_flag",
    doc="distribution-shape audit: per-returnflag skewness and excess "
    "kurtosis of extended price from exact decimal power sums (up to x^4) "
    "in one pass — the moments that tell a cost model whether mean/stddev "
    "summaries are lying",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS s1,
                   SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(19,4))) AS s2,
                   SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(19,2))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(24,6))) AS s3,
                   SUM(CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(19,2))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(24,6))
                       * CAST(l_extendedprice AS DECIMAL(13,2)) AS DECIMAL(38,8))) AS s4
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n
                - 3 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n)
                + 2 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))
               / ((CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                    - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                      * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))
                  * SQRT(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                         - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                           * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)))
                   AS skewness,
               (CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / n
                - 4 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / n)
                + 6 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n)
                - 3 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))
               / ((CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                   - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                     * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))
                  * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
                     - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                       * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))) - 3
                   AS excess_kurtosis
        FROM s
    """,
)
def skewness_kurtosis_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g₁ = μ₃/σ³ and excess kurtosis g₂ = μ₄/σ⁴ − 3,
    expanded into raw power sums so ONE aggregation computes them: μ₃ =
    E[x³] − 3·E[x]·E[x²] + 2·E[x]³ and μ₄ = E[x⁴] − 4·E[x]·E[x³] +
    6·E[x]²·E[x²] − 3·E[x]⁴. The four power sums accumulate in exact
    DECIMAL (explicit rescaling keeps x⁴ sums at scale 2 within
    DECIMAL(38)), so they are partition-order-independent; each statistic
    is then a fixed double chain over the VARCHAR-round-tripped exact sums
    (the scale-8+ sums exceed 2⁵³ — see _util.dec2).

    Scale shape: identical to pricing_summary — one map-side-combining hash
    aggregation, five numbers per group out. Shape moments are how a
    planner/auditor detects heavy tails that make mean±stddev summaries
    (and t-tests) unreliable."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(13,2)")
    x2 = (x * x).cast("decimal(19,4)")
    x3 = (x2 * x).cast("decimal(24,6)")
    x4 = (x3 * x).cast("decimal(38,8)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x3).alias("s3"),
        F.sum(x4).alias("s4"),
    )

    def _d(c: str) -> F.Column:
        return F.col(c).cast("string").cast("double")

    n = F.col("n").cast("double")
    m1 = _d("s1") / n
    m2 = _d("s2") / n
    m3 = _d("s3") / n
    m4 = _d("s4") / n
    mu3 = m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1
    var = m2 - m1 * m1
    mu4 = m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        (mu3 / (var * F.sqrt(var))).alias("skewness"),
        (mu4 / (var * var) - 3).alias("excess_kurtosis"),
    )


@register(
    "capped_running_balance",
    doc="floor-capped running balance per user (credits = purchases, debits "
    "= clicks, balance never below 0): the max(0, prev + x) recurrence that "
    "NO window frame expresses — per-user ordered fold, exact integer cents",
    oracle="""
        WITH ledger AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)
                        ELSE -CAST(ROUND(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)
                   END AS delta_c
            FROM events WHERE event_type IN ('purchase', 'click')
        ), arrs AS (
            SELECT user_id,
                   list(delta_c ORDER BY ts, event_id) AS ds,
                   COUNT(*) AS n_moves
            FROM ledger GROUP BY user_id
        ), folded AS (
            SELECT user_id, n_moves,
                   list_reduce(
                       list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                                    list_transform(ds, d -> [d, CAST(0 AS BIGINT)])),
                       (acc, x) -> [GREATEST(CAST(0 AS BIGINT), acc[1] + x[1]),
                                    GREATEST(acc[2],
                                             GREATEST(CAST(0 AS BIGINT), acc[1] + x[1]))]
                   ) AS st
            FROM arrs
        )
        SELECT user_id, CAST(n_moves AS BIGINT) AS n_moves,
               st[1] AS final_balance_c, st[2] AS peak_balance_c
        FROM folded
    """,
)
def capped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user floor-capped balance: bₜ = max(0, bₜ₋₁ + Δₜ) over the
    (ts, event_id)-ordered ledger (purchases credit, clicks debit), plus
    the running peak. The floor makes the recurrence NON-LINEAR — unlike a
    plain cumulative sum, no window frame or prefix trick expresses it, so
    this is the canonical per-key ordered fold (inventory with no
    backorders, rate-limiter tokens, drawdown floors all share it).

    Exactness: pure bigint state — fold order is pinned by the total
    (ts, event_id) sort on both engines (F.aggregate ↔ list_reduce over an
    ORDER BY list; the [delta, 0] pair encoding gives DuckDB's init-less
    reduce the same (balance, peak) = (0, 0) start Spark's explicit zero
    provides).

    Scale shape: one hash shuffle by user, one per-user sort feeding
    collect_list — identical to the sessionization plan; per-user state is
    two bigints regardless of history length. At unbounded history the same
    fold runs incrementally as the streaming stateful operator
    (applyInPandasWithState carries the identical 2-long state)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type").isin("purchase", "click"))
    cents = F.round(money("value") * 100).cast("bigint")
    delta = F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
    ledger = ev.select("user_id", "ts", "event_id", delta.alias("delta_c"))
    arrs = ledger.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "delta_c"))),
            lambda x: x["delta_c"],
        ).alias("ds"),
        F.count("*").alias("n_moves"),
    )

    def step(acc: F.Column, d: F.Column) -> F.Column:
        bal = F.greatest(F.lit(0).cast("bigint"), acc["bal"] + d)
        return F.struct(bal.alias("bal"), F.greatest(acc["peak"], bal).alias("peak"))

    folded = arrs.select(
        "user_id",
        F.col("n_moves").cast("bigint").alias("n_moves"),
        F.aggregate(
            "ds",
            F.struct(
                F.lit(0).cast("bigint").alias("bal"), F.lit(0).cast("bigint").alias("peak")
            ),
            step,
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_moves",
        F.col("st.bal").alias("final_balance_c"),
        F.col("st.peak").alias("peak_balance_c"),
    )


@register(
    "weighted_median_price",
    doc="quantity-weighted LOWER median of unit price: the order statistic "
    "where half the shipped QUANTITY sits below — one sort + cumulative "
    "window, no interpolation ambiguity",
    oracle="""
        WITH v AS (
            SELECT CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * 100) AS BIGINT)
                       AS price_c,
                   CAST(l_quantity AS BIGINT) AS w
            FROM lineitem
        ), g AS (
            SELECT price_c, SUM(w) AS w FROM v GROUP BY price_c
        ), c AS (
            SELECT price_c, w,
                   SUM(w) OVER (ORDER BY price_c
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cw,
                   SUM(w) OVER () AS tw
            FROM g
        )
        SELECT CAST(tw AS BIGINT) AS total_weight,
               CAST(MIN(price_c) AS DOUBLE) / 100 AS weighted_median_price
        FROM c
        WHERE 2 * cw >= tw
        GROUP BY tw
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower weighted median: the smallest price whose cumulative quantity
    weight reaches half the total (2·cw ≥ W avoids any division). Selection
    over exact integers — nothing to quantize; ties collapse in the
    pre-aggregation by price so the window runs over DISTINCT price rows
    (≪ N), and at 100 TB the same two-pass histogram trick as
    exact_median_two_pass applies with weights summed per bin.

    Plan: one hash aggregation (price → weight), one ordered window over
    the distinct-price relation, a global min over the crossing set."""
    li = t(spark, sf_dir, "lineitem")
    price_c = F.round(money("l_extendedprice") * 100).cast("bigint")
    v = li.select(price_c.alias("price_c"), qty("l_quantity").alias("w"))
    g = v.groupBy("price_c").agg(F.sum("w").alias("w"))
    c = g.select(
        "price_c",
        F.sum("w")
        .over(Window.orderBy("price_c").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("w").over(Window.partitionBy()).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("tw")
        .agg((F.min("price_c").cast("double") / 100).alias("weighted_median_price"))
        .select(
            F.col("tw").cast("bigint").alias("total_weight"), "weighted_median_price"
        )
    )


#: Holt backtest holdout length (days) — the last H observed days are held
#: out, the model fits on the prefix, and the median APE over the holdout
#: scores it.
HOLT_HOLDOUT = 14


@register(
    "holt_backtest_mape",
    tags=("bcast-const",),
    doc="forecast model evaluation: Holt(alpha=beta=1/2) fit on all but the "
    "last 14 observed days, h-step forecasts scored against the held-out "
    "actuals — median APE (selection, not a float sum), the backtest "
    "every forecast deserves before anyone trusts holt_linear_forecast",
    oracle=f"""
        WITH RECURSIVE days AS (
            SELECT ROW_NUMBER() OVER (ORDER BY o_orderdate) AS i,
                   y FROM (
                SELECT o_orderdate,
                       CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                            AS BIGINT)) AS DOUBLE) AS y
                FROM orders GROUP BY o_orderdate
            )
        ), cut AS (SELECT MAX(i) - {HOLT_HOLDOUT} AS c FROM days),
        rec(i, l, b) AS (
            SELECT 1, d1.y, d2.y - d1.y
            FROM days d1 JOIN days d2 ON d1.i = 1 AND d2.i = 2
            UNION ALL
            SELECT d.i,
                   0.5 * d.y + 0.5 * (r.l + r.b),
                   0.5 * ((0.5 * d.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
            FROM rec r JOIN days d ON d.i = r.i + 1
            WHERE d.i <= (SELECT c FROM cut)
        ), fitted AS (
            SELECT l, b FROM rec ORDER BY i DESC LIMIT 1
        ), scored AS (
            SELECT ABS(d.y - (f.l + CAST(d.i - cut.c AS DOUBLE) * f.b)) / d.y AS ape
            FROM days d, fitted f, cut
            WHERE d.i > cut.c
        ), ranked AS (
            SELECT ape, ROW_NUMBER() OVER (ORDER BY ape) AS rn FROM scored
        )
        SELECT CAST({HOLT_HOLDOUT} AS BIGINT) AS horizon_days,
               AVG(ape) AS median_ape
        FROM ranked
        WHERE rn IN (({HOLT_HOLDOUT} + 1) // 2, ({HOLT_HOLDOUT} + 2) // 2)
    """,
)
def holt_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the Holt smoother: fit on observed days
    1..n−14 (the same op-for-op IEEE fold as holt_linear_forecast), forecast
    ŷ(h) = l + h·b for the 14 held-out days, and report the MEDIAN absolute
    percentage error — a selection statistic, so no float accumulation
    crosses engines (each APE is a deterministic chain; the even-count
    median averages exactly two doubles).

    Plan shape: identical to holt_linear_forecast (one daily aggregation +
    a calendar-bounded fold) plus a 14-row scoring join — the model-eval
    loop costs no more than the model."""
    orders = t(spark, sf_dir, "orders")
    cents = F.round(money("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy("o_orderdate").agg(F.sum(cents).cast("double").alias("y"))
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("o_orderdate", "y"))).alias("arr")
    ).select(F.transform("arr", lambda x: x["y"]).alias("ys"))
    series = series.select("ys", (F.size("ys") - HOLT_HOLDOUT).alias("c"))

    def step(acc: F.Column, y: F.Column) -> F.Column:
        l_next = 0.5 * y + 0.5 * (acc["l"] + acc["b"])
        b_next = 0.5 * (l_next - acc["l"]) + 0.5 * acc["b"]
        return F.struct(l_next.alias("l"), b_next.alias("b"))

    fitted = series.select(
        "ys",
        "c",
        F.aggregate(
            F.slice("ys", 2, F.col("c") - 1),
            F.struct(
                F.element_at("ys", 1).alias("l"),
                (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
            ),
            step,
        ).alias("s"),
    )
    scored = fitted.select(
        "c",
        F.posexplode(F.slice("ys", F.col("c") + 1, F.lit(HOLT_HOLDOUT))).alias("h0", "y"),
    ).join(
        F.broadcast(fitted.select(F.col("s.l").alias("l"), F.col("s.b").alias("b"))),
        how="cross",
    ).select(
        (
            F.abs(F.col("y") - (F.col("l") + (F.col("h0") + 1).cast("double") * F.col("b")))
            / F.col("y")
        ).alias("ape")
    )
    ranked = scored.select(
        "ape", F.row_number().over(Window.orderBy("ape")).alias("rn")
    )
    k1, k2 = (HOLT_HOLDOUT + 1) // 2, (HOLT_HOLDOUT + 2) // 2
    return ranked.filter(F.col("rn").isin(k1, k2)).agg(
        F.lit(HOLT_HOLDOUT).cast("bigint").alias("horizon_days"),
        F.avg("ape").alias("median_ape"),
    )


#: Target-encoding smoothing pseudo-count (the standard "m-estimate").
_TE_SMOOTH_M = 10


@register(
    "target_encoding_loo",
    tags=("bcast-const",),
    doc="leave-one-out smoothed target encoding of order priority against "
    "the finished-order outcome — the categorical-feature prep that avoids "
    "target leakage; encoding is constant per (category, outcome) so the "
    "compact group table is emitted",
    oracle=f"""
        WITH base AS (
            SELECT o_orderpriority AS category,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ), gpri AS (
            SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS prior FROM base
        ), per_cat AS (
            SELECT category, COUNT(*) AS n_c, CAST(SUM(y) AS BIGINT) AS pos_c
            FROM base GROUP BY category
        )
        SELECT b.category,
               CAST(b.y AS BIGINT) AS y,
               COUNT(*) AS n_rows,
               (CAST(p.pos_c - b.y AS DOUBLE) + {_TE_SMOOTH_M} * g.prior)
                   / CAST(p.n_c - 1 + {_TE_SMOOTH_M} AS DOUBLE) AS loo_encoding
        FROM base b JOIN per_cat p USING (category) CROSS JOIN gpri g
        GROUP BY b.category, b.y, p.pos_c, p.n_c, g.prior
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with m-estimate smoothing — the
    standard high-cardinality categorical encoder for tabular ML: each
    row's category is replaced by the mean outcome of the OTHER rows in its
    category, shrunk toward the global prior by m = 10 pseudo-counts
    (excluding the row itself is what prevents target leakage into the
    feature). The LOO value depends only on (category, outcome), so the
    output is the compact (category, y) table with row counts — exactly
    the lookup a feature store would materialize.

    Exactness: counts are exact integers; prior and the encoding are each
    ONE fixed double chain from exact integers (registry rule 2) — no
    reordered float accumulation. Scale shape: one category-keyed
    aggregation + a broadcast join back; the global prior is a 1-row
    broadcast (bcast-const). At 100 TB with a million-key category the
    per_cat relation is still tiny; nothing scales with row count but the
    two scans."""
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    glob = base.agg(
        (F.sum("y").cast("double") / F.count("*")).alias("prior")
    )
    per_cat = base.groupBy("category").agg(
        F.count("*").alias("n_c"), F.sum("y").cast("bigint").alias("pos_c")
    )
    enc = (
        (F.col("pos_c") - F.col("y")).cast("double")
        + F.lit(_TE_SMOOTH_M) * F.col("prior")
    ) / (F.col("n_c") - 1 + _TE_SMOOTH_M).cast("double")
    return (
        base.join(F.broadcast(per_cat), "category")
        .crossJoin(F.broadcast(glob))
        .groupBy("category", "y", "pos_c", "n_c", "prior")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "category",
            F.col("y").cast("bigint").alias("y"),
            "n_rows",
            enc.alias("loo_encoding"),
        )
    )


#: Logistic-regression GD geometry: fixed rounds, halved step, round-9
#: quantization of every per-row float and every weight (the libm rule:
#: ln/exp outputs are rounded before ANY cross-row accumulation, and the
#: gradient sums are exact nano-unit BIGINTs — partition-order-free).
_LR_ROUNDS = 3
_LR_ETA = "0.5"
_LR_TOKCOUNT = (
    "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
)


def _logreg_train_ctes() -> str:
    """Shared fully-unrolled GD CTE chain (feat → nn → wt0 → g{r}/wt{r}):
    per round, the sigmoid scores and the three nano-quantized gradient
    sums over the feature relation, then the weight update — each w{t} CTE
    references the previous round's scalars. Both the trainer oracle and
    the apply-side (calibration bins) oracle end this chain differently."""
    parts = [
        f"""
        WITH feat AS MATERIALIZED (
            SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                   ROUND(LN(1 + n_chars), 9) AS x1,
                   ROUND(LN(1 + {_LR_TOKCOUNT}), 9) AS x2
            FROM documents
        ),
        nn AS (SELECT COUNT(*) AS n FROM feat),
        wt0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                       CAST(0.0 AS DOUBLE) AS w2)"""
    ]
    for r in range(1, _LR_ROUNDS + 1):
        parts.append(
            f"""
        , g{r} AS (
            SELECT SUM(CAST(ROUND((p - y) * 1e9) AS BIGINT)) AS s0,
                   SUM(CAST(ROUND((p - y) * x1 * 1e9) AS BIGINT)) AS s1,
                   SUM(CAST(ROUND((p - y) * x2 * 1e9) AS BIGINT)) AS s2
            FROM (
                SELECT y, x1, x2,
                       ROUND(1 / (1 + EXP(-ROUND(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 9) AS p
                FROM feat CROSS JOIN wt{r - 1} w
            )
        ),
        wt{r} AS (
            SELECT ROUND(w.w0 - {_LR_ETA} * (CAST(g.s0 AS DOUBLE) / 1e9) / nn.n, 9) AS w0,
                   ROUND(w.w1 - {_LR_ETA} * (CAST(g.s1 AS DOUBLE) / 1e9) / nn.n, 9) AS w1,
                   ROUND(w.w2 - {_LR_ETA} * (CAST(g.s2 AS DOUBLE) / 1e9) / nn.n, 9) AS w2
            FROM wt{r - 1} w CROSS JOIN g{r} g CROSS JOIN nn
        )"""
        )
    return "".join(parts)


def _logreg_oracle() -> str:
    finals = [
        f"SELECT {r} AS iter, w0, w1, w2 FROM wt{r}" for r in range(1, _LR_ROUNDS + 1)
    ]
    return (
        _logreg_train_ctes()
        + "\n        "
        + "\n        UNION ALL\n        ".join(finals)
    )


@register(
    "logreg_quality_gd",
    doc="iterative ML: logistic-regression quality classifier trained by "
    "batch gradient descent (3 rounds, nano-quantized gradients) on "
    "document features — the model-fitting loop beside kmeans/Holt/power-"
    "iteration, fully-unrolled exact oracle",
    oracle=_logreg_oracle(),
)
def logreg_quality_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-GD logistic regression predicting the is-English label from
    two length features (ln(1+chars), ln(1+tokens)) — the smallest honest
    stand-in for the fastText-style quality/language classifiers every
    pretraining pipeline trains on its own corpus. Output: the weight
    vector after each of the 3 rounds.

    Scale shape (the Lloyd's-iteration discipline): per round, ONE
    aggregation over the feature relation produces three exact nano-unit
    BIGINT gradient sums; the weight triple is model-sized driver state,
    and the update arithmetic runs in SPARK expressions (collected after),
    so no float ever depends on Python's libm. Per-row sigmoid chains are
    round-9 quantized before the sum — partition-order-independent, and
    bit-matched by the oracle's identical chain. A 100 TB corpus changes
    only the one-pass gradient aggregation; rounds stay 3."""
    feat = _logreg_feat(spark, sf_dir)
    out = [(it, *w) for it, w in enumerate(_logreg_fit(feat), start=1)]
    return spark.createDataFrame(out, "iter int, w0 double, w1 double, w2 double")


def _logreg_feat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (y, x1, x2) feature relation shared by the GD trainer
    and the apply-side scorer — one corpus pass, round-9 quantized."""
    from songs_etl_spark.functions.text import tokens as tok_fn
    from songs_etl_spark.plans._util import spread, track_persist

    docs = spread(t(spark, sf_dir, "documents"), key="doc_id")
    feat = track_persist(
        docs.select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.round(F.log(F.lit(1) + F.col("n_chars")), 9).alias("x1"),
            F.round(F.log(F.lit(1) + F.size(tok_fn("text"))), 9).alias("x2"),
        )
    )
    feat.count()
    return feat


def _logreg_p(w: tuple[float, float, float]) -> F.Column:
    """Round-9 sigmoid score of a feature row under weights ``w`` — the
    exact per-row chain both oracles replicate (z quantized before exp,
    p quantized before any cross-row use)."""
    z = F.round(F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2"), 9)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)


def _logreg_fit(feat: DataFrame) -> list[tuple[float, float, float]]:
    """Run the _LR_ROUNDS GD rounds against the persisted feature relation;
    returns the weight triple after each round (model-sized driver state;
    update arithmetic in Spark expressions, so no Python-libm float)."""
    eta = float(_LR_ETA)
    w = (0.0, 0.0, 0.0)
    out = []
    for _ in range(_LR_ROUNDS):
        d = _logreg_p(w) - F.col("y")
        agg = feat.agg(
            F.sum(F.round(d * F.lit(1e9)).cast("bigint")).alias("s0"),
            F.sum(F.round(d * F.col("x1") * F.lit(1e9)).cast("bigint")).alias("s1"),
            F.sum(F.round(d * F.col("x2") * F.lit(1e9)).cast("bigint")).alias("s2"),
            F.count("*").alias("n"),
        )
        row = agg.select(
            *[
                F.round(
                    F.lit(w[j])
                    - F.lit(eta) * (F.col(f"s{j}").cast("double") / F.lit(1e9)) / F.col("n"),
                    9,
                ).alias(f"w{j}")
                for j in range(3)
            ]
        ).collect()[0]
        w = (row["w0"], row["w1"], row["w2"])
        out.append(w)
    return out


@register(
    "logreg_quality_score_bins",
    doc="apply-side of the logreg quality classifier: score EVERY document "
    "with the trained round-3 weights, bucket predictions into "
    "order-of-magnitude calibration bins (exact, from the integer nano "
    "score — no float log), report per-bin count, positive rate, and mean "
    "prediction — the fastText-style quality-filter inference pass",
    oracle=_logreg_train_ctes()
    + f"""
        SELECT CAST(GREATEST(LEAST(9 - LENGTH(CAST(p_nano AS VARCHAR)), 9), 0) AS INT)
                   AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(y) AS DOUBLE) / COUNT(*) AS pos_rate,
               CAST(SUM(p_nano) AS DOUBLE) / 1e9 / COUNT(*) AS mean_p
        FROM (
            SELECT y,
                   CAST(ROUND(
                       ROUND(1 / (1 + EXP(-ROUND(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 9)
                       * 1e9) AS BIGINT) AS p_nano
            FROM feat CROSS JOIN wt{_LR_ROUNDS} w
        )
        GROUP BY 1
    """,
)
def logreg_quality_score_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference pass for the trained quality classifier (round-6 verdict
    task: train-without-apply is half an operator): the final GD weights
    score the whole corpus, predictions fall into order-of-magnitude
    calibration bins (bin k ⇔ p ≈ [1e-(k+1), 1e-k) — the right axis for a
    skewed scorer whose mass sits far below 0.5, where fixed deciles would
    all collapse into bin 0), and each bin reports its document count,
    observed positive rate, and mean predicted probability — the table a
    threshold sweep or reliability diagram reads directly.

    Exactness: training is the proven bit-exact GD chain; the score reuses
    the identical round-9 sigmoid quantized to an exact nano-unit BIGINT;
    the bin index is the DIGIT COUNT of that integer (no float log10 near
    a floor boundary — the libm rule); pos_rate and mean_p are one double
    chain each from exact integer sums — partition-order-free. Scale
    shape: the weights are 3 driver-side floats inlined as literals, so
    scoring is a MAP-ONLY pass over the corpus followed by a ≤10-key
    aggregation — the cheapest possible inference plan at 100 TB (no join,
    no broadcast, no shuffle beyond the tiny partial agg)."""
    feat = _logreg_feat(spark, sf_dir)
    w = _logreg_fit(feat)[-1]
    p_nano = F.round(_logreg_p(w) * F.lit(1e9)).cast("bigint")
    bin_col = F.greatest(
        F.least(F.lit(9) - F.length(p_nano.cast("string")), F.lit(9)), F.lit(0)
    ).cast("int")
    return (
        feat.select("y", bin_col.alias("bin"), p_nano.alias("p_nano"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("y").cast("double") / F.count("*")).alias("pos_rate"),
            (
                F.sum("p_nano").cast("double") / F.lit(1e9) / F.count("*")
            ).alias("mean_p"),
        )
        .select("bin", "n_docs", "pos_rate", "mean_p")
    )


@register(
    "mannkendall_revenue_trend",
    tags=("bcast-const",),
    doc="Mann-Kendall nonparametric trend TEST on daily revenue (S "
    "statistic, tie-corrected variance, continuity-corrected z) — the "
    "significance companion to theilsen_revenue_trend's slope estimate",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                        AS BIGINT)) AS BIGINT) AS y
            FROM orders GROUP BY o_orderdate
        ), s AS (
            SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                                 WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
            FROM daily a JOIN daily b ON a.x < b.x
        ), nn AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
        ), ties AS (
            SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
            FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y) WHERE t > 1
        ), vs AS (
            SELECT n, s_stat,
                   CAST(n * (n - 1) * (2 * n + 5) - tt AS DOUBLE) / 18 AS var_s
            FROM s CROSS JOIN nn CROSS JOIN ties
        )
        SELECT n AS n_days, s_stat, var_s,
               CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(var_s)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(var_s)
                    ELSE 0.0 END AS z_stat
        FROM vs
    """,
)
def mannkendall_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall: S = Σ_{i<j} sign(y_j − y_i) over the daily series,
    Var(S) with the standard tie correction, and the continuity-corrected
    normal approximation z — the distribution-free "is there a monotone
    trend at all" test every forecasting pipeline should run before
    fitting one (Theil-Sen estimates the slope; this decides whether to
    believe it).

    Exactness: day revenues are exact cent BIGINTs, so every sign is an
    integer comparison — S, n, and the tie term are exact integer
    aggregates, and var/z are one fixed double chain each. Scale shape:
    identical to theilsen_revenue_trend — the pair join is CALENDAR-
    bounded (days², constant in corpus size, grows only with the date
    range) over the broadcast-small daily aggregate; the corpus
    contributes one date-keyed aggregation."""
    from songs_etl_spark.plans._util import track_persist

    daily = track_persist(
        t(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(
            F.sum(F.round(money("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            "y",
        )
    )
    a = daily.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    sign = (
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
    )
    s = a.join(b, F.col("xa") < F.col("xb")).agg(
        F.sum(sign).cast("bigint").alias("s_stat")
    )
    nn = daily.agg(F.count("*").cast("bigint").alias("n"))
    tie = (
        daily.groupBy("y")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    var_s = (
        (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tt")).cast(
            "double"
        )
        / 18
    )
    vs = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tie))
        .select("n", "s_stat", var_s.alias("var_s"))
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return vs.select(
        F.col("n").alias("n_days"), "s_stat", "var_s", z.alias("z_stat")
    )


@register(
    "seasonal_decompose_weekly",
    doc="STL-lite decomposition of daily revenue: centered 7-day moving "
    "trend, day-of-week seasonal means over the detrended series, residual "
    "— all accumulated in exact cents*7 integer units so every mean is one "
    "division (the classic trend/seasonal/residual readout)",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 100)
                        AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        ), win AS (
            SELECT day, cents,
                   SUM(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                       AS t7,
                   COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                       AS nw
            FROM daily
        ), det AS (
            SELECT day, cents, t7,
                   7 * cents - t7 AS d7,
                   dayofweek(day) AS dow
            FROM win WHERE nw = 7
        ), seas AS (
            SELECT dow, CAST(SUM(d7) AS DOUBLE) / COUNT(*) AS s7 FROM det GROUP BY dow
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               d.cents AS revenue_cents,
               CAST(d.t7 AS DOUBLE) / 7 AS trend_cents,
               s.s7 / 7 AS seasonal_cents,
               (CAST(d.d7 AS DOUBLE) - s.s7) / 7 AS residual_cents
        FROM det d JOIN seas s USING (dow)
    """,
)
def seasonal_decompose_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition y = trend + seasonal + residual on
    the daily revenue series: trend = centered 7-day moving average
    (full windows only), seasonal = per-day-of-week mean of the detrended
    series, residual = the rest — the first diagnostic any forecasting
    pipeline draws, and the feature prep behind dow_seasonality_revenue's
    index.

    Exactness: day revenues are exact cent BIGINTs; the whole pipeline
    runs in cents×7 units — the 7-day window sum t7 and detrended
    d7 = 7·cents − t7 are exact integers, the seasonal mean is ONE
    int-sum ÷ count division, and trend/seasonal/residual each end in one
    fixed double chain ÷ 7 (registry rule 2; a naive float moving average
    would be partition-order-dependent). Scale: the corpus contributes one
    date-keyed aggregation; every window runs over the calendar-bounded
    daily relation (the theilsen/mannkendall cost model)."""
    from songs_etl_spark.plans._util import track_persist

    daily = track_persist(
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(money("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w7).alias("t7"),
        F.count("*").over(w7).alias("nw"),
    )
    det = win.filter(F.col("nw") == 7).select(
        "day",
        "cents",
        "t7",
        (7 * F.col("cents") - F.col("t7")).alias("d7"),
        F.dayofweek("day").alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        (F.sum("d7").cast("double") / F.count("*")).alias("s7")
    )
    return det.join(F.broadcast(seas), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cents").alias("revenue_cents"),
        (F.col("t7").cast("double") / 7).alias("trend_cents"),
        (F.col("s7") / 7).alias("seasonal_cents"),
        ((F.col("d7").cast("double") - F.col("s7")) / 7).alias("residual_cents"),
    )


#: RANSAC geometry: 8 deterministic 2-point candidate lines, inlier band
#: ±2000.00 dollars expressed in exact ten-thousandth-dollar units.
_RANSAC_CANDS = 8
_RANSAC_TAU4 = 2000 * 10000

#: Shared robust-fit candidate CTEs (RANSAC + pinball quantile regression):
#: the (price-in-1e-4-units, quantity, md5 draw key) relation and the
#: _RANSAC_CANDS deterministic 2-point candidate lines built from the rows
#: ranking first by the hash — a fixed pseudo-random sample both engines
#: reproduce.
_TWOPOINT_CTES = f"""
        WITH h AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS p,
                   CAST(l_quantity AS BIGINT) AS q,
                   md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                       CAST(l_linenumber AS VARCHAR)) AS hx
            FROM lineitem
        ), sel AS (
            SELECT p, q, ROW_NUMBER() OVER (ORDER BY hx, p, q) AS rn
            FROM h ORDER BY hx, p, q LIMIT {2 * _RANSAC_CANDS}
        ), cand AS (
            SELECT (rn - 1) // 2 AS cand_id,
                   MAX(CASE WHEN rn % 2 = 1 THEN p END) AS p1,
                   MAX(CASE WHEN rn % 2 = 1 THEN q END) AS q1,
                   MAX(CASE WHEN rn % 2 = 0 THEN p END) - MAX(CASE WHEN rn % 2 = 1 THEN p END) AS dp,
                   MAX(CASE WHEN rn % 2 = 0 THEN q END) - MAX(CASE WHEN rn % 2 = 1 THEN q END) AS dq
            FROM sel GROUP BY 1
        )"""


def _twopoint_relations(spark: SparkSession, sf_dir: str):
    """Spark twin of ``_TWOPOINT_CTES``: returns (h, cand) — the scored
    point relation and the broadcast-sized candidate-line relation."""
    li = t(spark, sf_dir, "lineitem")
    h = li.select(
        (money("l_extendedprice") * 10000).cast("bigint").alias("p"),
        qty("l_quantity").alias("q"),
        F.md5(
            F.concat_ws(
                "#",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("hx"),
    )
    sel = (
        h.orderBy("hx", "p", "q")
        .limit(2 * _RANSAC_CANDS)
        .select(
            "p", "q", F.row_number().over(Window.orderBy("hx", "p", "q")).alias("rn")
        )
    )
    odd = F.when(F.col("rn") % 2 == 1, F.col("p"))
    oddq = F.when(F.col("rn") % 2 == 1, F.col("q"))
    even = F.when(F.col("rn") % 2 == 0, F.col("p"))
    evenq = F.when(F.col("rn") % 2 == 0, F.col("q"))
    cand = sel.groupBy(F.expr("(rn - 1) div 2").alias("cand_id")).agg(
        F.max(odd).alias("p1"),
        F.max(oddq).alias("q1"),
        (F.max(even) - F.max(odd)).alias("dp"),
        (F.max(evenq) - F.max(oddq)).alias("dq"),
    )
    return h, cand


@register(
    "ransac_price_trend",
    tags=("bcast-const",),
    doc="deterministic RANSAC line fit (price vs quantity): K 2-point "
    "candidates scored for inlier support in ONE broadcast scan, exact "
    "cross-multiplied integer inlier test",
    oracle=_TWOPOINT_CTES
    + f"""
        , scored AS (
            SELECT c.cand_id, c.dp, c.dq,
                   CAST(SUM(CASE WHEN c.dq <> 0
                            AND abs(h.p*c.dq - c.p1*c.dq - c.dp*(h.q - c.q1))
                                <= {_RANSAC_TAU4}*abs(c.dq)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
            FROM cand c, h
            GROUP BY 1, 2, 3
        )
        SELECT cand_id,
               n_inliers,
               CASE WHEN dq <> 0
                    THEN CAST(FLOOR(1000000.0*dp/dq) AS BIGINT) END AS slope_micros,
               (ROW_NUMBER() OVER (ORDER BY n_inliers DESC, cand_id) = 1) AS is_best
        FROM scored
    """,
)
def ransac_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit of l_extendedprice against l_quantity, made
    deterministic and distributed: the "random" sample is the 16 rows that
    rank first by md5(orderkey#linenumber) — a fixed pseudo-random draw both
    engines reproduce — paired into 8 two-point candidate lines, and ALL
    candidates are scored for inlier support in ONE pass over the table (a
    broadcast of 8 candidate rows against the scan, conditional-sum per
    candidate). The inlier test |p·dq − p1·dq − dp·(q − q1)| ≤ τ·|dq| is the
    point-to-line residual cross-multiplied into pure int64 arithmetic — no
    division, no float, so the support counts are exact on both engines; a
    degenerate vertical candidate (dq = 0) scores 0 and reports a NULL
    slope. At 100 TB this is the RANSAC shape that works: more candidates
    widen the same single scan (the broadcast grows, the pass count does
    not), vs the textbook loop of one scan per hypothesis; OLS by contrast
    (``regression_price_by_qty``) is one shuffle but fully outlier-
    sensitive — this query is its robust twin."""
    h, cand = _twopoint_relations(spark, sf_dir)
    inlier = (F.col("dq") != 0) & (
        F.abs(
            F.col("p") * F.col("dq")
            - F.col("p1") * F.col("dq")
            - F.col("dp") * (F.col("q") - F.col("q1"))
        )
        <= F.lit(_RANSAC_TAU4) * F.abs(F.col("dq"))
    )
    scored = (
        h.crossJoin(F.broadcast(cand))
        .groupBy("cand_id", "dp", "dq")
        .agg(F.sum(F.when(inlier, 1).otherwise(0)).alias("n_inliers"))
    )
    return scored.select(
        "cand_id",
        "n_inliers",
        F.when(
            F.col("dq") != 0,
            F.floor(F.lit(1000000.0) * F.col("dp") / F.col("dq")),
        ).alias("slope_micros"),
        (
            F.row_number().over(Window.orderBy(F.desc("n_inliers"), "cand_id")) == 1
        ).alias("is_best"),
    )


#: Pinball quantile: τ = 9/10 (the P90 price-vs-quantity line). Kept as an
#: exact integer pair so every loss sum is ×10-scaled int64 arithmetic.
_QR_TAU10 = 9


@register(
    "quantile_regression_pinball",
    tags=("bcast-const",),
    doc="quantile regression (pinball/check loss, tau=0.9): the RANSAC "
    "candidate set re-scored under the exact x10-integer pinball loss in "
    "ONE broadcast scan — the P90 conditional-quantile line",
    oracle=_TWOPOINT_CTES
    + f"""
        , scored AS (
            SELECT c.cand_id, c.dp, c.dq,
                   SUM(CASE WHEN c.dq = 0 THEN NULL
                            WHEN e >= 0 THEN {_QR_TAU10} * e
                            ELSE -e END) AS pinball_x10
            FROM (
                SELECT c.cand_id, c.dp, c.dq,
                       (h.p*c.dq - c.p1*c.dq - c.dp*(h.q - c.q1))
                           * (CASE WHEN c.dq < 0 THEN -1 ELSE 1 END) AS e
                FROM cand c, h
            ) AS c
            GROUP BY 1, 2, 3
        )
        SELECT cand_id,
               CAST(pinball_x10 AS BIGINT) AS pinball_x10,
               CASE WHEN dq <> 0
                    THEN CAST(pinball_x10 AS DOUBLE) / CAST(10 * abs(dq) AS DOUBLE)
               END AS pinball_loss,
               CASE WHEN dq <> 0
                    THEN CAST(FLOOR(1000000.0*dp/dq) AS BIGINT) END AS slope_micros,
               (ROW_NUMBER() OVER (
                    ORDER BY CAST(pinball_x10 AS DOUBLE) / CAST(10 * abs(dq) AS DOUBLE)
                             ASC NULLS LAST, cand_id) = 1) AS is_best
        FROM scored
    """,
)
def quantile_regression_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile regression of l_extendedprice against l_quantity at
    τ = 0.9 — the P90 conditional-quantile line, the loss a pricing or
    SLA pipeline fits when the QUESTION is the tail, not the mean
    (``regression_price_by_qty`` = mean, ``theilsen_revenue_trend`` /
    ``ransac_price_trend`` = robust center; this is the third member:
    an asymmetric-loss fit).

    Same distributed shape as RANSAC — the deterministic md5-drawn 2-point
    candidate lines are re-SCORED, not re-sampled, under the pinball
    (check) loss ρ_τ(r) = τ·r⁺ + (1−τ)·r⁻, all candidates in ONE broadcast
    scan of the table. Exactness: the residual is cross-multiplied into
    int64 (e = residual·|dq| — the sign factor keeps e's sign equal to the
    residual's regardless of dq's), and with τ = 9/10 the per-row loss is
    the pure integer ``9e if e ≥ 0 else −e`` (×10-scaled), so per-candidate
    sums are exact on both engines. Cross-candidate comparison must undo
    the |dq| scaling — one correctly-rounded int64→double division per
    candidate (8 rows, registry rule 3) ranks the lines; degenerate
    vertical candidates (dq = 0) carry NULL losses and sort last on both
    engines (Spark ASC defaults nulls-first — made explicit). At 100 TB
    the candidate count widens the same single scan, exactly the RANSAC
    argument; a textbook iterated-IRLS quantile fit would be a scan per
    iteration with float accumulation on both."""
    h, cand = _twopoint_relations(spark, sf_dir)
    e = (
        F.col("p") * F.col("dq")
        - F.col("p1") * F.col("dq")
        - F.col("dp") * (F.col("q") - F.col("q1"))
    ) * F.when(F.col("dq") < 0, F.lit(-1)).otherwise(F.lit(1))
    loss = F.when(F.col("dq") == 0, F.lit(None)).otherwise(
        F.when(e >= 0, F.lit(_QR_TAU10) * e).otherwise(-e)
    )
    scored = (
        h.crossJoin(F.broadcast(cand))
        .groupBy("cand_id", "dp", "dq")
        .agg(F.sum(loss).alias("pinball_x10"))
    )
    per_unit = F.when(
        F.col("dq") != 0,
        F.col("pinball_x10").cast("double")
        / (F.lit(10) * F.abs(F.col("dq"))).cast("double"),
    )
    return scored.select(
        "cand_id",
        F.col("pinball_x10").cast("bigint").alias("pinball_x10"),
        per_unit.alias("pinball_loss"),
        F.when(
            F.col("dq") != 0,
            F.floor(F.lit(1000000.0) * F.col("dp") / F.col("dq")),
        ).alias("slope_micros"),
        (
            F.row_number().over(
                Window.orderBy(per_unit.asc_nulls_last(), "cand_id")
            )
            == 1
        ).alias("is_best"),
    )


#: Conformal split fractions come from the md5 draw's first hex digit:
#: '0'-'7' train (~1/2), '8'-'b' calibration (~1/4), 'c'-'f' test (~1/4).
#: Histogram selection bins calibration scores at $100 per bucket.
_CONF_BIN = 100.0
_CONF_ALPHA10 = 9  # 1 - alpha = 9/10: the 90% interval


@register(
    "conformal_price_interval",
    tags=("bcast-const",),
    doc="split-conformal prediction interval for the price-vs-quantity OLS "
    "fit: exact distributed order-statistic of calibration residuals "
    "(histogram selection, no global sort) -> qhat, with measured test "
    "coverage in the same row",
    oracle=f"""
        WITH b AS (
            SELECT CAST(l_quantity AS BIGINT) AS x,
                   CAST(l_extendedprice AS DECIMAL(18,4)) AS y,
                   substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                              CAST(l_linenumber AS VARCHAR)), 1, 1) AS c
            FROM lineitem
        ), m AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   {_D.format("SUM(x)")} AS sx,
                   {_D.format("SUM(y)")} AS sy,
                   {_D.format("SUM(x * CAST(y AS DECIMAL(19,4)))")} AS sxy,
                   {_D.format("SUM(x * x)")} AS sxx
            FROM b WHERE c BETWEEN '0' AND '7'
        ), fit AS (
            SELECT n,
                   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
                   (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
            FROM m
        ), cal AS (
            SELECT ABS(CAST(y AS DOUBLE) - (f.intercept + f.slope * CAST(x AS DOUBLE))) AS s
            FROM b, fit f WHERE c BETWEEN '8' AND 'b'
        ), nc AS (
            SELECT COUNT(*) AS n_cal,
                   ({_CONF_ALPHA10} * (COUNT(*) + 1) + 9) // 10 AS k
            FROM cal
        ), qh AS (
            SELECT s AS qhat FROM (
                SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM cal
            ), nc WHERE rn = nc.k
        ), tst AS (
            SELECT ABS(CAST(y AS DOUBLE) - (f.intercept + f.slope * CAST(x AS DOUBLE))) AS s
            FROM b, fit f WHERE c > 'b'
        ), cov AS (
            SELECT COUNT(*) AS n_test,
                   SUM(CASE WHEN t.s <= qh.qhat THEN 1 ELSE 0 END) AS n_in
            FROM tst t, qh
        )
        SELECT CAST(fit.n AS BIGINT) AS n_train,
               CAST(nc.n_cal AS BIGINT) AS n_cal,
               CAST(cov.n_test AS BIGINT) AS n_test,
               CAST(nc.k AS BIGINT) AS k_rank,
               qh.qhat AS qhat,
               CAST(cov.n_in AS DOUBLE) / cov.n_test AS coverage
        FROM fit, nc, qh, cov
    """,
)
def conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Papadopoulos et al. 2002; Vovk's
    inductive conformal) around the price-vs-quantity OLS fit — the
    distribution-free uncertainty wrapper a production model serves WITH
    its predictions: train on a deterministic md5 half, take the
    ⌈(n_cal+1)·0.9⌉-th smallest absolute residual on a disjoint calibration
    quarter as ``qhat``, and the interval ŷ ± qhat carries a finite-sample
    ≥90% coverage guarantee with NO distributional assumption. The same
    row reports the interval's MEASURED coverage on the held-out test
    quarter, so the guarantee is checked, not cited.

    Scale shape — the interesting part is the calibration quantile, which
    must be EXACT (conformal validity is an exact-order-statistic
    property; an approx-quantile would void the guarantee): rather than a
    global sort, the k-th order statistic uses the two-pass histogram
    selection of ``exact_median_two_pass`` — bin the scores ($100
    buckets, one map-side-combining aggregation), locate the bucket
    holding rank k from the bin relation's running sum, then rank ONLY
    that bucket's rows. The OLS fit is the exact-moment-sums single
    aggregation of ``regression_price_by_qty``; every join is a broadcast
    1-row aggregate. Determinism: the split is an md5 hex digit; slope /
    intercept / scores are fixed double chains over exact sums (ties at
    rank k share the same VALUE, so qhat is well-defined under any tie
    order); the oracle computes the same order statistic the honest way
    (global sort ROW_NUMBER)."""
    li = t(spark, sf_dir, "lineitem")
    b = li.select(
        qty("l_quantity").alias("x"),
        money("l_extendedprice").alias("y"),
        F.substring(
            F.md5(
                F.concat_ws(
                    "#",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            1,
        ).alias("c"),
    )
    tr = b.filter(F.col("c").between("0", "7"))
    m = tr.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        dec2(F.sum("y")).alias("sy"),
        dec2(F.sum(F.col("x") * F.col("y").cast("decimal(19,4)"))).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = m.select(
        "n", slope.alias("slope"), ((sy - slope * sx) / n).alias("intercept")
    )

    def scores(df: DataFrame) -> DataFrame:
        return df.crossJoin(F.broadcast(fit.select("slope", "intercept"))).select(
            F.abs(
                F.col("y").cast("double")
                - (F.col("intercept") + F.col("slope") * F.col("x").cast("double"))
            ).alias("s")
        )

    cal = scores(b.filter(F.col("c").between("8", "b"))).withColumn(
        "bin", F.floor(F.col("s") / _CONF_BIN).cast("bigint")
    )
    nc = cal.agg(F.count("*").alias("n_cal")).select(
        "n_cal",
        F.expr(f"({_CONF_ALPHA10} * (n_cal + 1) + 9) div 10").alias("k"),
    )
    bins = (
        cal.groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("prev_cum", F.col("cum") - F.col("cnt"))
    )
    hit = bins.crossJoin(F.broadcast(nc)).filter(
        (F.col("prev_cum") < F.col("k")) & (F.col("k") <= F.col("cum"))
    )
    qh = (
        cal.join(F.broadcast(hit.select("bin", "prev_cum", "k")), "bin")
        .withColumn(
            "grank",
            F.col("prev_cum")
            + F.row_number().over(Window.partitionBy("bin").orderBy("s")),
        )
        .filter(F.col("grank") == F.col("k"))
        .select(F.col("s").alias("qhat"))
    )
    cov = (
        scores(b.filter(F.col("c") > "b"))
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count("*").alias("n_test"),
            F.sum(F.when(F.col("s") <= F.col("qhat"), 1).otherwise(0)).alias("n_in"),
            F.first("qhat").alias("qhat"),
        )
    )
    return (
        fit.select(F.col("n").cast("bigint").alias("n_train"))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_train",
            F.col("n_cal").cast("bigint").alias("n_cal"),
            F.col("n_test").cast("bigint").alias("n_test"),
            F.col("k").cast("bigint").alias("k_rank"),
            "qhat",
            (F.col("n_in").cast("double") / F.col("n_test")).alias("coverage"),
        )
    )


@register(
    "isotonic_calibration",
    tags=("bcast-const",),
    doc="isotonic (PAVA) calibration of the quality classifier's bin rates "
    "via the exact minimax formula max_{j<=i} min_{k>=i} rate(j..k) over "
    "the <=10-row calibration-bin relation — monotone probabilities from "
    "raw bin outcome rates",
    oracle=_logreg_train_ctes()
    + f"""
        , scored AS (
            SELECT y,
                   CAST(ROUND(
                       ROUND(1 / (1 + EXP(-ROUND(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 9)
                       * 1e9) AS BIGINT) AS p_nano
            FROM feat CROSS JOIN wt{_LR_ROUNDS} w
        ), binned AS (
            SELECT CAST(GREATEST(LEAST(9 - LENGTH(CAST(p_nano AS VARCHAR)), 9), 0) AS INT)
                       AS bin,
                   y
            FROM scored
        ), per_bin AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk, CAST(SUM(y) AS BIGINT) AS syk
            FROM binned GROUP BY bin
        ), b AS (
            -- score-ASCENDING order: the digit-count bin index DECREASES
            -- with score, so isotonic position i orders by bin DESC
            SELECT bin, nk, syk,
                   ROW_NUMBER() OVER (ORDER BY bin DESC) AS i,
                   SUM(syk) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS sy_cum,
                   SUM(nk) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS sn_cum
            FROM per_bin
        ), inner_min AS (
            SELECT a.i, j.i AS ji,
                   MIN(CAST(k.sy_cum - (j.sy_cum - j.syk) AS DOUBLE)
                       / CAST(k.sn_cum - (j.sn_cum - j.nk) AS DOUBLE)) AS r
            FROM b a
            JOIN b j ON j.i <= a.i
            JOIN b k ON k.i >= a.i
            GROUP BY a.i, j.i
        )
        SELECT b.bin, b.nk AS n,
               CAST(b.syk AS DOUBLE) / b.nk AS raw_rate,
               mx.iso_rate
        FROM b JOIN (
            SELECT i, MAX(r) AS iso_rate FROM inner_min GROUP BY i
        ) mx ON mx.i = b.i
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration of the quality classifier — the
    standard non-parametric recalibration step (Zadrozny & Elkan 2002)
    that turns the per-bin empirical outcome rates into the best MONOTONE
    probability map: where raw bin rates invert (a higher-score bin with a
    lower positive rate — exactly the inversions
    ``quality_brier_decomposition``'s reliability term charges for), PAVA
    pools adjacent violators into weighted averages. Computed here not by
    the sequential pool loop but by isotonic regression's closed minimax
    form ŷ_i = max_{j≤i} min_{k≥i} (Σy_{j..k} / Σn_{j..k}) — provably the
    PAVA fixed point, and a pure relational expression.

    Scale shape: the corpus is read once into the same ≤10-row calibration
    bin relation the Brier query uses; the minimax triple join runs
    entirely on that model-sized relation (≤1000 combinations — the
    inequality joins are nested-loop over ≤10-row broadcasts, the
    bcast-const pattern, NOT a data-sized pair scan). Exactness: range
    rates are single correctly-rounded divisions of exact integer prefix
    sums (registry rule 3), and min/max over identical double sets select
    identical values on both engines."""
    feat = _logreg_feat(spark, sf_dir)
    w = _logreg_fit(feat)[-1]
    p_nano = F.round(_logreg_p(w) * F.lit(1e9)).cast("bigint")
    bin_col = F.greatest(
        F.least(F.lit(9) - F.length(p_nano.cast("string")), F.lit(9)), F.lit(0)
    ).cast("int")
    per_bin = (
        feat.select(F.col("y").cast("bigint").alias("y"), bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("nk"), F.sum("y").alias("syk"))
    )
    wd = Window.orderBy(F.col("bin").desc())
    run = wd.rowsBetween(Window.unboundedPreceding, 0)
    b = per_bin.select(
        "bin",
        "nk",
        "syk",
        F.row_number().over(wd).alias("i"),
        F.sum("syk").over(run).alias("sy_cum"),
        F.sum("nk").over(run).alias("sn_cum"),
    )
    a_r = b.select(F.col("i").alias("ai"))
    j_r = b.select(
        F.col("i").alias("ji"),
        (F.col("sy_cum") - F.col("syk")).alias("sy_prev"),
        (F.col("sn_cum") - F.col("nk")).alias("sn_prev"),
    )
    k_r = b.select(
        F.col("i").alias("ki"),
        F.col("sy_cum").alias("sy_k"),
        F.col("sn_cum").alias("sn_k"),
    )
    rate = (F.col("sy_k") - F.col("sy_prev")).cast("double") / (
        F.col("sn_k") - F.col("sn_prev")
    ).cast("double")
    inner = (
        a_r.join(F.broadcast(j_r), F.col("ji") <= F.col("ai"))
        .join(F.broadcast(k_r), F.col("ki") >= F.col("ai"))
        .groupBy("ai", "ji")
        .agg(F.min(rate).alias("r"))
    )
    mx = inner.groupBy("ai").agg(F.max("r").alias("iso_rate"))
    return b.join(F.broadcast(mx), b["i"] == mx["ai"]).select(
        "bin",
        F.col("nk").alias("n"),
        (F.col("syk").cast("double") / F.col("nk")).alias("raw_rate"),
        "iso_rate",
    )


@register(
    "quality_brier_decomposition",
    tags=("bcast-const",),
    doc="forecast verification for the quality classifier: Brier score + "
    "Murphy decomposition (reliability / resolution / uncertainty) over "
    "the digit-count calibration bins, every sum an exact integer",
    oracle=_logreg_train_ctes()
    + f"""
        , scored AS (
            SELECT y,
                   CAST(ROUND(
                       ROUND(1 / (1 + EXP(-ROUND(w.w0 + w.w1 * x1 + w.w2 * x2, 9))), 9)
                       * 1e9) AS BIGINT) AS p_nano
            FROM feat CROSS JOIN wt{_LR_ROUNDS} w
        ), binned AS (
            SELECT CAST(GREATEST(LEAST(9 - LENGTH(CAST(p_nano AS VARCHAR)), 9), 0) AS INT)
                       AS bin,
                   y, p_nano
            FROM scored
        ), per_bin AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS nk,
                   CAST(SUM(y) AS BIGINT) AS syk,
                   CAST(SUM(p_nano) AS BIGINT) AS spk
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(syk) AS BIGINT) AS sy
            FROM per_bin
        ), gl AS (
            SELECT CAST(FLOOR(CAST(sy AS DOUBLE) * 1e9 / n) AS BIGINT) AS ybar FROM tot
        ), qb AS (
            SELECT nk,
                   CAST(FLOOR(CAST(spk AS DOUBLE) / nk) AS BIGINT) AS pbk,
                   CAST(FLOOR(CAST(syk AS DOUBLE) * 1e9 / nk) AS BIGINT) AS ybk
            FROM per_bin
        ), sums AS (
            SELECT SUM(CAST(nk AS HUGEINT) * (pbk - ybk) * (pbk - ybk)) AS rel_num,
                   SUM(CAST(nk AS HUGEINT) * (ybk - gl.ybar) * (ybk - gl.ybar)) AS res_num
            FROM qb CROSS JOIN gl
        ), br AS (
            SELECT SUM(CAST(p_nano - y * 1000000000 AS HUGEINT)
                       * (p_nano - y * 1000000000)) AS sb
            FROM scored
        )
        SELECT n AS n_docs,
               CAST(CAST(sb AS VARCHAR) AS DOUBLE) / 1e18 / n AS brier,
               CAST(CAST(rel_num AS VARCHAR) AS DOUBLE) / 1e18 / n AS reliability,
               CAST(CAST(res_num AS VARCHAR) AS DOUBLE) / 1e18 / n AS resolution,
               (CAST(sy AS DOUBLE) / n) * (1.0 - CAST(sy AS DOUBLE) / n) AS uncertainty
        FROM tot CROSS JOIN gl CROSS JOIN sums CROSS JOIN br
    """,
)
def quality_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verification statistic that closes the classifier loop (train →
    apply → calibrate → VERIFY): overall Brier score of the quality
    classifier's nano-quantized predictions plus the Murphy decomposition
    over the same digit-count bins ``logreg_quality_score_bins`` reports —
    reliability (calibration error mass, lower is better), resolution (how
    far bin outcome rates move from the base rate, higher is better), and
    uncertainty (the base-rate entropy term ȳ(1−ȳ) no forecaster can
    change). Bin means are floor-quantized to exact nano-unit integers, so
    every Σ n_k(·)² term is an exact integer product (DECIMAL(38,0) /
    HUGEINT — bin-count × 1e18 exceeds int64) and the per-row Brier sum is
    the exact Σ(p_nano − y·10⁹)²; the only doubles are final ratios of
    those exact sums, the identical expression tree on both engines. Scale
    shape: one map-only scoring pass feeding a ≤10-key aggregation plus a
    1-row exact Brier fold — the decomposition itself runs on the ≤10-row
    bin relation with 1-row broadcasts, so the corpus is read ONCE and
    nothing downstream scales with it."""
    feat = _logreg_feat(spark, sf_dir)
    w = _logreg_fit(feat)[-1]
    p_nano = F.round(_logreg_p(w) * F.lit(1e9)).cast("bigint")
    bin_col = F.greatest(
        F.least(F.lit(9) - F.length(p_nano.cast("string")), F.lit(9)), F.lit(0)
    ).cast("int")
    base = feat.select(
        F.col("y").cast("bigint").alias("y"),
        p_nano.alias("p_nano"),
        bin_col.alias("bin"),
    )
    per_bin = base.groupBy("bin").agg(
        F.count("*").alias("nk"),
        F.sum("y").alias("syk"),
        F.sum("p_nano").alias("spk"),
    )
    tot = per_bin.agg(F.sum("nk").alias("n"), F.sum("syk").alias("sy"))
    gl = tot.select(
        F.floor(F.col("sy").cast("double") * F.lit(1e9) / F.col("n")).alias("ybar")
    )
    qb = per_bin.select(
        "nk",
        F.floor(F.col("spk").cast("double") / F.col("nk")).alias("pbk"),
        F.floor(F.col("syk").cast("double") * F.lit(1e9) / F.col("nk")).alias("ybk"),
    )
    d_rel = (F.col("pbk") - F.col("ybk")).cast("decimal(38,0)")
    d_res = (F.col("ybk") - F.col("ybar")).cast("decimal(38,0)")
    sums = (
        qb.crossJoin(F.broadcast(gl))
        .agg(
            F.sum(F.col("nk").cast("decimal(38,0)") * d_rel * d_rel).alias("rel_num"),
            F.sum(F.col("nk").cast("decimal(38,0)") * d_res * d_res).alias("res_num"),
        )
    )
    d_br = (F.col("p_nano") - F.col("y") * F.lit(1000000000)).cast("decimal(38,0)")
    br = base.agg(F.sum(d_br * d_br).alias("sb"))
    nD = F.col("n")
    return (
        tot.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(br))
        .select(
            F.col("n").alias("n_docs"),
            (F.col("sb").cast("double") / F.lit(1e18) / nD).alias("brier"),
            (F.col("rel_num").cast("double") / F.lit(1e18) / nD).alias("reliability"),
            (F.col("res_num").cast("double") / F.lit(1e18) / nD).alias("resolution"),
            (
                (F.col("sy").cast("double") / nD)
                * (F.lit(1.0) - F.col("sy").cast("double") / nD)
            ).alias("uncertainty"),
        )
    )
