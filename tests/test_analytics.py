"""Unit tests for the statistical-analytics family (plans/analytics.py) and
the round-3 additions to dedup/sketches: group-wise OLS, Markov transitions,
incremental rollup maintenance, z-score anomalies, edit-distance fuzzy join,
and Count-Min heavy hitters. Oracle parity is covered by the registry gate;
these tests pin the *algebraic contracts* on constructed inputs where the
expected answer is known in closed form."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from songs_etl_spark.plans.analytics import (
    anomaly_zscore_events,
    events_markov_transitions,
    incremental_daily_rollup,
    regression_price_by_qty,
)
from songs_etl_spark.plans.dedup import dedup_editdistance
from songs_etl_spark.plans.sketches import countmin_sketch, heavy_hitters_countmin

SF_DIR = "/root/testdata/sf0.001"


# --- regression -------------------------------------------------------------


def test_regression_exact_line(spark, tmp_path):
    """Points exactly on y = 3x + 7 recover slope=3, intercept=7, r2=1."""
    d = str(tmp_path / "li")
    rows = [("A", float(x), float(3 * x + 7)) for x in range(1, 21)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    ).write.parquet(d + "/lineitem.parquet")
    out = {
        r["l_returnflag"]: r
        for r in regression_price_by_qty(spark, d).collect()
    }
    a = out["A"]
    assert a["n"] == 20
    assert a["slope"] == pytest.approx(3.0, abs=1e-12)
    assert a["intercept"] == pytest.approx(7.0, abs=1e-9)
    assert a["r2"] == pytest.approx(1.0, abs=1e-12)


def test_regression_matches_numpy(spark):
    """On the real table, slope/intercept agree with numpy's lstsq."""
    import numpy as np

    out = {r["l_returnflag"]: r for r in regression_price_by_qty(spark, SF_DIR).collect()}
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    for flag, g in li.groupby("l_returnflag"):
        coef = np.polyfit(g["l_quantity"], g["l_extendedprice"], 1)
        assert out[flag]["slope"] == pytest.approx(coef[0], rel=1e-9)
        assert out[flag]["intercept"] == pytest.approx(coef[1], rel=1e-9)


# --- markov -----------------------------------------------------------------


def test_markov_rows_are_distributions(spark):
    """Outgoing probabilities sum to 1 per from_type; counts conserve the
    total number of consecutive pairs."""
    out = events_markov_transitions(spark, SF_DIR)
    sums = out.groupBy("from_type").agg(F.sum("p").alias("s"), F.sum("n_trans").alias("n"))
    for r in sums.collect():
        assert r["s"] == pytest.approx(1.0, abs=1e-12)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_users = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id").distinct().count()
    )
    total_pairs = out.agg(F.sum("n_trans")).collect()[0][0]
    assert total_pairs == n_events - n_users  # each user chain has len-1 pairs


# --- incremental rollup -----------------------------------------------------


def test_incremental_rollup_equals_full_recompute(spark):
    """merge(base, delta) is row-for-row identical to the full aggregate."""
    inc = incremental_daily_rollup(spark, SF_DIR)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    full = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


# --- z-score anomalies ------------------------------------------------------


def test_zscore_flags_planted_outlier(spark, tmp_path):
    """A value 100σ out is flagged; the tight cluster is not."""
    d = str(tmp_path / "ev")
    rows = [(i, f"2024-01-0{1 + i % 9} 00:00:00", 1, "click", 10.0 + (i % 3), "{}") for i in range(50)]
    rows.append((99, "2024-01-09 00:00:00", 2, "click", 5000.0, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(d + "/events.parquet")
    out = anomaly_zscore_events(spark, d).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 3


# --- edit-distance fuzzy join ----------------------------------------------


def test_editdistance_finds_typo_pair_across_buckets(spark, tmp_path):
    """A one-char typo pair is found even when the edit pushes the docs into
    adjacent length buckets; an unrelated doc pairs with neither."""
    d = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog again and again ok"  # 63 chars
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base + " x", "en", "web", len(base) + 2),  # crosses a //8 bucket edge
        (3, "a completely different document about database systems", "en", "web", 54),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")
    pairs = dedup_editdistance(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["dist"] <= 2


def test_editdistance_lang_partitioned(spark, tmp_path):
    """Identical texts in different langs never pair (candidate key includes
    lang)."""
    d = str(tmp_path / "docs2")
    rows = [(1, "same text here", "en", "web", 14), (2, "same text here", "fr", "web", 14)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")
    assert dedup_editdistance(spark, d).count() == 0


# --- count-min sketch -------------------------------------------------------


def test_countmin_never_underestimates(spark):
    """CMS point queries are one-sided: estimate ≥ exact for EVERY token,
    not just the top-k the registry query emits."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    from songs_etl_spark.functions.text import tokens

    tok = docs.select(F.explode(tokens("text")).alias("token"))
    cms = countmin_sketch(tok)
    cnt = tok.groupBy("token").agg(F.count("*").alias("exact"))
    from songs_etl_spark.plans.sketches import _CMS_D, _cms_bucket

    probes = cnt.select(
        "token",
        "exact",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seed"), _cms_bucket(F.col("token"), s))
                for s in range(_CMS_D)
            ])
        ).alias("cell"),
    ).select("token", "exact", "cell.seed", "cell.bucket")
    est = (
        cms.join(probes, ["seed", "bucket"])
        .groupBy("token", "exact")
        .agg(F.min("bucket_count").alias("est"))
    )
    assert est.where(F.col("est") < F.col("exact")).count() == 0


def test_countmin_registry_bound_holds(spark):
    out = heavy_hitters_countmin(spark, SF_DIR).collect()
    assert len(out) == 20
    assert all(r["within_bound"] for r in out)


# --- market-basket pairs ----------------------------------------------------


def test_copurchase_pairs_bounded_and_ordered(spark, tmp_path):
    """Pairs are emitted once with part_a < part_b; duplicate lineitems for
    the same (order, part) count the pair once."""
    from songs_etl_spark.plans.analytics import copurchase_frequent_pairs

    d = str(tmp_path / "li2")
    rows = []
    for ok in range(4):  # 4 orders each containing parts 1,2 (and a dup line)
        rows += [(ok, 1), (ok, 2), (ok, 2)]
    rows += [(99, 3)]  # singleton order contributes no pair
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        d + "/lineitem.parquet"
    )
    out = copurchase_frequent_pairs(spark, d).collect()
    assert [(r["part_a"], r["part_b"], r["support"]) for r in out] == [(1, 2, 4)]


# --- Welch t-test -----------------------------------------------------------


def test_welch_t_matches_closed_form(spark):
    """t statistic agrees with a NumPy recomputation on the real table."""
    import numpy as np
    from songs_etl_spark.plans.analytics import ab_test_welch_t

    out = {r["event_type"]: r for r in ab_test_welch_t(spark, SF_DIR).collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").toPandas()
    for etype, g in ev.groupby("event_type"):
        a = g[g.user_id % 2 == 0]["value"].to_numpy()
        b = g[g.user_id % 2 == 1]["value"].to_numpy()
        t = (a.mean() - b.mean()) / math.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
        assert out[etype]["t_stat"] == pytest.approx(t, rel=1e-9)
        assert out[etype]["n_a"] == len(a) and out[etype]["n_b"] == len(b)


# --- rank-family windows ----------------------------------------------------


def test_percentile_ranks_contract(spark):
    """percent_rank spans [0, 1], cume_dist is (rank position)/n, deciles
    partition each segment into 10 near-equal buckets."""
    from songs_etl_spark.plans.analytics import order_percentile_ranks

    out = order_percentile_ranks(spark, SF_DIR)
    agg = out.groupBy("c_mktsegment").agg(
        F.min("pr").alias("mn"), F.max("pr").alias("mx"),
        F.count("*").alias("n"), F.count_distinct("decile").alias("nd"),
    ).collect()
    for r in agg:
        assert r["mn"] == 0.0 and r["mx"] == 1.0 and r["nd"] == 10
    sizes = out.groupBy("c_mktsegment", "decile").count().groupBy("c_mktsegment").agg(
        (F.max("count") - F.min("count")).alias("spread")
    ).collect()
    assert all(r["spread"] <= 1 for r in sizes)  # ntile bucket sizes differ by ≤1


# --- PMI --------------------------------------------------------------------


def test_pmi_sign_on_constructed_corpus(spark, tmp_path):
    """Tokens that always co-occur get positive PMI; tokens that never meet
    in excess of chance get non-positive PMI."""
    from songs_etl_spark.plans.text import token_pmi_top_pairs

    d = str(tmp_path / "docs3")
    rows = []
    # 10 docs "alpha beta", 10 docs "alpha gamma", 10 docs "beta gamma"...
    for i in range(10):
        rows.append((i, "alpha beta", "en", "web", 10))
        rows.append((100 + i, "gamma delta", "en", "web", 11))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")
    out = {(r["token_a"], r["token_b"]): r for r in token_pmi_top_pairs(spark, d).collect()}
    # alpha+beta co-occur in all their docs: PMI = ln(10*20/(10*10)) = ln 2
    assert out[("alpha", "beta")]["pmi"] == pytest.approx(math.log(2), abs=1e-6)
    assert ("alpha", "gamma") not in out  # never co-occur → no pair row


# --- cohort retention -------------------------------------------------------


def test_cohort_day_zero_is_full(spark):
    """Every cohort is 100% retained at day offset 0 (a user is active on
    their own first-activity day by definition)."""
    from songs_etl_spark.plans.analytics import cohort_retention

    out = cohort_retention(spark, SF_DIR)
    day0 = out.where(F.col("day_offset") == 0).collect()
    assert day0 and all(r["retention"] == 1.0 and r["n_active"] == r["cohort_size"] for r in day0)
    assert out.where(F.col("day_offset") < 0).count() == 0


# --- debounce ---------------------------------------------------------------


def test_debounce_suppresses_rapid_repeats(spark, tmp_path):
    """Events of the same (user, type) within 5 minutes of the previous raw
    event are dropped; a different type interleaved is untouched."""
    from songs_etl_spark.plans.analytics import event_debounce

    d = str(tmp_path / "ev2")
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:02:00", 1, "click", 1.0, "{}"),  # <5min after 1 → dropped
        (3, "2024-01-01 10:04:00", 1, "click", 1.0, "{}"),  # <5min after raw 2 → dropped
        (4, "2024-01-01 10:03:00", 1, "view", 1.0, "{}"),   # other type → kept
        (5, "2024-01-01 10:30:00", 1, "click", 1.0, "{}"),  # past horizon → kept
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(d + "/events.parquet")
    kept = sorted(r["event_id"] for r in event_debounce(spark, d).collect())
    assert kept == [1, 4, 5]


# --- snapshot diff ----------------------------------------------------------


def test_snapshot_diff_classifies_all_three_kinds(spark):
    """The derived second snapshot produces inserts, deletes and updates, and
    an unchanged key never appears."""
    from songs_etl_spark.plans.analytics import snapshot_diff_customer

    out = snapshot_diff_customer(spark, SF_DIR)
    kinds = {r["change_type"]: r["cnt"] for r in out.groupBy("change_type").agg(F.count("*").alias("cnt")).collect()}
    assert set(kinds) == {"insert", "delete", "update"}
    # key 1 is untouched by every perturbation rule (1%50, 1%97, 1%10 all nonzero)
    assert out.where(F.col("c_custkey") == 1).count() == 0


# --- bigram LM --------------------------------------------------------------


def test_bigram_logprob_closed_form(spark, tmp_path):
    """A two-doc corpus with known counts reproduces the smoothed bigram
    probability exactly."""
    from songs_etl_spark.plans.text import doc_bigram_logprob

    d = str(tmp_path / "docs4")
    rows = [(1, "a b", "en", "web", 3), (2, "a b", "en", "web", 3), (3, "a c", "en", "web", 3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in doc_bigram_logprob(spark, d).collect()}
    # vocab {a,b,c} V=3, c(a)=3; doc1 bigram "a b": c12=2 → ln((2+1)/(3+3))
    assert out[1]["mean_logprob"] == pytest.approx(round(math.log(3 / 6), 6), abs=1e-9)
    assert out[3]["mean_logprob"] == pytest.approx(round(math.log(2 / 6), 6), abs=1e-9)
    assert out[1]["n_bigrams"] == 1


# --- Theil-Sen on degenerate input -------------------------------------------


def test_theilsen_single_order_date_is_null_trend(spark, tmp_path):
    """One distinct order date leaves no day pairs: the query returns the
    DuckDB oracle's null-median row (n_pairs 0, NULL slope and intercept)
    instead of raising on its NULL slope bounds."""
    import duckdb

    from songs_etl_spark.plans.analytics import theilsen_revenue_trend
    from songs_etl_spark.plans.registry import REGISTRY

    d = str(tmp_path / "one_day")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumn(
        "o_orderdate", F.lit("1995-06-17 00:00:00").cast("timestamp")
    ).write.parquet(d + "/orders.parquet")
    got = [tuple(r) for r in theilsen_revenue_trend(spark, d).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet/*.parquet'"
    )
    want = con.execute(REGISTRY["theilsen_revenue_trend"].oracle).fetchall()
    assert got == [(1, 0, None, None)] == [tuple(r) for r in want]
