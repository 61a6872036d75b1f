"""Correlated-subquery query surface — the decorrelation family (TPC-H
Q17/Q21/Q22 shapes) the reference's star schema needs for real analytics.

The reference never writes a subquery (its five SQL strings are ``SELECT *``,
SURVEY.md §4), but any warehouse on its schema does. Spark has no correlated
execution: every correlated predicate here is expressed as its decorrelated
plan — a per-key aggregate joined back, a semi/anti join, or a broadcast
scalar — which is exactly what Catalyst rewrites the SQL form into, stated
explicitly so the join strategy and shuffle keys are visible and tunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from songs_etl_spark.plans._util import dec2, fmt_date, money, qty, t, track_persist, ts_lit
from songs_etl_spark.plans.registry import register


@register(
    "small_quantity_order_revenue",
    doc="correlated scalar subquery per group key (TPC-H Q17 shape): qty < 0.2*avg(qty per part)",
    oracle="""
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ('Brand#11', 'Brand#12')
          AND l.l_quantity < (
              SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*))
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
          )
    """,
)
def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated avg-per-part threshold decorrelated into a grouped
    aggregate joined back to lineitem on l_partkey. The per-part aggregate is
    |part|-sized (small relative to lineitem), so it broadcasts; lineitem is
    never shuffled. The avg is computed as exact-int-sum / count → one double
    division, bit-identical across engines."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand").isin("Brand#11", "Brand#12"))
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(qty("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dec2(F.sum(money("l_extendedprice"))).alias("total_price"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "suppliers_who_kept_waiting",
    doc="EXISTS + NOT EXISTS double correlation (TPC-H Q21 shape): sole late supplier on multi-supplier orders",
    oracle="""
        WITH late AS (
            SELECT DISTINCT l.l_suppkey, l.l_orderkey
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        SELECT s.s_name, COUNT(*) AS numwait
        FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
    """,
)
def suppliers_who_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21's double correlation as one semi join (some other supplier shipped
    on the order) and one anti join (no other supplier shipped late), both
    equi on l_orderkey with the supplier inequality as a residual predicate —
    the shuffles stay keyed on orderkey, so the plan scales with the fact
    table, and the late set is computed once and reused for both the probe
    and the anti side."""
    li = t(spark, sf_dir, "lineitem")
    orders_f = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    other_lines = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    sole_late = (
        late.join(
            other_lines,
            (late.l_orderkey == other_lines.ok2) & (late.l_suppkey != other_lines.sk2),
            "left_semi",
        )
        .join(
            other_late,
            (late.l_orderkey == F.col("ok3")) & (late.l_suppkey != F.col("sk3")),
            "left_anti",
        )
    )
    supplier = t(spark, sf_dir, "supplier")
    return (
        sole_late.join(F.broadcast(supplier), sole_late.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "important_part_stock",
    tags=("bcast-const",),
    doc="scalar-subquery share filter (TPC-H Q11 shape): groups above a fraction of the global total",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                       * CAST(l_quantity AS DECIMAL(18,4))) AS val
            FROM lineitem GROUP BY l_partkey
        ),
        total AS (SELECT SUM(val) AS tot FROM per_part)
        SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
        FROM per_part, total
        WHERE CAST(val AS DOUBLE) > CAST(tot AS DOUBLE) * 0.0008
    """,
)
def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's HAVING-against-global-scalar: one grouped aggregate, then the
    grand total derived by RE-AGGREGATING the per-group result (|part| rows)
    rather than rescanning lineitem — the input is read once; the 1-row total
    joins back as a broadcast. Exact decimal sums on both levels, compared in
    double on both engines."""
    li = t(spark, sf_dir, "lineitem")
    per_part = track_persist(
        li.groupBy("l_partkey").agg(F.sum(money("l_extendedprice") * money("l_quantity")).alias("val"))
    )
    total = per_part.agg(F.sum("val").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("tot").cast("double") * 0.0008)
        .select("l_partkey", F.col("val").cast("double").alias("part_value"))
    )


@register(
    "top_revenue_supplier",
    doc="scalar MAX over a derived aggregate (TPC-H Q15 shape): argmax via window, no second scan",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
        FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15's view + scalar-max, decorrelated without a global window: the
    scalar ``MAX(total_rev)`` is a 1-row aggregate over the (computed-once)
    revenue view, broadcast-joined back as an equality filter. Unlike the
    ``Window.partitionBy()`` rewrite, nothing moves to a single partition —
    the per-supplier aggregate stays distributed and the max costs one
    all-to-one partial/final agg of one decimal column. Ties all surface,
    exactly like the SQL '=' form; exact decimal revenue makes the max
    comparison safe."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= ts_lit("1996-01-01"))
        & (F.col("l_shipdate") < ts_lit("1996-04-01"))
    )
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount"))).alias("total_rev")
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    best = revenue.join(
        F.broadcast(max_rev), revenue.total_rev == max_rev.max_rev
    ).drop("max_rev")
    s = t(spark, sf_dir, "supplier")
    return best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
    )


@register(
    "large_quantity_orders",
    doc="IN over an aggregated subquery (TPC-H Q18 shape): semi join on a HAVING result",
    oracle="""
        SELECT c.c_name, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS totalprice,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
        )
        GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18's IN-subquery: the aggregated HAVING result (few qualifying
    orderkeys) becomes a left-semi join probe — and because it's small by
    construction, it broadcasts, so the big lineitem join sees no extra
    shuffle from the filter."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty("l_quantity")).alias("sq"))
        .filter(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    qualifying = o.join(
        F.broadcast(big), o.o_orderkey == big.big_orderkey, "left_semi"
    )
    return (
        qualifying.join(li, qualifying.o_orderkey == li.l_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty("l_quantity")).alias("sum_qty"))
        .select(
            "c_name",
            "o_orderkey",
            fmt_date("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
    )


@register(
    "rich_inactive_customers",
    tags=("bcast-const",),
    doc="scalar subquery (global threshold) + NOT EXISTS anti join (TPC-H Q22 shape)",
    oracle="""
        WITH stats AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        FROM customer c, stats
        WHERE c.c_acctbal > stats.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY c.c_mktsegment
    """,
)
def rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncorrelated scalar subquery (global average balance) becomes a
    1-row broadcast cross join — the distributed form of 'compute once, apply
    everywhere' that never collects to the driver; NOT EXISTS (no order since
    1999) is a left-anti join on the customer key whose build side is
    pre-filtered by the pushed date predicate. Exact decimal sum / count
    keeps the threshold bit-identical across engines."""
    cust = t(spark, sf_dir, "customer")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(money("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= ts_lit("1999-01-01"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            dec2(F.sum(money("c_acctbal"))).alias("total_bal"),
        )
    )


@register(
    "promo_heavy_suppliers",
    doc="IN over an aggregated+filtered subquery (TPC-H Q20 shape), decorrelated to a semi join",
    oracle="""
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY l.l_suppkey
            HAVING CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS DOUBLE)
                   > 0.2 * CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
        )
    """,
)
def promo_heavy_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20's nesting — IN over a grouped-and-HAVING-filtered subquery —
    written as its decorrelated physical form: one conditional aggregation
    per supplier (exact integer sums; the 0.2 ratio check is the only float
    op, identical on both engines), then a LEFT SEMI join from the supplier
    dim. The aggregate side shrinks to one row per supplier before any join,
    so the semi probe is against a dim-sized relation regardless of fact
    size — the decorrelation Catalyst itself applies to the IN form."""
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey", "l_quantity")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    per_supp = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", qty("l_quantity")).otherwise(0)
            ).cast("double").alias("promo_qty"),
            F.sum(qty("l_quantity")).cast("double").alias("total_qty"),
        )
        .filter(F.col("promo_qty") > 0.2 * F.col("total_qty"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(per_supp, "s_suppkey", "left_semi")
