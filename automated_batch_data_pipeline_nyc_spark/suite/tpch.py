"""TPC-H-shaped decision-support queries over the star schema:
revenue, market-share, supplier and customer shapes, including the
correlated and nested-subquery forms.  The fixture has no partsupp
table, so lineitem serves as the part-supplier offer relation where the
official query reads partsupp."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import load_tables
from .registry import D2, SQL_AVG, SQL_SUM, _avg_money, _load, _q, _sum_money


@_q(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
      {SQL_SUM.format(col='l_quantity')} AS sum_qty,
      {SQL_SUM.format(col='l_extendedprice')} AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2))) * (1 + CAST(l_tax AS DECIMAL(10,2)))) AS DOUBLE) AS sum_charge,
      {SQL_AVG.format(col='l_quantity')} AS avg_qty,
      {SQL_AVG.format(col='l_extendedprice')} AS avg_price,
      {SQL_AVG.format(col='l_discount')} AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary — the engine's flagship aggregate",
)
def _pricing(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    charge = disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(10,2)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_money(F.col("l_quantity"), "sum_qty"),
            _sum_money(F.col("l_extendedprice"), "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            _avg_money(F.col("l_quantity"), "avg_qty"),
            _avg_money(F.col("l_extendedprice"), "avg_price"),
            _avg_money(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "sql_revenue_by_nation",
    f"""
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    doc="SQL entry point over temp views (SURVEY §3.3) — TPC-H Q5-shaped",
)
def _sqlrev(spark, sf_dir):
    load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation", "region"))
    return spark.sql(
        """
        SELECT n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        """
    )


@_q(
    "shipping_priority_topk",
    """
    SELECT l_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    doc="TPC-H Q3-shaped shipping priority: segment-filtered 3-way join with "
        "date pivots on both fact sides, exact DECIMAL revenue, top-10 via "
        "TakeOrderedAndProject (never a global sort); filters push below the "
        "joins, customer side broadcasts under AQE",
)
def _q3ship(spark, sf_dir):
    cust, orders, li = _load(spark, sf_dir, "customer", "orders", "lineitem")
    pivot = F.lit("1998-06-30 00:00:00").cast("timestamp")
    rev = F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )
    agg = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < pivot)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > pivot)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    return top.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
    )


@_q(
    "small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
        SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_total,
        CAST(COUNT(*) AS BIGINT) AS qty_n
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      AS below_avg_revenue,
      CAST(COUNT(*) AS BIGINT) AS n_small
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * 2 * pa.qty_n < pa.qty_total
    """,
    doc="TPC-H Q17 shape (correlated scalar subquery): revenue from line items "
        "below half their part's average quantity — written as the decorrelated "
        "form Catalyst would produce (per-part aggregate joined back on the "
        "part key), so the corpus shuffles once on l_partkey for the aggregate "
        "and once for the join, both combinable/AQE-coalesced.  The "
        "qty < 0.5·avg predicate is cross-multiplied to 2·qty·n < Σqty over "
        "exact DECIMAL sums: no float division, so boundary rows cannot flip "
        "with summation order at any scale; DECIMAL revenue for bit-exact "
        "oracle parity",
)
def _q17_small(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(D2)).alias("qty_total"),
        F.count(F.lit(1)).alias("qty_n"),
    )
    return (
        li.join(pa, "l_partkey")
        .filter(
            F.col("l_quantity").cast(D2) * 2 * F.col("qty_n") < F.col("qty_total")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(D2))
            .cast("double")
            .alias("below_avg_revenue"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@_q(
    "customer_order_distribution",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
    doc="TPC-H Q13 shape (outer-join count distribution): orders per customer "
        "INCLUDING zero-order customers (LEFT JOIN + COUNT(col) skips NULLs, "
        "so empty groups survive as n_orders=0), then the histogram of those "
        "counts — double aggregation where the second input is only "
        "customer-cardinality; first shuffle on the join key, second on the "
        "tiny count domain",
)
def _q13_dist(spark, sf_dir):
    cust, orders = _load(spark, sf_dir, "customer", "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@_q(
    "topk_with_ties_per_nation",
    """
    SELECT n_name, c_custkey, c_acctbal FROM (
      SELECT n.n_name, c.c_custkey, c.c_acctbal,
        rank() OVER (PARTITION BY n.n_name ORDER BY c.c_acctbal DESC) AS rk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
    WHERE rk <= 3
    """,
    doc="per-nation top-3 account balances WITH ties (rank(), not "
        "row_number(): equal balances at the cut all survive, so the result "
        "is deterministic without a tiebreak column) — broadcast dim join "
        "then per-group window, WindowGroupLimit prunes each group to its "
        "top ranks before the full sort",
)
def _topk_ties(spark, sf_dir):
    cust, nation = _load(spark, sf_dir, "customer", "nation")
    j = cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"))
    return (
        j.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "c_acctbal")
    )


@_q(
    "revenue_share_of_total",
    """
    WITH per_nation AS (
      SELECT n.n_name,
        SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
      CAST(round(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 6)
        AS DOUBLE) AS share
    FROM per_nation
    """,
    doc="percent-of-total decomposition (the BI share-of-wallet shape): "
        "corpus aggregates to exact DECIMAL revenue per nation first, the "
        "unpartitioned total-sum window runs over the 25-row nation frame — "
        "never the corpus — and the single-task global window is harmless at "
        "that cardinality; 6dp on the ratio absorbs the one double division",
)
def _rev_share(spark, sf_dir):
    cust, orders, nation = _load(spark, sf_dir, "customer", "orders", "nation")
    per_nation = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast(D2)).alias("rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return per_nation.select(
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.round(F.col("rev").cast("double") / total.cast("double"), 6).alias("share"),
    )


@_q(
    "market_share_by_year",
    f"""
    WITH sales AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        CAST(l.l_extendedprice AS DECIMAL(12,2))
          * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS volume,
        ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'AMERICA'
    )
    SELECT o_year,
      CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
      CAST(CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS total_volume
    FROM sales GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): 7-way star join — four "
        "broadcast dims (nation x2, region, supplier) around the "
        "lineitem->orders->customer spine — then a conditional-aggregate "
        "share per order year.  Volumes accumulate in DECIMAL so the "
        "share division is one IEEE op on identical operands in both "
        "engines.  Scale: only the two fact joins shuffle; every dim "
        "broadcasts; the share needs no second pass (CASE inside SUM).",
)
def _mkt_share(spark, sf_dir):
    li, o, c, n, r, s = _load(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region",
        "supplier",
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    amer = r.filter(F.col("r_name") == "AMERICA").select("r_regionkey")
    vol = (F.col("l_extendedprice").cast(D2) * (1 - F.col("l_discount").cast(D2)))
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(amer), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast(D2)
    return sales.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share"),
        F.sum("volume").cast("double").alias("total_volume"),
    )


@_q(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
        {SQL_SUM.format(col="l_extendedprice")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1995-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape (max over an aggregate view): quarterly revenue "
        "per supplier, keep the supplier(s) hitting the global max — the "
        "scalar-subquery-over-aggregate pattern.  Spark plan: one "
        "combinable agg shuffle builds rev, the 1-row global max cross-"
        "broadcasts back (never a sort), supplier dim broadcasts.  "
        "Decimal revenue makes the equality join exact cross-engine.",
)
def _top_supp(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_sum_money(F.col("l_extendedprice"), "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "dominant_part_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    part_total AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name,
      CAST(COUNT(*) AS BIGINT) AS n_dominant_parts
    FROM shipped sh
    JOIN part_total pt ON sh.l_partkey = pt.l_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE sh.qty > 0.5 * pt.total_qty
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q20 shape (nested aggregate threshold semi-join): suppliers "
        "shipping >50% of a part's total volume, counted per supplier — "
        "the 'excess availability' correlated-subquery pattern re-planned "
        "as two stacked aggs on the SAME l_partkey grouping (the second "
        "shuffle reuses the first's partitioning; AQE coalesces) + a "
        "broadcast supplier dim.  No correlated per-row subquery ever "
        "executes: the inner aggregate joins back on its grouping key.",
)
def _dominant(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast(D2)).cast("double").alias("qty")
    )
    part_total = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty")
    )
    return (
        shipped.join(part_total, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )


@_q(
    "sole_supplier_open_orders",
    """
    SELECT s.s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'O'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (EXISTS + NOT EXISTS double correlation): per "
        "supplier, open orders where other suppliers participated but "
        "none shipped after this supplier.  Both correlated subqueries "
        "collapse into ONE per-order aggregate: a line satisfies the "
        "NOT EXISTS iff no other supplier shipped strictly later, and "
        "such a line exists for supplier s iff s achieves the order's "
        "max ship date (ties: every achiever qualifies, exactly the "
        "NOT-EXISTS semantics).  Plan: one l_orderkey agg (count-"
        "distinct suppliers + max date) joined back to the fact — no "
        "per-row subquery, no triple self-join; COUNT(DISTINCT "
        "orderkey) guards multi-line survivors.",
)
def _sole_supplier(spark, sf_dir):
    li, o, s = _load(spark, sf_dir, "lineitem", "orders", "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    open_orders = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    qual = (
        li.join(per_order, "l_orderkey")
        .join(open_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("max_ship")))
    )
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )


@_q(
    "idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape (scalar average subquery + anti join): customers "
        "with above-average positive balance and NO orders, rolled up by "
        "segment.  The scalar avg is a 1-row broadcast predicate, the NOT "
        "EXISTS is a left-anti hash join on c_custkey (never a per-row "
        "probe).  The average is computed decimal-sum-then-one-division "
        "in BOTH engines, so the threshold scalar is bit-identical and "
        "the strict > comparison cannot flip cross-engine.",
)
def _idle_rich(spark, sf_dir):
    c, o = _load(spark, sf_dir, "customer", "orders")
    # match DuckDB's AVG exactly: sum in decimal (exact), divide once
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(D2)).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    idle = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("a"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(D2)).cast("double").alias("total_bal"),
        )
    )


#: exact discounted revenue (both dialects)
_REV = 'CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(10,2)))'


def _rev_col() -> F.Column:
    return F.col("l_extendedprice").cast(D2) * (
        F.lit(1) - F.col("l_discount").cast("decimal(10,2)")
    )


@_q(
    "local_supplier_volume",
    f"""
    SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 (full local-supplier form): revenue where the supplier "
        "and the customer share a nation — the c_nationkey = s_nationkey "
        "equi-condition rides the supplier join, so the 'local' "
        "constraint costs nothing extra.  Plan: date filter pushed to the "
        "orders scan, supplier/nation/region broadcast, one fact shuffle "
        "chain lineitem->orders->customer, exact DECIMAL revenue.",
)
def _q5local(spark, sf_dir):
    c, o, li, s, n, r = _load(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    asia = r.filter(F.col("r_name") == "ASIA").select("r_regionkey")
    od = F.col("o_orderdate")
    return (
        c.join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1997-01-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(asia), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "revenue_forecast_band",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      * CAST(l_discount AS DECIMAL(10,2))) AS DOUBLE) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): pure filtered aggregate — "
        "every predicate (date range, discount band, quantity cap) pushes "
        "to the parquet scan, the single combinable DECIMAL sum partial-"
        "aggregates map-side, and exactly one 1-row exchange crosses the "
        "wire.  The canonical 'scan speed is the query' shape.",
)
def _q6band(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate")
    return (
        li.filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(D2)
                * F.col("l_discount").cast("decimal(10,2)")
            )
            .cast("double")
            .alias("revenue_delta")
        )
    )


@_q(
    "bilateral_trade_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
      CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year, {_REV} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (bilateral trade volume): revenue flowing each way "
        "between two nations by ship year.  The nation-pair disjunction "
        "evaluates on two broadcast nation copies AFTER the key joins "
        "(tiny), the fact chain shuffles once per key, year extraction is "
        "a scalar on the shuffled rows.  Decimal volume, BIGINT year.",
)
def _q7trade(spark, sf_dir):
    s, li, o, c, n = _load(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    sd = F.col("l_shipdate")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1998-01-01").cast("date"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "returned_item_customers",
    f"""
    SELECT c_custkey, c_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue,
      c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item losers): customers ranked by revenue of "
        "lineitems they returned in one quarter.  Return-flag and date "
        "filters push to both fact scans, nation broadcasts, one grouped "
        "shuffle keyed on the customer, top-20 via TakeOrderedAndProject "
        "with a c_custkey tiebreak (never a global sort).",
)
def _q10returned(spark, sf_dir):
    c, o, li, n = _load(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    od = F.col("o_orderdate")
    return (
        c.join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1996-04-01").cast("date"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_q(
    "promo_revenue_share",
    f"""
    SELECT round(100.0 * (CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN {_REV} ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
      / CAST(SUM({_REV}) AS DOUBLE)), 6) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
    """,
    doc="TPC-H Q14 (promotion effect): share of one month's revenue from "
        "promo-type parts.  The part dim broadcasts; both sums are exact "
        "decimals partial-aggregated map-side; the single division is one "
        "IEEE double op rounded to 6dp.  One 1-row exchange total.",
)
def _q14promo(spark, sf_dir):
    li, p = _load(spark, sf_dir, "lineitem", "part")
    sd = F.col("l_shipdate")
    rev = _rev_col()
    zero = F.lit(0).cast(D2)
    agg = (
        li.filter(
            (sd >= F.lit("1996-03-01").cast("date"))
            & (sd < F.lit("1996-04-01").cast("date"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            .alias("_promo"),
            F.sum(rev).cast("double").alias("_total"),
        )
    )
    return agg.select(
        F.round(F.lit(100.0) * (F.col("_promo") / F.col("_total")), 6).alias(
            "promo_share"
        )
    )


@_q(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
        AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    SELECT c_custkey, c_name, o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18 (large-volume customers): orders whose total quantity "
        "clears a threshold, with their customers.  The HAVING aggregate "
        "is the decorrelated IN-subquery of the official query: one "
        "combinable per-order sum (map-side partials), the surviving "
        "order set is tiny and drives broadcast joins to orders and "
        "customer — never a second fact shuffle.",
)
def _q18volume(spark, sf_dir):
    li, o, c = _load(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(D2)).alias("_tq"))
        .filter(F.col("_tq") > 250)
        .select("l_orderkey", F.col("_tq").cast("double").alias("total_qty"))
    )
    return (
        F.broadcast(big)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


@_q(
    "brand_bracket_revenue",
    f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape (disjunctive bracket revenue; adapted to the "
        "fixture's columns — no shipmode/container): three (brand, size, "
        "quantity) brackets OR-ed together.  The optimizer splits the "
        "disjunction: part-only conjuncts (brand/size) prune the "
        "broadcast build side, lineitem-only conjuncts (quantity) push "
        "to the fact scan, and only the cross terms evaluate post-join — "
        "the classic OR-pushdown test.  Exact DECIMAL revenue, one 1-row "
        "exchange.",
)
def _q19bracket(spark, sf_dir):
    li, p = _load(spark, sf_dir, "lineitem", "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#11") & sz.between(1, 5) & q.between(1, 11))
        | ((br == "Brand#12") & sz.between(1, 10) & q.between(10, 20))
        | ((br == "Brand#13") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(F.sum(_rev_col()).cast("double").alias("revenue"))
    )


@_q(
    "cheapest_part_supplier_region",
    """
    WITH offers AS (
      SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
        MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS price
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY 1, 2, 3, 4)
    SELECT o.p_partkey, o.s_name, o.n_name,
      CAST(o.price AS DOUBLE) AS best_price
    FROM (SELECT *, row_number() OVER (PARTITION BY p_partkey
            ORDER BY price, s_suppkey) AS rn FROM offers) o
    JOIN part ON o.p_partkey = part.p_partkey
    WHERE o.rn = 1 AND part.p_size = 25
    """,
    doc="TPC-H Q2 shape (min-cost supplier in region): per size-25 part, "
        "the ASIA supplier offering the lowest price, suppkey tiebreak.  "
        "The correlated MIN decorrelates to one combinable argmin: "
        "min(struct(price, suppkey, ...)) — map-side partials, no per-part "
        "sort, no window.  supplier x nation x region prejoins driver-side "
        "tiny and broadcasts onto the fact scan; the size filter joins "
        "broadcast AFTER the argmin so the aggregate stays one pass.",
)
def _q2cheapest(spark, sf_dir):
    li, s, n, r, p = _load(
        spark, sf_dir, "lineitem", "supplier", "nation", "region", "part"
    )
    dim = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r.filter(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        li.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice").cast(D2)).alias("price"))
    )
    best = offers.groupBy("l_partkey").agg(
        F.min(F.struct("price", "s_suppkey", "s_name", "n_name")).alias("b")
    )
    sized = p.filter(F.col("p_size") == 25).select("p_partkey")
    return (
        best.join(F.broadcast(sized), best.l_partkey == sized.p_partkey)
        .select(
            "p_partkey",
            F.col("b.s_name").alias("s_name"),
            F.col("b.n_name").alias("n_name"),
            F.col("b.price").cast("double").alias("best_price"),
        )
    )


@_q(
    "late_ship_priority_counts",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND date_diff('day', o.o_orderdate, l.l_shipdate) > 60)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): orders from one year "
        "with at least one line item shipped >60 days after ordering, "
        "counted by priority.  The EXISTS plans as a LEFT SEMI join with "
        "the datediff predicate evaluated inside the join — one pass over "
        "each side, no fan-out, order-date filter pushed to the scan.",
)
def _q4late(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    od = F.col("o_orderdate")
    filtered = o.filter(
        (od >= F.lit("1997-01-01").cast("date"))
        & (od < F.lit("1998-01-01").cast("date"))
    )
    late = filtered.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


@_q(
    "nation_year_profit",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(10,2)))
               - CAST(p_retailprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): revenue minus a supply-"
        "cost proxy (10% of retail price x quantity — the fixture has no "
        "partsupp.ps_supplycost), grouped by supplier nation and ship "
        "year.  Both dims broadcast onto one fact scan; the profit "
        "expression stays DECIMAL end-to-end (exact, order-independent "
        "partial aggregation) and is cast to double once after the sum.",
)
def _q9profit(spark, sf_dir):
    li, s, n, p = _load(spark, sf_dir, "lineitem", "supplier", "nation", "part")
    profit = (
        F.col("l_extendedprice").cast(D2)
        * (F.lit(1) - F.col("l_discount").cast("decimal(10,2)"))
        - F.col("p_retailprice").cast(D2)
        * F.col("l_quantity").cast(D2)
        * F.lit(0.1).cast("decimal(2,1)")
    )
    dim = s.join(n, s.s_nationkey == n.n_nationkey).select("s_suppkey", "n_name")
    econ = p.filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    return (
        li.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(econ), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@_q(
    "important_part_values",
    """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS v
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
      GROUP BY 1)
    SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE v > (SELECT SUM(v) * CAST(0.005 AS DECIMAL(4,3)) FROM val)
    """,
    doc="TPC-H Q11 shape (important stock value): per-part traded value "
        "from one nation's suppliers, kept when above 0.5% of the "
        "nation's total — the scalar-aggregate-subquery threshold.  The "
        "subquery decorrelates to a 1-row aggregate broadcast-cross-"
        "joined back; the threshold compare runs in exact DECIMAL on "
        "both engines, so boundary parts can't flap on float rounding.",
)
def _q11value(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    nat = s.filter(F.col("s_nationkey") == 3).select("s_suppkey")
    val = (
        li.join(F.broadcast(nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(D2)).alias("v"))
    )
    thr = val.agg(
        (F.sum("v") * F.lit(0.005).cast("decimal(4,3)")).alias("thr")
    )
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("v") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("v").cast("double").alias("part_value"),
        )
    )


@_q(
    "ship_delay_priority_mix",
    """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 'late'
                WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'slow'
                ELSE 'fast' END AS delay_bucket,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape (shipping-delay priority mix; the fixture has no "
        "l_shipmode, so ship-delay buckets stand in for mode): one year of "
        "line items classified by order-to-ship latency, with urgent vs "
        "other order counts as conditional sums.  The ship-date filter "
        "pushes to the fact scan; the orders join is the one shuffle; the "
        "CASE pivot partial-aggregates map-side to 3 rows.",
)
def _q12delay(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    sd = F.col("l_shipdate")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(d > 90, F.lit("late")).when(d > 30, F.lit("slow")).otherwise(F.lit("fast"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (sd >= F.lit("1998-01-01").cast("date"))
            & (sd < F.lit("1999-01-01").cast("date"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_priority"),
        )
    )


@_q(
    "part_supplier_variety",
    """
    SELECT p_brand, p_size,
      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 9, 14, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
    doc="TPC-H Q16 shape (supplier variety per part attribute): distinct "
        "suppliers per (brand, size) over the lineitem offer relation "
        "(stands in for partsupp), excluding one brand and the "
        "negative-balance 'complaint' suppliers.  The NOT IN decorrelates "
        "to a broadcast ANTI join (s_suppkey is non-null, so NOT IN and "
        "anti-join semantics coincide); the part dim broadcasts; the "
        "count-distinct is the one shuffle, keyed on (brand, size).",
)
def _q16variety(spark, sf_dir):
    li, p, s = _load(spark, sf_dir, "lineitem", "part", "supplier")
    keep = p.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 14, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_size")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(keep), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).cast("long").alias("supplier_cnt"))
    )


@_q(
    "order_lead_time_monthly",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      CAST(month(o_orderdate) AS BIGINT) AS m,
      COUNT(*) AS n_lines,
      CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
        AS total_lead_days,
      CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
        AS max_lead_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
    doc="monthly order-to-ship lead time (integer day sums/max, exact — "
        "no float averaging): the fulfillment-latency report.  One "
        "fact-fact shuffle on the order key, then a month-bounded "
        "aggregate; all metrics are map-side-combinable integers.",
)
def _leadtime(spark, sf_dir):
    li, o = _load(spark, sf_dir, "lineitem", "orders")
    lead = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(lead).cast("long").alias("total_lead_days"),
            F.max(lead).cast("long").alias("max_lead_days"),
        )
    )


@_q(
    "supplier_pareto_share",
    """
    WITH rev AS (
      SELECT s_suppkey, s_name,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS r
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    tot AS (SELECT SUM(r) AS t FROM rev)
    SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS revenue,
      round(CAST(SUM(r) OVER (ORDER BY r DESC, s_suppkey
                              ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            / CAST(t AS DOUBLE), 6) AS cum_share
    FROM rev, tot
    """,
    doc="supplier Pareto (cumulative revenue share, descending): the "
        "80/20 concentration report.  Per-supplier revenue partial-"
        "aggregates over the fact scan; the running sum is an "
        "unpartitioned window over the SUPPLIER DIM ONLY (dim-sized "
        "single sort, never the fact table) in exact DECIMAL, divided "
        "once by the broadcast total.",
)
def _pareto(spark, sf_dir):
    li, s = _load(spark, sf_dir, "lineitem", "supplier")
    rev = (
        li.join(F.broadcast(s.select("s_suppkey", "s_name")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum(F.col("l_extendedprice").cast(D2)).alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w = (
        Window.orderBy(F.col("r").desc(), "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("double").alias("revenue"),
            F.round(
                F.sum("r").over(w).cast("double") / F.col("t").cast("double"), 6
            ).alias("cum_share"),
        )
    )
