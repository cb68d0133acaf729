"""Generic relational coverage over the TPC-H-ish star schema.

The reference exercises no joins, set ops, or multi-function aggregates
(SURVEY.md §2.5 'gaps', §2.8); a complete engine must. Each query here is a
Spark built-in composition with a DuckDB oracle twin.

FP determinism policy: any SUM over double columns is accumulated as
DECIMAL (exact, order-independent) and the *final* scalar is cast back to
double — Spark's and DuckDB's different partial-aggregation orders then
cannot produce different bits. Averages are computed as exact-sum / count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table
from .registry import register


def _dec(col, scale: int = 6):
    """Row-level double -> exact decimal for order-independent summation."""
    return F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str) else col.cast(
        f"decimal(18,{scale})"
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: pricing summary — two-key groupBy, 8 aggregates.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "aggregate"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec(disc_price)).cast("double").alias("sum_disc_price"),
            F.sum(_dec(charge)).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: 3-way join + filter + grouped revenue + deterministic top-k.
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
    tags=("relational", "join", "topk"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: 5-way star join with region filter, revenue per nation.
# Dimension sides (region/nation/supplier) are broadcast — no shuffle for
# them even at 100 TB fact scale.
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    """,
    tags=("relational", "join"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (EXISTS / NOT EXISTS) — set-membership the Spark way.
# ---------------------------------------------------------------------------


@register(
    "customers_without_orders",
    oracle="""
    SELECT c.c_nationkey AS nationkey, count(*) AS customer_count
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
    tags=("relational", "join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("customer_count"))
    )


@register(
    "parts_with_orders",
    oracle="""
    SELECT p.p_type AS part_type, count(*) AS part_count
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY 1
    """,
    tags=("relational", "join", "semi"),
)
def parts_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy(F.col("p_type").alias("part_type"))
        .agg(F.count("*").alias("part_count"))
    )


# ---------------------------------------------------------------------------
# Distinct aggregation.
# ---------------------------------------------------------------------------


@register(
    "segment_nation_stats",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(DISTINCT c_nationkey) AS nation_count,
           count(*) AS customer_count,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY 1
    """,
    tags=("relational", "distinct"),
)
def segment_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.countDistinct("c_nationkey").alias("nation_count"),
        F.count("*").alias("customer_count"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_balance"),
    )


# ---------------------------------------------------------------------------
# Rollup (grouping-sets surface).
# ---------------------------------------------------------------------------


@register(
    "returns_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           count(*) AS line_count,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("relational", "rollup"),
)
def returns_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal rows keep an explicit 'ALL' sentinel (the source columns are
    never NULL) so results have no NULL group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("line_count"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "line_count",
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Pivot (engine feature; oracle = conditional aggregation).
# ---------------------------------------------------------------------------


@register(
    "returnflag_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_open,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS qty_filled
    FROM lineitem
    GROUP BY 1
    """,
    tags=("relational", "pivot"),
)
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# ---------------------------------------------------------------------------
# Analytic windows: lag / rank / running sum per customer order history.
# ---------------------------------------------------------------------------


@register(
    "customer_order_history",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           row_number() OVER w AS order_seq,
           lag(o_totalprice) OVER w AS prev_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    tags=("relational", "window"),
)
def customer_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY.md §2.8: none in the reference; engine built-ins).
# ---------------------------------------------------------------------------


@register(
    "clickers_not_buyers",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    tags=("relational", "setops"),
)
def clickers_not_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    # subtract = set EXCEPT (exceptAll would keep multiplicity: a user with
    # more clicks than purchases would survive)
    return clicks.subtract(buys)


@register(
    "viewers_and_buyers",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'view'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    tags=("relational", "setops"),
)
def viewers_and_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return views.intersect(buys)


# ---------------------------------------------------------------------------
# Date-part extraction + calendar aggregation.
# ---------------------------------------------------------------------------


@register(
    "orders_by_year_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           count(*) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("relational", "datetime"),
)
def orders_by_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count("*").alias("order_count"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Cube (full grouping-sets lattice; rollup covered separately).
# ---------------------------------------------------------------------------


@register(
    "status_priority_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           count(*) AS order_count
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("relational", "cube"),
)
def status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtotal rows keep an explicit 'ALL' sentinel (the source columns are
    never NULL) so results have no NULL group keys."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "order_count",
        )
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (stack) — wide -> long reshaping.
# ---------------------------------------------------------------------------


@register(
    "lineitem_measures_long",
    oracle="""
    SELECT l_returnflag, measure,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price' AS measure, l_extendedprice AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount' AS measure, l_discount AS value FROM lineitem
    )
    GROUP BY 1, 2
    """,
    tags=("relational", "unpivot"),
)
def lineitem_measures_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot AFTER aggregating, not before: stack-then-groupBy triples the
    rows entering the shuffle (fact_rows x measures), while aggregating the
    three sums in one scan and stacking the per-flag aggregate unpivots a
    handful of rows. Same exact decimal totals, 3x less shuffle volume —
    the ordering that matters at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).alias("_q"),
        F.sum(_dec("l_extendedprice")).alias("_p"),
        F.sum(_dec("l_discount")).alias("_d"),
    )
    return agg.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', _q, 'price', _p, 'discount', _d) AS (measure, _t)",
    ).select(
        "l_returnflag", "measure", F.col("_t").cast("double").alias("total")
    )


# ---------------------------------------------------------------------------
# Exact percentiles (approx_percentile exists too, but is engine-specific;
# the oracle-checked form is the exact interpolated percentile).
# ---------------------------------------------------------------------------


@register(
    "quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.95) AS p95
    FROM lineitem
    GROUP BY 1
    """,
    tags=("relational", "percentile"),
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
        F.percentile("l_quantity", F.lit(0.95)).alias("p95"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated scalar subquery (per-part avg threshold),
# decorrelated the Spark way — broadcast the part filter, then ONE window
# pass per part key instead of a second scan + re-join of lineitem.
# ---------------------------------------------------------------------------


@register(
    "small_quantity_revenue",
    oracle="""
    WITH sel AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
    fl AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN sel ON l_partkey = p_partkey
    ),
    th AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) AS avg_qty
        FROM fl GROUP BY 1
    )
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / 7.0 AS avg_yearly
    FROM fl JOIN th USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
    """,
    tags=("relational", "subquery"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from small-quantity orders of one brand's parts: lineitems
    with quantity below 20% of that part's average quantity. The correlated
    scalar subquery becomes a per-key window aggregate over the
    already-filtered fact rows — one broadcast join + one shuffle total."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sel = part.filter(F.col("p_brand") == "Brand#23").select(
        F.col("p_partkey").alias("l_partkey")
    )
    fl = li.select("l_partkey", "l_quantity", "l_extendedprice").join(
        F.broadcast(sel), "l_partkey"
    )
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(_dec("l_quantity")).over(w).cast("double") / F.count("*").over(w)
    return (
        fl.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated MIN/MAX scalar subquery (argmax-per-group).
# ---------------------------------------------------------------------------


@register(
    "top_customer_per_nation",
    oracle="""
    SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
           c.c_name AS name, c.c_acctbal AS acctbal
    FROM customer c
    WHERE c.c_acctbal = (SELECT max(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
    tags=("relational", "subquery", "window"),
)
def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers holding their nation's maximum balance (TPC-H Q2's
    correlated-min pattern, max flavor). Spark plan: a single window MAX
    partitioned by the correlation key replaces the correlated subquery —
    one shuffle on c_nationkey instead of a self-join, and it scales as a
    plain keyed exchange at any fact size. Ties return all rows on both
    sides; no float arithmetic, so equality is exact."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        cust.withColumn("max_bal", F.max("c_acctbal").over(w))
        .filter(F.col("c_acctbal") == F.col("max_bal"))
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: nation-to-nation trade volume by year (two dimension
# lookups against the same nation table + a date window on the fact).
# ---------------------------------------------------------------------------


@register(
    "nation_trade_volume",
    oracle="""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
    WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
      AND ns.n_name <> nc.n_name
      AND ns.n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
    GROUP BY 1, 2, 3
    """,
    tags=("relational", "join", "datetime"),
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-style bilateral trade: revenue between (supplier nation, customer
    nation) pairs per ship year. Scale shape: the date window prunes the
    fact scan first; supplier and both nation lookups broadcast (dims), so
    the only shuffles are the two fact-sized equi-joins (orders, customer)
    and the final aggregation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_0", "NATION_1", "NATION_2"))
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    volume = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns_key"))
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(volume).cast("double").alias("volume"))
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (beyond rollup/cube): disjoint one-dimensional
# marginals in a single pass over the fact table.
# ---------------------------------------------------------------------------


@register(
    "order_marginals_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           count(*) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("relational", "grouping-sets"),
)
def order_marginals_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status marginal, priority marginal, and grand total in ONE scan +
    ONE aggregation (Spark expands grouping sets map-side; a UNION ALL of
    three groupBys would scan the fact three times). Subtotal keys carry an
    explicit 'ALL' sentinel as in rollup/cube."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("order_count"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "order_count",
            "total_revenue",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS with a correlated inequality (order has at least
# one line shipped >60 days after the order date).
# ---------------------------------------------------------------------------


@register(
    "late_shipment_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
    tags=("relational", "subquery", "semi-join"),
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-style EXISTS: priorities of 1996 orders with a line shipped more
    than 60 days after order placement. The correlated EXISTS is a LEFT
    SEMI join whose condition carries the inequality alongside the equi
    key — Spark hashes on the equi key only and evaluates the inequality
    as a join residual, so it stays a plain keyed shuffle at any fact
    size (no nested-loop). Date filter prunes the orders scan first.
    Fills SURVEY.md §2.8 (reference has no joins/subqueries)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: global scalar threshold + NOT EXISTS (rich customers
# who never ordered), aggregated by segment.
# ---------------------------------------------------------------------------


@register(
    "idle_rich_customers",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS cust_count,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                                / count(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    tags=("relational", "subquery", "anti-join"),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-style: customers with above-average positive balance and no
    orders, counted per market segment. The scalar average is a 1-row
    aggregate broadcast into the filter (exact decimal sum / count, then
    ONE double division — same bits as the oracle, so the threshold
    comparison cannot flip on FP order). NOT EXISTS is a LEFT ANTI join:
    one shuffle on custkey; at scale the anti side only ships distinct
    o_custkey after partial aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("_avg_bal")
        )
    )
    return (
        cust.join(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("cust_count"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: market share — conditional sum over total sum per year.
# ---------------------------------------------------------------------------


@register(
    "nation_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           CAST(sum(CASE WHEN ns.n_name = 'NATION_0'
                         THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
    GROUP BY 1
    """,
    tags=("relational", "join", "conditional-aggregate"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-style market share: NATION_0 suppliers' revenue fraction per
    order year. Numerator and denominator are both exact decimal sums
    computed in the SAME aggregation (one scan, one shuffle), divided
    once as doubles — bit-identical to the oracle regardless of
    partial-agg order. Supplier and nation lookups broadcast; the only
    fact-sized shuffle is the orders equi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    vol = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            (
                F.sum(F.when(F.col("n_name") == "NATION_0", vol).otherwise(zero))
                .cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top-revenue supplier(s) — derived view joined against
# its own max.
# ---------------------------------------------------------------------------


@register(
    "top_revenue_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS total_revenue
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1996-03-31 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("relational", "subquery", "view"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-style: supplier(s) with the maximum quarterly revenue. The
    derived revenue view aggregates the date-pruned fact once (per-supplier
    sums are exact decimals cast to double, so the max and the equality
    filter see identical bits in both engines). The max-of-view scalar is
    an unpartitioned window over the ALREADY-AGGREGATED view (|suppliers|
    rows, not fact-sized — safe in one partition at any SF); ties keep all
    maximal suppliers, so the result is a deterministic set. Supplier dim
    broadcasts onto the view."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01 00:00:00").cast("timestamp"),
                F.lit("1996-03-31 00:00:00").cast("timestamp"),
            )
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("total_revenue")
        )
    )
    w = Window.partitionBy()
    return (
        revenue.withColumn("_max_rev", F.max("total_revenue").over(w))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING over a keyed sum, then join back to the
# customer/order detail.
# ---------------------------------------------------------------------------


@register(
    "large_volume_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 150)
    GROUP BY 1, 2, 3, 4
    """,
    tags=("relational", "subquery", "semi-join"),
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-style large orders: orders whose total quantity exceeds 150,
    with customer detail. The HAVING subquery and the outer per-order sum
    reuse the SAME keyed aggregate (computed once, filtered, then joined
    back) instead of aggregating lineitem twice — the oracle's IN
    semantics, one fact scan. Quantity sums are exact decimals, so the
    >150 cut cannot flip on FP order; the filtered key set is tiny and
    broadcasts into the detail join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty_dec"))
        .filter(F.col("_qty_dec") > F.lit(150).cast("decimal(18,6)"))
        .select(
            F.col("l_orderkey").alias("_big_okey"),
            F.col("_qty_dec").cast("double").alias("total_qty"),
        )
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == F.col("_big_okey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: keyed value vs a fraction of the global total.
# ---------------------------------------------------------------------------


@register(
    "valuable_parts",
    oracle="""
    WITH part_value AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS part_value
        FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey AS partkey, part_value
    FROM part_value
    WHERE part_value > (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                        FROM lineitem) * 0.001
    """,
    tags=("relational", "subquery", "conditional-aggregate"),
)
def valuable_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11-style: parts whose lineitem value exceeds 0.1% of total value.
    Per-part and global sums are exact decimals cast to double; the
    threshold is ONE double multiply, so the cut is bit-stable. The global
    scalar derives from the per-part aggregate (re-aggregation of ~|parts|
    rows, not a second fact scan) and broadcasts into the filter."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("_val_dec")
    )
    total = per_part.agg(
        (F.sum("_val_dec").cast("double") * F.lit(0.001)).alias("_cut")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_val_dec").cast("double") > F.col("_cut"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("_val_dec").cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: pure scan-aggregate — the pushdown litmus test.
# ---------------------------------------------------------------------------


@register(
    "simple_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "aggregate", "pushdown"),
)
def simple_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-style forecasting-revenue-change: no join, no groupBy — the whole
    query is a filtered scan plus one partial-aggregable sum. At 100 TB this
    is bounded by scan bandwidth alone: all four predicates push to the
    parquet reader (min/max row-group skipping on l_shipdate), only three
    columns are read, and the single global sum moves one decimal per task
    across the wire."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice") * F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item reporting — fact-fact join + dim broadcast,
# grouped by a wide customer key, deterministic top-20.
# ---------------------------------------------------------------------------


@register(
    "returned_item_customers",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue,
           c.c_acctbal AS acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, custkey ASC
    LIMIT 20
    """,
    tags=("relational", "join", "topk"),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style: customers who returned the most revenue in a quarter.
    lineitem is pre-filtered to 'R' and orders to the date window BEFORE the
    fact-fact shuffle join, so the shuffle carries only the ~1/3 x window
    fraction; nation broadcasts; the wide customer attributes ride through
    one groupBy; TakeOrderedAndProject caps driver traffic at 20 rows per
    partition. Tie-break on custkey makes the LIMIT deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join with a
# predicate inside the join condition, then a two-level aggregation.
# ---------------------------------------------------------------------------


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("relational", "outer-join", "aggregate"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13-style custdist: how many customers placed k (non-urgent) orders,
    including k=0 — which is why the priority predicate must live in the
    JOIN CONDITION (filtering orders pre-join), not a post-join WHERE that
    would silently drop the zero-order customers. First aggregation shuffles
    on c_custkey (same key as the join, so AQE can reuse the exchange);
    the second aggregates ~|customers| rows down to ~the distinct count
    values — negligible."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share — conditional sum / total sum in ONE
# aggregation over one scan.
# ---------------------------------------------------------------------------


@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT CAST(sum(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         * 100.0 AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
    tags=("relational", "join", "conditional-aggregate"),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-style promo share: numerator and denominator come out of the SAME
    aggregation (a when/otherwise inside the sum), so the fact table is
    scanned once and part broadcasts — no second pass, no self-join. Both
    sums are exact decimals; the final divide is the only double op."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.sum(_dec(promo_rev)).cast("double")
                / F.sum(_dec(rev)).cast("double")
                * F.lit(100.0)
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: distinct-supplier counts per part attribute, minus an
# excluded supplier set (NOT IN -> broadcast anti-join).
# (The reference schema has no partsupp table; lineitem's (partkey, suppkey)
# pairs provide the same part->supplier relation.)
# ---------------------------------------------------------------------------


@register(
    "part_supplier_counts",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#12'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    tags=("relational", "anti-join", "distinct-aggregate"),
)
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style supplier_cnt: the NOT IN subquery becomes a broadcast
    LEFT ANTI join against the (tiny) excluded-supplier set — null-safe here
    because s_suppkey is a non-null key. The part predicates broadcast with
    part itself and prune most of the fact before the countDistinct shuffle.
    countDistinct plans as two-phase partial-distinct, so duplicate
    (part, supplier) pairs collapse map-side before the exchange."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive join — OR-of-ANDs residual over one equi-join.
# ---------------------------------------------------------------------------


@register(
    "disjunctive_part_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational", "join", "disjunctive"),
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style OR-of-ANDs: the partkey equi-conjunct is common to every
    disjunct, so the right plan is ONE broadcast hash join with the
    disjunction as a post-join residual — never a union of three joins
    (three fact scans) or a nested-loop. Single-table conjuncts that hold
    across all branches (p_size <= 15, quantity <= 30) are pre-pushed below
    the join so the hash table and probe stream shrink first."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= 30)
    branch = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#9")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .filter(branch)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-type profit — 4-way join, LIKE filter on the dim,
# year extraction, two-key rollup. (The testdata has no partsupp table, so
# profit is gross revenue rather than revenue minus supplycost; the join
# graph and aggregation shape are Q9's.)
# ---------------------------------------------------------------------------


@register(
    "nation_year_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY 1, 2
    """,
    tags=("relational", "join", "aggregate"),
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style profit by supplier nation and order year (reference has no
    joins — SURVEY.md §2.8). The selective LIKE on part runs FIRST and that
    small key set broadcasts, shrinking the fact stream before the only
    big shuffle (lineitem⋈orders on orderkey); supplier and nation are
    broadcast dims. At 100 TB the shuffle carries only red-part lines
    (~13% here), and AQE can further coalesce post-filter partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: conditional two-class counts after a fact-fact join.
# (No l_shipmode in the testdata; l_linestatus plays the grouping role.)
# ---------------------------------------------------------------------------


@register(
    "priority_shipment_counts",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("relational", "join", "conditional-agg"),
)
def priority_shipment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-style: lines shipped in 1996 classified by order priority, two
    conditional counts in ONE aggregation (not two filtered passes). The
    date range prunes the fact scan via parquet min/max before the
    orderkey shuffle; orders contributes only (key, priority), so column
    pruning keeps the build side narrow."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: nested per-group scalar threshold feeding a semi-join
# chain up to the supplier dim. (No partsupp/availqty in the testdata, so
# the threshold is "supplier ships >50% of the part's total shipped
# quantity" — same decorrelation structure.)
# ---------------------------------------------------------------------------


@register(
    "dominant_part_suppliers",
    oracle="""
    WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    shipped AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_quantity AS DECIMAL(18,6))) AS supp_qty
        FROM lineitem JOIN rp ON l_partkey = p_partkey
        GROUP BY 1, 2
    ),
    dominant AS (
        SELECT DISTINCT l_suppkey FROM (
            SELECT l_suppkey, supp_qty,
                   sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
            FROM shipped
        ) WHERE supp_qty * 2 > part_qty
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, n.n_name AS nation
    FROM supplier s
    JOIN dominant d ON s.s_suppkey = d.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    tags=("relational", "subquery", "semi-join"),
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-style nested-subquery chain: suppliers who ship the majority of
    some red part's total quantity. The correlated threshold decorrelates
    into one (partkey, suppkey) aggregation plus a window sum over partkey
    — the same shuffle partitioning serves both, so Spark plans ONE
    Exchange for agg+window. The majority test compares exact decimals
    (supp_qty*2 > part_qty) so Spark and DuckDB cannot disagree on FP
    rounding. Distinct suppkeys then drive a broadcast semi-join into the
    supplier dim."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(dominant), supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: same-table EXISTS + NOT EXISTS (suppliers who kept
# orders waiting). (No commit/receipt dates in the testdata; "late" is
# shipping >90 days after order placement.)
# ---------------------------------------------------------------------------


@register(
    "sole_late_suppliers",
    oracle="""
    SELECT s.s_name AS name, count(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY 1
    ORDER BY numwait DESC, name ASC
    LIMIT 10
    """,
    tags=("relational", "subquery", "semi-join", "anti-join"),
)
def sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-style: the supplier solely responsible for a finished order
    shipping late. The EXISTS/NOT-EXISTS pair over the SAME fact table
    does NOT become two self-joins (three fact scans + two shuffles):
    one pass groups lines by order, counting distinct suppliers and
    distinct LATE suppliers — an order blames supplier S iff it has ≥2
    suppliers and exactly one late supplier (= S, recovered as max of the
    late-conditional key). One orderkey shuffle + one suppkey shuffle
    total, identical blame semantics, and it scales linearly in fact
    rows instead of quadratically in lines-per-order."""
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    per_order = (
        li.join(orders, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_suppkey"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(supp), F.col("late_suppkey") == supp.s_suppkey)
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ntile deciles (window-function breadth): per-nation customer spend tiers.
# ---------------------------------------------------------------------------


@register(
    "nation_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS nationkey, c.c_custkey AS custkey,
               sum(o.o_totalprice) AS total
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tiered AS (
        SELECT nationkey,
               ntile(10) OVER (PARTITION BY nationkey
                               ORDER BY total DESC, custkey ASC) AS decile,
               total
        FROM spend
    )
    SELECT nationkey, decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(total) AS DOUBLE), 2) AS decile_spend
    FROM tiered GROUP BY 1, 2
    """,
    tags=("tpch", "window"),
)
def nation_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer spend deciles: DECIMAL-exact per-customer totals,
    ntile(10) under a TOTAL order (spend desc, custkey tiebreak — ntile with
    ties but no tiebreak is nondeterministic across shuffles), then a
    per-(nation, decile) rollup.

    Scale shape (VERDICT r4): a window partitioned by nation caps
    parallelism at 25 — one task per nation holds ALL its customers (40M
    rows/task at 10^9 customers). ``range_partitioned_ntile`` ranks inside
    (nation, spend-range) slices instead: identical buckets, parallelism
    set by the range partitioner, no per-nation single-task sort."""
    from ..operators.windows import range_partitioned_ntile

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = (
        cust.join(orders, cust.c_custkey == F.col("o_custkey"))
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_custkey").alias("custkey"),
        )
        .agg(F.sum("o_totalprice").alias("total"))
    )
    tiered = range_partitioned_ntile(
        spend,
        10,
        [F.desc("total"), F.asc("custkey")],
        partition_cols=["nationkey"],
        out_col="decile",
    )
    return tiered.groupBy("nationkey", "decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("total").cast("double"), 2).alias("decile_spend"),
    )


@register(
    "weighted_median_price",
    oracle="""
    WITH pw AS (
        SELECT l_returnflag, l_linestatus, l_extendedprice AS price,
               sum(l_quantity) AS w
        FROM lineitem GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT l_returnflag, l_linestatus, sum(w) AS total_weight
        FROM pw GROUP BY 1, 2
    ),
    cum AS (
        SELECT pw.l_returnflag, pw.l_linestatus, pw.price, t.total_weight,
               sum(pw.w) OVER (
                   PARTITION BY pw.l_returnflag, pw.l_linestatus
                   ORDER BY pw.price ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS running
        FROM pw JOIN tot t USING (l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus,
           any_value(total_weight) AS total_weight,
           min(price) AS weighted_median_price
    FROM cum WHERE running * 2 >= total_weight
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("tpch", "robust-stats"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (weight = quantity) of extended price per
    (returnflag, linestatus): the smallest price whose cumulative weight
    reaches half the group total. All arithmetic stays in DECIMAL —
    exact, order-free. Pre-aggregating to DISTINCT price rows first
    makes the running sum's order total (price alone), so the picked
    value is partition-invariant; the window partitions by group, never
    globally."""
    li = load_table(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        "l_returnflag", "l_linestatus", F.col("l_extendedprice").alias("price")
    ).agg(F.sum("l_quantity").alias("w"))
    tot = pw.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("w").alias("total_weight")
    )
    w = (
        Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy(F.asc("price"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pw.join(F.broadcast(tot), ["l_returnflag", "l_linestatus"]).select(
        "l_returnflag",
        "l_linestatus",
        "price",
        "total_weight",
        F.sum("w").over(w).alias("running"),
    )
    return (
        cum.filter(F.col("running") * 2 >= F.col("total_weight"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.any_value("total_weight").alias("total_weight"),
            F.min("price").alias("weighted_median_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "part_price_size_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_retailprice, p.p_partkey
    """,
    tags=("tpch", "skyline"),
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts — no other part is both cheaper and larger
    (ties don't dominate): the classic skyline query, computed without
    the O(n^2) dominance self-join the oracle's NOT EXISTS spells out.
    See operators/windows.skyline_2d for the distinct-x fold +
    range-partitioned prefix-max + first-owner composition."""
    from ..operators.windows import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return (
        skyline_2d(
            part.select("p_partkey", "p_retailprice", "p_size"),
            "p_retailprice",
            "p_size",
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


@register(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
        FROM rev
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(CAST(cents AS DECIMAL(38,0))) AS sx,
               sum(CAST(i AS DECIMAL(38,0)) * cents) AS six
        FROM ranked
    )
    SELECT n AS n_customers,
           round((2 * CAST(six AS DOUBLE) - (n + 1) * CAST(sx AS DOUBLE))
                 / (n * CAST(sx AS DOUBLE)), 6) AS gini
    FROM agg
    """,
    tags=("tpch", "robust-stats"),
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue concentration — the
    one-number inequality summary next to the Pareto curve. Revenue
    snaps to cents (the round absorbs double-sum ulps identically in
    both engines), the rank comes from the range-partitioned running
    count (total order: cents, custkey — tied values permute freely in
    the rank-weighted sum, so ties cost nothing), and both sums are
    DECIMAL(38,0)-exact with one terminal double expression."""
    from ..operators.windows import range_partitioned_running_sum

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
    )
    ranked = range_partitioned_running_sum(
        rev.withColumn("_one", F.lit(1)),
        order=[F.asc("cents"), F.asc("o_custkey")],
        value_cols=["_one"],
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("running__one").cast("decimal(38,0)") * F.col("cents")
        ).alias("six"),
    )
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(
            (
                2 * F.col("six").cast("double")
                - (F.col("n") + 1) * F.col("sx").cast("double")
            )
            / (F.col("n") * F.col("sx").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "customer_decile_mobility",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    tiled AS (
        SELECT o_custkey, yr,
               ntile(10) OVER (PARTITION BY yr
                               ORDER BY cents ASC, o_custkey ASC) AS tile
        FROM rev
    )
    SELECT a.tile AS decile_1996, b.tile AS decile_1997,
           count(*) AS n_customers
    FROM tiled a JOIN tiled b
      ON a.o_custkey = b.o_custkey AND a.yr = 1996 AND b.yr = 1997
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("tpch", "mobility", "decile"),
)
def customer_decile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-decile mobility matrix: where customers who bought in
    BOTH 1996 and 1997 moved between their year's spend deciles — the
    churn-risk / upsell table. Deciles per year come from
    range_partitioned_ntile with partition_cols=[yr] (the guarded
    per-group form of the decile rework; cents snap absorbs double-sum
    ulps); the mobility join is customer-keyed."""
    from ..operators.windows import range_partitioned_ntile

    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.withColumn("yr", F.year("o_orderdate").cast("int"))
        .filter(F.col("yr").isin(1996, 1997))
        .groupBy("o_custkey", "yr")
        .agg(
            F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents")
        )
    )
    tiled = range_partitioned_ntile(
        rev,
        n=10,
        order=[F.asc("cents"), F.asc("o_custkey")],
        partition_cols=["yr"],
        out_col="tile",
    )
    a = tiled.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("tile").alias("decile_1996")
    )
    b = tiled.filter(F.col("yr") == 1997).select(
        "o_custkey", F.col("tile").alias("decile_1997")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("decile_1996", "decile_1997")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("decile_1996", "decile_1997")
    )


@register(
    "reorder_survival_curve",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        FROM orders
    ),
    horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS hz FROM orders),
    subj AS (
        SELECT f.o_custkey,
               CASE WHEN s.d IS NOT NULL
                    THEN date_diff('day', f.d, s.d)
                    ELSE date_diff('day', f.d, horizon.hz) END AS dur,
               CASE WHEN s.d IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM (SELECT o_custkey, d FROM seq WHERE rn = 1) f
        LEFT JOIN (SELECT o_custkey, d FROM seq WHERE rn = 2) s
          USING (o_custkey), horizon
    ),
    n_total AS (SELECT count(*) AS n FROM subj),
    per_t AS (
        SELECT dur, sum(event) AS d_t, count(*) AS c_t
        FROM subj GROUP BY dur
    ),
    cum AS (
        SELECT dur, d_t, c_t,
               sum(c_t) OVER (ORDER BY dur ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_c
        FROM per_t
    ),
    risk AS (
        SELECT dur, d_t, n_total.n - (cum_c - c_t) AS n_t
        FROM cum, n_total
    ),
    terms AS (
        SELECT dur, d_t, n_t,
               CASE WHEN d_t < n_t THEN
                    CAST(round(ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                               * 1000000000) AS BIGINT)
                    ELSE CAST(-100000000000 AS BIGINT) END AS t_q
        FROM risk WHERE d_t > 0
    ),
    km AS (
        SELECT dur, d_t, n_t,
               sum(t_q) OVER (ORDER BY dur ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_q
        FROM terms
    )
    SELECT dur AS days, CAST(n_t AS BIGINT) AS at_risk,
           CAST(d_t AS BIGINT) AS events,
           round(exp(cum_q / 1000000000.0), 6) AS survival
    FROM km ORDER BY days
    """,
    tags=("tpch", "survival", "events"),
)
def reorder_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of time-to-SECOND-order per customer
    (single-order customers right-censored at the corpus horizon) — the
    repeat-purchase curve a retention team actually reads, and a whole
    analytics family (censored survival estimation) in one query.
    Exactness recipe: risk sets from integer running counts (the
    range-partitioned prefix machinery — no single-task window), each
    hazard's ln(1 - d/n) quantized to 1e-9 BIGINTs, the product folded
    as a running INTEGER sum and exponentiated once per row; a
    saturated time (d = n) pins the sentinel -100 log, so survival
    rounds to 0 identically in both engines."""
    from ..operators.windows import range_partitioned_running_sum
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    seq = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    first = seq.filter(F.col("rn") == 1).select("o_custkey", F.col("d").alias("d1"))
    second = seq.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("d").alias("d2")
    )
    horizon = orders.agg(F.max(F.to_date("o_orderdate")).alias("hz"))
    subj = (
        first.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            )
            .otherwise(F.datediff("hz", "d1"))
            .alias("dur"),
            F.col("d2").isNotNull().cast("long").alias("event"),
        )
    )
    per_t = subj.groupBy("dur").agg(
        F.sum("event").alias("d_t"), F.count("*").alias("c_t")
    )
    cum = range_partitioned_running_sum(
        per_t, order=[F.asc("dur")], value_cols=["c_t"], prefix="cum_"
    )
    n_total = subj.agg(F.count("*").alias("n"))
    risk = cum.crossJoin(F.broadcast(n_total)).select(
        "dur",
        "d_t",
        (F.col("n") - (F.col("cum_c_t") - F.col("c_t"))).alias("n_t"),
    )
    terms = risk.filter(F.col("d_t") > 0).select(
        "dur",
        "d_t",
        "n_t",
        F.when(
            F.col("d_t") < F.col("n_t"),
            F.round(
                F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t"))
                * 1e9
            ).cast("long"),
        )
        .otherwise(F.lit(-100000000000).cast("long"))
        .alias("t_q"),
    )
    km = range_partitioned_running_sum(
        terms, order=[F.asc("dur")], value_cols=["t_q"], prefix="cum_"
    )
    return km.select(
        F.col("dur").alias("days"),
        F.col("n_t").cast("long").alias("at_risk"),
        F.col("d_t").cast("long").alias("events"),
        F.round(F.exp(F.col("cum_t_q") / 1e9), 6).alias("survival"),
    ).orderBy("days")


@register(
    "brand_affinity_rules",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n_orders AS (SELECT count(DISTINCT o) AS n FROM basket),
    item AS (SELECT b, count(*) AS s FROM basket GROUP BY 1),
    pair AS (
        SELECT a.b AS b1, c.b AS b2, count(*) AS s_ab
        FROM basket a JOIN basket c ON a.o = c.o AND a.b < c.b
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT b1 AS antecedent, b2 AS consequent, s_ab FROM pair
        UNION ALL
        SELECT b2, b1, s_ab FROM pair
    )
    SELECT r.antecedent, r.consequent, r.s_ab AS support_pair,
           round(CAST(r.s_ab AS DOUBLE) / ia.s, 6) AS confidence,
           round(CAST(n_orders.n AS DOUBLE) * r.s_ab / (ia.s * ic.s), 6)
               AS lift
    FROM rules r
    JOIN item ia ON ia.b = r.antecedent
    JOIN item ic ON ic.b = r.consequent, n_orders
    WHERE r.s_ab >= 20
    ORDER BY antecedent, consequent
    """,
    tags=("tpch", "association-rules"),
)
def brand_affinity_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets at the brand
    level: support / confidence / lift for every brand pair co-occurring
    in >= 20 orders, both rule directions. Scale shape: the pair join is
    WITHIN-order (bounded by basket size, never corpus x corpus), item
    and pair supports are integer counts, and each metric is one double
    division — the classic a-priori first pass, oracle-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # r13: ``basket`` feeds FOUR consumers (order count, item supports,
    # both sides of the pair self-join) — persist so the lineitem⋈part
    # join + distinct runs once instead of four times (guide §1.2).
    # Cache released by the harness clearCache after the terminal action.
    basket = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    n_orders = basket.select("o").distinct().agg(F.count("*").alias("n"))
    item = basket.groupBy("b").agg(F.count("*").alias("s"))
    a = basket.select("o", F.col("b").alias("b1"))
    c = basket.select("o", F.col("b").alias("b2"))
    # ``pair`` feeds both directions of the rules union — persist so the
    # within-order self-join runs once
    pair = (
        a.join(c, "o")
        .filter(F.col("b1") < F.col("b2"))
        .groupBy("b1", "b2")
        .agg(F.count("*").alias("s_ab"))
        .persist()
    )
    rules = pair.select(
        F.col("b1").alias("antecedent"),
        F.col("b2").alias("consequent"),
        "s_ab",
    ).unionByName(
        pair.select(
            F.col("b2").alias("antecedent"),
            F.col("b1").alias("consequent"),
            "s_ab",
        )
    )
    ia = item.select(F.col("b").alias("antecedent"), F.col("s").alias("s_a"))
    ic = item.select(F.col("b").alias("consequent"), F.col("s").alias("s_c"))
    return (
        rules.filter(F.col("s_ab") >= 20)
        .join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("support_pair"),
            F.round(F.col("s_ab").cast("double") / F.col("s_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n").cast("double")
                * F.col("s_ab")
                / (F.col("s_a") * F.col("s_c")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


import math as _math

_BENFORD = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


@register(
    "benford_price_digits",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT d, count(*) AS o FROM digits GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM obs),
    grid AS (
        SELECT g.d, coalesce(obs.o, 0) AS o,
               CASE {" ".join(f"WHEN g.d = {d} THEN CAST({p!r} AS DOUBLE)" for d, p in _BENFORD.items())} END AS p
        FROM (SELECT unnest(range(1, 10)) AS d) g LEFT JOIN obs USING (d)
    )
    SELECT grid.d AS leading_digit, CAST(o AS BIGINT) AS n_orders,
           round(CAST(o AS DOUBLE) / n, 6) AS observed_freq,
           round(p, 6) AS benford_freq,
           round(CAST(round((o - n * p) * (o - n * p) / (n * p)
                            * 1000000000) AS BIGINT) / 1000000000.0, 6)
               AS chi2_term
    FROM grid, tot ORDER BY 1
    """,
    tags=("tpch", "hypothesis-test", "dataquality"),
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals vs Benford's law —
    the classic synthetic-data / fraud screen (naturally-arising
    amounts follow log10(1+1/d); uniform generators don't, and this
    corpus's deviation is itself informative). Expected frequencies
    enter both engines as identical python-repr literals; each chi2
    term is 1e-9-quantized. One digit-projection scan + a 9-row grid."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digits = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count("*").alias("o"))
    tot = obs.agg(F.sum("o").alias("n"))
    grid = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], ["d", "p"]
    )
    full = (
        grid.join(obs, "d", "left")
        .select("d", "p", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("n") * F.col("p")
    return full.select(
        F.col("d").alias("leading_digit"),
        F.col("o").cast("long").alias("n_orders"),
        F.round(F.col("o").cast("double") / F.col("n"), 6).alias(
            "observed_freq"
        ),
        F.round("p", 6).alias("benford_freq"),
        F.round(
            F.round((F.col("o") - e) * (F.col("o") - e) / e * 1e9)
            .cast("long")
            / 1e9,
            6,
        ).alias("chi2_term"),
    ).orderBy("leading_digit")


@register(
    "price_quantity_ols",
    oracle="""
    WITH q AS (
        SELECT l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    agg AS (
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
               sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
               sum(CAST(y * y AS DECIMAL(38,0))) AS syy
        FROM q GROUP BY 1
    )
    SELECT l_returnflag, n AS n_rows,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(sx AS DOUBLE)
                    * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                 / n / 100, 6) AS intercept,
           round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS r_squared
    FROM agg ORDER BY l_returnflag
    """,
    tags=("tpch", "regression", "robust-stats"),
)
def price_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of extended price on quantity per return flag —
    slope (price per unit), intercept (in original currency units) and
    R^2 from one aggregate pass: the regression-by-sufficient-statistics
    pattern (the same exact-DECIMAL sums as the correlation matrix,
    finished with fixed double expressions). Slope is unit-invariant
    under the 1e-2 snap; the intercept divides the snap back out."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = q.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    slope = num / vx
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - sx * slope) / n / 100, 6).alias("intercept"),
        F.round(num * num / (vx * vy), 6).alias("r_squared"),
    ).orderBy("l_returnflag")


@register(
    "rfm_segments",
    oracle="""
    WITH hz AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
    rfm AS (
        SELECT o_custkey,
               date_diff('day', max(CAST(o_orderdate AS DATE)), hz.h)
                   AS recency,
               count(*) AS frequency,
               CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS monetary
        FROM orders, hz GROUP BY o_custkey, hz.h
    ),
    scored AS (
        SELECT o_custkey,
               ntile(5) OVER (ORDER BY recency DESC, o_custkey ASC) AS r,
               ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f,
               ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m
        FROM rfm
    )
    SELECT r, f, m, count(*) AS n_customers,
           CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
                WHEN r <= 2 AND f >= 4 THEN 'at_risk_loyal'
                WHEN r >= 4 AND f <= 2 THEN 'new_or_reactivated'
                ELSE 'mid' END AS segment
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    tags=("tpch", "rfm", "decile"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintiles per
    customer (higher = better on every axis — recency ranks DESC so the
    most recent buyers score 5) rolled up to segment cells with the
    standard champion/at-risk/new labels. All three quintile cuts come
    from one range_partitioned_ntiles batch with total orders (ties
    broken by custkey); monetary snaps to cents."""
    from ..operators.windows import range_partitioned_ntiles

    orders = load_table(spark, sf_dir, "orders")
    hz = orders.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    # persist: the three quintile axes each range-partition ``rfm`` in
    # their own order, so without the cache each of the three range
    # branches re-scans orders and re-runs this aggregate. The frame is
    # one row per customer (bounded by the grouping key, ~1.5% of
    # orders), so the cache is small; lifetime is bounded by the
    # harness-level clearCache.
    rfm = (
        orders.crossJoin(F.broadcast(hz))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("h"), F.max(F.to_date("o_orderdate"))).alias(
                "recency"
            ),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice") * 100).cast("long").alias(
                "monetary"
            ),
        )
        .persist()
    )
    # One batched sidecar action fetches every axis's slice map at build
    # time; the three skinny (custkey, tile) frames join back on the key.
    # Each axis depends only on ``rfm`` and its own total order.
    m = range_partitioned_ntiles(
        rfm,
        specs=[
            (5, [F.desc("recency"), F.asc("o_custkey")], "r"),
            (5, [F.asc("frequency"), F.asc("o_custkey")], "f"),
            (5, [F.asc("monetary"), F.asc("o_custkey")], "m"),
        ],
        key_cols=["o_custkey"],
    )
    seg = (
        F.when(
            (F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4),
            F.lit("champions"),
        )
        .when((F.col("r") <= 2) & (F.col("f") >= 4), F.lit("at_risk_loyal"))
        .when((F.col("r") >= 4) & (F.col("f") <= 2), F.lit("new_or_reactivated"))
        .otherwise(F.lit("mid"))
    )
    return (
        m.groupBy("r", "f", "m")
        .agg(F.count("*").alias("n_customers"))
        .withColumn("segment", seg)
        .orderBy("r", "f", "m")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering: cosine similarity over co-purchase
# counts, top-5 neighbors per part — the "customers who bought X" shape.
# Same within-order pair join as brand_affinity_rules (bounded by basket
# size); the similarity is co / sqrt(n_a * n_b), one double expression
# over exact integer counts.
# ---------------------------------------------------------------------------


@register(
    "part_cf_neighbors",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    item AS (SELECT p, count(*) AS n FROM basket GROUP BY 1),
    pair AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS co
        FROM basket a JOIN basket b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    sym AS (
        SELECT pa AS part_id, pb AS neighbor_id, co FROM pair
        UNION ALL
        SELECT pb, pa, co FROM pair
    ),
    scored AS (
        SELECT s.part_id, s.neighbor_id, s.co,
               CAST(s.co AS DOUBLE)
                   / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE))
                   AS cos_raw
        FROM sym s
        JOIN item na ON na.p = s.part_id
        JOIN item nb ON nb.p = s.neighbor_id
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY part_id
                   ORDER BY cos_raw DESC, neighbor_id ASC
               ) AS INTEGER) AS rank
        FROM scored
    )
    SELECT part_id, neighbor_id, CAST(co AS BIGINT) AS co_orders,
           round(cos_raw, 6) AS cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY part_id, rank
    """,
    tags=("tpch", "recommender", "topk"),
)
def part_cf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-similar parts per part by co-purchase cosine
    (co / sqrt(n_a * n_b), min co-occurrence 2) — item-item
    collaborative filtering, the first-pass recommender every order log
    supports. Ties break by neighbor id; the ranking window is keyed by
    part (partition size <= the part's co-purchase fan-out, itself
    bounded by baskets x basket size).

    Scale: the pair join is WITHIN-order (basket-size-bounded, never
    part x part); supports are integer counts shuffled on their own
    keys; similarity is one double expression over exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13: ``basket`` feeds three consumers (item supports + both sides
    # of the self-join) and ``pair`` two (the symmetric union) — persist
    # both so the scan+distinct and the within-order self-join each run
    # once (guide §1.2). Released by the harness clearCache.
    basket = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().persist()
    item = basket.groupBy("p").agg(F.count("*").alias("n"))
    a = basket.select("o", F.col("p").alias("pa"))
    b = basket.select("o", F.col("p").alias("pb"))
    pair = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
        .persist()
    )
    sym = pair.select(
        F.col("pa").alias("part_id"), F.col("pb").alias("neighbor_id"), "co"
    ).unionByName(
        pair.select(
            F.col("pb").alias("part_id"),
            F.col("pa").alias("neighbor_id"),
            "co",
        )
    )
    scored = (
        sym.join(
            item.select(F.col("p").alias("part_id"), F.col("n").alias("_na")),
            "part_id",
        )
        .join(
            item.select(
                F.col("p").alias("neighbor_id"), F.col("n").alias("_nb")
            ),
            "neighbor_id",
        )
        .withColumn(
            "cos_raw",
            F.col("co").cast("double")
            / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
        )
    )
    w = Window.partitionBy("part_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "part_id",
            "neighbor_id",
            F.col("co").cast("long").alias("co_orders"),
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
        .orderBy("part_id", "rank")
    )


# ---------------------------------------------------------------------------
# Sample-based approximate query processing (AQP): estimate a total from
# a deterministic md5 sample and AUDIT it against the exact answer in
# the same result row. The sampling rate is an exact rational (26/256 —
# two hex chars below '1a'), so the scale-up is integer arithmetic, not
# a float; at 100 TB the estimate path reads ~10% of the fact table
# while the sketch family (HLL/CMS/DDSketch) covers the other AQP axes.
# ---------------------------------------------------------------------------


@register(
    "sampled_revenue_estimate",
    oracle="""
    WITH tagged AS (
        SELECT o_totalprice,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
                   AS sampled
        FROM orders
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(*) FILTER (sampled) AS BIGINT) AS n_sampled,
               CAST(sum(cents) AS BIGINT) AS actual_cents,
               CAST(coalesce(sum(cents) FILTER (sampled), 0) AS BIGINT)
                   AS sample_cents
        FROM tagged
    )
    SELECT n_total, n_sampled, actual_cents,
           CAST((sample_cents * 256 + 13) // 26 AS BIGINT) AS est_cents,
           CAST(((sample_cents * 256 + 13) // 26 - actual_cents)
                * 1000000 // actual_cents AS BIGINT) AS err_ppm
    FROM agg
    """,
    tags=("tpch", "sampling", "aqp"),
)
def sampled_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate total order revenue from a deterministic ~10% sample
    (md5 first-two-hex < '1a': an EXACT 26/256 rate), scaled up by the
    exact rational (x 256/26, half-up integer division) and audited
    against the true total in the same row (err_ppm: signed parts-per-
    million as an explicit double FLOOR on both engines — integer //
    would diverge on negative errors: DuckDB truncates toward zero
    where Python/Spark floor). The sample-based
    member of the AQP family next to the mergeable sketches: at scale
    the estimate path scans the sampled fraction only, and the md5
    predicate is engine-portable (the stratified-sampling convention).
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    sampled = F.substring(
        F.md5(F.col("o_orderkey").cast("string")), 1, 2
    ) < "1a"
    agg = orders.select(
        cents.alias("cents"), sampled.alias("sampled")
    ).agg(
        F.count("*").cast("long").alias("n_total"),
        F.count_if(F.col("sampled")).cast("long").alias("n_sampled"),
        F.sum("cents").cast("long").alias("actual_cents"),
        F.coalesce(
            F.sum(F.when(F.col("sampled"), F.col("cents"))), F.lit(0)
        )
        .cast("long")
        .alias("sample_cents"),
    )
    est = F.expr("(sample_cents * 256 + 13) div 26")
    return agg.select(
        "n_total",
        "n_sampled",
        "actual_cents",
        est.cast("long").alias("est_cents"),
        F.expr(
            "CAST(floor(CAST(((sample_cents * 256 + 13) div 26)"
            " - actual_cents AS DOUBLE) * 1000000"
            " / actual_cents) AS BIGINT)"
        ).alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Seasonality decomposition: monthly revenue, 13-month centered moving-
# average trend, and the detrended seasonal ratio. The window is over the
# MONTH series (bounded by the calendar: ~80 rows at any corpus size), so
# the global orderBy window is driver-safe; all sums are exact DECIMAL.
# ---------------------------------------------------------------------------


@register(
    "monthly_revenue_seasonality",
    oracle="""
    WITH monthly AS (
        SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
               CAST(date_part('month', o_orderdate) AS INTEGER) AS mth,
               sum(CAST(o_totalprice AS DECIMAL(18,6))) AS revenue
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    trended AS (
        SELECT yr, mth, revenue,
               sum(revenue) OVER w AS win_sum,
               count(*) OVER w AS win_n
        FROM monthly
        WINDOW w AS (ORDER BY yr, mth ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
    )
    SELECT yr, mth,
           CAST(revenue AS DOUBLE) AS revenue,
           round(CASE WHEN win_n = 13
                      THEN CAST(revenue AS DOUBLE)
                           / (CAST(win_sum AS DOUBLE) / 13)
                 END, 6) AS seasonal_ratio
    FROM trended
    ORDER BY yr, mth
    """,
    tags=("relational", "window", "timeseries"),
)
def monthly_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonality read-out: monthly order revenue, a 13-month
    centered moving-average trend, and revenue/trend — the seasonal ratio
    a demand-planning dashboard charts (ratio > 1 = above-trend month).
    Months without the full +-6 neighborhood get a NULL ratio instead of
    a biased partial average.

    Scale shape: the month aggregate is map-side combinable and collapses
    the fact table to a calendar-bounded series (~80 rows for 7 years),
    so the unpartitioned ORDER BY window that follows is a deliberate
    single-task pass over a bounded frame — the exception the plan-audit
    notes allow, same as the other calendar-series queries. NULL order
    dates are filtered in BOTH engines before the window: Spark sorts
    NULLS FIRST ascending, DuckDB NULLS LAST, so an unfiltered NULL month
    would land at opposite ends of the centered-MA frame."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mth"),
    ).agg(F.sum(_dec("o_totalprice")).cast("decimal(18,6)").alias("revenue_dec"))
    # named-window twin: exact DECIMAL sums in the frame, one division out
    w = (
        Window.orderBy("yr", "mth")
        .rowsBetween(-6, 6)
    )
    trended = monthly.select(
        "yr",
        "mth",
        F.col("revenue_dec"),
        F.sum("revenue_dec").over(w).alias("win_sum"),
        F.count("*").over(w).alias("win_n"),
    )
    return trended.select(
        "yr",
        "mth",
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.round(
            F.when(
                F.col("win_n") == 13,
                F.col("revenue_dec").cast("double")
                / (F.col("win_sum").cast("double") / 13),
            ),
            6,
        ).alias("seasonal_ratio"),
    ).orderBy("yr", "mth")
