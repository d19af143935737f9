"""Relational operator surface (SURVEY.md §2 ops 4-18 lifted onto the
driver's star schema) — scans, filters, semi/anti joins, broadcast
dictionary lookups, conditional scalar transforms, pivots, distinct-set
aggregations, windows, sorts/limits, set ops, JSON extraction, event-time
windowing.

Numeric-comparison policy: money-like aggregates are computed in exact
DECIMAL(18,2) arithmetic (order-independent, so the same value falls out
of any shuffle/AQE plan and of the DuckDB oracle), then cast to DOUBLE for
a stable output representation.

Scale notes are attached per query; the common ones:
- region/nation/part/supplier are broadcast (`F.broadcast`) — no shuffle
  for dimension lookups at any fact-table size.
- fact-fact joins (orders ⋈ lineitem) shuffle on the join key; AQE
  handles skew and post-shuffle coalescing.
- aggregations are hash-aggs with map-side partials — Catalyst default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import boolean_encode
from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.sources.tables import load_table


def _dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Flagship: the reference pipeline's shape phrased relationally — broadcast
# dictionary joins (ops 6/10) + filter + multi-way join + grouped agg.
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_region",
    oracle="""
    SELECT r.r_name AS region_name,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name
    """,
)
def flagship_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region: region⋈nation⋈customer⋈orders⋈lineitem.

    Scale: lineitem is PRE-AGGREGATED to one revenue row per order
    BEFORE any join — the semi-aggregation (eager aggregation) rewrite.
    That shrinks the fact side ~4x (lines per order) ahead of the join,
    turns COUNT(DISTINCT o_orderkey) into a plain COUNT(*) (per-order
    rows are unique by construction — no two-phase distinct expand),
    and the per-order agg's shuffle on l_orderkey is the same key the
    orders join needs, so the exchange is reused. region/nation always
    broadcast; customer/orders broadcast below the size threshold,
    sort-merge above (Catalyst decides). An inner join preserves the
    original semantics exactly: only orders with lineitems count.
    """
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    per_order = lineitem.groupBy("l_orderkey").agg(F.sum(revenue).alias("order_rev"))
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("order_rev").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary: grouped multi-agg with pushed filter.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape). The shipdate predicate and the
    6-column projection both push into the parquet scan (check
    `.explain`: PushedFilters + ReadSchema). One shuffle on the 2-col
    grouping key; partial aggregation map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Semi/anti joins — the reference's dictionary-gated keep/drop filters
# (ops 4-5): rows kept iff the key exists (or not) in another relation.
# ---------------------------------------------------------------------------


@register(
    "semi_join_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = the reference's 'keep only records whose tag is in
    the dictionary' (op 4). Semi joins shuffle only the key column of the
    probe side — cheaper than inner join + distinct.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "anti_join_customers_no_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def anti_join_customers_no_urgent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT ANTI join = the reference's dropped-unknown-tags audit stream
    (op 5 keeps the complement for reporting), with the priority filter
    pushed into the build side's parquet scan.

    Round-7 vacuity audit: the unfiltered variant ("customers without
    ANY order") was EMPTY at sf0.01 — every fixture customer has an
    order there — so the anti join was vacuously green exactly where
    the driver gates it. Anti-joining against the URGENT subset keeps
    the operator semantics and is non-vacuous at every fixture scale
    (18 / 203 / 1986 rows at sf0.001/0.01/0.1)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Broadcast dictionary decode with default (ops 10-11): the temple-code
# lookup pattern — join a small dim, coalesce miss to passthrough.
# ---------------------------------------------------------------------------


@register(
    "dict_decode_supplier_nation",
    oracle="""
    SELECT s.s_suppkey,
           COALESCE(n.n_name, 'UNKNOWN') AS nation_name,
           r.r_name AS region_name
    FROM supplier s
    LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    """,
)
def dict_decode_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary decode with passthrough default (reference op 10, the
    TEMP temple-code lookup lib/csv_writer.js:57-65): LEFT JOIN against a
    broadcast dim + COALESCE. Zero shuffle — both dims broadcast.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        supplier.join(nation, nation.n_nationkey == supplier.s_nationkey, "left")
        .join(region, region.r_regionkey == nation.n_regionkey, "left")
        .select(
            "s_suppkey",
            F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@register(
    "conditional_decode_concat",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN r.r_name IS NOT NULL THEN n.n_name || ' (' || r.r_name || ' Region)'
                ELSE n.n_name END AS display_name
    FROM nation n
    LEFT JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name <> 'AFRICA'
    """,
)
def conditional_decode_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional decode + concat (reference op 11, the PLAC rewrite
    lib/csv_writer.js:48-56): when the lookup hits, rewrite the value to
    a decorated form; else pass through.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") != "AFRICA")
    )
    return nation.join(
        region, region.r_regionkey == nation.n_regionkey, "left"
    ).select(
        "n_nationkey",
        F.when(
            F.col("r_name").isNotNull(),
            F.concat(F.col("n_name"), F.lit(" ("), F.col("r_name"), F.lit(" Region)")),
        )
        .otherwise(F.col("n_name"))
        .alias("display_name"),
    )


# ---------------------------------------------------------------------------
# Scalar transforms (ops 9, 12).
# ---------------------------------------------------------------------------


@register(
    "boolean_encode_flags",
    oracle="""
    SELECT CASE WHEN props IS NOT NULL AND length(props) > 0
                THEN 'True' ELSE 'False' END AS has_props,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def boolean_encode_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS-truthiness boolean re-encode (reference op 9,
    lib/csv_writer.js:31-33): non-empty string -> 'True' else 'False'.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        boolean_encode(F.col("props")).alias("has_props"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "name_split_parts",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           CASE WHEN regexp_extract(p_name, '^[a-z]+ (.*)$', 1) <> ''
                THEN regexp_extract(p_name, '^[a-z]+ (.*)$', 1) END AS rest,
           p_name AS full_name
    FROM part
    """,
)
def name_split_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name splitting (reference op 12, the GEDCOM 'Given /Surname/'
    split at lib/csv_writer.js:66-82): first piece vs remainder, raw
    value preserved, blank pieces -> NULL. Pure regexp — codegen'd.
    """
    part = load_table(spark, sf_dir, "part")
    first = F.regexp_extract("p_name", r"^([a-z]+)", 1)
    rest = F.regexp_extract("p_name", r"^[a-z]+ (.*)$", 1)
    return part.select(
        "p_partkey",
        first.alias("first_word"),
        F.when(rest != "", rest).alias("rest"),
        F.col("p_name").alias("full_name"),
    )


# ---------------------------------------------------------------------------
# Pivot / flatten (op 13's wide-table form) and partitioned fan-out (op 18).
# ---------------------------------------------------------------------------


@register(
    "pivot_order_status",
    oracle="""
    SELECT o_custkey,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
    FROM orders
    GROUP BY o_custkey
    """,
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot with a pinned value list (reference op 13: the
    recursive flatten produces a wide row per record; op 18 partitions
    by the same key). Pinning pivot values avoids the extra distinct-
    values job — mandatory at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_custkey")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_custkey",
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# ---------------------------------------------------------------------------
# Distinct-set aggregations (op 17) and set ops (§2.1).
# ---------------------------------------------------------------------------


@register(
    "distinct_set_unknown_event_types",
    oracle="""
    SELECT DISTINCT event_type FROM events
    EXCEPT
    SELECT * FROM (VALUES ('signup'), ('purchase')) t(event_type)
    """,
)
def distinct_set_unknown_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's unused-tags accumulator (op 17 + op 5,
    lib/csv_writer.js:12,134): values seen in the stream minus the known
    dictionary = EXCEPT against a broadcast value list.
    """
    events = load_table(spark, sf_dir, "events")
    known = spark.createDataFrame([("signup",), ("purchase",)], "event_type string")
    return events.select("event_type").distinct().exceptAll(known)


@register(
    "collect_set_event_types_per_user",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def collect_set_event_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distinct-set aggregation (op 17) — collect_set with a
    deterministic (sorted, joined) output representation."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "set_ops_customer_keys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_ops_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — §2.1 set-ops commitment."""
    orders = load_table(spark, sf_dir, "orders")
    high = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return high.intersect(done)


@register(
    "union_entity_counts",
    oracle="""
    SELECT kind, COUNT(*) AS n, CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
    )
    GROUP BY kind
    """,
)
def union_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL across entity families — the reference's two output
    families (nodes/relationships) unified for counting."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        customer.unionAll(supplier)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("acctbal")).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Windows (§2.1): top-k per group, running totals.
# ---------------------------------------------------------------------------


@register(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer. row_number + filter; at scale the rank
    filter is pushed into the window via Spark's WindowGroupLimit
    (top-k pushdown), so no group materializes more than 3 rows.
    Deterministic tiebreak on o_orderkey.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_customer_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    """,
)
def window_running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer in order-date order (exact decimal
    accumulation -> order-independent result)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


@register(
    "global_top10_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def global_top10_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit. Spark plans this as TakeOrderedAndProject —
    per-partition top-10 then a driver merge; never a full global sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup, CASE bucketing, date parts, string functions,
# exact distinct counts.
# ---------------------------------------------------------------------------


@register(
    "rollup_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (§2.1 aggregations commitment)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


@register(
    "case_bucket_order_value",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS bucket,
           COUNT(*) AS n,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY 1
    """,
)
def case_bucket_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-expression bucketing (the reference's predicate routing, op 7,
    generalized to n-way)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@register(
    "orders_by_year_month",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def orders_by_year_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + agg (§2.1 string/date/math functions; the
    reference defers date typing — README.md:55 — the engine provides it).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
    )


@register(
    "string_funcs_part_brands",
    oracle="""
    SELECT upper(p_brand) AS brand_uc,
           substring(p_type, 1, 5) AS type_prefix,
           COUNT(*) AS n,
           MIN(length(p_name)) AS min_name_len,
           MAX(length(p_name)) AS max_name_len
    FROM part
    GROUP BY 1, 2
    """,
)
def string_funcs_part_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions (§2.1): upper/substring/length + agg."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy(
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.length("p_name")).alias("min_name_len"),
        F.max(F.length("p_name")).alias("max_name_len"),
    )


@register(
    "exact_distinct_counts",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    WHERE l_discount > 0.02
    """,
)
def exact_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct counts with a pushed filter. (The
    approx variant — approx_count_distinct — is benchmarked in bench.py
    but can't be oracle-hash-checked, by construction.)"""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.02)
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "avg_balance_by_region",
    oracle="""
    SELECT r.r_name AS region_name,
           CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS avg_bal,
           COUNT(*) AS n_suppliers
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def avg_balance_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast snowflake join + average (computed as exact-decimal sum
    over count so the value is plan-independent)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        supplier.join(nation, nation.n_nationkey == supplier.s_nationkey)
        .join(region, region.r_regionkey == nation.n_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            (F.sum(_dec("s_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction and event-time windowing over the events stream table.
# ---------------------------------------------------------------------------


@register(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (§2.1 array/map/JSON: the events.props
    column) — get_json_object stays JVM-side."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "event_time_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def event_time_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (epoch-aligned hourly buckets). The
    same `F.window` expression also works under readStream +
    withWatermark."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "sessionize_user_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via session_window (gap = 30 min). Works identically
    in batch (here) and under Structured Streaming with a watermark.
    Session end = last event + gap (Spark session_window semantics)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) event-time window — the overlap variant of the tumbling
# query above. Each event lands in length/slide = 4 windows; Spark expands
# them with the built-in `window(ts, len, slide)` generator (no UDF, no
# self-join), then a plain hash agg.
# ---------------------------------------------------------------------------


@register(
    "sliding_window_event_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - j * INTERVAL '30 minutes' AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events CROSS JOIN generate_series(0, 3) t(j)
    GROUP BY 1, 2
    """,
)
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows hopping every 30 minutes. An event at time t
    belongs to the 4 grid-aligned windows starting in (t-2h, t]; the
    oracle expands the same membership arithmetically."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations in one pass (Catalyst Expand: each
# input row fans out to the 4 grouping sets map-side, then one hash agg;
# no re-scan per grouping set).
# ---------------------------------------------------------------------------


@register(
    "cube_orders_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_orders_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with GROUPING indicators to
    disambiguate genuine NULL keys from subtotal rows."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
    )


# ---------------------------------------------------------------------------
# As-of join — for every 'purchase' event, the latest strictly-earlier
# 'view' event by the same user. Spark has no ASOF JOIN operator; the
# scalable plan is the union-merge: tag both sides, union, one window
# pass per user ordered by (ts, side), pick the running last view. One
# shuffle on user_id, zero join fan-out — this is the 100 TB shape (an
# equi-join + filter would materialize every (purchase x earlier-view)
# pair before picking the max).
# ---------------------------------------------------------------------------


@register(
    "asof_last_view_before_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, MAX(event_id) AS event_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ), p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           p.ts AS purchase_ts,
           v.ts AS view_ts,
           v.event_id AS view_id
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts < p.ts
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-merge as-of join (strict <). At equal ts a purchase sorts
    BEFORE views (side 0 < side 1) so same-instant views are invisible
    to it; among equal-ts views the last by event_id wins, matching the
    oracle's per-(user, ts) MAX(event_id) dedup."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("side"),
        F.col("event_id"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id"
    )
    merged = purchases.unionByName(views)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_struct = F.when(
        F.col("side") == 1, F.struct(F.col("ts"), F.col("event_id"))
    )
    return (
        merged.withColumn("_last_view", F.last(view_struct, ignorenulls=True).over(w))
        .filter(F.col("side") == 0)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("_last_view.ts").alias("view_ts"),
            F.col("_last_view.event_id").alias("view_id"),
        )
    )


# ---------------------------------------------------------------------------
# lag/lead analytics — per-customer order-value deltas.
# ---------------------------------------------------------------------------


@register(
    "window_lag_order_delta",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice
                  - LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS delta_prev
    FROM orders
    """,
)
def window_lag_order_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference to the customer's previous order value (NULL for the
    first order). One shuffle on o_custkey; the sort is per-partition."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w))
        .cast("double")
        .alias("delta_prev"),
    )


# ---------------------------------------------------------------------------
# Approximate distinct (HyperLogLog++). No oracle: DuckDB's approx sketch
# is a different implementation, so values legitimately differ — the
# rows-only driver check applies, and tests/test_dedup_similarity.py pins
# the estimate within 5% of the exact count.
# ---------------------------------------------------------------------------


@register("approx_distinct_users")  # no oracle: HLL sketches are engine-specific
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct at 1% relative error — the sketch is the
    scale path (constant memory, map-side mergeable) where
    exact_distinct_counts needs a full shuffle of the key set."""
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.approx_count_distinct("event_type", 0.01).alias("approx_types"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles — linear-interpolation quantiles per group, matching
# ANSI percentile_cont. (At 100 TB the approx_percentile sketch is the
# constant-memory variant; the exact form shuffles each group's values.)
# ---------------------------------------------------------------------------


@register(
    "percentiles_lineitem_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (percentile_cont semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    def pct(p: float, alias: str) -> Column:
        return F.round(F.percentile("l_extendedprice", F.lit(p)), 6).alias(alias)
    return li.groupBy("l_returnflag").agg(
        pct(0.25, "p25"), pct(0.50, "p50"), pct(0.75, "p75"), pct(0.95, "p95")
    )


# ---------------------------------------------------------------------------
# Range (interval) join — pairs of same-user events within 5 minutes.
# Naively this is an inequality self-join (quadratic scan). The scale
# plan buckets time into interval-width cells and equi-joins on
# (user, cell) x {same, adjacent cell}, turning it into a hash join
# whose per-bucket fan-out is bounded by local density; the inequality
# is then just a residual filter.
# ---------------------------------------------------------------------------


@register(
    "range_join_close_events",
    oracle="""
    SELECT a.user_id AS user_id,
           a.event_id AS id_a,
           b.event_id AS id_b,
           CAST(date_diff('microsecond', a.ts, b.ts) AS BIGINT) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts - INTERVAL '5 minutes'
     AND b.ts <= a.ts + INTERVAL '5 minutes'
    """,
)
def range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (a, b) same-user event pairs with |ts_a - ts_b| <= 5 min,
    via bucketed equi-join: cell = floor(epoch/300s); b probes a's cell
    and both neighbors, so every qualifying pair is found exactly once
    and nothing outside +-1 cell is ever compared."""
    events = load_table(spark, sf_dir, "events")
    cell = (F.unix_timestamp("ts") / F.lit(300)).cast("long")
    a = events.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("ts").alias("ts_a"),
        cell.alias("cell"),
    )
    b = events.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("ts").alias("ts_b"),
        F.explode(F.array(cell - 1, cell, cell + 1)).alias("cell"),
    )
    gap_us = (
        F.unix_micros(F.col("ts_b").cast("timestamp"))
        - F.unix_micros(F.col("ts_a").cast("timestamp"))
    )
    return (
        a.join(b, ["user_id", "cell"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES"))
        )
        .select("user_id", "id_a", "id_b", gap_us.alias("gap_us"))
        .dropDuplicates(["user_id", "id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate Pandas UDAF — the UDF-surface family built-ins can't
# cover (arbitrary numpy per group, Arrow-transferred). Note: grouped-agg
# pandas UDFs get NO map-side partials (whole group ships to one task),
# so at scale they're for aggregates genuinely inexpressible as
# partial+final — here geometric mean is used as a verifiable stand-in.
# ---------------------------------------------------------------------------


@register(
    "pandas_udaf_geomean_price",
    oracle="""
    SELECT o_orderstatus,
           ROUND(EXP(AVG(LN(o_totalprice))), 3) AS geomean_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pandas_udaf_geomean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of order value per status via a GROUPED_AGG
    pandas UDF (exp of mean log, computed in float64 numpy)."""
    from node_gedcom_graph_spark.functions.pandas_udafs import geomean

    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(geomean("o_totalprice"), 3).alias("geomean_price")
    )


# ---------------------------------------------------------------------------
# ntile — equi-depth bucketing per partition (quartiles of customer
# balance within each region-market segment).
# ---------------------------------------------------------------------------


@register(
    "ntile_customer_balance_quartiles",
    oracle="""
    WITH t AS (
      SELECT c_mktsegment, c_custkey,
             NTILE(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    )
    SELECT c_mktsegment, quartile, COUNT(*) AS n
    FROM t GROUP BY 1, 2
    """,
)
def ntile_customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) by account balance within market segment (deterministic
    tie-break on c_custkey), aggregated to bucket sizes."""
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select("c_mktsegment", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — the general form rollup/cube specialize; one Expand +
# one hash agg regardless of how many sets are requested.
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_order_stats",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent one-dimensional aggregates in a single pass via
    GROUPING SETS (SQL form — the DataFrame API spells only its rollup/
    cube specializations)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        """
    )


@register(
    "argmax_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS top_orderkey,
           o_totalprice AS top_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's most expensive order via max_by (arg-max
    aggregate — one hash agg, no window/sort; ties broken on orderkey
    so the result is deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
        ).alias("top_orderkey"),
        F.max("o_totalprice").alias("top_totalprice"),
    )


@register(
    "date_functions_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus_3mo,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
             AS days_since_95,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
    FROM orders
    """,
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar-function surface (§2.1): truncation, interval
    arithmetic, month boundaries, day arithmetic, day-of-week. The
    reference leaves dates raw (README TODO #5); the engine types them."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus_3mo"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_95"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
    )


import os as _os

# Scale-safe fuzzy contract (round-6 verdict item 3): the member-level
# pair flood is the PRODUCT of dup-group sizes (19.73 B rows at sf10),
# so member expansion is now an explicitly-bounded option. The bound is
# checked ARITHMETICALLY (sum of gsz_a*gsz_b + C(gsz,2) over rep pairs
# — one tiny aggregate) before a single member pair is generated.
FUZZY_MEMBER_PAIR_CAP = int(
    _os.environ.get("FUZZY_MEMBER_PAIR_CAP", 1_000_000_000)
)
# ADVICE r6: the member-side broadcasts were unguarded — past Spark's
# broadcast limit they hard-OOM instead of degrading. Same pattern as
# dedup.GEMM_BROADCAST_CAP_ROWS: count rows first, fall back to a
# salted shuffled join above the cap.
FUZZY_BROADCAST_CAP_ROWS = int(
    _os.environ.get("FUZZY_BROADCAST_CAP_ROWS", 20_000_000)
)


def _fuzzy_rep_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of the fuzzy family: (part, grp, cross_rep).

    ``grp`` is one row per DISTINCT (brand, name) with its group size;
    ``cross_rep`` is the within-brand rep-pair comparison (name_a <
    name_b, length band, banded levenshtein <= 5) carrying both group
    sizes. Everything downstream is distinct-bounded: levenshtein cost
    is O(distinct^2 per brand) regardless of corpus duplication."""
    part = load_table(spark, sf_dir, "part", spread=True)
    grp = part.groupBy("p_brand", "p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("gsz")
    )
    ga = grp.select(
        "p_brand", F.col("p_name").alias("name_a"), F.col("gsz").alias("gsz_a")
    )
    gb = grp.select(
        "p_brand", F.col("p_name").alias("name_b"), F.col("gsz").alias("gsz_b")
    )
    cross_rep = (
        ga.join(gb, "p_brand")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(5))
        .withColumn(
            "edit_dist", F.expr("levenshtein(name_a, name_b, 5)").cast("int")
        )
        .filter(F.col("edit_dist") >= 0)
    )
    return part, grp, cross_rep


@register(
    "fuzzy_match_parts_replevel",
    oracle="""
    -- Rep-level contract: one row per distinct (brand, name) pair that
    -- fuzzy-matches (plus one per duplicated name), carrying group
    -- sizes and the member-pair count ARITHMETICALLY — the scalable
    -- answer to the member-level flood.  // is integer division
    -- (DuckDB / on integers yields DOUBLE); the product and C(gsz,2)
    -- are exact integers so both engines agree bit-for-bit.
    WITH grp AS MATERIALIZED (
      SELECT p_brand, p_name, CAST(COUNT(*) AS BIGINT) AS gsz
      FROM part GROUP BY p_brand, p_name
    ), cross_rep AS MATERIALIZED (
      SELECT a.p_brand, a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
             a.gsz AS gsz_a, b.gsz AS gsz_b,
             CAST(a.gsz * b.gsz AS BIGINT) AS n_member_pairs
      FROM grp a JOIN grp b
        ON a.p_brand = b.p_brand AND a.p_name < b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 5
    )
    SELECT p_brand, name_a, name_b, edit_dist, gsz_a, gsz_b, n_member_pairs
    FROM cross_rep WHERE edit_dist <= 5
    UNION ALL
    SELECT p_brand, p_name AS name_a, p_name AS name_b,
           CAST(0 AS INTEGER) AS edit_dist, gsz AS gsz_a, gsz AS gsz_b,
           CAST(gsz * (gsz - 1) // 2 AS BIGINT) AS n_member_pairs
    FROM grp WHERE gsz >= 2
    """,
)
def fuzzy_match_parts_replevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE scale-safe fuzzy-match contract (round-6 verdict item 3):
    rep-level pairs + group sizes + arithmetic member-pair counts,
    generalizing the fix that saved ``minhash_recall_report`` from
    filling the disk at sf10.

    One row per qualifying DISTINCT (brand, name) pair — ``name_a <
    name_b``, banded ``levenshtein(a, b, 5)`` — with both group sizes
    and ``n_member_pairs = gsz_a * gsz_b``; plus one row per duplicated
    name (``name_a == name_b``, ``edit_dist = 0``, ``n_member_pairs =
    C(gsz, 2)``). Every member-level fact is recoverable: the member
    pair set is exactly the union of per-row Cartesian expansions, and
    its total size is ``sum(n_member_pairs)`` — no member pair is ever
    materialized.

    Scale: compute AND output are bounded by distinct names per brand
    (vocabulary-bounded, corpus-size-independent); at sf10 this is
    seconds where the member-level expansion was 639 s of pure output
    generation. ``fuzzy_match_parts_blocked`` keeps the member-level
    semantics behind an explicit bound for consumers that genuinely
    need the pairs."""
    _, grp, cross_rep = _fuzzy_rep_frames(spark, sf_dir)
    cross = cross_rep.select(
        "p_brand",
        "name_a",
        "name_b",
        "edit_dist",
        "gsz_a",
        "gsz_b",
        (F.col("gsz_a") * F.col("gsz_b")).cast("bigint").alias("n_member_pairs"),
    )
    within = grp.filter(F.col("gsz") >= 2).select(
        "p_brand",
        F.col("p_name").alias("name_a"),
        F.col("p_name").alias("name_b"),
        F.lit(0).cast("int").alias("edit_dist"),
        F.col("gsz").alias("gsz_a"),
        F.col("gsz").alias("gsz_b"),
        (F.col("gsz") * (F.col("gsz") - F.lit(1)) / F.lit(2))
        .cast("bigint")
        .alias("n_member_pairs"),
    )
    return cross.unionByName(within)


@register(
    "fuzzy_match_parts_blocked",
    oracle="""
    -- dist is MATERIALIZED so levenshtein evaluates ONCE per candidate
    -- (the naive SELECT+WHERE spelling ran it twice), and the length
    -- band |len(a)-len(b)| <= 5 — necessary for edit distance <= 5 —
    -- prunes most within-block pairs before the O(len^2) DP runs:
    -- the same two optimizations the engine side applies, so the
    -- oracle stops dominating the gate wall (r5: 22.4 s -> ~2 s
    -- oracle-side). Result set identical: the band never drops a
    -- qualifying pair and the final filter is unchanged.
    WITH dist AS MATERIALIZED (
      SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE abs(length(a.p_name) - length(b.p_name)) <= 5
    )
    SELECT key_a, key_b, edit_dist FROM dist WHERE edit_dist <= 5
    """,
)
def fuzzy_match_parts_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution-style fuzzy matching: candidate pairs from an
    equi-join on a blocking key (brand), then an edit-distance filter.
    Blocking is what makes fuzzy matching tractable at scale — the
    quadratic comparison runs only within blocks, and the block join is
    an ordinary shuffle/broadcast hash join (salt hot blocks via
    operators.scale.salted_join when a block dominates).

    The distance runs as the THREE-ARG ``levenshtein(a, b, 5)`` —
    Spark's banded DP computes only the |i-j| <= threshold diagonal
    (O(len*k) not O(len^2)) and early-exits to -1 the moment the band
    minimum exceeds it, which is the common case for non-matching
    pairs (measured ~5x per-pair at sf1 block sizes).

    EXACT-DUPLICATE COLLAPSE (the r6 sf10 fix, same pipeline order as
    the dedup family): identical names have identical edit distance
    against everything, so the quadratic comparison runs over DISTINCT
    (brand, name) groups — levenshtein cost is O(distinct^2 per
    brand), INDEPENDENT of corpus size (this fixture draws names from
    a 64-value vocabulary, so 100-way duplication at sf10 would
    otherwise be 80 B within-block DP calls; collapsed it is ~50 k) —
    then member pairs are reconstructed mechanically: cross-group
    pairs inherit the rep distance verbatim, within-group pairs are
    distance 0. Output stays the honest member-level pair set (the
    flood is output-bound, not compute-bound).

    Honest scale bound, surfaced by the sf1 sweep: with a FIXED number
    of brands the member-pair OUTPUT still grows O(n^2); collapse
    makes the compute distinct-bounded but a real pipeline thresholds
    or aggregates downstream. Character-level pigeonhole blocking
    (PassJoin segments / q-chunks) is unsound to prune further HERE
    because names collide across most of a block. At real scale the
    contract to reach for is the LSH family (dedup_minhash_lsh) or a
    richer blocking key; this operator's job is the exact within-block
    semantics, now at the cheapest per-pair cost the engine offers.

    ``spread=True``: a single-file part table gives the scans ONE
    input split; the distinct and the member joins should use every
    core.

    EXPLICIT OUTPUT BOUND (round-7): member expansion is the
    scale-unsafe tier of the fuzzy family — its size is the product of
    dup-group sizes (19.73 B rows at sf10, 639 s of pure output
    generation). Before generating a single pair, the total is
    computed ARITHMETICALLY from the rep-level frame
    (sum gsz_a*gsz_b + sum C(gsz,2) — one tiny aggregate action); past
    ``FUZZY_MEMBER_PAIR_CAP`` (env, default 1e9) the query REFUSES
    with a pointer to ``fuzzy_match_parts_replevel``, which carries
    the same information at rep level.

    Expansion is JOIN FAN-OUT, not array explode: carrying a
    collect_list of group members through an explode copies the whole
    id array into every exploded row (at sf10 that staging alone is
    ~80 GB and timed the first collapsed version out); joining the
    member table back on (brand, name) generates the same member
    pairs streamwise inside the join's whole-stage codegen, no array
    ever materialized per row.

    BROADCAST GUARD (r6 advice): the member sides broadcast only while
    ``part`` fits ``FUZZY_BROADCAST_CAP_ROWS`` (default 20 M rows,
    ~200 MB); above it the fan-out falls back to a SALTED shuffled
    join — the probe row is exploded over ncores salt values and the
    member side is salted by ``pmod(hash(partkey), ncores)``, so a hot
    (brand, name) key's members split across ncores reducers instead
    of landing on one (the exact skew that stalled the sf10 run 900 s
    pre-broadcast)."""
    part, grp, cross_rep = _fuzzy_rep_frames(spark, sf_dir)
    from node_gedcom_graph_spark.operators import persist_tracked

    rep_pairs = persist_tracked(
        cross_rep.select("p_brand", "name_a", "name_b", "edit_dist")
    )
    # Arithmetic size check — no member pair materialized to compute it.
    ga_sz = grp.select(
        "p_brand", F.col("p_name").alias("name_a"), F.col("gsz").alias("gsz_a")
    )
    gb_sz = grp.select(
        "p_brand", F.col("p_name").alias("name_b"), F.col("gsz").alias("gsz_b")
    )
    n_cross = (
        rep_pairs.join(ga_sz, ["p_brand", "name_a"])
        .join(gb_sz, ["p_brand", "name_b"])
        .agg(F.coalesce(F.sum(F.col("gsz_a") * F.col("gsz_b")), F.lit(0)))
        .first()[0]
    )
    n_within = (
        grp.agg(
            F.coalesce(F.sum(F.col("gsz") * (F.col("gsz") - 1) / 2), F.lit(0))
        ).first()[0]
    )
    total = int(n_cross) + int(n_within)
    if total > FUZZY_MEMBER_PAIR_CAP:
        raise RuntimeError(
            f"fuzzy member expansion refused: {total:,} member pairs > "
            f"FUZZY_MEMBER_PAIR_CAP={FUZZY_MEMBER_PAIR_CAP:,}. Use "
            "fuzzy_match_parts_replevel (rep-level pairs + group sizes + "
            "arithmetic member counts — same information, output bounded "
            "by distinct names) or raise the cap explicitly."
        )
    ma = part.select(
        "p_brand", F.col("p_name").alias("name_a"), F.col("p_partkey").alias("_a")
    )
    mb = part.select(
        "p_brand", F.col("p_name").alias("name_b"), F.col("p_partkey").alias("_b")
    )
    # BROADCAST the member sides and ROUND-ROBIN the tiny rep-pair
    # probe first: a shuffled fan-out join partitions output by the
    # join key, and output per (brand, name) key varies with the
    # partner count — the sf10 post-fix run stalled 900 s on ONE
    # skewed partition while 32 finished in minutes. Broadcast makes
    # the fan-out map-side, so output is balanced by probe rows
    # (~uniform per rep pair), at the fan-out join's measured ~65M
    # rows/s/core ceiling.
    ncores = spark.sparkContext.defaultParallelism
    n_parts = part.count()  # parquet metadata count — no full scan
    if n_parts <= FUZZY_BROADCAST_CAP_ROWS:
        cross = (
            rep_pairs.repartition(ncores)
            .join(F.broadcast(ma), ["p_brand", "name_a"])
            .join(F.broadcast(mb), ["p_brand", "name_b"])
            .select(
                F.least("_a", "_b").alias("key_a"),
                F.greatest("_a", "_b").alias("key_b"),
                "edit_dist",
            )
        )
        wa = part.select(
            F.col("p_brand").alias("ba"),
            F.col("p_name").alias("na"),
            F.col("p_partkey").alias("_a"),
        )
        wb = part.select(
            F.col("p_brand").alias("bb"),
            F.col("p_name").alias("nb"),
            F.col("p_partkey").alias("_b"),
        )
        within = wa.join(
            F.broadcast(wb),
            (F.col("ba") == F.col("bb"))
            & (F.col("na") == F.col("nb"))
            & (F.col("_a") < F.col("_b")),
        ).select(
            F.col("_a").alias("key_a"),
            F.col("_b").alias("key_b"),
            F.lit(0).cast("int").alias("edit_dist"),
        )
    else:
        # Salted shuffled fallback: member rows carry a hash salt; the
        # tiny probe is replicated over every salt value, so each hot
        # (brand, name) key spreads over ncores reducers. The second
        # fan-out join's input is already salted-balanced from the
        # first, and AQE skew-join splits any residual imbalance.
        salts = F.array(*[F.lit(i) for i in range(ncores)])
        ma_s = ma.withColumn("_s", F.pmod(F.hash("_a"), F.lit(ncores)))
        probe = rep_pairs.withColumn("_s", F.explode(salts))
        # First fan-out salted (the probe is tiny — replicating it is
        # free); the second join's left side is already spread across
        # ncores salt groups, so its shuffle is balanced by
        # construction, and AQE skew-join splits any residual hot
        # (brand, name_b) member partition (duplicating the matching
        # probe blocks) — no need to replicate the large intermediate.
        cross = (
            probe.join(ma_s, ["p_brand", "name_a", "_s"])
            .join(mb, ["p_brand", "name_b"])
            .select(
                F.least("_a", "_b").alias("key_a"),
                F.greatest("_a", "_b").alias("key_b"),
                "edit_dist",
            )
        )
        dup_names = grp.filter(F.col("gsz") >= 2).select("p_brand", "p_name")
        wm = part.join(dup_names, ["p_brand", "p_name"], "left_semi")
        wa = wm.select(
            "p_brand", "p_name", F.col("p_partkey").alias("_a")
        ).withColumn("_s", F.pmod(F.hash("_a"), F.lit(ncores)))
        wb = wm.select(
            "p_brand", "p_name", F.col("p_partkey").alias("_b")
        ).withColumn("_s", F.explode(salts))
        within = (
            wa.join(wb, ["p_brand", "p_name", "_s"])
            .filter(F.col("_a") < F.col("_b"))
            .select(
                F.col("_a").alias("key_a"),
                F.col("_b").alias("key_b"),
                F.lit(0).cast("int").alias("edit_dist"),
            )
        )
    return cross.unionByName(within)


@register(
    "full_outer_nation_activity",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_customers
      FROM customer GROUP BY 1
    ), s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
      FROM supplier GROUP BY 1
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer and supplier counts —
    nations active on only one side survive with a zero on the other.
    Aggregate-then-join: the outer join sees one row per nation, not
    the raw fact tables."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nk_c")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nk_s")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, c["nk_c"] == s["nk_s"], "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register("approx_percentile_prices")  # no oracle: t-digest/GK sketches differ
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna) — the constant-memory,
    mergeable companion to percentiles_lineitem_price; tests pin it
    within 1% relative error of the exact quantiles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), 10000).alias("approx_q")
    ).select(
        "l_returnflag",
        F.col("approx_q")[0].alias("p25"),
        F.col("approx_q")[1].alias("p50"),
        F.col("approx_q")[2].alias("p75"),
    )
