"""Composite analytical workloads (TPC-H-shaped; SURVEY §2B composition).

Single-operator keys prove each primitive; these keys prove the primitives
COMPOSE — multi-join + multi-aggregate + subquery in one plan, the shape
real reporting queries take. Modeled on TPC-H Q1/Q5/Q16 over the driver's
TPC-H-ish fixtures (column subsets differ from the official spec where the
fixtures lack columns; the operator composition is the point).

Scale notes: these are the plans AQE was built for — star joins where
dimension sides broadcast, fact-fact joins shuffle on the key, partial
aggregation runs map-side, and runtime stats re-plan the join order. No
driver materialization anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import davg, dsum, load, sql_davg, sql_dsum


@query(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", 2)} AS sum_qty,
           {sql_dsum("l_extendedprice", 2)} AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)}
             AS sum_charge,
           {sql_davg("l_quantity", 2)} AS avg_qty,
           {sql_davg("l_extendedprice", 2)} AS avg_price,
           {sql_davg("l_discount", 2)} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical scan-heavy aggregate — 8 aggregates over a
    date-filtered fact scan, grouped by two low-cardinality flags. The
    filter pushes to parquet; partial aggregation collapses 600k rows to 4
    groups map-side, so the shuffle carries ~4 rows per task."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "tpch_q5_local_volume",
    oracle=f"""
    SELECT n_name,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: six-table star join (two fact tables, four dimensions)
    with a same-nation correlation between customer and supplier. The
    dimensions (supplier/nation/region/customer-at-this-sf) broadcast; the
    orders⋈lineitem fact join is the only large shuffle. This is the query
    join-reordering exists for — Catalyst pushes the region filter through
    nation into supplier before any fact joins."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type,
           CAST(count(DISTINCT s_suppkey) AS BIGINT) AS supplier_cnt
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE p_brand <> 'Brand#1'
      AND s_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: join + NOT IN subquery (null-aware anti join) +
    COUNT(DISTINCT) per group. The anti join broadcasts the excluded-key
    set; the distinct aggregate expands to a two-phase plan (distinct on
    (group, suppkey), then count per group)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    excluded = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s.join(excluded, "s_suppkey", "left_anti"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("s_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_epoch,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: the classic shipping-priority top-k — segment-filtered
    customer broadcast into orders, fact-fact join to lineitem, grouped
    revenue, global top-10 (TakeOrderedAndProject, no full sort). Both
    date filters push to the parquet scans; the only shuffle is
    orders⋈lineitem on the order key. o_orderdate is projected as an epoch
    bigint (temporal outputs as numbers keeps the oracle comparison exact).
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    return (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue ranking — quarter-filtered orders
    joined to return-flagged lineitems, nation broadcast onto the customer
    dimension, top-20 customers by lost revenue. The o_orderdate range and
    l_returnflag equality both reach PushedFilters; AQE sizes the
    orders⋈lineitem shuffle from runtime stats."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q18_large_volume",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 1e2 AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 30000
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    """,
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume-customer — an aggregated HAVING subquery
    feeding a semi join back onto the same fact table, then a second
    grouped aggregate. The qualifying-order set is tiny after the HAVING
    cut, so it broadcasts into the semi join; the quantity threshold is
    compared in exact int64 (scaled) so both engines make the identical
    cut. One logical lineitem scan serves both sides (same parquet
    splits; Spark reuses the exchange under AQE where possible)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    qscaled = F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
    big = (
        li.groupBy("l_orderkey")
        .agg(qscaled.alias("q"))
        .filter(F.col("q") > 30000)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == big["l_orderkey"], "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg((qscaled / F.lit(1e2)).alias("sum_qty"))
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking — quarter-filtered orders
    that EXIST-match a lineitem predicate, counted per priority. (The
    fixtures lack l_commitdate/l_receiptdate, so the EXISTS predicate is
    l_returnflag='R'; the plan shape — date-pruned scan, broadcast-able
    semi join on the order key, partial-agg count — is the spec query's.)"""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li.select("l_orderkey"), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the forecasting-revenue-change query — a pure scan-filter-
    aggregate with three pushable predicates and NO join or group key: the
    whole query is one map-side partial sum + a 1-row final agg. At 100 TB
    this is bounded by scan throughput alone; every predicate must appear
    in PushedFilters."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue")
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum("volume", 4)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: volume shipping between two nations by year — the
    double-dimension join (nation joined twice under different roles) with
    a disjunctive cross-filter. Both nation sides broadcast; the only big
    shuffles are the fact joins. The year() projection groups by derived
    column — tests expression group keys through a 6-table plan."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           SUM(CASE WHEN supp_nation = 'NATION_1'
                    THEN CAST(round(volume * 1e4) AS BIGINT) ELSE 0 END)
             / CAST(SUM(CAST(round(volume * 1e4) AS BIGINT)) AS DOUBLE)
             AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    )
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — the deepest join in the suite
    (8 tables), finishing in a conditional-ratio aggregate
    (share = Σ volume·[nation=X] / Σ volume). Numerator and denominator
    are exact scaled-int sums; the single final division is IEEE-identical
    in both engines. Part/supplier/nation/region broadcast; fact joins
    shuffle once each."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    scaled = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(1e4)).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_1", scaled).otherwise(F.lit(0)))
                / F.sum(scaled).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT nation, o_year,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice, l_discount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year. (The
    fixtures lack partsupp.ps_supplycost, so profit reduces to discounted
    revenue; the plan — LIKE-filtered part broadcast into lineitem, supplier
    and nation broadcast, orders shuffle-joined, two-key derived group — is
    the spec query's.) The p_name LIKE predicate cannot push to parquet as
    a range, but column pruning still holds."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            "l_extendedprice",
            "l_discount",
        )
        .groupBy("nation", "o_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "profit"
            )
        )
    )


@query(
    "tpch_q12_late_shipments",
    oracle="""
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
                THEN 'late' ELSE 'ontime' END AS delay_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipping-delay analysis — lineitems bucketed by
    ship delay (>90 days after order = late), with conditional counts of
    high- vs low-priority orders per bucket. (The fixtures lack
    l_shipmode/l_commitdate/l_receiptdate; the delay bucket derived from
    datediff(l_shipdate, o_orderdate) preserves the query's derived-
    group-key + pivoted-conditional-count composition.)"""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn(
            "delay_class",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "late"
            ).otherwise("ontime"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT 100.0 * SUM(CASE WHEN p_type = 'PROMO'
                            THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e4)
                                      AS BIGINT) ELSE 0 END)
           / CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 1e4)
                           AS BIGINT)) AS DOUBLE)
             AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion-effect ratio — one month of lineitems, part
    dimension broadcast, and a conditional/total revenue ratio in a single
    1-row aggregate. Exact scaled-int sums; the final 100·num/den division
    is one IEEE op in both engines."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load(spark, sf_dir, "part")
    scaled = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * F.lit(1e4)).cast("long")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", scaled).otherwise(F.lit(0)))
                / F.sum(scaled).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier — a grouped revenue view consumed TWICE
    (once for the per-supplier rows, once reduced to its max) and joined
    back. The max is a 1-row broadcast (scalar-subquery shape), never a
    driver collect. Exact because revenue is an exact scaled sum — ties
    included identically."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_quantity",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey,
             0.2 * (SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 1e2
                    / count(*)) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 1e2 / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg USING (l_partkey)
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
    """,
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity-order revenue — the correlated scalar
    subquery (per-part average quantity) expressed as a grouped view
    joined back to the fact, then a 1-row aggregate. The per-part average
    uses the exact-int-sum / count pattern, so the 0.2·avg threshold and
    the < comparison are bit-identical across engines. At scale the
    part_avg side is far smaller than lineitem (one row per part) and
    broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    part_avg = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                / F.lit(1e2)
                / F.count(F.lit(1))
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / F.lit(1e2)
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: discounted revenue under three OR'd predicate groups
    spanning both join sides — the classic test of join-condition
    normalization: the optimizer must extract the common p_partkey equi-
    join instead of degrading to a nested loop, leaving the disjunction as
    a post-join filter. (Fixture has no p_container; brand/size/quantity
    bands carry the disjunctive shape.)"""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(band)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q22_global_sales",
    oracle="""
    WITH avg_bal AS (
      SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 1e2 / count(*)
               AS threshold
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 1e2 AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > threshold
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the average
    balance with NO recent orders, grouped with count + balance sum. (The
    fixtures lack c_phone, so the country-code group becomes c_mktsegment
    and "never ordered" becomes "no orders since 2000" — preserving the
    scalar-subquery threshold + null-aware anti join + grouped aggregate
    composition.) The threshold is a 1-row broadcast; the anti join
    broadcasts the recent-customer key set."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            / F.lit(1e2)
            / F.count(F.lit(1))
        ).alias("threshold")
    )
    return (
        c.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")) / F.lit(1e2)).alias(
                "totacctbal"
            ),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution — the double aggregate
    (count per customer, then histogram of those counts) over a LEFT join
    that must preserve order-less customers as c_count=0. (The fixtures
    lack o_comment, so the spec's NOT LIKE filter is dropped; the
    outer-join-then-reaggregate composition is the point.) First agg
    shuffles on c_custkey, second on the tiny c_count domain — partial
    aggregation collapses it map-side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone caused a fault in multi-supplier
    orders — the EXISTS + NOT-EXISTS double correlation on the same fact
    table. (Fixtures lack commit/receipt dates, so "late" is
    l_returnflag='R'; the three-scan correlation structure is the spec's.)
    Both correlations become semi/anti joins on l_orderkey against
    aggregated order-level facts, so lineitem is scanned, aggregated to
    per-order supplier/fault sets, and joined back — no per-row subquery
    execution at any scale."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.filter(F.col("l_returnflag") == "R")
    # per-order facts: does another supplier have a line / a returned line?
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    multi_ret = (
        l1.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_ret_supp"))
        .filter(F.col("n_ret_supp") > 1)
        .select(F.col("l_orderkey").alias("ret_orderkey"))
    )
    return (
        l1.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(multi_supp, "l_orderkey", "left_semi")
        .join(
            multi_ret,
            F.col("l_orderkey") == F.col("ret_orderkey"),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q2_min_cost_supp",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_cents
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), cand AS (
      SELECT s_acctbal, s_name, n_name, p_partkey, cost_cents,
             min(cost_cents) OVER (PARTITION BY p_partkey) AS min_cents
      FROM supply
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20
        AND p_type = 'LARGE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey,
           cost_cents / 1e2 AS supplycost
    FROM cand WHERE cost_cents = min_cents
    ORDER BY s_acctbal DESC, n_name NULLS LAST, s_name NULLS LAST, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: minimum-cost supplier per part within a region — the
    correlated-MIN subquery, expressed as a window MIN over the region-
    scoped candidate set (one shuffle on p_partkey instead of a second
    aggregate + join-back). The fixtures lack partsupp, so the supply
    relation is derived from lineitem as min observed line price per
    (part, supplier) — exact integer cents, so the MIN and the equality
    against it are bit-deterministic. Dimension sides (part filter,
    supplier->nation->region chain) broadcast; the top-100 is
    TakeOrderedAndProject with a total tie-breaking sort order, never a
    global sort. Mirrors reference README.md:54-60 multi-catalog demo
    queries in spirit (cross-table reporting over the same fixtures)."""
    li = load(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "cost_cents"
        )
    )
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = s.join(
        F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey")
    ).join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
    from pyspark.sql.window import Window

    cand = (
        supply.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(eu_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .withColumn(
            "min_cents", F.min("cost_cents").over(Window.partitionBy("p_partkey"))
        )
    )
    return (
        cand.filter(F.col("cost_cents") == F.col("min_cents"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("cost_cents") / F.lit(1e2)).alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc_nulls_last(),
            F.col("s_name").asc_nulls_last(),
            "p_partkey",
        )
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH natval AS (
      SELECT l_partkey,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, cents / 1e2 AS value
    FROM natval
    WHERE cents * 500 > (SELECT SUM(cents) FROM natval)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose single-nation inventory value exceeds a
    fraction of that nation's total — the grouped-aggregate-vs-global-
    scalar-subquery shape. (Fixtures lack partsupp, so value is the
    nation's lineitem revenue per part.) The threshold comparison is kept
    in exact integer cents (cents*500 > total) so the cut is bit-
    deterministic; the global total is a 1-row broadcast cross-join, the
    scalar-subquery plan Spark itself produces."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_supp = s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    natval = (
        li.join(F.broadcast(nat_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    total = natval.agg(F.sum("cents").alias("total_cents"))
    return (
        natval.crossJoin(F.broadcast(total))
        .filter(F.col("cents") * 500 > F.col("total_cents"))
        .select("l_partkey", (F.col("cents") / F.lit(1e2)).alias("value"))
    )


@query(
    "tpch_q20_potential_promo",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_1'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'small %'
        )
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 50
      )
    """,
)
def tpch_q20_potential_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers with excess promo-part volume — the nested
    IN-chain (supplier IN suppliers-of (parts IN name-filtered parts))
    with a HAVING threshold on shipped quantity. (Fixtures lack
    partsupp.ps_availqty, so the spec's 0.5*availqty threshold is a
    constant; the two-level semi-join composition is the spec's.) Both INs
    become left-semi hash joins: the part filter broadcasts into lineitem,
    the qualifying-supplier set broadcasts into supplier. l_quantity is
    integral in the fixtures; per-value BIGINT casts make the HAVING sum
    exact."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small %"))
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    qual = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(qual),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )


@query(
    "ext_forget_cascade",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ), ords AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM forget)
    ), lines AS (
      SELECT l_orderkey, l_linenumber FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT count(*) FROM forget) AS BIGINT) AS n_delete,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM ords) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lines) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
)
def ext_forget_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten deletion manifest: a forget-list of customers
    cascades through the foreign-key chain (customer → orders → lineitem),
    and the manifest reports per table how many rows a compliant purge
    must touch, next to the table totals — the dry-run every GDPR delete
    job emits for sign-off before rewriting files.

    Scale: two semi-join hops (each a broadcast of the shrinking key set)
    plus three counts; the actual purge is then an anti-join rewrite of
    exactly the partitions holding those keys (sink_merge_upsert's
    partition-scoped pattern)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    forget = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    ords = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    lines = li.join(
        F.broadcast(ords), li.l_orderkey == ords.o_orderkey, "left_semi"
    )
    rows = [
        ("customer", forget, cust),
        ("orders", ords, orders),
        ("lineitem", lines, li),
    ]
    out = None
    for name, del_df, tot_df in rows:
        row = (
            del_df.agg(F.count(F.lit(1)).alias("n_delete"))
            .join(tot_df.agg(F.count(F.lit(1)).alias("n_total")))
            .select(F.lit(name).alias("tbl"), "n_delete", "n_total")
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "ext_integrity_audit",
    oracle="""
    SELECT 'orders_without_customer' AS check_name,
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_without_order',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT)
    UNION ALL
    SELECT 'customer_bad_nation',
           CAST((SELECT count(*) FROM customer
                 WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
                AS BIGINT)
    """,
)
def ext_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned orders, orphaned line items,
    and customers pointing at unknown nations — the constraint checks a
    lake table can't enforce on write and therefore must ASSERT on read
    (the reference's Hive tables have exactly this property). Zero
    violations on healthy fixtures; any non-zero is an ingest bug.

    Scale: three anti-join counts; each parent key set broadcasts (dims)
    or semi-join-shuffles once (orders). The audit reads every fact table
    once, total."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    checks = [
        (
            "orders_without_customer",
            orders.join(
                cust, orders.o_custkey == cust.c_custkey, "left_anti"
            ),
        ),
        (
            "lineitem_without_order",
            li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
        ),
        (
            "customer_bad_nation",
            cust.join(
                F.broadcast(nation),
                cust.c_nationkey == nation.n_nationkey,
                "left_anti",
            ),
        ),
    ]
    out = None
    for name, df in checks:
        row = df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "ext_schema_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT),
           CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
    FROM orders
    """,
)
def ext_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling report: per-column row count, null count, distinct
    count, and min/max (stringified; doubles integer-scaled ×100 so the
    cross-engine comparison is exact) — the table a data platform renders
    on every dataset page, and the first sanity gate after any ingest.

    Scale: count/min/max fuse into one partial-aggregable aggregation;
    count(distinct) of several columns at once expands Spark's plan, so
    each distinct count runs in its own aggregate over its own scan (a
    shared cached scan measured slower at sf0.01 and sf0.1); the profile
    rows then union driver-free. The profile is columns × 1 rows
    regardless of table size."""
    orders = load(spark, sf_dir, "orders")

    def profile(col: str, distinct_expr, min_expr, max_expr) -> DataFrame:
        return orders.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(distinct_expr).alias("n_distinct"),
            min_expr.cast("string").alias("min_s"),
            max_expr.cast("string").alias("max_s"),
        )

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        profile("o_orderkey", F.col("o_orderkey"),
                F.min("o_orderkey"), F.max("o_orderkey"))
        .unionAll(profile("o_orderstatus", F.col("o_orderstatus"),
                          F.min("o_orderstatus"), F.max("o_orderstatus")))
        .unionAll(profile("o_orderpriority", F.col("o_orderpriority"),
                          F.min("o_orderpriority"), F.max("o_orderpriority")))
        .unionAll(profile("o_totalprice", cents,
                          F.round(F.min("o_totalprice") * 100).cast("long"),
                          F.round(F.max("o_totalprice") * 100).cast("long")))
    )


_EWMA_W = (128, 64, 32, 16, 8, 4, 2, 1)  # 2^-k weights x 128, k = 0..7


@query(
    "ext_ewma_events",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ), lagged AS (
      SELECT user_id, event_id, ts,
             c AS c0, lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
             lag(c, 3) OVER w AS c3, lag(c, 4) OVER w AS c4,
             lag(c, 5) OVER w AS c5, lag(c, 6) OVER w AS c6,
             lag(c, 7) OVER w AS c7
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(
             (128 * c0 + coalesce(64 * c1, 0) + coalesce(32 * c2, 0)
              + coalesce(16 * c3, 0) + coalesce(8 * c4, 0)
              + coalesce(4 * c5, 0) + coalesce(2 * c6, 0)
              + coalesce(1 * c7, 0))
             * 1000000
             // (128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                 + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                 + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                 + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
                 + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
                 + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
                 + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END)
             AS BIGINT) AS ewma_micro_cents
    FROM lagged
    """,
)
def ext_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of purchase values per user
    (α = 1/2, truncated at 8 lags): the smoothed per-user spend signal a
    fraud or LTV model consumes. All arithmetic is integer (values in
    cents, power-of-two weights, integer normalization by the weights
    actually present), so the result is exact and order-independent up to
    the deterministic (ts, event_id) event ordering.

    Scale: one window shuffle on user_id — the truncated-lag form is what
    makes EWMA expressible as a fixed window expression instead of a
    sequential recurrence, which is exactly the trade a distributed
    engine wants (8 lags ≈ weight coverage 1 − 2⁻⁸ = 99.6%)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("c", k).over(w).alias(f"c{k}") for k in range(8)]
    lagged = v.select("user_id", "event_id", *lags)
    num = sum(
        (
            F.coalesce(F.col(f"c{k}") * _EWMA_W[k], F.lit(0))
            for k in range(1, 8)
        ),
        F.col("c0") * _EWMA_W[0],
    )
    den = sum(
        (
            F.when(F.col(f"c{k}").isNull(), 0).otherwise(_EWMA_W[k])
            for k in range(1, 8)
        ),
        F.lit(_EWMA_W[0]),
    )
    return lagged.select(
        "user_id",
        "event_id",
        F.floor(num * 1000000 / den).cast("long").alias("ewma_micro_cents"),
    )


_Z_BITS = 8


def _z_sql(x: str, y: str) -> str:
    """DuckDB text of the 2-D Morton interleave (mirrors the Spark side)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


@query(
    "ext_zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT l_orderkey, l_partkey,
             ({_z_sql("(l_orderkey & 255)", "(l_partkey & 255)")}) AS zval
      FROM lineitem
    )
    SELECT CAST(zval >> 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(l_orderkey & 255) AS BIGINT) AS ok_lo,
           CAST(max(l_orderkey & 255) AS BIGINT) AS ok_hi,
           CAST(min(l_partkey & 255) AS BIGINT) AS pk_lo,
           CAST(max(l_partkey & 255) AS BIGINT) AS pk_hi
    FROM z GROUP BY 1
    """,
)
def ext_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) layout planning: interleave the low 8 bits of two
    join/filter keys into one curve value and bucket by its high byte —
    each bucket then covers a SMALL RECTANGLE in (orderkey, partkey)
    space, which is what makes multi-column data skipping work: a
    predicate on either column prunes most buckets, where single-column
    sort order only ever prunes on its leading column. The emitted
    per-bucket min/max ranges ARE the skipping index a lakehouse writes
    as file-level stats after a z-ordered repartition.

    Scale: the curve value is pure per-row bit arithmetic (codegen, no
    shuffle); the bucket aggregation is the same shuffle a
    repartitionByRange(zval) write would do — this key measures the
    layout before paying for the rewrite."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_orderkey").bitwiseAND(F.lit(255))
    y = F.col("l_partkey").bitwiseAND(F.lit(255))
    zval = F.lit(0)
    for i in range(_Z_BITS):
        zval = zval.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    z = li.select(x.alias("ok"), y.alias("pk"), zval.alias("zval"))
    return z.groupBy(
        F.shiftright("zval", 8).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ok").cast("long").alias("ok_lo"),
        F.max("ok").cast("long").alias("ok_hi"),
        F.min("pk").cast("long").alias("pk_lo"),
        F.max("pk").cast("long").alias("pk_hi"),
    )


@query(
    "ext_ks_two_sample",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
               AS grp
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), n AS (
      SELECT SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1
      FROM v
    ), steps AS (
      SELECT c,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS k0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS k1
      FROM v GROUP BY c
    ), ecdf AS (
      SELECT c,
             SUM(k0) OVER (ORDER BY c) AS c0,
             SUM(k1) OVER (ORDER BY c) AS c1
      FROM steps
    )
    SELECT CAST(n.n0 AS BIGINT) AS n_weekday,
           CAST(n.n1 AS BIGINT) AS n_weekend,
           CAST(max(abs(CAST(c0 AS DOUBLE) * 1000000 // n.n0
                        - CAST(c1 AS DOUBLE) * 1000000 // n.n1))
                AS BIGINT) AS ks_d6
    FROM ecdf, n
    GROUP BY n.n0, n.n1
    """,
)
def ext_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic: D = max |ECDF₁ − ECDF₂|
    between weekday and weekend purchase values — THE distribution-shift
    test between two slices (drift gates, A/B sanity, source QA), and
    the supremum-norm complement to ext_wasserstein_1d's integral-norm
    distance. ECDF steps come from exact integer counts at each distinct
    value; the sup runs over value steps, so the statistic is exact in
    micro-units (each ECDF floored to 1e-6 identically in both engines).

    Scale: one aggregation to distinct-value step counts, then BOTH
    ECDF prefix sums ride one ``distributed_running_sum`` (range
    exchange + broadcast offsets — no single-task ordering even at
    extreme value domains), and a global max."""
    # NULL purchase values are pre-filtered on BOTH engines (Families
    # N6+N1, lockstep): a NULL has no place on a value ECDF, and leaving
    # it in would step the cumulatives at opposite ends of the domain
    # (Spark NULLS FIRST vs DuckDB NULLS LAST).
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("value").isNotNull())
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("grp"),
    )
    n = v.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
    )
    steps = v.groupBy("c").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("k0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("k1"),
    )
    from .quantiles import distributed_running_sum

    ecdf = distributed_running_sum(
        steps, ["c"], ["k0", "k1"], ["c0", "c1"]
    ).select("c0", "c1")
    d = (
        ecdf.join(F.broadcast(n))
        .select(
            "n0",
            "n1",
            # try_divide: an empty slice (zero weekend purchases after
            # the NULL gate) has n = 0 where the oracle's `// 0` yields
            # NULL — the KS statistic of a one-sided comparison is NULL
            # on both engines (Family N6).
            F.abs(
                F.floor(
                    F.try_divide(F.col("c0").cast("double") * 1000000, F.col("n0"))
                )
                - F.floor(
                    F.try_divide(F.col("c1").cast("double") * 1000000, F.col("n1"))
                )
            ).alias("step_d6"),
        )
        .groupBy("n0", "n1")
        .agg(F.max("step_d6").cast("long").alias("ks_d6"))
    )
    return d.select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        "ks_d6",
    )


@query(
    "ext_join_order_cost_model",
    oracle="""
    WITH sizes AS (
      SELECT 'customer' AS t, CAST(count(*) AS BIGINT) AS n FROM customer
      UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
      UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
    ), keys AS (
      SELECT 'customer' AS t, CAST(count(DISTINCT c_custkey) AS BIGINT) AS k
      FROM customer
      UNION ALL SELECT 'orders', CAST(count(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL SELECT 'lineitem', CAST(count(DISTINCT l_orderkey) AS BIGINT)
      FROM lineitem
    ), params AS (
      SELECT
        (SELECT n FROM sizes WHERE t = 'customer') AS nc,
        (SELECT n FROM sizes WHERE t = 'orders') AS no_,
        (SELECT n FROM sizes WHERE t = 'lineitem') AS nl,
        (SELECT count(DISTINCT o_custkey) FROM orders) AS dk_cust,
        (SELECT k FROM keys WHERE t = 'orders') AS dk_ord
    )
    SELECT plan_order,
           CAST(est_intermediate AS BIGINT) AS est_intermediate,
           CAST(row_number() OVER (ORDER BY est_intermediate, plan_order)
                AS BIGINT) AS plan_rank
    FROM (
      SELECT '(customer x orders) x lineitem' AS plan_order,
             no_ AS est_intermediate FROM params
      UNION ALL
      SELECT '(orders x lineitem) x customer', nl FROM params
      UNION ALL
      SELECT '(customer x lineitem) x orders', nc * nl FROM params
    )
    """,
)
def ext_join_order_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textbook JOIN-ORDER cost model, made executable: for the 3-table
    star customer⋈orders⋈lineitem, estimate each left-deep order's
    intermediate cardinality from exact table stats (FK joins preserve
    the fact side's count; the customer×lineitem start has NO join key —
    a cartesian, estimated n_c·n_l) and rank the plans — precisely the
    comparison Catalyst's CBO runs with its own statistics, surfaced as
    a queryable result so a pipeline can sanity-check the optimizer's
    choice against first principles. All estimates are exact-integer
    arithmetic over counts.

    Scale: three count aggregations; the model itself is constant-size."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    params = (
        c.agg(F.count(F.lit(1)).alias("nc"))
        .join(F.broadcast(o.agg(F.count(F.lit(1)).alias("no_"))))
        .join(F.broadcast(li.agg(F.count(F.lit(1)).alias("nl"))))
    )
    plans = params.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("(customer x orders) x lineitem").alias(
                        "plan_order"
                    ),
                    F.col("no_").alias("est_intermediate"),
                ),
                F.struct(
                    F.lit("(orders x lineitem) x customer").alias(
                        "plan_order"
                    ),
                    F.col("nl").alias("est_intermediate"),
                ),
                F.struct(
                    F.lit("(customer x lineitem) x orders").alias(
                        "plan_order"
                    ),
                    (F.col("nc") * F.col("nl")).alias("est_intermediate"),
                ),
            )
        ).alias("p")
    ).select("p.plan_order", "p.est_intermediate")
    w = Window.orderBy("est_intermediate", "plan_order")
    return plans.withColumn("plan_rank", F.row_number().over(w).cast("long"))


@query(
    "ext_power_analysis",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_cents,
           -- MDE at 80% power / 5% two-sided: (1.96 + 0.8416)·sqrt(2σ²/n)
           CAST(round((1.96 + 0.8416)
                      * sqrt(2.0 * (CAST(s2 AS DOUBLE) / n
                                    - (CAST(s1 AS DOUBLE) / n)
                                      * (CAST(s1 AS DOUBLE) / n)) / n))
                AS BIGINT) AS mde_cents
    FROM s WHERE n >= 2
    """,
)
def ext_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER ANALYSIS: per metric (event type), the minimum
    detectable effect at 80% power / 5% significance given the observed
    variance and sample size — (z_{0.975}+z_{0.80})·√(2σ²/n), the number
    an experimenter needs BEFORE launching an A/B test ("can this test
    even see the effect size we care about?"), complementing
    ext_ab_test_lift's after-the-fact readout. Moments are exact integer
    sums of cents, so σ² and the MDE are computed from bit-identical
    operands in both engines.

    Scale: one grouped moment aggregation — nothing else touches the
    events."""
    ev = load(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
    ).filter(F.col("n") >= 2)
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return s.select(
        "event_type",
        "n",
        F.round(mean).cast("long").alias("mean_cents"),
        F.round((1.96 + 0.8416) * F.sqrt(2.0 * var / F.col("n")))
        .cast("long")
        .alias("mde_cents"),
    )


@query(
    "ext_did_estimate",
    oracle="""
    WITH bound AS (
      -- pre/post boundary = midpoint of the data's own time range, so the
      -- four cells are populated on any fixture vintage
      SELECT (epoch(min(ts)) + epoch(max(ts))) // 2 AS mid
      FROM events WHERE event_type = 'purchase'
    ), assign AS (
      SELECT user_id, event_type, ts,
             CAST(round(value * 100) AS BIGINT) AS c,
             (user_id * 2654435761 + 17) % 2147483647 % 2 AS arm,
             CASE WHEN epoch(ts) >= bound.mid THEN 1 ELSE 0 END AS post
      FROM events, bound WHERE event_type = 'purchase'
    ), cells AS (
      SELECT arm, post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM assign GROUP BY arm, post
    ), means AS (
      SELECT arm, post, CAST(s AS DOUBLE) / n AS m FROM cells
    )
    SELECT CAST(t1.m - t0.m - (c1.m - c0.m) AS DOUBLE) AS did_cents,
           CAST((SELECT SUM(n) FROM cells) AS BIGINT) AS n_total
    FROM means t1, means t0, means c1, means c0
    WHERE t1.arm = 1 AND t1.post = 1 AND t0.arm = 1 AND t0.post = 0
      AND c1.arm = 0 AND c1.post = 1 AND c0.arm = 0 AND c0.post = 0
    """,
)
def ext_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: treatment effect estimated as
    (treated post − treated pre) − (control post − control pre) over a
    hash-assigned arm and a pre/post boundary at the data's own time-range midpoint — the causal
    workhorse when randomization happens at rollout time and a parallel
    control trend absorbs seasonality. All four cell means are exact
    integer-cent ratios; the estimate is three subtractions on identical
    doubles.

    Scale: one 4-cell aggregation; the arm is a map-side hash (no
    assignment table), the same pattern as ext_ab_test_lift."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    bound = ev.agg(
        F.floor(
            (F.unix_timestamp(F.min("ts")) + F.unix_timestamp(F.max("ts"))) / 2
        ).alias("mid")
    )
    assign = ev.join(F.broadcast(bound)).select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        ((F.col("user_id") * 2654435761 + 17) % 2147483647 % 2).alias("arm"),
        F.when(F.unix_timestamp("ts") >= F.col("mid"), 1)
        .otherwise(0)
        .alias("post"),
    )
    cells = assign.groupBy("arm", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    ).withColumn("m", F.col("s").cast("double") / F.col("n"))
    n_total = cells.agg(F.sum("n").alias("n_total"))

    def cell(arm: int, post: int, alias: str):
        return F.broadcast(
            cells.filter((F.col("arm") == arm) & (F.col("post") == post))
            .select(F.col("m").alias(alias))
        )

    return (
        cell(1, 1, "t1")
        .join(cell(1, 0, "t0"))
        .join(cell(0, 1, "c1"))
        .join(cell(0, 0, "c0"))
        .join(F.broadcast(n_total))
        .select(
            (
                F.col("t1") - F.col("t0") - (F.col("c1") - F.col("c0"))
            ).alias("did_cents"),
            F.col("n_total").cast("long").alias("n_total"),
        )
    )


@query(
    "ext_user_trend_slope",
    oracle="""
    WITH base AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ), rel AS (
      SELECT user_id, t - min(t) OVER (PARTITION BY user_id) AS x, c
      FROM base
    ), mom AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(c) AS BIGINT) AS sy,
             CAST(SUM(x * c) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM rel GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(round(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 86400 * 1e6) AS BIGINT) AS slope_cents_day6
    FROM mom
    WHERE n >= 2 AND CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
    ORDER BY abs(CAST(round(
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 86400 * 1e6) AS BIGINT)) DESC, user_id
    LIMIT 20
    """,
)
def ext_user_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend TREND: the OLS slope of purchase value over time
    (cents/day), top-20 by magnitude — the whale-detection / churn-risk
    readout analytics teams run weekly. The closed-form slope
    (n·Sxy − Sx·Sy)/(n·Sxx − Sx²) is computed from exact integer moments;
    timestamps are re-based to each user's first purchase so Sxx stays
    far inside int64 (epoch² would not).

    Scale: one grouped moment aggregation (map-side combinable) after a
    per-user min window — no per-user iteration, no driver math."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    rel = base.select(
        "user_id",
        (F.col("t") - F.min("t").over(Window.partitionBy("user_id"))).alias("x"),
        "c",
    )
    mom = rel.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("x") * F.col("c")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    denom = n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    slope6 = F.round(
        (n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / denom
        * 86400
        * 1e6
    ).cast("long")
    return (
        mom.filter((F.col("n") >= 2) & (denom > 0))
        .select("user_id", "n", slope6.alias("slope_cents_day6"))
        .orderBy(F.abs(F.col("slope_cents_day6")).desc(), "user_id")
        .limit(20)
    )


_ACF_LAGS = (1, 2, 3)


@query(
    "ext_acf_daily",
    oracle=f"""
    WITH bounds AS (
      SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
             CAST(max(date_trunc('day', ts)) AS DATE) AS d1
      FROM events
    ), days AS (
      -- range() as a scalar list function (not the lateral table function,
      -- which rejects column arguments) -> one row per calendar day
      SELECT unnest(range(0, CAST(datediff('day', d0, d1) AS BIGINT) + 1)) AS d
      FROM bounds
    ), counts AS (
      SELECT datediff('day', bounds.d0, CAST(date_trunc('day', ts) AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events, bounds GROUP BY 1
    ), series AS (
      SELECT days.d, COALESCE(counts.c, 0) AS c
      FROM days LEFT JOIN counts USING (d)
    ), gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS nn,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM series
    ), lagged AS (
      SELECT k, CAST(count(*) AS BIGINT) AS nk,
             CAST(SUM(a.c * b.c) AS BIGINT) AS axy,
             CAST(SUM(a.c) AS BIGINT) AS bx,
             CAST(SUM(b.c) AS BIGINT) AS cy
      FROM series a
      JOIN (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]) AS k) ks ON true
      JOIN series b ON b.d = a.d + k
      GROUP BY k
    )
    SELECT k, CAST(nn AS BIGINT) AS n_days,
           CAST(round(
             (CAST(axy AS DOUBLE)
              - CAST(s1 AS DOUBLE) / nn * (CAST(bx AS DOUBLE) + cy)
              + CAST(nk AS DOUBLE) * (CAST(s1 AS DOUBLE) / nn)
                * (CAST(s1 AS DOUBLE) / nn))
             / (CAST(s2 AS DOUBLE)
                - CAST(nn AS DOUBLE) * (CAST(s1 AS DOUBLE) / nn)
                  * (CAST(s1 AS DOUBLE) / nn)) * 1e6) AS BIGINT) AS acf6
    FROM lagged, gstats
    """,
)
def ext_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-volume series at lags 1-3: the
    quick periodicity/memory diagnostic behind capacity planning and
    anomaly baselines (lag-1 high = momentum; all low = white noise),
    complementing ext_seasonal_profile's day-of-week means. The day axis
    is gap-filled (sequence over the observed range) so lags align on
    calendar days, not row adjacency.

    ACF_k = (Σc_t·c_{{t+k}} − m(B+C) + n_k·m²) / (Σc² − N·m²) expanded so
    every sum is an exact integer; m = S1/N enters as one double. A
    constant series zeroes the variance denominator: ANSI Spark would
    raise DIVIDE_BY_ZERO where DuckDB renders 0/0 as NaN — the division
    goes through try_divide (NULL, canonicalized equal to NaN; the
    Family-B prototype validated in round 8, DEGENERATE_AUDIT_r8.md,
    oracle untouched). Scale: the series is #days rows — trivially
    broadcastable after one grouped count of the corpus."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("d0"),
        F.max(F.to_date(F.date_trunc("day", "ts"))).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("d1", "d0"))).alias("d")
    )
    counts = (
        ev.join(F.broadcast(bounds))
        .select(
            F.datediff(F.to_date(F.date_trunc("day", "ts")), "d0").alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    series = (
        days.join(counts, "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    glob = series.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    ks = spark.createDataFrame([(k,) for k in _ACF_LAGS], "k INT")
    a = series.alias("a")
    b = series.alias("b")
    lagged = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("b.d") == F.col("a.d") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("nk"),
            F.sum(F.col("a.c") * F.col("b.c")).alias("axy"),
            F.sum(F.col("a.c")).alias("bx"),
            F.sum(F.col("b.c")).alias("cy"),
        )
    )
    m = F.col("s1").cast("double") / F.col("nn")
    acf6 = F.round(
        F.try_divide(
            F.col("axy").cast("double")
            - m * (F.col("bx").cast("double") + F.col("cy"))
            + F.col("nk").cast("double") * m * m,
            F.col("s2").cast("double") - F.col("nn").cast("double") * m * m,
        )
        * 1e6
    ).cast("long")
    return lagged.join(F.broadcast(glob)).select(
        "k", F.col("nn").alias("n_days"), acf6.alias("acf6")
    )


@query(
    "ext_interarrival_stats",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    )
    SELECT event_type,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(CAST(median(gap) AS DOUBLE), 4) AS med_gap_sec,
           round(CAST(quantile_cont(gap, 0.9) AS DOUBLE), 4) AS p90_gap_sec,
           CAST(max(gap) AS BIGINT) AS max_gap_sec
    FROM seq WHERE gap IS NOT NULL
    GROUP BY event_type
    """,
)
def ext_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile: per event type, the distribution of
    seconds between a user's consecutive events (median / p90 / max) —
    the statistic that calibrates session-gap thresholds
    (win_session_gaps' 30-min cutoff) and streaming watermark delays
    against what the data actually does, instead of folklore defaults.

    Gaps are exact integer seconds from a per-user lag; percentiles use
    the established interpolated-percentile-rounded-to-4 idiom. Scale:
    one window partitioned by user (the natural key) + one small-group
    aggregation."""
    ev = load(spark, sf_dir, "events")
    t = F.unix_timestamp("ts")
    seq = ev.select(
        "event_type",
        (
            t
            - F.lag(t).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
        ).alias("gap"),
    )
    return (
        seq.filter(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.round(F.percentile("gap", F.lit(0.5)), 4).alias("med_gap_sec"),
            F.round(F.percentile("gap", F.lit(0.9)), 4).alias("p90_gap_sec"),
            F.max("gap").alias("max_gap_sec"),
        )
    )
