"""Join operators (SURVEY §2B "Joins").

The reference delegates all joins to Catalyst (SURVEY §0); our engine
expresses each join kind declaratively and lets Catalyst/AQE pick the
physical strategy. Scale posture per key:

- equi-joins on big tables → sort-merge with AQE skew splitting;
- dimension joins → ``F.broadcast`` (no shuffle of the fact table);
- theta/range joins → keep the build side tiny (BNLJ is quadratic) or
  bucketize the range key first;
- as-of join → union + window (O(n log n) per key), never a cross product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import dsum, load, scratch_dir, sql_dsum


def flagship_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: scan → filter → 3-way join → agg → sort → limit.

    customer is broadcast (small dim); orders⋈lineitem is a shuffle join on
    the order key. At 100 TB, AQE turns the orders side into a broadcast if
    the date filter is selective enough.
    """
    customer = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "join_multi_key_chain",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def join_multi_key_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3+ table star join (TPC-H Q3) — the flagship plan."""
    return flagship_q3(spark, sf_dir)


@query(
    "join_inner_equi",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join; Catalyst picks broadcast for the 25-row dim."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey, "inner").select(
        "c_custkey", "c_name", "n_name"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select("c_custkey", "o_orderkey")


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, o_orderkey
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select("c_custkey", "o_orderkey")


@query(
    "join_full_outer",
    oracle="""
    WITH cust AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey < 12),
         supp AS (SELECT s_suppkey, s_nationkey FROM supplier WHERE s_nationkey > 8)
    SELECT c_custkey, c_nationkey, s_suppkey, s_nationkey
    FROM cust FULL OUTER JOIN supp ON c_nationkey = s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer with unmatched rows on BOTH sides by construction."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 12)
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") > 8)
    return c.join(s, c.c_nationkey == s.s_nationkey, "full").select(
        "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey"
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a semi join — never duplicates the left side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 400000.0)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as an anti join — customers with no large order. (The
    unfiltered form was vacuous on the fixtures: every customer has SOME
    order, so the anti join returned zero rows and its oracle checked
    nothing.)"""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — bounded to dims (5×25). At scale a cross join is
    only ever acceptable with a broadcast-sized side."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, n_nationkey
    FROM supplier JOIN nation ON s_nationkey < n_nationkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join → BroadcastNestedLoopJoin. Bounded build side;
    at scale, bucketize the range key into an equi-join prefilter instead."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return s.join(F.broadcast(n), s.s_nationkey < n.n_nationkey).select(
        "s_suppkey", "n_nationkey"
    )


BAND_DAYS = 3  # match window: l_shipdate ∈ [o_orderdate, o_orderdate + 3]
BUCKET_DAYS = BAND_DAYS + 1  # bucket width ≥ band+1 ⇒ an interval spans ≤ 2 buckets


@query(
    "join_range_banded",
    oracle=f"""
    WITH o AS (
      SELECT o_orderpriority,
             datediff('day', DATE '1970-01-01', o_orderdate) AS od
      FROM orders WHERE o_orderkey % 32 = 0
    ), l AS (
      SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS sd
      FROM lineitem
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_pairs
    FROM o JOIN l ON l.sd BETWEEN o.od AND o.od + {BAND_DAYS}
    GROUP BY o_orderpriority
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (bucketized) range join — the scale path that replaces the
    BNLJ of ``join_theta_range`` when BOTH sides are big.

    Every interval [od, od+{band}] is exploded onto the ≤ 2 day-buckets of
    width band+1 it can overlap; the probe side maps each point to its one
    bucket; the range predicate then runs AFTER an equi-join on bucket id.
    Each matching pair meets in exactly one bucket (the one containing the
    point), so no dedup is needed. Cost: a hash shuffle on bucket id plus a
    ≤2× replication of the interval side — instead of |O|×|L| nested-loop
    comparisons. This is how production range joins (event sessionization,
    IP-range lookups, genomics intervals) survive at 100 TB.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 32 == 0)
        .select(
            "o_orderpriority",
            F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long").alias("od"),
        )
    )
    o_b = o.withColumn(
        "bkt",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"od DIV {BUCKET_DAYS}"),
                    F.expr(f"(od + {BAND_DAYS}) DIV {BUCKET_DAYS}"),
                )
            )
        ),
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.datediff("l_shipdate", F.lit("1970-01-01")).cast("long").alias("sd")
    ).withColumn("bkt", F.expr(f"sd DIV {BUCKET_DAYS}"))
    return (
        l.join(
            o_b,
            (l.bkt == o_b.bkt)
            & (F.col("sd") >= F.col("od"))
            & (F.col("sd") <= F.col("od") + BAND_DAYS),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "join_broadcast_hint",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join (tests assert BroadcastHashJoin in the
    physical plan) — the fact side never shuffles."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


N_SALTS = 8


@query(
    "join_skew_salted",
    oracle=f"""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0 ELSE l_orderkey % 25 END
               AS hot_key,
             l_extendedprice
      FROM lineitem
    )
    SELECT n_name,
           {sql_dsum("l_extendedprice", 2)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM fact JOIN nation ON hot_key = n_nationkey
    GROUP BY n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: the fact side is deliberately skewed (~70% of
    rows map to key 0), the classic shape where one shuffle partition
    receives most of the data and a 1000-executor cluster waits on one task.

    Mitigation: salt the skewed side with a random-free deterministic salt
    (pmod of the row id), replicate the dimension side once per salt value,
    and join on (key, salt) — the hot key fans out over N_SALTS partitions.
    AQE's skew-join split handles moderate skew automatically; explicit
    salting is the portable fix when a single key exceeds what AQE can
    split. Semantics are identical to the unsalted join (the oracle is the
    plain join)."""
    li = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 25)
        .cast("int")
        .alias("hot_key"),
        "l_extendedprice",
        F.pmod(F.col("l_orderkey"), F.lit(N_SALTS)).cast("int").alias("f_salt"),
    )
    dim_salted = nation.withColumn(
        "d_salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALTS)]))
    )
    return (
        fact.join(
            dim_salted,
            (F.col("hot_key") == F.col("n_nationkey"))
            & (F.col("f_salt") == F.col("d_salt")),
        )
        .groupBy("n_name")
        .agg(
            dsum("l_extendedprice", 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


N_BUCKETS = 8


@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum("l_extendedprice", 2)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via bucketing (the pre-partitioning the
    reference gets from Hive bucketed tables; its write path explicitly
    REJECTS bucketed writes — HiveFileFormatWriteBuilder.scala:124-136 — so
    this is a capability the Spark-native engine adds, not ports).

    Both sides are written bucketed+sorted by the join key into the same
    bucket count; the sort-merge join then reads bucket i against bucket i
    with ZERO exchange — at 100 TB this is the difference between shuffling
    two fact tables (twice the data over the network) and a pure map-side
    merge. The only shuffle left in the plan is the final aggregation
    (asserted in tests/test_plans.py). Bucket count 8 fits the fixture; a
    real deployment sizes buckets so each is one HDFS-block-ish file.
    """
    scratch = scratch_dir("bucketed")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    (
        li.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(scratch, "lineitem_b"))
        .saveAsTable("eng_bkt_lineitem")
    )
    (
        o.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(scratch, "orders_b"))
        .saveAsTable("eng_bkt_orders")
    )
    bl = spark.table("eng_bkt_lineitem")
    bo = spark.table("eng_bkt_orders")
    return (
        bl.join(bo.hint("merge"), bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            dsum("l_extendedprice", 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "join_asof_time",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      FROM events
    ), m AS (
      SELECT user_id, event_id, tag,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
      FROM u
    )
    SELECT event_id, asof_click_id FROM m WHERE tag = 1
    """,
)
def join_asof_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every non-click event, the most recent prior-or-equal
    'click' event of the same user.

    Implemented as union + running ``last(ignorenulls)`` window — one shuffle
    on the key, O(n log n) per key. The naive formulation (inequality join +
    max) is a per-key cross product; this shape survives 100 TB. Ties at the
    same timestamp are broken deterministically (clicks first, then id).
    """
    ev = load(spark, sf_dir, "events")
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("asof_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("event_id", "asof_click_id")
    )


@query(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 5000.0
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control via hint: SHUFFLE_HASH forces a shuffled hash
    join instead of sort-merge — the right call when one side is too big
    to broadcast but small enough to hash per-partition, and it skips both
    sorts. Results are strategy-invariant (same SQL oracle); the plan
    audit asserts ShuffledHashJoin actually got picked."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000.0)
    return o.join(c.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_dpp_partition_prune",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus
    FROM orders o
    JOIN (SELECT 'O' AS status, 1 AS flag) dim ON o.o_orderstatus = dim.status
    """,
)
def join_dpp_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning: the fact table lands PARTITIONED on the
    join column; the dim side is filtered at runtime, and Catalyst injects
    the dim's join keys into the fact scan's PartitionFilters
    (``dynamicpruning`` subquery) — so the scan never lists the pruned
    partitions' files. This is THE mechanism that makes star joins viable
    on 100 TB partitioned facts (only matching date/status partitions are
    read); asserted in tests/test_plans.py."""
    out = os.path.join(scratch_dir("dpp"), "orders")
    facts = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    facts.write.partitionBy("o_orderstatus").parquet(out)
    # explicit schema: an empty source writes no partition dirs and bare
    # inference fails where the oracle yields zero rows (EMPTY_AUDIT_r9.md
    # E1); a no-op on non-empty data, DPP still applies
    fact = spark.read.schema(facts.schema).parquet(out)
    dim = spark.createDataFrame([("O", 1)], "status STRING, flag INT").filter(
        F.col("flag") == 1
    )
    return fact.join(dim, fact["o_orderstatus"] == dim["status"]).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_custkey % 100 END AS key_a
      FROM orders WHERE o_orderkey % 2 = 0
    ), b AS (
      SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE o_custkey % 100 END AS key_b
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT key_a, CAST(count(*) AS BIGINT) AS n
    FROM a JOIN b ON key_a IS NOT DISTINCT FROM key_b
    GROUP BY key_a
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics CDC reconciliation
    and SCD merges need when the business key is nullable. Spark plans
    ``<=>`` as a hash join (null becomes an ordinary key value), NOT a
    nested loop — same shuffle shape as a plain equi-join.

    The pair count per key is cnt_a(key)·cnt_b(key), so both sides are
    REDUCED BEFORE THE JOIN: each collapses to ≤101 (key, count) rows, the
    null-safe join matches count rows instead of materializing the
    ~750×750-per-key row block (≈56 M rows at sf0.1 in the naive shape,
    3.7× wall-clock there and unboundedly worse at corpus scale — fan-out
    grows with the square of rows-per-key). Pre-aggregating below a join
    whose downstream is itself an aggregate is the same partial-agg
    push-down Catalyst can't do automatically across a join.

    Plan note: the eqNullSafe join hash-partitions on
    (coalesce(key, _), isnull(key)), which Catalyst cannot prove equal to
    the groupBy's partitioning on the raw key — the pre-agg exchanges are
    not reusable by the join. At any realistic stats the ≤101-row sides
    broadcast (2 exchanges total); the pinned budget documents this
    dependency next to its _EXCHANGE_BUDGETS entry."""
    o = load(spark, sf_dir, "orders")
    a_cnt = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.when(F.col("o_orderkey") % 11 == 0, None)
            .otherwise(F.col("o_custkey") % 100)
            .alias("key_a")
        )
        .groupBy("key_a")
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b_cnt = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.when(F.col("o_orderkey") % 13 == 0, None)
            .otherwise(F.col("o_custkey") % 100)
            .alias("key_b")
        )
        .groupBy("key_b")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    return a_cnt.join(b_cnt, F.col("key_a").eqNullSafe(F.col("key_b"))).select(
        "key_a", (F.col("cnt_a") * F.col("cnt_b")).alias("n")
    )


@query(
    "join_merge_hint",
    oracle="""
    SELECT l_orderkey, o_orderdate, l_extendedprice, l_quantity
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 100000.0
    """,
)
def join_merge_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control via hint: MERGE forces sort-merge — the
    strategy of record for fact-fact joins where NEITHER side fits a
    per-partition hash table (hash join would spill); both sides shuffle
    once on the key and stream through the merge with O(1) memory.
    Results are strategy-invariant; the plan audit pins SortMergeJoin."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "o_orderdate", "l_extendedprice", "l_quantity"
    )


def _bloom_runtime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan for ``join_bloom_runtime`` (shared with the plan
    audit): selective orders filter joined into lineitem, aggregated per
    priority. With runtime bloom filters enabled, Catalyst injects
    ``might_contain(bloom_filter_agg(o_orderkey))`` into the lineitem scan
    — rows whose key cannot match are dropped BEFORE the shuffle."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "join_bloom_runtime",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000.0
    GROUP BY o_orderpriority
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction: the selective dimension
    side builds a bloom filter that Catalyst pushes into the fact scan, so
    non-matching lineitem rows die at the scan instead of crossing the
    shuffle — at 100 TB this is the difference between shuffling the whole
    fact table and shuffling the ~matching fraction. Injection is gated on
    the join NOT being broadcast (broadcast joins don't shuffle the fact
    side, so there is nothing to save), so the key pins the shuffle-join
    confs for ITS OWN evaluation only: the aggregated (5-row) result is
    materialized eagerly via localCheckpoint while the confs are active,
    then every conf is restored — later keys in the same session see no
    change. Results are filter-invariant (bloom is false-positive-only,
    never false-negative); tests/test_plans.py pins might_contain in the
    optimized plan."""
    pinned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        return _bloom_runtime_join(spark, sf_dir).localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "join_asof_nearest",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      FROM events
    ), w AS (
      SELECT user_id, ts, event_id, tag,
             last_value(click_id IGNORE NULLS) OVER bw AS prev_id,
             last_value(click_us IGNORE NULLS) OVER bw AS prev_us,
             first_value(click_id IGNORE NULLS) OVER fw AS next_id,
             first_value(click_us IGNORE NULLS) OVER fw AS next_us
      FROM u
      WINDOW bw AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fw AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id,
           CASE WHEN prev_id IS NULL THEN next_id
                WHEN next_id IS NULL THEN prev_id
                WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                  THEN prev_id ELSE next_id END AS asof_click_id,
           CASE WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
                WHEN prev_id IS NULL THEN 'next'
                WHEN next_id IS NULL THEN 'prev'
                WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                  THEN 'prev' ELSE 'next' END AS direction
    FROM w WHERE tag = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (pandas merge_asof direction=
    'nearest'): each non-click event pairs with the temporally closest
    same-user click, before OR after, ties to the earlier click. Same
    union + window shape as join_asof_time — one shuffle on the key, two
    frames over one sort instead of an inequality join (which is a per-key
    cross product) — so the 100 TB posture is identical: backward and
    forward candidates come from running last/first(ignorenulls), and the
    winner is integer µs arithmetic. Same-ts clicks sort before events
    (tag), so they are 'prev' candidates exactly like the backward key."""
    ev = load(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(is_click, F.col("event_id")).alias("click_id"),
        F.when(is_click, F.unix_micros("ts")).alias("click_us"),
        F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("tag"),
    )
    order = [F.col("ts"), F.col("tag"), F.col("event_id")]
    bw = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fw = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = u.select(
        "event_id",
        "tag",
        F.unix_micros("ts").alias("ts_us"),
        F.last("click_id", ignorenulls=True).over(bw).alias("prev_id"),
        F.last("click_us", ignorenulls=True).over(bw).alias("prev_us"),
        F.first("click_id", ignorenulls=True).over(fw).alias("next_id"),
        F.first("click_us", ignorenulls=True).over(fw).alias("next_us"),
    )
    prev_closer = (F.col("ts_us") - F.col("prev_us")) <= (
        F.col("next_us") - F.col("ts_us")
    )
    return w.filter(F.col("tag") == 1).select(
        "event_id",
        F.when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(prev_closer, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("asof_click_id"),
        F.when(F.col("prev_id").isNull() & F.col("next_id").isNull(), F.lit(None).cast("string"))
        .when(F.col("prev_id").isNull(), F.lit("next"))
        .when(F.col("next_id").isNull(), F.lit("prev"))
        .when(prev_closer, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
    )


@query(
    "ext_point_in_time_join",
    oracle="""
    WITH versions AS (
      SELECT o_custkey AS custkey, o_orderdate AS vts,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             o_orderkey AS vid
      FROM orders
      -- a version whose effective date is unknown cannot be "current at
      -- time t": under the merged as-of window it would sort BEFORE all
      -- probes on Spark (NULLS FIRST asc) and AFTER them on DuckDB
      -- (NULLS LAST) — quarantined on both sides instead (ragged-chaos
      -- audit, r14; same contract as ext_scd2_versions)
      WHERE o_orderdate IS NOT NULL
    ), probes AS (
      SELECT user_id % 1500 + 1 AS custkey, ts AS pts, event_id
      FROM events WHERE event_type = 'purchase'
    ), u AS (
      SELECT custkey, vts AS t, 0 AS tag, vid AS oid,
             price_cents, NULL::BIGINT AS event_id
      FROM versions
      UNION ALL
      SELECT custkey, pts, 1, event_id, NULL, event_id FROM probes
    ), w AS (
      SELECT custkey, tag, event_id,
             last_value(price_cents IGNORE NULLS) OVER (
               PARTITION BY custkey ORDER BY t, tag, oid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pit_price_cents
      FROM u
    ), latest AS (
      SELECT custkey, price_cents AS latest_price_cents FROM (
        SELECT custkey, price_cents,
               row_number() OVER (PARTITION BY custkey
                                  ORDER BY vts DESC, vid DESC) AS rn
        FROM versions
      ) WHERE rn = 1
    )
    SELECT w.event_id, w.custkey, w.pit_price_cents,
           latest.latest_price_cents,
           w.pit_price_cents IS NOT NULL
             AND w.pit_price_cents <> latest.latest_price_cents
             AS naive_join_leaks
    FROM w JOIN latest USING (custkey)
    WHERE w.tag = 1
    """,
)
def ext_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME join: each purchase event is enriched
    with the attribute version that was current AT THE EVENT'S TIME (the
    as-of union+window shape over the SCD2 stream, ext_scd2_versions'
    sibling), next to what a naive latest-version join would have fetched
    — with a per-row flag for where the naive join LEAKS the future.
    That leak is exactly the train/serve skew feature stores exist to
    prevent; here it is measured, not assumed.

    Scale: one shuffle on the entity key for the merged version+probe
    window — the same O(n log n) per key as join_asof_time; the naive
    comparison reuses the version table's top-1 window."""
    orders = load(spark, sf_dir, "orders")
    ev = load(spark, sf_dir, "events")
    versions = orders.filter(F.col("o_orderdate").isNotNull()).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.col("o_orderkey").alias("oid"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 1500 + 1).alias("custkey"),
        F.col("ts").alias("t"),
        F.col("event_id").alias("oid"),
        F.col("event_id"),
    )
    u = versions.select(
        "custkey", "t", F.lit(0).alias("tag"), "oid", "price_cents",
        F.lit(None).cast("long").alias("event_id"),
    ).unionAll(
        probes.select(
            "custkey", "t", F.lit(1).alias("tag"), "oid",
            F.lit(None).cast("long").alias("price_cents"), "event_id",
        )
    )
    w = Window.partitionBy("custkey").orderBy("t", "tag", "oid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pit = u.select(
        "custkey",
        "tag",
        "event_id",
        F.last("price_cents", ignorenulls=True).over(w).alias(
            "pit_price_cents"
        ),
    ).filter(F.col("tag") == 1)
    wl = Window.partitionBy("custkey").orderBy(
        F.col("t").desc(), F.col("oid").desc()
    )
    latest = (
        versions.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("custkey", F.col("price_cents").alias("latest_price_cents"))
    )
    return pit.join(latest, "custkey").select(
        "event_id",
        "custkey",
        "pit_price_cents",
        "latest_price_cents",
        (
            F.col("pit_price_cents").isNotNull()
            & (F.col("pit_price_cents") != F.col("latest_price_cents"))
        ).alias("naive_join_leaks"),
    )


_CARD_BUCKETS = 64


@query(
    "ext_join_cardinality_estimate",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey % {_CARD_BUCKETS} AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d
      FROM orders GROUP BY 1
    ), bb AS (
      SELECT l_orderkey % {_CARD_BUCKETS} AS b,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d
      FROM lineitem GROUP BY 1
    ), est AS (
      SELECT CAST(SUM(a.n * bb.n // greatest(a.d, bb.d)) AS BIGINT) AS est_rows
      FROM a JOIN bb USING (b)
    ), exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_rows
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT exact.exact_rows, est.est_rows,
           CAST(est.est_rows * 1000000 // exact.exact_rows AS BIGINT)
             AS est_ratio6
    FROM exact, est
    """,
)
def ext_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation, the planner statistic demystified:
    per-side {_CARD_BUCKETS}-bucket key histograms (row count + distinct
    count per bucket) predict |orders ⋈ lineitem| under the textbook
    within-bucket uniformity assumption — Σ_b nA·nB/max(dA,dB) — and the
    prediction is scored against the true join size. This is exactly the
    estimate a cost-based optimizer derives from column histograms, and
    the diagnostic to run when a real plan picks a catastrophic join
    order: a ratio far from 1e6 means the histogram's assumption broke
    (skew, correlation). Integer arithmetic throughout.

    Scale: histograms are one aggregate per side ({_CARD_BUCKETS} rows
    each); the exact count here is the verification half, which a planner
    never pays."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")

    def hist(df, key):
        return df.groupBy((F.col(key) % _CARD_BUCKETS).alias("b")).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(key).alias("d"),
        )
    a = hist(orders, "o_orderkey")
    b = hist(li, "l_orderkey")
    est = (
        a.alias("a")
        .join(b.alias("bb"), "b")
        .agg(
            F.sum(
                F.expr("a.n * bb.n DIV greatest(a.d, bb.d)")
            ).alias("est_rows")
        )
    )
    exact = orders.join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    ).agg(F.count(F.lit(1)).alias("exact_rows"))
    return exact.join(est).select(
        "exact_rows",
        "est_rows",
        F.expr("est_rows * 1000000 DIV exact_rows").alias("est_ratio6"),
    )


# ---------------------------------------------------------------------------
# As-of join with a match tolerance (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 3600 * 1000000  # 1 hour; BIGINT — INT32 overflows (vetted r7)


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'click' THEN ts END AS click_ts,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      FROM events
    ), m AS (
      SELECT user_id, event_id, ts, tag,
             last_value(click_id IGNORE NULLS) OVER w AS asof_click_id,
             last_value(click_ts IGNORE NULLS) OVER w AS asof_click_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id,
           CASE WHEN asof_click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(asof_click_ts)
                     <= CAST({_ASOF_TOL_US} AS BIGINT)
                THEN asof_click_id END AS asof_click_id_tol
    FROM m WHERE tag = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a TOLERANCE window (pandas ``merge_asof(...,
    tolerance=...)`` semantics): each non-click event picks up the most
    recent preceding click by the same user, but a match older than one
    hour is NULLed out — attribution windows, sensor alignment, and
    quote-to-trade joins all need the staleness cutoff, not just
    "latest before". Same union + last_value(ignorenulls) forward-fill
    as ``join_asof_time`` (joins.py) with the tolerance as a second
    predicate applied AFTER the carry — the carried click timestamp
    rides along so the cutoff is a per-row filter, not a join.

    Scale: one shuffle on user_id for the partitioned window; the
    tolerance check is a narrow projection. Skew bounds are the
    per-user event count, identical to the base as-of key. The
    tolerance constant is BIGINT microseconds — 3600 * 1e6 overflows
    INT32 (found in round-7 oracle vetting)."""
    ev = load(spark, sf_dir, "events")
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias(
            "click_id"
        ),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = u.withColumn(
        "asof_click_id", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return m.filter(F.col("tag") == 1).select(
        "event_id",
        F.when(
            F.col("asof_click_ts").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("asof_click_ts")
                <= F.lit(_ASOF_TOL_US)
            ),
            F.col("asof_click_id"),
        ).alias("asof_click_id_tol"),
    )


# ---------------------------------------------------------------------------
# Point-in-interval containment join (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------


@query(
    "join_interval_point_containment",
    oracle="""
    WITH ivals AS (
      SELECT DISTINCT date_trunc('week', ts) AS w_start,
             date_trunc('week', ts) + INTERVAL 3 DAY AS w_end
      FROM events
    )
    SELECT ivals.w_start AS campaign_start,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM events JOIN ivals ON ts >= ivals.w_start AND ts <= ivals.w_end
    GROUP BY ivals.w_start
    """,
)
def join_interval_point_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-INTERVAL lookup — event timestamps matched into campaign
    windows [week_start, week_start + 3 days] — the containment sibling
    of ``join_range_banded``'s interval-overlap: the oracle is the naive
    BETWEEN theta-join, the Spark plan is an EQUI-join on the calendar
    band. A 3-day interval anchored at a week boundary never crosses its
    own week, so ``date_trunc('week', ts)`` is an exact equi-key; the
    BETWEEN predicate then verifies candidates. Intervals are a distinct
    calendar-bounded dim (weeks in the fixture's range), so they
    broadcast; the fact table never shuffles for the join.

    Scale: with unbounded interval sets the same plan holds by
    exploding each interval to the ≤2 bands it touches (the
    ``join_range_banded`` trick); here width < band guarantees 1 band.
    Per-row values are rounded to integer micro-units BEFORE the sum —
    round(SUM(double)) hashes differently across engines (vetted r7)."""
    ev = load(spark, sf_dir, "events")
    ivals = ev.select(
        F.date_trunc("week", "ts").alias("w_start"),
        (F.date_trunc("week", "ts") + F.expr("INTERVAL 3 DAY")).alias("w_end"),
    ).distinct()
    pts = ev.select(
        "user_id",
        "ts",
        F.round(F.col("value") * 1000000).cast("long").alias("v_micro"),
        F.date_trunc("week", "ts").alias("wk"),
    )
    joined = pts.join(F.broadcast(ivals), pts.wk == ivals.w_start).filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") <= F.col("w_end"))
    )
    return joined.groupBy(F.col("w_start").alias("campaign_start")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum("v_micro").cast("long").alias("sum_value_micro"),
    )
