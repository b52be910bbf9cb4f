"""Reshape operators: PIVOT (long→wide) and UNPIVOT/MELT (wide→long).

SURVEY §2B composition surface: the reference exposes these through Spark
SQL's PIVOT/UNPIVOT clauses over its connector tables; here they are the
DataFrame ``groupBy().pivot()`` and ``unpivot()`` APIs over the engine's
scans. Both are single-shuffle operations: pivot is a grouped aggregate
whose output columns are the (pre-declared) pivot values; unpivot is a
zero-shuffle generator (each input row fans out to one row per measure).

Scale notes: ALWAYS pass the explicit value list to pivot — without it
Spark runs a distinct-scan of the pivot column first (an extra job over
100 TB). Unpivot is map-side only and runs at scan throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .quantiles import distributed_ntile
from ..registry import query
from ..tables import load, sql_dsum


@query(
    "pivot_wide",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)}
             AS f_total,
           {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)}
             AS o_total,
           {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", 2)}
             AS p_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order totals per priority, one column per order status. The
    explicit values list ('F','O','P') keeps it a single grouped aggregate
    (no distinct pre-scan); each cell is the exact scaled-integer sum so
    the wide result matches the CASE-sum oracle bit-for-bit."""
    from ..tables import dsum

    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice", 2))
    )
    return wide.select(
        "o_orderpriority",
        F.col("F").alias("f_total"),
        F.col("O").alias("o_total"),
        F.col("P").alias("p_total"),
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           l_quantity AS value
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_orderkey % 100 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/MELT: four lineitem measures to (key, metric, value) rows —
    the wide→long reshape feeding generic metric pipelines. Spark's
    ``unpivot`` is a Generate node (map-side fan-out ×4, no shuffle, no
    distinct scan); values pass through unchanged so the UNION ALL oracle
    matches exactly."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@query(
    "ext_timeseries_densify",
    oracle="""
    WITH span AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
      FROM events GROUP BY user_id
    ), cal AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span
    ), daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT cal.user_id, strftime(cal.day, '%Y-%m-%d') AS day,
           COALESCE(daily.n, 0) AS n_events
    FROM cal LEFT JOIN daily
      ON cal.user_id = daily.user_id AND cal.day = daily.day
    """,
)
def ext_timeseries_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: generate every day in each user's activity
    span and gap-fill missing days with zero counts — the prerequisite
    for rolling metrics and anomaly detection over sparse event streams
    (a window over raw events silently skips absent days). The calendar
    is generated with ``sequence``+``explode`` from the per-user span
    aggregate (rows = active users × span days, never a global cross
    join), then left-joins the daily counts on (user, day). Both sides
    shuffle on the same key; at scale the span side is one row per user
    and co-partitions with the counts."""
    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    cal = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )


@query(
    "ext_hypertable_rollup",
    oracle="""
    WITH day AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(round(value * 10000) AS BIGINT)) AS cents
      FROM events GROUP BY 1
    )
    SELECT 'day' AS grain, strftime(d, '%Y-%m-%d') AS period_start,
           n, cents / 1e4 AS total_value
    FROM day
    UNION ALL
    SELECT 'month', strftime(date_trunc('month', d), '%Y-%m-%d'),
           CAST(SUM(n) AS BIGINT), SUM(cents) / 1e4
    FROM day GROUP BY 2
    UNION ALL
    SELECT 'year', strftime(date_trunc('year', d), '%Y-%m-%d'),
           CAST(SUM(n) AS BIGINT), SUM(cents) / 1e4
    FROM day GROUP BY 2
    """,
)
def ext_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: day/month/year rollups of the
    event stream in one result, computed hierarchically — the day-level
    aggregate is materialized ONCE and the coarser grains re-aggregate
    its partials (int64 scaled sums stay exact through every level; the
    /1e4 division happens only at projection). That is the TimescaleDB
    continuous-aggregate shape on Spark: at 100 TB the raw scan happens
    once, and month/year cost is proportional to #days, not #events."""
    ev = load(spark, sf_dir, "events")
    day = (
        ev.groupBy(F.date_trunc("DAY", "ts").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 10000).cast("long")).alias("cents"),
        )
        # one fact scan for all three grains (test_plans pins it); the
        # with/without A/B read neutral at sf0.01 and sf0.1
        .cache()
    )

    def grain(df: DataFrame, name: str, trunc: str) -> DataFrame:
        g = df.groupBy(F.date_trunc(trunc, "d").alias("p")).agg(
            F.sum("n").alias("n"), F.sum("cents").alias("cents")
        )
        return g.select(
            F.lit(name).alias("grain"),
            F.date_format("p", "yyyy-MM-dd").alias("period_start"),
            F.col("n").cast("long").alias("n"),
            (F.col("cents") / F.lit(1e4)).alias("total_value"),
        )

    day_rows = day.select(
        F.lit("day").alias("grain"),
        F.date_format("d", "yyyy-MM-dd").alias("period_start"),
        F.col("n").cast("long").alias("n"),
        (F.col("cents") / F.lit(1e4)).alias("total_value"),
    )
    return day_rows.unionAll(grain(day, "month", "MONTH")).unionAll(
        grain(day, "year", "YEAR")
    )


@query(
    "ext_funnel_analysis",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_viewed,
           CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_clicked,
           CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchased,
           round((SELECT count(*) FROM s2) * 1.0
                 / (SELECT count(*) FROM s1), 4) AS view_to_click,
           round((SELECT count(*) FROM s3) * 1.0
                 / (SELECT count(*) FROM s2), 4) AS click_to_purchase
    """,
)
def ext_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel (view → click → purchase): each stage counts only
    users whose stage event happens AT OR AFTER their previous stage's
    first event — the product-analytics operator a naive per-type count
    gets wrong (a purchase before the first view is not a conversion).
    Three chained min-aggregates, each joining the (tiny) prior stage
    back into the event scan on user_id; timestamps compared exactly.
    At 100 TB each stage is one shuffle on user_id and the stage
    relations shrink monotonically.

    Degenerate guard (round-8 audit): an EMPTY upstream stage makes a
    conversion rate 0/0 — ANSI Spark raises where the oracle renders
    NaN; ``try_divide`` yields NULL, which the driver canonicalizer
    equates with NaN. Populated funnels are untouched."""
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .cache()  # without it, 0.77 → 0.83 s at sf0.01 (with/without A/B)
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_viewed"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_clicked"))
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchased"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(n3))
        .select(
            "n_viewed",
            "n_clicked",
            "n_purchased",
            F.round(
                F.try_divide(F.col("n_clicked") * 1.0, F.col("n_viewed")), 4
            ).alias("view_to_click"),
            F.round(
                F.try_divide(F.col("n_purchased") * 1.0, F.col("n_clicked")), 4
            ).alias("click_to_purchase"),
        )
    )


@query(
    "ext_retention_cohorts",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity JOIN first_day USING (user_id)
    WHERE date_diff('day', cohort_day, day) BETWEEN 0 AND 7
    GROUP BY 1, 2
    """,
)
def ext_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each of the next 7 days they return — the growth-analytics staple.
    One aggregate for cohort assignment (a row per user), one distinct
    (user, day) pass, a co-partitioned join on user_id, and a final
    grouped count; day arithmetic is integer-exact and dates render as
    strings for engine-identical output."""
    ev = load(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    j = activity.join(first_day, "user_id").withColumn(
        "day_offset", F.datediff("day", "cohort_day").cast("long")
    )
    return (
        j.filter(F.col("day_offset").between(0, 7))
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


@query(
    "ext_ohlc_resample",
    oracle="""
    WITH v AS (
      SELECT (epoch_us(ts) // 900000000) * 900 AS bucket,
             CAST(round(value * 1e4) AS BIGINT) AS v4,
             ts, event_id
      FROM events
    ), r AS (
      SELECT bucket, v4,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM v
    )
    SELECT bucket,
           CAST(max(CASE WHEN ra = 1 THEN v4 END) AS BIGINT) AS open4,
           CAST(max(v4) AS BIGINT) AS high4,
           CAST(min(v4) AS BIGINT) AS low4,
           CAST(max(CASE WHEN rd = 1 THEN v4 END) AS BIGINT) AS close4,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY bucket
    """,
)
def ext_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: 15-minute bars over the event stream — open/
    high/low/close of value (scaled to 1e-4 ints for exactness) with
    deterministic open/close selection by (ts, event_id), the time-series
    resample every metrics store and feature pipeline runs. First/last
    are row_number flags folded into the same grouped aggregate — no
    self-join, no min_by tie ambiguity.

    Scale: one shuffle on the bucket key; windows and the aggregate share
    the same partitioning, so Catalyst plans one exchange. Bars per day
    are constant regardless of event rate."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        (F.expr("unix_micros(ts) DIV 900000000") * 900).alias("bucket"),
        F.round(F.col("value") * 1e4).cast("long").alias("v4"),
        "ts",
        "event_id",
    )
    ra = Window.partitionBy("bucket").orderBy("ts", "event_id")
    rd = Window.partitionBy("bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = v.select(
        "bucket",
        "v4",
        F.row_number().over(ra).alias("ra"),
        F.row_number().over(rd).alias("rd"),
    )
    return r.groupBy("bucket").agg(
        F.max(F.when(F.col("ra") == 1, F.col("v4"))).alias("open4"),
        F.max("v4").alias("high4"),
        F.min("v4").alias("low4"),
        F.max(F.when(F.col("rd") == 1, F.col("v4"))).alias("close4"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "ext_scd2_versions",
    oracle="""
    WITH ch AS (
      -- valid_from IS NOT NULL (Family N1 lockstep): an undated change
      -- cannot be placed on a validity timeline; letting it sort would
      -- also corrupt the previous version's valid_to via lead()
      SELECT o_custkey AS custkey, o_orderdate AS valid_from,
             CAST(round(o_totalprice * 100) AS BIGINT) AS attr_cents,
             o_orderkey
      FROM orders
      WHERE o_orderdate IS NOT NULL
    ), dedup AS (
      -- one change per (custkey, ts): highest orderkey wins
      SELECT custkey, valid_from, attr_cents FROM (
        SELECT *, row_number() OVER (PARTITION BY custkey, valid_from
                                     ORDER BY o_orderkey DESC) AS rn
        FROM ch
      ) WHERE rn = 1
    )
    SELECT custkey, valid_from,
           lead(valid_from) OVER (PARTITION BY custkey
                                  ORDER BY valid_from) AS valid_to,
           attr_cents,
           lead(valid_from) OVER (PARTITION BY custkey
                                  ORDER BY valid_from) IS NULL AS is_current,
           CAST(row_number() OVER (PARTITION BY custkey
                                   ORDER BY valid_from) AS BIGINT) AS version
    FROM dedup
    """,
)
def ext_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: a change stream (orders as
    per-customer attribute changes) becomes a versioned dimension — each
    row carries [valid_from, valid_to) and an is_current flag, built with
    lead() over the change order; same-timestamp collisions resolve
    deterministically (highest orderkey wins) before versioning. This is
    THE dimension-history op every warehouse merge pipeline implements,
    and the interval shape join_asof_time then probes.

    Scale: one shuffle on the dimension key; versions are windows over it
    — no self-join. Incremental refresh appends changes and re-windows
    only touched keys.

    NULL change dates (Family N1, lockstep): filtered on both engines —
    an undated change cannot be placed on a validity timeline, and
    sorting it (either NULL position) would corrupt the neighboring
    version's valid_to through lead()."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    ch = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("attr_cents"),
        "o_orderkey",
    )
    wdup = Window.partitionBy("custkey", "valid_from").orderBy(
        F.col("o_orderkey").desc()
    )
    dedup = (
        ch.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .drop("rn", "o_orderkey")
    )
    wv = Window.partitionBy("custkey").orderBy("valid_from")
    nxt = F.lead("valid_from").over(wv)
    return dedup.select(
        "custkey",
        "valid_from",
        nxt.alias("valid_to"),
        "attr_cents",
        nxt.isNull().alias("is_current"),
        F.row_number().over(wv).cast("long").alias("version"),
    )


@query(
    "ext_behavior_similarity",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), grams AS (
      -- BOTH endpoints of a transition must be known: with a NULL
      -- event_type, Spark's concat_ws SKIPS the NULL (gram "purchase")
      -- while || yields NULL here — the two engines would build
      -- different behavior sets (ragged-chaos audit, r14)
      SELECT DISTINCT user_id, event_type || '>' || nxt AS g
      FROM seq WHERE nxt IS NOT NULL AND event_type IS NOT NULL
    ), sizes AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY user_id
    ), inter AS (
      SELECT a.user_id AS u1, b.user_id AS u2, CAST(count(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.user_id < b.user_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT u1, u2, i * 1.0 / (s1.n + s2.n - i) AS jaccard
      FROM inter JOIN sizes s1 ON u1 = s1.user_id
                 JOIN sizes s2 ON u2 = s2.user_id
    )
    SELECT u1, u2, jaccard, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY jaccard DESC, u1, u2) AS rk
      FROM scored
    ) WHERE rk <= 20
    """,
)
def ext_behavior_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k behavioral similarity: each user's event stream becomes its
    set of consecutive event-type TRANSITIONS (order-aware bigrams — two
    users match when they DO the same things in the same local order),
    and the global top-20 most-similar user pairs rank by exact Jaccard
    over those transition sets.

    Scale design — PROFILE COLLAPSE: with a transition vocabulary of only
    |event_types|² the shared-gram join degenerates to all-pairs over
    users (every bucket holds almost every user — the hot-shingle problem
    at its worst). But Jaccard depends only on the transition SET, so
    users first collapse onto their distinct behavior PROFILE (the sorted
    gram set); all pairwise work runs over D distinct profiles, not U
    users (D is bounded by 2^|vocab| and in practice ≪ U — behavioral
    data is massively redundant), and only the tie-groups that can reach
    the top-20 expand back to user pairs. Exact same output as the naive
    user-pair join, verified by the unchanged oracle."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    # no .distinct() here: collect_set below dedups per user anyway, and
    # the extra (user_id, g) exchange would break the user_id partitioning
    # reuse between the lead() window and the groupBy (round-6 perf fix —
    # one full-width shuffle of the grams relation removed)
    grams = seq.filter(
        F.col("nxt").isNotNull() & F.col("event_type").isNotNull()
    ).select("user_id", F.concat_ws(">", "event_type", "nxt").alias("g"))
    # users → profile key (hash of the sorted gram set)
    prof = grams.groupBy("user_id").agg(
        F.sort_array(F.collect_set("g")).alias("gs")
    ).select(
        "user_id",
        "gs",
        F.xxhash64(F.concat_ws("|", "gs")).alias("pk"),
    )
    users_by_p = prof.select("user_id", "pk")
    pcnt = users_by_p.groupBy("pk").agg(F.count(F.lit(1)).alias("cnt"))
    pdistinct = prof.select("pk", "gs").dropDuplicates(["pk"])
    pgrams = pdistinct.select(
        "pk", F.size("gs").alias("n"), F.explode("gs").alias("g")
    )
    # pairwise over DISTINCT PROFILES (D², not U²)
    pa, pb = pgrams.alias("pa"), pgrams.alias("pb")
    pj = (
        pa.join(
            pb,
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa.pk") < F.col("pb.pk")),
        )
        .groupBy(
            F.col("pa.pk").alias("pk1"),
            F.col("pb.pk").alias("pk2"),
            F.col("pa.n").alias("n1"),
            F.col("pb.n").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
        .select(
            "pk1",
            "pk2",
            (F.col("i") * 1.0 / (F.col("n1") + F.col("n2") - F.col("i"))).alias(
                "jaccard"
            ),
        )
    )
    # same-profile pairs have jaccard exactly 1 (distinct profiles never do)
    c1, c2 = pcnt.alias("c1"), pcnt.alias("c2")
    cross = (
        pj.join(c1, F.col("pk1") == F.col("c1.pk"))
        .join(c2, F.col("pk2") == F.col("c2.pk"))
        .select(
            "pk1", "pk2", "jaccard",
            (F.col("c1.cnt") * F.col("c2.cnt")).alias("mult"),
        )
    )
    same = pcnt.filter(F.col("cnt") >= 2).select(
        F.col("pk").alias("pk1"),
        F.col("pk").alias("pk2"),
        F.lit(1.0).alias("jaccard"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("mult"),
    )
    allp = cross.unionByName(same)
    # keep every jaccard tie-group that can still reach rank 20: group the
    # profile pairs by jaccard value, cumulative user-pair count, keep
    # groups whose preceding cumulative count < 20
    by_j = allp.groupBy("jaccard").agg(F.sum("mult").alias("pairs"))
    wj = Window.orderBy(F.col("jaccard").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    keep_j = (
        by_j.withColumn("before", F.coalesce(F.sum("pairs").over(wj), F.lit(0)))
        .filter(F.col("before") < 20)
        .select("jaccard")
    )
    sel = allp.join(F.broadcast(keep_j), "jaccard").select(
        "pk1", "pk2", "jaccard"
    )
    # expand the selected profile pairs back to user pairs
    ua, ub = users_by_p.alias("ua"), users_by_p.alias("ub")
    expanded = (
        sel.join(ua, F.col("pk1") == F.col("ua.pk"))
        .join(ub, F.col("pk2") == F.col("ub.pk"))
        .filter(
            # same-profile pairs need u1<u2; cross-profile pairs take both
            # orientations via least/greatest below
            (F.col("pk1") != F.col("pk2"))
            | (F.col("ua.user_id") < F.col("ub.user_id"))
        )
        .select(
            F.least("ua.user_id", "ub.user_id").alias("u1"),
            F.greatest("ua.user_id", "ub.user_id").alias("u2"),
            "jaccard",
        )
        .distinct()
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject) BEFORE ranking —
    # a tie-group can expand to many user pairs, so the rank window must
    # only ever see the 20 surviving rows (round-5 fix, same shape as
    # ext_hill_tail_index)
    order = [F.col("jaccard").desc(), F.col("u1").asc(), F.col("u2").asc()]
    top = expanded.orderBy(*order).limit(20)
    wr = Window.orderBy(*order)
    return top.withColumn("rk", F.row_number().over(wr).cast("long"))


_PR_ITERS = 3
_PR_D6 = 850000  # damping 0.85 in micro-units


def _pr_iter_sql(i: int) -> str:
    """One power-iteration CTE: rank_i+1 = (1-d)/N + d * Σ_in rank_i * w."""
    return f"""r{i + 1} AS (
      SELECT n.node,
             CAST((1000000 - {_PR_D6}) // nn.n AS BIGINT)
             + CAST({_PR_D6} * coalesce(SUM(r{i}.rank6 * e.w6 // 1000000), 0)
                    // 1000000 AS BIGINT) AS rank6
      FROM nodes n CROSS JOIN nn
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN r{i} ON r{i}.node = e.src
      GROUP BY n.node, nn.n
    )"""


@query(
    "ext_pagerank_bounded",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), out_tot AS (
      SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM trans GROUP BY src
    ), edges AS (
      SELECT src, dst, CAST(c * 1000000 // tot AS BIGINT) AS w6
      FROM trans JOIN out_tot USING (src)
    ), nodes AS (
      SELECT DISTINCT event_type AS node FROM events
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1000000 // nn.n AS BIGINT) AS rank6
      FROM nodes, nn
    ),
    {", ".join(_pr_iter_sql(i) for i in range(_PR_ITERS))}
    SELECT node, rank6 FROM r{_PR_ITERS}
    """,
)
def ext_pagerank_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, {_PR_ITERS} unrolled power iterations over the event-type
    transition graph (nodes = event types, edge weights = observed
    transition fractions): rank flows along weighted in-edges with 0.85
    damping. All arithmetic is integer micro-units with floor division, so
    each iteration is bit-exact across engines — the fixpoint loop that
    usually needs a driver loop (ext_kmeans_train, ext_dedup_clusters)
    expressed as pure unrolled relational algebra.

    Scale: each iteration is (ranks JOIN edges) then a per-node sum —
    shuffle by node; for web-scale graphs the same plan partitions by
    destination and the rank vector stays columnar. Iteration count is
    compile-time (unrolled), the standard bounded-sweep approximation."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).alias("c"))
    out_tot = trans.groupBy("src").agg(F.sum("c").alias("tot"))
    edges = trans.join(out_tot, "src").select(
        "src", "dst", F.expr("c * 1000000 DIV tot").alias("w6")
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.join(F.broadcast(nn)).select(
        "node", F.expr("1000000 DIV n").alias("rank6")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"), F.col("rank6").alias("src_rank6")
                ),
                "src",
            )
            .select("dst", F.expr("src_rank6 * w6 DIV 1000000").alias("part6"))
            .groupBy("dst")
            .agg(F.sum("part6").alias("in6"))
        )
        ranks = (
            nodes.join(F.broadcast(nn))
            .join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.expr(f"(1000000 - {_PR_D6}) DIV n")
                    + F.expr(
                        f"{_PR_D6} * coalesce(in6, 0) DIV 1000000"
                    )
                ).alias("rank6"),
            )
        )
    return ranks


@query(
    "ext_distribution_drift",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, event_type
      FROM events
    ), daily AS (
      SELECT day, event_type, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
    ), day_tot AS (
      SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM daily GROUP BY day
    ), gmix AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS gc FROM d GROUP BY 1
    ), gtot AS (SELECT CAST(count(*) AS BIGINT) AS gn FROM d),
    terms AS (
      SELECT daily.day,
             CAST(round(
               (CAST(daily.c AS DOUBLE) / day_tot.n)
               * ln((CAST(daily.c AS DOUBLE) / day_tot.n)
                    / (CAST(gmix.gc AS DOUBLE) / gtot.gn)) * 1e6)
               AS BIGINT) AS t6
      FROM daily
      JOIN day_tot USING (day)
      JOIN gmix USING (event_type)
      CROSS JOIN gtot
    )
    SELECT terms.day, day_tot.n AS n_events,
           CAST(SUM(t6) AS BIGINT) AS kl6
    FROM terms JOIN day_tot USING (day)
    GROUP BY terms.day, day_tot.n
    """,
)
def ext_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per-day KL divergence of the
    event-type mix against the corpus-wide mix — the alarm that catches an
    upstream producer silently changing shape (a new client version, a
    broken event, a bot wave) before it poisons downstream aggregates.
    Per-term p·ln(p/q) values are rounded to 1e-6 and integer-summed
    (order-independent, oracle-exact); a day's kl6 spiking is the signal.

    Scale: two grouped counts (day x type, type) + a tiny broadcast of the
    global mix — one pass over the stream regardless of horizon."""
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"), "event_type"
    )
    daily = d.groupBy("day", "event_type").agg(F.count(F.lit(1)).alias("c"))
    day_tot = daily.groupBy("day").agg(F.sum("c").alias("n"))
    glob = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("gc"))
    gtot = d.agg(F.count(F.lit(1)).alias("gn"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("gc").cast("double") / F.col("gn")
    t6 = F.round(p * F.log(p / q) * F.lit(1e6)).cast("long")
    terms = (
        daily.join(day_tot, "day")
        .join(F.broadcast(glob), "event_type")
        .join(F.broadcast(gtot))
        .select("day", F.col("n").alias("n_events"), t6.alias("t6"))
    )
    return terms.groupBy("day", "n_events").agg(F.sum("t6").alias("kl6"))


@query(
    "ext_conversion_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS clicks,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchases
      FROM events GROUP BY user_id
    ), binned AS (
      SELECT ntile(10) OVER (ORDER BY clicks, user_id) AS decile,
             clicks, purchases
      FROM per_user WHERE clicks > 0
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(clicks) AS BIGINT) AS clicks,
           CAST(SUM(purchases) AS BIGINT) AS purchases,
           CAST(SUM(purchases) * 1000000 // SUM(clicks) AS BIGINT)
             AS conv_rate6
    FROM binned GROUP BY decile
    """,
)
def ext_conversion_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-by-activity deciles — the calibration-curve shape model
    evaluation runs on real traffic: users bucketed into activity deciles
    (ntile over click count, user_id tie-break = deterministic), each
    decile reporting its purchase-per-click rate in micro-units. A model
    whose predicted propensity deciles don't reproduce this monotone-ish
    curve is miscalibrated.

    Scale: one per-user aggregate, then decile assignment via
    ``distributed_ntile`` (range exchange + broadcast offsets — no
    single-task sort over the user relation), one 10-row rollup."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "purchases"
        ),
    )
    binned = distributed_ntile(
        per_user.filter(F.col("clicks") > 0),
        ["clicks", "user_id"],
        10,
        out="decile",
    )
    return binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("clicks").alias("clicks"),
        F.sum("purchases").alias("purchases"),
        F.expr("sum(purchases) * 1000000 DIV sum(clicks)").alias("conv_rate6"),
    )


@query(
    "ext_session_bounce_rate",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sid AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM s
    ), sess_stats AS (
      SELECT user_id, sess,
             CAST(epoch_us(min(ts)) // 86400000000 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sid GROUP BY user_id, sess
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT) AS n_bounces,
           CAST(count(*) FILTER (WHERE n_events = 1) * 1000000 // count(*)
                AS BIGINT) AS bounce_rate6
    FROM sess_stats GROUP BY day
    """,
)
def ext_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: sessionize each user's stream (30-minute
    inactivity gap), attribute each session to its start day, and report
    the share of single-event sessions in micro-units — the canonical
    engagement KPI, built on the same gap-sessionization the
    win_session_gaps key demonstrates and the exact-integer rate pattern
    every other ratio here uses.

    Scale: one window pass per user (sessionization), one grouped count —
    both share the user_id shuffle; the daily rollup is tiny."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull() | (gap >= 1_800_000_000), 1
        )
        .otherwise(0)
        .alias("new_s"),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sid = s.withColumn("sess", F.sum("new_s").over(cum))
    sess_stats = sid.groupBy("user_id", "sess").agg(
        F.expr("unix_micros(min(ts)) DIV 86400000000").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounces = F.count(F.when(F.col("n_events") == 1, 1))
    return sess_stats.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.alias("n_bounces"),
        F.expr(
            "count(CASE WHEN n_events = 1 THEN 1 END) * 1000000 DIV count(*)"
        ).alias("bounce_rate6"),
    )


_AB_HASH_A = 2654435761
_AB_M = 2_147_483_647


@query(
    "ext_ab_test_lift",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN (user_id * {_AB_HASH_A} + 17) % {_AB_M} % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS clicks,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchases
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(clicks) AS BIGINT) AS clicks,
             CAST(SUM(purchases) AS BIGINT) AS purchases,
             CAST(SUM(purchases) * 1000000 // greatest(SUM(clicks), 1)
                  AS BIGINT) AS conv6
      FROM assigned GROUP BY arm
    )
    SELECT a.arm, a.n_users, a.clicks, a.purchases, a.conv6,
           CAST(a.conv6 - b.conv6 AS BIGINT) AS lift_vs_other6
    FROM arms a JOIN arms b ON a.arm <> b.arm
    """,
)
def ext_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-assigned to
    two arms (multiplicative hash — the assignment every experimentation
    platform uses so a user keeps their arm across sessions and reruns),
    per-arm conversion in micro-units, and the lift of each arm over the
    other. Exact integer arithmetic end to end.

    Scale: one per-user aggregate + a 2-row arm rollup; assignment is a
    pure map (no state, no shuffle of its own)."""
    ev = load(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "purchases"
        ),
    ).select(
        F.when(
            (F.col("user_id") * _AB_HASH_A + 17) % _AB_M % 2 == 0, "A"
        )
        .otherwise("B")
        .alias("arm"),
        "clicks",
        "purchases",
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("clicks").alias("clicks"),
        F.sum("purchases").alias("purchases"),
        F.expr(
            "sum(purchases) * 1000000 DIV greatest(sum(clicks), 1)"
        ).alias("conv6"),
    )
    a, b = arms.alias("a"), arms.alias("b")
    return a.join(b, F.col("a.arm") != F.col("b.arm")).select(
        F.col("a.arm").alias("arm"),
        F.col("a.n_users").alias("n_users"),
        F.col("a.clicks").alias("clicks"),
        F.col("a.purchases").alias("purchases"),
        F.col("a.conv6").alias("conv6"),
        (F.col("a.conv6") - F.col("b.conv6")).alias("lift_vs_other6"),
    )


@query(
    "ext_seasonal_profile",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
    ), daily AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY day
    ), dow AS (
      SELECT day, n, CAST((day + 4) % 7 AS BIGINT) AS dow FROM daily
    ), profile AS (
      SELECT dow AS dw, CAST(SUM(n) // count(*) AS BIGINT) AS dow_mean
      FROM dow GROUP BY dow
    )
    SELECT dow.day, dow.dow, dow.n, profile.dow_mean,
           CAST(dow.n - profile.dow_mean AS BIGINT) AS residual
    FROM dow JOIN profile ON dow.dow = profile.dw
    """,
)
def ext_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive seasonal decomposition of the event volume: per-day counts
    split into a day-of-week profile (epoch-day + 4 mod 7, so 0 = Monday)
    and residuals against the weekday mean — the first-cut seasonality
    model every volume-anomaly monitor starts from; a residual spike is a
    real anomaly, a raw-count spike on Monday is just Monday. Means use
    exact integer division.

    Scale: one daily rollup (tiny), one 7-row profile joined back
    broadcast."""
    ev = load(spark, sf_dir, "events")
    daily = ev.select(
        F.expr("unix_micros(ts) DIV 86400000000").alias("day")
    ).groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    dow = daily.withColumn("dow", (F.col("day") + 4) % 7)
    profile = dow.groupBy(F.col("dow").alias("dw")).agg(
        F.expr("sum(n) DIV count(*)").alias("dow_mean")
    )
    return dow.join(F.broadcast(profile), dow.dow == profile.dw).select(
        "day",
        "dow",
        "n",
        "dow_mean",
        (F.col("n") - F.col("dow_mean")).alias("residual"),
    )


@query(
    "ext_run_length_stats",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS new_run
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type,
             SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_id
      FROM s
    ), rl AS (
      SELECT user_id, run_id, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS n_events
    FROM rl GROUP BY user_id
    """,
)
def ext_run_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding statistics of each user's event-type sequence:
    run count, longest run, and total length — n_runs << n_events means a
    repetitive/bot-like stream (and quantifies how well the sequence
    column would RLE-compress); the same new-run flag + running-sum shape
    as sessionization (win_gap_islands), keyed on value change instead of
    time gap.

    Scale: one window pass and two grouped counts, all sharing the
    user_id shuffle."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = s.withColumn("run_id", F.sum("new_run").over(cum))
    rl = runs.groupBy("user_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return rl.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("longest_run"),
        F.sum("run_len").alias("n_events"),
    )


@query(
    "ext_freshness_lag",
    oracle="""
    WITH per_type AS (
      SELECT event_type,
             CAST(max(epoch_us(ts)) AS BIGINT) AS latest_us,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ), g AS (SELECT CAST(max(latest_us) AS BIGINT) AS global_us FROM per_type)
    SELECT event_type, n,
           CAST((g.global_us - latest_us) // 1000000 AS BIGINT) AS lag_sec,
           (g.global_us - latest_us) // 1000000 > 3600 AS stale
    FROM per_type, g
    """,
)
def ext_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-freshness report: each event type's most recent event versus
    the newest event anywhere, as a lag in seconds with a staleness flag
    (>1 h behind) — the first page of every pipeline dashboard, answering
    'which producer stopped' before anyone debugs a join. Integer
    microsecond arithmetic throughout.

    Scale: one per-type max (partial-aggregated at the scan) and a 1-row
    broadcast — the report costs a metadata pass; with footer-stats
    pruning (sink_sorted_layout) it needn't even scan data."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("latest_us"),
        F.count(F.lit(1)).alias("n"),
    )
    g = per_type.agg(F.max("latest_us").alias("global_us"))
    return per_type.join(F.broadcast(g)).select(
        "event_type",
        "n",
        F.expr("(global_us - latest_us) DIV 1000000").alias("lag_sec"),
        (F.expr("(global_us - latest_us) DIV 1000000") > 3600).alias("stale"),
    )


@query(
    "ext_first_touch_attribution",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
      FROM events WHERE event_type IN ('click', 'purchase')
    ), w AS (
      SELECT user_id, ts, event_id, event_type, tag,
             first_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS first_click_id,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_id
      FROM u
    )
    SELECT event_id AS purchase_id, user_id, first_click_id, last_click_id,
           first_click_id IS NOT NULL
             AND first_click_id <> last_click_id AS multi_touch
    FROM w WHERE event_type = 'purchase'
    """,
)
def ext_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch vs LAST-touch attribution in one pass: every purchase
    credited to both the user's earliest prior click (first touch — the
    acquisition view) and the most recent one (last touch — the
    join_asof_time view), with a multi-touch flag where the two disagree
    — the disagreement rate is exactly the stake in every attribution-
    model debate. Both credits come from running first/last(ignorenulls)
    frames over one (ts, tag, id) sort.

    Scale: single shuffle on user_id; two frames share the sort."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias(
            "click_id"
        ),
        F.when(F.col("event_type") == "click", F.lit(0))
        .otherwise(F.lit(1))
        .alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.select(
        "user_id",
        "event_id",
        "event_type",
        F.first("click_id", ignorenulls=True).over(w).alias("first_click_id"),
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
    )
    return out.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "first_click_id",
        "last_click_id",
        (
            F.col("first_click_id").isNotNull()
            & (F.col("first_click_id") != F.col("last_click_id"))
        ).alias("multi_touch"),
    )


@query(
    "ext_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), trans AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ), totals AS (
      SELECT from_type, SUM(n) AS tot FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n * 1000000 // o.tot AS BIGINT) AS prob6
    FROM trans t JOIN totals o USING (from_type)
    """,
)
def ext_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams: for
    every (from, to) event-type pair, the transition count and the
    row-normalized probability in micro-units — the session model behind
    next-action prediction, anomaly scoring ("error after purchase is
    20× base rate"), and simulated-user generation. Probabilities are
    integer-ratio micro-units of exact counts, so cross-engine exact.

    Scale: one window shuffle on user_id to order each user's stream,
    then a (types × types)-sized aggregation — the matrix is tiny however
    large the stream; the normalizing join is matrix-sized, broadcast."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.floor(F.col("n") * 1000000 / F.col("tot")).cast("long").alias(
            "prob6"
        ),
    )


_RFM_REF_TS = "2096-01-01 00:00:00"  # fixed reference instant (post-fixture)


@query(
    "ext_rfm_segmentation",
    oracle=f"""
    WITH rfm AS (
      SELECT user_id,
             CAST(date_diff('second', max(ts), TIMESTAMP '{_RFM_REF_TS}')
                  AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    )
    SELECT user_id, recency_s, frequency, monetary_cents,
           CAST(5 - ntile(4) OVER (ORDER BY recency_s, user_id) AS BIGINT)
             AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency, user_id) AS BIGINT)
             AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary_cents NULLS FIRST, user_id)
                AS BIGINT) AS m_score
    FROM rfm
    """,
)
def ext_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user Recency (seconds before a fixed
    reference instant), Frequency (purchase count), Monetary (exact cents),
    each quartile-scored 1–4 by ntile with a deterministic user_id
    tie-break — the classic marketing segmentation, and the standard demo
    that windowed ranking composes with grouped aggregation. Recency is
    inverted (most recent → highest score), matching the convention.

    Scale: one aggregation to per-user rows (users ≪ events), then three
    ``distributed_ntile`` passes (each a range exchange + in-partition
    rank + broadcast offsets) — no single-task global sort anywhere."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    rfm = ev.groupBy("user_id").agg(
        (
            F.lit(F.unix_timestamp(F.lit(_RFM_REF_TS).cast("timestamp")))
            - F.unix_timestamp(F.max("ts"))
        ).alias("recency_s"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    d = distributed_ntile(rfm, ["recency_s", "user_id"], 4, out="_r4")
    d = distributed_ntile(d, ["frequency", "user_id"], 4, out="_f4")
    # monetary can be NULL (a user whose every purchase value is NULL):
    # pinned NULLS FIRST on both engines (Family N1) — unknown spend
    # ranks below every known spend, the conservative m_score
    d = distributed_ntile(
        d, [F.col("monetary_cents").asc_nulls_first(), F.col("user_id")], 4, out="_m4"
    )
    return d.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary_cents",
        (F.lit(5) - F.col("_r4")).cast("long").alias("r_score"),
        F.col("_f4").cast("long").alias("f_score"),
        F.col("_m4").cast("long").alias("m_score"),
    )


_SEQ_TOP = 20


@query(
    "ext_sequential_patterns",
    oracle=f"""
    WITH seq AS (
      -- event_type IS NOT NULL (Family N1/N5 lockstep): an unknown event
      -- type cannot be a pattern element — left in, Spark's concat_ws
      -- silently skips it (emitting a shortened 2-gram) while || yields
      -- a NULL pattern here
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events WHERE event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), pat AS (
      SELECT user_id, e1 || '>' || e2 || '>' || e3 AS pattern
      FROM seq WHERE e3 IS NOT NULL
    )
    SELECT pattern,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM pat GROUP BY pattern
    ORDER BY n_users DESC, n_occurrences DESC, pattern LIMIT {_SEQ_TOP}
    """,
)
def ext_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (GSP-lite): consecutive event-type
    3-grams per user, ranked by SUPPORT (distinct users exhibiting the
    pattern, the metric GSP/PrefixSpan maximize) then raw occurrences —
    the behavioral motifs funnels are later designed around. Contiguous
    3-grams keep the pattern space linear in the stream (general gapped
    subsequences explode combinatorially; the contiguous form is the
    scalable screen that feeds a targeted gapped search).

    Scale: one window shuffle on user_id, one aggregation over a pattern
    space bounded by |types|³, and a top-k.

    NULL event types (Family N1/N5, lockstep): filtered on both engines
    before sequencing — an unknown event type cannot be a pattern
    element, and left in, concat_ws would silently emit a shortened
    2-gram where the oracle's || yields a NULL pattern."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    pat = seq.select(
        "user_id",
        F.concat_ws(">", "e1", "e2", "e3").alias("pattern"),
    )
    return (
        pat.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(
            F.col("n_users").desc(), F.col("n_occurrences").desc(), "pattern"
        )
        .limit(_SEQ_TOP)
    )


_CHURN_HORIZON_S = 7 * 86400  # inactive for 7 days before corpus end = churned


@query(
    "ext_churn_labels",
    oracle=f"""
    WITH horizon AS (
      SELECT max(ts) AS end_ts FROM events
    ), per_user AS (
      SELECT user_id,
             max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, n_purchases,
           CAST(date_diff('second', last_ts, horizon.end_ts) AS BIGINT)
             AS idle_s,
           date_diff('second', last_ts, horizon.end_ts)
             > {_CHURN_HORIZON_S} AS churned
    FROM per_user, horizon
    """,
)
def ext_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN label generation: a user is labeled churned when their last
    event precedes the corpus horizon (max ts) by more than 7 days — the
    standard supervised-label construction for retention models, built
    relative to the DATA's own horizon so the labels are reproducible on
    any fixture vintage (a wall-clock 'now' would rot). Emits the
    features a churn model starts from alongside the label.

    Scale: one per-user aggregation + a 1-row horizon broadcast."""
    ev = load(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("end_ts"))
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
    )
    idle = F.unix_timestamp("end_ts") - F.unix_timestamp("last_ts")
    return per_user.join(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        "n_purchases",
        idle.alias("idle_s"),
        (idle > _CHURN_HORIZON_S).alias("churned"),
    )
