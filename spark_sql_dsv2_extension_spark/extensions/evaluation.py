"""Ranking-quality / statistical-evaluation / layout-planning operators.

The LLM-data-pipeline counterpart to a model-eval harness: once a corpus is
deduped, filtered, and mixed, teams need to SCORE retrieval rankings (NDCG,
MRR), quantify uncertainty (bootstrap CIs), check monotone association
(Spearman), and plan the physical layout of what they write back (file
sizing, zone-map skip rates). The reference engine exposes the relational
primitives these compose from (scan/join/window/agg — e.g. window machinery
per spark-dsv2-hive-catalog's delegation of SQL execution to Catalyst,
V2ExternalCatalog.scala:55-92); this module proves the compositions.

Determinism contract (same as tables.py): every metric is computed from
exact int64 counts; each double op (log2, sqrt, one final divide) is applied
to bit-identical operands in both engines, then rounded to a 1e-6 integer
BEFORE any order-dependent aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import (
    distributed_fill,
    distributed_ntile,
    distributed_row_number,
    distributed_running_sum,
)
from ..registry import query
from ..tables import SQL_PROPS_JSON, fan_out, load
from .similarity import EMB_DIM as _EMB_DIM

NDCG_K = 10
BOOTSTRAP_B = 20  # resamples; CI = 2nd/19th order statistic (~90%)
PREFIX_LEN = 32
SKIP_FILES = 64


@query(
    "ext_ndcg_eval",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS pos
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(rel) AS BIGINT) AS n_relevant,
             CAST(SUM(CASE WHEN rel = 1 AND pos <= {NDCG_K}
                      THEN CAST(round(1000000 / log2(pos + 1)) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS dcg6
      FROM ranked GROUP BY user_id
    ), ideal AS (
      SELECT m, CAST(SUM(g) OVER (ORDER BY m) AS BIGINT) AS idcg6
      FROM (SELECT i AS m,
                   CAST(round(1000000 / log2(i + 1)) AS BIGINT) AS g
            FROM (SELECT unnest(range(1, {NDCG_K} + 1)) AS i))
    )
    SELECT u.user_id, u.n_events, u.n_relevant, u.dcg6,
           ideal.idcg6,
           CAST((u.dcg6 * 1000000) // ideal.idcg6 AS BIGINT) AS ndcg6
    FROM per_user u
    JOIN ideal ON ideal.m = least(u.n_relevant, {NDCG_K})
    WHERE u.n_relevant >= 1
    ORDER BY ndcg6 DESC, u.user_id LIMIT 50
    """,
)
def ext_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of a value-ranked event feed against purchase relevance — THE
    graded ranking metric for retrieval/recommendation QA (binary gains
    here; the formula is the general one). Exact: the position gain
    1e6/log2(pos+1) is one double op on an integer operand, rounded to an
    int before the per-user SUM, and the ideal DCG is a 10-row cumulative
    table broadcast onto users, so NDCG is a ratio of two int64s.

    Scale: one window rank per user partition + one grouped SUM — the
    shuffle key is user_id both times (AQE coalesces); the ideal table is
    K rows, broadcast. Top-50 report via TakeOrdered, no global sort."""
    ev = load(spark, sf_dir, "events")
    pos_w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ranked = ev.select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        F.row_number().over(pos_w).alias("pos"),
    )
    gain6 = F.round(F.lit(1000000) / F.log2(F.col("pos") + 1)).cast("long")
    per_user = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rel").cast("long").alias("n_relevant"),
        F.sum(
            F.when((F.col("rel") == 1) & (F.col("pos") <= NDCG_K), gain6).otherwise(
                F.lit(0)
            )
        ).alias("dcg6"),
    )
    ideal = (
        spark.range(1, NDCG_K + 1)
        .select(
            F.col("id").alias("m"),
            F.round(F.lit(1000000) / F.log2(F.col("id") + 1))
            .cast("long")
            .alias("g"),
        )
        .select(
            "m",
            F.sum("g")
            .over(
                Window.orderBy("m").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("idcg6"),
        )
    )
    return (
        per_user.filter(F.col("n_relevant") >= 1)
        .join(
            F.broadcast(ideal),
            F.least(F.col("n_relevant"), F.lit(NDCG_K)) == F.col("m"),
        )
        .select(
            "user_id",
            "n_events",
            "n_relevant",
            "dcg6",
            "idcg6",
            F.expr("dcg6 * 1000000 div idcg6").alias("ndcg6"),
        )
        .orderBy(F.desc("ndcg6"), "user_id")
        .limit(50)
    )


@query(
    "ext_mrr_eval",
    oracle="""
    WITH ranked AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS pos
      FROM events
    ), per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             MIN(CASE WHEN rel = 1 THEN pos END) AS first_rel
      FROM ranked GROUP BY user_id
    )
    SELECT least(n_events // 10, 5) AS activity_band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(1000000 // first_rel) AS BIGINT) AS sum_rr6,
           CAST(SUM(1000000 // first_rel) // count(*) AS BIGINT) AS mean_rr6
    FROM per_user WHERE first_rel IS NOT NULL
    GROUP BY 1
    """,
)
def ext_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first relevant item in each user's
    value-ranked feed, reported per activity band (events//10, capped) —
    the metric that tells a retrieval pipeline how deep users must scroll
    before the ranking pays off, and whether that differs for heavy users.
    Exact: reciprocal ranks are integer-floored micro-units (1e6 // pos),
    so band sums and means are pure int64 arithmetic.

    Scale: one user-partitioned window + two grouped aggregations; band
    cardinality is 6, so the final shuffle is trivial."""
    ev = load(spark, sf_dir, "events")
    pos_w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        F.row_number().over(pos_w).alias("pos"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.when(F.col("rel") == 1, F.col("pos"))).alias("first_rel"),
    )
    return (
        per_user.filter(F.col("first_rel").isNotNull())
        .select(
            F.expr("least(n_events div 10, 5)").alias("activity_band"),
            F.expr("1000000 div first_rel").alias("rr6"),
        )
        .groupBy("activity_band")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("rr6").cast("long").alias("sum_rr6"),
        )
        .select(
            "activity_band",
            "n_users",
            "sum_rr6",
            F.expr("sum_rr6 div n_users").alias("mean_rr6"),
        )
    )


@query(
    "ext_spearman_corr",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity) AS rx,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice) AS ry
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), s AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sum_d2,
           CAST(round(1000000 * (1 - 6.0 * sum_d2
                / (CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1))))
                AS BIGINT) AS rho6
    FROM s
    """,
)
def ext_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — the monotone-association check that, unlike Pearson (see
    agg_stats_corr), is immune to outliers and nonlinear scaling; the
    standard drift diagnostic between a feature and a quality score.
    Ranks are rank() — the min-rank tie convention, so every row's rank is
    a pure function of its VALUE (row_number tiebreaks are nondeterministic
    across engines when full rows duplicate); d² sums are exact int64,
    and ρ is one shared-operand double expression rounded at 1e-6.
    n³ is computed in doubles so no int64 overflow at any corpus size.

    Overflow note (fixed round 9, found by the round-8 sf0.1 sweep):
    rank() yields IntegerType, so the rank difference is cast to long
    BEFORE squaring — the bare int32 product ANSI-overflows once a rank
    gap exceeds 46,341, reachable in sf0.1's ~200k-row groups and certain
    at corpus scale. With the cast, sum_d2 <= n³ stays inside int64 up to
    n ≈ 2.1M rows per group; past that, switch sum_d2 to
    DecimalType(38,0) (the exact-at-any-n escape hatch — ρ's denominator
    already runs in doubles so the rounded micro-unit result is
    unaffected).

    Scale: two window ranks over the same partition key (one exchange —
    Catalyst reuses the hash partitioning; each is a per-group sort) and a
    3-row aggregate.

    NULL handling (Families N6+N1, NULL_AUDIT_r10.md, lockstep): rows
    with a NULL quantity or price are pre-filtered on BOTH engines —
    textbook Spearman drops incomplete pairs, and leaving them in would
    rank them at opposite ends (Spark NULLS FIRST vs DuckDB NULLS LAST).
    A group reduced to n = 1 has denominator n(n²-1) = 0: try_divide
    NULLs the rho6 exactly where the oracle's 0.0/0.0 goes NaN→NULL."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").isNotNull())
        .filter(F.col("l_extendedprice").isNotNull())
    )
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        F.rank().over(wq).alias("rx"),
        F.rank().over(wp).alias("ry"),
    )
    d = (F.col("rx") - F.col("ry")).cast("long")
    s = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d * d).alias("sum_d2"),
    )
    return s.select(
        "l_returnflag",
        "n",
        "sum_d2",
        F.round(
            1000000
            * (
                1
                - F.try_divide(
                    6.0 * F.col("sum_d2"),
                    F.col("n").cast("double")
                    * (F.col("n").cast("double") * F.col("n").cast("double") - 1),
                )
            )
        )
        .cast("long")
        .alias("rho6"),
    )


@query(
    "ext_poisson_bootstrap_ci",
    oracle=f"""
    WITH v AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), rs AS (
      SELECT b.b,
             CASE (v.event_id * 2654435761 + b.b * 97003 + 12289)
                  % 2147483647 % 4
               WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END AS m,
             v.cents
      FROM v, (SELECT unnest(range(0, {BOOTSTRAP_B})) AS b) b
    ), means AS (
      SELECT b, CAST((CAST(SUM(m * cents) AS BIGINT) * 10000)
                     // CAST(SUM(m) AS BIGINT) AS BIGINT) AS mean6
      FROM rs GROUP BY b
    ), ci AS (
      SELECT list_sort(list(mean6))[2] AS ci_lo6,
             list_sort(list(mean6))[{BOOTSTRAP_B} - 1] AS ci_hi6
      FROM means
    ), base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_purchases,
             CAST((CAST(SUM(cents) AS BIGINT) * 10000) // count(*)
                  AS BIGINT) AS mean6
      FROM v
    )
    SELECT base.n_purchases, base.mean6, ci.ci_lo6, ci.ci_hi6,
           CAST({BOOTSTRAP_B} AS BIGINT) AS n_resamples
    FROM base, ci
    """,
)
def ext_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean purchase value — the
    resampling scheme that actually works distributed (Chamandy et al.'s
    streaming bootstrap): instead of drawing n rows WITH replacement
    (impossible without a global pass), each row independently gets a
    multiplicity per resample. Multiplicities here are a deterministic
    {{0,1,1,2}} hash mix (mean 1, variance 1/2 — same first two moments a
    Poisson(1) draw contributes), so both engines materialize identical
    resamples and the CI is exact: order statistics 2 and {BOOTSTRAP_B}-1
    of {BOOTSTRAP_B} integer resample means.

    Scale: the corpus is scanned once, fanned out ×B map-side (a projection,
    not a shuffle), and aggregated to B rows. No per-row state, no driver
    randomness — the 100 TB-safe uncertainty estimate."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = ev.select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    rs = v.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOTSTRAP_B - 1))).alias("b"),
        "event_id",
    ).select(
        "b",
        "cents",
        F.expr(
            "CASE (event_id * 2654435761 + b * 97003 + 12289) "
            "% 2147483647 % 4 WHEN 0 THEN 0 WHEN 3 THEN 2 ELSE 1 END"
        ).alias("m"),
    )
    # nullif divisor (Family N6): NULL-cents purchases are skipped by
    # SUM(m * cents) but their multiplicities still land in SUM(m); a
    # resample whose every row drew m = 0 has SUM(m) = 0, which ANSI
    # `div` raises on while DuckDB's `//` yields NULL — nullif
    # reproduces the oracle's NULL exactly, and the downstream
    # collect_list/try_element_at pair already tolerates NULL means the
    # same way the oracle's NULLS-LAST list_sort indexing does.
    means = rs.groupBy("b").agg(
        F.expr("sum(m * cents) * 10000 div nullif(sum(m), 0)").alias("mean6")
    )
    # try_element_at: zero purchases -> zero resample groups -> an EMPTY
    # collect_list, where ANSI element_at raises INVALID_ARRAY_INDEX and
    # the oracle's list_sort(NULL)[i] yields NULL (EMPTY_AUDIT_r9.md E4;
    # base's mean6 needs no guard — NULL div 0 propagates NULL on both
    # engines). Non-degenerate inputs always carry all B resamples.
    ci = means.agg(
        F.try_element_at(F.sort_array(F.collect_list("mean6")), F.lit(2)).alias(
            "ci_lo6"
        ),
        F.try_element_at(
            F.sort_array(F.collect_list("mean6")), F.lit(BOOTSTRAP_B - 1)
        ).alias("ci_hi6"),
    )
    base = v.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.expr("sum(cents) * 10000 div count(*)").alias("mean6"),
    )
    return base.join(F.broadcast(ci)).select(
        "n_purchases",
        "mean6",
        "ci_lo6",
        "ci_hi6",
        F.lit(BOOTSTRAP_B).cast("long").alias("n_resamples"),
    )


@query(
    "ext_doc_prefix_dedup",
    oracle=f"""
    SELECT sha256(substr(lower(text), 1, {PREFIX_LEN})) AS prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS keeper_doc_id,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    ORDER BY n_docs DESC, keeper_doc_id LIMIT 100
    """,
)
def ext_doc_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-hash duplicate groups: documents sharing their first
    {PREFIX_LEN} normalized characters — the cheap catch for template
    spam, mirrored pages, and truncation variants that full-content
    hashing (ext_exact_dedup) misses because the tails differ. The
    standard first pass of a crawl dedup cascade: prefix → MinHash →
    exact, each stage shrinking the candidate set for the next.

    Scale: only (32-byte hash, doc_id, lang) shuffles — the text never
    leaves the scan. One groupBy + top-100 TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.sha2(F.substring(F.lower("text"), 1, PREFIX_LEN), 256).alias(
                "prefix_hash"
            ),
            "doc_id",
            "lang",
        )
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "keeper_doc_id")
        .limit(100)
    )


@query(
    "ext_ngram_overlap_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents
    ), bg AS (
      SELECT DISTINCT doc_id, source, bigram FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(0, len(toks) - 1),
                      i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
        FROM t WHERE len(toks) > 1
      )
    ), df AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS docfreq
      FROM bg GROUP BY bigram
    ), per_doc AS (
      SELECT bg.doc_id, bg.source,
             CAST(count(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN df.docfreq >= 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS shared
      FROM bg JOIN df USING (bigram)
      GROUP BY bg.doc_id, bg.source
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(total) AS BIGINT) AS sum_bigrams,
           CAST(SUM(shared) AS BIGINT) AS sum_shared,
           CAST((CAST(SUM(shared) AS BIGINT) * 1000000)
                // CAST(SUM(total) AS BIGINT) AS BIGINT) AS overlap6
    FROM per_doc GROUP BY source
    """,
)
def ext_ngram_overlap_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity via cross-document bigram overlap (the inverse of
    Self-BLEU): per source, the fraction of each document's distinct
    bigrams that also occur in at least one OTHER document... measured as
    docfreq ≥ 2 over per-doc-distinct bigrams. High overlap = templated /
    repetitive source (boilerplate mills score ~1); low = diverse prose.
    The per-source sampling-weight input that dedup alone doesn't give.
    Exact: integer doc-frequency counts, one integer ratio per source.

    Scale: per-doc-distinct shingling is map-side (array_distinct before
    explode); the docfreq join ships (bigram, docfreq) pairs only. Same
    shape as ext_tfidf_topterms — no cartesian anywhere."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    bg = (
        toks.filter(F.size("toks") > 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(bigrams)).alias("bigram"),
        )
    )
    df = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("docfreq"))
    per_doc = (
        bg.join(df, "bigram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("docfreq") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("shared"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("total").alias("sum_bigrams"),
        F.sum("shared").alias("sum_shared"),
        F.expr("sum(shared) * 1000000 div sum(total)").alias("overlap6"),
    )


@query(
    "ext_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n_docs,
             CAST(round(n_docs * sqrt(
               (CAST(n_docs AS DOUBLE) * sx2
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               / (CAST(n_docs AS DOUBLE) * (n_docs - 1.0))))
               AS BIGINT) AS w0
      FROM s WHERE n_docs > 1
    )
    SELECT lang, n_docs, w0 AS stratum_weight,
           CAST((10000 * w0)
                // (SELECT CAST(SUM(w0) AS BIGINT) FROM w)
                AS BIGINT) AS alloc_n
    FROM w
    """,
)
def ext_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation: a 10k-row sampling
    budget split across language strata proportionally to N_h·S_h (stratum
    size × stddev of doc length) — the allocation that minimizes estimator
    variance, vs the naive proportional split ext_stratified_sample uses.
    Exact: variance comes from integer moments (n, Σx, Σx²) in one shared
    double expression; weights are rounded to int64 BEFORE the global sum,
    so the normalizer and every quota are pure integer arithmetic.

    Scale: one grouped aggregation to #languages rows + a broadcast scalar
    — corpus touched once, like ext_temperature_mixture."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sx2"),
    )
    w = s.filter(F.col("n_docs") > 1).select(
        "lang",
        "n_docs",
        F.round(
            F.col("n_docs")
            * F.sqrt(
                (
                    F.col("n_docs").cast("double") * F.col("sx2")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                / (F.col("n_docs").cast("double") * (F.col("n_docs") - 1.0))
            )
        )
        .cast("long")
        .alias("w0"),
    )
    tot = w.agg(F.sum("w0").alias("tw"))
    return w.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.col("w0").alias("stratum_weight"),
        F.expr("10000 * w0 div tw").alias("alloc_n"),
    )


@query(
    "ext_file_skip_effectiveness",
    oracle=f"""
    WITH nat AS (
      SELECT ntile({SKIP_FILES}) OVER (ORDER BY l_orderkey, l_linenumber)
               AS file_id,
             l_shipdate
      FROM lineitem
    ), sorted_l AS (
      SELECT ntile({SKIP_FILES}) OVER (ORDER BY l_shipdate, l_orderkey,
                                                l_linenumber) AS file_id,
             l_shipdate
      FROM lineitem
    ), stats AS (
      SELECT 'natural' AS layout, file_id,
             min(l_shipdate) AS lo, max(l_shipdate) AS hi
      FROM nat GROUP BY file_id
      UNION ALL
      SELECT 'shipdate_sorted', file_id, min(l_shipdate), max(l_shipdate)
      FROM sorted_l GROUP BY file_id
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS files_total,
           CAST(SUM(CASE WHEN lo <= TIMESTAMP '1995-06-30'
                          AND hi >= TIMESTAMP '1995-01-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(((count(*) - CAST(SUM(CASE WHEN lo <= TIMESTAMP '1995-06-30'
                                            AND hi >= TIMESTAMP '1995-01-01'
                                           THEN 1 ELSE 0 END) AS BIGINT))
                 * 1000000) // count(*) AS BIGINT) AS skip6
    FROM stats GROUP BY layout
    """,
)
def ext_file_skip_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skip-rate audit: simulate writing lineitem as {SKIP_FILES}
    files under two layouts (natural key order vs shipdate-sorted — what
    sink_sorted_layout actually writes) and measure how many files a
    6-month shipdate predicate could prune using per-file min/max footer
    stats. THE quantified argument for paying a sort before a write: at
    100 TB the sorted layout prunes ~92% of files for a date-bounded scan,
    the natural layout prunes none.

    Scale: file assignment runs through ``distributed_ntile`` (range
    exchange + in-partition rank + broadcast offsets) — exactly the
    writer's range partitioner, with no single-task global sort."""
    li = load(spark, sf_dir, "lineitem")
    lo, hi = "1995-01-01", "1995-06-30"
    natural = distributed_ntile(
        li.select("l_orderkey", "l_linenumber", "l_shipdate"),
        ["l_orderkey", "l_linenumber"],
        SKIP_FILES,
        out="file_id",
    ).select("file_id", "l_shipdate")
    sorted_l = distributed_ntile(
        li.select("l_shipdate", "l_orderkey", "l_linenumber"),
        ["l_shipdate", "l_orderkey", "l_linenumber"],
        SKIP_FILES,
        out="file_id",
    ).select("file_id", "l_shipdate")
    stats = (
        natural.groupBy("file_id")
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .select(F.lit("natural").alias("layout"), "lo", "hi")
        .unionAll(
            sorted_l.groupBy("file_id")
            .agg(
                F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi")
            )
            .select(F.lit("shipdate_sorted").alias("layout"), "lo", "hi")
        )
    )
    scanned = F.sum(
        F.when(
            (F.col("lo") <= F.lit(hi).cast("timestamp"))
            & (F.col("hi") >= F.lit(lo).cast("timestamp")),
            1,
        ).otherwise(0)
    )
    return stats.groupBy("layout").agg(
        F.count(F.lit(1)).alias("files_total"),
        scanned.cast("long").alias("files_scanned"),
        F.expr(
            f"(count(*) - sum(CASE WHEN lo <= TIMESTAMP '{hi} 00:00:00' "
            f"AND hi >= TIMESTAMP '{lo} 00:00:00' THEN 1 ELSE 0 END)) "
            "* 1000000 div count(*)"
        ).alias("skip6"),
    )


@query(
    "win_cumulative_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_types_so_far
    FROM flagged
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — an operator SQL window
    frames cannot express directly (DISTINCT is illegal in windowed
    aggregates in both engines): rewritten as first-occurrence flagging
    (row_number = 1 per (user, type)) + a cumulative SUM. Tracks per-user
    breadth of behavior over time — the engagement-funnel feature.

    Scale: both windows partition by user_id — one exchange, two per-group
    sorts. No distinct-state blowup: the flag rewrite keeps window state
    O(1) per row where a naive distinct-window would hold a set."""
    ev = load(spark, sf_dir, "events")
    first_w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.row_number().over(first_w) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(cum_w).cast("long").alias("n_types_so_far"),
    )


@query(
    "ext_output_file_planner",
    oracle="""
    WITH p AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS bytes_est
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, bytes_est,
           greatest((bytes_est + 262143) // 262144, 1) AS n_files,
           (n_docs + greatest((bytes_est + 262143) // 262144, 1) - 1)
             // greatest((bytes_est + 262143) // 262144, 1)
             AS rows_per_file,
           bytes_est < 65536 AS is_small_partition
    FROM p
    """,
)
def ext_output_file_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-layout planner: per (source, lang) output partition, the file
    count at a 256 KiB target (ceil division), rows per file, and a
    small-partition flag — the computation behind every sane
    `.repartition(n, keys)` before a partitioned sink, and the planning
    half of sink_compaction (which fixes the small files this report
    predicts). n_chars is the serialized-size proxy the fixtures afford;
    the arithmetic is target-size-agnostic.

    Scale: one grouped aggregation at partition granularity — exactly the
    statistics AQE's coalesce and a writer's bin-packing consume."""
    docs = load(spark, sf_dir, "documents")
    target, small = 262144, 65536
    p = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("bytes_est"),
    )
    n_files = F.greatest(
        F.expr(f"(bytes_est + {target - 1}) div {target}"), F.lit(1)
    )
    return p.select(
        "source",
        "lang",
        "n_docs",
        "bytes_est",
        n_files.alias("n_files"),
        F.expr(
            f"(n_docs + greatest((bytes_est + {target - 1}) div {target}, 1) - 1) "
            f"div greatest((bytes_est + {target - 1}) div {target}, 1)"
        ).alias("rows_per_file"),
        (F.col("bytes_est") < small).alias("is_small_partition"),
    )


PERM_P = 20  # sign-flip permutations


@query(
    "ext_mann_whitney_u",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
               AS grp
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), steps AS (
      SELECT c,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY c
    ), ranked AS (
      SELECT c, c0, c1, cnt,
             CAST(SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) - cnt AS cum_before
      FROM steps
    ), agg AS (
      SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c1 * (2 * cum_before + cnt + 1)) AS BIGINT) AS r1_2x
      FROM ranked
    )
    SELECT n0 AS n_weekday, n1 AS n_weekend,
           r1_2x - n1 * (n1 + 1) AS u2x,
           n0 * n1 AS eu2x
    FROM agg
    """,
)
def ext_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum statistic between weekday and weekend
    purchase values — the nonparametric location test that complements
    ext_ks_two_sample's shape test (U asks "does one slice stochastically
    dominate?", KS asks "do the distributions differ anywhere?"). Reported
    DOUBLED (u2x) so tie-averaged ranks stay integral: with min-rank m and
    tie count t, twice the average rank is 2·(m−1) + t + 1 — exact int64;
    eu2x = n0·n1 is twice the null expectation for comparison.

    Scale: distinct-value step counts (bounded by the value domain), one
    cumulative window over steps, one scalar aggregate — same shape as
    ext_ks_two_sample, no per-row ranking shuffle.

    NULL purchase values excluded in lockstep (LATTICE_AUDIT_r15, the
    r14 order-statistics rule): a NULL value becomes a NULL rank step
    that Spark's cumulative ordering places FIRST and DuckDB's LAST,
    shifting every rank after it — an unknown value cannot be ranked."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("grp"),
    )
    steps = v.groupBy("c").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.count(F.lit(1)).alias("cnt"),
    )
    ranked = distributed_running_sum(
        steps, ["c"], "cnt", out="_cum"
    ).select(
        "c0",
        "c1",
        "cnt",
        (F.col("_cum") - F.col("cnt")).cast("long").alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c1") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("long")
        .alias("r1_2x"),
    )
    return agg.select(
        F.col("n0").alias("n_weekday"),
        F.col("n1").alias("n_weekend"),
        (F.col("r1_2x") - F.col("n1") * (F.col("n1") + 1)).alias("u2x"),
        (F.col("n0") * F.col("n1")).alias("eu2x"),
    )


@query(
    "ext_cramers_v",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY lang, source
    ), r AS (
      SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM o GROUP BY lang
    ), c AS (
      SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM o GROUP BY source
    ), n AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM o
    ), terms AS (
      SELECT CAST(round(1000000
               * (CAST(o.o AS DOUBLE) * n.n - CAST(r.rt AS DOUBLE) * c.ct)
               * (CAST(o.o AS DOUBLE) * n.n - CAST(r.rt AS DOUBLE) * c.ct)
               / (CAST(n.n AS DOUBLE) * r.rt * c.ct)) AS BIGINT) AS t6
      FROM o JOIN r USING (lang) JOIN c USING (source), n
    )
    SELECT n.n, n.n_langs, n.n_sources,
           CAST(SUM(t6) AS BIGINT) AS chi2_6,
           CAST(round(1000000 * sqrt(
             CAST(SUM(t6) AS BIGINT) / 1e6
             / (CAST(n.n AS DOUBLE)
                * (least(n.n_langs, n.n_sources) - 1)))) AS BIGINT) AS v6
    FROM terms, n
    GROUP BY n.n, n.n_langs, n.n_sources
    """,
)
def ext_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between language and source — the bounded
    [0,1] effect size telling a curation pipeline whether two categorical
    facets are redundant (V→1: source determines language, stratify on one)
    or independent (V→0: stratify on both). Chi-squared per-cell terms are
    computed from exact integer marginals in one shared double expression,
    rounded to 1e-6 integers BEFORE the (order-dependent) sum, then one
    sqrt on the identical quotient — the engine-wide determinism contract.

    Degenerate table (a single language or a single source): the V
    normalizer min(r,c)-1 is 0 and ANSI Spark would raise DIVIDE_BY_ZERO
    where DuckDB renders NaN — the final division goes through try_divide
    (NULL, canonicalized equal to NaN; DEGENERATE_AUDIT_r8.md Family B,
    oracle untouched). The per-cell t6 division needs no guard: a
    contingency cell exists only with count >= 1, so its marginals are
    nonzero.

    Scale: the contingency table is |langs|×|sources| rows; marginals are
    two more tiny aggregates; everything after the first groupBy is
    broadcast-sized."""
    docs = load(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    r = o.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    c = o.groupBy("source").agg(F.sum("o").cast("long").alias("ct"))
    n = o.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    dev = (
        F.col("o").cast("double") * F.col("n")
        - F.col("rt").cast("double") * F.col("ct")
    )
    terms = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .join(F.broadcast(n))
        .select(
            F.round(
                1000000
                * dev
                * dev
                / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
            )
            .cast("long")
            .alias("t6"),
            "n",
            "n_langs",
            "n_sources",
        )
    )
    return terms.groupBy("n", "n_langs", "n_sources").agg(
        F.sum("t6").cast("long").alias("chi2_6"),
        F.round(
            1000000
            * F.sqrt(
                F.try_divide(
                    F.sum("t6").cast("long") / F.lit(1e6),
                    F.col("n").cast("double")
                    * (F.least("n_langs", "n_sources") - 1),
                )
            )
        )
        .cast("long")
        .alias("v6"),
    )


@query(
    "ext_permutation_test",
    oracle=f"""
    WITH v AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
               AS grp
      FROM events WHERE event_type = 'purchase'
    ), obs AS (
      SELECT CAST((CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN grp = 0 THEN 1 END)
                - (CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS d6
      FROM v
    ), perms AS (
      SELECT p.p,
             CASE WHEN (v.event_id * 2654435761 + p.p * 97003 + 40503)
                       % 2147483647 % 2 = 0
                  THEN 0 ELSE 1 END AS pgrp,
             v.cents
      FROM v, (SELECT unnest(range(0, {PERM_P})) AS p) p
    ), pd AS (
      SELECT p,
             CAST((CAST(SUM(CASE WHEN pgrp = 0 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN pgrp = 0 THEN 1 END)
                - (CAST(SUM(CASE WHEN pgrp = 1 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN pgrp = 1 THEN 1 END) AS BIGINT) AS d6
      FROM perms GROUP BY p
    )
    SELECT obs.d6 AS obs_diff6,
           CAST((SELECT count(*) FROM pd WHERE abs(pd.d6) >= abs(obs.d6))
                AS BIGINT) AS n_extreme,
           CAST({PERM_P} AS BIGINT) AS n_perms
    FROM obs
    """,
)
def ext_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the weekday/weekend purchase-value gap: the
    group labels are re-dealt {PERM_P} times by a deterministic hash and
    the observed mean difference is ranked against the permutation
    distribution — the assumption-free significance check behind
    ext_ab_test_lift's point estimate (n_extreme/{PERM_P} is the p-value).
    Deterministic: label re-deals are pure hash functions of (event_id,
    perm), means are integer micro-unit floors, so both engines count the
    same extreme set.

    Scale: one fan-out ×P projection (no shuffle growth — the groupBy key
    is the perm index, P partial sums per executor), two scalar rows
    joined at the end. Same 100 TB idiom as ext_poisson_bootstrap_ci."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("grp"),
    )

    def mean_diff6(grp_col: str):
        s0 = F.sum(F.when(F.col(grp_col) == 0, F.col("cents"))).cast("long")
        n0 = F.sum(F.when(F.col(grp_col) == 0, 1))
        s1 = F.sum(F.when(F.col(grp_col) == 1, F.col("cents"))).cast("long")
        n1 = F.sum(F.when(F.col(grp_col) == 1, 1))
        return (
            F.expr(
                f"CAST(sum(CASE WHEN {grp_col} = 0 THEN cents END) AS BIGINT)"
                f" * 10000 div sum(CASE WHEN {grp_col} = 0 THEN 1 END)"
                f" - CAST(sum(CASE WHEN {grp_col} = 1 THEN cents END) AS BIGINT)"
                f" * 10000 div sum(CASE WHEN {grp_col} = 1 THEN 1 END)"
            ).cast("long")
        )

    obs = v.agg(mean_diff6("grp").alias("d6"))
    perms = v.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_P - 1))).alias("p"),
        "event_id",
    ).select(
        "p",
        "cents",
        F.expr(
            "CASE WHEN (event_id * 2654435761 + p * 97003 + 40503) "
            "% 2147483647 % 2 = 0 THEN 0 ELSE 1 END"
        ).alias("pgrp"),
    )
    pd_means = perms.groupBy("p").agg(mean_diff6("pgrp").alias("d6"))
    extreme = (
        pd_means.join(F.broadcast(obs.select(F.col("d6").alias("od6"))))
        .filter(F.abs(F.col("d6")) >= F.abs(F.col("od6")))
        .agg(F.count(F.lit(1)).alias("n_extreme"))
    )
    return (
        obs.select(F.col("d6").alias("obs_diff6"))
        .join(F.broadcast(extreme))
        .select(
            "obs_diff6",
            "n_extreme",
            F.lit(PERM_P).cast("long").alias("n_perms"),
        )
    )


@query(
    "agg_salted_twophase",
    oracle="""
    WITH hist AS (
      -- a NULL value has no place in an order statistic: excluded on BOTH
      -- sides (chaos-audit r12: under Spark's NULLS FIRST a NULL histogram
      -- row shifts every cumulative count; DuckDB sorts it last)
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, cents, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hist
    )
    SELECT event_type, n AS n_events,
           min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS p50_cents
    FROM cum GROUP BY event_type, n
    """,
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median via a salted two-phase histogram — the
    skew-proof pattern for holistic aggregates: a naive
    percentile-per-group shuffles EVERY row of a hot group to one reducer;
    instead phase 1 aggregates (group, salt=value-hash) partial histograms
    map-side across all executors, phase 2 merges the (much smaller)
    distinct-value counts and reads the order statistic off the cumulative
    histogram. The lower median (first value with cum ≥ ⌈n/2⌉) is pure
    integer arithmetic.

    Scale: the reduce-side record count is distinct-values-per-group, not
    rows-per-group — a hot group with 1e9 rows but 1e4 distinct cents
    values shuffles 1e4 records. This is how exact percentiles stay
    feasible at 100 TB."""
    # NULL values carry no rank — excluded on both sides (chaos r12)
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # phase 1: salted partial histograms (explicit salt keeps ANY single
    # reduce key bounded even before Spark's own partial aggregation)
    phase1 = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            (F.crc32(F.col("value").cast("string")) % 16).alias("salt"),
        )
        .groupBy("event_type", "cents", "salt")
        .agg(F.count(F.lit(1)).alias("pcnt"))
    )
    # phase 2: merge partials into the per-group value histogram
    hist = phase1.groupBy("event_type", "cents").agg(
        F.sum("pcnt").cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("n"),
    )
    return (
        cum.groupBy("event_type", "n")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("cents"))
            ).alias("p50_cents")
        )
        .select("event_type", F.col("n").alias("n_events"), "p50_cents")
    )


@query(
    "ext_incremental_agg_merge",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def ext_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: the corpus
    is split into a BASE partition and a NEW shard (doc_id % 10 == 9 — the
    daily increment), each aggregated independently, and the shard's
    partials are MERGED into the base's (sum+sum, max of max) without
    touching base rows again. The oracle recomputes from scratch; equality
    proves merge(agg(A), agg(B)) == agg(A ∪ B) — the algebraic property
    every incremental pipeline (and every Spark partial aggregation)
    relies on.

    Scale: the point of the pattern — a 100 TB base is NEVER rescanned;
    each increment costs only its own aggregation plus a merge at
    #groups cardinality."""
    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 9

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )

    base = partial(docs.filter(~is_new))
    shard = partial(docs.filter(is_new))
    return (
        base.unionByName(shard)
        .groupBy("lang")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
            F.max("max_chars").cast("long").alias("max_chars"),
        )
    )


COOC_MIN_SUPPORT = 3


@query(
    "ext_item_cooccurrence_lift",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item
      FROM events
    ), ic AS (
      SELECT item, CAST(count(*) AS BIGINT) AS c FROM ui GROUP BY item
    ), nu AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM ui
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM ui a JOIN ui b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_SUPPORT}
    )
    SELECT item_a, item_b, c_ab,
           CAST(round(1000000 * CAST(c_ab AS DOUBLE) * nu.n
                      / (CAST(ca.c AS DOUBLE) * cb.c)) AS BIGINT) AS lift6
    FROM pairs
    JOIN ic ca ON ca.item = item_a
    JOIN ic cb ON cb.item = item_b, nu
    ORDER BY lift6 DESC, item_a, item_b LIMIT 50
    """,
)
def ext_item_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift over the (user, item) interactions hiding in
    events.props: lift(a,b) = P(a∧b)/(P(a)·P(b)) over users, the
    association-rule score behind "users who touched X also touched Y" —
    and the data-curation tool for finding redundant content facets.
    Exact: supports are integer user counts; lift is one shared-operand
    double rounded at 1e-6; ties at the top-50 boundary break on the item
    pair.

    Scale: the pair join is per-user (bounded by per-user basket size, the
    classic market-basket shape — salt any whale user), supports broadcast
    back onto pairs. No item×item cartesian: pairs exist only where a
    basket witnessed them.

    try_cast ↔ TRY_CAST (EXTREME_AUDIT_r11.md Family X3, shared by all six
    recommendation-graph keys parsing events.props.k): a non-scalar payload
    field (props.k = [1,2], routine schema drift) is not an item id — a
    bare cast raises on BOTH engines; NULL-and-drop is the explicit,
    engine-agreed semantics (the NULL item then falls out of the DISTINCT
    basket exactly like a missing key)."""
    ev = load(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
    ).distinct()
    # cached: without it, 0.94 → 1.31 s at sf0.1
    ui.cache()
    ic = ui.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    nu = ui.agg(F.countDistinct("user_id").alias("n"))
    a = ui.select("user_id", F.col("item").alias("item_a"))
    b = ui.select("user_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= COOC_MIN_SUPPORT)
    )
    return (
        pairs.join(
            F.broadcast(ic.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))),
            "item_a",
        )
        .join(
            F.broadcast(ic.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))),
            "item_b",
        )
        .join(F.broadcast(nu))
        .select(
            "item_a",
            "item_b",
            "c_ab",
            F.round(
                1000000
                * F.col("c_ab").cast("double")
                * F.col("n")
                / (F.col("ca").cast("double") * F.col("cb"))
            )
            .cast("long")
            .alias("lift6"),
        )
        .orderBy(F.desc("lift6"), "item_a", "item_b")
        .limit(50)
    )


@query(
    "ext_cooccurrence_degree_dist",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item
      FROM events
    ), pairs AS (
      SELECT a.item AS item_a, b.item AS item_b
      FROM ui a JOIN ui b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_SUPPORT}
    ), edges AS (
      SELECT item_a AS item, item_b AS nbr FROM pairs
      UNION ALL
      SELECT item_b, item_a FROM pairs
    ), deg AS (
      SELECT item, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY item
    )
    SELECT degree, CAST(count(*) AS BIGINT) AS n_items
    FROM deg GROUP BY degree
    """,
)
def ext_cooccurrence_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the item co-occurrence graph (edges =
    item pairs with ≥{COOC_MIN_SUPPORT} shared users): the one-glance
    graph-health profile — a heavy right tail means hub items that will
    blow up any downstream graph walk or pairwise computation, the graph
    analogue of ext_join_skew_report's key-skew audit.

    Scale: reuses the bounded per-user pair expansion, then two tiny
    groupBys; degree cardinality is at most #items."""
    ev = load(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
    ).distinct()
    a = ui.select("user_id", F.col("item").alias("item_a"))
    b = ui.select("user_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= COOC_MIN_SUPPORT)
    )
    edges = pairs.select(F.col("item_a").alias("item")).unionAll(
        pairs.select(F.col("item_b").alias("item"))
    )
    deg = edges.groupBy("item").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_items"))


@query(
    "ext_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
             (epoch_us(lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              - epoch_us(ts)) // 1000000 AS dur_s
      FROM events
    ), agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
             CAST(SUM(dur_s) AS BIGINT) AS total_s,
             -- HUGEINT from the per-element multiply up: a 1e7 price held
             -- across a 54-year gap (epoch-0 to 2024) puts cents*dur_s at
             -- ~1.7e18 and wsum*10000 past int64 on BOTH engines
             -- (chaos-audit r12; mirrored by Spark's decimal(38,0))
             CAST(SUM(CAST(cents AS HUGEINT) * dur_s) AS HUGEINT) AS wsum
      FROM seq WHERE dur_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_intervals, total_s,
           CAST((wsum * 10000) // total_s AS BIGINT) AS twap6
    FROM agg WHERE total_s > 0
    """,
)
def ext_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value is
    weighted by how long it remained the latest observation — the correct
    average for irregularly-sampled series (plain AVG over-weights bursts;
    a monitoring gauge sampled 100× in one bad minute would poison a naive
    mean). Durations are exact integer seconds from µs epochs; the TWAP is
    one integer division at 1e-6 precision.

    Scale: one user-partitioned window (lead) + one grouped aggregation —
    the same single-exchange shape as win_session_gaps."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
            / F.lit(1000000)
        )
        .cast("long")
        .alias("dur_s"),
    )
    agg = (
        seq.filter(F.col("dur_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_s").cast("long").alias("total_s"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("dur_s"))
            .cast("decimal(38,0)")
            .alias("wsum"),
        )
    )
    return agg.filter(F.col("total_s") > 0).select(
        "user_id",
        "n_intervals",
        "total_s",
        F.expr("CAST(wsum * 10000 div total_s AS BIGINT)").alias("twap6"),
    )


@query(
    "ext_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), pairs AS (
      SELECT CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON a.day < b.day
    ), agg AS (
      SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
             CAST(SUM(sgn) AS BIGINT) AS s_stat,
             CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tie_pairs
      FROM pairs
    )
    SELECT n_days, s_stat, n_tie_pairs,
           n_days * (n_days - 1) * (2 * n_days + 5) AS var18
    FROM agg
    """,
)
def ext_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on daily purchase revenue: S = Σ sign(x_j −
    x_i) over all ordered day pairs — the nonparametric "is this series
    drifting?" monitor (robust to outliers and any monotone transform,
    unlike a fitted slope; complements ext_user_trend_slope's OLS). S and
    the tie count are exact integers; var18 = 18·Var(S) under H0 (no-ties
    form) ships as an integer so the consumer can z-score without any
    float leaving the engine.

    Scale: the pairwise join is over DAYS, not rows — bounded by the
    calendar (a 10-year corpus is ~3.7k days → 7M cheap pairs) while the
    corpus-sized work is one groupBy."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    a = daily.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    sgn = (
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
    )
    pairs = a.join(b, F.col("da") < F.col("db")).select(sgn.alias("sgn"))
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    agg = pairs.agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.sum(F.when(F.col("sgn") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_tie_pairs"),
    )
    return agg.join(F.broadcast(nd)).select(
        "n_days",
        "s_stat",
        "n_tie_pairs",
        (
            F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        ).alias("var18"),
    )


@query(
    "ext_khop_neighborhood",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item
      FROM events
    ), p AS (
      SELECT a.item AS ia, b.item AS ib
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_SUPPORT}
    ), e AS (
      SELECT ia AS u, ib AS v FROM p UNION ALL SELECT ib, ia FROM p
    ), one AS (
      SELECT DISTINCT u, v FROM e
    ), two AS (
      SELECT DISTINCT a.u, b.v FROM one a JOIN one b ON a.v = b.u
      WHERE b.v <> a.u
    ), reach AS (
      SELECT u, v, 1 AS hop FROM one
      UNION ALL SELECT u, v, 2 FROM two
    )
    SELECT u AS item,
           CAST(count(DISTINCT CASE WHEN hop = 1 THEN v END) AS BIGINT)
             AS n_1hop,
           CAST(count(DISTINCT v) AS BIGINT) AS n_within_2hop
    FROM reach GROUP BY u
    """,
)
def ext_khop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop neighborhood size over the item co-occurrence graph
    (k=2): per item, how many items are reachable in one hop vs within
    two — the expansion profile that predicts whether graph-propagation
    workloads (label spreading, collaborative filters) will fan out
    gently or explode, and the per-node refinement of
    ext_cooccurrence_degree_dist's global histogram.

    Scale: each hop is one self-equi-join on node id + distinct — the
    standard BFS-frontier relational encoding (sql_recursive_hierarchy is
    the unbounded-depth cousin); hop count is fixed so the plan is static
    and AQE sizes each frontier join independently."""
    ev = load(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
    ).distinct()
    a = ui.select("user_id", F.col("item").alias("ia"))
    b = ui.select("user_id", F.col("item").alias("ib"))
    p = (
        a.join(b, ["user_id"])
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= COOC_MIN_SUPPORT)
    )
    one = (
        p.select(F.col("ia").alias("u"), F.col("ib").alias("v"))
        .unionAll(p.select(F.col("ib").alias("u"), F.col("ia").alias("v")))
        .distinct()
    )
    two = (
        one.alias("a")
        .join(one.alias("b"), F.col("a.v") == F.col("b.u"))
        .filter(F.col("b.v") != F.col("a.u"))
        .select(F.col("a.u").alias("u"), F.col("b.v").alias("v"))
        .distinct()
    )
    reach = one.select("u", "v", F.lit(1).alias("hop")).unionAll(
        two.select("u", "v", F.lit(2).alias("hop"))
    )
    return reach.groupBy(F.col("u").alias("item")).agg(
        F.countDistinct(F.when(F.col("hop") == 1, F.col("v"))).alias("n_1hop"),
        F.countDistinct("v").alias("n_within_2hop"),
    )


@query(
    "ext_kaplan_meier_retention",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
               AS lifespan
      FROM events GROUP BY user_id
    ), deaths AS (
      SELECT lifespan AS t, CAST(count(*) AS BIGINT) AS d
      FROM spans GROUP BY lifespan
    ), risk AS (
      SELECT t, d,
             CAST(SUM(d) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS n
      FROM deaths
    ), terms AS (
      SELECT t, d, n,
             CASE WHEN n > d
                  THEN CAST(round(1000000 * ln(
                         CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE)))
                       AS BIGINT)
                  ELSE -999000000 END AS term6
      FROM risk
    )
    SELECT t AS t_days, n AS n_risk, d AS n_churned,
           CAST(SUM(term6) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumlog6,
           CAST(round(1000000 * exp(
             CAST(SUM(term6) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE) / 1000000)) AS BIGINT) AS survival6
    FROM terms
    """,
)
def ext_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention curve over user lifespans (days between
    first and last event): S(t) = Π_{i≤t} (1 − d_i/n_i) — THE estimator
    behind every retention chart, computed the numerically-safe
    distributed way: per-step log-hazard ln((n−d)/n) on exact integer
    (deaths, risk-set) counts, rounded to a 1e-6 integer per step, then a
    cumulative INTEGER sum and one exp at the end. The risk set n_t is a
    reverse-cumulative sum over the death histogram — no per-user
    resorting. The final all-churned step (n == d) carries a −999 sentinel
    log so survival rounds to exactly 0 in both engines.

    Scale: corpus → per-user span (one groupBy) → death histogram
    (#distinct lifespans rows) → two windows over that tiny series. The
    curve length is bounded by the calendar, not the user count."""
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias(
            "lifespan"
        )
    )
    deaths = spans.groupBy(F.col("lifespan").alias("t")).agg(
        F.count(F.lit(1)).alias("d")
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = deaths.select(
        "t", "d", F.sum("d").over(w_desc).cast("long").alias("n")
    )
    term6 = F.when(
        F.col("n") > F.col("d"),
        F.round(
            1000000
            * F.log(
                (F.col("n") - F.col("d")).cast("double") / F.col("n").cast("double")
            )
        ).cast("long"),
    ).otherwise(F.lit(-999000000))
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = risk.select("t", "d", "n", term6.alias("term6"))
    return terms.select(
        F.col("t").alias("t_days"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_churned"),
        F.sum("term6").over(w_asc).cast("long").alias("cumlog6"),
        F.round(
            1000000
            * F.exp(F.sum("term6").over(w_asc).cast("double") / F.lit(1000000))
        )
        .cast("long")
        .alias("survival6"),
    )


COVERAGE_ROUNDS = 5


def _coverage_oracle() -> str:
    """Unrolled greedy max-coverage SQL: round r picks the doc with the
    most not-yet-covered tokens (ties → min doc_id), then folds its tokens
    into the covered set. Generated programmatically so the SQL stays in
    lock-step with COVERAGE_ROUNDS."""
    parts = [
        """
    WITH tkn AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), dt AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, len(toks) - 1),
                      i -> toks[i + 1] || ' ' || toks[i + 2])) AS w
        FROM tkn WHERE len(toks) > 1
      )
    ), m1 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY doc_id
    ), s1 AS (
      SELECT doc_id, c FROM m1 ORDER BY c DESC, doc_id LIMIT 1
    ), cov1 AS (
      SELECT DISTINCT w FROM dt JOIN s1 USING (doc_id)
    )"""
    ]
    for r in range(2, COVERAGE_ROUNDS + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT doc_id FROM s{i}" for i in range(1, r)
        )
        parts.append(
            f""", m{r} AS (
      SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS c
      FROM dt LEFT JOIN cov{r - 1} cv ON dt.w = cv.w
      WHERE cv.w IS NULL AND dt.doc_id NOT IN ({prev_sel})
      GROUP BY dt.doc_id
    ), s{r} AS (
      SELECT doc_id, c FROM m{r} ORDER BY c DESC, doc_id LIMIT 1
    ), cov{r} AS (
      SELECT w FROM cov{r - 1}
      UNION
      SELECT DISTINCT w FROM dt JOIN s{r} USING (doc_id)
    )"""
        )
    selects = " UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round, doc_id,
               c AS new_terms,
               (SELECT CAST(count(*) AS BIGINT) FROM cov{r}) AS covered_total
        FROM s{r}"""
        for r in range(1, COVERAGE_ROUNDS + 1)
    )
    return "".join(parts) + "\n    " + selects


@query("ext_coverage_maximization", oracle=_coverage_oracle())
def ext_coverage_maximization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection: pick {COVERAGE_ROUNDS} docs
    that together cover the most BIGRAM vocabulary (the unigram vocab of
    these fixtures is degenerate — 31 words — so bigrams are the
    informative universe), one argmax-marginal-gain doc per round — the
    classic submodular facility-location heuristic behind
    "select the K most informative examples" (greedy is (1−1/e)-optimal).
    Deterministic: marginal gains are integer distinct-token counts, ties
    break on doc_id.

    Scale shape: the inherently sequential part is K (tiny); each round is
    one anti-join + one grouped count, all cluster-side, over a frontier
    that SHRINKS monotonically (r16 restructure): instead of re-scanning
    the full (doc, bigram) relation against a GROWING covered-vocabulary
    union each round, the candidate relation itself is anti-joined down —
    cand_{{r+1}} = cand_r ⟂ new_cov_r ≡ dt ⟂ cov_r because anti-join
    against a union is the composition of anti-joins. The newly covered
    set each round is exactly the selected doc's UNCOVERED bigrams (its
    covered ones are already in cov), so the increments are DISJOINT and
    covered_total is the running sum of new_terms — the per-round
    covered-set union + distinct + count subtree is gone entirely, and
    the final round needs no coverage update at all. One pathology is
    preserved bit-for-bit: a selected NULL-doc_id group covered nothing
    under the old inner equi-join on doc_id, so its running-sum increment
    is gated on doc_id IS NOT NULL. The selected-doc and frontier
    relations pass between rounds as localCheckpointed DataFrames
    (executor-resident, constant-size plans — same lineage-truncation
    discipline as the connected-components loop in extensions/dedup.py);
    nothing is collected to the driver."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    dt = (
        toks.filter(F.size("toks") > 1)
        .select("doc_id", F.explode(F.array_distinct(bigrams)).alias("w"))
    )
    # ONE exchange total (r16): the corpus collapses to per-doc bigram
    # SETS up front (collect_set ≡ the oracle's globally DISTINCT
    # (doc_id, w) relation grouped per doc), and every greedy round is
    # then a MAP-ONLY pass — size(array_except(set, covered)) — over the
    # doc-count-sized set relation plus a TakeOrdered(1): no per-round
    # join, shuffle, or covered-set materialization at all. `covered`
    # rides between rounds as a one-row array relation (bounded by the K
    # selected docs' combined vocabulary — broadcast-safe at any corpus
    # scale).
    docsets = dt.groupBy("doc_id").agg(F.collect_set("w").alias("ws"))
    # cached: without it, 1.36 → 1.72 s at sf0.01 and 2.13 → 3.89 s at sf0.1
    docsets.cache()
    covrel = spark.range(1).select(
        F.array().cast("array<string>").alias("cov")
    )
    out = None
    for r in range(1, COVERAGE_ROUNDS + 1):
        # Docs with zero uncovered bigrams vanish (c >= 1), exactly as
        # they vanished from the old per-round grouped count when the
        # anti-join left them no rows; a selected doc always re-scores 0,
        # so no explicit exclusion is needed.
        scored = (
            docsets.join(F.broadcast(covrel))
            .select(
                "doc_id",
                F.size(F.array_except("ws", "cov")).cast("long").alias("c"),
                "ws",
            )
            .filter(F.col("c") >= 1)
        )
        # Lazy checkpoints (r16): the plan truncates to a LogicalRDD at
        # .localCheckpoint() call time either way (the property that keeps
        # Catalyst planning constant per round); eager=False defers the
        # materialization into the single final action — the per-round
        # RDDs persist on first compute and later rounds read those
        # blocks, so the sequential greedy structure is preserved without
        # per-round blocking driver jobs.
        s = (
            scored.orderBy(F.desc("c"), "doc_id")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        row = s.select(
            F.lit(r).cast("long").alias("round"),
            "doc_id",
            F.col("c").alias("new_terms"),
        )
        out = row if out is None else out.unionByName(row)
        if r < COVERAGE_ROUNDS:
            # A selected NULL-doc_id group covered nothing under the old
            # inner equi-join on doc_id; the when-gate preserves that
            # pathology bit-for-bit.
            covrel = (
                covrel.join(F.broadcast(s))
                .select(
                    F.when(F.col("doc_id").isNull(), F.col("cov"))
                    .otherwise(F.array_union("cov", "ws"))
                    .alias("cov")
                )
                .localCheckpoint(eager=False)
            )
    # covered_total = running sum of the DISJOINT per-round gains; the
    # NULL-doc_id gate mirrors the old inner equi-join on doc_id, which
    # silently covered nothing for a NULL selection. The window is
    # unpartitioned but COVERAGE_ROUNDS-row bounded (a plan constant).
    w_run = Window.orderBy("round").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return out.withColumn(
        "covered_total",
        F.sum(
            F.when(F.col("doc_id").isNull(), F.lit(0)).otherwise(
                F.col("new_terms")
            )
        ).over(w_run),
    )


@query(
    "ext_entropy_rate_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), c AS (
      SELECT event_type AS s, nxt AS t, CAST(count(*) AS BIGINT) AS cij
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), rowtot AS (
      SELECT s, CAST(SUM(cij) AS BIGINT) AS ci FROM c GROUP BY s
    ), n AS (
      SELECT CAST(SUM(cij) AS BIGINT) AS n FROM c
    )
    SELECT c.s AS from_state, rowtot.ci AS n_out,
           CAST((rowtot.ci * 1000000) // n.n AS BIGINT) AS pi6,
           CAST(SUM(CAST(round(-1000000 * (CAST(c.cij AS DOUBLE) / rowtot.ci)
                    * ln(CAST(c.cij AS DOUBLE) / rowtot.ci)) AS BIGINT))
                AS BIGINT) AS h6
    FROM c JOIN rowtot USING (s), n
    GROUP BY c.s, rowtot.ci, n.n
    """,
)
def ext_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy of the event-type Markov chain (the
    ingredients of the chain's entropy rate H = Σ_i π_i H_i): for each
    current state, how unpredictable is the NEXT action — the sequence-
    compressibility / bot-detection signal that complements
    ext_markov_transitions' raw matrix and ext_word_entropy's i.i.d.
    token entropy. Each −p·ln(p) term is computed from one exact integer
    fraction, rounded to a 1e-6 integer BEFORE summing; π is an integer
    micro-ratio.

    Scale: one user-partitioned lead window (single exchange) + counts at
    state-pair cardinality (~25 rows) — everything after the window is
    broadcast-sized."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count(F.lit(1)).alias("cij"))
    rowtot = c.groupBy("s").agg(F.sum("cij").cast("long").alias("ci"))
    n = c.agg(F.sum("cij").cast("long").alias("n"))
    p = F.col("cij").cast("double") / F.col("ci")
    term6 = F.round(-1000000 * p * F.log(p)).cast("long")
    return (
        c.join(F.broadcast(rowtot), "s")
        .join(F.broadcast(n))
        .groupBy(F.col("s").alias("from_state"), F.col("ci").alias("n_out"), "n")
        .agg(F.sum(term6).cast("long").alias("h6"))
        .select(
            "from_state",
            "n_out",
            F.expr("n_out * 1000000 div n").alias("pi6"),
            "h6",
        )
    )


@query(
    "ext_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS t,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
      -- a day whose revenue sum is unknown (all values NULL) cannot form
      -- slope pairs: its NULL slopes would sit at OPPOSITE ends of the
      -- two engines' rank orders (Spark NULLS FIRST asc, DuckDB NULLS
      -- LAST) and shift the median rank (ragged-chaos audit, r14)
      HAVING SUM(CAST(round(value * 100) AS BIGINT)) IS NOT NULL
    ), slopes AS (
      SELECT CAST(round(1000000 * CAST(b.cents - a.cents AS DOUBLE)
                        / (b.t - a.t)) AS BIGINT) AS slope6
      FROM daily a JOIN daily b ON a.t < b.t
    ), ranked AS (
      SELECT slope6,
             row_number() OVER (ORDER BY slope6) AS rn,
             count(*) OVER () AS n
      FROM slopes
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN rn = (n + 1) // 2 THEN slope6 END) AS BIGINT)
             AS median_slope6
    FROM ranked
    """,
)
def ext_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of daily purchase revenue: the median
    of all pairwise day-to-day slopes — the estimator that tolerates up to
    ~29% outlier days where OLS (ext_user_trend_slope) is dragged by one
    flash sale. Pairs with Mann–Kendall (same day-pair machinery: MK gives
    the trend's significance, Theil–Sen its magnitude). Each slope is one
    shared-operand double rounded to a 1e-6 integer; the median is the
    LOWER order statistic (rank ⌈n/2⌉) — an actual element, no
    two-element averaging, so no .5 boundary exists.

    Scale: pairs are over DAYS (calendar-bounded) but grow
    quadratically with the time range, so the rank runs through
    ``distributed_row_number`` (range exchange + broadcast offsets) and
    the total through a broadcast 1-row join — no single-task window."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date")).alias("t")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    ).filter(F.col("cents").isNotNull())  # lockstep with the oracle HAVING
    # cached: without it, 0.59 → 0.61 s at sf0.01 (with-IQR 0.02 s)
    daily.cache()
    a = daily.select(F.col("t").alias("ta"), F.col("cents").alias("ca"))
    b = daily.select(F.col("t").alias("tb"), F.col("cents").alias("cb"))
    slopes = a.join(b, F.col("ta") < F.col("tb")).select(
        F.round(
            1000000
            * (F.col("cb") - F.col("ca")).cast("double")
            / (F.col("tb") - F.col("ta"))
        )
        .cast("long")
        .alias("slope6")
    )
    ranked = distributed_row_number(slopes, ["slope6"], rn="rn")
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = ranked.join(F.broadcast(tot))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("slope6"))
        )
        .cast("long")
        .alias("median_slope6"),
    )


WF_FOLDS = 4
WF_DENOM = 6  # timeline sixths: fold k trains on [0, k), evals on [k, k+1)


@query(
    "ext_walk_forward_splits",
    oracle=f"""
    WITH bounds AS (
      SELECT epoch_us(min(ts)) AS lo,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // {WF_DENOM} AS step
      FROM events
    ), folds AS (
      SELECT unnest(range(1, {WF_FOLDS} + 1)) AS fold
    ), tagged AS (
      SELECT f.fold, e.user_id,
             CASE WHEN epoch_us(e.ts) < b.lo + f.fold * b.step
                  THEN 1 ELSE 0 END AS in_train,
             CASE WHEN epoch_us(e.ts) >= b.lo + f.fold * b.step
                   AND epoch_us(e.ts) < b.lo + (f.fold + 1) * b.step
                  THEN 1 ELSE 0 END AS in_eval
      FROM events e, bounds b, folds f
    ), per_user AS (
      SELECT fold, user_id,
             max(in_train) AS ut, max(in_eval) AS ue,
             CAST(SUM(in_train) AS BIGINT) AS n_train,
             CAST(SUM(in_eval) AS BIGINT) AS n_eval
      FROM tagged GROUP BY fold, user_id
    )
    SELECT fold, CAST(SUM(n_train) AS BIGINT) AS train_events,
           CAST(SUM(n_eval) AS BIGINT) AS eval_events,
           CAST(SUM(ut) AS BIGINT) AS train_users,
           CAST(SUM(ue) AS BIGINT) AS eval_users,
           CAST(SUM(CASE WHEN ue = 1 AND ut = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS cold_start_users
    FROM per_user GROUP BY fold
    """,
)
def ext_walk_forward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (rolling-origin) cross-validation plan: {WF_FOLDS}
    folds where fold k trains on the first k sixths of the timeline and
    evaluates on the next sixth — the ONLY leakage-safe CV for temporal
    data (random k-fold lets the future train the past; ext_group_kfold
    handles entity leakage, this handles time). Reports per-fold event and
    user volumes plus COLD-START users (present in eval, absent from
    train) — the number that decides whether the eval measures
    generalization or just memory. Boundaries are exact integer µs
    arithmetic on the min/max epochs.

    Scale: one min/max aggregate (broadcast), one ×{WF_FOLDS} fan-out, two
    grouped aggregations keyed on (fold, user) then fold."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    bounds = ev.agg(
        F.min("us").alias("lo"),
        # integer div, not `/`+cast: a double quotient can round up across
        # the next integer before truncation, diverging from DuckDB's `//`
        F.expr(f"(max(us) - min(us)) div {WF_DENOM}").alias("step"),
    )
    folds = spark.range(1, WF_FOLDS + 1).select(F.col("id").alias("fold"))
    tagged = (
        ev.join(F.broadcast(bounds))
        .join(F.broadcast(folds))
        .select(
            "fold",
            "user_id",
            F.when(F.col("us") < F.col("lo") + F.col("fold") * F.col("step"), 1)
            .otherwise(0)
            .alias("in_train"),
            F.when(
                (F.col("us") >= F.col("lo") + F.col("fold") * F.col("step"))
                & (
                    F.col("us")
                    < F.col("lo") + (F.col("fold") + 1) * F.col("step")
                ),
                1,
            )
            .otherwise(0)
            .alias("in_eval"),
        )
    )
    per_user = tagged.groupBy("fold", "user_id").agg(
        F.max("in_train").alias("ut"),
        F.max("in_eval").alias("ue"),
        F.sum("in_train").cast("long").alias("n_train"),
        F.sum("in_eval").cast("long").alias("n_eval"),
    )
    return per_user.groupBy("fold").agg(
        F.sum("n_train").cast("long").alias("train_events"),
        F.sum("n_eval").cast("long").alias("eval_events"),
        F.sum("ut").cast("long").alias("train_users"),
        F.sum("ue").cast("long").alias("eval_users"),
        F.sum(F.when((F.col("ue") == 1) & (F.col("ut") == 0), 1).otherwise(0))
        .cast("long")
        .alias("cold_start_users"),
    )


DELTA_TOP_TERMS = 20


@query(
    "ext_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE length(w) > 0 GROUP BY source, w
    ), tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY source
    ), top_terms AS (
      SELECT w FROM (
        SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY w
        ORDER BY ct DESC, w LIMIT {DELTA_TOP_TERMS}
      )
    ), dense AS (
      SELECT tot.source, top_terms.w,
             CAST(coalesce(tf.c, 0) * 1000000 // tot.n AS BIGINT) AS rf6
      FROM tot CROSS JOIN top_terms
      LEFT JOIN tf ON tf.source = tot.source AND tf.w = top_terms.w
    ), stats AS (
      SELECT w, CAST(count(*) AS BIGINT) AS ns,
             CAST(SUM(rf6) AS BIGINT) AS sx,
             CAST(SUM(rf6 * rf6) AS BIGINT) AS sx2
      FROM dense GROUP BY w
    ), z AS (
      SELECT dense.source, dense.w,
             CAST(round(1000000.0
               * (dense.rf6 - CAST(stats.sx AS DOUBLE) / stats.ns)
               / sqrt((CAST(stats.ns AS DOUBLE) * stats.sx2
                       - CAST(stats.sx AS DOUBLE) * stats.sx)
                      / (CAST(stats.ns AS DOUBLE) * (stats.ns - 1.0))))
               AS BIGINT) AS z6
      FROM dense JOIN stats USING (w)
      WHERE CAST(stats.ns AS DOUBLE) * stats.sx2
            - CAST(stats.sx AS DOUBLE) * stats.sx > 0
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(SUM(abs(a.z6 - b.z6)) // count(*) AS BIGINT) AS delta6
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def ext_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score each
    source's relative frequency of the corpus's top-{DELTA_TOP_TERMS}
    terms, then average |z_a − z_b| per source pair — the century-old
    authorship-attribution measure that doubles as a source-homogeneity
    audit (two crawls of the same site score near 0; machine-generated
    spam sticks out). Relative frequencies are integer micro-units, the
    z-scores one shared-operand double rounded at 1e-6, the pairwise mean
    an integer division; zero-variance terms are excluded identically on
    both sides.

    Scale: term stats shrink to ({DELTA_TOP_TERMS} terms × #sources)
    immediately after one corpus-wide count; every join after that is
    broadcast-sized."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") > 0
    )
    # Lazy localCheckpoint leaf on tf (r17, the kneser-ney pattern): its
    # three consumers (tot, top_terms, dense) column-prune and
    # filter-specialize their copies of the aggregate, so neither static
    # ReuseExchange nor AQE stage reuse bridged them — the r16 after-plan
    # showed the documents scan 24× with ZERO ReusedExchange nodes and
    # the driver bench read 0.79× (the r16 no-cache claim was wrong; the
    # r16 verdict's item 1). The leaf materializes the (#sources × vocab)
    # table once per invocation and every consumer aggregates the
    # LogicalRDD — one tokenize subtree, one corpus shuffle, AND plan
    # truncation (strictly better than either the old cache or no-cache).
    tf = (
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = tf.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    top_terms = (
        tf.groupBy("w")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), "w")
        .limit(DELTA_TOP_TERMS)
        .select("w")
    )
    dense = (
        tot.crossJoin(F.broadcast(top_terms))
        .join(tf, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr("coalesce(c, 0) * 1000000 div n").alias("rf6"),
        )
    )
    stats = dense.groupBy("w").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("rf6").cast("long").alias("sx"),
        F.sum(F.col("rf6") * F.col("rf6")).cast("long").alias("sx2"),
    )
    var = (
        F.col("ns").cast("double") * F.col("sx2")
        - F.col("sx").cast("double") * F.col("sx")
    )
    z = (
        dense.join(F.broadcast(stats), "w")
        .filter(var > 0)
        .select(
            "source",
            "w",
            F.round(
                1000000.0
                * (F.col("rf6") - F.col("sx").cast("double") / F.col("ns"))
                / F.sqrt(
                    var / (F.col("ns").cast("double") * (F.col("ns") - 1.0))
                )
            )
            .cast("long")
            .alias("z6"),
        )
    )
    a = z.select(F.col("source").alias("src_a"), "w", F.col("z6").alias("za"))
    b = z.select(F.col("source").alias("src_b"), F.col("w").alias("wb"), F.col("z6").alias("zb"))
    return (
        a.join(b, (F.col("w") == F.col("wb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.expr("sum(abs(za - zb)) div count(*)").alias("delta6"))
    )


@query(
    "ext_cohens_kappa",
    oracle="""
    WITH med AS (
      SELECT CAST(floor(median(n_chars)) AS BIGINT) AS m FROM documents
    ), lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= med.m THEN 1 ELSE 0 END AS a,
             CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
                       >= len(string_split(text, ' '))
                  THEN 1 ELSE 0 END AS b
      FROM documents, med
    ), conf AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           CAST(round(1000000
             * ((CAST(n11 + n00 AS DOUBLE) / n)
                - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                   + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                  / (CAST(n AS DOUBLE) * n))
             / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                    / (CAST(n AS DOUBLE) * n))) AS BIGINT) AS kappa6
    FROM conf
    """,
)
def ext_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent document quality
    gates (length-above-median vs type-token-ratio ≥ 0.5) — the
    chance-corrected agreement score every labeling pipeline needs before
    trusting "two weak filters agree, ship it" (raw agreement is inflated
    whenever both gates mostly say yes; kappa subtracts that). Confusion
    counts are exact integers; kappa is one shared-operand double rounded
    at 1e-6; the length threshold reuses ext_mad_outliers' floor(median)
    cross-engine contract.

    Degenerate corpus (every document lands in one confusion cell):
    chance agreement pe is exactly 1 and kappa's 1 - pe divisor is 0 —
    ANSI Spark would raise DIVIDE_BY_ZERO where DuckDB renders 0/0 as
    NaN, so the division goes through try_divide (NULL, canonicalized
    equal to NaN; DEGENERATE_AUDIT_r8.md Family B, oracle untouched).

    Scale: one corpus pass for the median (broadcast scalar), one for the
    2×2 confusion counts — two aggregates, no shuffle beyond them."""
    docs = load(spark, sf_dir, "documents")
    med = docs.agg(F.floor(F.median("n_chars")).cast("long").alias("m"))
    toks = F.split("text", " ")
    lab = docs.join(F.broadcast(med)).select(
        F.when(F.col("n_chars") >= F.col("m"), 1).otherwise(0).alias("a"),
        F.when(
            F.size(F.array_distinct(toks)) * 2 >= F.size(toks), 1
        )
        .otherwise(0)
        .alias("b"),
    )
    conf = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double") * (F.col("n10") + F.col("n00"))
    ) / (F.col("n").cast("double") * F.col("n"))
    return conf.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(F.try_divide(1000000 * (po - pe), 1 - pe))
        .cast("long")
        .alias("kappa6"),
    )


@query(
    "ext_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CASE WHEN (event_id * 2654435761 + 12289) % 2147483647 % 2 = 0
                  THEN 0 ELSE 1 END AS arm
      FROM events
    ), c AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM arms
    )
    SELECT n0, n1,
           CAST(round(1000000 * CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                      / (n0 + n1)) AS BIGINT) AS chi2_6,
           CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.841459
             AS srm_flag
    FROM c
    """,
)
def ext_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for a hash-randomized 50/50 experiment:
    χ² = (n0−n1)²/n against the 3.84 critical value (α=0.05, df=1) — the
    guardrail every A/B platform runs BEFORE reading any metric, because a
    skewed split means broken assignment, not a real effect (the silent
    killer of ext_ab_test_lift-style readouts). Arm assignment is the same
    affine-hash family as ext_epoch_shuffle_plan; counts are exact
    integers, χ² one shared double rounded at 1e-6.

    Scale: one conditional-count aggregate over the assignment column —
    a single map-side-combined pass."""
    ev = load(spark, sf_dir, "events")
    arm = F.expr(
        "CASE WHEN (event_id * 2654435761 + 12289) % 2147483647 % 2 = 0 "
        "THEN 0 ELSE 1 END"
    )
    c = ev.select(arm.alias("arm")).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1"))
    return c.select(
        "n0",
        "n1",
        F.round(1000000 * chi2).cast("long").alias("chi2_6"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


@query(
    "ext_cuped_adjustment",
    oracle="""
    WITH bounds AS (
      SELECT epoch_us(min(ts))
             + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS mid
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < bounds.mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN epoch_us(ts) >= bounds.mid
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post
      FROM events, bounds GROUP BY user_id
    ), mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(pre) AS BIGINT) AS sx,
             CAST(SUM(post) AS BIGINT) AS sy,
             CAST(SUM(pre * post) AS BIGINT) AS sxy,
             CAST(SUM(pre * pre) AS BIGINT) AS sxx,
             CAST(SUM(post * post) AS BIGINT) AS syy
      FROM per_user
    )
    SELECT n,
           CAST(round(1000000
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
             AS BIGINT) AS theta6,
           CAST(round(1000000
             * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
             AS BIGINT) AS var_reduction6
    FROM mo
    """,
)
def ext_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-period data): θ =
    cov(pre, post)/var(pre) over per-user pre/post-period spend, and the
    variance reduction ρ² the adjustment buys — the standard trick that
    cuts A/B test duration by 30–50% (Deng et al., WSDM'13) and the
    companion to ext_power_analysis (smaller variance → smaller MDE). All
    moments are exact int64 sums of integer cents; θ and ρ² are
    shared-operand double expressions rounded at 1e-6.

    Zero pre-period variance (constant per-user pre spend, e.g. all
    events after the midpoint): θ and ρ² are 0/0 — ANSI Spark would raise
    DIVIDE_BY_ZERO where DuckDB renders NaN, so both divisions go through
    try_divide (NULL, canonicalized equal to NaN;
    DEGENERATE_AUDIT_r8.md Family B, oracle untouched).

    Scale: one per-user aggregation (the same shuffle every per-user
    metric already pays), then a single moment row. Pre/post products of
    per-user cent totals stay within int64 up to ~10^9-cent users."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = ev.agg(
        F.expr("min(us) + (max(us) - min(us)) div 2").alias("mid")
    )
    per_user = (
        ev.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("pre"),
            F.sum(
                F.when(F.col("us") >= F.col("mid"), F.col("cents")).otherwise(0)
            )
            .cast("long")
            .alias("post"),
        )
    )
    mo = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").cast("long").alias("sx"),
        F.sum("post").cast("long").alias("sy"),
        F.sum(F.col("pre") * F.col("post")).cast("long").alias("sxy"),
        F.sum(F.col("pre") * F.col("pre")).cast("long").alias("sxx"),
        F.sum(F.col("post") * F.col("post")).cast("long").alias("syy"),
    )
    cxy = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return mo.select(
        "n",
        F.round(F.try_divide(1000000 * cxy, vx)).cast("long").alias("theta6"),
        F.round(F.try_divide(1000000 * (cxy * cxy), vx * vy))
        .cast("long")
        .alias("var_reduction6"),
    )


@query(
    "ext_tukey_fences",
    oracle="""
    WITH hist AS (
      -- n_chars IS NOT NULL (Family N1 lockstep): a NULL length has no
      -- order-statistic position; left in, the NULL histogram row would
      -- shift the cumulative counts from opposite ends of the value
      -- order under the engines' NULL-sort defaults
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM documents WHERE n_chars IS NOT NULL GROUP BY n_chars
    ), cum AS (
      SELECT v, cnt,
             CAST(SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM hist
    ), q AS (
      SELECT n,
             min(CASE WHEN c >= (n + 3) // 4 THEN v END) AS q1,
             min(CASE WHEN c >= (3 * n + 3) // 4 THEN v END) AS q3
      FROM cum GROUP BY n
    )
    SELECT n, q1, q3, q3 - q1 AS iqr,
           (SELECT CAST(count(*) AS BIGINT) FROM documents, q
            WHERE 2 * n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1)) AS n_low,
           (SELECT CAST(count(*) AS BIGINT) FROM documents, q
            WHERE 2 * n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1)) AS n_high
    FROM q
    """,
)
def ext_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's IQR fences on document length — the boxplot outlier gate
    completing the robust family (2σ: ext_length_outliers, MAD:
    ext_mad_outliers, clipping: ext_winsorized_stats; IQR is the one
    immune to BOTH tail directions at once). Quartiles are exact order
    statistics (smallest value with cum ≥ ⌈n/4⌉ / ⌈3n/4⌉) read off a
    value histogram; the 1.5·IQR fences are kept in doubled units so no
    fraction ever appears.

    Scale: distinct-value histogram + cumulative window over it — reduce
    cardinality is the value domain, not the corpus (the same
    shuffle-diet as agg_salted_twophase).

    NULL lengths (Family N1, lockstep): excluded from the quartile
    histogram on both engines — a NULL has no order-statistic position.
    The fence counts need no extra gate: a NULL comparison is falsy
    identically on both sides."""
    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("n_chars").isNotNull()).groupBy(
        F.col("n_chars").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    ntot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    cum = (
        distributed_running_sum(hist, ["v"], "cnt", out="c")
        .join(F.broadcast(ntot))
        .select("v", "c", "n")
    )
    q = cum.groupBy("n").agg(
        F.min(F.when(F.col("c") >= F.expr("(n + 3) div 4"), F.col("v"))).alias("q1"),
        F.min(
            F.when(F.col("c") >= F.expr("(3 * n + 3) div 4"), F.col("v"))
        ).alias("q3"),
    )
    flags = docs.join(F.broadcast(q)).agg(
        F.sum(
            F.when(
                2 * F.col("n_chars") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_low"),
        F.sum(
            F.when(
                2 * F.col("n_chars") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_high"),
    )
    return q.select("n", "q1", "q3", (F.col("q3") - F.col("q1")).alias("iqr")).join(
        F.broadcast(flags)
    )


@query(
    "ext_shapley_attribution",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT e.event_id,
             CASE WHEN f.first_view IS NOT NULL AND f.first_view < e.ts
                  THEN 1 ELSE 0 END AS has_view,
             CASE WHEN f.first_click IS NOT NULL AND f.first_click < e.ts
                  THEN 1 ELSE 0 END AS has_click
      FROM events e JOIN firsts f USING (user_id)
      WHERE e.event_type = 'purchase'
    )
    SELECT channel, n_conversions, credit_2x FROM (
      SELECT 'view' AS channel,
             CAST(SUM(has_view) AS BIGINT) AS n_conversions,
             CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1 THEN 1
                           WHEN has_view = 1 THEN 2 ELSE 0 END)
                  AS BIGINT) AS credit_2x
      FROM conv
      UNION ALL
      SELECT 'click',
             CAST(SUM(has_click) AS BIGINT),
             CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1 THEN 1
                           WHEN has_click = 1 THEN 2 ELSE 0 END) AS BIGINT)
      FROM conv
      UNION ALL
      SELECT 'direct',
             CAST(SUM(CASE WHEN has_view = 0 AND has_click = 0
                           THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN has_view = 0 AND has_click = 0
                           THEN 2 ELSE 0 END) AS BIGINT)
      FROM conv
    )
    """,
)
def ext_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value conversion attribution for the two assisting channels
    (view, click): with two players the Shapley split is exact and simple
    — a channel present alone gets full credit, both present split evenly
    — which is why credits ship DOUBLED (×2) to stay integral. Purchases
    preceded by neither channel fall into an explicit 'direct' bucket so
    credit_2x sums to exactly 2×conversions (a checkable invariant).
    Complements first-touch (ext_first_touch_attribution): Shapley is the
    order-free fair split, first-touch the order-sensitive one.

    Scale: per-user channel firsts (one groupBy) joined back onto
    purchases on user_id — the same single-key shuffle as every per-user
    metric; the three-way union aggregates a 3-row output."""
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            F.when(F.col("fv").isNotNull() & (F.col("fv") < F.col("ts")), 1)
            .otherwise(0)
            .alias("has_view"),
            F.when(F.col("fc").isNotNull() & (F.col("fc") < F.col("ts")), 1)
            .otherwise(0)
            .alias("has_click"),
        )
    )
    view = conv.agg(
        F.sum("has_view").cast("long").alias("n_conversions"),
        F.sum(
            F.when((F.col("has_view") == 1) & (F.col("has_click") == 1), 1)
            .when(F.col("has_view") == 1, 2)
            .otherwise(0)
        )
        .cast("long")
        .alias("credit_2x"),
    ).select(F.lit("view").alias("channel"), "n_conversions", "credit_2x")
    click = conv.agg(
        F.sum("has_click").cast("long").alias("n_conversions"),
        F.sum(
            F.when((F.col("has_view") == 1) & (F.col("has_click") == 1), 1)
            .when(F.col("has_click") == 1, 2)
            .otherwise(0)
        )
        .cast("long")
        .alias("credit_2x"),
    ).select(F.lit("click").alias("channel"), "n_conversions", "credit_2x")
    neither = (F.col("has_view") == 0) & (F.col("has_click") == 0)
    direct = conv.agg(
        F.sum(F.when(neither, 1).otherwise(0)).cast("long").alias("n_conversions"),
        F.sum(F.when(neither, 2).otherwise(0)).cast("long").alias("credit_2x"),
    ).select(F.lit("direct").alias("channel"), "n_conversions", "credit_2x")
    return view.unionByName(click).unionByName(direct)


LP_TOP_M = 5


@query(
    "ext_link_prediction_jaccard",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item
      FROM events
    ), cc AS (
      SELECT a.item AS ia, b.item AS ib, CAST(count(*) AS BIGINT) AS c
      FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item <> b.item
      GROUP BY 1, 2
    ), topm AS (
      SELECT ia, ib FROM (
        SELECT ia, ib,
               row_number() OVER (PARTITION BY ia ORDER BY c DESC, ib) AS rn
        FROM cc
      ) WHERE rn <= {{LP_TOP_M}}
    ), e AS (
      -- mutual top-M: edge iff each endpoint ranks the other
      SELECT t1.ia AS u, t1.ib AS v
      FROM topm t1 JOIN topm t2 ON t2.ia = t1.ib AND t2.ib = t1.ia
    ), deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u
    ), common AS (
      SELECT a.u AS x, b.u AS y, CAST(count(*) AS BIGINT) AS cn
      FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
      GROUP BY 1, 2
    ), nonedge AS (
      SELECT c.x, c.y, c.cn, dx.d AS dxd, dy.d AS dyd
      FROM common c
      JOIN deg dx ON dx.u = c.x
      JOIN deg dy ON dy.u = c.y
      LEFT JOIN e ON e.u = c.x AND e.v = c.y
      WHERE e.u IS NULL
    )
    SELECT x AS item_a, y AS item_b, cn AS common_neighbors,
           CAST((cn * 1000000) // (dxd + dyd - cn) AS BIGINT) AS jaccard6
    FROM nonedge
    ORDER BY jaccard6 DESC, item_a, item_b LIMIT 20
    """.format(LP_TOP_M=LP_TOP_M),
)
def ext_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the item co-occurrence graph: for item pairs NOT
    currently connected, score by neighborhood Jaccard |N(a)∩N(b)| /
    |N(a)∪N(b)| and report the top-20 predicted edges — the classic
    common-neighbors recommender ("items that co-occur with the same
    things probably belong together") and the structural-hole detector for
    catalog curation. Exact: neighbor sets are integer-counted, the score
    an integer micro-ratio, anti-join excludes existing edges.

    Scale: common-neighbor pairs come from the wedge join (edge ⋈ edge on
    the shared endpoint) — the same bounded shape as ext_triangle_count;
    degrees broadcast; no all-pairs item join anywhere. The graph is the
    MUTUAL top-{LP_TOP_M} co-occurrence graph (per-item ranked partners,
    kept only when reciprocated) — scale-robust by construction where an
    absolute support threshold saturates to a complete graph as the
    corpus grows."""
    ev = load(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
    ).distinct()
    a = ui.select("user_id", F.col("item").alias("ia"))
    b = ui.select("user_id", F.col("item").alias("ib"))
    cc = (
        a.join(b, ["user_id"])
        .filter(F.col("ia") != F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wtop = Window.partitionBy("ia").orderBy(F.desc("c"), "ib")
    topm = (
        cc.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= LP_TOP_M)
        .select("ia", "ib")
    )
    t2 = topm.select(F.col("ia").alias("ib2"), F.col("ib").alias("ia2"))
    e = topm.join(
        t2, (F.col("ia") == F.col("ia2")) & (F.col("ib") == F.col("ib2"))
    ).select(F.col("ia").alias("u"), F.col("ib").alias("v"))
    # cached: without it, 1.88 → 2.03 s at sf0.1
    e.cache()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ea = e.select(F.col("u").alias("x"), F.col("v").alias("w1"))
    eb = e.select(F.col("u").alias("y"), F.col("v").alias("w2"))
    common = (
        ea.join(eb, (F.col("w1") == F.col("w2")) & (F.col("x") < F.col("y")))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = (
        common.join(
            e.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
            "left_anti",
        )
        .join(F.broadcast(deg.select(F.col("u").alias("x"), F.col("d").alias("dxd"))), "x")
        .join(F.broadcast(deg.select(F.col("u").alias("y"), F.col("d").alias("dyd"))), "y")
    )
    return (
        nonedge.select(
            F.col("x").alias("item_a"),
            F.col("y").alias("item_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("cn * 1000000 div (dxd + dyd - cn)").alias("jaccard6"),
        )
        .orderBy(F.desc("jaccard6"), "item_a", "item_b")
        .limit(20)
    )


@query(
    "ext_ucb_ranking",
    oracle=f"""
    WITH pulls AS (
      SELECT TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS reward
      FROM events
    ), stats AS (
      SELECT item, CAST(count(*) AS BIGINT) AS n_i,
             CAST(SUM(reward) AS BIGINT) AS r_i
      FROM pulls GROUP BY item
    ), tot AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM stats
    )
    SELECT item, n_i, r_i,
           CAST(round(1000000 * (CAST(r_i AS DOUBLE) / n_i
                + sqrt(2 * ln(CAST(tot.n AS DOUBLE)) / n_i)))
                AS BIGINT) AS ucb6
    FROM stats, tot
    ORDER BY ucb6 DESC, item LIMIT 20
    """,
)
def ext_ucb_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 exploration ranking over items: mean observed reward
    (purchase rate) plus the √(2·ln N / n_i) exploration bonus — which
    arm a deterministic bandit would pull next. In a data-curation
    setting this is active sampling: under-observed items float up until
    their uncertainty is resolved. The score is one shared-operand double
    (exact integer counts in, ln/sqrt on identical doubles) rounded at
    1e-6, top-20 with item tie-break.

    Scale: one grouped count at item cardinality + a broadcast scalar —
    the corpus is touched once."""
    ev = load(spark, sf_dir, "events")
    pulls = ev.select(
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("reward"),
    )
    stats = pulls.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("reward").cast("long").alias("r_i"),
    )
    tot = stats.agg(F.sum("n_i").cast("long").alias("n"))
    return (
        stats.join(F.broadcast(tot))
        .select(
            "item",
            "n_i",
            "r_i",
            F.round(
                1000000
                * (
                    F.col("r_i").cast("double") / F.col("n_i")
                    + F.sqrt(
                        2 * F.log(F.col("n").cast("double")) / F.col("n_i")
                    )
                )
            )
            .cast("long")
            .alias("ucb6"),
        )
        .orderBy(F.desc("ucb6"), "item")
        .limit(20)
    )


@query(
    "ext_knee_point",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ), binned AS (
      SELECT x, ntile(10) OVER (ORDER BY x, user_id) AS decile FROM per_user
    ), d AS (
      SELECT decile, CAST(SUM(x) AS BIGINT) AS dx FROM binned GROUP BY decile
    ), curve AS (
      SELECT CAST(decile AS BIGINT) AS k,
             CAST(SUM(dx) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cy,
             CAST((SELECT SUM(dx) FROM d) AS BIGINT) AS n
      FROM d
    )
    SELECT k AS knee_decile, cy AS cum_events,
           abs(k * n - 10 * cy) AS chord_dev_scaled
    FROM curve
    ORDER BY abs(k * n - 10 * cy) DESC, k LIMIT 1
    """,
)
def ext_knee_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/elbow detection on the user-activity Lorenz curve (kneedle
    reduced to its exact core): the decile maximizing the distance from
    the diagonal chord — where "adding more deciles stops paying". The
    chord deviation |k·n − 10·cy| is pure int64 cross-multiplication (no
    normalization float), so the argmax is exact; the same template picks
    K on an inertia curve or a dedup-threshold saturation curve.

    Scale: decile assignment via ``distributed_ntile`` (range exchange +
    broadcast offsets — no single-task sort over the user relation);
    10-row curve, top-1 TakeOrdered."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    binned = distributed_ntile(
        per_user, ["x", "user_id"], 10, out="decile"
    ).select("x", "decile")
    d = binned.groupBy("decile").agg(F.sum("x").cast("long").alias("dx"))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    curve = d.select(
        F.col("decile").cast("long").alias("k"),
        F.sum("dx").over(wcum).cast("long").alias("cy"),
        F.sum("dx").over(wall).cast("long").alias("n"),
    )
    return (
        curve.select(
            F.col("k").alias("knee_decile"),
            F.col("cy").alias("cum_events"),
            F.abs(F.col("k") * F.col("n") - 10 * F.col("cy")).alias(
                "chord_dev_scaled"
            ),
        )
        .orderBy(F.desc("chord_dev_scaled"), "knee_decile")
        .limit(1)
    )


EQUIDEPTH_BINS = 10


@query(
    "ext_equidepth_histogram",
    oracle=f"""
    WITH v AS (
      -- l_extendedprice IS NOT NULL (Family N1 lockstep): a NULL price
      -- has no histogram position
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), hist AS (
      SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY c
    ), cum AS (
      SELECT c, cnt,
             CAST(SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cm,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM hist
    ), edges AS (
      SELECT b.b AS bin,
             min(CASE WHEN cm >= (b.b * n + {EQUIDEPTH_BINS} - 1)
                               // {EQUIDEPTH_BINS}
                      THEN c END) AS hi
      FROM cum, (SELECT unnest(range(1, {EQUIDEPTH_BINS} + 1)) AS b) b
      GROUP BY b.b
    ), bounds AS (
      SELECT bin, hi,
             coalesce(lag(hi) OVER (ORDER BY bin),
                      (SELECT min(c) - 1 FROM v)) AS lo
      FROM edges
    )
    SELECT bounds.bin, bounds.lo, bounds.hi,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT v.c) AS BIGINT) AS n_distinct
    FROM v JOIN bounds ON v.c > bounds.lo AND v.c <= bounds.hi
    GROUP BY bounds.bin, bounds.lo, bounds.hi
    """,
)
def ext_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of price — THE optimizer
    statistic behind selectivity estimation (Spark's own ANALYZE ... FOR
    COLUMNS builds these): {EQUIDEPTH_BINS} bins whose EDGES are exact
    order statistics (smallest value with cum ≥ ⌈k·n/B⌉), so each bin
    holds ~n/B rows no matter how skewed the values; per-bin row and
    distinct counts are what a cost model consumes. All integer: cents
    domain, ceil-division rank targets, (lo, hi] membership.

    Scale: the cumulative count uses a TWO-LEVEL distributed prefix sum
    (in-block partitioned window + broadcast cumulative block offsets) —
    the single-task Window.orderBy over the whole value domain never
    appears, so the histogram scales to arbitrarily wide domains; the
    bin assignment is a broadcast {EQUIDEPTH_BINS}-row range join.

    The corpus is scanned ONCE: every downstream relation (cumulative,
    block totals, min edge, final per-bin counts) derives from the
    cached value-domain histogram (c, cnt) — one row per distinct cent
    value, bounded by the value domain, not the row count. The round-9
    committed plan re-scanned the parquet base five times for the same
    information (r10 perf re-front, ROADMAP_r10.md agenda; n_rows per
    bin = Σcnt and n_distinct = count(*) over the histogram rows are
    identical by construction to counting the base).

    NULL prices (Family N1, lockstep): pre-filtered on both engines — a
    NULL cent value has no order-statistic position in the histogram."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    v = li.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"))
    hist = v.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    # Distributed prefix sum over the value domain (two-level): an
    # in-block cumulative window PARTITIONED by a coarse value block,
    # plus broadcast cumulative block offsets — the global
    # Window.orderBy (single task holding the whole domain) never
    # appears. Block key = c div 2^20 keeps blocks value-contiguous so
    # offset(b) + in-block prefix == global prefix.
    blk = (F.col("c") / F.lit(1 << 20)).cast("long")
    # the single corpus pass lands here; every later relation reuses it.
    # localCheckpoint (lazy) rather than cache(): the r10 ADVICE note —
    # an un-unpersisted cache accumulates executor storage across a
    # 452-key sweep, while a checkpointed lineage is released with the
    # RDD reference
    hist = hist.withColumn("blk", blk).localCheckpoint(eager=False)
    # Everything after the one corpus pass is ONE parsed SQL statement
    # (r16): the ~18 Dataset calls it replaces cost ~1 s of driver-side
    # construction/analysis per invocation — more than the execution of
    # the tiny post-histogram relations. Shapes preserved exactly:
    # - two-level distributed prefix sum (in-block partitioned window +
    #   broadcast cumulative block offsets) — no global single-task
    #   window over the value domain;
    # - edge extraction without the cum × bins fan-out: cm is an integer,
    #   so cm >= ceil(k*n/B) <=> B*cm >= k*n, i.e. each row reaches
    #   exactly the targets k <= kmax = (B*cm) div n; grouping min(c) per
    #   kmax (<= B+1 groups) and per-bin min over kmax >= bin reproduces
    #   min{c : cm >= target(bin)};
    # - per-bin counts off the histogram, not the base: sum(cnt) == base
    #   row count and count(1) == base distinct count within (lo, hi].
    B = EQUIDEPTH_BINS
    return spark.sql(
        f"""
        WITH btot AS (
          SELECT blk, CAST(sum(cnt) AS BIGINT) AS bt FROM {{hist}} GROUP BY blk
        ),
        boff AS (
          SELECT blk,
                 CAST(coalesce(sum(bt) OVER (ORDER BY blk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS off
          FROM btot
        ),
        ntot AS (SELECT CAST(sum(bt) AS BIGINT) AS n FROM btot),
        cum AS (
          -- BROADCAST(n) re-pins the one-row ntot side the Dataset form
          -- pinned with F.broadcast(ntot) (r16 ADVICE: boff/mg/bounds all
          -- kept their hints; this one was dropped in the SQL rewrite)
          SELECT /*+ BROADCAST(b), BROADCAST(n) */
                 h.c,
                 CAST(sum(h.cnt) OVER (PARTITION BY h.blk ORDER BY h.c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      + b.off AS BIGINT) AS cm,
                 n.n
          FROM {{hist}} h JOIN boff b ON h.blk = b.blk CROSS JOIN ntot n
        ),
        mg AS (
          SELECT least({B}, ({B} * cm) div n) AS kmax, min(c) AS mc
          FROM cum GROUP BY 1
        ),
        edges AS (
          SELECT /*+ BROADCAST(mg) */ bins.bin, min(mg.mc) AS hi
          FROM (SELECT id AS bin FROM range(1, {B + 1})) bins
          JOIN mg ON mg.kmax >= bins.bin
          GROUP BY bins.bin
        ),
        vmin AS (SELECT min(c) - 1 AS vm FROM {{hist}}),
        bounds AS (
          SELECT bin, hi,
                 coalesce(lag(hi) OVER (ORDER BY bin), vm) AS lo
          FROM edges CROSS JOIN vmin
        )
        SELECT /*+ BROADCAST(bo) */
               bo.bin, bo.lo, bo.hi,
               CAST(sum(h.cnt) AS BIGINT) AS n_rows,
               CAST(count(1) AS BIGINT) AS n_distinct
        FROM {{hist}} h JOIN bounds bo ON h.c > bo.lo AND h.c <= bo.hi
        GROUP BY bo.bin, bo.lo, bo.hi
        """,
        hist=hist,
    )


@query(
    "ext_functional_dependency",
    oracle="""
    WITH cols AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
             CAST(date_part('year', l_shipdate) AS BIGINT) AS yr
      FROM lineitem
    ), pairs AS (
      -- per-pair NOT NULL gates (Family N4 lockstep): FD strength is a
      -- statement about OBSERVED (A, B) pairs — Spark's multi-argument
      -- count(DISTINCT a, b) skips a row when ANY argument is NULL while
      -- a ROW(a, b) tuple with a NULL field still counts here, so both
      -- engines now restrict each candidate to rows where both sides
      -- are known
      SELECT 'returnflag->linestatus' AS fd,
             CAST(count(DISTINCT rf) AS BIGINT) AS n_det,
             CAST(count(DISTINCT (rf, ls)) AS BIGINT) AS n_pair
      FROM cols WHERE rf IS NOT NULL AND ls IS NOT NULL
      UNION ALL
      SELECT 'linestatus->returnflag',
             CAST(count(DISTINCT ls) AS BIGINT),
             CAST(count(DISTINCT (ls, rf)) AS BIGINT)
      FROM cols WHERE rf IS NOT NULL AND ls IS NOT NULL
      UNION ALL
      SELECT 'year->linestatus',
             CAST(count(DISTINCT yr) AS BIGINT),
             CAST(count(DISTINCT (yr, ls)) AS BIGINT)
      FROM cols WHERE yr IS NOT NULL AND ls IS NOT NULL
    )
    SELECT fd, n_det, n_pair,
           CAST((n_det * 1000000) // n_pair AS BIGINT) AS fd_strength6
    FROM pairs
    """,
)
def ext_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery: for candidate A→B,
    strength = |distinct(A)| / |distinct(A,B)| — exactly 1e6 iff A fully
    determines B (each A value maps to one B), degrading toward
    |A|/|A×B| under independence. The schema-profiling signal that tells
    an optimizer two columns are redundant for grouping and tells a
    curation pipeline which metadata columns encode the same fact
    (complements ext_cramers_v: FD is directional, V symmetric). Pure
    integer distinct counts and one integer ratio.

    An empty table still emits the three global-aggregate rows with
    n_pair = 0: ANSI Spark's ``div`` would raise DIVIDE_BY_ZERO where
    DuckDB's ``//`` yields NULL — the divisor is wrapped in
    nullif(.., 0) (EMPTY_AUDIT_r9.md Family E4, oracle untouched).

    Scale: three count-distinct aggregations over one scan — Spark
    rewrites each into the standard two-phase expand + partial distinct,
    no extra passes."""
    li = load(spark, sf_dir, "lineitem")
    cols = li.select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.year("l_shipdate").cast("long").alias("yr"),
    )

    def fd(name: str, det, dep):
        # FD strength is about OBSERVED pairs (Family N4, lockstep with
        # the oracle's per-branch WHERE): restrict to rows where both
        # sides are known, so n_det and n_pair count the same population
        return cols.filter(det.isNotNull() & dep.isNotNull()).agg(
            F.countDistinct(det).alias("n_det"),
            F.countDistinct(det, dep).alias("n_pair"),
        ).select(
            F.lit(name).alias("fd"),
            "n_det",
            "n_pair",
            F.expr("n_det * 1000000 div nullif(n_pair, 0)").alias(
                "fd_strength6"
            ),
        )

    return (
        fd("returnflag->linestatus", F.col("rf"), F.col("ls"))
        .unionByName(fd("linestatus->returnflag", F.col("ls"), F.col("rf")))
        .unionByName(fd("year->linestatus", F.col("yr"), F.col("ls")))
    )


@query(
    "ext_ablation_leave_one_source",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    ), word_ns AS (
      SELECT w, CAST(count(*) AS BIGINT) AS ns FROM tok GROUP BY w
    ), vocab AS (
      SELECT CAST(count(*) AS BIGINT) AS total_vocab FROM word_ns
    ), excl AS (
      SELECT tok.source, CAST(count(*) AS BIGINT) AS vocab_lost
      FROM tok JOIN word_ns USING (w) WHERE word_ns.ns = 1
      GROUP BY tok.source
    ), ds AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs_removed,
             CAST(SUM(n_chars) AS BIGINT) AS chars_removed
      FROM documents GROUP BY source
    )
    SELECT ds.source, ds.docs_removed, ds.chars_removed,
           coalesce(excl.vocab_lost, 0) AS vocab_lost,
           vocab.total_vocab - coalesce(excl.vocab_lost, 0)
             AS vocab_remaining
    FROM ds LEFT JOIN excl USING (source), vocab
    """,
)
def ext_ablation_leave_one_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out ablation plan in ONE pass: for every source,
    what the corpus loses if it is dropped — documents, characters, and
    (the interesting number) EXCLUSIVE vocabulary, i.e. words appearing
    in no other source. The naive ablation recomputes the corpus S times;
    this uses the identity vocab_without(s) = total_vocab − |words
    exclusive to s|, so one word→source-count aggregation answers every
    ablation simultaneously — the data-mixture analogue of a jackknife.

    Scale: distinct (source, word) pairs shuffle once; everything after
    is vocabulary-sized. S never multiplies the corpus passes."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    word_ns = tok.groupBy("w").agg(F.count(F.lit(1)).alias("ns"))
    vocab = word_ns.agg(F.count(F.lit(1)).alias("total_vocab"))
    excl = (
        tok.join(F.broadcast(word_ns.filter(F.col("ns") == 1).select("w")), "w")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("vocab_lost"))
    )
    ds = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_removed"),
        F.sum("n_chars").cast("long").alias("chars_removed"),
    )
    return (
        ds.join(F.broadcast(excl), "source", "left")
        .join(F.broadcast(vocab))
        .select(
            "source",
            "docs_removed",
            "chars_removed",
            F.coalesce("vocab_lost", F.lit(0)).cast("long").alias("vocab_lost"),
            (
                F.col("total_vocab") - F.coalesce("vocab_lost", F.lit(0))
            ).cast("long").alias("vocab_remaining"),
        )
    )


@query(
    "subq_quantified_all",
    oracle="""
    WITH bound AS (
      SELECT max(o_totalprice) AS mx, min(o_totalprice) AS mn,
             CAST(count(*) AS BIGINT) AS k
      FROM orders WHERE o_orderpriority = '1-URGENT' AND o_custkey < 100
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents,
           o.o_totalprice > bound.mx AS above_all,
           o.o_totalprice > bound.mn AS above_any
    FROM orders o, bound
    WHERE o.o_totalprice > bound.mn AND bound.k > 0
    """,
)
def subq_quantified_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons `> ALL (subquery)` / `> ANY (subquery)` via
    their aggregate rewrite — the form Spark SQL actually supports
    (`x > ALL s ≡ x > max(s)` and `x > ANY s ≡ x > min(s)`, both only
    when s is non-empty, hence the count guard; with an empty s, ALL is
    vacuously true and ANY false — the rewrite makes that edge explicit
    instead of silently wrong). Completes the subquery family next to
    IN / EXISTS / NOT-IN-with-NULLs.

    Scale: the subquery collapses to a 1-row (min, max, count) aggregate
    broadcast onto the outer scan — no join at all."""
    orders = load(spark, sf_dir, "orders")
    bound = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_custkey") < 100)
    ).agg(
        F.max("o_totalprice").alias("mx"),
        F.min("o_totalprice").alias("mn"),
        F.count(F.lit(1)).alias("k"),
    )
    return (
        orders.join(F.broadcast(bound))
        .filter((F.col("o_totalprice") > F.col("mn")) & (F.col("k") > 0))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            (F.col("o_totalprice") > F.col("mx")).alias("above_all"),
            (F.col("o_totalprice") > F.col("mn")).alias("above_any"),
        )
    )


SESSION_GAP_MIN = 30
CAMPAIGN_DAYS = 3


@query(
    "join_interval_overlap_banded",
    oracle=f"""
    WITH marks AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > {SESSION_GAP_MIN} * 60 * 1000000
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sid AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ), sessions AS (
      SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end
      FROM sid GROUP BY user_id, sid
    ), weeks AS (
      SELECT DISTINCT date_trunc('week', ts) AS w_start,
             date_trunc('week', ts) + INTERVAL {CAMPAIGN_DAYS} DAY AS w_end
      FROM events
    )
    SELECT weeks.w_start AS campaign_start,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT sessions.user_id) AS BIGINT) AS n_users
    FROM sessions JOIN weeks
      ON sessions.s_start <= weeks.w_end AND sessions.s_end >= weeks.w_start
    GROUP BY weeks.w_start
    """,
)
def join_interval_overlap_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — sessions (30-min-gap sessionization)
    against {CAMPAIGN_DAYS}-day campaign windows — executed as a BANDED
    equi-join: each interval explodes to the calendar WEEKS it touches,
    the join runs on the week key, and the exact overlap predicate
    verifies (then dedups). This turns interval×interval overlap — which
    Catalyst would otherwise nest-loop — into the shuffle-friendly shape,
    the 2-sided generalization of join_range_banded's point-in-range
    bucketization.

    Scale: band fan-out per interval = weeks touched (bounded by interval
    length / band width); the join is an equi-join AQE can size; the
    final aggregate is campaign-cardinality."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1000000
    marks = ev.select(
        "user_id",
        "ts",
        F.when(
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            )
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    wcum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = marks.select("user_id", "ts", F.sum("new_s").over(wcum).alias("sid"))
    sessions = sid.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    weeks = ev.select(
        F.date_trunc("week", "ts").alias("w_start"),
        (F.date_trunc("week", "ts") + F.expr(f"INTERVAL {CAMPAIGN_DAYS} DAY")).alias(
            "w_end"
        ),
    ).distinct()
    # band both sides on the calendar week: a session touches every week
    # in [week(s_start), week(s_end)]
    s_banded = sessions.select(
        "user_id",
        "sid",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.date_trunc("week", "s_start"),
                F.date_trunc("week", "s_end"),
                F.expr("INTERVAL 7 DAY"),
            )
        ).alias("wk"),
    )
    w_banded = weeks.select(
        "w_start", "w_end", F.col("w_start").alias("wk")
    )
    joined = (
        s_banded.join(F.broadcast(w_banded), "wk")
        .filter(
            (F.col("s_start") <= F.col("w_end"))
            & (F.col("s_end") >= F.col("w_start"))
        )
        .select("user_id", "sid", "w_start")
        .distinct()
    )
    return joined.groupBy(F.col("w_start").alias("campaign_start")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
    )


CONF_ALPHA_PCT = 90  # target coverage


@query(
    "ext_conformal_interval",
    oracle=f"""
    WITH v AS (
      SELECT event_type AS t,
             CAST(round(value * 100) AS BIGINT) AS cents,
             (event_id * 2654435761 + 12289) % 2147483647 % 2 AS half
      FROM events WHERE value IS NOT NULL
    ), cal_hist AS (
      SELECT t, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM v WHERE half = 0 GROUP BY t, cents
    ), cal_cum AS (
      SELECT t, cents,
             CAST(SUM(cnt) OVER (PARTITION BY t ORDER BY cents
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
             CAST(SUM(cnt) OVER (PARTITION BY t) AS BIGINT) AS n_cal
      FROM cal_hist
    ), pred AS (
      SELECT t, n_cal,
             min(CASE WHEN cm >= (n_cal + 1) // 2 THEN cents END) AS m
      FROM cal_cum GROUP BY t, n_cal
    ), resid AS (
      SELECT v.t, abs(v.cents - pred.m) AS r, pred.n_cal
      FROM v JOIN pred ON v.t = pred.t WHERE v.half = 0
    ), r_hist AS (
      SELECT t, r, n_cal, CAST(count(*) AS BIGINT) AS cnt
      FROM resid GROUP BY t, r, n_cal
    ), r_cum AS (
      SELECT t, r, n_cal,
             CAST(SUM(cnt) OVER (PARTITION BY t ORDER BY r
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
      FROM r_hist
    ), q AS (
      SELECT t, n_cal,
             min(CASE WHEN cm >= least(
                        ({CONF_ALPHA_PCT} * (n_cal + 1) + 99) // 100, n_cal)
                      THEN r END) AS qr
      FROM r_cum GROUP BY t, n_cal
    )
    SELECT v.t AS event_type, q.n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           pred.m AS pred_cents, q.qr AS q_cents,
           CAST(SUM(CASE WHEN abs(v.cents - pred.m) <= q.qr
                         THEN 1 ELSE 0 END) AS BIGINT) AS covered,
           CAST((SUM(CASE WHEN abs(v.cents - pred.m) <= q.qr
                          THEN 1 ELSE 0 END) * 1000000) // count(*)
                AS BIGINT) AS coverage6
    FROM v
    JOIN pred ON v.t = pred.t
    JOIN q ON v.t = q.t
    WHERE v.half = 1
    GROUP BY v.t, q.n_cal, pred.m, q.qr
    """,
)
def ext_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event type: a point
    predictor (calibration-half lower median) plus the ⌈0.9·(n+1)⌉-th
    order statistic of calibration residuals gives an interval with
    ≥{CONF_ALPHA_PCT}% guaranteed coverage — verified here on the held-out
    half. THE distribution-free uncertainty wrapper every deployed
    predictor should ship with; reported coverage6 lets the consumer see
    the guarantee hold. All order statistics are exact integer ranks read
    off per-type value/residual histograms; the split is the engine's
    standard affine hash.

    Scale: every window partitions by event_type over DISTINCT values —
    the agg_salted_twophase shuffle diet, three passes over aggregated
    relations, never a per-row sort."""
    # NULL values carry neither rank nor residual — excluded on both
    # sides (chaos r12, the agg_salted_twophase shape)
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = ev.select(
        F.col("event_type").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("(event_id * 2654435761 + 12289) % 2147483647 % 2").alias("half"),
    )
    cal = v.filter(F.col("half") == 0)
    cal_hist = cal.groupBy("t", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.partitionBy("t").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("t")
    cal_cum = cal_hist.select(
        "t",
        "cents",
        F.sum("cnt").over(wc).cast("long").alias("cm"),
        F.sum("cnt").over(wt).cast("long").alias("n_cal"),
    )
    pred = cal_cum.groupBy("t", "n_cal").agg(
        F.min(
            F.when(F.col("cm") >= F.expr("(n_cal + 1) div 2"), F.col("cents"))
        ).alias("m")
    )
    resid = cal.join(F.broadcast(pred), "t").select(
        "t", "n_cal", F.abs(F.col("cents") - F.col("m")).alias("r")
    )
    r_hist = resid.groupBy("t", "r", "n_cal").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.partitionBy("t").orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r_cum = r_hist.select(
        "t", "r", "n_cal", F.sum("cnt").over(wr).cast("long").alias("cm")
    )
    q = r_cum.groupBy("t", "n_cal").agg(
        F.min(
            F.when(
                F.col("cm")
                >= F.expr(
                    f"least(({CONF_ALPHA_PCT} * (n_cal + 1) + 99) div 100, n_cal)"
                ),
                F.col("r"),
            )
        ).alias("qr")
    )
    return (
        v.filter(F.col("half") == 1)
        .join(F.broadcast(pred.select("t", "m")), "t")
        .join(F.broadcast(q), "t")
        .groupBy(
            F.col("t").alias("event_type"), "n_cal", F.col("m").alias("pred_cents"),
            F.col("qr").alias("q_cents"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(F.abs(F.col("cents") - F.col("m")) <= F.col("qr"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("covered"),
            F.expr(
                "CAST(sum(CASE WHEN abs(cents - m) <= qr THEN 1 ELSE 0 END) "
                "* 1000000 div count(*) AS BIGINT)"
            ).alias("coverage6"),
        )
        .select(
            "event_type", "n_cal", "n_eval", "pred_cents", "q_cents",
            "covered", "coverage6",
        )
    )


@query(
    "ext_mase_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), lagged AS (
      SELECT day, cents,
             lag(cents, 7) OVER (ORDER BY day) AS season,
             lag(cents, 1) OVER (ORDER BY day) AS naive
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval_days,
           CAST(SUM(abs(cents - season)) AS BIGINT) AS sae_seasonal,
           CAST(SUM(abs(cents - naive)) AS BIGINT) AS sae_naive,
           CAST((CAST(SUM(abs(cents - season)) AS BIGINT) * 1000000)
                // CAST(SUM(abs(cents - naive)) AS BIGINT) AS BIGINT)
             AS mase6
    FROM lagged WHERE season IS NOT NULL AND naive IS NOT NULL
    """,
)
def ext_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast benchmark on daily revenue: the seasonal-naive
    forecast (y[t−7]) scored against the one-step naive (y[t−1]) via the
    ratio of absolute-error sums — the scale-free skill score every
    forecasting pipeline reports first (mase6 < 1e6 means weekly
    seasonality carries real signal). Errors are exact integer cents; the
    ratio one integer division.

    Scale: the corpus collapses to the daily series in one groupBy; the
    lag window runs over calendar-bounded days (the documented
    small-series exception to the no-global-window rule)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "cents",
        F.lag("cents", 7).over(w).alias("season"),
        F.lag("cents", 1).over(w).alias("naive"),
    ).filter(F.col("season").isNotNull() & F.col("naive").isNotNull())
    return lagged.agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.sum(F.abs(F.col("cents") - F.col("season"))).cast("long").alias("sae_seasonal"),
        F.sum(F.abs(F.col("cents") - F.col("naive"))).cast("long").alias("sae_naive"),
        F.expr(
            "CAST(sum(abs(cents - season)) * 1000000 "
            "div sum(abs(cents - naive)) AS BIGINT)"
        ).alias("mase6"),
    )


@query(
    "ext_psm_nearest_match",
    oracle="""
    WITH raw AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS score,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pc
      FROM events GROUP BY user_id
    ), med AS (
      SELECT CAST(floor(median(pc)) AS BIGINT) AS m FROM raw
    ), users AS (
      SELECT user_id, score,
             CASE WHEN pc > med.m THEN 1 ELSE 0 END AS treated
      FROM raw, med
    ), ranked AS (
      SELECT user_id, score, treated,
             last_value(CASE WHEN treated = 0 THEN score END IGNORE NULLS)
               OVER (ORDER BY score, user_id ROWS UNBOUNDED PRECEDING)
               AS prev_c_score,
             last_value(CASE WHEN treated = 0 THEN user_id END IGNORE NULLS)
               OVER (ORDER BY score, user_id ROWS UNBOUNDED PRECEDING)
               AS prev_c_id,
             first_value(CASE WHEN treated = 0 THEN score END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_c_score,
             first_value(CASE WHEN treated = 0 THEN user_id END IGNORE NULLS)
               OVER (ORDER BY score, user_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_c_id
      FROM users
    ), matched AS (
      SELECT user_id, score,
             CASE WHEN next_c_score IS NULL THEN prev_c_score
                  WHEN prev_c_score IS NULL THEN next_c_score
                  WHEN abs(score - prev_c_score) <= abs(score - next_c_score)
                  THEN prev_c_score ELSE next_c_score END AS m_score
      FROM ranked WHERE treated = 1
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_t,
             CAST(SUM(score) AS BIGINT) AS s_t,
             CAST(SUM(m_score) AS BIGINT) AS s_m
      FROM matched
    ), ctl AS (
      SELECT CAST(count(*) AS BIGINT) AS n_c,
             CAST(SUM(score) AS BIGINT) AS s_c
      FROM users WHERE treated = 0
    )
    SELECT sums.n_t AS n_treated, ctl.n_c AS n_controls,
           CAST((s_t * 1000000) // n_t - (s_c * 1000000) // n_c AS BIGINT)
             AS pre_gap6,
           CAST((s_t * 1000000) // n_t - (s_m * 1000000) // n_t AS BIGINT)
             AS post_gap6
    FROM sums, ctl
    """,
)
def ext_psm_nearest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-style 1-NN matching (with replacement) on a scalar
    score: every treated user (above-median purchase count — a cohort
    guaranteed non-empty on both sides by the median split) is matched to
    the nearest
    control by activity score, via the SORTED-MERGE trick — union both
    cohorts, one ordered pass carries the last-control-before and
    first-control-after each treated row, pick the closer (ties → the
    earlier, a stated deterministic rule). Reported covariate balance:
    treated-vs-control mean gap BEFORE matching vs treated-vs-matched
    gap AFTER — the number that says whether the match removed the
    confound. Integer scores, integer micro-gaps.

    Scale: the same union+window shape as join_asof_time — no
    treated×control pair join ever materializes; the window runs over
    USERS (at extreme cardinality: repartitionByRange on score, the
    standard sorted-merge discipline)."""
    ev = load(spark, sf_dir, "events")
    raw = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("score"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("pc"),
    )
    med = raw.agg(F.floor(F.median("pc")).cast("long").alias("m"))
    users = raw.join(F.broadcast(med)).select(
        "user_id",
        "score",
        F.when(F.col("pc") > F.col("m"), 1).otherwise(0).alias("treated"),
    )
    # distributed sorted-merge carry (round 5): both fills ride ONE range
    # exchange + per-partition windows + a broadcast P-row carry — the
    # unpartitioned last/first window over all users never appears.
    c_score = F.when(F.col("treated") == 0, F.col("score"))
    ranked = distributed_fill(
        users,
        ["score", "user_id"],
        c_score,
        out_prev="prev_c_score",
        out_next="next_c_score",
    ).select("user_id", "score", "treated", "prev_c_score", "next_c_score")
    matched = ranked.filter(F.col("treated") == 1).select(
        "score",
        F.when(F.col("next_c_score").isNull(), F.col("prev_c_score"))
        .when(F.col("prev_c_score").isNull(), F.col("next_c_score"))
        .when(
            F.abs(F.col("score") - F.col("prev_c_score"))
            <= F.abs(F.col("score") - F.col("next_c_score")),
            F.col("prev_c_score"),
        )
        .otherwise(F.col("next_c_score"))
        .alias("m_score"),
    )
    sums = matched.agg(
        F.count(F.lit(1)).alias("n_t"),
        F.sum("score").cast("long").alias("s_t"),
        F.sum("m_score").cast("long").alias("s_m"),
    )
    ctl = users.filter(F.col("treated") == 0).agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum("score").cast("long").alias("s_c"),
    )
    return sums.join(F.broadcast(ctl)).select(
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_controls"),
        F.expr("s_t * 1000000 div n_t - s_c * 1000000 div n_c").alias("pre_gap6"),
        F.expr("s_t * 1000000 div n_t - s_m * 1000000 div n_t").alias("post_gap6"),
    )


@query(
    "ext_design_effect_icc",
    oracle="""
    WITH v AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), per_u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS nj,
             CAST(SUM(y) AS BIGINT) AS sj,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ssj
      FROM v GROUP BY user_id
    ), terms AS (
      SELECT nj, sj,
             CAST(round((ssj - CAST(sj AS DOUBLE) * sj / nj) * 100)
                  AS HUGEINT) AS ssw2,
             CAST(count(*) OVER () AS BIGINT) AS k,
             CAST(SUM(nj) OVER () AS BIGINT) AS n,
             CAST(SUM(sj) OVER () AS BIGINT) AS s
      FROM per_u
    ), agg AS (
      SELECT k, n,
             CAST(SUM(ssw2) AS HUGEINT) AS ssw2,
             CAST(SUM(CAST(round(
               nj * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n)
                  * (CAST(sj AS DOUBLE) / nj - CAST(s AS DOUBLE) / n) * 100)
               AS HUGEINT)) AS HUGEINT) AS ssb2
      FROM terms GROUP BY k, n
    )
    SELECT n AS n_events, k AS n_users,
           CAST(round(1000000
             * (CAST(ssb2 AS DOUBLE) / (k - 1)
                - CAST(ssw2 AS DOUBLE) / (n - k))
             / (CAST(ssb2 AS DOUBLE) / (k - 1)
                + (CAST(n AS DOUBLE) / k - 1)
                  * (CAST(ssw2 AS DOUBLE) / (n - k)))) AS BIGINT) AS icc6,
           CAST(round(1000000 * (1 + (CAST(n AS DOUBLE) / k - 1)
             * ((CAST(ssb2 AS DOUBLE) / (k - 1)
                 - CAST(ssw2 AS DOUBLE) / (n - k))
                / (CAST(ssb2 AS DOUBLE) / (k - 1)
                   + (CAST(n AS DOUBLE) / k - 1)
                     * (CAST(ssw2 AS DOUBLE) / (n - k))))))
             AS BIGINT) AS deff6
    FROM agg
    """,
)
def ext_design_effect_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-cluster correlation and design effect for user-clustered
    randomization: when an experiment assigns USERS but measures EVENTS,
    the effective sample size shrinks by deff = 1 + (m̄−1)·ICC — the
    number ext_power_analysis must divide by before quoting an MDE
    (ignoring it is the classic false-positive machine in clustered
    A/B tests). ANOVA sums of squares are computed per cluster from exact
    integer moments, rounded to centi-units BEFORE the cross-cluster sum
    (the order-independence contract), and ICC/deff are one shared double
    expression each.

    Degenerate clustering (a single user: k-1 = 0; or one event per
    user: n-k = 0): the mean-square divisors are zero and ANSI Spark
    would raise DIVIDE_BY_ZERO where DuckDB IEEE-propagates NaN through
    icc/deff — all three divisions (msb, msw, the icc ratio) go through
    try_divide (NULL, canonicalized equal to NaN;
    DEGENERATE_AUDIT_r8.md Family B, oracle untouched).

    Scale: one per-user aggregation + one scalar row; the window-based
    grand totals run over the per-user relation, not events."""
    ev = load(spark, sf_dir, "events")
    v = ev.select("user_id", F.round(F.col("value") * 100).cast("long").alias("y"))
    per_u = v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("y").cast("long").alias("sj"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("ssj"),
    )
    # grand totals as a broadcast 1-row join — an empty-partitionBy
    # window here would funnel the whole per-user relation through one
    # task (round-5 fix; the repo-standard scalar-broadcast idiom)
    tot = per_u.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        F.sum("sj").cast("long").alias("s"),
    )
    terms = per_u.join(F.broadcast(tot)).select(
        "nj",
        "sj",
        F.round(
            (F.col("ssj").cast("double")
             - F.col("sj").cast("double") * F.col("sj") / F.col("nj"))
            * 100
        )
        .cast("decimal(38,0)")
        .alias("ssw2"),
        "k",
        "n",
        "s",
    )
    dev = F.col("sj").cast("double") / F.col("nj") - F.col("s").cast("double") / F.col("n")
    agg = terms.groupBy("k", "n").agg(
        F.sum("ssw2").cast("decimal(38,0)").alias("ssw2"),
        F.sum(F.round(F.col("nj") * dev * dev * 100).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ssb2"),
    )
    msb = F.try_divide(F.col("ssb2").cast("double"), F.col("k") - 1)
    msw = F.try_divide(F.col("ssw2").cast("double"), F.col("n") - F.col("k"))
    mbar_m1 = F.col("n").cast("double") / F.col("k") - 1
    icc = F.try_divide(msb - msw, msb + mbar_m1 * msw)
    return agg.select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_users"),
        F.round(1000000 * icc).cast("long").alias("icc6"),
        F.round(1000000 * (1 + mbar_m1 * icc)).cast("long").alias("deff6"),
    )


SHUFFLE_AUDIT_N = 10000


@query(
    "ext_shuffle_quality_audit",
    oracle=f"""
    WITH sampled AS (
      SELECT doc_id, n_chars,
             (doc_id * 2654435761 + 12289) % 2147483647 AS hv
      FROM documents
      ORDER BY (doc_id * 2654435761 + 12289) % 2147483647, doc_id
      LIMIT {SHUFFLE_AUDIT_N}
    ), orderings AS (
      SELECT 'shuffled' AS ordering, n_chars AS x,
             lead(n_chars) OVER (ORDER BY hv, doc_id) AS y
      FROM sampled
      UNION ALL
      SELECT 'by_doc_id', n_chars,
             lead(n_chars) OVER (ORDER BY doc_id)
      FROM sampled
    ), mo AS (
      SELECT ordering, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM orderings WHERE y IS NOT NULL GROUP BY ordering
    )
    SELECT ordering, n AS n_pairs,
           CAST(round(1000000
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
             AS BIGINT) AS lag1_corr6
    FROM mo
    """,
)
def ext_shuffle_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-quality audit: lag-1 autocorrelation of document length
    under the training shuffle order (ext_epoch_shuffle_plan's hash) vs
    the ingest order — the QA check that the shuffle actually decorrelated
    neighboring examples (residual structure in batch composition biases
    gradient estimates). Runs on a deterministic {SHUFFLE_AUDIT_N}-doc
    hash-prefix sample so the adjacency windows are CONSTANT-bounded at
    any corpus size; Pearson over adjacent pairs uses exact integer
    moments and one shared double expression.

    Scale: TakeOrdered pulls the bounded sample; everything after runs on
    ≤{SHUFFLE_AUDIT_N} rows."""
    docs = load(spark, sf_dir, "documents")
    hv = F.expr("(doc_id * 2654435761 + 12289) % 2147483647")
    sampled = (
        docs.select("doc_id", "n_chars", hv.alias("hv"))
        .orderBy("hv", "doc_id")
        .limit(SHUFFLE_AUDIT_N)
    )
    # cached: without it, 0.24 → 0.32 s at sf0.01
    sampled.cache()
    w_sh = Window.orderBy("hv", "doc_id")
    w_id = Window.orderBy("doc_id")
    orderings = sampled.select(
        F.lit("shuffled").alias("ordering"),
        F.col("n_chars").alias("x"),
        F.lead("n_chars").over(w_sh).alias("y"),
    ).unionAll(
        sampled.select(
            F.lit("by_doc_id").alias("ordering"),
            F.col("n_chars").alias("x"),
            F.lead("n_chars").over(w_id).alias("y"),
        )
    )
    mo = (
        orderings.filter(F.col("y").isNotNull())
        .groupBy("ordering")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
    )
    cxy = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return mo.select(
        "ordering",
        F.col("n").alias("n_pairs"),
        F.round(1000000 * cxy / F.sqrt(vx * vy)).cast("long").alias("lag1_corr6"),
    )


BH_Q_INV = 5  # FDR level q = 1/5


@query(
    "ext_bh_fdr",
    oracle=f"""
    WITH v AS (
      SELECT event_type AS t, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN date_part('dow', ts) IN (0, 6) THEN 1 ELSE 0 END
               AS grp
      FROM events
    ), obs AS (
      SELECT t,
             CAST((CAST(SUM(CASE WHEN grp = 0 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN grp = 0 THEN 1 END)
                - (CAST(SUM(CASE WHEN grp = 1 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS d6
      FROM v GROUP BY t
    ), perms AS (
      SELECT v.t, p.p, v.cents,
             CASE WHEN (v.event_id * 2654435761 + p.p * 97003 + 40503)
                       % 2147483647 % 2 = 0 THEN 0 ELSE 1 END AS pgrp
      FROM v, (SELECT unnest(range(0, {PERM_P})) AS p) p
    ), pd AS (
      SELECT t, p,
             CAST((CAST(SUM(CASE WHEN pgrp = 0 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN pgrp = 0 THEN 1 END)
                - (CAST(SUM(CASE WHEN pgrp = 1 THEN cents END) AS BIGINT)
                   * 10000)
                  // SUM(CASE WHEN pgrp = 1 THEN 1 END) AS BIGINT) AS d6
      FROM perms GROUP BY t, p
    ), pvals AS (
      SELECT obs.t, obs.d6,
             1 + CAST(SUM(CASE WHEN abs(pd.d6) >= abs(obs.d6)
                           THEN 1 ELSE 0 END) AS BIGINT) AS p_num
      FROM obs JOIN pd ON pd.t = obs.t
      GROUP BY obs.t, obs.d6
    ), ranked AS (
      SELECT t, d6, p_num,
             row_number() OVER (ORDER BY p_num, t) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pvals
    ), flagged AS (
      SELECT t, d6, p_num, rk, m,
             CASE WHEN {BH_Q_INV} * m * p_num <= rk * ({PERM_P} + 1)
                  THEN rk END AS ok_rk
      FROM ranked
    )
    SELECT t AS event_type, d6 AS obs_diff6,
           CAST(p_num AS BIGINT) AS p_num,
           CAST({PERM_P} + 1 AS BIGINT) AS p_den,
           CAST(rk AS BIGINT) AS bh_rank,
           rk <= coalesce(max(ok_rk) OVER (), 0) AS rejected
    FROM flagged
    """,
)
def ext_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR across slices: each event type gets a
    permutation p-value for its weekday/weekend value gap (the
    ext_permutation_test machinery, per slice), then the BH step-up rule
    marks the largest prefix of sorted p-values with p_(i) ≤ i·q/m as
    discoveries — the multiple-testing discipline that keeps a dashboard
    of 100 segment metrics from "discovering" 5 false effects at q=20%.
    Everything is integer: p-values are counts over {PERM_P}+1, the BH
    inequality is cross-multiplied ({BH_Q_INV}·m·p_num ≤ i·({PERM_P}+1)),
    the step-up cutoff a windowed max.

    Scale: the perm fan-out is map-side ×{PERM_P}; aggregations are keyed
    by (slice, perm); the BH pass runs over #slices rows."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("t"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("grp"),
    )

    def diff6(grp_col: str):
        return F.expr(
            f"CAST(CAST(sum(CASE WHEN {grp_col} = 0 THEN cents END) AS BIGINT)"
            f" * 10000 div sum(CASE WHEN {grp_col} = 0 THEN 1 END)"
            f" - CAST(sum(CASE WHEN {grp_col} = 1 THEN cents END) AS BIGINT)"
            f" * 10000 div sum(CASE WHEN {grp_col} = 1 THEN 1 END) AS BIGINT)"
        )

    obs = v.groupBy("t").agg(diff6("grp").alias("d6"))
    perms = v.select(
        "t",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(PERM_P - 1))).alias("p"),
        "event_id",
    ).select(
        "t",
        "p",
        "cents",
        F.expr(
            "CASE WHEN (event_id * 2654435761 + p * 97003 + 40503) "
            "% 2147483647 % 2 = 0 THEN 0 ELSE 1 END"
        ).alias("pgrp"),
    )
    pd_means = perms.groupBy("t", "p").agg(diff6("pgrp").alias("pd6"))
    pvals = (
        pd_means.join(F.broadcast(obs), "t")
        .groupBy("t", "d6")
        .agg(
            (
                1
                + F.sum(
                    F.when(F.abs(F.col("pd6")) >= F.abs(F.col("d6")), 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("p_num")
        )
    )
    wrk = Window.orderBy("p_num", "t")
    wall = Window.partitionBy()
    ranked = pvals.select(
        "t",
        "d6",
        "p_num",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    )
    flagged = ranked.withColumn(
        "ok_rk",
        F.when(
            BH_Q_INV * F.col("m") * F.col("p_num")
            <= F.col("rk") * (PERM_P + 1),
            F.col("rk"),
        ),
    )
    return flagged.select(
        F.col("t").alias("event_type"),
        F.col("d6").alias("obs_diff6"),
        F.col("p_num").cast("long").alias("p_num"),
        F.lit(PERM_P + 1).cast("long").alias("p_den"),
        F.col("rk").cast("long").alias("bh_rank"),
        (
            F.col("rk")
            <= F.coalesce(F.max("ok_rk").over(wall), F.lit(0))
        ).alias("rejected"),
    )


@query(
    "ext_als_rank1",
    oracle=f"""
    WITH r AS (
      SELECT user_id, TRY_CAST(json_extract({SQL_PROPS_JSON}, '$.k') AS BIGINT) AS item,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), u AS (
      -- half-step 1, item factors initialized to 1: u_j = mean rating
      SELECT user_id,
             CAST((CAST(SUM(cnt) AS BIGINT) * 1000)
                  // count(*) AS BIGINT) AS u3
      FROM r GROUP BY user_id
    ), v AS (
      -- half-step 2: v_i = Σ r·u / Σ u² over observed users
      SELECT r.item, CAST(count(*) AS BIGINT) AS n_users,
             CAST(round(1000000.0
               * CAST(SUM(r.cnt * u.u3) AS BIGINT)
               / CAST(SUM(u.u3 * u.u3) AS BIGINT)) AS BIGINT) AS v6
      FROM r JOIN u USING (user_id)
      GROUP BY r.item
    )
    SELECT item, n_users, v6 FROM v
    ORDER BY v6 DESC, item LIMIT 20
    """,
)
def ext_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS alternation of a rank-1 matrix factorization over the
    (user, item, interaction-count) matrix: item factors init to 1 →
    closed-form user factors (per-user mean rating) → closed-form item
    factors v_i = Σr·u / Σu² — the popularity-vs-affinity decomposition
    that seeds every collaborative filter, expressed as two grouped
    aggregations. Exact: user factors are milli-unit integers BEFORE the
    second half-step, so both Σr·u and Σu² are int64 sums and v is one
    integer-operand divide (int64-safe up to ~1e8 users per item at this
    scaling).

    Scale: two shuffles (by user, by item) over the interaction relation
    — the canonical ALS data movement; no factor matrix ever broadcast
    because rank is 1."""
    ev = load(spark, sf_dir, "events")
    r = ev.groupBy(
        "user_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("item"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    u = r.groupBy("user_id").agg(
        F.expr("CAST(CAST(sum(cnt) AS BIGINT) * 1000 div count(*) AS BIGINT)").alias(
            "u3"
        )
    )
    v = (
        r.join(u, "user_id")
        .groupBy("item")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                1000000.0
                * F.sum(F.col("cnt") * F.col("u3")).cast("long")
                / F.sum(F.col("u3") * F.col("u3")).cast("long")
            )
            .cast("long")
            .alias("v6"),
        )
    )
    return v.orderBy(F.desc("v6"), "item").limit(20)


@query(
    "ext_quantile_treatment_effect",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c,
             (event_id * 2654435761 + 12289) % 2147483647 % 2 AS arm
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), hist AS (
      SELECT arm, c, CAST(count(*) AS BIGINT) AS cnt
      FROM v GROUP BY arm, c
    ), cum AS (
      SELECT arm, c,
             CAST(SUM(cnt) OVER (PARTITION BY arm ORDER BY c
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm,
             CAST(SUM(cnt) OVER (PARTITION BY arm) AS BIGINT) AS n
      FROM hist
    ), deciles AS (
      SELECT d.d, cum.arm,
             min(CASE WHEN cm >= (d.d * n + 9) // 10 THEN c END) AS q
      FROM cum, (SELECT unnest(range(1, 10)) AS d) d
      GROUP BY d.d, cum.arm
    )
    SELECT a.d AS decile, a.q AS q_control, b.q AS q_treatment,
           b.q - a.q AS qte_cents
    FROM deciles a JOIN deciles b ON a.d = b.d AND a.arm = 0 AND b.arm = 1
    """,
)
def ext_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile gap between the two
    hash-randomized arms' purchase-value distributions — the view that
    catches what a mean lift (ext_ab_test_lift) hides: an effect
    concentrated in the tail (only the 9th decile moves) or a compression
    (low deciles up, high down, mean flat). Deciles are exact order
    statistics (⌈d·n/10⌉ ranks) off per-arm value histograms; QTE is an
    integer difference.

    Scale: per-arm distinct-value histograms + arm-partitioned cumulative
    windows — two small relations joined on decile at the end."""
    # NULL purchase values carry no rank — excluded on both sides
    # (chaos r12, the agg_salted_twophase shape)
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        F.expr("(event_id * 2654435761 + 12289) % 2147483647 % 2").alias("arm"),
    )
    hist = v.groupBy("arm", "c").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.partitionBy("arm").orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    warm = Window.partitionBy("arm")
    cum = hist.select(
        "arm",
        "c",
        F.sum("cnt").over(wcum).cast("long").alias("cm"),
        F.sum("cnt").over(warm).cast("long").alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    deciles = (
        cum.join(F.broadcast(ds))
        .groupBy("d", "arm")
        .agg(
            F.min(
                F.when(F.col("cm") >= F.expr("(d * n + 9) div 10"), F.col("c"))
            ).alias("q")
        )
    )
    a = deciles.filter(F.col("arm") == 0).select(
        F.col("d").alias("decile"), F.col("q").alias("q_control")
    )
    b = deciles.filter(F.col("arm") == 1).select(
        F.col("d").alias("db"), F.col("q").alias("q_treatment")
    )
    return a.join(F.broadcast(b), F.col("decile") == F.col("db")).select(
        "decile",
        "q_control",
        "q_treatment",
        (F.col("q_treatment") - F.col("q_control")).alias("qte_cents"),
    )


ROLL_N = 5


@query(
    "win_rolling_regression",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events
    ), framed AS (
      SELECT user_id, event_id, x,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(round(1000000.0
             * (n * sxy - sx * sy)
             / (n * sxx - sx * sx)) AS BIGINT) AS slope6
    FROM framed WHERE n = {ROLL_N}
    """,
)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope over the last {ROLL_N} events per user — the
    windowed trend feature (is this user's spend accelerating RIGHT NOW?)
    that a global fit (ext_user_trend_slope) smears away. The regression
    runs entirely inside the window FRAME: the five sums (n, Σx, Σy, Σxy,
    Σx²) are framed integer aggregates, so the slope is one shared-operand
    double per row, rounded at 1e-6 — no self-join, no per-row recompute.

    Scale: ONE user-partitioned window pass carries all five running
    sums; frame state is O({ROLL_N}) per user. The canonical pattern for
    any rolling statistic with a moment formula."""
    ev = load(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        F.row_number().over(order_w).cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(ROLL_N - 1), Window.currentRow)
    )
    framed = seq.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(frame).cast("long").alias("n"),
        F.sum("x").over(frame).cast("long").alias("sx"),
        F.sum("y").over(frame).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(frame).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(frame).cast("long").alias("sxx"),
    )
    return framed.filter(F.col("n") == ROLL_N).select(
        "user_id",
        "event_id",
        F.round(
            1000000.0
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        )
        .cast("long")
        .alias("slope6"),
    )


@query(
    "join_multi_exists_onepass",
    oracle="""
    WITH flags AS (
      SELECT o_custkey,
             CAST(max(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS has_urgent,
             CAST(max(CASE WHEN o_totalprice > 200000
                           THEN 1 ELSE 0 END) AS BIGINT) AS has_big,
             CAST(max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS has_recent
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name,
           coalesce(f.has_urgent, 0) AS has_urgent,
           coalesce(f.has_big, 0) AS has_big,
           coalesce(f.has_recent, 0) AS has_recent
    FROM customer c LEFT JOIN flags f ON f.o_custkey = c.c_custkey
    """,
)
def join_multi_exists_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three EXISTS predicates answered in ONE pass: instead of three
    correlated semi-joins (three shuffles of the orders fact, the shape a
    naive `EXISTS(...) AND EXISTS(...) AND EXISTS(...)` plans), aggregate
    all three existence flags map-side in a single groupBy and left-join
    the flag relation once — 3× less fact movement, identical semantics
    (MAX(CASE) ≡ EXISTS over the group).

    Scale: one partial-aggregated pass over orders + one broadcast-or-
    shuffle join at customer cardinality. The template generalizes to any
    number of EXISTS conditions with zero extra passes."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    flags = orders.groupBy("o_custkey").agg(
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).cast("long").alias("has_urgent"),
        F.max(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("has_big"),
        F.max(
            F.when(
                F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"), 1
            ).otherwise(0)
        ).cast("long").alias("has_recent"),
    )
    return cust.join(
        flags, cust["c_custkey"] == flags["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_name",
        F.coalesce("has_urgent", F.lit(0)).cast("long").alias("has_urgent"),
        F.coalesce("has_big", F.lit(0)).cast("long").alias("has_big"),
        F.coalesce("has_recent", F.lit(0)).cast("long").alias("has_recent"),
    )


@query(
    "ext_sliding_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), fan AS (
      SELECT user_id, day AS active_day,
             day + CAST(o.o AS INTEGER) AS report_day
      FROM ud, (SELECT unnest(range(0, 7)) AS o) o
    ), days AS (
      SELECT DISTINCT day FROM ud
    ), wau AS (
      SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM fan GROUP BY report_day
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT CAST(days.day AS VARCHAR) AS day, dau.dau, wau.wau,
           CAST((dau.dau * 1000000) // wau.wau AS BIGINT) AS stickiness6
    FROM days
    JOIN dau ON dau.day = days.day
    JOIN wau ON wau.report_day = days.day
    """,
)
def ext_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-health
    triple every growth dashboard leads with. Sliding COUNT(DISTINCT) is
    illegal in window frames, so each (user, active-day) pair FANS OUT to
    the 7 report days it supports and a plain grouped distinct count does
    the rest — the bounded-multiplicity rewrite that scales where a
    distinct-in-frame cannot (state per day is the distinct-user set
    ANYWAY; the fan-out just makes it a shuffle key). Reported only for
    days that exist in the data; all integer.

    Scale: fan-out ×7 on the (user, day) relation (already deduped, tiny
    vs events), one grouped distinct per report day."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    wau = fan.groupBy("report_day").agg(F.countDistinct("user_id").alias("wau"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau["day"] == wau["report_day"])
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau").alias("stickiness6"),
        )
    )


@query(
    "ext_calibration_ece",
    oracle="""
    WITH scored AS (
      -- value IS NOT NULL (Family N1 lockstep): a NULL score cannot be
      -- placed in a confidence bin
      SELECT ntile(10) OVER (ORDER BY value, event_id) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ), bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS nb,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST((2 * bin - 1) * 50000 AS BIGINT) AS conf6
      FROM scored GROUP BY bin
    ), n AS (SELECT CAST(SUM(nb) AS BIGINT) AS n FROM bins)
    SELECT CAST(SUM(CAST(round(
             abs(CAST(pos AS DOUBLE) * 1000000 / nb - conf6)
             * nb / n.n) AS BIGINT)) AS BIGINT) AS ece6,
           CAST(count(*) AS BIGINT) AS n_bins,
           n.n AS n_events
    FROM bins, n GROUP BY n.n
    """,
)
def ext_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of a pseudo-scorer (value decile used
    as a confidence proxy, decile midpoint as stated confidence) against
    the observed purchase rate — the ONE number (Guo et al.'s ECE) that
    says whether scores can be read as probabilities; the weighted-bin
    summary of what ext_conversion_deciles shows per bin. Per-bin terms
    |acc − conf|·n_b/n are rounded to 1e-6 integers BEFORE the sum, per
    the order-independence contract.

    Scale: decile assignment via ``distributed_ntile`` (range exchange,
    in-partition rank, broadcast offsets — no single-task global sort
    over events) and a 10-row aggregation.

    NULL scores (Family N1, lockstep): pre-filtered on both engines — a
    NULL value cannot be placed in a confidence bin, and left in it would
    tile at opposite ends under the engines' NULL-sort defaults."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = distributed_ntile(
        ev.select("value", "event_id", "event_type"),
        ["value", "event_id"],
        10,
        out="bin",
    ).select(
        "bin",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("y").cast("long").alias("pos"),
    ).withColumn("conf6", ((2 * F.col("bin") - 1) * 50000).cast("long"))
    n = bins.agg(F.sum("nb").cast("long").alias("n"))
    term6 = F.round(
        F.abs(
            F.col("pos").cast("double") * 1000000 / F.col("nb") - F.col("conf6")
        )
        * F.col("nb")
        / F.col("n")
    ).cast("long")
    return (
        bins.join(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.sum(term6).cast("long").alias("ece6"),
            F.count(F.lit(1)).alias("n_bins"),
        )
        .select("ece6", "n_bins", F.col("n").alias("n_events"))
    )


@query(
    "ext_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(date_part('dow', ts) AS BIGINT) AS dow,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), trended AS (
      SELECT day, dow, cents,
             CAST(count(*) OVER w AS BIGINT) AS wn,
             CAST(SUM(cents) OVER w AS BIGINT) AS wsum
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT day, dow, cents,
             CAST(wsum // wn AS BIGINT) AS trend_cents,
             cents - CAST(wsum // wn AS BIGINT) AS detrended
      FROM trended WHERE wn = 7
    ), seas AS (
      SELECT dow,
             CAST(SUM(detrended) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS seasonal_cents
      FROM detr GROUP BY dow
    )
    SELECT CAST(detr.day AS VARCHAR) AS day, detr.cents,
           detr.trend_cents, seas.seasonal_cents,
           detr.cents - detr.trend_cents - seas.seasonal_cents
             AS residual_cents
    FROM detr JOIN seas USING (dow)
    """,
)
def ext_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily revenue (classical
    decomposition, STL's simple ancestor): trend = centered 7-day moving
    average (framed window), seasonal = per-day-of-week mean of the
    detrended series, residual = the rest — the split every anomaly
    detector should run BEFORE alerting (a "spike" that is just Saturday
    is not an anomaly; ext_cusum_changepoint on the residual beats cusum
    on the raw series). Trend/seasonal are integer floor-divisions, so
    the three components sum back to the observation exactly up to the
    published floors.

    Scale: the corpus collapses to the daily series; the framed MA and
    dow means run over calendar-bounded rows."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "dow",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("wn"),
        F.sum("cents").over(w).cast("long").alias("wsum"),
    )
    detr = trended.filter(F.col("wn") == 7).select(
        "day",
        "dow",
        "cents",
        F.expr("wsum div wn").alias("trend_cents"),
        (F.col("cents") - F.expr("wsum div wn")).alias("detrended"),
    )
    seas = detr.groupBy("dow").agg(
        F.expr(
            "CAST(CAST(sum(detrended) AS BIGINT) div count(*) AS BIGINT)"
        ).alias("seasonal_cents")
    )
    return detr.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("string").alias("day"),
        "cents",
        "trend_cents",
        "seasonal_cents",
        (
            F.col("cents") - F.col("trend_cents") - F.col("seasonal_cents")
        ).alias("residual_cents"),
    )


@query(
    "ext_cross_correlation_lags",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS clicks,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS buys
      FROM events GROUP BY 1
    ), pairs AS (
      SELECT l.l AS lag, a.clicks AS x, b.buys AS y
      FROM daily a
      JOIN (SELECT unnest(range(-3, 4)) AS l) l ON true
      JOIN daily b ON b.day = a.day + CAST(l.l AS INTEGER)
    ), mo AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag_days, n AS n_pairs,
           CAST(round(1000000
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
             AS BIGINT) AS ccf6
    FROM mo
    """,
)
def ext_cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlation between daily click volume and purchase
    revenue at lags −3..+3 days — the signal-discovery scan that answers
    "do clicks LEAD purchases, and by how many days?" (the argmax lag is
    the attribution window ext_first_touch_attribution should use). Each
    lag's Pearson uses exact integer moments over the lag-joined daily
    series and one shared double expression, rounded at 1e-6.

    A constant series (zero variance in clicks or buys at some lag) makes
    the Pearson denominator sqrt(0): ANSI Spark would raise
    DIVIDE_BY_ZERO where DuckDB renders NaN — the division goes through
    try_divide (NULL, canonicalized equal to NaN;
    DEGENERATE_AUDIT_r8.md Family B, oracle untouched).

    Scale: the corpus reduces to one daily row each; the lag join is
    days × 7 — calendar-bounded. Same moment discipline as
    ext_shuffle_quality_audit."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "click",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("clicks"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("buys"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("da"), "clicks")
    b = daily.select(F.col("day").alias("db"), "buys")
    pairs = (
        a.join(F.broadcast(lags))
        .join(b, F.expr("db = date_add(da, lag)"))
        .select("lag", F.col("clicks").alias("x"), F.col("buys").alias("y"))
    )
    mo = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    cxy = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return mo.select(
        F.col("lag").cast("long").alias("lag_days"),
        F.col("n").alias("n_pairs"),
        F.round(F.try_divide(1000000 * cxy, F.sqrt(vx * vy)))
        .cast("long")
        .alias("ccf6"),
    )


@query(
    "ext_share_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), reg AS (
      SELECT region, CAST(SUM(cents) AS BIGINT) AS r_cents FROM rev
      GROUP BY region
    ), tot AS (
      SELECT CAST(SUM(cents) AS BIGINT) AS t_cents FROM rev
    )
    SELECT rev.region, rev.nation, rev.cents,
           CAST((rev.cents * 1000000) // reg.r_cents AS BIGINT)
             AS share_of_region6,
           CAST((reg.r_cents * 1000000) // tot.t_cents AS BIGINT)
             AS region_share_of_total6
    FROM rev JOIN reg USING (region), tot
    """,
)
def ext_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent at every level of the region→nation hierarchy:
    each nation's share of its region's revenue and each region's share
    of the total — the percent-of-parent drilldown every BI tool renders,
    which agg_rollup's absolute subtotals do NOT give (shares need the
    PARENT total joined back onto the child row). Revenue sums are exact
    integer cents; shares are integer micro-ratios.

    Scale: the star join broadcasts the three dimension tables; the share
    joins operate on nation-cardinality aggregates."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    reg = rev.groupBy("region").agg(F.sum("cents").cast("long").alias("r_cents"))
    tot = rev.agg(F.sum("cents").cast("long").alias("t_cents"))
    return (
        rev.join(F.broadcast(reg), "region")
        .join(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            F.expr("cents * 1000000 div r_cents").alias("share_of_region6"),
            F.expr("r_cents * 1000000 div t_cents").alias(
                "region_share_of_total6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bounded time-series mining (round-10 thaw, tranche 3; ROADMAP_r10 candidates)
# ---------------------------------------------------------------------------


def _daily_value_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value series in integer MILLI-units (per-row rounding
    BEFORE the sum — the cross-engine float rule; the micro-unit twin
    below feeds Holt-Winters, milli keeps the matrix-profile squared
    distances comfortably inside int64)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("y")
    )


@query(
    "ext_matrix_profile_daily",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
      FROM daily
    ), nsub AS (
      SELECT CAST(max(i) - 6 AS BIGINT) AS ns FROM idx
    ), dists AS (
      SELECT a.i AS si, b.i AS sj,
             CAST(SUM((xa.y - xb.y) * (xa.y - xb.y)) AS BIGINT) AS d2
      FROM idx a
      JOIN idx b ON abs(a.i - b.i) >= 4
      JOIN nsub ON a.i <= nsub.ns AND b.i <= nsub.ns
      JOIN idx xa ON xa.i BETWEEN a.i AND a.i + 6
      JOIN idx xb ON xb.i = b.i + (xa.i - a.i)
      GROUP BY a.i, b.i
    ), mp AS (
      SELECT si, d2, sj,
             row_number() OVER (PARTITION BY si ORDER BY d2, sj) AS rn
      FROM dists
    )
    SELECT si AS subseq, d2 AS mp_d2, sj AS nn_subseq
    FROM mp WHERE rn = 1
    """,
)
def ext_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRIX PROFILE of the daily event-value series (window w=7,
    exclusion zone |i−j| >= 4): for every 7-day subsequence, the distance
    to its nearest non-trivial neighbor — low profile = recurring motif
    (weekly rhythm), high profile = discord (the anomaly a rolling
    z-score misses because it is shape-, not level-, based). The
    UNNORMALIZED squared-Euclidean variant keeps every distance an exact
    int64 over the milli-unit series, so both engines agree bit-for-bit
    (the z-normalized variant would put a float sqrt inside the argmin).

    Scale: the heavy reduction (events → daily) is fully distributed;
    the pair set is CALENDAR-bounded (#days² at w=7, ~133k pairs/decade)
    and the per-pair expansion is ×7 — a broadcast-joined integer
    aggregate, not a corpus-sized shuffle. ``distributed_row_number``
    indexes the series without an unpartitioned window."""
    daily = _daily_value_milli(spark, sf_dir)
    idx = distributed_row_number(daily.select("d", "y"), ["d"], rn="i").select(
        "i", "y"
    ).localCheckpoint(eager=False)
    ns = idx.agg((F.max("i") - 6).cast("long").alias("ns"))
    subs = idx.join(F.broadcast(ns)).filter(F.col("i") <= F.col("ns")).select(
        F.col("i").alias("si")
    )
    pairs = subs.join(
        F.broadcast(subs.select(F.col("si").alias("sj"))),
        F.abs(F.col("si") - F.col("sj")) >= 4,
    )
    expanded = pairs.select(
        "si", "sj", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("t")
    )
    d2 = (
        expanded.join(
            F.broadcast(idx.select(F.col("i").alias("ia"), F.col("y").alias("ya"))),
            F.col("ia") == F.col("si") + F.col("t"),
        )
        .join(
            F.broadcast(idx.select(F.col("i").alias("ib"), F.col("y").alias("yb"))),
            F.col("ib") == F.col("sj") + F.col("t"),
        )
        .groupBy("si", "sj")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            .cast("long")
            .alias("d2")
        )
    )
    w = Window.partitionBy("si").orderBy("d2", "sj")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("si").alias("subseq"),
            F.col("d2").alias("mp_d2"),
            F.col("sj").alias("nn_subseq"),
        )
    )


def _dtw_cells_sql() -> str:
    """The 7x7 integer DTW recurrence unrolled into generated per-cell
    CTEs for the DuckDB oracle. Each cell MUST be AS MATERIALIZED: DuckDB
    otherwise inlines the cell chain exponentially AND re-opens the
    parquet scan per CTE reference ("Too many open files") — the
    determinism lesson recorded in ROADMAP_r10.md."""
    cells = []
    for i in range(1, 8):
        for j in range(1, 8):
            cost = (
                f"(SELECT (pa.y - pb.y) * (pa.y - pb.y) FROM pa, pb "
                f"WHERE pa.dow = {i} AND pb.dow = {j})"
            )
            if i == 1 and j == 1:
                prev = "0"
            elif i == 1:
                prev = f"(SELECT v FROM c{i}_{j-1})"
            elif j == 1:
                prev = f"(SELECT v FROM c{i-1}_{j})"
            else:
                prev = (f"LEAST((SELECT v FROM c{i-1}_{j}), "
                        f"(SELECT v FROM c{i}_{j-1}), "
                        f"(SELECT v FROM c{i-1}_{j-1}))")
            cells.append(
                f"c{i}_{j} AS MATERIALIZED "
                f"(SELECT CAST({cost} + {prev} AS BIGINT) AS v)"
            )
    return ",\n    ".join(cells)


@query(
    "ext_dtw_bounded",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), wk AS MATERIALIZED (
      -- NULL-day lockstep (LATTICE_AUDIT_r15 tranche 5): a day whose
      -- every event value is NULL aggregates to a NULL y, which the
      -- Spark DP's astype(int) REJECTS where this oracle's DP cells
      -- silently go NULL — an unknown daily point cannot sit in a
      -- warped profile, so it is excluded on both engines and a week
      -- containing one is simply not FULL
      SELECT d, y, CAST(isodow(d) AS BIGINT) AS dow,
             date_trunc('week', d) AS w
      FROM daily WHERE y IS NOT NULL
    ), full_weeks AS MATERIALIZED (
      SELECT w FROM wk GROUP BY w HAVING count(*) = 7
    ), pa AS MATERIALIZED (
      SELECT dow, y FROM wk
      WHERE w = (SELECT min(w) FROM full_weeks)
    ), pb AS MATERIALIZED (
      SELECT dow, y FROM wk
      WHERE w = (SELECT max(w) FROM full_weeks)
    ),
    {_dtw_cells_sql()}
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM full_weeks) AS n_full_weeks,
           (SELECT v FROM c7_7) AS dtw_d2,
           CAST((SELECT SUM((pa.y - pb.y) * (pa.y - pb.y))
                 FROM pa JOIN pb ON pa.dow = pb.dow) AS BIGINT)
             AS euclid_d2
    -- degenerate-series gate (r8 prep for this registration): with
    -- fewer than 2 full ISO weeks there is no (first, last) profile pair
    -- — emit ZERO rows (the ungated form returned one row of NULL cells
    -- at 0 weeks and self-DTW at 1, while the Spark DP raised on the
    -- missing side; both engines now agree on empty)
    WHERE (SELECT count(*) FROM full_weeks) >= 2
    """,
)
def ext_dtw_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer DTW between the first and last FULL ISO week of the daily
    series (Monday-anchored 7-point profiles): the warped distance next
    to the rigid Euclidean one — DTW << Euclid means the weekly shape
    persisted but phase-shifted (a holiday moved the peak), similar
    values mean genuine drift; the shape-drift check for the seasonal
    profiles ext_holt_winters_additive smooths. Spark ``weekday(d)+1``
    equals DuckDB ``isodow(d)`` and both week-truncations are
    Monday-anchored, so the profile keys line up exactly (ROADMAP_r10
    determinism lesson).

    Gated on n_full_weeks >= 2 in BOTH the plan and the oracle: at one
    full week the "b" profile is empty and the ungated DP raised
    IndexError where the oracle returned self-DTW — both engines now
    emit zero rows (validated on 5/7/14-day crafted fixtures in r8).

    Scale: the 7x7 DP is sequential by definition, but its input is two
    CALENDAR-bounded 7-point integer profiles — the heavy events→daily
    reduction runs fully distributed and ONE applyInPandas group replays
    the recurrence (the ext_holt_winters_additive bounded-tail
    rationale). The oracle unrolls the same recurrence as 49 generated
    MATERIALIZED CTE cells."""
    import pandas as pd

    # NULL-day lockstep (LATTICE_AUDIT_r15 tranche 5, see the oracle's
    # wk CTE): exclude days whose value sum is NULL before the weekly
    # grouping — a week containing one is not FULL on either engine
    daily = _daily_value_milli(spark, sf_dir).filter(F.col("y").isNotNull())
    wk = daily.select(
        "d",
        "y",
        (F.weekday("d") + 1).cast("long").alias("dow"),
        F.date_trunc("week", "d").alias("w"),
    )
    full_weeks = wk.groupBy("w").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") == 7
    )
    bounds = full_weeks.agg(
        F.min("w").alias("w0"), F.max("w").alias("w1"),
        F.count(F.lit(1)).cast("long").alias("n_full_weeks"),
    )
    prof = wk.join(F.broadcast(bounds)).filter(
        (F.col("n_full_weeks") >= 2)
        & ((F.col("w") == F.col("w0")) | (F.col("w") == F.col("w1")))
    ).select(
        F.when(F.col("w") == F.col("w0"), F.lit("a")).otherwise(F.lit("b")).alias(
            "side"
        ),
        "dow",
        "y",
        "n_full_weeks",
    )

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf.side == "a"].sort_values("dow")["y"].astype(int).tolist()
        b = pdf[pdf.side == "b"].sort_values("dow")["y"].astype(int).tolist()
        n = len(a)
        D = [[0] * n for _ in range(n)]
        for i in range(n):
            for j in range(n):
                c = (a[i] - b[j]) ** 2
                if i == 0 and j == 0:
                    D[i][j] = c
                elif i == 0:
                    D[i][j] = c + D[i][j - 1]
                elif j == 0:
                    D[i][j] = c + D[i - 1][j]
                else:
                    D[i][j] = c + min(
                        D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                    )
        euclid = sum((x - y) ** 2 for x, y in zip(a, b))
        return pd.DataFrame(
            {
                "g": [1],
                "n_full_weeks": [int(pdf["n_full_weeks"].iloc[0])],
                "dtw_d2": [D[n - 1][n - 1]],
                "euclid_d2": [euclid],
            }
        )

    return (
        prof.groupBy(F.lit(1).alias("g"))
        .applyInPandas(
            dtw, "g int, n_full_weeks long, dtw_d2 long, euclid_d2 long"
        )
        .select("n_full_weeks", "dtw_d2", "euclid_d2")
    )


@query(
    "ext_sax_symbols",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sx,
             -- HUGEINT from the per-element multiply up: a 1e7-magnitude
             -- money day makes y ~ 1e10 milli-units and y*y ~ 1e20 — past
             -- int64 at the ELEMENT, not just the sum (EXTREME_AUDIT_r11
             -- Family X2(b); mirrored by Spark's decimal(38,0) below)
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sxx
      FROM daily
    ), z AS (
      SELECT d, y,
             (y - 1.0 * sx / n) /
             sqrt((1.0 * n * sxx - 1.0 * sx * sx) / (1.0 * n * n)) AS zv
      FROM daily, s
      -- degenerate gate (r8 audit): constant series -> zero rows.
      -- HUGEINT: n*sxx and sx*sx pass 2^63 at sf0.1 daily magnitudes
      -- (bare INT64 multiplication raises in DuckDB, exactly like ANSI
      -- Spark) — mirrored by the Spark side's decimal(38,0) gate
      WHERE CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx > 0
    )
    SELECT d, y AS y_milli, CAST(round(1000000 * zv) AS BIGINT) AS z6,
           CASE WHEN zv < -0.6744897501960817 THEN 'a'
                WHEN zv < 0.0 THEN 'b'
                WHEN zv < 0.6744897501960817 THEN 'c'
                ELSE 'd' END AS sax_letter
    FROM z
    """,
)
def ext_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (alphabet 4) of the daily series: z-score each
    day against the global moments, then bucket at the standard-normal
    quartile breakpoints ±0.6744… — the discretization that turns a
    numeric series into strings so the TEXT machinery (n-gram novelty,
    fingerprinting, Markov transitions) can mine temporal motifs. The
    breakpoint is an EMBEDDED literal, identical on both engines (never
    a per-engine quantile call — the ROADMAP_r9 transcendental rule);
    moments are exact milli-unit integers and the z-score is one shared
    double expression. GATED to zero rows on a constant series (zero
    variance: ANSI raise vs NaN, r8 audit) on both sides.

    Scale: the events→daily reduction is the only corpus pass; the
    z-score joins one broadcast moment row against the calendar-bounded
    series. The variance GATE multiplies in DecimalType(38,0): n·sxx and
    sx² pass 2^63 once daily milli totals reach ~1e8 (seen at sf0.1 —
    the round-10 full-scale sweep caught the ANSI long overflow where
    DuckDB silently promotes to HUGEINT), and a double gate would go
    inexact past 2^53, silently flipping a tiny-but-nonzero variance;
    decimal keeps the comparison exact on both engines."""
    daily = _daily_value_milli(spark, sf_dir)
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sxd = F.col("sx").cast("decimal(38,0)")
    sxxd = F.col("sxx").cast("decimal(38,0)")
    z = daily.join(F.broadcast(s)).filter(
        nd * sxxd - sxd * sxd > 0
    ).select(
        "d",
        "y",
        (
            (F.col("y") - 1.0 * F.col("sx") / F.col("n"))
            / F.sqrt(
                (1.0 * F.col("n") * F.col("sxx") - 1.0 * F.col("sx") * F.col("sx"))
                / (1.0 * F.col("n") * F.col("n"))
            )
        ).alias("zv"),
    )
    bp = 0.6744897501960817
    return z.select(
        "d",
        F.col("y").alias("y_milli"),
        F.round(1000000 * F.col("zv")).cast("long").alias("z6"),
        F.when(F.col("zv") < -bp, "a")
        .when(F.col("zv") < 0.0, "b")
        .when(F.col("zv") < bp, "c")
        .otherwise("d")
        .alias("sax_letter"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive double smoothing (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------


def _daily_value_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-value series in integer micro-units (per-row rounding
    BEFORE the sum — the cross-engine float rule)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("y")
    )


@query(
    "ext_holt_winters_additive",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), cal AS (
      SELECT unnest(generate_series(
               (SELECT min(d) FROM daily),
               (SELECT max(d) FROM daily), INTERVAL 1 DAY)) AS d
    ), series AS (
      SELECT cal.d, coalesce(daily.y, 0) AS y,
             CAST(row_number() OVER (ORDER BY cal.d) AS BIGINT) AS i
      FROM cal LEFT JOIN daily ON cal.d = daily.d
    ), hw AS (
      SELECT i, d, y, y AS lvl, CAST(0 AS BIGINT) AS trend
      FROM series WHERE i = 1
      UNION ALL
      SELECT s.i, s.d, s.y,
             CAST(floor((3 * s.y + 7 * (hw.lvl + hw.trend)) / 10.0) AS BIGINT),
             CAST(floor((1 * (CAST(floor((3 * s.y + 7 * (hw.lvl + hw.trend)) / 10.0) AS BIGINT) - hw.lvl)
                         + 9 * hw.trend) / 10.0) AS BIGINT)
      FROM hw JOIN series s ON s.i = hw.i + 1
    )
    SELECT d, y AS y_micro, lvl AS level_micro, trend AS trend_micro,
           lvl + trend AS forecast_next_micro
    FROM hw ORDER BY d
    """,
)
def ext_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive DOUBLE SMOOTHING (fixed alpha=0.3, beta=0.1)
    over the gap-filled daily series: level and trend update each day,
    one-step forecast = level + trend — the standard capacity-planning /
    anomaly-baseline recurrence. All-integer arithmetic in micro-units
    with explicit floor division keeps both engines bit-identical
    (magnitudes <=1e10 << 2^53; the oracle is a recursive CTE replaying
    the recurrence on the same gap-filled calendar — DuckDB requires
    WITH RECURSIVE to prefix the whole CTE list, vetted r7).

    Scale: the recurrence is sequential BY DEFINITION, but its input is
    the CALENDAR-bounded daily aggregate — <=366 rows/year regardless of
    data scale — so the heavy reduction (events -> daily) runs fully
    distributed and ONE applyInPandas group smooths a provably tiny
    relation. That single group is the documented scale-safety argument
    (same as ext_seasonal_decompose's bounded tail), not an accident.

    Exactness bound: the oracle computes floor(x / 10.0) in DOUBLE, which
    matches Python's integer // 10 only while |x| < 2^49 (x/10.0 must be
    exactly representable below the 2^52 integer-precision cliff with
    headroom for the one inexact quotient ulp). Here x ~ 10*y_micro ~
    5e11 at sf0.1 — about three orders of magnitude inside the bound; a
    deployment summing >~5e13 micro-units/day must scale units down or
    move the oracle to integer division."""
    daily = _daily_value_micro(spark, sf_dir)
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    series = cal.join(daily, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )

    import pandas as pd

    def hw(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d").reset_index(drop=True)
        lvl: list[int] = []
        trend: list[int] = []
        for k, y in enumerate(pdf["y"].astype(int)):
            if k == 0:
                l, b = int(y), 0
            else:
                lp, bp = lvl[-1], trend[-1]
                l = (3 * int(y) + 7 * (lp + bp)) // 10
                b = (1 * (l - lp) + 9 * bp) // 10
            lvl.append(l)
            trend.append(b)
        # applyInPandas must emit the synthetic group-key column (r7 vetting)
        pdf["g"] = 1
        pdf["level_micro"] = pd.Series(lvl, dtype="int64")
        pdf["trend_micro"] = pd.Series(trend, dtype="int64")
        return pdf

    out = series.groupBy(F.lit(1).alias("g")).applyInPandas(
        hw, "g int, d timestamp, y long, level_micro long, trend_micro long"
    )
    return out.select(
        "d",
        F.col("y").alias("y_micro"),
        "level_micro",
        "trend_micro",
        (F.col("level_micro") + F.col("trend_micro")).alias(
            "forecast_next_micro"
        ),
    )


@query(
    "ext_holt_winters_seasonal",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), cal AS (
      SELECT unnest(generate_series(
               (SELECT min(d) FROM daily),
               (SELECT max(d) FROM daily), INTERVAL 1 DAY)) AS d
    ), series AS (
      SELECT cal.d, coalesce(daily.y, 0) AS y,
             CAST(row_number() OVER (ORDER BY cal.d) AS BIGINT) AS i
      FROM cal LEFT JOIN daily ON cal.d = daily.d
    ), hw AS (
      SELECT i, d, y, y AS lvl, CAST(0 AS BIGINT) AS b,
             CAST(0 AS BIGINT) AS seas_used,
             CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
             CAST(0 AS BIGINT) AS s3, CAST(0 AS BIGINT) AS s4,
             CAST(0 AS BIGINT) AS s5, CAST(0 AS BIGINT) AS s6,
             CAST(0 AS BIGINT) AS s7
      FROM series WHERE i = 1
      UNION ALL
      SELECT s.i, s.d, s.y,
             CAST(floor((3 * (s.y - hw.s1) + 7 * (hw.lvl + hw.b)) / 10.0)
                  AS BIGINT) AS lvl,
             CAST(floor((1 * (CAST(floor((3 * (s.y - hw.s1)
                                           + 7 * (hw.lvl + hw.b)) / 10.0)
                              AS BIGINT) - hw.lvl) + 9 * hw.b) / 10.0)
                  AS BIGINT) AS b,
             hw.s1 AS seas_used,
             hw.s2, hw.s3, hw.s4, hw.s5, hw.s6, hw.s7,
             CAST(floor((2 * (s.y - CAST(floor((3 * (s.y - hw.s1)
                                                + 7 * (hw.lvl + hw.b)) / 10.0)
                                        AS BIGINT)) + 8 * hw.s1) / 10.0)
                  AS BIGINT) AS s7
      FROM hw JOIN series s ON s.i = hw.i + 1
    )
    SELECT d, y AS y_micro, lvl AS level_micro, b AS trend_micro,
           seas_used AS seasonal_micro,
           lvl + b + s1 AS forecast_next_micro
    FROM hw ORDER BY d
    """,
)
def ext_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive TRIPLE smoothing (alpha=0.3, beta=0.1,
    gamma=0.2, weekly season) — the seasonal sibling of
    ext_holt_winters_additive: level, trend, AND a 7-slot seasonal
    component update each day; forecast = level + trend + next season
    slot. The capacity-planning recurrence for any weekly-rhythm metric.
    All-integer micro-unit arithmetic with explicit floor division; the
    seasonal state is a 7-slot integer RING carried through the oracle's
    recursive CTE (columns s1..s7, rotating each step) and a plain
    Python list in the pandas group — both engines replay the identical
    recurrence, so the result is bit-exact (the additive key's
    |x| < 2^49 floor-division bound applies unchanged).

    Scale: same argument as the additive sibling — the recurrence is
    sequential by definition, its input the CALENDAR-bounded gap-filled
    daily aggregate (<=366 rows/year at any corpus size); the heavy
    events→daily reduction runs fully distributed and ONE applyInPandas
    group smooths the provably tiny relation."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("y")
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    series = cal.join(daily, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        lvl, trend, seas_used, fc = [], [], [], []
        ring = [0] * 7  # ring[0] applies to the CURRENT step
        for k, yv in enumerate(pdf["y"].astype(int)):
            yv = int(yv)
            if k == 0:
                l, b = yv, 0
                su = 0
            else:
                lp, bp = lvl[-1], trend[-1]
                su = ring[0]
                l = (3 * (yv - su) + 7 * (lp + bp)) // 10
                b = (1 * (l - lp) + 9 * bp) // 10
                s_new = (2 * (yv - l) + 8 * su) // 10
                ring = ring[1:] + [s_new]
            lvl.append(l)
            trend.append(b)
            seas_used.append(su)
            fc.append(l + b + ring[0])
        pdf["g"] = 1
        pdf["level_micro"] = pd.Series(lvl, dtype="int64")
        pdf["trend_micro"] = pd.Series(trend, dtype="int64")
        pdf["seasonal_micro"] = pd.Series(seas_used, dtype="int64")
        pdf["forecast_next_micro"] = pd.Series(fc, dtype="int64")
        return pdf

    out = series.groupBy(F.lit(1).alias("g")).applyInPandas(
        hw,
        "g int, d timestamp, y long, level_micro long, trend_micro long, "
        "seasonal_micro long, forecast_next_micro long",
    )
    return out.select(
        "d",
        F.col("y").alias("y_micro"),
        "level_micro",
        "trend_micro",
        "seasonal_micro",
        "forecast_next_micro",
    )


# ---------------------------------------------------------------------------
# Rolling-median MAD anomaly gate (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------


@query(
    "ext_anomaly_mad_rolling",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), idx AS (
      SELECT d, y, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
      FROM daily
    ), frames AS (
      SELECT a.i, a.d, a.y, b.y AS yb
      FROM idx a JOIN idx b ON b.i BETWEEN a.i - 6 AND a.i
    ), med AS (
      SELECT i, d, y, CAST(2 * median(yb) AS BIGINT) AS med2
      FROM frames GROUP BY i, d, y
    ), mad AS (
      SELECT m.i, m.d, m.y, m.med2,
             CAST(2 * median(abs(2 * f.yb - m.med2)) AS BIGINT) AS mad4
      FROM med m JOIN frames f ON f.i = m.i
      GROUP BY m.i, m.d, m.y, m.med2
    )
    SELECT d, y AS y_micro, med2, mad4,
           (2 * abs(2 * y - med2) > 3 * mad4) AS is_anomaly
    FROM mad WHERE i >= 7 ORDER BY d
    """,
)
def ext_anomaly_mad_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-MEDIAN / MAD anomaly gate over the daily series: each day
    is judged against the median and median-absolute-deviation of its
    trailing 7-day frame — the robust (outlier-immune) alternative to
    z-scores that monitoring pipelines prefer, flagging
    |y - med| > 3·MAD. All-integer exactness via DOUBLED medians:
    2·median of an even-sized integer frame is integer-exact, so med2 =
    2·median(y) and mad4 = 2·median(|2·y − med2|) = 4·MAD carry no
    floats (vetted r7); the nested frame-median (a median OF deviations
    from a median) is what rules out any built-in rolling aggregate.

    Scale: a window frame would serialize on an unpartitioned global
    sort, so the frame is materialized as a BANDED SELF-JOIN instead —
    each row explodes to its 7 (row, offset) members and equi-joins on
    the member index from ``distributed_row_number`` (quantiles.py, no
    global window). The exploded relation is 7× the daily aggregate —
    calendar-bounded (<=366 rows/year), so at 100 TB the frame join is
    a few-KB shuffle riding after the distributed events->daily
    reduction."""
    daily = _daily_value_micro(spark, sf_dir)
    idx = distributed_row_number(daily, ["d"], rn="i")
    a = idx.filter(F.col("i") >= 7).select(
        F.col("i").alias("ai"), F.col("d").alias("d"), F.col("y").alias("y")
    )
    frames = a.select(
        "ai", "d", "y", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).withColumn("bi", F.col("ai") - F.col("off"))
    joined = frames.join(
        idx.select(F.col("i").alias("bi"), F.col("y").alias("yb")), "bi"
    )
    med = joined.groupBy("ai", "d", "y").agg(
        (2 * F.expr("percentile(yb, 0.5)")).cast("long").alias("med2"),
        F.collect_list("yb").alias("frame"),
    )
    mad = (
        med.select("ai", "d", "y", "med2", F.explode("frame").alias("yb"))
        .groupBy("ai", "d", "y", "med2")
        .agg(
            (2 * F.expr("percentile(abs(2 * yb - med2), 0.5)"))
            .cast("long")
            .alias("mad4"),
        )
    )
    return mad.select(
        "d",
        F.col("y").alias("y_micro"),
        "med2",
        "mad4",
        (2 * F.abs(2 * F.col("y") - F.col("med2")) > 3 * F.col("mad4")).alias(
            "is_anomaly"
        ),
    )


# ---------------------------------------------------------------------------
# Weighted median (order statistics over grouped weights)
# ---------------------------------------------------------------------------


@query(
    "ext_weighted_median",
    oracle="""
    WITH pw AS (
      SELECT l_returnflag, l_extendedprice AS p,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wgt
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, p, wgt,
             SUM(wgt) OVER (PARTITION BY l_returnflag ORDER BY p
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(wgt) OVER (PARTITION BY l_returnflag) AS tw
      FROM pw
    )
    SELECT l_returnflag, min(p) AS weighted_median
    FROM cum WHERE 2 * cw >= tw GROUP BY l_returnflag
    """,
)
def ext_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag weighted median of extended price, weighted by (integral)
    quantity — the order statistic a mixture planner actually wants when
    rows carry a size: "the price below which half the QUANTITY sits",
    not "the median row". Exact by construction: weights collapse onto
    DISTINCT (flag, price) pairs first (map-side combinable groupBy),
    then one partitioned cumulative sum finds the first price whose
    cumulative weight reaches half the total. All weights are int64 sums
    of rounded quantities, so no float order-dependence anywhere.

    Scale: the cumulative window runs over distinct (l_returnflag,
    l_extendedprice) PAIRS, not corpus rows — bounded by the price value
    domain (~1M distinct in TPC-H at any SF), the same value-domain
    bound as ext_equidepth_histogram's; corpus growth only fattens the
    int64 weights in the upstream aggregate. The window is partitioned
    (by flag), so the unpartitioned-window guardrail stays at zero hits;
    if a value domain were ever unbounded, the quantiles.py two-level
    prefix sum is the drop-in replacement (see distributed_running_sum).

    NULL (value, weight) pairs excluded in lockstep (LATTICE_AUDIT_r15:
    the r14 order-statistics rule applied to the WEIGHTED median): a NULL
    price is an order key — Spark sorts it FIRST, DuckDB LAST, shifting
    every cumulative weight in the group — and a NULL weight poisons the
    running sum differently under each ordering. A pair with an unknown
    value or unknown weight cannot participate in a weighted order
    statistic.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    pw = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("p")).agg(
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("wgt")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    cum = pw.select(
        "l_returnflag",
        "p",
        F.sum("wgt").over(wcum).alias("cw"),
        F.sum("wgt").over(wall).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("p").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# Energy distance between two embedding clouds (two-sample test)
# ---------------------------------------------------------------------------

_ED_D6_SQL = """CAST(round(1000000 * sqrt(list_sum(list_transform(
             range(1, len(a.embedding) + 1),
             i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                  * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))))
           AS BIGINT)"""


@query(
    "ext_energy_distance",
    oracle=f"""
    WITH x AS (SELECT vec_id, embedding FROM embeddings
               WHERE label = 0 AND len(embedding) = {_EMB_DIM}),
         y AS (SELECT vec_id, embedding FROM embeddings
               WHERE label = 1 AND len(embedding) = {_EMB_DIM}),
    dxy AS (
      SELECT {_ED_D6_SQL} AS d6 FROM x a JOIN y b ON true
    ), dxx AS (
      SELECT {_ED_D6_SQL} AS d6 FROM x a JOIN x b ON a.vec_id < b.vec_id
    ), dyy AS (
      SELECT {_ED_D6_SQL} AS d6 FROM y a JOIN y b ON a.vec_id < b.vec_id
    ), s AS (
      SELECT (SELECT CAST(SUM(d6) AS BIGINT) FROM dxy) AS sxy,
             (SELECT CAST(count(*) AS BIGINT) FROM dxy) AS nxy,
             (SELECT CAST(SUM(d6) AS BIGINT) FROM dxx) AS sxx,
             (SELECT CAST(count(*) AS BIGINT) FROM dxx) AS nxx,
             (SELECT CAST(SUM(d6) AS BIGINT) FROM dyy) AS syy,
             (SELECT CAST(count(*) AS BIGINT) FROM dyy) AS nyy
    )
    SELECT nxy, nxx, nyy,
           CAST(round(2.0 * sxy / nxy - 1.0 * sxx / nxx - 1.0 * syy / nyy)
                AS BIGINT) AS energy6
    FROM s
    """,
)
def ext_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the label-0 and label-1 embedding clouds:
    E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖ — the multivariate two-sample test
    that, unlike the per-coordinate KS/Wasserstein keys, sees JOINT
    distribution shift (a rotated cloud with identical marginals). Zero
    iff the distributions match, so it is the drift gate for "did this
    source's embedding distribution move between snapshots".

    Exactness: every pairwise Euclidean distance is rounded to an int64
    micro-unit (the fold runs over the FIXED array order on both
    engines), the three sums are exact integer aggregates, and only the
    final 3-term combination of six exact scalars runs in doubles — one
    shared-operand expression, identical both sides. A label class with
    fewer than 2 members yields NULL on BOTH engines (the SUM over its
    zero pair rows is NULL and propagates through the final expression;
    the division never evaluates a 0/0) — matching by construction, no
    gate needed (r8 degenerate audit; wording corrected per the r10
    ADVICE: the agreement is NULL-propagation, not a NaN).

    Scale: the pairwise base is all-pairs BETWEEN the two bounded clouds
    — at corpus scale the estimator runs on fixed-size per-class random
    samples (energy distance is a V-statistic; a 10^4-row sample pins
    the estimate far tighter than any drift threshold), so the quadratic
    term is bounded by the SAMPLE size, never the corpus: the same
    declared-baseline shape as ext_knn_cosine. The three sums are
    map-side-combinable; the final combine is a 1-row broadcast join.

    Width gate (Family W, RAGGED_AUDIT_r13.md): an off-width vector is
    quarantined from BOTH clouds on BOTH sides — the oracle's
    fixed-range fold list_sum-SKIPS the NULL terms of a ragged pair (a
    partial, wrong distance) while Spark's zip_with fold goes NULL (a
    dropped distance still counted by nxy) — the lockstep
    len = EMB_DIM gate removes the broken encode from the sample
    instead, the same choice the retrieval family's scorable gate
    makes. NULL embeddings (len NULL) leave under the same condition."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == _EMB_DIM
    )
    x = emb.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("xi"), F.col("embedding").alias("ex")
    )
    y = emb.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("yi"), F.col("embedding").alias("ey")
    )

    def d6(ea, eb):
        diff2 = F.aggregate(
            F.zip_with(
                ea,
                eb,
                lambda p, q: (p.cast("double") - q.cast("double"))
                * (p.cast("double") - q.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.round(1000000 * F.sqrt(diff2)).cast("long")

    dxy = x.join(y).select(d6(F.col("ex"), F.col("ey")).alias("d6"))
    x2 = x.select(F.col("xi").alias("xj"), F.col("ex").alias("ex2"))
    dxx = x.join(x2, F.col("xi") < F.col("xj")).select(
        d6(F.col("ex"), F.col("ex2")).alias("d6")
    )
    y2 = y.select(F.col("yi").alias("yj"), F.col("ey").alias("ey2"))
    dyy = y.join(y2, F.col("yi") < F.col("yj")).select(
        d6(F.col("ey"), F.col("ey2")).alias("d6")
    )

    def s(df, sn, nn):
        return df.agg(
            F.sum("d6").cast("long").alias(sn),
            F.count(F.lit(1)).cast("long").alias(nn),
        )

    joined = (
        s(dxy, "sxy", "nxy")
        .join(F.broadcast(s(dxx, "sxx", "nxx")))
        .join(F.broadcast(s(dyy, "syy", "nyy")))
    )
    return joined.select(
        "nxy",
        "nxx",
        "nyy",
        F.round(
            2.0 * F.col("sxy") / F.col("nxy")
            - 1.0 * F.col("sxx") / F.col("nxx")
            - 1.0 * F.col("syy") / F.col("nyy")
        )
        .cast("long")
        .alias("energy6"),
    )
