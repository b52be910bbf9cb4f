"""Dataset-curation operators: selection, sharding, budgeting.

The ops that turn a cleaned corpus into a TRAINING SET: importance-based
selection toward a target distribution (DSIR), deterministic shard
manifests for the dataloader, and token-budget trimming per language.
Complements extensions/text.py (cleaning/scoring) and extensions/dedup.py
(dedup) — this is the last mile before tokenization.

All scoring follows the integer-scaled-log pattern (text.py
ext_unigram_logprob): per-token terms rounded to 1e-6 and summed as int64,
so results are partition-order-independent and oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import distributed_ntile
from ..registry import query
from ..tables import load

_DSIR_TOP = 100


@query(
    "ext_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), t AS (SELECT doc_id, lang, w FROM tok WHERE length(w) > 0),
    vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cs,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
      FROM t GROUP BY w
    ), totals AS (
      SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM vocab
    ), scored AS (
      SELECT t.doc_id,
             CAST(round((ln(CAST(vocab.ct AS DOUBLE) / nt)
                         - ln(CAST(vocab.cs AS DOUBLE) / ns)) * 1e6)
                  AS BIGINT) AS lr6
      FROM t JOIN vocab USING (w), totals
      WHERE vocab.ct > 0
    ), per_doc AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(count(s.lr6), 0) AS BIGINT) AS n_scored_tokens,
             CAST(coalesce(SUM(s.lr6), 0) AS BIGINT) AS weight6
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_scored_tokens,
           weight6 / 1e6 AS log_ratio,
           row_number() OVER (ORDER BY weight6 DESC, doc_id)
             <= {_DSIR_TOP} AS selected
    FROM per_doc
    """,
)
def ext_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al.): each document scores
    sum over tokens of ln p_target(w) − ln p_source(w) under unigram LMs
    (target = the English slice, source = the whole corpus); the top-N by
    weight are the documents importance RESAMPLING would draw first.
    Tokens outside the target vocabulary contribute nothing (both engines
    inner-join the target LM), and every per-token log-ratio is rounded to
    1e-6 and summed as int64 — order-independent, oracle-exact.

    Scale: two vocab aggregations + one fact join (vocab broadcast here,
    shuffle at web scale); selection is a single top-N. The n-gram-hash
    feature space of the paper swaps in for words with no shape change."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    # ONE aggregation computes both LMs (source count + target-filtered
    # count per token) — the token stream shuffles once, not twice
    vocab = t.groupBy("w").agg(
        F.count(F.lit(1)).alias("cs"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
    )
    totals = vocab.agg(F.sum("ct").alias("nt"), F.sum("cs").alias("ns"))
    lr6 = F.round(
        (
            F.log(F.col("ct").cast("double") / F.col("nt"))
            - F.log(F.col("cs").cast("double") / F.col("ns"))
        )
        * F.lit(1e6)
    ).cast("long")
    scored = (
        t.join(F.broadcast(vocab.filter(F.col("ct") > 0)), "w")
        .join(F.broadcast(totals))
        .select("doc_id", lr6.alias("lr6"))
    )
    per_doc = (
        docs.select("doc_id", "lang")
        .join(
            scored.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_scored_tokens"),
                F.sum("lr6").alias("weight6"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_scored_tokens", F.lit(0)).alias("n_scored_tokens"),
            F.coalesce("weight6", F.lit(0)).alias("weight6"),
        )
    )
    # selection WITHOUT a corpus-wide rank window: take the top-N boundary
    # row (TakeOrdered, k-row merge), broadcast it, and flag each doc by
    # sort-key comparison — same result as row_number() <= N, but the
    # corpus never funnels into a single window partition.
    # cached: without it, 0.67 → 0.79 s at sf0.01 and 0.80 → 0.86 s at sf0.1
    per_doc = per_doc.cache()
    cut = (
        per_doc.orderBy(F.col("weight6").desc(), "doc_id")
        .limit(_DSIR_TOP)
        .orderBy(F.col("weight6").asc(), F.col("doc_id").desc())
        .limit(1)
        .select(
            F.col("weight6").alias("cut_w"), F.col("doc_id").alias("cut_id")
        )
    )
    return per_doc.join(F.broadcast(cut)).select(
        "doc_id",
        "lang",
        "n_scored_tokens",
        (F.col("weight6") / F.lit(1e6)).alias("log_ratio"),
        (
            (F.col("weight6") > F.col("cut_w"))
            | (
                (F.col("weight6") == F.col("cut_w"))
                & (F.col("doc_id") <= F.col("cut_id"))
            )
        ).alias("selected"),
    )


_SHARD_A = 2654435761
_SHARD_M = 2_147_483_647
_N_SHARDS = 16


@query(
    "ext_shard_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT (doc_id * {_SHARD_A} + 987654321) % {_SHARD_M} % {_N_SHARDS}
               AS shard,
             doc_id, n_chars,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END AS n_tokens
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(SUM(doc_id * doc_id % {_SHARD_M}) % {_SHARD_M} AS BIGINT)
             AS content_check
    FROM assigned GROUP BY shard
    """,
)
def ext_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataloader shard manifest: documents hash-assigned to
    {_N_SHARDS} shards (multiplicative hash on doc_id — stable across
    reruns and cluster sizes, unlike round-robin), with the per-shard
    accounting a training job reads before it opens a single file: doc and
    token and char totals, id range, and an order-independent content
    checksum (modular sum of id squares) that catches a dropped or
    double-counted document at manifest-diff time.

    Scale: one shuffle on the shard key — the same shuffle the subsequent
    partitioned write does anyway, so the manifest is free at write time;
    16 output rows regardless of corpus size."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    assigned = docs.select(
        ((F.col("doc_id") * _SHARD_A + 987654321) % _SHARD_M % _N_SHARDS).alias(
            "shard"
        ),
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
    )
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        (F.sum(F.col("doc_id") * F.col("doc_id") % _SHARD_M) % _SHARD_M).alias(
            "content_check"
        ),
    )


_BUDGET_TOKENS = 5000  # per-language token budget


@query(
    "ext_token_budget_trim",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {_BUDGET_TOKENS}
    """,
)
def ext_token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget trimming: keep documents per language, in stable
    doc_id order, until the language's cumulative token count reaches the
    budget ({_BUDGET_TOKENS} here) — the deterministic version of "take
    the first N tokens of each language" that makes reruns reproduce the
    identical training set. The running total is one window per language.

    Scale: the cumulative sum shuffles once on lang; at very high doc
    counts per language the window serializes per key, so the production
    variant first block-aggregates per (lang, doc_id bucket) and prefixes
    over bucket subtotals — same cutoff, two small passes."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    t = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


_TEMP_NUM6 = 1_000_000  # probabilities reported at 1e-6 resolution


@query(
    "ext_temperature_mixture",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), weighted AS (
      -- integer-scaled weight: SUM over doubles is accumulation-order
      -- dependent (Spark partial agg vs DuckDB sequential); summing
      -- bigints is not, so the normalizer is bit-identical on both sides
      SELECT lang, n_docs, n_tokens,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS w6
      FROM counts
    )
    SELECT lang, n_docs, n_tokens,
           CAST(round(CAST(w6 AS DOUBLE)
                      / CAST((SELECT SUM(w6) FROM weighted) AS DOUBLE)
                      * 1e6) AS BIGINT)
             AS sample_prob6
    FROM weighted
    """,
)
def ext_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (the multilingual-LM mixture
    rule, T=2 i.e. p_l ∝ n_l^(1/2)): raw token counts per language are
    exponentiated toward uniform so low-resource languages are upsampled
    relative to their share. sqrt is IEEE correctly-rounded, so both
    engines produce identical doubles; the probability is reported as an
    integer at 1e-6 (the value a weighted sampler would consume).

    Scale: one aggregation to counts (#languages rows), arithmetic on the
    driver-sized result — the corpus is touched once regardless of size."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    counts = docs.select("lang", n_tokens.alias("nt")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens")
    )
    # weight scaled to an int64 at 1e-6 before summing: the normalizer is
    # then an integer SUM (order-independent), so the final probability is
    # one correctly-rounded double divide on identical operands — no
    # accumulation-order ulp risk across engines
    weighted = counts.withColumn(
        "w6",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * _TEMP_NUM6).cast(
            "long"
        ),
    )
    tot = weighted.agg(F.sum("w6").alias("tw6"))
    return weighted.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("w6").cast("double") / F.col("tw6").cast("double") * _TEMP_NUM6
        )
        .cast("long")
        .alias("sample_prob6"),
    )


@query(
    "ext_sentence_segmentation",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, '. '), 1) AS sent_idx,
             unnest(string_split(text, '. ')) AS sentence
      FROM documents
    )
    SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, sentence,
           CAST(length(sentence) AS BIGINT) AS n_chars
    FROM s WHERE length(sentence) > 0
    """,
)
def ext_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation: split each document on the '. ' boundary
    into indexed sentences with lengths — the unit most quality filters,
    dedup shinglers, and seq2seq chunkers actually operate on (a literal
    delimiter keeps both engines' split semantics identical; a real
    segmenter swaps in behind the same explode shape).

    Scale: pure per-row explode — no shuffle at all; output order is
    (doc_id, sent_idx), reconstructible downstream."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", "\\. ")).alias("idx0", "sentence"),
        )
        .filter(F.length("sentence") > 0)
        .select(
            "doc_id",
            (F.col("idx0") + 1).cast("long").alias("sent_idx"),
            "sentence",
            F.length("sentence").cast("long").alias("n_chars"),
        )
    )


_KN_D = 0.75  # absolute-discount mass
_KN_TOP = 20


@query(
    "ext_kneser_ney_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(0, len(toks) - 1),
                    i -> toks[i + 1])) AS w1,
             unnest(list_transform(range(0, len(toks) - 1),
                    i -> toks[i + 2])) AS w2
      FROM t
    ), bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
      FROM pairs GROUP BY w1, w2
    ), left_stats AS (
      SELECT w1, CAST(SUM(cxy) AS BIGINT) AS cleft,
             CAST(count(*) AS BIGINT) AS n1l
      FROM bc GROUP BY w1
    ), right_stats AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM bc GROUP BY w2
    ), b AS (
      SELECT CAST(count(*) AS BIGINT) AS bt FROM bc
    )
    SELECT w1 || ' ' || w2 AS bigram, cxy, cleft, n1l, n1r,
           CAST(round(((cxy - {_KN_D}) / cleft
                       + {_KN_D} * n1l / cleft * n1r / bt) * 1e6) AS BIGINT)
             AS pkn6
    FROM bc JOIN left_stats USING (w1) JOIN right_stats USING (w2), b
    ORDER BY cxy DESC, w1, w2 LIMIT {_KN_TOP}
    """,
)
def ext_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram estimation — the smoothing that made
    n-gram LMs work, and the statistic KenLM-style perplexity filters are
    built on: P(w2|w1) = max(c−d,0)/c(w1·) + d·N1+(w1·)/c(w1·) ·
    N1+(·w2)/|bigram types|, with the continuation count N1+(·w2)
    replacing the raw unigram (the "San Francisco" insight: 'Francisco' is
    frequent but follows almost nothing). All inputs are exact integer
    counts; the probability is one fixed-order float expression both
    engines evaluate identically, reported in micro-units for the top
    bigrams.

    Scale: one bigram count (the only token-stream shuffle) and two
    aggregations OVER the bigram-type table (much smaller); type-table
    statistics broadcast back. Higher orders chain the same shape."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("toks"))
    # Adjacent pairs via two aligned slices zipped — NOT
    # sequence(1, size-1) + element_at: on a single-token document that
    # sequence is the DESCENDING [1, 0] (Spark's sequence runs backwards
    # when stop < start), so element_at hits index 0 and the OOB index 2
    # and raises under ANSI where the oracle's range(0, len-1) is simply
    # empty (RAGGED_AUDIT_r13.md Family T). Both slices are empty for
    # size < 2.
    n_pairs = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, n_pairs),
                F.slice("toks", 2, n_pairs),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # Lazy localCheckpoint (r16): bc is the bigram TYPE table —
    # vocab²-bounded, tiny relative to the corpus — with FOUR consumers
    # (the main stream, left_stats, right_stats, bt). Without it, column
    # pruning SPECIALIZES each consumer's copy of the aggregation
    # (right_stats drops cxy, bt collapses to a bare distinct), so the
    # four exchanges are not canonically identical and neither static
    # ReuseExchange nor AQE stage reuse bridges them — the full
    # token-stream explode + shuffle ran up to four times (verified in
    # plans/r16/ext_kneser_ney_bigrams_before.txt nodes 7/16/31/48). The
    # checkpoint materializes the type table once and every consumer
    # aggregates the tiny LogicalRDD.
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .localCheckpoint(eager=False)
    )
    left_stats = bc.groupBy("w1").agg(
        F.sum("cxy").alias("cleft"), F.count(F.lit(1)).alias("n1l")
    )
    right_stats = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1r"))
    bt = bc.agg(F.count(F.lit(1)).alias("bt"))
    pkn6 = F.round(
        (
            (F.col("cxy") - F.lit(_KN_D)) / F.col("cleft")
            + F.lit(_KN_D)
            * F.col("n1l")
            / F.col("cleft")
            * F.col("n1r")
            / F.col("bt")
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        bc.join(F.broadcast(left_stats), "w1")
        .join(F.broadcast(right_stats), "w2")
        .join(F.broadcast(bt))
        .orderBy(F.col("cxy").desc(), "w1", "w2")
        .limit(_KN_TOP)
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "cxy",
            "cleft",
            "n1l",
            "n1r",
            pkn6.alias("pkn6"),
        )
    )


@query(
    "ext_dataset_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END AS n_tokens,
             md5(text) AS h
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
           CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) // count(*) AS BIGINT) AS mean_tokens_floor
    FROM t
    """,
)
def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card, one row: the header block of a corpus release —
    document/token/char totals, language and source cardinalities, exact-
    duplicate rate (via md5 text digests, the same engine-native digest
    both DuckDB and Spark expose), and token-length extremes. Everything a
    consumer checks before training lands in one aggregate.

    Scale: one scan; the distinct counts are the only shuffled state
    (count(DISTINCT) expands to per-key partials — for a 100 TB card,
    swap ext_hll_union sketches in per shard and merge)."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("h").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.expr("sum(n_tokens) DIV count(*)").alias("mean_tokens_floor"),
    )


# Benford expected first-digit shares in permille, precomputed as literals
# so neither engine computes a log at query time.
_BENFORD_PM = {1: 301, 2: 176, 3: 125, 4: 97, 5: 79, 6: 67, 7: 58, 8: 51, 9: 46}


def _benford_case(col: str) -> str:
    return (
        "CASE " + " ".join(f"WHEN {col} = {d} THEN {pm}" for d, pm in _BENFORD_PM.items()) + " END"
    )


@query(
    "ext_benford_audit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ), c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), t AS (SELECT SUM(n) AS total FROM c)
    SELECT digit, n,
           CAST(n * 1000 // total AS BIGINT) AS observed_pm,
           CAST({_benford_case('digit')} AS BIGINT) AS benford_pm,
           CAST(n * 1000 // total - {_benford_case('digit')} AS BIGINT)
             AS deviation_pm
    FROM c, t
    """,
)
def ext_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    synthetic-data / fraud / corruption smoke test: natural multi-scale
    amounts follow P(d) = log10(1+1/d), and a generator or a broken
    ingest that doesn't shows up as permille deviations here (TPC-H's
    uniform pricing is exactly such a generator — the audit DETECTS it).
    First digits come from exact integer-cents string prefixes (no float
    formatting), expected shares are precomputed literals, and the
    observed share is integer permille — fully oracle-exact.

    Scale: one 9-bucket aggregate over the scan; the audit costs one pass
    regardless of table size."""
    o = load(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    benford = F.coalesce(
        *[
            F.when(F.col("digit") == dd, F.lit(pm))
            for dd, pm in _BENFORD_PM.items()
        ]
    )
    return c.join(F.broadcast(t)).select(
        "digit",
        "n",
        F.expr("n * 1000 DIV total").alias("observed_pm"),
        benford.cast("long").alias("benford_pm"),
        (F.expr("n * 1000 DIV total") - benford).cast("long").alias(
            "deviation_pm"
        ),
    )


_NEG_TOP = 25


@query(
    "ext_negative_sampling_table",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), c AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE length(w) > 0 GROUP BY w
    ), p AS (
      -- integer-scaled weight: double SUM is accumulation-order dependent
      -- across engines; bigint SUM is exact, so z6 is bit-identical
      SELECT w, n,
             CAST(round(power(CAST(n AS DOUBLE), 0.75) * 1e6) AS BIGINT)
               AS u6
      FROM c
    ), t AS (SELECT SUM(u6) AS z6 FROM p)
    SELECT w AS word, n,
           CAST(round(CAST(u6 AS DOUBLE) / CAST(z6 AS DOUBLE) * 1e6)
                AS BIGINT) AS noise_prob6
    FROM p, t
    ORDER BY n DESC, w LIMIT {_NEG_TOP}
    """,
)
def ext_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling noise distribution: P(w) ∝ count(w)^0.75
    — the 3/4-power flattening that makes frequent words slightly less
    dominant as negatives (Mikolov et al.). One vocabulary count, one
    power, one normalize; probabilities reported in micro-units for the
    top {_NEG_TOP} tokens. power(n, 0.75) is a single libm call on the
    identical double in both engines, and the only float rounding is the
    final micro-unit report.

    Scale: the table is vocabulary-sized (shuffle on token), the
    normalizer is a 1-row broadcast — the sampler itself then consumes
    the cumulative table via binary search, off-engine."""
    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # integer-scaled weights (see ext_temperature_mixture): the normalizer
    # is an exact bigint SUM, so no accumulation-order ulp risk
    p = c.withColumn(
        "u6",
        F.round(F.pow(F.col("n").cast("double"), F.lit(0.75)) * 1e6).cast(
            "long"
        ),
    )
    t = p.agg(F.sum("u6").alias("z6"))
    return (
        p.join(F.broadcast(t))
        .select(
            F.col("w").alias("word"),
            "n",
            F.round(
                F.col("u6").cast("double") / F.col("z6").cast("double") * 1e6
            )
            .cast("long")
            .alias("noise_prob6"),
        )
        .orderBy(F.col("n").desc(), "word")
        .limit(_NEG_TOP)
    )


@query(
    "ext_dataset_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ), v2 AS (
      -- simulated next release: drop %17 docs, modify %13 texts, append
      -- a re-ingested shard with shifted ids for %19 docs
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN md5(text || ' [rev2]')
                  ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 19 = 0
    ), joined AS (
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v1.h <> v2.h THEN 'modified'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n
    FROM joined GROUP BY status
    """,
)
def ext_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-release diff: two corpus versions compared by key and
    content digest into added / removed / modified / unchanged counts —
    the review gate between dataset releases (a diff that says
    'modified: 40000' when the changelog says 'metadata-only' blocks the
    release). The v2 side is synthesized deterministically (drops, edits,
    and a shifted-id re-ingest) so the diff logic itself is what's under
    test; digests are md5, identical in both engines.

    Scale: one full-outer join on the key with digest comparison — the
    content never moves, only (key, 16-byte hash); at 100 TB this is the
    cheapest possible two-version comparison."""
    docs = load(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.md5(F.concat(F.col("text"), F.lit(" [rev2]"))),
            )
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("h"),
            )
        )
    )
    joined = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.doc_id") == F.col("v2.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("v2.doc_id").isNull(), "removed")
        .when(F.col("v1.doc_id").isNull(), "added")
        .when(F.col("v1.h") != F.col("v2.h"), "modified")
        .otherwise("unchanged")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )


_KPG = 20  # sample size per language


@query(
    "ext_sample_k_per_group",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             (doc_id * 2654435761 + 40503) % 2147483647 AS hv
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
               AS rk
      FROM h
    ) WHERE rk <= {_KPG}
    """,
)
def ext_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sampling without replacement: exactly
    {_KPG} documents per language, chosen by multiplicative-hash rank —
    the distributed, rerun-stable equivalent of per-group reservoir
    sampling (same marginal uniformity, but deterministic and mergeable:
    two runs agree, and a shard's top-k by hash IS the global sample
    restricted to that shard, so samples compose by rank-merge).
    Complements ext_stratified_sample's rate-based draw with the exact-k
    contract evaluation sets need.

    Scale: one hash (map-side) + one per-group top-k — rank via window
    here; at extreme group sizes the same top-k runs as a partial
    per-partition heap then merge, which is what TakeOrderedAndProject
    already does for the global case."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "lang",
        ((F.col("doc_id") * 2654435761 + 40503) % 2147483647).alias("hv"),
    )
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        h.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _KPG)
        .select("doc_id", "lang", "rk")
    )


@query(
    "ext_mad_outliers",
    oracle="""
    WITH med AS (
      -- floor(): DuckDB's CAST(double AS BIGINT) rounds-half-up while
      -- Spark's .cast('long') truncates; values are non-negative so
      -- floor == truncation and both engines agree at a .5 median.
      SELECT CAST(floor(median(n_chars)) AS BIGINT) AS m FROM documents
    ), dev AS (
      SELECT doc_id, n_chars, abs(n_chars - med.m) AS ad, med.m
      FROM documents, med
    ), mad AS (
      SELECT CAST(floor(median(ad)) AS BIGINT) AS mad FROM dev
    )
    SELECT doc_id, n_chars, median_chars, mad_chars, abs_dev, is_outlier
    FROM (
      SELECT dev.doc_id, dev.n_chars, CAST(dev.m AS BIGINT) AS median_chars,
             CAST(mad.mad AS BIGINT) AS mad_chars,
             CAST(dev.ad AS BIGINT) AS abs_dev,
             dev.ad > 3 * mad.mad AS is_outlier
      FROM dev, mad
    )
    ORDER BY abs_dev DESC, doc_id LIMIT 20
    """,
)
def ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate via median absolute deviation: documents whose
    length deviates from the corpus median by more than 3x the MAD — the
    estimator that, unlike ext_length_outliers' mean/sigma gate, is NOT
    dragged by the very outliers it hunts (one 10 MB document shifts a
    mean; it cannot shift a median). Medians are exact (F.median over
    int64), deviations are integers, so the flagged set is deterministic.

    Scale: two exact-median passes (swap for percentile_approx at extreme
    cardinality, same contract) and one broadcast of two scalars."""
    docs = load(spark, sf_dir, "documents")
    med = docs.agg(F.median("n_chars").cast("long").alias("m"))
    dev = docs.join(F.broadcast(med)).select(
        "doc_id",
        "n_chars",
        F.abs(F.col("n_chars") - F.col("m")).alias("ad"),
        "m",
    )
    mad = dev.agg(F.median("ad").cast("long").alias("mad"))
    # top-20 by deviation with the outlier FLAG rather than a filter: on a
    # well-behaved fixture the >3·MAD set is empty, which would leave the
    # key's oracle checking nothing — the ranked report stays non-trivial
    # on every fixture vintage
    return (
        dev.join(F.broadcast(mad))
        .select(
            "doc_id",
            "n_chars",
            F.col("m").alias("median_chars"),
            F.col("mad").alias("mad_chars"),
            F.col("ad").alias("abs_dev"),
            (F.col("ad") > 3 * F.col("mad")).alias("is_outlier"),
        )
        .orderBy(F.col("abs_dev").desc(), "doc_id")
        .limit(20)
    )


_EPOCHS = (0, 1)


@query(
    "ext_epoch_shuffle_plan",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, t.epoch,
             (doc_id * 2654435761 + t.epoch * 97003 + 12289)
               % 2147483647 AS hv
      FROM documents, (SELECT unnest([0, 1]) AS epoch) t
    )
    SELECT epoch, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch ORDER BY hv, doc_id)
                AS BIGINT) AS position
    FROM e
    WHERE doc_id < 50
    """,
)
def ext_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic shuffle plan: each training epoch orders
    the corpus by hash(doc_id, epoch) — a DIFFERENT permutation every
    epoch (the mixing training needs) that any worker can recompute from
    (doc_id, epoch) alone (the reproducibility training also needs — no
    shared shuffle state, no RNG checkpoint). Emitted for the first 50
    docs across two epochs so the oracle pins both permutations.

    Scale: the 'shuffle' is a rank over a hash — data never moves; the
    dataloader reads positions, not rows, and at shard granularity the
    same hash orders shards within an epoch."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    e = docs.select("doc_id").join(
        F.broadcast(
            spark.createDataFrame([(e,) for e in _EPOCHS], "epoch INT")
        )
    ).select(
        "epoch",
        "doc_id",
        (
            (F.col("doc_id") * 2654435761 + F.col("epoch") * 97003 + 12289)
            % 2147483647
        ).alias("hv"),
    )
    w = Window.partitionBy("epoch").orderBy("hv", "doc_id")
    return e.select(
        "epoch", "doc_id", F.row_number().over(w).cast("long").alias("position")
    )


_CURVE_PCTS = (10, 30, 100)


@query(
    "ext_learning_curve_subsets",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END AS n_tokens,
             (doc_id * 2654435761 + 54321) % 2147483647 % 100 AS bucket
      FROM documents
    )
    SELECT t.pct,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM h, (SELECT unnest([10, 30, 100]) AS pct) t
    WHERE h.bucket < t.pct
    GROUP BY t.pct
    """,
)
def ext_learning_curve_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED learning-curve subsets: 10% / 30% / 100% slices drawn by one
    hash against rising thresholds, so every smaller subset is contained
    in every larger one — the property that makes scaling-law points
    comparable (the 30% run trains on a superset of the 10% run's data,
    never a resample). Reports docs and tokens per slice.

    Scale: one hash per row evaluated against each threshold — a single
    scan; the subsets are views (filters), never materialized copies."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    h = docs.select(
        n_tokens.alias("n_tokens"),
        ((F.col("doc_id") * 2654435761 + 54321) % 2147483647 % 100).alias(
            "bucket"
        ),
    )
    pcts = spark.createDataFrame([(p,) for p in _CURVE_PCTS], "pct INT")
    return (
        h.join(F.broadcast(pcts), h.bucket < pcts.pct)
        .groupBy("pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


_RING_M = 2_147_483_647
_RING_NODES_BEFORE = 4
_RING_NODES_AFTER = 5


def _ring_assign_sql(n_nodes: int) -> str:
    """Packed argmin over clockwise ring distance to each node point."""
    return f"""(
      SELECT min(((nh - dh) % {_RING_M} + {_RING_M}) % {_RING_M} * 8 + node)
      FROM (SELECT t.node,
                   (t.node * 48271 + 11) % {_RING_M} AS nh
            FROM range(0, {n_nodes}) t(node))
    ) % 8"""


@query(
    "ext_consistent_hash_ring",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             (doc_id * 2654435761 + 97) % {_RING_M} AS dh
      FROM documents
    ), assigned AS (
      SELECT doc_id,
             {_ring_assign_sql(_RING_NODES_BEFORE)} AS node_before,
             {_ring_assign_sql(_RING_NODES_AFTER)} AS node_after
      FROM d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE node_before <> node_after) AS BIGINT)
             AS n_moved,
           CAST(count(*) FILTER (WHERE node_before <> node_after)
                * 1000000 // count(*) AS BIGINT) AS moved_share6
    FROM assigned
    """,
)
def ext_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing ring rebalance: documents assigned to the node
    with the smallest clockwise ring distance, under {_RING_NODES_BEFORE}
    nodes and again after adding one — the moved fraction should sit near
    1/{_RING_NODES_AFTER} (the consistent-hashing guarantee; naive
    mod-N sharding would move ~{_RING_NODES_AFTER - 1}/{_RING_NODES_AFTER}
    of all keys). This is the placement math behind shard maps, cache
    tiers, and state-store scale-out, measured rather than asserted.
    Packed-integer argmin, exact throughout.

    An empty corpus still emits the one global-aggregate row with
    count(*) = 0: ANSI Spark's ``div`` would raise DIVIDE_BY_ZERO on the
    moved share where DuckDB's ``//`` yields NULL — the divisor is
    wrapped in nullif(.., 0) (x div NULL propagates NULL;
    EMPTY_AUDIT_r9.md Family E4, oracle untouched).

    Scale: pure per-row arithmetic against a broadcast node list — the
    rebalance PLAN for a trillion keys costs one scan."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", ((F.col("doc_id") * 2654435761 + 97) % _RING_M).alias("dh")
    )

    def assign(n_nodes: int):
        terms = [
            (
                ((F.lit((node * 48271 + 11) % _RING_M) - F.col("dh")) % _RING_M
                 + _RING_M) % _RING_M * 8 + node
            )
            for node in range(n_nodes)
        ]
        return (F.least(*terms) % 8)

    assigned = d.select(
        "doc_id",
        assign(_RING_NODES_BEFORE).alias("node_before"),
        assign(_RING_NODES_AFTER).alias("node_after"),
    )
    moved = F.count(F.when(F.col("node_before") != F.col("node_after"), 1))
    return assigned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        moved.alias("n_moved"),
        F.expr(
            "count(CASE WHEN node_before <> node_after THEN 1 END)"
            " * 1000000 DIV nullif(count(*), 0)"
        ).alias("moved_share6"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

KANON_K = 5


@query(
    "ext_kanonymity_audit",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           count(*) < {KANON_K} AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def ext_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair
    (nation, market segment): equivalence-class sizes, with classes
    smaller than k={KANON_K} flagged — the groups whose members a linkage
    attack can single out, and exactly what a privacy review asks for
    before customer attributes are released into a training set (the fix
    is then generalization or suppression of the flagged classes).

    Scale: one hash aggregation on the quasi-identifier tuple — group
    count is bounded by the QI domain product, not the row count."""
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_n"),
        (F.count(F.lit(1)) < KANON_K).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit (the k-anonymity companion)
# ---------------------------------------------------------------------------

LDIV_L = 3


@query(
    "ext_l_diversity_audit",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
                AS BIGINT) AS l_distinct,
           count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) < {LDIV_L}
             AS at_risk
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def ext_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the same quasi-identifier pair as
    ext_kanonymity_audit (nation, market segment), against the bucketed
    sensitive attribute floor(acctbal/2000): an equivalence class is
    at risk when it carries fewer than l={LDIV_L} DISTINCT sensitive
    values — the homogeneity attack k-anonymity alone cannot see (a
    class can be large yet reveal every member's balance bracket).
    The k-anonymity + l-diversity pair is the standard release gate.

    Scale: one hash aggregation with a single distinct on the QI tuple —
    group count is bounded by the QI domain product, the distinct count
    by the sensitive-bucket domain; both independent of row count."""
    cust = load(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 2000).cast("long")
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("group_n"),
        F.countDistinct(sens).cast("long").alias("l_distinct"),
        (F.countDistinct(sens) < LDIV_L).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (completes the privacy triad; round-10 thaw, tranche 3)
# ---------------------------------------------------------------------------


@query(
    "ext_t_closeness_audit",
    oracle="""
    WITH s AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS b
      FROM customer
    ), buckets AS (
      SELECT DISTINCT b FROM s
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM buckets
    ), groups AS (
      SELECT DISTINCT c_nationkey, c_mktsegment FROM s
    ), gb AS (
      SELECT g.c_nationkey, g.c_mktsegment, buckets.b,
             CAST(coalesce(cnt.c, 0) AS BIGINT) AS c
      FROM groups g CROSS JOIN buckets
      LEFT JOIN (
        SELECT c_nationkey, c_mktsegment, b, CAST(count(*) AS BIGINT) AS c
        FROM s GROUP BY 1, 2, 3
      ) cnt ON cnt.c_nationkey = g.c_nationkey
           AND cnt.c_mktsegment = g.c_mktsegment AND cnt.b = buckets.b
    ), gcum AS (
      SELECT c_nationkey, c_mktsegment, b,
             SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n
      FROM gb
    ), allcum AS (
      SELECT b, SUM(CAST(count(*) AS BIGINT))
                  OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_all,
             (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_all
      FROM s GROUP BY b
    )
    SELECT g.c_nationkey, g.c_mktsegment,
           CAST(max(g.n) AS BIGINT) AS group_n,
           CAST(round(1000000.0 / (m.m - 1)
                * SUM(abs(1.0 * g.cum / g.n - 1.0 * a.cum_all / a.n_all)))
                AS BIGINT) AS emd6,
           CAST(round(1000000.0 / (m.m - 1)
                * SUM(abs(1.0 * g.cum / g.n - 1.0 * a.cum_all / a.n_all)))
                AS BIGINT) > 200000 AS at_risk
    FROM gcum g JOIN allcum a ON g.b = a.b CROSS JOIN m
    -- degenerate gate (r8 audit): one sensitive bucket -> zero rows
    WHERE m.m >= 2
    GROUP BY g.c_nationkey, g.c_mktsegment, m.m
    """,
)
def ext_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit completing the privacy triad (k-anonymity:
    class sizes; l-diversity: distinct sensitive values; t-closeness:
    the DISTRIBUTION of the sensitive attribute within each class must
    stay close to the global one, or skew itself leaks — the attack
    l-diversity misses when a class has l distinct but wildly
    unrepresentative values). Distance is the ordered-value EMD over the
    acctbal buckets, normalized by 1/(m-1), flagged at t = 0.2.

    Exact integer cumulative counts; floats only in the identical final
    per-group combination. The GLOBAL cumulative runs as a TRIANGULAR
    broadcast self-join over the bounded bucket domain — never an
    unpartitioned window, even on a handful of rows, because the plan
    guardrail parses plan text, not cardinality (ROADMAP_r10 lesson).
    Gated m >= 2 in BOTH plan and oracle: one distinct sensitive bucket
    makes the 1/(m-1) normalizer 0/0 (ANSI raise vs NaN — r8 audit);
    with a single bucket every group trivially matches the global
    distribution, so both engines emit zero rows.

    Scale: per-group cumulative windows are partitioned by the QI tuple;
    groups × buckets is domain-bounded, independent of row count."""
    cust = load(spark, sf_dir, "customer")
    s = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("b"),
    )
    buckets = s.select("b").distinct()
    m = buckets.agg(F.count(F.lit(1)).cast("long").alias("m"))
    groups = s.select("c_nationkey", "c_mktsegment").distinct()
    cnt = s.groupBy("c_nationkey", "c_mktsegment", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    gb = (
        groups.join(F.broadcast(buckets))
        .join(cnt, ["c_nationkey", "c_mktsegment", "b"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "b",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    wcum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("c_nationkey", "c_mktsegment")
    gcum = gb.select(
        "c_nationkey",
        "c_mktsegment",
        "b",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    # global cumulative over the BOUNDED bucket domain: triangular
    # broadcast self-join instead of an unpartitioned window
    bc = s.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    allcum = (
        bc.join(
            F.broadcast(
                bc.select(F.col("b").alias("b2"), F.col("cb").alias("cb2"))
            ),
            F.col("b2") <= F.col("b"),
        )
        .groupBy("b")
        .agg(F.sum("cb2").cast("long").alias("cum_all"))
    )
    n_all = s.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    emd = (
        gcum.join(F.broadcast(allcum), "b")
        .join(F.broadcast(n_all))
        .join(F.broadcast(m))
        .groupBy("c_nationkey", "c_mktsegment", "m")
        .agg(
            F.max("n").cast("long").alias("group_n"),
            # try_divide (Family N6): a QI class whose members all carry a
            # NULL sensitive bucket (or a NULL QI key, which the equality
            # join zeroes out on both engines) has n = 0 — the oracle's
            # 0/0 renders NULL and the class reports group_n = 0 with a
            # NULL emd6: "this class could not be audited", identically
            # on both engines instead of an ANSI raise here.
            F.sum(
                F.abs(
                    F.try_divide(F.col("cum").cast("double"), F.col("n"))
                    - 1.0 * F.col("cum_all") / F.col("n_all")
                )
            ).alias("sabs"),
        )
    )
    emd6 = F.round(1000000.0 / (F.col("m") - 1) * F.col("sabs")).cast("long")
    return emd.filter(F.col("m") >= 2).select(
        "c_nationkey",
        "c_mktsegment",
        "group_n",
        emd6.alias("emd6"),
        (emd6 > 200000).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust stats
# ---------------------------------------------------------------------------


@query(
    "ext_winsorized_stats",
    oracle="""
    WITH q AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY lang
    ), w AS (
      SELECT d.lang,
             CAST(round(least(greatest(CAST(d.n_chars AS DOUBLE), q.lo),
                              q.hi) * 100) AS BIGINT) AS c100
      FROM documents d JOIN q USING (lang)
    )
    SELECT w.lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(q.lo * 100) AS BIGINT) AS lo100,
           CAST(round(q.hi * 100) AS BIGINT) AS hi100,
           CAST(SUM(c100) AS BIGINT) AS winsorized_sum100
    FROM w JOIN q USING (lang)
    GROUP BY w.lang, q.lo, q.hi
    """,
)
def ext_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized length statistics per language: clip document lengths at
    the [p5, p95] interpolated percentiles, then aggregate — the robust
    mean a curation report should quote instead of the raw mean that one
    10 MB crawl artifact drags arbitrarily. Both engines interpolate
    percentiles with the same (n−1)·p rule on exact integers, and the
    clipped sum is integer-scaled (×100), so the result is exact.

    Scale: one percentile aggregation per group (at extreme cardinality,
    approx_percentile with the same clip contract) and one broadcast of
    the per-group bounds back onto the corpus."""
    docs = load(spark, sf_dir, "documents")
    q = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    w = docs.join(F.broadcast(q), "lang").select(
        "lang",
        "lo",
        "hi",
        F.round(
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("lo")),
                F.col("hi"),
            )
            * 100
        )
        .cast("long")
        .alias("c100"),
    )
    return w.groupBy("lang", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c100").alias("winsorized_sum100"),
    ).select(
        "lang",
        "n",
        F.round(F.col("lo") * 100).cast("long").alias("lo100"),
        F.round(F.col("hi") * 100).cast("long").alias("hi100"),
        "winsorized_sum100",
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------


@query(
    "ext_target_encoding_loo",
    oracle="""
    WITH cents AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ), g AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(bal_c) AS BIGINT) AS tot_c
      FROM cents GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey, g.n AS group_n,
           CASE WHEN g.n > 1
                THEN CAST(round(CAST(g.tot_c - c.bal_c AS DOUBLE) / (g.n - 1))
                          AS BIGINT)
           END AS loo_mean_cents
    FROM cents c JOIN g USING (c_nationkey)
    """,
)
def ext_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out TARGET ENCODING of a categorical feature: each
    customer's nation is encoded as the mean account balance of the
    OTHER customers in that nation — (group_sum − own) / (n − 1) — the
    encoding that avoids the self-leakage plain mean encoding bakes into
    training labels (singleton groups encode NULL rather than leak
    themselves). Balances are exact cents, so the only float is one
    final rounded division on identical integers.

    Scale: one grouped aggregate (categories rows) broadcast back onto
    the fact — the LOO subtraction is per-row arithmetic, NOT a per-row
    regrouping; this is why LOO encoding is free at any scale."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    g = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("bal_c").alias("tot_c")
    )
    return cust.join(F.broadcast(g), "c_nationkey").select(
        "c_custkey",
        "c_nationkey",
        F.col("n").alias("group_n"),
        F.when(
            F.col("n") > 1,
            F.round(
                (F.col("tot_c") - F.col("bal_c")).cast("double")
                / (F.col("n") - 1)
            ).cast("long"),
        ).alias("loo_mean_cents"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (A-ES / Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

_WS_K = 50
_WS_A = 2654435761
_WS_M = 2_147_483_647


@query(
    "ext_weighted_sample_aes",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             ((doc_id * {_WS_A} + 99991) % ({_WS_M} - 1)) + 1 AS h
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, n_chars,
             CAST(round(ln(CAST(h AS DOUBLE) / {_WS_M})
                        / n_chars * 1e6) AS BIGINT) AS r6
      FROM u
    )
    SELECT doc_id, n_chars, r6,
           CAST(row_number() OVER (ORDER BY r6 DESC, doc_id) AS BIGINT) AS rk
    FROM keyed
    ORDER BY r6 DESC, doc_id LIMIT {_WS_K}
    """,
)
def ext_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each document draws key u^(1/w) from a deterministic hash-uniform u
    with weight w = n_chars, and the global top-{_WS_K} keys ARE the
    weighted sample — the one-pass, merge-friendly scheme (a shard's
    top-k is the global sample restricted to that shard, so samples
    compose by rank-merge; no sequential reservoir state). Ranked on
    ln(u)/w in deterministic micro-units with a doc_id tie-break.

    Scale: map-side key + one TakeOrdered top-k — no shuffle beyond the
    k-row merge; the textbook distributed weighted sampler."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = ((F.col("doc_id") * _WS_A + 99991) % (_WS_M - 1)) + 1
    r6 = F.round(
        F.log(h.cast("double") / _WS_M) / F.col("n_chars") * 1e6
    ).cast("long")
    # top-k FIRST (TakeOrderedAndProject — a per-partition heap + k-row
    # merge, never a global sort); the rank window then runs over k rows
    top = (
        docs.select("doc_id", "n_chars", r6.alias("r6"))
        .orderBy(F.col("r6").desc(), "doc_id")
        .limit(_WS_K)
    )
    w = Window.orderBy(F.col("r6").desc(), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Group k-fold assignment (user-level, leakage-free CV)
# ---------------------------------------------------------------------------

_KFOLDS = 5


@query(
    "ext_group_kfold",
    oracle=f"""
    WITH folds AS (
      SELECT user_id,
             (user_id * {_WS_A} + 7919) % {_WS_M} % {_KFOLDS} AS fold
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT f.fold, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases
    FROM events e JOIN folds f USING (user_id)
    GROUP BY f.fold
    """,
)
def ext_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP k-fold assignment: every event of a user lands in the same
    fold (fold = hash(user_id) mod {_KFOLDS}) — the split discipline that
    keeps a user's behavior out of both train and eval simultaneously
    (row-level folds leak entity signal; this is GroupKFold). Emits the
    per-fold balance report (users, events, positives) a CV harness
    checks before training.

    Scale: the fold is a map-side hash of the GROUP key, so no
    row-to-fold table ever materializes; the report is one aggregation."""
    ev = load(spark, sf_dir, "events")
    fold = (F.col("user_id") * _WS_A + 7919) % _WS_M % _KFOLDS
    return (
        ev.withColumn("fold", fold)
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
        )
    )


# ---------------------------------------------------------------------------
# Wilson confidence interval (rank-by-proportion correctly)
# ---------------------------------------------------------------------------


@query(
    "ext_ctr_wilson",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY user_id
    )
    SELECT user_id, n, k,
           CAST(round((CAST(k AS DOUBLE)/n + 1.9208/n
                       - 1.96 * sqrt((CAST(k AS DOUBLE)/n)
                                     * (1 - CAST(k AS DOUBLE)/n)/n
                                     + 0.9604/(n*n)))
                      / (1 + 3.8416/n) * 1e6) AS BIGINT)
             AS wilson_lo6
    FROM s WHERE n >= 5
    """,
)
def ext_ctr_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score LOWER BOUND for each user's purchase rate — the
    correct way to rank entities by proportion (plain k/n ranks a 1/1
    user above a 95/100 user; the Wilson bound penalizes small n), the
    same formula behind "sort by best" comment ranking. One fixed per-row
    double expression over exact integer (k, n), reported in micro-units.

    Scale: one aggregation to per-entity counts, then map-side
    arithmetic — nothing else."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    ).filter(F.col("n") >= 5)
    p = F.col("k").cast("double") / F.col("n")
    z2 = 1.9208  # z^2/2 for z = 1.96
    lo = (
        p
        + z2 / F.col("n")
        - 1.96
        * F.sqrt(p * (1 - p) / F.col("n") + 0.9604 / (F.col("n") * F.col("n")))
    ) / (1 + 3.8416 / F.col("n"))
    return s.select(
        "user_id",
        "n",
        "k",
        F.round(lo * 1e6).cast("long").alias("wilson_lo6"),
    )


# ---------------------------------------------------------------------------
# Delete-one-block jackknife variance
# ---------------------------------------------------------------------------

_JK_BLOCKS = 10


@query(
    "ext_jackknife_blocks",
    oracle=f"""
    WITH b AS (
      SELECT (doc_id * 2654435761 + 271) % 2147483647 % {_JK_BLOCKS}
               AS block,
             n_chars
      FROM documents
    ), per_block AS (
      SELECT block, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s
      FROM b GROUP BY block
    ), tot AS (
      SELECT SUM(n) AS tn, SUM(s) AS ts FROM per_block
    )
    SELECT block, n, s,
           CAST(round(CAST(tot.ts - s AS DOUBLE) / (tot.tn - n) * 1e6)
                AS BIGINT) AS loo_mean6
    FROM per_block, tot
    """,
)
def ext_jackknife_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BLOCK jackknife: split the corpus into {_JK_BLOCKS}
    hash blocks, and for each block compute the mean document length
    with that block REMOVED — the {_JK_BLOCKS} leave-one-out replicate
    means whose spread estimates the variance of the corpus mean (the
    rigorous error bar a dataset card should quote, and the jackknife is
    the deterministic cousin of the bootstrap: no random resampling, so
    it is exactly reproducible and oracle-checkable). Replicates are
    exact-integer ratios reported in micro-units.

    A corpus that fits in one hash block (the single-document degenerate
    case) makes the leave-one-out denominator tn - n zero: ANSI Spark
    would raise DIVIDE_BY_ZERO where DuckDB renders 0/0 as NaN, so the
    replicate-mean division goes through try_divide (NULL, canonicalized
    equal to NaN; DEGENERATE_AUDIT_r8.md Family B, oracle untouched).

    Scale: one aggregation to {_JK_BLOCKS} block rows + a 1-row
    broadcast of the totals — the corpus is touched once."""
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        ((F.col("doc_id") * 2654435761 + 271) % 2147483647 % _JK_BLOCKS).alias(
            "block"
        ),
        "n_chars",
    )
    per_block = b.groupBy("block").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s")
    )
    tot = per_block.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    return per_block.join(F.broadcast(tot)).select(
        "block",
        "n",
        "s",
        F.round(
            F.try_divide(
                (F.col("ts") - F.col("s")).cast("double"),
                F.col("tn") - F.col("n"),
            )
            * 1e6
        )
        .cast("long")
        .alias("loo_mean6"),
    )


@query(
    "ext_effective_sample_size",
    oracle="""
    WITH counts AS (
      SELECT lang,
             CAST(SUM(CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1
             END) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), weighted AS (
      SELECT lang,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e3) AS BIGINT) AS w3
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_langs,
           CAST(round(CAST(SUM(w3) AS DOUBLE) * CAST(SUM(w3) AS DOUBLE)
                      / CAST(SUM(w3 * w3) AS DOUBLE) * 1e6) AS BIGINT)
             AS ess6,
           CAST(round(CAST(SUM(w3) AS DOUBLE) * CAST(SUM(w3) AS DOUBLE)
                      / CAST(SUM(w3 * w3) AS DOUBLE)
                      / count(*) * 1e6) AS BIGINT) AS ess_ratio6
    FROM weighted
    """,
)
def ext_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the temperature-mixture weights (Kish:
    (Σw)²/Σw²): how many of the mixture's languages effectively contribute
    — ESS ≈ #langs means balanced, ESS ≈ 1 means one language dominates
    despite the T=2 flattening. The go/no-go check on any proposed
    sampling-weight vector before a training run. Weights are the same
    sqrt(n_tokens) used by ext_temperature_mixture, integer-scaled at 1e3
    so Σw² stays far inside int64 and the sums are order-independent.

    Scale: one grouped count + a #languages-row reduction."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    weighted = (
        docs.select("lang", n_tokens.alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("n_tokens"))
        .select(
            F.round(F.sqrt(F.col("n_tokens").cast("double")) * 1e3)
            .cast("long")
            .alias("w3")
        )
    )
    s1 = F.sum("w3").cast("double")
    s2 = F.sum(F.col("w3") * F.col("w3")).cast("double")
    n = F.count(F.lit(1))
    return weighted.agg(
        n.alias("n_langs"),
        F.round(s1 * s1 / s2 * 1e6).cast("long").alias("ess6"),
        F.round(s1 * s1 / s2 / n * 1e6).cast("long").alias("ess_ratio6"),
    )


@query(
    "ext_quantile_align_sources",
    oracle="""
    WITH pooled AS (
      -- n_chars IS NOT NULL (Family N1 lockstep): a NULL length has no
      -- decile position (a NULL source stays a legitimate group)
      SELECT ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile, n_chars
      FROM documents WHERE n_chars IS NOT NULL
    ), ref AS (
      SELECT decile, CAST(max(n_chars) AS BIGINT) AS pooled_max
      FROM pooled GROUP BY decile
    ), per_src AS (
      SELECT source,
             ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS decile,
             n_chars
      FROM documents WHERE n_chars IS NOT NULL
    ), agg AS (
      SELECT source, decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(max(n_chars) AS BIGINT) AS src_max
      FROM per_src GROUP BY source, decile
    )
    SELECT source, CAST(agg.decile AS BIGINT) AS decile, n_docs, src_max,
           ref.pooled_max,
           CAST(src_max - ref.pooled_max AS BIGINT) AS shift_chars
    FROM agg JOIN ref ON agg.decile = ref.decile
    """,
)
def ext_quantile_align_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile ALIGNMENT map per source: each source's within-source
    decile boundaries of document length next to the pooled corpus's
    boundaries — the lookup table for quantile normalization (map a
    source's length distribution onto the corpus's) and a per-source
    drift readout (shift_chars ≠ 0 = this source is long/short-heavy at
    that decile). Deciles use ntile over the (n_chars, doc_id) total
    order, so bucket assignment is deterministic on both engines.

    Scale: the pooled decile runs through ``distributed_ntile`` (range
    exchange + broadcast prefix-counts — no single-task sort); the
    per-source window is partitioned and fine as-is; + a 10-row
    broadcast join.

    NULL lengths (Family N1, lockstep): pre-filtered on both engines — a
    NULL n_chars has no decile position and would tile at opposite ends
    of the order under the engines' differing NULL-sort defaults. A NULL
    source remains a legitimate per-source group on both."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    pooled = distributed_ntile(
        docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], 10,
        out="decile",
    ).select("decile", "n_chars")
    ref = pooled.groupBy("decile").agg(F.max("n_chars").alias("pooled_max"))
    per_src = docs.select(
        "source",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("decile"),
        "n_chars",
    )
    agg = per_src.groupBy("source", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.max("n_chars").alias("src_max")
    )
    return agg.join(F.broadcast(ref), "decile").select(
        "source",
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "src_max",
        "pooled_max",
        (F.col("src_max") - F.col("pooled_max")).alias("shift_chars"),
    )


_HILL_K = 100


@query(
    "ext_hill_tail_index",
    oracle=f"""
    WITH ranked AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    ), logs AS (
      SELECT rk, CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
               AS l6
      FROM ranked WHERE rk <= {_HILL_K} + 1
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
           (SELECT CAST(min(n_chars) AS BIGINT) FROM ranked
            WHERE rk = {_HILL_K} + 1) AS threshold_chars,
           CAST(round(
             (SELECT CAST(SUM(l6) AS DOUBLE) / {_HILL_K} FROM logs
              WHERE rk <= {_HILL_K})
             - (SELECT CAST(min(l6) AS DOUBLE) FROM logs
                WHERE rk = {_HILL_K} + 1)
           ) AS BIGINT) AS hill_gamma6
    """,
)
def ext_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill TAIL-INDEX estimator over document lengths: γ̂ = mean of
    ln(x_(i)/x_(k+1)) over the top-k order statistics — the standard
    heavy-tail exponent estimate (γ ≈ 1/α). Answers "how pathological is
    the length tail?" quantitatively, where ext_zipf_fit answers it for
    token frequencies: partition sizing and packing strategies key off
    this number. Logs are micro-scaled integers before summing (the DSIR
    idiom), so the mean-excess is computed from order-independent sums.

    Scale: a global top-(k+1) via orderBy+limit — compiled to
    TakeOrderedAndProject (per-partition heap + k-row merge, no full
    sort; round 5 fixed the previous rank-then-filter shape, which DID
    run a single-task window over all documents) — then k-row
    arithmetic."""
    docs = load(spark, sf_dir, "documents")
    top = (
        docs.select("n_chars", "doc_id")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(_HILL_K + 1)
    )
    ranked = top.select(
        "n_chars",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rk"),
    )
    logs = ranked.select(
        "rk",
        "n_chars",
        F.round(F.log(F.col("n_chars").cast("double")) * 1e6)
        .cast("long")
        .alias("l6"),
    )
    top = logs.filter(F.col("rk") <= _HILL_K).agg(
        F.sum("l6").cast("double").alias("sl6"),
    )
    tail = logs.filter(F.col("rk") == _HILL_K + 1).agg(
        F.min("n_chars").alias("threshold_chars"),
        F.min("l6").cast("double").alias("l6k"),
    )
    return top.join(F.broadcast(tail)).select(
        F.lit(_HILL_K).cast("long").alias("k"),
        "threshold_chars",
        F.round(F.col("sl6") / _HILL_K - F.col("l6k"))
        .cast("long")
        .alias("hill_gamma6"),
    )


_SOURCE_CAP_K = 20


@query(
    "ext_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN rk > {_SOURCE_CAP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_docs,
           CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP_K} THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
    """,
)
def ext_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document CAP (FineWeb-style domain cap): keep at most K
    documents per source, preferring the longest (quality proxy), and
    account for what was dropped — the anti-spam guard that stops one
    domain from flooding the mixture, complementing ext_label_balance's
    min-count downsample (cap vs equalize are different contracts).

    Scale: one per-source rank window + grouped accounting; the window
    key is the natural partition key, so no skew beyond the source's own
    size (which is exactly what the cap bounds)."""
    docs = load(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rk"),
    )
    return ranked.groupBy("source").agg(
        F.sum(F.when(F.col("rk") <= _SOURCE_CAP_K, 1).otherwise(0))
        .cast("long")
        .alias("kept_docs"),
        F.sum(F.when(F.col("rk") > _SOURCE_CAP_K, 1).otherwise(0))
        .cast("long")
        .alias("dropped_docs"),
        F.sum(F.when(F.col("rk") <= _SOURCE_CAP_K, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# SHAPE telemetry (round-13 tranche 7, registered with RAGGED_AUDIT_r13.md):
# the monitoring queries that QUANTIFY the malformation classes the ragged
# audit frontier probes — a pipeline publishes its quarantine rates so a
# producer regression shows up as a moved metric, not a silent drop.
# ---------------------------------------------------------------------------


@query(
    "ext_payload_shape_profile",
    oracle="""
    WITH c AS (
      SELECT CASE
               WHEN props IS NULL OR trim(props) = '' THEN 'empty'
               WHEN substring(trim(props), 1, 1) = '{' THEN 'object'
               WHEN substring(trim(props), 1, 1) = '[' THEN 'array'
               WHEN substring(trim(props), 1, 1) = '"' THEN 'string'
               WHEN substring(trim(props), 1, 1) IN
                    ('-','0','1','2','3','4','5','6','7','8','9')
                 THEN 'number'
               ELSE 'other'
             END AS shape_class,
             COALESCE(length(props), 0) AS n_chars
      FROM events
    )
    SELECT shape_class,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM c GROUP BY shape_class
    """,
)
def ext_payload_shape_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURAL profile of the events.props JSON payload — the Family-J
    quarantine's telemetry (RAGGED_AUDIT_r13.md): row counts and payload
    byte volume per structural class (empty / object / array / quoted
    string / number / other), classified by the first non-space character.
    Deliberately NOT a parse-validity check: the two engines' JSON parsers
    have different leniency edges, while first-character classification is
    pure string arithmetic both evaluate bit-identically — and an
    array-root or bare-scalar payload is a producer contract violation
    regardless of whether it parses.

    Scale: one map-side-combinable groupBy over the scan; six classes."""
    ev = load(spark, sf_dir, "events")
    t = F.trim(F.col("props"))
    c1 = F.substring(t, 1, 1)
    cls = (
        F.when(F.col("props").isNull() | (t == ""), "empty")
        .when(c1 == "{", "object")
        .when(c1 == "[", "array")
        .when(c1 == '"', "string")
        .when(
            c1.isin("-", "0", "1", "2", "3", "4", "5", "6", "7", "8", "9"),
            "number",
        )
        .otherwise("other")
    )
    return (
        ev.select(
            cls.alias("shape_class"),
            F.coalesce(F.length("props"), F.lit(0)).alias("n_chars"),
        )
        .groupBy("shape_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "ext_text_shape_audit",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_null,
           CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL AND text = ''
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty,
           CAST(COALESCE(SUM(CASE WHEN text IS NOT NULL AND text <> ''
                          AND trim(text) = ''
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_ws_only,
           CAST(COALESCE(SUM(CASE WHEN length(text) = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_single_char,
           CAST(COALESCE(SUM(CASE WHEN contains(text, chr(0))
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_with_nul
    FROM documents GROUP BY source
    """,
)
def ext_text_shape_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-SHAPE audit — the Family-T hazards as counters
    (RAGGED_AUDIT_r13.md): NULL texts, empty strings, whitespace-only
    bodies, single-character documents, and embedded NUL bytes. These are
    the rows that crash naive tokenizers and skew length statistics; a
    source whose counters move between crawls changed its extractor.
    All flags are exact string predicates both engines share (trim,
    length, NUL containment via the explicit chr(0) codepoint).

    Scale: one map-side-combinable groupBy(source) over the scan — the
    same aggregate shape a per-source quality dashboard materializes."""
    docs = load(spark, sf_dir, "documents")
    text = F.col("text")

    def flag(c):
        return F.when(c, 1).otherwise(0)

    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(flag(text.isNull())).cast("long").alias("n_null"),
        F.sum(flag(text.isNotNull() & (text == "")))
        .cast("long")
        .alias("n_empty"),
        F.sum(flag(text.isNotNull() & (text != "") & (F.trim(text) == "")))
        .cast("long")
        .alias("n_ws_only"),
        F.sum(flag(F.length(text) == 1)).cast("long").alias("n_single_char"),
        F.sum(flag(text.contains("\x00"))).cast("long").alias("n_with_nul"),
    )
