"""Text analysis operators (SURVEY §2C; north-star LLM-pipeline surface).

All keys run over the ``documents`` table as pure JVM-side expressions
(split/regexp/aggregate lambdas — zero Python UDFs), so at 100 TB they
execute inside WholeStageCodegen at scan throughput. Each is a standard
training-data-pipeline stage:

- ``ext_text_stats``     — corpus profile per (lang, source)
- ``ext_token_count``    — whitespace + regex ("BPE-ish") token counts
- ``ext_quality_score``  — length/punctuation/stopword heuristics
- ``ext_langid``         — marker-token language ID (n-gram heuristic)
- ``ext_tfidf_topterms`` — TF-IDF top terms per document
- ``ext_fingerprint``    — rolling-hash document fingerprint (Rabin-Karp
  over 8-char grams, min-sampled — winnowing's core)

Every key has an exact DuckDB oracle: the heuristics are integer/ratio
arithmetic, and the fingerprint uses explicit polynomial hashing (not an
engine hash) so both engines compute identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import (
    distributed_ntile,
    distributed_row_number,
    ntile_from_rank,
)
from ..registry import query
from ..tables import fan_out, load
from .dedup import _sh_poly_sql
from .dedup import _shingles as _dedup_shingles

# tiny per-language marker vocabularies for the lang-ID heuristic
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "und", "die", "ist", "das"),
    "fr": ("le", "et", "la", "est", "les"),
    "es": ("el", "y", "la", "es", "los"),
    "zh": ("的", "是", "了", "在", "我"),
}
_STOPWORDS = ("the", "a", "of", "and", "is", "in", "to", "it")


@query(
    "ext_text_stats",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
             AS n_len_consistent
    FROM documents
    GROUP BY lang, source
    """,
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc/token/char counts, and a
    cross-check that the precomputed n_chars column equals length(text).

    No fan_out: the per-row work is trivial (split-size, length) and the
    groupBy map-side-aggregates to ~|lang × source| rows, so a round-robin
    exchange of the corpus text would be the key's dominant cost."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(
            F.when(F.length("text").cast("long") == F.col("n_chars"), 1).otherwise(0)
        ).cast("long").alias("n_len_consistent"),
    )


@query(
    "ext_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                AS BIGINT) AS bpe_ish_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split, and a BPE-ish regex
    (alpha runs | digit runs | single punctuation) — the usual cheap proxy
    for tokenizer budgeting before the real tokenizer runs."""
    docs = load(spark, sf_dir, "documents")
    bpe_re = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        # idx=0 = whole match (Spark defaults to group 1; DuckDB to 0)
        F.size(F.regexp_extract_all("text", F.lit(bpe_re), 0)).cast("long").alias(
            "bpe_ish_tokens"
        ),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "ext_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang,
             length(text) AS n_char,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '),
                             w -> list_contains({list(_STOPWORDS)!r}, w))) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang,
           n_tok * 1.0 / n_char AS tok_density,
           n_stop * 1.0 / n_tok AS stopword_ratio,
           CASE WHEN n_char >= 100 AND n_char <= 2000
                     AND n_stop * 1.0 / n_tok >= 0.05 THEN 1 ELSE 0 END AS quality_pass
    FROM feats
    """,
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token density, stopword ratio, and a
    pass/fail gate (length window + minimum stopword ratio) — the shape of
    a Gopher/C4-style quality filter, as exact integer/ratio arithmetic."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    feats = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_char"),
        F.size(words).alias("n_tok"),
        n_stop.alias("n_stop"),
    )
    return feats.select(
        "doc_id",
        "lang",
        (F.col("n_tok") * 1.0 / F.col("n_char")).alias("tok_density"),
        (F.col("n_stop") * 1.0 / F.col("n_tok")).alias("stopword_ratio"),
        F.when(
            (F.col("n_char") >= 100)
            & (F.col("n_char") <= 2000)
            & (F.col("n_stop") * 1.0 / F.col("n_tok") >= 0.05),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


def _marker_count_sql(lang: str) -> str:
    toks = list(_LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), w -> list_contains({toks!r}, w)))"
    )


_LANGID_ORACLE = f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_marker_count_sql('en')} AS s_en,
             {_marker_count_sql('de')} AS s_de,
             {_marker_count_sql('fr')} AS s_fr,
             {_marker_count_sql('es')} AS s_es,
             {_marker_count_sql('zh')} AS s_zh
      FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
                WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
                WHEN s_es >= s_zh THEN 'es'
                ELSE 'zh' END AS pred_lang
    FROM scores
    """


@query("ext_langid", oracle=_LANGID_ORACLE)
def ext_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: score each language by occurrences of its
    top stopwords, argmax with a fixed precedence order for ties, 'und'
    when no marker hits (the fixture corpus is synthetic shared-vocabulary
    text, so 'und'/'en' dominate — the operator contract is the
    deterministic heuristic, not fixture accuracy)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    words = F.split("text", " ")

    def score(lang: str) -> Column:
        markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(markers, w)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        score("en").alias("s_en"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
        score("es").alias("s_es"),
        score("zh").alias("s_zh"),
    )
    others = lambda *cols: F.greatest(*[F.col(c) for c in cols])  # noqa: E731
    pred = (
        F.when(F.greatest("s_en", "s_de", "s_fr", "s_es", "s_zh") == 0, "und")
        .when(F.col("s_en") >= others("s_de", "s_fr", "s_es", "s_zh"), "en")
        .when(F.col("s_de") >= others("s_fr", "s_es", "s_zh"), "de")
        .when(F.col("s_fr") >= others("s_es", "s_zh"), "fr")
        .when(F.col("s_es") >= F.col("s_zh"), "es")
        .otherwise("zh")
    )
    return scored.select("doc_id", "actual_lang", pred.alias("pred_lang"))


@query(
    "ext_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored
    )
    WHERE rk <= 3
    """,
)
def ext_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document in pure DataFrame ops: explode →
    term frequencies → doc frequencies → smoothed idf → per-doc top-k
    window. The idf is rounded to 6 decimals because JVM and DuckDB
    ``ln`` differ by 1 ulp.

    Scale note (round-5): the df-side is the VOCABULARY — sublinear in
    the corpus (Heaps' law, |V| ≈ K·n^0.5) but unbounded; at web scale
    (~1e9 terms × ~30 B ≈ tens of GB) a forced broadcast would OOM every
    executor. The join therefore carries NO broadcast hint: AQE picks
    broadcast-hash while the vocab fits ``autoBroadcastJoinThreshold``
    (plan-audited at test scale) and degrades to a shuffle join above
    it — the only join strategy that is safe at both ends."""
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar dimension, embedded as a literal
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # df derived FROM tf (r16): tf already holds one row per distinct
    # (doc_id, term), so count-per-term over it equals
    # countDistinct(doc_id) over the raw token stream — minus the NULL
    # doc_ids countDistinct skips, hence the explicit isNotNull gate
    # (count(DISTINCT) is NULL-skipping on both engines). r16 intended
    # the two relations to share tf's Exchange via ReuseExchange, but
    # the pushed-down NULL gate SPECIALIZED the df branch's scan — the
    # committed after-plan still held two full scan→explode→aggregate
    # subtrees (r16 verdict item 12). r17: lazy localCheckpoint leaf on
    # tf (the kneser-ney pattern) — the tokenize+explode+shuffle runs
    # once per invocation and both df and scored read the (#docs × terms
    # per doc)-bounded LogicalRDD.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = (
        tf.where(F.col("doc_id").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


_MOD = 2_147_483_647  # 2^31 - 1; fold stays far inside int64
_BASE = 131
_GRAM = 8


@query(
    "ext_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_min(list_transform(
             range(1, greatest(length(text) - {_GRAM} + 2, 2)),
             p -> list_reduce(
                    list_prepend(CAST(7 AS BIGINT),
                      list_transform(range(0, {_GRAM}),
                        k -> CAST(ascii(substring(text, CAST(p + k AS INT), 1)) AS BIGINT))),
                    (acc, c) -> (acc * {_BASE} + c) % {_MOD})
           )) AS fingerprint
    FROM documents
    """,
)
def ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: polynomial (Rabin-Karp) hash of every 8-char
    gram, min-sampled — the core of MOSS-style winnowing. Explicit modular
    arithmetic (base 131, mod 2³¹−1) instead of an engine hash so the oracle
    reproduces it bit-for-bit. All inside one JVM expression tree."""
    docs = fan_out(load(spark, sf_dir, "documents"))

    def gram_hash(p: Column) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(_GRAM - 1)),
                lambda k: F.ascii(F.col("text").substr(p + k, F.lit(1))).cast("long"),
            ),
            F.lit(7).cast("long"),
            lambda acc, c: (acc * _BASE + c) % _MOD,
        )

    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (_GRAM - 1), F.lit(1))
    )
    return docs.select(
        "doc_id",
        F.array_min(F.transform(positions, gram_hash)).alias("fingerprint"),
    )


_SPLIT_A = 2654435761  # Knuth multiplicative constant
_SPLIT_M = 2_147_483_647


@query(
    "ext_hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             (doc_id * {_SPLIT_A} + 12345) % {_SPLIT_M} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def ext_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by multiplicative hash
    of the document id — the reproducible alternative to random sampling
    that every training pipeline needs: stable across runs, cluster sizes,
    and engines (explicit integer arithmetic, exact oracle). At 100 TB this
    is a pure map — no shuffle, no state, trivially parallel."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * _SPLIT_A + 12345) % _SPLIT_M % 100
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "ext_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g') AS scrubbed,
           CAST(length(text) -
                length(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'))
                AS BIGINT) AS email_chars_removed
    FROM documents
    """,
)
def ext_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email and phone patterns replaced with placeholder
    tokens (the C4/RefinedWeb-style redaction pass), plus a removed-chars
    audit column. Pure JVM regexp_replace — runs at scan throughput inside
    codegen; the regexes are POSIX-compatible so DuckDB applies them
    identically (its regexp_replace needs the 'g' flag to match Spark's
    replace-all)."""
    docs = load(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        (
            F.length("text") - F.length(F.regexp_replace("text", email_re, ""))
        ).cast("long").alias("email_chars_removed"),
    )


@query(
    "ext_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS norm_len
    FROM documents
    """,
)
def ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase → strip non-alphanumerics →
    collapse whitespace → trim. The standard pre-shingling/pre-tokenizing
    cleanup; composing it before ``ext_near_dedup_minhash`` catches
    formatting-only near-dups. Pure codegen string ops."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    )


PACK_CAPACITY = 256  # tokens per packed sequence
PACK_SHARDS = 8


@query(
    "ext_sequence_packing",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS part,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
             row_number() OVER (PARTITION BY doc_id % {PACK_SHARDS}
                                ORDER BY doc_id) AS rn
      FROM documents
    ), rec AS (
      SELECT part, rn, doc_id, t, t AS fill, CAST(1 AS BIGINT) AS bin
      FROM tok WHERE rn = 1
      UNION ALL
      SELECT tok.part, tok.rn, tok.doc_id, tok.t,
             CASE WHEN rec.fill + tok.t > {PACK_CAPACITY}
                  THEN tok.t ELSE rec.fill + tok.t END,
             CASE WHEN rec.fill + tok.t > {PACK_CAPACITY}
                  THEN rec.bin + 1 ELSE rec.bin END
      FROM rec JOIN tok ON tok.part = rec.part AND tok.rn = rec.rn + 1
    )
    SELECT doc_id, CAST(part AS BIGINT) AS part, t AS n_tokens,
           bin AS bin_id
    FROM rec
    """,
)
def ext_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents to fixed-capacity token
    bins (the packing step before LLM training batches), sharded so each
    worker packs its own hash shard in doc_id order — packing is inherently
    sequential, so the scale move is to bound the sequential scope to a
    shard, exactly how production packers shard by file/partition.

    The sequential greedy loop runs in an Arrow-batched grouped-map pandas
    UDF (``applyInPandas``) — the designed use of the escape hatch: per-key
    imperative logic the relational algebra can't express. The oracle
    reproduces the same state machine as a DuckDB recursive CTE, so the
    check is exact."""
    import pandas as pd

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("part"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, b = [], 0, 0
        for t in pdf["n_tokens"]:
            if b == 0 or fill + t > PACK_CAPACITY:
                b += 1
                fill = t
            else:
                fill += t
            bins.append(b)
        pdf["bin_id"] = bins
        return pdf

    return tok.groupBy("part").applyInPandas(
        pack, "doc_id long, part long, n_tokens long, bin_id long"
    )


@query(
    "ext_decontamination",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN (doc_id * {_SPLIT_A} + 12345) % {_SPLIT_M} % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ), tok AS (
      SELECT doc_id, split, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM split
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.split,
             a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    )
    SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
           CAST(count(*) AS BIGINT) AS shared_shingles
    FROM sh e JOIN sh t ON e.shingle = t.shingle
    WHERE e.split = 'eval' AND t.split = 'train'
    GROUP BY 1, 2
    HAVING count(*) >= 5
    """,
)
def ext_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find eval-split documents sharing ≥5
    distinct 3-gram shingles with any train-split document (the
    GPT-3/PaLM-style n-gram overlap check run before training). Composes
    the deterministic hash split with the dedup shingle machinery; the
    join is shingle-keyed (one shuffle), never eval×train. At 100 TB the
    shingle column would be hashed (ext_fingerprint) so the shuffle carries
    int64s, and the HAVING threshold is the standard 'contaminated if ≥N
    colliding n-grams' rule."""
    docs = load(spark, sf_dir, "documents")
    split = docs.withColumn(
        "split",
        F.when(
            (F.col("doc_id") * _SPLIT_A + 12345) % _SPLIT_M % 100 < 80, "train"
        ).otherwise("eval"),
    )
    sh = _dedup_shingles(split.select("doc_id", "text")).join(
        split.select("doc_id", "split"), "doc_id"
    )
    ev = sh.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        ev.join(tr, "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= 5)
    )


@query(
    "ext_validate_rules",
    oracle="""
    SELECT doc_id,
           CAST(text IS NULL OR length(text) = 0 AS BOOLEAN) AS v_empty,
           CAST(n_chars <> length(text) AS BOOLEAN) AS v_meta_mismatch,
           CAST(lang NOT IN ('en','de','fr','es','zh') AS BOOLEAN) AS v_bad_lang,
           CAST(length(text) > 2000 AS BOOLEAN) AS v_too_long,
           CAST((text IS NULL OR length(text) = 0)
                OR n_chars <> length(text)
                OR lang NOT IN ('en','de','fr','es','zh')
                OR length(text) > 2000 AS BOOLEAN) AS rejected
    FROM documents
    """,
)
def ext_validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: per-row rule evaluation (empty text,
    metadata/payload mismatch, unknown language code, length ceiling) with
    one boolean column per rule plus the combined verdict — the audit table
    an ingest pipeline writes BEFORE dropping rows, so rejects are
    explainable. Pure codegen predicates; at 100 TB this runs at scan speed
    and the audit aggregates by rule for monitoring."""
    docs = load(spark, sf_dir, "documents")
    v_empty = F.col("text").isNull() | (F.length("text") == 0)
    v_meta = F.col("n_chars") != F.length("text")
    v_lang = ~F.col("lang").isin("en", "de", "fr", "es", "zh")
    v_long = F.length("text") > 2000
    return docs.select(
        "doc_id",
        v_empty.alias("v_empty"),
        v_meta.alias("v_meta_mismatch"),
        v_lang.alias("v_bad_lang"),
        v_long.alias("v_too_long"),
        (v_empty | v_meta | v_lang | v_long).alias("rejected"),
    )


_BM25_TERMS = ("data", "query", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "ext_bm25",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE term IN ('data', 'query', 'join') GROUP BY 1, 2
    ), df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
               * 1e6) AS BIGINT) AS sc
      FROM tf
      JOIN df USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id, SUM(sc) / 1e6 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
    """,
)
def ext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking for a fixed query — the standard lexical
    retrieval scorer a training-data pipeline uses for quality/relevance
    filtering. Pure DataFrame composition: tokenize → per-doc term
    frequency → document frequency (tiny, broadcast) → length-normalized
    score → global top-20. Per-term scores are scaled to int64 *before*
    the per-doc SUM so the (order-nondeterministic) aggregation is exact;
    the one ``ln`` is inside the rounded expression (1-ulp-safe at 1e-6).
    At 100 TB: tf is a map-side-combining aggregate over the token
    explode; df and the corpus stats are scalar broadcasts; no cross join
    of anything large."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    # dl leaf (r17): consumed by stats AND the scored join — without it
    # each consumer re-scans + re-splits the corpus text. One row per doc
    # (doc_id, double), far smaller than the text it summarizes.
    dl = toks.select(
        "doc_id", F.size("toks").cast("double").alias("dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum(F.col("dl").cast("long")).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    # Lazy localCheckpoint leaf (r17): the r16 "shares tf's exchange"
    # claim did not survive planning — the pushed-down NULL gate
    # specialized df_'s branch and the tokenize ran twice (r16 verdict
    # item 12; same failure as tfidf). tf is tiny (#docs × |query terms|
    # ≤ a handful of rows per doc), so the leaf costs one small
    # materialization and both consumers read the LogicalRDD.
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    # one row per (doc, term) in tf already → count ≡ countDistinct(doc_id)
    # (with the NULL gate countDistinct implies); reads the tf leaf
    df_ = (
        tf.where(F.col("doc_id").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    k1, b = _BM25_K1, _BM25_B
    term_score = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id", F.round(term_score * 1e6).cast("long").alias("sc")
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.sum("sc") / F.lit(1e6)).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_SAMPLE_RATES = {"en": 120, "fr": 400, "es": 400, "de": 400, "zh": 400}


@query(
    "ext_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE ((doc_id * 1103515245 + 12345) % 2147483648) % 1000 <
          CASE lang WHEN 'en' THEN 120 ELSE 400 END
    """,
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — per-language rates rebalance a
    corpus dominated by one language (en kept at ~12%, the rest at ~40%).
    The sampling decision is a pure function of doc_id (minstd LCG mod
    2^31, then mod 1000), so the sample is reproducible across engines,
    runs, and partitionings — the property that matters when the corpus is
    100 TB and the sample must be re-derivable. Embarrassingly parallel:
    a filter over the scan, no shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") * 1103515245 + 12345) % 2147483648) % 1000
    rate = F.when(F.col("lang") == "en", 120).otherwise(400)
    return docs.filter(bucket < rate).select("doc_id", "lang")


@query(
    "ext_corpus_pipeline",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang,
             trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
             length(text) AS n_char,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '),
                             w -> list_contains({list(_STOPWORDS)!r}, w)))
               AS n_stop
      FROM documents
    ), gated AS (
      SELECT * FROM feats
      WHERE n_char BETWEEN 100 AND 2000
        AND n_stop * 1.0 / n_tok >= 0.05
        AND length(norm) >= 1
    ), hashed AS (
      SELECT *, list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, length(norm) + 1),
                   i -> CAST(ascii(substring(norm, CAST(i AS INT), 1))
                             AS BIGINT))),
               (acc, c) -> (acc * {_BASE} + c) % {_MOD}) AS h
      FROM gated
    ), dedup AS (
      SELECT * FROM hashed
      QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
    ), assigned AS (
      SELECT *, CASE WHEN (doc_id * 2654435761 + 12345)
                          % 2147483647 % 100 < 80 THEN 'train'
                     WHEN (doc_id * 2654435761 + 12345)
                          % 2147483647 % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
      FROM dedup
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(norm, ' '))) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, lang
    """,
)
def ext_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation in ONE declarative plan — the composed
    shape a real training-data pipeline runs nightly:

      normalize → quality gate → exact dedup → train/val/test split
      → per-(split, lang) document and token accounting.

    Every stage reuses this suite's deterministic primitives (normalization
    from ``ext_text_normalize``, the Gopher-style gate from
    ``ext_quality_score``, the polynomial full-text hash in the
    ``ext_fingerprint`` family, the multiplicative split from
    ``ext_hash_split``), so the whole pipeline stays exact against the
    DuckDB oracle.

    Scale shape: stages 1-4 are pure map/filter over the scan (no Python,
    all codegen); the only shuffles are the dedup's hash partition (one
    row_number window over the text hash — equivalent to the min-doc-per-
    hash pattern in ``ext_exact_dedup``) and the final small aggregation.
    At 100 TB that is one wide exchange on a 64-bit key, which is the
    theoretical minimum for global exact dedup."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    feats = docs.select(
        "doc_id",
        "lang",
        norm.alias("norm"),
        F.length("text").alias("n_char"),
        F.size(words).alias("n_tok"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).alias(
            "n_stop"
        ),
    )
    gated = feats.filter(
        (F.col("n_char") >= 100)
        & (F.col("n_char") <= 2000)
        & (F.col("n_stop") * 1.0 / F.col("n_tok") >= 0.05)
        & (F.length("norm") >= 1)
    )
    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length("norm")),
            lambda i: F.ascii(F.col("norm").substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * _BASE + c) % _MOD,
    )
    hashed = gated.withColumn("h", poly)
    w = Window.partitionBy("h").orderBy("doc_id")
    dedup = (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    bucket = (F.col("doc_id") * 2654435761 + 12345) % 2147483647 % 100
    assigned = dedup.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("norm", " "))).cast("long").alias("total_tokens"),
    )


CHUNK_SIZE = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_SIZE - CHUNK_STRIDE


@query(
    "ext_chunk_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), numbered AS (
      SELECT doc_id, toks,
             unnest(range(0, 1 + (greatest(n_tok - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)
                              // {CHUNK_STRIDE})) AS chunk_id
      FROM base
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                         chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS BIGINT)
             AS n_tokens,
           array_to_string(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                                 chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ')
             AS chunk_text
    FROM numbered
    """,
)
def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunking — the document→training-sample
    step of an LLM data pipeline (context windows of CHUNK_SIZE tokens,
    stride CHUNK_STRIDE, so consecutive chunks overlap by SIZE−STRIDE
    tokens and no token is lost). Chunk count per doc is pure integer
    arithmetic; the chunk content is an array slice — all JVM-side
    (split/slice/explode), no Python, so at 100 TB this runs at scan
    throughput and the output is ~n_tokens/STRIDE rows per doc.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.size(toks) - F.lit(CHUNK_SIZE), F.lit(0)) + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("long")
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_SIZE)
    return (
        docs.select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_id"
            ),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@query(
    "ext_repetition_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, lang,
             list_transform(range(0, len(toks) - 1),
                            i -> toks[i + 1] || ' ' || toks[i + 2]) AS bigrams
      FROM t
    )
    SELECT doc_id, lang,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
             AS rep_score
    FROM b
    WHERE len(bigrams) > 0
    """,
)
def ext_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitiveness quality signal: fraction of duplicated word bigrams
    per document (the Gopher-style repetition gate — highly repetitive
    docs are boilerplate/spam and get filtered before training). Score =
    1 − distinct_bigrams/total_bigrams; pure integer counts and ONE double
    division, so both engines agree bit-exactly. All array ops inside
    codegen — no shuffle, no Python; at 100 TB this is a map over the
    scan."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    return (
        docs.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") > 1)
        .select("doc_id", "lang", bigrams.alias("bigrams"))
        .select(
            "doc_id",
            "lang",
            F.size("bigrams").cast("long").alias("n_bigrams"),
            F.size(F.array_distinct("bigrams")).cast("long").alias("n_distinct"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct("bigrams")).cast("double")
                / F.size("bigrams")
            ).alias("rep_score"),
        )
    )


NGRAM_TOPK = 20


@query(
    "ext_ngram_topk",
    oracle=f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), b AS (
      SELECT unnest(list_transform(range(0, len(toks) - 1),
                    i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
      FROM t
    ), counted AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY bigram
    )
    SELECT bigram, n, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, bigram ASC) AS rk
      FROM counted
    ) WHERE rk <= {NGRAM_TOPK}
    """,
)
def ext_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-K word bigrams — the vocabulary/phrase-frequency
    profile run before tokenizer training or contamination review. Explode
    to one row per bigram, partial-aggregate map-side (the heavy lifting:
    60k docs → millions of bigram rows collapse to distinct counts before
    the shuffle), then a single top-K (TakeOrderedAndProject via limit,
    deterministic count-then-alpha tie-break)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    return (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") > 1)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(NGRAM_TOPK)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("bigram").asc())
            ).cast("long"),
        )
    )


HIST_BUCKET_TOKENS = 16


@query(
    "ext_length_histogram",
    oracle=f"""
    SELECT lang,
           CAST(len(string_split(text, ' ')) // {HIST_BUCKET_TOKENS} AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def ext_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language — the corpus-shape profile used
    to pick context length and packing strategy. Bucket = token_count DIV
    {HIST_BUCKET_TOKENS}; one partial-aggregated groupBy, integer-only
    outputs."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "bucket",
            F.floor(F.size(F.split("text", " ")) / F.lit(HIST_BUCKET_TOKENS)).cast(
                "long"
            ),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_BAL_A = 48271  # minstd multiplier (same LCG family as the other exact hashes)
_BAL_B = 7919
_BAL_M = 2_147_483_647


@query(
    "ext_label_balance",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * {_BAL_A} + {_BAL_B}) % {_BAL_M}, doc_id
             ) AS rn
      FROM documents
    ), m AS (
      SELECT min(cnt) AS m FROM (
        SELECT count(*) AS cnt FROM documents GROUP BY lang
      )
    )
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM ranked, m WHERE rn <= m
    """,
)
def ext_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep exactly min-class-count docs per
    language, selected by a deterministic pseudo-random rank (minstd LCG
    over doc_id — reproducible across engines AND across runs, unlike
    sample()). The balancing target (min group count) is computed inside
    the plan and broadcast — no driver collect. This is the label-balance
    step before fine-tune mixture assembly; at 100 TB the rank is one
    window per class and the threshold a 1-row broadcast."""
    docs = load(spark, sf_dir, "documents")
    rank_key = F.pmod(F.col("doc_id") * _BAL_A + _BAL_B, F.lit(_BAL_M))
    w = Window.partitionBy("lang").orderBy(rank_key.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
    )
    m = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    return ranked.join(F.broadcast(m)).filter(F.col("rn") <= F.col("m")).drop("m")


@query(
    "ext_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), total AS (
      SELECT SUM(c) AS n FROM vocab
    ), scored AS (
      SELECT tok.doc_id,
             CAST(round(-ln(CAST(vocab.c AS DOUBLE) / n) * 1e6) AS BIGINT)
               AS lp6
      FROM tok JOIN vocab USING (w), total
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp6) // count(*) AS BIGINT) AS avg_neg_logprob6
    FROM scored GROUP BY doc_id
    """,
)
def ext_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model scoring — the cheap stand-in
    for perplexity filtering (docs whose tokens are improbable under the
    corpus distribution are outliers/noise; CCNet-style pipelines gate on
    exactly this signal, with a KenLM in place of the unigram model).

    score(doc) = Σ −ln(count(w)/N) / n_tokens. Each token's −ln(p) is
    rounded to 1e-6 and summed as exact int64 — making the double sum
    ORDER-INDEPENDENT (a raw float sum would vary with partitioning),
    which is both the determinism trick for the oracle and the right
    pattern for reproducible pipeline reruns at 100 TB. Vocab joins back
    broadcast (fixture) / shuffle (web-scale); everything else is one
    grouped aggregate. The per-doc average is integer micro-units via
    floor division — the sibling bigram key hit an exact half boundary
    in the old ``round(sum/1e6/n, 4)`` at sf0.1 where the engines'
    double rounding disagrees (round-8 sweep); same guard here."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "w")
        .join(F.broadcast(total))
        .withColumn(
            "lp6",
            F.round(-F.log(F.col("c").cast("double") / F.col("n")) * F.lit(1e6)).cast(
                "long"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("sum(lp6) div count(1)").alias("avg_neg_logprob6"),
    )


# Target mixture over the lang column, as integer weights summing to 10 —
# the fine-tune-mixture shape ("half English, rest split evenly").
MIXTURE_WEIGHTS = (("en", 5), ("de", 2), ("es", 2), ("fr", 1))


def _mixture_cases(col: str) -> str:
    return " ".join(
        f"WHEN {col} = '{k}' THEN {w}" for k, w in MIXTURE_WEIGHTS
    )


@query(
    "ext_dataset_mixture",
    oracle=f"""
    WITH weighted AS (
      SELECT doc_id, lang,
             CASE {_mixture_cases("lang")} ELSE 0 END AS w,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * {_BAL_A} + {_BAL_B}) % {_BAL_M}, doc_id
             ) AS rn
      FROM documents
    ), caps AS (
      SELECT lang, w, count(*) AS cnt FROM weighted
      WHERE w > 0 GROUP BY lang, w
    ), scale AS (
      -- largest T (scaled x10) such that every source can fill its quota
      SELECT min(cnt * 10 // w) AS t FROM caps
    ), quota AS (
      SELECT lang, w * t // 10 AS q FROM caps, scale
    )
    SELECT weighted.doc_id, weighted.lang, CAST(rn AS BIGINT) AS rn
    FROM weighted JOIN quota USING (lang)
    WHERE rn <= q
    """,
)
def ext_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset-mixture sampling: draw documents so the output
    matches target language proportions (50%% en / 20%% de / 20%% es /
    10%% fr), taking the LARGEST feasible mixture given per-language
    availability — the mixture-assembly step of fine-tune corpus prep.

    All arithmetic is integer (weights ×10; feasible scale T =
    min(count·10 div w); quota = w·T div 10) and selection is the same
    deterministic minstd-LCG ranking as ``ext_label_balance``, so the
    sample is reproducible across engines AND reruns. Availability counts
    and quotas stay inside the plan (broadcast joins, no collect); the
    rank is one window per language."""
    docs = load(spark, sf_dir, "documents")
    w_expr = F.lit(0)
    for k, w in reversed(MIXTURE_WEIGHTS):
        w_expr = F.when(F.col("lang") == k, F.lit(w)).otherwise(w_expr)
    rank_key = F.pmod(F.col("doc_id") * _BAL_A + _BAL_B, F.lit(_BAL_M))
    win = Window.partitionBy("lang").orderBy(rank_key.asc(), F.col("doc_id").asc())
    weighted = docs.select(
        "doc_id", "lang", w_expr.alias("w"),
        F.row_number().over(win).cast("long").alias("rn"),
    )
    caps = weighted.filter(F.col("w") > 0).groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scale = caps.agg(
        F.min(F.floor(F.col("cnt") * 10 / F.col("w"))).alias("t")
    )
    quota = caps.join(F.broadcast(scale)).select(
        "lang", F.floor(F.col("w") * F.col("t") / 10).alias("q")
    )
    return (
        weighted.join(F.broadcast(quota), "lang")
        .filter(F.col("rn") <= F.col("q"))
        .select("doc_id", "lang", "rn")
    )


PMI_MIN_COUNT = 5  # bigram support floor — rare pairs have unstable PMI


@query(
    "ext_pmi_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS toks FROM documents
    ), uni AS (
      SELECT unnest(toks) AS w FROM t
    ), uc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), un AS (
      SELECT SUM(c) AS n FROM uc
    ), bi AS (
      SELECT unnest(list_transform(range(0, len(toks) - 1),
                    i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
      FROM t
    ), bc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS cxy FROM bi GROUP BY bigram
    ), bn AS (
      SELECT SUM(cxy) AS m FROM bc
    )
    SELECT bigram, cxy,
           round(ln(CAST(cxy * n * n AS DOUBLE)
                    / CAST(m * c1.c * c2.c AS DOUBLE)), 4) + 0.0 AS pmi
    FROM bc, un, bn
    JOIN uc c1 ON c1.w = string_split(bigram, ' ')[1]
    JOIN uc c2 ON c2.w = string_split(bigram, ' ')[2]
    WHERE cxy >= {PMI_MIN_COUNT}
    """,
)
def ext_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word bigrams — the collocation
    detector (phrases like "new york" score high because they co-occur far
    above chance); used for tokenizer-merge candidates and phrase mining.
    PMI = ln(p(xy) / p(x)p(y)) computed from EXACT integer counts: the
    ratio (c_xy·N²)/(M·c_x·c_y) is one int64-exact fraction per bigram, so
    both engines take ln of the identical double (±1 ulp, absorbed by the
    4-decimal rounding). The support floor keeps the output set integer-
    deterministic. Plan: two grouped counts + two broadcast joins of the
    unigram vocabulary back onto bigrams."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("toks"))
    uni = toks.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    un = uc.agg(F.sum("c").alias("n"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    bc = (
        toks.filter(F.size("toks") > 1)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= PMI_MIN_COUNT)
    )
    bn = (
        toks.filter(F.size("toks") > 1)
        .select((F.size("toks") - 1).alias("nb"))
        .agg(F.sum("nb").alias("m"))
    )
    w1 = F.split("bigram", " ").getItem(0)
    w2 = F.split("bigram", " ").getItem(1)
    c1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bc.join(F.broadcast(un))
        .join(F.broadcast(bn))
        .join(F.broadcast(c1), w1 == F.col("w1"))
        .join(F.broadcast(c2), w2 == F.col("w2"))
        .select(
            "bigram",
            "cxy",
            (
                F.round(
                    F.log(
                        (F.col("cxy") * F.col("n") * F.col("n")).cast("double")
                        / (F.col("m") * F.col("c1") * F.col("c2")).cast("double")
                    ),
                    4,
                )
                + F.lit(0.0)  # -0.0 + 0.0 = +0.0 in both engines
            ).alias("pmi"),
        )
    )


@query(
    "ext_word_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), wc AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, w
    ), agg AS (
      SELECT doc_id,
             SUM(c) AS n,
             SUM(CAST(round(c * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS s6
      FROM wc GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           round(ln(CAST(n AS DOUBLE)) - s6 / 1e6 / n, 4) AS entropy
    FROM agg
    """,
)
def ext_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's word distribution — low entropy
    flags boilerplate/keyword-stuffed text, very high entropy flags
    gibberish; a standard cheap quality gate next to the repetition score.
    H = ln(n) − Σ c·ln(c)/n with the Σ as per-term-rounded scaled int64
    (order-independent across partitions; per-term ln 1-ulp absorbed by
    the 1e-6 rounding), final 4-decimal presentation rounding. One
    (doc, word) count + one per-doc aggregate — two partial-agg shuffles,
    no Python."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")) * F.lit(1e6)).cast(
                "long"
            )
        ).alias("s6"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(
            F.log(F.col("n").cast("double")) - F.col("s6") / F.lit(1e6) / F.col("n"),
            4,
        ).alias("entropy"),
    )


@query(
    "ext_source_quality_report",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_unique
    FROM documents
    GROUP BY source
    """,
)
def ext_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report: volume, token mass, language
    spread, English share, and unique-content count (distinct sha256 —
    dup rate per source falls out as n_docs − n_unique). This is the
    monitoring query a crawl pipeline runs per ingest batch to catch a
    source gone bad (collapsed language mix, spiking dup rate) BEFORE the
    data reaches training. One grouped aggregate; the distinct counts
    expand map-side; all integer outputs — exact."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
        F.countDistinct(F.sha2("text", 256)).cast("long").alias("n_unique"),
    )


@query(
    "ext_lang_confusion",
    oracle=f"""
    WITH pred AS (
      {_LANGID_ORACLE}
    )
    SELECT actual_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           count(*) * 1.0
             / sum(count(*)) OVER (PARTITION BY actual_lang) AS class_share
    FROM pred
    GROUP BY actual_lang, pred_lang
    """,
)
def ext_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: per (labeled, predicted) pair, the
    count and the share of the labeled class — the evaluation table a
    pipeline owner reads before trusting the classifier as a filter
    (which languages leak into which). Composes the langid scorer with a
    grouped count plus a per-class window normalization; the matrix is
    |langs|² rows regardless of corpus size, so everything after the
    first aggregate is negligible at any scale."""
    from pyspark.sql.window import Window

    pred = ext_langid(spark, sf_dir)
    counts = pred.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("actual_lang")
    return counts.select(
        "actual_lang",
        "pred_lang",
        "n",
        (F.col("n") * 1.0 / F.sum("n").over(w)).alias("class_share"),
    )


@query(
    "ext_type_token_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), tc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           count(*) * 1.0 / SUM(c) AS ttr,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
             AS hapax_share
    FROM tc GROUP BY source
    """,
)
def ext_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: type/token ratio and hapax share —
    near-zero TTR flags template/boilerplate sources, abnormally high
    hapax share flags OCR noise or spam gibberish. Two grouped
    aggregates ((source, term) counts, then per-source rollup); both are
    partial-aggregated map-side, and the shuffle carries term counts, not
    text. Integer counts with two final divisions — exact."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    tc = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    return tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.count(F.lit(1)) * 1.0 / F.sum("c")).alias("ttr"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            * 1.0
            / F.count(F.lit(1))
        ).alias("hapax_share"),
    )


VOCAB_SIZE = 100


@query(
    "ext_vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ), vocab AS (
      SELECT w FROM freq ORDER BY c DESC, w ASC LIMIT {VOCAB_SIZE}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           SUM(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*)
             AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.w = vocab.w
    GROUP BY source
    """,
)
def ext_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage gate: fix the vocabulary to the corpus's top-N
    terms (count-desc, term tie-break — deterministic) and measure each
    source's out-of-vocabulary token share — the number that predicts how
    badly a tokenizer will fragment a source before you train on it. The
    vocab is tiny and BROADCAST into the token stream (left join + null
    flag); the token stream itself is never re-shuffled. Integer counts,
    one final division — exact."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # top-VOCAB_SIZE via orderBy+limit (TakeOrderedAndProject: per-
    # partition heap + k-row merge) — the previous rank-then-filter shape
    # sorted the whole vocabulary in one task (round-5 fix, same as
    # ext_hill_tail_index)
    vocab = (
        freq.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(VOCAB_SIZE)
        .select(F.col("w").alias("vw"))
    )
    return (
        tok.join(F.broadcast(vocab), tok.w == F.col("vw"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("vw").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            (
                F.sum(F.when(F.col("vw").isNull(), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


@query(
    "ext_curriculum_order",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(round(
               len(list_distinct(string_split(text, ' '))) * 1e6
               / len(string_split(text, ' '))
             ) AS BIGINT) AS score6
      FROM documents
    )
    SELECT doc_id, score6,
           CAST(row_number() OVER (ORDER BY score6 DESC, doc_id ASC)
                AS BIGINT) AS curriculum_rank,
           CAST(ntile(4) OVER (ORDER BY score6 DESC, doc_id ASC)
                AS BIGINT) AS phase
    FROM scored
    """,
)
def ext_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank the corpus by a deterministic quality
    proxy (scaled distinct-token ratio — low repetition first) and cut it
    into 4 training phases — the data-ordering step of curriculum
    training, where a stable, reproducible global order IS the contract
    (re-runs must feed batches identically). The score is an integer
    (1e-6-scaled ratio) with doc_id tie-break, so the total order is
    exact. Rank AND phase both derive from ONE ``distributed_row_number``
    pass (range exchange on (score6 desc, doc_id) + in-partition rank +
    broadcast partition prefix-counts), phase via closed-form
    ``ntile_from_rank`` — no single-task global sort; per-doc scoring
    stays fully parallel."""
    docs = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(words)) * F.lit(1e6) / F.size(words)
        )
        .cast("long")
        .alias("score6"),
    )
    ranked = distributed_row_number(
        scored,
        [F.col("score6").desc(), F.col("doc_id").asc()],
        rn="curriculum_rank",
    )
    return ntile_from_rank(ranked, "curriculum_rank", 4, "phase").select(
        "doc_id",
        "score6",
        F.col("curriculum_rank").cast("long").alias("curriculum_rank"),
        F.col("phase").cast("long").alias("phase"),
    )


@query(
    "ext_length_outliers",
    oracle="""
    WITH stats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS s1,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    )
    SELECT doc_id, d.source, n_chars
    FROM documents d JOIN stats USING (source)
    WHERE (n * n_chars - s1) * (n * n_chars - s1) > 4 * (n * s2 - s1 * s1)
    """,
)
def ext_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-anomaly gate: docs more than 2 standard
    deviations from their source's mean length — truncated downloads and
    concatenation bugs show up here before they poison training. The
    |z| > 2 test is algebraically cleared of ALL division and sqrt:
    (n·x − Σx)² > 4(n·Σx² − (Σx)²) — pure int64 arithmetic, so the cut
    is bit-exact (no 1-ulp stddev edge cases). One grouped aggregate
    (3 int moments per source) broadcast back into the scan."""
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    j = docs.join(F.broadcast(stats), "source")
    dev = F.col("n") * F.col("n_chars") - F.col("s1")
    return j.filter(
        dev * dev > 4 * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    ).select("doc_id", "source", "n_chars")


@query(
    "ext_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), big AS (
      SELECT a.doc_id, a.w AS b1, b.w AS b2
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), c2 AS (
      SELECT b1, b2, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1, 2
    ), c1 AS (
      SELECT b1, CAST(SUM(c) AS BIGINT) AS h FROM c2 GROUP BY 1
    ), scored AS (
      SELECT big.doc_id,
             CAST(round(-ln(CAST(c2.c AS DOUBLE) / c1.h) * 1e6) AS BIGINT)
               AS lp6
      FROM big
      JOIN c2 USING (b1, b2)
      JOIN c1 USING (b1)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp6) // count(*) AS BIGINT) AS avg_neg_logprob6
    FROM scored GROUP BY doc_id
    """,
)
def ext_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: per-doc average −ln P(w_i | w_{i−1})
    with conditional probabilities from exact corpus bigram counts — one
    Markov order above the unigram gate, so word-salad that passes a
    unigram filter (all common words, nonsense order) scores badly here.
    Bigrams are extracted MAP-SIDE (zip of the token array with its own
    tail — no positional self-join in Spark), counted once, and joined
    back; per-token −ln(p) is 1e-6-scaled int64, so the sum is
    order-independent and bit-exact. The per-doc AVERAGE is integer
    micro-units via floor division (round-8 sf0.1 sweep: the old
    ``round(sum/1e6/n, 4)`` hit an exact half boundary — 115815900/34 =
    3406350 µunits = 3.40635 — where Spark's and DuckDB's double
    rounding disagree; the repo's micro-unit rule exists precisely for
    this, and integer division cannot drift at any scale)."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    big = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(w, 1, F.size(w) - 1),
                F.slice(w, 2, F.size(w) - 1),
            )
        ).alias("bg"),
    ).select(
        "doc_id", F.col("bg")["0"].alias("b1"), F.col("bg")["1"].alias("b2")
    )
    c2 = big.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c2.groupBy("b1").agg(F.sum("c").alias("h"))
    scored = (
        big.join(F.broadcast(c2), ["b1", "b2"])
        .join(F.broadcast(c1), "b1")
        .withColumn(
            "lp6",
            F.round(
                -F.log(F.col("c").cast("double") / F.col("h")) * F.lit(1e6)
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("sum(lp6) div count(1)").alias("avg_neg_logprob6"),
    )


SPAN_MASK_RATE = 15  # percent of token positions masked (T5 uses ~15%)


@query(
    "ext_span_corruption",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id % 5 = 0
    ), masked AS (
      SELECT doc_id, len(toks) AS n_tokens,
             list_transform(
               range(1, len(toks) + 1),
               i -> CASE WHEN (48271 * (doc_id * 100000 + i - 1))
                              % 2147483647 % 100 < {SPAN_MASK_RATE}
                         THEN '<extra_id>' ELSE toks[i] END
             ) AS out_toks
      FROM base
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(list_filter(out_toks, t -> t = '<extra_id>')) AS BIGINT)
             AS n_masked,
           array_to_string(out_toks, ' ') AS masked_text
    FROM masked
    """,
)
def ext_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption prep: deterministically mask ~15% of token
    positions with a sentinel — the objective-construction step of a
    denoising pretraining pipeline, where REPRODUCIBILITY of the mask is
    the contract (same doc ⇒ same mask on every rerun/backfill, no RNG
    state to ship). Mask decisions come from an explicit minstd-LCG hash
    of (doc_id, position), so the oracle reproduces them bit-for-bit.
    Pure map-side expression — scan throughput, zero shuffle."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = F.split("text", " ")
    mask = lambda x, i: F.when(  # noqa: E731
        (48271 * (F.col("doc_id") * 100000 + i)) % 2147483647 % 100
        < SPAN_MASK_RATE,
        F.lit("<extra_id>"),
    ).otherwise(x)
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.transform(toks, mask).alias("out_toks"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.size(F.filter("out_toks", lambda t: t == "<extra_id>"))
        .cast("long")
        .alias("n_masked"),
        # NULL-array guard (LATTICE_AUDIT_r15.md): concat_ws over a NULL
        # ARRAY yields '' on Spark (the NULL argument is skipped like any
        # other) where the oracle's NULL token list renders NULL — a
        # NULL-text document must keep a NULL masked_text on both engines.
        F.when(
            F.col("out_toks").isNotNull(), F.concat_ws(" ", "out_toks")
        ).alias("masked_text"),
    )


def _packing_oracle() -> str:
    from ..registry import REGISTRY

    packed = REGISTRY["ext_sequence_packing"].oracle
    return f"""
    WITH packed AS (
      {packed}
    ), bins AS (
      SELECT part, bin_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM packed GROUP BY part, bin_id
    )
    SELECT part,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           round(SUM(tokens) * 1.0 / (count(*) * {PACK_CAPACITY}), 4)
             AS fill_rate,
           CAST(min(tokens) AS BIGINT) AS min_bin_tokens
    FROM bins GROUP BY part
    """


@query("ext_packing_efficiency", oracle=_packing_oracle())
def ext_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing observability: per shard, how many training sequences the
    greedy packer produced and how full they are (fill rate against the
    token budget, worst bin) — the accounting that tells you whether
    padding waste justifies a smarter packer (first-fit-decreasing,
    length-bucketed batching). Composes the registered packing operator
    with two tiny grouped aggregates; cost is the packing pass itself."""
    packed = ext_sequence_packing(spark, sf_dir)
    bins = packed.groupBy("part", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
    )
    return bins.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("tokens") * 1.0 / (F.count(F.lit(1)) * F.lit(PACK_CAPACITY)), 4
        ).alias("fill_rate"),
        F.min("tokens").cast("long").alias("min_bin_tokens"),
    )


@query(
    "ext_bpe_pair_stats",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM tok WHERE length(w) >= 2 GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
               i -> substring(w, CAST(i AS INT), 2))) AS pair, f
      FROM freq
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def ext_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE-merge iteration over the corpus: adjacent character-pair
    frequencies weighted by word occurrence counts — the statistic a
    tokenizer trainer recomputes every merge round. The expensive part
    (pair explosion) runs over DISTINCT words with their counts, not over
    every token occurrence: at 100 TB the distinct-word table is orders of
    magnitude smaller than the token stream, so each merge iteration is a
    small-side explode + sum instead of a corpus re-scan (the standard
    word-counts optimization in BPE trainers). Top-20 with deterministic
    count-desc/pair-asc order."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pairs = freq.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


_WIN_W = 4  # winnowing window: one fingerprint per 4 consecutive grams
_POS_BITS = 1 << 20  # position packing bound; fixture docs are << 1M chars


_WINNOW_GRAM_SCHEMA = "doc_id BIGINT, pos INT, h BIGINT"


def _winnow_gram_hashes(batches):
    """(doc_id, text) Arrow batches → (doc_id, pos, h) gram-hash rows.

    Vectorized replica of the JVM expression it replaced: for each
    1-based character position p of a document, h = fold over the 8-gram
    starting at p of acc -> (acc*_BASE + codepoint) % _MOD, acc0 = 7.
    Characters are UTF-32 codepoints — identical to
    ascii(substr(text, p, 1)) per character — and all arithmetic is
    int64 modular (values stay < 2^39), so the hashes are bit-equal to
    the expression form on any input, not just ASCII. NULL doc_ids (the
    lattice fixtures) pass through as nulls via an explicit mask."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        ids = batch.column("doc_id").to_pylist()
        texts = batch.column("text").to_pylist()
        vals, mask, poss, hs = [], [], [], []
        for did, txt in zip(ids, texts):
            cp = np.frombuffer(
                txt.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            n = cp.size - _GRAM + 1
            if n <= 0:
                continue
            acc = np.full(n, 7, dtype=np.int64)
            for k in range(_GRAM):
                acc = (acc * _BASE + cp[k : k + n]) % _MOD
            vals.append(np.full(n, -1 if did is None else did, dtype=np.int64))
            mask.append(np.full(n, did is None))
            poss.append(np.arange(1, n + 1, dtype=np.int32))
            hs.append(acc)
        if vals:
            yield pa.record_batch(
                [
                    pa.array(
                        np.concatenate(vals),
                        pa.int64(),
                        mask=np.concatenate(mask),
                    ),
                    pa.array(np.concatenate(poss), pa.int32()),
                    pa.array(np.concatenate(hs), pa.int64()),
                ],
                names=["doc_id", "pos", "h"],
            )



@query(
    "ext_winnow_fingerprints",
    oracle=f"""
    WITH hl AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(text) - {_GRAM} + 2, 1)),
               p -> list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(range(0, {_GRAM}),
                          k -> CAST(ascii(substring(text, CAST(p + k AS INT), 1))
                               AS BIGINT))),
                      (acc, c) -> (acc * {_BASE} + c) % {_MOD})) AS hs
      FROM documents WHERE length(text) >= {_GRAM}
    ), g AS (
      SELECT doc_id, generate_subscripts(hs, 1) AS pos, unnest(hs) AS h
      FROM hl
    ), k AS (
      SELECT doc_id,
             count(*) OVER w AS wn,
             min(h * {_POS_BITS} + ({_POS_BITS - 1} - pos)) OVER w AS mk
      FROM g
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
    )
    SELECT DISTINCT doc_id,
           CAST(mk // {_POS_BITS} AS BIGINT) AS fp,
           CAST({_POS_BITS - 1} - mk % {_POS_BITS} AS BIGINT) AS pos
    FROM k WHERE wn = {_WIN_W}
    """,
)
def ext_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing: each document's 8-gram Rabin-Karp hashes are reduced
    to one fingerprint per {_WIN_W}-gram window (the window MINIMUM, ties
    broken toward the RIGHTMOST position by packing (hash, -pos) into one
    integer key), then deduplicated — the guarantee is every match of
    length >= {_GRAM}+{_WIN_W}-1 chars shares a fingerprint, at ~2/({_WIN_W}+1)
    the density of full gram hashing. ext_fingerprint is the degenerate
    whole-doc min; this is the real positional sampling plagiarism/overlap
    detectors index.

    Scale: hashing + window-min are per-document (partition-local after the
    doc-id shuffle); fingerprints (ints, never text) are what downstream
    overlap joins exchange. Position packing assumes doc length < 2^20
    chars — re-band for longer inputs."""
    docs = (
        fan_out(load(spark, sf_dir, "documents"))
        .filter(F.length("text") >= _GRAM)
        .select("doc_id", "text")
    )

    # Gram hashing runs as vectorized int64 numpy inside mapInArrow (r16,
    # guide §4.2): the previous JVM expression tree evaluated an 8-step
    # modular fold per character POSITION (8 × len ops/doc through
    # interpreted higher-order aggregate lambdas); numpy folds the k-th
    # gram character across ALL positions of a document at once (8
    # vectorized passes total). Bit-exact by construction — pure int64
    # mod arithmetic, and characters enter as UTF-32 codepoints, which is
    # precisely what ascii(substr(text, p, 1)) yielded per character
    # (verified IDENTICAL on all 1,450,576 sf0.1 gram hashes). Only
    # (doc_id, text) crosses the boundary, and only the two columns the
    # function needs are selected above (guide §4.1). Measured: the
    # hashing stage 1.12 s → 0.61 s, the full key 1.54 s → 1.06 s at
    # sf0.1.
    g = docs.mapInArrow(_winnow_gram_hashes, _WINNOW_GRAM_SCHEMA)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    key = F.col("h") * _POS_BITS + (F.lit(_POS_BITS - 1) - F.col("pos"))
    k = g.select(
        "doc_id",
        F.count(F.lit(1)).over(w).alias("wn"),
        F.min(key).over(w).alias("mk"),
    ).filter(F.col("wn") == _WIN_W)
    return k.select(
        "doc_id",
        F.expr(f"mk DIV {_POS_BITS}").alias("fp"),
        (F.lit(_POS_BITS - 1) - F.col("mk") % _POS_BITS).alias("pos"),
    ).distinct()


@query(
    "ext_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), total AS (
      SELECT SUM(c) AS n FROM vocab
    ), scored AS (
      SELECT tok.doc_id,
             CAST(round(-ln(CAST(vocab.c AS DOUBLE) / n) * 1e6) AS BIGINT)
               AS lp6
      FROM tok JOIN vocab USING (w), total
    ), per_doc AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(s.lp6) // count(*) AS BIGINT) AS score6
      FROM scored s JOIN documents d ON s.doc_id = d.doc_id
      GROUP BY 1, 2
    ), bucketed AS (
      SELECT doc_id, lang, score6,
             ntile(3) OVER (PARTITION BY lang ORDER BY score6, doc_id)
               AS tercile
      FROM per_doc
    )
    SELECT doc_id, lang, score6 / 1e6 AS avg_neg_logprob,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM bucketed
    """,
)
def ext_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: documents scored by the
    corpus unigram LM (ext_unigram_logprob's integer-summed −ln p, so the
    score is order-independent), then split into per-language terciles —
    'head' is the most-fluent third that CCNet keeps unconditionally,
    'tail' the third that usually gets dropped or down-weighted. The
    tercile uses ntile over (score, doc_id), fully deterministic.

    Scale: scoring is the unigram join (vocab broadcast at fixture scale,
    shuffle at web scale); the tercile is one window per language — at
    100 TB replace ntile with per-language approx quantile CUTS computed
    once and joined back, same output contract, no global sort."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(vocab), "w")
        .join(F.broadcast(total))
        .withColumn(
            "lp6",
            F.round(-F.log(F.col("c").cast("double") / F.col("n")) * F.lit(1e6)).cast(
                "long"
            ),
        )
    )
    per_doc = (
        scored.groupBy("doc_id")
        .agg(
            F.sum("lp6").alias("sum_lp6"), F.count(F.lit(1)).alias("cnt")
        )
        .select("doc_id", F.expr("sum_lp6 DIV cnt").alias("score6"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    w = Window.partitionBy("lang").orderBy("score6", "doc_id")
    return (
        per_doc.withColumn("tercile", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            (F.col("score6") / F.lit(1e6)).alias("avg_neg_logprob"),
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@query(
    "ext_quality_funnel",
    oracle="""
    WITH f AS (
      SELECT n_chars >= 200 AS g1,
             (CASE WHEN length(text) = 0 THEN 0
                   ELSE length(text) - length(replace(text, ' ', '')) + 1
              END) >= 30 AS g2,
             length(replace(replace(replace(text, 'the', ''), 'and', ''),
                            'of', '')) < length(text) AS g3,
             NOT regexp_matches(text, '[^ ]{31,}') AS g4
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS s1,
             CAST(count(*) FILTER (WHERE g1 AND g2) AS BIGINT) AS s2,
             CAST(count(*) FILTER (WHERE g1 AND g2 AND g3) AS BIGINT) AS s3,
             CAST(count(*) FILTER (WHERE g1 AND g2 AND g3 AND g4) AS BIGINT)
               AS s4
      FROM f
    )
    SELECT 1 AS stage, 'min_chars' AS gate, n AS n_in, s1 AS n_out FROM agg
    UNION ALL
    SELECT 2, 'min_tokens', s1, s2 FROM agg
    UNION ALL
    SELECT 3, 'has_stopword', s2, s3 FROM agg
    UNION ALL
    SELECT 4, 'no_overlong_token', s3, s4 FROM agg
    """,
)
def ext_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate FUNNEL with per-stage attrition — the observability
    layer every production filter chain needs: not just who survives, but
    which gate is doing the killing (a gate dropping 40% overnight is a
    data-drift alarm, not a quality improvement). Four ordered gates
    (length floor, token floor, English-stopword presence, no 5+ repeated
    no 31+-char token) evaluated as flags in ONE scan; the funnel is a single
    aggregate with conditional counts unpivoted to one row per stage —
    corpus size never re-scanned per gate.

    Scale: one pass, one 1-row aggregate, 4 output rows. The same flags
    feed ext_corpus_pipeline's gate; this key is the report beside it."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    stop_stripped = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("the"), F.lit("")),
            F.lit("and"),
            F.lit(""),
        ),
        F.lit("of"),
        F.lit(""),
    )
    f = docs.select(
        (F.col("n_chars") >= 200).alias("g1"),
        (n_tokens >= 30).alias("g2"),
        (F.length(stop_stripped) < F.length("text")).alias("g3"),
        (~F.col("text").rlike("[^ ]{31,}")).alias("g4"),
    )
    agg = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("g1"), 1)).alias("s1"),
        F.count(F.when(F.col("g1") & F.col("g2"), 1)).alias("s2"),
        F.count(F.when(F.col("g1") & F.col("g2") & F.col("g3"), 1)).alias("s3"),
        F.count(
            F.when(F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4"), 1)
        ).alias("s4"),
    )
    stages = [
        (1, "min_chars", "n", "s1"),
        (2, "min_tokens", "s1", "s2"),
        (3, "has_stopword", "s2", "s3"),
        (4, "no_overlong_token", "s3", "s4"),
    ]
    out = None
    for stage, gate, n_in, n_out in stages:
        row = agg.select(
            F.lit(stage).alias("stage"),
            F.lit(gate).alias("gate"),
            F.col(n_in).alias("n_in"),
            F.col(n_out).alias("n_out"),
        )
        out = row if out is None else out.unionAll(row)
    return out


_SENT_POS = ("good", "great", "best", "love", "new")
_SENT_NEG = ("bad", "worst", "hate", "old", "wrong")


@query(
    "ext_sentiment_lexicon",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             CAST(count(*) FILTER (WHERE w IN
               ({", ".join(repr(w) for w in _SENT_POS)})) AS BIGINT) AS n_pos,
             CAST(count(*) FILTER (WHERE w IN
               ({", ".join(repr(w) for w in _SENT_NEG)})) AS BIGINT) AS n_neg
      FROM tok GROUP BY doc_id, lang
    )
    SELECT doc_id, lang, n_pos, n_neg,
           n_pos - n_neg AS polarity,
           CASE WHEN n_pos > n_neg THEN 'pos'
                WHEN n_neg > n_pos THEN 'neg' ELSE 'neutral' END AS label
    FROM scored
    """,
)
def ext_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the Spark-at-scale classic, cf.
    EDBT'16 Twitter sentiment): per document, counts of positive- and
    negative-lexicon tokens, an integer polarity, and a 3-way label — the
    cheap weak-supervision signal pipelines use to slice corpora before a
    model-based pass. Word lists are literals; counting is one conditional
    aggregate over the token explode, fully exact.

    Scale: one scan + one grouped count; the lexicon lives in the
    expression (no join). A 10k-word production lexicon becomes a
    broadcast map lookup, same single-pass plan."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    pos = F.array(*[F.lit(w) for w in _SENT_POS])
    neg = F.array(*[F.lit(w) for w in _SENT_NEG])
    scored = tok.groupBy("doc_id", "lang").agg(
        F.count(F.when(F.array_contains(pos, F.col("w")), 1)).alias("n_pos"),
        F.count(F.when(F.array_contains(neg, F.col("w")), 1)).alias("n_neg"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_pos",
        "n_neg",
        (F.col("n_pos") - F.col("n_neg")).alias("polarity"),
        F.when(F.col("n_pos") > F.col("n_neg"), "pos")
        .when(F.col("n_neg") > F.col("n_pos"), "neg")
        .otherwise("neutral")
        .alias("label"),
    )


@query(
    "ext_intradoc_dedup",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, '. '), 1) AS idx,
             unnest(string_split(text, '. ')) AS sentence
      FROM documents
    ), keep AS (
      SELECT doc_id, sentence, min(idx) AS first_idx,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM s WHERE length(sentence) > 0
      GROUP BY doc_id, sentence
    )
    SELECT doc_id,
           CAST(SUM(n_copies) AS BIGINT) AS n_sentences,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(sentence, '. ' ORDER BY first_idx) AS text_dedup
    FROM keep GROUP BY doc_id
    """,
)
def ext_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document dedup (the FineWeb/RefinedWeb line-dedup step):
    repeated sentences inside one document — boilerplate, nav text,
    templated headers — are dropped, keeping each sentence's FIRST
    occurrence and rebuilding the document in original order. Cross-doc
    dedup (ext_exact_dedup et al.) removes copies of documents; this
    removes the copies hiding inside them, and at web scale it deletes
    more tokens than document dedup does.

    Scale: explode → (doc, sentence) group → ordered string_agg, all
    partition-local after one shuffle on doc_id; no cross-document state
    at all.

    No fan_out: the sentence split is cheap and the very next operator
    is a (doc_id, sentence) shuffle anyway, so a round-robin exchange of
    the text would only add a full-width pass."""
    docs = load(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\\. ")).alias("idx0", "sentence"),
    ).filter(F.length("sentence") > 0)
    keep = s.groupBy("doc_id", "sentence").agg(
        F.min("idx0").alias("first_idx"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("first_idx", "sentence"))
            ),
            lambda x: x.sentence,
        ),
        ". ",
    )
    return keep.groupBy("doc_id").agg(
        F.sum("n_copies").alias("n_sentences"),
        F.count(F.lit(1)).alias("n_kept"),
        rebuilt.alias("text_dedup"),
    )


@query(
    "ext_html_extract",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
             || '</title></head><body><p>'
             || replace(text, '. ', '.</p><p>') || '</p></body></html>'
               AS html
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
                ' +', ' ', 'g')) AS body_text,
           CAST(length(html) - length(regexp_replace(html, '<[^>]+>', '', 'g'))
                AS BIGINT) AS markup_chars
    FROM h
    """,
)
def ext_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction, the step zero of every web-corpus pipeline:
    title pulled from its tag, body linearized by replacing tags with
    whitespace and collapsing runs, plus a markup-overhead count (the
    boilerplate-ratio signal trafilatura-class extractors threshold on).
    The HTML is synthesized in-query from the fixture text (documents are
    stored extracted), so the oracle sees the identical input; patterns
    are RE2-safe and tag-only, semantics identical across engines. A real
    DOM extractor slots in as a mapInPandas stage behind the same schema
    (the multimodal-decode pattern).

    Scale: pure per-row regex inside codegen — scan-speed, no shuffle."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><p>"),
        F.replace(F.col("text"), F.lit(". "), F.lit(".</p><p>")),
        F.lit("</p></body></html>"),
    )
    h = docs.select("doc_id", html.alias("html"))
    return h.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace("html", "<[^>]+>", " "), " +", " "
            )
        ).alias("body_text"),
        (
            F.length("html")
            - F.length(F.regexp_replace("html", "<[^>]+>", ""))
        ).cast("long").alias("markup_chars"),
    )


@query(
    "ext_lsa_power_step",
    oracle="""
    WITH tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE length(w) > 0 GROUP BY doc_id, w
    ), u AS (
      -- u = A v0 with v0 = all-ones: per-document activation
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS u FROM tf GROUP BY doc_id
    ), wvec AS (
      -- w = A^T u: per-term centrality after one power half-pair
      SELECT tf.w AS term, CAST(SUM(tf.c * u.u) AS BIGINT) AS score
      FROM tf JOIN u USING (doc_id) GROUP BY tf.w
    )
    SELECT term, score FROM wvec
    ORDER BY score DESC, term LIMIT 20
    """,
)
def ext_lsa_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unnormalized power-iteration step toward the doc-term matrix's
    top singular direction (the LSA axis): v0 = ones, u = A·v0, w = Aᵀ·u —
    terms ranked by w are the corpus's dominant-topic vocabulary, computed
    as two join-aggregates with EXACT integer arithmetic (no floats at
    all, so the ranking is bit-deterministic). Further iterations repeat
    the same pair of shapes; normalization only matters for convergence
    monitoring, not the ranking.

    Scale: matrix-times-vector as relational algebra — the tf matrix
    never materializes densely; each half-step is one shuffle (doc, then
    term). This is how sparse linear algebra actually runs on an engine."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    u = tf.groupBy("doc_id").agg(F.sum("c").alias("u"))
    wvec = (
        tf.join(u, "doc_id")
        .groupBy(F.col("w").alias("term"))
        .agg(F.sum(F.col("c") * F.col("u")).alias("score"))
    )
    return wvec.orderBy(F.col("score").desc(), "term").limit(20)


@query(
    "ext_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bi AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t), 1)),
               i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks
    ), df AS (
      SELECT g, CAST(count(*) AS BIGINT) AS df FROM bi GROUP BY g
    )
    SELECT bi.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(*) FILTER (WHERE df.df = 1) AS BIGINT) AS n_unique,
           CAST(count(*) FILTER (WHERE df.df = 1) * 1000000 // count(*)
                AS BIGINT) AS novelty6
    FROM bi JOIN df USING (g)
    GROUP BY bi.doc_id
    """,
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty score: the fraction of a document's distinct bigrams
    that appear NOWHERE else in the corpus — low novelty means the text is
    assembled from phrases the corpus already contains (template/boiler-
    plate or near-copy; the memorization-risk signal), high novelty means
    genuinely new phrasing. Denominator and numerator are exact distinct
    counts, the rate is integer micro-units.

    Scale: one bigram document-frequency aggregation (the token-stream
    shuffle) joined back to per-doc bigram sets — the identical two-pass
    shape as TF-IDF, and at 100 TB the df table is the only wide state."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bi = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), i),
                        F.element_at(F.col("t"), i + 1),
                    ),
                )
            ).alias("g"),
        )
        .distinct()
    )
    df = bi.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.count(F.when(F.col("df") == 1, 1))
    return (
        bi.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            uniq.alias("n_unique"),
            F.expr(
                "count(CASE WHEN df = 1 THEN 1 END) * 1000000 DIV count(*)"
            ).alias("novelty6"),
        )
    )


@query(
    "ext_classifier_metrics",
    oracle=f"""
    WITH preds AS (
      {_LANGID_ORACLE.strip()}
    ), classes AS (
      SELECT DISTINCT actual_lang AS cls FROM preds
    ), stats AS (
      SELECT classes.cls,
             (SELECT count(*) FROM preds
              WHERE pred_lang = classes.cls AND actual_lang = classes.cls)
               AS tp,
             (SELECT count(*) FROM preds
              WHERE pred_lang = classes.cls AND actual_lang <> classes.cls)
               AS fp,
             (SELECT count(*) FROM preds
              WHERE actual_lang = classes.cls AND pred_lang <> classes.cls)
               AS fn
      FROM classes
    )
    SELECT cls,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(tp * 1000000 // greatest(tp + fp, 1) AS BIGINT)
             AS precision6,
           CAST(tp * 1000000 // greatest(tp + fn, 1) AS BIGINT) AS recall6,
           CAST(2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1) AS BIGINT)
             AS f1_6
    FROM stats
    """,
)
def ext_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the language-ID classifier
    against the labeled fixture — the evaluation table every classifier
    deployed as a PIPELINE GATE needs next to its confusion matrix
    (ext_lang_confusion): a class with high precision but low recall
    under-fills its bucket; the reverse contaminates it. All rates are
    exact integer micro-units (F1 as 2tp/(2tp+fp+fn), no float means).

    Scale: one prediction pass + a per-class aggregate over the
    (tiny) prediction-label pair counts."""
    preds = ext_langid(spark, sf_dir).select("actual_lang", "pred_lang")
    # cached: without it, 0.50 → 0.59 s at sf0.01 and 0.57 → 1.04 s at sf0.1
    pair = preds.groupBy("actual_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("c")
    ).cache()
    classes = pair.select(F.col("actual_lang").alias("cls")).distinct()
    tp = pair.filter(F.col("pred_lang") == F.col("actual_lang")).select(
        F.col("actual_lang").alias("cls"), F.col("c").alias("tp")
    )
    fp = (
        pair.filter(F.col("pred_lang") != F.col("actual_lang"))
        .groupBy(F.col("pred_lang").alias("cls"))
        .agg(F.sum("c").alias("fp"))
    )
    fn = (
        pair.filter(F.col("pred_lang") != F.col("actual_lang"))
        .groupBy(F.col("actual_lang").alias("cls"))
        .agg(F.sum("c").alias("fn"))
    )
    stats = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("fp", F.lit(0)).alias("fp"),
            F.coalesce("fn", F.lit(0)).alias("fn"),
        )
    )
    return stats.select(
        "cls",
        "tp",
        "fp",
        "fn",
        F.expr("tp * 1000000 DIV greatest(tp + fp, 1)").alias("precision6"),
        F.expr("tp * 1000000 DIV greatest(tp + fn, 1)").alias("recall6"),
        F.expr("2 * tp * 1000000 DIV greatest(2 * tp + fp + fn, 1)").alias(
            "f1_6"
        ),
    )


_CLIP_N = 4  # n-gram size for repetition clipping


@query(
    "ext_repetition_clip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             generate_subscripts(list_transform(
               range(1, greatest(len(t) - {_CLIP_N} + 2, 1)),
               i -> array_to_string(t[CAST(i AS INT):CAST(i + {_CLIP_N} - 1 AS INT)], ' ')), 1)
               AS pos,
             unnest(list_transform(
               range(1, greatest(len(t) - {_CLIP_N} + 2, 1)),
               i -> array_to_string(t[CAST(i AS INT):CAST(i + {_CLIP_N} - 1 AS INT)], ' ')))
               AS g
      FROM toks
    ), firsts AS (
      SELECT doc_id, g, min(pos) AS first_pos, CAST(count(*) AS BIGINT) AS c
      FROM grams GROUP BY doc_id, g
    ), rep AS (
      SELECT grams.doc_id, min(grams.pos) AS clip_pos
      FROM grams JOIN firsts
        ON grams.doc_id = firsts.doc_id AND grams.g = firsts.g
      WHERE firsts.c > 1 AND grams.pos > firsts.first_pos
      GROUP BY grams.doc_id
    )
    SELECT toks.doc_id,
           CAST(len(toks.t) AS BIGINT) AS n_tokens,
           CAST(rep.clip_pos AS BIGINT) AS clip_pos,
           CAST(coalesce(rep.clip_pos - 1, len(toks.t)) AS BIGINT)
             AS kept_tokens
    FROM toks LEFT JOIN rep ON toks.doc_id = rep.doc_id
    """,
)
def ext_repetition_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition clipping: the first token position where a {_CLIP_N}-gram
    RECURS within the document — everything from there on is the
    degenerate-repetition tail that generated text and scraped boilerplate
    both produce, and that inference post-processors truncate. Reports the
    clip position (NULL = no repetition) and the kept prefix length;
    ext_repetition_score gates whole documents, this computes WHERE to cut
    instead of dropping.

    Scale: per-document gram grouping — all work is partition-local after
    the doc shuffle; the recurrence test is (gram count > 1 AND pos >
    first occurrence), no cross-document state."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("t") - (_CLIP_N - 1), F.lit(1)),
                ),
                lambda i: F.array_join(F.slice(F.col("t"), i, _CLIP_N), " "),
            )
        ).alias("pos0", "g"),
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "g")
    firsts = grams.groupBy("doc_id", "g").agg(
        F.min("pos").alias("first_pos"), F.count(F.lit(1)).alias("c")
    )
    rep = (
        grams.join(firsts, ["doc_id", "g"])
        .filter((F.col("c") > 1) & (F.col("pos") > F.col("first_pos")))
        .groupBy("doc_id")
        .agg(F.min("pos").alias("clip_pos"))
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(rep, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.col("clip_pos").cast("long").alias("clip_pos"),
        F.coalesce(F.col("clip_pos") - 1, F.col("n_tokens"))
        .cast("long")
        .alias("kept_tokens"),
    )


@query(
    "ext_zipf_fit",
    oracle="""
    WITH c AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) > 0 GROUP BY w
    ), ranked AS (
      SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
      FROM c
    ), logs AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS lr6,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS lf6
      FROM ranked
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(lr6) AS BIGINT) AS sr, CAST(SUM(lf6) AS BIGINT) AS sf,
             CAST(SUM(lr6 * lf6) AS BIGINT) AS srf,
             CAST(SUM(lr6 * lr6) AS BIGINT) AS srr
      FROM logs
    )
    SELECT n AS n_types,
           round((CAST(n AS DOUBLE) * srf - CAST(sr AS DOUBLE) * sf)
                 / (CAST(n AS DOUBLE) * srr - CAST(sr AS DOUBLE) * sr), 4)
             AS zipf_slope
    FROM agg
    """,
)
def ext_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: least-squares slope of log-frequency against log-rank
    over the full vocabulary — natural language sits near −1, and a corpus
    that drifts far from it is telling you something (templated text
    flattens the head, OCR noise fattens the tail). Per-type logs are
    rounded to 1e-6 and the regression runs on exact int64 moment sums, so
    the fitted slope is deterministic to the last micro-unit.

    Scale: one vocabulary count, one ``distributed_row_number`` rank
    (vocabulary is Heaps-sublinear but unbounded — no single-task sort),
    one scalar aggregate — the regression never materializes anything
    but five numbers."""
    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = distributed_row_number(
        c, [F.col("f").desc(), F.col("w").asc()], rn="r"
    ).select("f", "r")
    logs = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1e6).cast("long").alias("lr6"),
        F.round(F.log(F.col("f").cast("double")) * 1e6).cast("long").alias("lf6"),
    )
    return logs.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.expr(
            "round((CAST(count(*) AS DOUBLE) * sum(lr6 * lf6)"
            " - CAST(sum(lr6) AS DOUBLE) * sum(lf6))"
            " / (CAST(count(*) AS DOUBLE) * sum(lr6 * lr6)"
            " - CAST(sum(lr6) AS DOUBLE) * sum(lr6)), 4)"
        ).alias("zipf_slope"),
    )


@query(
    "ext_heaps_law_points",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), t AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
    slices AS (SELECT unnest([10, 30, 100]) AS pct)
    SELECT slices.pct,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT t.w) AS BIGINT) AS vocab
    FROM t JOIN slices
      ON (t.doc_id * 2654435761 + 54321) % 2147483647 % 100 < slices.pct
    GROUP BY slices.pct
    """,
)
def ext_heaps_law_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law curve points: vocabulary size against token count over
    the NESTED 10/30/100% corpus slices (the ext_learning_curve_subsets
    hash, so each point's corpus contains the previous one's) — the
    V(n) = K·n^β growth that predicts how much NEW vocabulary the next
    10 TB of crawl will add, which sizes tokenizers and OOV budgets. The
    points are exact counts; fit β downstream on three (ln n, ln V)
    pairs.

    Scale: one token pass fanned across the three thresholds — the slice
    predicate is arithmetic on the hash, so no slice is materialized."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    slices = spark.createDataFrame([(10,), (30,), (100,)], "pct INT")
    bucket = (F.col("doc_id") * 2654435761 + 54321) % 2147483647 % 100
    return (
        t.join(F.broadcast(slices), bucket < F.col("pct"))
        .groupBy("pct")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("w").alias("vocab"),
        )
    )


@query(
    "ext_good_turing",
    oracle="""
    WITH tok AS (
      SELECT doc_id, w, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ) WHERE length(w) > 0
    ), c AS (
      SELECT a.w || ' ' || b.w AS g, CAST(count(*) AS BIGINT) AS r
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1
    ), coc AS (
      SELECT r, CAST(count(*) AS BIGINT) AS nr FROM c GROUP BY r
    )
    SELECT a.r,
           a.nr,
           b.nr AS nr_next,
           CAST((a.r + 1) * b.nr * 1000000 // a.nr AS BIGINT)
             AS adjusted_r6
    FROM coc a JOIN coc b ON b.r = a.r + 1
    WHERE a.r <= 10
    """,
)
def ext_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing: the count-of-counts table and the
    adjusted count r* = (r+1)·N(r+1)/N(r) for the low-frequency region
    (r ≤ 10) — the estimator that says how much probability mass belongs
    to events seen r times, and the mass N₁/N that belongs to UNSEEN
    events (the r=1 row's tale). Computed over word BIGRAMS: unigram
    counts on these fixtures have no low-count regime at all (every word
    repeats hundreds of times), which made the r ≤ 10 report empty —
    bigrams have real singletons and doubletons, which is precisely the
    regime Good-Turing exists for. Kneser-Ney's ancestor, still the
    quick check on any smoother's low-count behavior. Exact integers
    into a micro-unit ratio.

    Scale: bigram count then a count-of-counts over it (tiny) — grouped
    aggregates only."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    # Adjacent pairs via two aligned slices zipped — NOT index arithmetic
    # (w[i + 1] over sequence(0, greatest(size-2, 0)) raises
    # INVALID_ARRAY_INDEX under ANSI on a single-token document, where
    # the oracle's pos+1 self-join simply finds no pair —
    # RAGGED_AUDIT_r13.md Family T). Both slices are empty for size < 2.
    n_pairs = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.filter(
        F.zip_with(
            F.slice(w, 1, n_pairs),
            F.slice(w, 2, n_pairs),
            lambda x, y: F.struct(x.alias("x"), y.alias("y")),
        ),
        lambda s: (F.length(s["x"]) > 0) & (F.length(s["y"]) > 0),
    )
    bigrams = docs.select(
        F.explode(
            F.transform(pairs, lambda s: F.concat_ws(" ", s["x"], s["y"]))
        ).alias("g")
    )
    c = bigrams.groupBy("g").agg(F.count(F.lit(1)).alias("r"))
    coc = c.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    a, b = coc.alias("a"), coc.alias("b")
    return (
        a.join(b, F.col("b.r") == F.col("a.r") + 1)
        .filter(F.col("a.r") <= 10)
        .select(
            F.col("a.r").alias("r"),
            F.col("a.nr").alias("nr"),
            F.col("b.nr").alias("nr_next"),
            F.expr("(a.r + 1) * b.nr * 1000000 DIV a.nr").alias(
                "adjusted_r6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate sentence detection (C4/RefinedWeb-style line dedup)
# ---------------------------------------------------------------------------

BOILER_MIN_DOCS = 3


@query(
    "ext_boilerplate_sentences",
    oracle=f"""
    WITH s AS (
      SELECT DISTINCT doc_id, sentence FROM (
        SELECT doc_id, unnest(string_split(text, '. ')) AS sentence
        FROM documents
      ) WHERE length(sentence) > 0
    )
    SELECT sentence, CAST(count(*) AS BIGINT) AS n_docs,
           count(*) >= {BOILER_MIN_DOCS} AS is_boilerplate
    FROM s GROUP BY sentence
    ORDER BY n_docs DESC, sentence LIMIT 30
    """,
)
def ext_boilerplate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at the SENTENCE level: sentences that recur
    across ≥ {BOILER_MIN_DOCS} distinct documents (cookie banners,
    nav/footer text, license blurbs) — the unit C4's and RefinedWeb's
    line-dedup filters remove before any document-level dedup runs,
    because repeated lines inflate n-gram counts and survive doc-level
    near-dup checks.

    Emits the top-30 sentences by document frequency with the boilerplate
    flag (the current fixtures have no cross-doc sentence, so the flag is
    all-false there — the ranking keeps the key's output non-trivial).

    Scale: explode to (doc_id, sentence), distinct (hash shuffle on the
    pair), then one count per sentence and a top-k (TakeOrdered, not a
    global sort). At 100 TB, swap the raw sentence for its xxhash64 in
    the shuffle and join the winning hashes back for display."""
    docs = load(spark, sf_dir, "documents")
    s = (
        docs.select(
            "doc_id", F.explode(F.split("text", "\\. ")).alias("sentence")
        )
        .filter(F.length("sentence") > 0)
        .distinct()
    )
    return (
        s.groupBy("sentence")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "sentence",
            "n_docs",
            (F.col("n_docs") >= BOILER_MIN_DOCS).alias("is_boilerplate"),
        )
        .orderBy(F.col("n_docs").desc(), "sentence")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Code-vs-prose heuristic
# ---------------------------------------------------------------------------

_CODE_SYMBOL_CLASS = r"[{}()\[\];=<>]"
CODE_PER_MILLE = 30


@query(
    "ext_code_detect",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text)
                  - length(regexp_replace(text, '[{{}}()\\[\\];=<>]', '', 'g'))
                  AS BIGINT) AS n_symbols,
             CAST(length(text)
                  - length(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS n_digits,
             CAST(length(text) AS BIGINT) AS n
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_symbols, n_digits,
           CAST(n_symbols * 1000 // n AS BIGINT) AS symbols_per_mille,
           n_symbols * 1000 // n >= {CODE_PER_MILLE} AS is_code
    FROM m
    """,
)
def ext_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic: structural-symbol density (braces,
    brackets, semicolons, operators) per 1000 chars, plus digit counts —
    the cheap first-pass router that decides whether a crawled document
    goes to the code pipeline or the text pipeline (a trained classifier
    replaces the threshold; the plumbing — per-row counting, integer
    densities, a boolean route — is identical). Counting is done by
    char-class strip-and-diff (length minus symbol-free length), which
    both engines compute identically; densities are integer per-mille, so
    the flag is deterministic.

    Scale: pure map-side row arithmetic, no shuffle at all."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text").cast("long")
    n_sym = (
        F.length("text")
        - F.length(F.regexp_replace("text", _CODE_SYMBOL_CLASS, ""))
    ).cast("long")
    n_dig = (
        F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("long")
    per_mille = (n_sym * 1000 / n).cast("long")
    return docs.select(
        "doc_id",
        n_sym.alias("n_symbols"),
        n_dig.alias("n_digits"),
        per_mille.alias("symbols_per_mille"),
        (per_mille >= CODE_PER_MILLE).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# Readability (Flesch reading ease)
# ---------------------------------------------------------------------------


@query(
    "ext_readability",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0))
                  AS BIGINT) AS words,
             CAST(len(list_filter(string_split(text, '. '),
                                  s -> length(s) > 0)) AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS syllables
      FROM documents
    )
    SELECT doc_id, words, sentences, syllables,
           CAST(round((206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                       - 84.6 * (CAST(syllables AS DOUBLE) / words)) * 100)
                AS BIGINT) AS flesch100
    FROM m WHERE words > 0 AND sentences > 0
    """,
)
def ext_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring: 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words), with syllables approximated as vowel-group
    runs — the standard pre-LLM quality prior (too-hard and too-easy
    documents both get down-weighted in curation mixes). All three counts
    are exact integers in both engines; the score is one fixed per-row
    double expression, reported ×100 as an integer.

    Scale: map-side only — two splits and one regexp scan per row, no
    shuffle."""
    docs = load(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    ).cast("long")
    sentences = F.size(
        F.filter(F.split("text", "\\. "), lambda s: F.length(s) > 0)
    ).cast("long")
    syllables = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("([aeiouy]+)"))
    ).cast("long")
    m = docs.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).filter((F.col("words") > 0) & (F.col("sentences") > 0))
    score = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words"))
    )
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(score * 100).cast("long").alias("flesch100"),
    )


# ---------------------------------------------------------------------------
# Inverted index (posting lists)
# ---------------------------------------------------------------------------

_INV_TOP = 50


@query(
    "ext_inverted_index",
    oracle=f"""
    WITH t AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    )
    SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS postings
    FROM t GROUP BY w
    ORDER BY df DESC, term LIMIT {_INV_TOP}
    """,
)
def ext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the sorted
    posting list (comma-joined here so the cross-engine comparison is a
    plain string) — the core IR artifact BM25/boolean retrieval serve
    from; top-{_INV_TOP} terms by df keep the key's output bounded.

    Scale: distinct (doc, term) then ONE groupBy on term — the shuffle is
    the index build itself, partitioned by term exactly as a sharded
    index wants; collect_list of ids (not text) bounds memory per term,
    and a production build would write per-term postings as the
    partitioned sink rather than stringify them."""
    docs = load(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    return (
        t.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(_INV_TOP)
    )


# ---------------------------------------------------------------------------
# BPE merge application (the step after ext_bpe_pair_stats)
# ---------------------------------------------------------------------------


@query(
    "ext_bpe_apply_merge",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM tok WHERE length(w) >= 2 GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
               i -> substring(w, CAST(i AS INT), 2))) AS pair, f
      FROM freq
    ), top_pair AS (
      SELECT pair FROM (
        SELECT pair, SUM(f) AS n FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT 1
      )
    )
    SELECT w AS word, f, top_pair.pair AS merged_pair,
           CAST(length(w) AS BIGINT) AS n_symbols_before,
           CAST(length(replace(w, top_pair.pair, chr(1))) AS BIGINT)
             AS n_symbols_after
    FROM freq, top_pair
    WHERE contains(w, top_pair.pair)
    ORDER BY f DESC, w LIMIT 20
    """,
)
def ext_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training step: find the most frequent adjacent pair
    (ext_bpe_pair_stats' statistic), then APPLY the merge — every
    occurrence of the winning pair collapses to one symbol, with
    before/after symbol counts per affected word. Greedy left-to-right
    non-overlapping replacement is exactly ``replace()`` semantics in both
    engines, so the post-merge symbol count is exact. Iterating this
    key's shape N times IS BPE training; each round re-runs over the
    distinct-word table, never the token stream.

    Scale: the merge applies over distinct words with counts (vocabulary-
    sized), the winning pair arrives as a 1-row broadcast, and the report
    is a top-k."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pairs = freq.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    top_pair = (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select("pair")
    )
    return (
        freq.join(F.broadcast(top_pair))
        .filter(F.col("w").contains(F.col("pair")))
        .select(
            F.col("w").alias("word"),
            "f",
            F.col("pair").alias("merged_pair"),
            F.length("w").cast("long").alias("n_symbols_before"),
            F.length(
                F.replace(F.col("w"), F.col("pair"), F.lit("\x01"))
            )
            .cast("long")
            .alias("n_symbols_after"),
        )
        .orderBy(F.col("f").desc(), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_BUCKETS = 32


@query(
    "ext_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), h AS (
      SELECT doc_id,
             {_sh_poly_sql(131, 7)} % {_FH_BUCKETS} AS bucket
      FROM tok WHERE length(w) > 0
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY doc_id, bucket
    """,
)
def ext_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK: tokens land in a fixed {_FH_BUCKETS}-bucket
    feature space via an explicit polynomial hash — the fixed-width sparse
    featurization (Weinberger et al.) that needs NO vocabulary pass, which
    is exactly what makes it the streaming/out-of-core featurizer: the
    feature space is known before the first row arrives, and two shards
    featurize independently with zero coordination. Emitted as sparse
    (doc, bucket, count) rows — the layout a linear model or MinHash-style
    consumer reads directly. The hash is the same polynomial the SimHash
    oracle mirrors, so the result is engine-exact.

    Scale: map-side hash + one (doc, bucket) aggregation; output is
    bounded by docs × buckets."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.ascii(F.col("w").substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 131 + c) % 2_147_483_647,
    )
    h = tok.select("doc_id", (poly % _FH_BUCKETS).alias("bucket"))
    return h.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Cross-split LM evaluation (train a unigram LM on train, score test)
# ---------------------------------------------------------------------------


@query(
    "ext_holdout_lm_eval",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN (doc_id * {_SPLIT_A} + 12345) % {_SPLIT_M} % 100 < 80
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    ), tok AS (
      SELECT s.split, s.doc_id, t.w
      FROM split s,
           unnest(string_split(s.text, ' ')) AS t(w)
      WHERE length(t.w) > 0
    ), lm AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM tok WHERE split = 'train' GROUP BY w
    ), v AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS vocab
      FROM lm
    ), scored AS (
      SELECT t.doc_id,
             CAST(round(ln((CAST(coalesce(lm.c, 0) AS DOUBLE) + 1)
                           / (v.n + v.vocab)) * 1e6) AS BIGINT) AS lp6
      FROM tok t LEFT JOIN lm USING (w), v
      WHERE t.split = 'heldout'
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp6) AS BIGINT) AS logprob6,
           -- floor(): DuckDB's integer // truncates toward zero on the
           -- negative sums here; Spark's floor() floors
           CAST(floor(CAST(SUM(lp6) AS DOUBLE) / count(*)) AS BIGINT)
             AS per_token_lp6
    FROM scored GROUP BY doc_id
    """,
)
def ext_holdout_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split language-model evaluation: an add-one-smoothed unigram
    LM is FIT on the train split and SCORED on the held-out split (per-doc
    log-probability and per-token average) — the end-to-end
    train→evaluate loop every data-quality experiment runs, composed from
    the hash split and the LM machinery with no leakage (held-out tokens
    never touch the counts; OOV tokens get the smoothed floor). Per-token
    log-probs are rounded to 1e-6 and summed as int64 — order-independent
    and oracle-exact.

    Scale: the LM is vocabulary-sized (broadcast back); both splits come
    from ONE corpus scan, and scoring is an equi-join on token."""
    docs = load(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "text",
        F.when(
            (F.col("doc_id") * _SPLIT_A + 12345) % _SPLIT_M % 100 < 80,
            "train",
        )
        .otherwise("heldout")
        .alias("split"),
    )
    tok = split.select(
        "split", "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    lm = (
        tok.filter(F.col("split") == "train")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = lm.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("vocab"))
    lp6 = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)).cast("double") + 1)
            / (F.col("n") + F.col("vocab"))
        )
        * 1e6
    ).cast("long")
    scored = (
        tok.filter(F.col("split") == "heldout")
        .join(F.broadcast(lm), "w", "left")
        .join(F.broadcast(v))
        .select("doc_id", lp6.alias("lp6"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp6").alias("logprob6"),
        F.floor(F.sum("lp6") / F.count(F.lit(1))).cast("long").alias(
            "per_token_lp6"
        ),
    )


# ---------------------------------------------------------------------------
# Pairwise source vocabulary overlap
# ---------------------------------------------------------------------------

_VOCAB_OVERLAP_TOP = 25


@query(
    "ext_source_vocab_overlap",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY source
    ), inter AS (
      SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS i
      FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1, s2, i,
           CAST(i * 1000000 // (x.n + y.n - i) AS BIGINT) AS jaccard6
    FROM inter
    JOIN sizes x ON s1 = x.source
    JOIN sizes y ON s2 = y.source
    ORDER BY jaccard6 DESC, s1, s2 LIMIT {_VOCAB_OVERLAP_TOP}
    """,
)
def ext_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE vocabulary overlap: Jaccard between each pair of
    sources' distinct-word sets (micro-units, top-{_VOCAB_OVERLAP_TOP}
    pairs) — the redundancy map that tells a mixture designer which
    sources are near-interchangeable (merge or downweight) and which
    bring genuinely new vocabulary, before any expensive document-level
    cross-source dedup runs.

    Scale: per-source distinct vocab (map-side distinct within source
    via the aggregation), then the intersection join keyed on the WORD —
    each word contributes its source-pair combinations, which is the
    inverted-index formulation (never a source×source×vocab blowup;
    sources-per-word is the bounded quantity)."""
    docs = load(spark, sf_dir, "documents")
    v = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    x, y = sizes.alias("x"), sizes.alias("y")
    return (
        inter.join(F.broadcast(x), F.col("s1") == F.col("x.source"))
        .join(F.broadcast(y), F.col("s2") == F.col("y.source"))
        .select(
            "s1",
            "s2",
            "i",
            F.floor(
                F.col("i") * 1000000 / (F.col("x.n") + F.col("y.n") - F.col("i"))
            )
            .cast("long")
            .alias("jaccard6"),
        )
        .orderBy(F.col("jaccard6").desc(), "s1", "s2")
        .limit(_VOCAB_OVERLAP_TOP)
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "is",
    "are", "was", "be", "with", "as", "at", "by", "it", "that", "this",
)
_RAKE_TOP = 30


def _rake_stop_sql() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOPWORDS)


@query(
    "ext_rake_keyphrases",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lower(w) AS w, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ) WHERE length(w) > 0
    ), marked AS (
      SELECT doc_id, w, pos,
             CASE WHEN w IN ({_rake_stop_sql()}) THEN 1 ELSE 0 END AS stop
      FROM tok
    ), runs AS (
      -- phrase id: tokens between stopwords share a run (cumulative count
      -- of stopwords seen up to each position)
      SELECT doc_id, w, pos,
             SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS run
      FROM marked
      QUALIFY stop = 0
    ), phrases AS (
      SELECT doc_id, run,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS deg
      FROM runs GROUP BY doc_id, run
    ), word_stats AS (
      SELECT w,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(deg) AS BIGINT) AS degsum
      FROM (
        SELECT p.doc_id, p.run, unnest(string_split(p.phrase, ' ')) AS w,
               p.deg
        FROM phrases p
      ) GROUP BY w
    ), per_phrase AS (
      -- per OCCURRENCE (a repeated word in a phrase scores each time),
      -- matching classic RAKE and the Spark side's explode+join
      SELECT pw.doc_id, pw.run, pw.phrase,
             CAST(SUM(ws.degsum * 1000000 // ws.freq) AS BIGINT) AS sc
      FROM (
        SELECT p.doc_id, p.run, p.phrase,
               unnest(string_split(p.phrase, ' ')) AS w
        FROM phrases p
      ) pw JOIN word_stats ws USING (w)
      GROUP BY 1, 2, 3
    ), scored AS (
      SELECT phrase,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(SUM(sc) AS BIGINT) AS score6
      FROM per_phrase GROUP BY phrase
    )
    SELECT phrase, n_occurrences,
           CAST(score6 // n_occurrences AS BIGINT) AS phrase_score6
    FROM scored
    ORDER BY phrase_score6 DESC, phrase LIMIT {_RAKE_TOP}
    """,
)
def ext_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    (degree = total length of phrases containing it — favors words that
    appear in long collocations), and a phrase scores the sum over its
    words — the classic unsupervised keyword extractor, distributed as
    pure window + aggregate shapes. Scores are integer micro-units of
    exact counts, so cross-engine exact.

    Scale: phrase segmentation is a per-doc cumulative window (shuffle on
    doc_id), word stats are vocabulary-sized (broadcast back), and the
    report is a top-k."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w0"),
    ).filter(F.length("w0") > 0).select(
        "doc_id", "pos", F.lower("w0").alias("w")
    )
    marked = tok.withColumn(
        "stop",
        F.when(F.col("w").isin(*_RAKE_STOPWORDS), 1).otherwise(0),
    )
    run_w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        marked.withColumn("run", F.sum("stop").over(run_w))
        .filter(F.col("stop") == 0)
    )
    phrases = runs.groupBy("doc_id", "run").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "w"))
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("deg"),
    ).cache()  # without it, 0.55 → 0.72 s at sf0.01, 0.91 → 1.45 s at sf0.1
    phrase_words = phrases.select(
        "doc_id", "run", "deg", F.explode(F.split("phrase", " ")).alias("w")
    )
    word_stats = phrase_words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("deg").alias("degsum")
    )
    per_phrase = (
        phrase_words.join(F.broadcast(word_stats), "w")
        .groupBy("doc_id", "run")
        .agg(
            F.sum(
                F.floor(F.col("degsum") * 1000000 / F.col("freq")).cast("long")
            ).alias("sc")
        )
    )
    scored = (
        phrases.join(per_phrase, ["doc_id", "run"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum("sc").alias("score6"),
        )
    )
    return scored.select(
        "phrase",
        "n_occurrences",
        F.floor(F.col("score6") / F.col("n_occurrences"))
        .cast("long")
        .alias("phrase_score6"),
    ).orderBy(F.col("phrase_score6").desc(), "phrase").limit(_RAKE_TOP)


# ---------------------------------------------------------------------------
# Extractive summarization (TF-ISF sentence ranking)
# ---------------------------------------------------------------------------

_SUMMARY_K = 2


@query(
    "ext_extractive_summary",
    oracle=f"""
    WITH sent AS (
      SELECT doc_id, sent_idx, sentence FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, '. '), 1) AS sent_idx,
               unnest(string_split(text, '. ')) AS sentence
        FROM documents
      ) WHERE length(sentence) > 0
    ), tok AS (
      SELECT doc_id, sent_idx, lower(w) AS w FROM (
        SELECT doc_id, sent_idx, unnest(string_split(sentence, ' ')) AS w
        FROM sent
      ) WHERE length(w) > 0
    ), sf AS (
      -- sentence frequency per (doc, word): in how many of the doc's
      -- sentences does the word appear
      SELECT doc_id, w, CAST(count(DISTINCT sent_idx) AS BIGINT) AS nsw
      FROM tok GROUP BY doc_id, w
    ), ns AS (
      SELECT doc_id, CAST(count(DISTINCT sent_idx) AS BIGINT) AS n_sent
      FROM sent GROUP BY doc_id
    ), scored AS (
      SELECT t.doc_id, t.sent_idx,
             CAST(SUM((ns.n_sent + 1) * 1000000 // (sf.nsw + 1)) AS BIGINT)
               AS score6,
             CAST(count(*) AS BIGINT) AS n_words
      FROM tok t
      JOIN sf USING (doc_id, w)
      JOIN ns USING (doc_id)
      GROUP BY t.doc_id, t.sent_idx
    )
    SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
           CAST(score6 // n_words AS BIGINT) AS sent_score6,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, sent_idx, score6, n_words,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score6 // n_words DESC, sent_idx)
               AS rk
      FROM scored
    ) WHERE rk <= {_SUMMARY_K}
    """,
)
def ext_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACTIVE summarization: each document's top-{_SUMMARY_K}
    sentences by mean TF-ISF (inverse SENTENCE frequency — words that
    concentrate in few of the doc's sentences mark its information-dense
    lines; words spread over every sentence are the doc's background) —
    the classic unsupervised summarizer, and the deterministic baseline
    every learned summarizer is graded against. Scores are integer
    micro-unit ratios of exact counts — engine-exact.

    Scale: everything is keyed by doc_id (sentence stats never cross
    documents), so the whole computation is embarrassingly parallel
    after one doc-keyed shuffle; the per-doc rank window partitions by
    doc_id."""
    docs = load(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.posexplode(F.split("text", "\\. ")).alias("idx0", "sentence"),
    ).filter(F.length("sentence") > 0).select(
        "doc_id", (F.col("idx0") + 1).alias("sent_idx"), "sentence"
    )
    tok = sent.select(
        "doc_id",
        "sent_idx",
        F.explode(F.split("sentence", " ")).alias("w0"),
    ).filter(F.length("w0") > 0).select(
        "doc_id", "sent_idx", F.lower("w0").alias("w")
    )
    sf = tok.groupBy("doc_id", "w").agg(
        F.countDistinct("sent_idx").alias("nsw")
    )
    ns = sent.groupBy("doc_id").agg(
        F.countDistinct("sent_idx").alias("n_sent")
    )
    scored = (
        tok.join(sf, ["doc_id", "w"])
        .join(ns, "doc_id")
        .groupBy("doc_id", "sent_idx")
        .agg(
            F.sum(
                F.floor(
                    (F.col("n_sent") + 1) * 1000000 / (F.col("nsw") + 1)
                ).cast("long")
            ).alias("score6"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.floor(F.col("score6") / F.col("n_words")).desc(), "sent_idx"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _SUMMARY_K)
        .select(
            "doc_id",
            F.col("sent_idx").cast("long").alias("sent_idx"),
            F.floor(F.col("score6") / F.col("n_words"))
            .cast("long")
            .alias("sent_score6"),
            "rk",
        )
    )


@query(
    "ext_chi2_terms",
    oracle="""
    WITH tok AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos, w
      FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    ), totals AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS ta,
             CAST(SUM(1 - pos) AS BIGINT) AS tb
      FROM tok
    ), per_w AS (
      SELECT w, CAST(SUM(pos) AS BIGINT) AS a,
             CAST(SUM(1 - pos) AS BIGINT) AS b
      FROM tok GROUP BY w
    ), chi AS (
      SELECT w, a, b,
             (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(tb - b AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(ta - a AS DOUBLE))
               * (CAST(a AS DOUBLE) * CAST(tb - b AS DOUBLE)
                  - CAST(b AS DOUBLE) * CAST(ta - a AS DOUBLE))
               / (CAST(a + b AS DOUBLE)
                  * CAST(ta + tb - a - b AS DOUBLE)
                  * CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) AS chi2
      FROM per_w, totals
    )
    SELECT w, a AS in_class, b AS out_class,
           CAST(round(chi2 * 1000) AS BIGINT) AS chi2_milli
    FROM chi ORDER BY chi2 DESC, w LIMIT 20
    """,
)
def ext_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection: rank tokens by association with a
    document class (here lang='en' vs rest) from the 2x2 token-level
    contingency table — the classic filter for label-discriminative
    vocabulary before training a router/classifier on corpus slices.

    chi2 = N(x11*x22 - x12*x21)^2 / (rowsum*colsum products), every cell
    an exact integer count; the statistic is ONE double expression over
    bit-identical integer operands (the power-analysis pattern), reported
    at millis. Scale: token explode + two groupBys + a 2-scalar broadcast;
    vocabulary-sized output, corpus touched once.

    A single-class corpus (or a token present in every position) zeroes a
    marginal product in the chi2 denominator: ANSI Spark would raise
    DIVIDE_BY_ZERO where DuckDB renders 0/0 as NaN — the division goes
    through try_divide (NULL, canonicalized equal to NaN; NULLs also sort
    consistently after the DESC ordering on both engines at the
    degenerate scale: the oracle's chi2 DESC puts NaN first in DuckDB and
    NULL last in Spark, but with <= 20 distinct tokens the LIMIT keeps
    every row, so the sorted-row SET still matches —
    DEGENERATE_AUDIT_r8.md Family B, oracle untouched)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.length("w") > 0)
    totals = tok.agg(
        F.sum("pos").alias("ta"), F.sum(1 - F.col("pos")).alias("tb")
    )
    per_w = tok.groupBy("w").agg(
        F.sum("pos").alias("a"), F.sum(1 - F.col("pos")).alias("b")
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    ta, tb = F.col("ta").cast("double"), F.col("tb").cast("double")
    det = a * (F.col("tb") - F.col("b")).cast("double") - b * (
        F.col("ta") - F.col("a")
    ).cast("double")
    chi2 = F.try_divide(
        (ta + tb) * det * det,
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("ta") + F.col("tb") - F.col("a") - F.col("b")).cast("double")
        * ta
        * tb,
    )
    return (
        per_w.join(F.broadcast(totals))
        .select(
            "w",
            F.col("a").alias("in_class"),
            F.col("b").alias("out_class"),
            F.round(chi2 * 1000).cast("long").alias("chi2_milli"),
            chi2.alias("_chi2"),
        )
        .orderBy(F.col("_chi2").desc(), "w")
        .limit(20)
        .drop("_chi2")
    )


@query(
    "ext_log_odds_terms",
    oracle="""
    WITH tok AS (
      SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    ), prior AS (
      SELECT w, CAST(count(*) AS BIGINT) AS aw FROM tok GROUP BY w
    ), a0 AS (
      SELECT CAST(count(*) AS BIGINT) AS a0 FROM tok
    ), cnt AS (
      SELECT w,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS yi,
             CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
               AS yj
      FROM tok GROUP BY w
    ), ni AS (
      SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS ni,
             CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
               AS nj
      FROM tok
    )
    SELECT w, yi, yj,
           CAST(round(
             (ln((CAST(yi AS DOUBLE) + aw)
                 / (CAST(ni AS DOUBLE) + a0 - yi - aw))
              - ln((CAST(yj AS DOUBLE) + aw)
                   / (CAST(nj AS DOUBLE) + a0 - yj - aw)))
             / sqrt(1.0 / (CAST(yi AS DOUBLE) + aw)
                    + 1.0 / (CAST(yj AS DOUBLE) + aw)) * 1e6
           ) AS BIGINT) AS zscore6
    FROM cnt JOIN prior USING (w), a0, ni
    """,
)
def ext_log_odds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted log-odds-ratio with an informative Dirichlet prior (Monroe
    et al., "Fightin' Words"): which tokens distinguish source src0 from
    src1, with the full corpus as the prior — the statistically-grounded
    alternative to raw frequency ratios (rare words get shrunk toward the
    prior instead of dominating). The z-score divides the log-odds delta by
    its estimated standard deviation.

    Every input is an exact integer count; ln/sqrt run on bit-identical
    doubles and the result is micro-rounded (the DSIR idiom — the 1-ulp
    libm risk is confined to a measure-zero .5 boundary). Scale: one token
    explode feeding three vocabulary-sized aggregates."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    prior = tok.groupBy("w").agg(F.count(F.lit(1)).alias("aw"))
    a0 = tok.agg(F.count(F.lit(1)).alias("a0"))
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("yi"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("yj"),
    )
    ni = tok.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("ni"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("nj"),
    )
    yi, yj = F.col("yi").cast("double"), F.col("yj").cast("double")
    aw = F.col("aw").cast("double")
    delta = F.log(
        (yi + aw) / (F.col("ni").cast("double") + F.col("a0") - F.col("yi") - F.col("aw"))
    ) - F.log(
        (yj + aw) / (F.col("nj").cast("double") + F.col("a0") - F.col("yj") - F.col("aw"))
    )
    sigma = F.sqrt(1.0 / (yi + aw) + 1.0 / (yj + aw))
    return (
        cnt.join(prior, "w")
        .join(F.broadcast(a0))
        .join(F.broadcast(ni))
        .select(
            "w",
            "yi",
            "yj",
            F.round(delta / sigma * 1e6).cast("long").alias("zscore6"),
        )
    )


@query(
    "ext_tokenizer_fertility",
    oracle=r"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 0)) AS BIGINT) AS words,
             CAST(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS subwords,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT lang,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(subwords) AS BIGINT) AS total_subwords,
           CAST(round(CAST(SUM(subwords) AS DOUBLE)
                      / CAST(SUM(words) AS DOUBLE) * 1e6) AS BIGINT)
             AS fertility6,
           CAST(round(CAST(SUM(chars) AS DOUBLE)
                      / CAST(SUM(subwords) AS DOUBLE) * 1e6) AS BIGINT)
             AS chars_per_token6
    FROM per_doc GROUP BY lang
    """,
)
def ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword tokens emitted per
    whitespace word, plus chars per subword — the number that decides
    whether a tokenizer taxes some languages with 2-3x the sequence length
    (the standard multilingual-tokenizer audit before committing a vocab).
    Uses the BPE-ish regex tokenizer from ext_token_count as the subword
    model. Integer sums, one double division, micro-rounded.

    Scale: per-doc counting is a codegen'd projection; the aggregate is
    #languages rows."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "lang",
        F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 0))
        .cast("long")
        .alias("words"),
        # idx=0 = whole match (Spark defaults to group 1; DuckDB to 0)
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        )
        .cast("long")
        .alias("subwords"),
        F.length("text").cast("long").alias("chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("words").alias("total_words"),
        F.sum("subwords").alias("total_subwords"),
        F.round(
            F.sum("subwords").cast("double") / F.sum("words").cast("double") * 1e6
        )
        .cast("long")
        .alias("fertility6"),
        F.round(
            F.sum("chars").cast("double") / F.sum("subwords").cast("double") * 1e6
        )
        .cast("long")
        .alias("chars_per_token6"),
    )


_COVERAGE_KS = (5, 10, 20)


@query(
    "ext_vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE length(w) > 0
    ), freq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w
    ), ranked AS (
      SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rk FROM freq
    ), total AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tot FROM freq
    )
    SELECT k, CAST(SUM(CASE WHEN rk <= k THEN n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(max(tot) AS BIGINT) AS total_tokens,
           CAST(round(CAST(SUM(CASE WHEN rk <= k THEN n ELSE 0 END) AS DOUBLE)
                      / CAST(max(tot) AS DOUBLE) * 1e6) AS BIGINT) AS share6
    FROM ranked, (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k) ks,
         total
    GROUP BY k
    """,
)
def ext_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: share of total token mass covered by the
    top-k vocabulary for k in {5, 10, 20} — the curve that sizes a
    tokenizer vocab (where does coverage saturate?) and generalizes
    ext_vocab_oov_rate's single point. Ranking ties break on the token
    string, so the curve is deterministic.

    Scale: the vocabulary aggregate is the only corpus-sized pass; the
    curve itself is a broadcast of |vocab| rows crossed with 3 constants."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") > 0
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = distributed_row_number(
        freq, [F.col("n").desc(), F.col("w").asc()], rn="rk"
    )
    total = freq.agg(F.sum("n").alias("tot"))
    ks = spark.createDataFrame([(k,) for k in _COVERAGE_KS], "k INT")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .join(F.broadcast(total))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.max("tot").alias("total_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0)
                ).cast("double")
                / F.max("tot").cast("double")
                * 1e6
            )
            .cast("long")
            .alias("share6"),
        )
    )


@query(
    "ext_dup_saturation_curve",
    oracle="""
    WITH h AS (
      SELECT doc_id, sha256(text) AS ch,
             ntile(10) OVER (ORDER BY doc_id) AS decile
      FROM documents
    ), flagged AS (
      SELECT decile,
             CASE WHEN row_number() OVER (PARTITION BY ch ORDER BY doc_id) > 1
                  THEN 1 ELSE 0 END AS is_dup
      FROM h
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST(round(CAST(SUM(is_dup) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT)
             AS dup_share6
    FROM flagged GROUP BY decile
    """,
)
def ext_dup_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication SATURATION curve: walking the corpus in ingestion order
    (doc_id), what fraction of each decile is an exact duplicate of
    something already seen? Rising deciles mean the crawl is saturating
    (each new batch adds less novel content) — the operational signal for
    when to stop crawling a source. Exact sha256 content identity, winner
    = first occurrence, deciles by ntile over the ingestion order.

    Scale: hash + one hash-partitioned window; the ingestion-order decile
    comes from ``distributed_ntile`` (range exchange on doc_id +
    broadcast partition prefix-counts) — no single-task global sort."""
    docs = load(spark, sf_dir, "documents")
    h = distributed_ntile(
        docs.select("doc_id", F.sha2("text", 256).alias("ch")),
        ["doc_id"],
        10,
        out="decile",
    )
    flagged = h.select(
        "decile",
        F.when(
            F.row_number().over(Window.partitionBy("ch").orderBy("doc_id")) > 1,
            1,
        )
        .otherwise(0)
        .alias("is_dup"),
    )
    return flagged.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        F.round(
            F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double") * 1e6
        )
        .cast("long")
        .alias("dup_share6"),
    ).withColumn("decile", F.col("decile").cast("long"))


@query(
    "ext_sample_representativeness",
    oracle="""
    WITH corpus AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nc FROM documents
      GROUP BY lang
    ), tot_c AS (SELECT CAST(SUM(nc) AS BIGINT) AS n FROM corpus),
    samp AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS ns FROM documents
      WHERE ((doc_id * 1103515245 + 12345) % 2147483648) % 1000
            < CASE WHEN lang = 'en' THEN 120 ELSE 400 END
      GROUP BY lang
    ), tot_s AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM samp)
    SELECT corpus.lang, corpus.nc AS corpus_docs,
           coalesce(samp.ns, 0) AS sample_docs,
           CAST((corpus.nc * 1000000) // tot_c.n AS BIGINT)
             AS corpus_share6,
           CAST((coalesce(samp.ns, 0) * 1000000) // tot_s.n AS BIGINT)
             AS sample_share6,
           CAST((coalesce(samp.ns, 0) * 1000000) // tot_s.n
                - (corpus.nc * 1000000) // tot_c.n AS BIGINT) AS shift6
    FROM corpus LEFT JOIN samp USING (lang), tot_c, tot_s
    """,
)
def ext_sample_representativeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representativeness audit of the stratified sample
    (ext_stratified_sample's exact selection rule re-applied): per
    language, corpus share vs sample share and the shift between them —
    the before/after accounting that PROVES the rebalance did what it
    claimed (en down-weighted, the rest lifted) and the template for
    auditing any sampler against its source. All integer micro-shares.

    Scale: two grouped counts over one scan each (the sample is a pure
    filter — no shuffle) plus broadcast totals."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nc"))
    tot_c = corpus.agg(F.sum("nc").cast("long").alias("n_c"))
    bucket = ((F.col("doc_id") * 1103515245 + 12345) % 2147483648) % 1000
    rate = F.when(F.col("lang") == "en", 120).otherwise(400)
    samp = (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    tot_s = samp.agg(F.sum("ns").cast("long").alias("n_s"))
    return (
        corpus.join(samp, "lang", "left")
        .join(F.broadcast(tot_c))
        .join(F.broadcast(tot_s))
        .select(
            "lang",
            F.col("nc").alias("corpus_docs"),
            F.coalesce("ns", F.lit(0)).cast("long").alias("sample_docs"),
            F.expr("nc * 1000000 div n_c").alias("corpus_share6"),
            F.expr("coalesce(ns, 0) * 1000000 div n_s").alias("sample_share6"),
            F.expr(
                "coalesce(ns, 0) * 1000000 div n_s - nc * 1000000 div n_c"
            ).alias("shift6"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training, k unrolled rounds (round-11 thaw; vetted since r8)
# ---------------------------------------------------------------------------

_BPE_ROUND_SQL = """
    , p{n} AS (
      SELECT unnest(list_transform(range(1, length(w)),
               i -> substring(w, CAST(i AS INT), 2))) AS pair, f
      FROM freq{m}
    ), w{n} AS (
      SELECT pair, n FROM (
        SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p{n} GROUP BY pair
        ORDER BY n DESC, pair LIMIT 1)
    ), freq{n} AS (
      SELECT replace(f.w, (SELECT pair FROM w{n}), chr({n})) AS w, f.f
      FROM freq{m} f
      WHERE EXISTS (SELECT 1 FROM w{n})
    )
"""


@query(
    "ext_bpe_train_k_rounds",
    oracle=(
        """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), freq0 AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM tok WHERE length(w) >= 2 GROUP BY w
    )
    """
        + "".join(_BPE_ROUND_SQL.format(n=n, m=n - 1) for n in (1, 2, 3))
        + """
    SELECT r AS round, pair AS merged_pair, n AS pair_count, vocab_symbols
    FROM (
      SELECT 1 AS r, (SELECT pair FROM w1) AS pair, (SELECT n FROM w1) AS n,
             (SELECT CAST(SUM(length(w) * f) AS BIGINT) FROM freq1)
               AS vocab_symbols
      WHERE EXISTS (SELECT 1 FROM w1)
      UNION ALL
      SELECT 2, (SELECT pair FROM w2), (SELECT n FROM w2),
             (SELECT CAST(SUM(length(w) * f) AS BIGINT) FROM freq2)
      WHERE EXISTS (SELECT 1 FROM w2)
      UNION ALL
      SELECT 3, (SELECT pair FROM w3), (SELECT n FROM w3),
             (SELECT CAST(SUM(length(w) * f) AS BIGINT) FROM freq3)
      WHERE EXISTS (SELECT 1 FROM w3)
    ) ORDER BY round
    """
    ),
)
def ext_bpe_train_k_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE MERGE TRAINING, three unrolled rounds over the corpus's
    distinct-word frequency table — the training half of the tokenizer
    family (ext_token_count / ext_tokenizer_fertility consume a learned
    vocabulary; this key LEARNS the first merges): per round, count every
    adjacent character pair weighted by word frequency, pick the most
    frequent (count desc, pair asc tie-break — the deterministic variant
    of the Sennrich et al. recipe), splice it into a fresh single symbol
    (chr(round), a codepoint no fixture word contains), and report the
    merged pair, its count, and the post-merge corpus symbol volume.
    A FIXED round count keeps the key exact — the oracle unrolls the
    same three rounds as CTEs (the label-propagation verification
    pattern). Rounds after the pair supply is exhausted emit NOTHING on
    both engines (Spark: the broadcast-winner join is empty; oracle: the
    per-round EXISTS gates) — the empty-corpus shape validated across
    all four audit fixture modes at registration.

    Why the distinct-word table and not raw tokens: BPE statistics are
    invariant to where words occur, so the corpus collapses to
    (word, frequency) once — at 100 TB that is the difference between
    re-scanning petabytes per merge round and iterating on a
    vocabulary-sized relation (the same reduce-to-value-domain diet as
    ext_equidepth_histogram). Each round is then one map-side pair
    explosion over the word table, a pair-domain aggregate, a 1-row
    TakeOrdered winner, and a broadcast splice — no shuffle grows with
    the corpus, only with the vocabulary.

    NULL text is dropped by split/explode on both engines; multibyte
    words pair-split identically (both substring in codepoints); the
    chr(1..3) merge symbols survive later rounds' pair extraction
    identically on both engines."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    out = None
    for r in (1, 2, 3):
        # pin one materialization per round: the pairs branch and the
        # splice branch both read it (the quantiles-helper lesson)
        freq = freq.localCheckpoint(eager=False)
        # Pair extraction must skip words already collapsed to a single
        # merge symbol: F.sequence(1, length-1) on a length-1 word is
        # sequence(1, 0) — Spark steps DESCENDING, yielding [1, 0] and two
        # spurious 1-char "pairs" weighted by the word's frequency, where
        # the oracle's range(1, length(w)) is empty. Length-1 words stay in
        # ``freq`` (they still count toward vocab_symbols); they just
        # contribute no pairs, matching the oracle's empty range.
        pairs = freq.filter(F.length("w") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "f",
        )
        winner = (
            pairs.groupBy("pair")
            .agg(F.sum("f").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
        )
        freq = freq.join(F.broadcast(winner)).select(
            F.replace(F.col("w"), F.col("pair"), F.lit(chr(r))).alias("w"),
            "f",
        )
        stats = freq.agg(
            F.sum(F.length("w") * F.col("f")).cast("long").alias("vocab_symbols")
        )
        row = (
            winner.select(
                F.lit(r).alias("round"),
                F.col("pair").alias("merged_pair"),
                F.col("n").alias("pair_count"),
            )
            .join(F.broadcast(stats))
        )
        out = row if out is None else out.unionByName(row)
    return out
