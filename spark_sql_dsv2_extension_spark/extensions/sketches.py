"""Mergeable-sketch operators for corpus-scale cardinality/frequency work.

The reference engine exposes no sketch surface (its V2 connector delegates
aggregation to Spark, V2Table.scala:45-47); these keys extend the engine the
same way the dedup/similarity suites do — the data structures a 100 TB
training-data pipeline actually runs on top of:

- HyperLogLog-style register sketches for distinct counting that MERGE
  across shards (the property exact count(DISTINCT) lacks: per-shard
  sketches union with max(), so vocabulary across 10k shards is one
  64-register reduce instead of a global distinct shuffle),
- a count-min sketch for heavy-hitter frequency estimation in fixed memory
  (d*w counters regardless of vocabulary size),
- a Bloom-filter membership probe for incremental-ingest dedup (new shard
  probed against a bit-set of history fingerprints; bits travel, text never
  does).

Every sketch here uses EXPLICIT affine/polynomial hashes (the minhash
pattern, dedup.py:804) so the sketch contents — not just the decisions they
imply — are bit-for-bit reproducible by the DuckDB oracle: estimates are
dyadic/integer arithmetic, so the driver's value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import fan_out, load

_MOD = 2_147_483_647  # 2^31 - 1, matching the text-suite hash family
_BASE = 131

# ---------------------------------------------------------------------------
# HLL-style register sketch
# ---------------------------------------------------------------------------

_HLL_M = 64  # registers; bucket = h % m, value = h // m < 2^25
_HLL_W = 25  # bit width of the register value domain
# alpha_m * m^2 precomputed as ONE literal so both engines divide the same
# constant by the same dyadic sum (0.709 ~ the m=64 HLL bias constant).
_HLL_NUM = 0.709 * _HLL_M * _HLL_M


def _word_poly_sql(col: str) -> str:
    return f"""list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, length({col}) + 1),
                   i -> CAST(ascii(substring({col}, CAST(i AS INT), 1))
                        AS BIGINT))),
               (acc, c) -> (acc * {_BASE} + c) % {_MOD})"""


def _word_poly(col) -> F.Column:
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.ascii(col.substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * _BASE + c) % _MOD,
    )


@query(
    "ext_hll_union",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), words AS (
      SELECT DISTINCT source, w FROM tok WHERE length(w) > 0
    ), hashed AS (
      SELECT source, w,
             (1103515245 * {_word_poly_sql('w')} + 12345) % {_MOD} AS h
      FROM words
    ), regs AS (
      SELECT source, h % {_HLL_M} AS r,
             max(CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_W + 1}
                      ELSE {_HLL_W + 1} - length(bin(h // {_HLL_M}))
                 END) AS rho
      FROM hashed GROUP BY 1, 2
    ), all_regs AS (
      SELECT source, r, rho FROM regs
      UNION ALL
      SELECT 'ALL' AS source, r, max(rho) AS rho FROM regs GROUP BY r
    ), est AS (
      SELECT source,
             {_HLL_NUM!r} / (SUM(power(2.0, -rho))
                             + ({_HLL_M} - count(*))) AS est_distinct
      FROM all_regs GROUP BY source
    ), exact AS (
      SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
      FROM words GROUP BY source
      UNION ALL
      SELECT 'ALL', CAST(count(DISTINCT w) AS BIGINT) FROM words
    )
    SELECT exact.source, round(est.est_distinct, 4) AS est_distinct,
           exact.exact_distinct,
           round(abs(est.est_distinct - exact.exact_distinct)
                 / exact.exact_distinct, 4) AS rel_err
    FROM est JOIN exact ON est.source = exact.source
    """,
)
def ext_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch: per-source 64-register HLL-style
    sketches (register = max leading-zero rank of an explicit affine hash),
    UNIONed into a corpus-wide sketch by per-register max — the merge that
    makes shard-local sketches composable without re-scanning. Estimates
    use the raw harmonic mean (no small/large-range correction: those need
    ln(), whose libm rounding differs across engines; the raw estimator is
    pure dyadic arithmetic, so the oracle matches it bit-for-bit).

    At 100 TB: per-shard sketches are 64 bytes each; the global vocabulary
    estimate is a 64-row shuffle, vs count(DISTINCT) moving every unique
    token. Error ~1.04/sqrt(64) ≈ 13% — the fixed price of fixed memory,
    reported per row as rel_err against the exact count."""
    docs = load(spark, sf_dir, "documents")
    # Lazy localCheckpoint (r16): words is the per-source VOCABULARY —
    # tiny (sources × distinct tokens) relative to the token stream that
    # produces it — with THREE consumers below (the sketch hash, the
    # per-source exact counts, the global exact count). Pruning
    # specializes each consumer's copy of the distinct, so exchange reuse
    # does not bridge them and the corpus explode+distinct ran three
    # times. Same for regs (sources × 64 registers, two union arms).
    words = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = (F.lit(1103515245) * _word_poly(F.col("w")) + F.lit(12345)) % _MOD
    hashed = words.select("source", "w", h.alias("h"))
    v = F.expr(f"h DIV {_HLL_M}")
    rho = F.when(v == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(v))
    )
    regs = (
        hashed.select("source", (F.col("h") % _HLL_M).alias("r"), rho.alias("rho_i"))
        .groupBy("source", "r")
        .agg(F.max("rho_i").alias("rho"))
        .localCheckpoint(eager=False)
    )
    union_regs = regs.unionAll(
        regs.groupBy("r").agg(F.max("rho").alias("rho")).select(
            F.lit("ALL").alias("source"), "r", "rho"
        )
    )
    # empty registers contribute 2^0 = 1 each: add (m - observed) to the sum
    est = union_regs.groupBy("source").agg(
        (
            F.lit(_HLL_NUM)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                + (F.lit(_HLL_M) - F.count(F.lit(1)))
            )
        ).alias("est_distinct")
    )
    # words is already DISTINCT (source, w) with w non-null (length>0
    # gate), so per-source distinct-w == plain count — skips the
    # countDistinct expand pass (r16); the global union arm below still
    # needs countDistinct because one w spans sources.
    exact = words.groupBy("source").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    exact = exact.unionAll(
        words.agg(F.countDistinct("w").alias("exact_distinct")).select(
            F.lit("ALL").alias("source"), "exact_distinct"
        )
    )
    return est.join(exact, "source").select(
        "source",
        F.round("est_distinct", 4).alias("est_distinct"),
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 128  # counters per row
_CMS_TOP = 30


@query(
    "ext_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS exact_n
      FROM tok WHERE length(w) > 0 GROUP BY w
    ), freq AS (
      SELECT w, {_word_poly_sql('w')} AS x, exact_n FROM counts
    ), cells AS (
      SELECT t.i AS i,
             ((2 * t.i + 1) * x + 1000003 * t.i + 12345) % {_MOD} % {_CMS_W}
               AS cell,
             CAST(SUM(exact_n) AS BIGINT) AS cnt
      FROM freq, range(0, {_CMS_D}) t(i)
      GROUP BY 1, 2
    ), cand AS (
      SELECT w, x, exact_n FROM freq
      ORDER BY exact_n DESC, w LIMIT {_CMS_TOP}
    )
    SELECT cand.w AS word, cand.exact_n,
           CAST(min(cells.cnt) AS BIGINT) AS est_n,
           CAST(min(cells.cnt) - cand.exact_n AS BIGINT) AS overestimate
    FROM cand, range(0, {_CMS_D}) t(i)
    JOIN cells
      ON cells.i = t.i
     AND cells.cell = ((2 * t.i + 1) * cand.x + 1000003 * t.i + 12345)
                      % {_MOD} % {_CMS_W}
    GROUP BY 1, 2
    """,
)
def ext_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the corpus's top tokens:
    4 hash rows x 128 counters (explicit affine hash family, so the oracle
    rebuilds the identical sketch), point estimate = min over rows — always
    >= the true count, with the overestimate reported per token.

    At 100 TB the sketch is the fixed-memory substitute for a full token
    groupBy: 512 counters total regardless of vocabulary, built map-side in
    one pass and merged by cell-wise sum (the groupBy here IS that merge).
    The estimate join touches only the candidate set (top-{_CMS_TOP}
    exact, for measurement) against 512 broadcast cells."""
    docs = load(spark, sf_dir, "documents")
    # token-level filter matches the oracle's length(w) > 0 exactly —
    # consecutive/leading/trailing spaces split into '' tokens that must
    # not reach the sketch (a doc-level text filter would miss them)
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") > 0
    )
    freq = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .withColumn("x", _word_poly(F.col("w")))
    )

    def cell(i: int, x) -> F.Column:
        return ((F.lit(2 * i + 1) * x + F.lit(1000003 * i + 12345)) % _MOD) % _CMS_W

    hashed = freq.select(
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), cell(i, F.col("x")).alias("cell")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("ic"),
    )
    cells = hashed.groupBy(
        F.col("ic.i").alias("i"), F.col("ic.cell").alias("cell")
    ).agg(F.sum("exact_n").alias("cnt"))

    cand = freq.orderBy(F.col("exact_n").desc(), "w").limit(_CMS_TOP)
    probes = cand.select(
        F.col("w").alias("word"),
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), cell(i, F.col("x")).alias("cell")
                    )
                    for i in range(_CMS_D)
                ]
            )
        ).alias("ic"),
    )
    return (
        probes.join(
            F.broadcast(cells),
            (F.col("ic.i") == F.col("i")) & (F.col("ic.cell") == F.col("cell")),
        )
        .groupBy("word", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
        .select(
            "word",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership probe
# ---------------------------------------------------------------------------

_BF_BITS = 4096
_BF_K = 3


@query(
    "ext_bloom_probe",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, text, {_word_poly_sql('text')} AS x,
             doc_id % 2 = 0 AS is_history
      FROM documents WHERE length(text) > 0
    ), bits AS (
      SELECT DISTINCT
             ((2 * t.j + 1) * x + 7919 * t.j + 104729) % {_MOD} % {_BF_BITS}
               AS bit
      FROM fp, range(0, {_BF_K}) t(j)
      WHERE is_history
    ), pbits AS (
      SELECT p.doc_id,
             ((2 * t.j + 1) * p.x + 7919 * t.j + 104729)
               % {_MOD} % {_BF_BITS} AS pbit
      FROM fp p, range(0, {_BF_K}) t(j)
      WHERE NOT p.is_history
    ), probed AS (
      SELECT pbits.doc_id,
             count(*) FILTER (WHERE bits.bit IS NOT NULL) = {_BF_K} AS flagged
      FROM pbits LEFT JOIN bits ON bits.bit = pbits.pbit
      GROUP BY 1
    ), truth AS (
      SELECT DISTINCT p.doc_id
      FROM fp p JOIN fp h ON h.is_history AND NOT p.is_history
                        AND h.text = p.text
    )
    SELECT probed.doc_id, probed.flagged,
           truth.doc_id IS NOT NULL AS true_dup,
           probed.flagged AND truth.doc_id IS NULL AS false_positive
    FROM probed LEFT JOIN truth ON probed.doc_id = truth.doc_id
    """,
)
def ext_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup via Bloom filter: history shard (even
    doc_ids) sets k=3 bits per document fingerprint in a {_BF_BITS}-bit
    filter; the new shard (odd doc_ids) probes all 3 bits and is flagged
    when every bit is set. Flags are compared against exact text equality
    to label the false positives the filter's density implies.

    At 100 TB this is the shape that makes day-N dedup not re-shuffle
    day-1..N-1: the filter (bits, not text) is built once per epoch and
    broadcast; each new shard probes locally — zero join against history.
    The false-positive rate is the tunable (bits per key), and this key
    measures it rather than assuming it. Explicit hash family, so the
    oracle reproduces every bit."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "text", _word_poly(F.col("text")).alias("x"))
    )
    history = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)

    def bit(j: int, x) -> F.Column:
        return ((F.lit(2 * j + 1) * x + F.lit(7919 * j + 104729)) % _MOD) % _BF_BITS

    bits = (
        history.select(
            F.explode(
                F.array(*[bit(j, F.col("x")) for j in range(_BF_K)])
            ).alias("bit")
        )
        .distinct()
    )
    probes = probe.select(
        "doc_id",
        F.explode(F.array(*[bit(j, F.col("x")) for j in range(_BF_K)])).alias(
            "pbit"
        ),
    )
    flagged = (
        probes.join(F.broadcast(bits), F.col("pbit") == F.col("bit"), "left")
        .groupBy("doc_id")
        .agg(
            (F.count(F.col("bit")) == _BF_K).alias("flagged")
        )
    )
    truth = (
        probe.select("doc_id", "text")
        .join(history.select(F.col("text").alias("t2")),
              F.col("text") == F.col("t2"), "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return flagged.join(truth, "doc_id", "left").select(
        "doc_id",
        "flagged",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("true_dup"),
        (F.col("flagged") & F.col("is_dup").isNull()).alias("false_positive"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch with intersection estimation
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SRC_A = "src1"
_KMV_SRC_B = "src2"


@query(
    "ext_kmv_intersection",
    oracle=f"""
    WITH tok AS (
      SELECT source, w FROM (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
        WHERE source IN ('{_KMV_SRC_A}', '{_KMV_SRC_B}')
      ) WHERE length(w) > 0
    ), hashed AS (
      SELECT DISTINCT source,
             (1103515245 * {_word_poly_sql('w')} + 54321) % {_MOD} AS h
      FROM tok
    ), ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      FROM hashed
    ), kmv AS (SELECT source, h FROM ranked WHERE rk <= {_KMV_K}),
    theta AS (
      -- per-source theta = the k-th smallest normalized hash
      SELECT source, max(h) AS kth FROM kmv GROUP BY source
    ), merged AS (
      -- theta intersection: joint theta = min of the two thetas; sample =
      -- hashes below joint theta present in BOTH sketches
      SELECT least((SELECT kth FROM theta WHERE source = '{_KMV_SRC_A}'),
                   (SELECT kth FROM theta WHERE source = '{_KMV_SRC_B}'))
               AS jt
    ), inter_sample AS (
      SELECT count(*) AS m FROM (
        SELECT a.h FROM kmv a JOIN kmv b ON a.h = b.h
        WHERE a.source = '{_KMV_SRC_A}' AND b.source = '{_KMV_SRC_B}'
          AND a.h <= (SELECT jt FROM merged)
      )
    ), truth AS (
      SELECT count(*) AS true_i FROM (
        SELECT w FROM tok WHERE source = '{_KMV_SRC_A}'
        INTERSECT
        SELECT w FROM tok WHERE source = '{_KMV_SRC_B}'
      )
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k,
           CAST((SELECT m FROM inter_sample) AS BIGINT) AS shared_in_sample,
           CAST(round((SELECT m FROM inter_sample) * 1.0
                      * {_MOD}.0
                      / (SELECT jt FROM merged)) AS BIGINT) AS est_shared,
           CAST((SELECT true_i FROM truth) AS BIGINT) AS true_shared
    """,
)
def ext_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch with INTERSECTION estimation — the capability
    HLL does not have: each source keeps only its {_KMV_K} smallest
    (deterministic) token hashes; the joint theta is the min of the two
    k-th-smallest values, and distinct tokens shared by both sources are
    estimated as (matches below joint theta) / joint-theta-fraction (the
    Theta-sketch set-operation rule, Dasgupta et al.). The sketch is
    {_KMV_K} int64s per source regardless of vocabulary — mergeable,
    unionable, intersectable. Hashes are the module's explicit affine
    polynomial (bit-identical in both engines), and the true intersection
    rides along for error inspection.

    Scale: per-source top-k-smallest (TakeOrdered shape) over distinct
    hashes; every set operation downstream touches only k values per
    source."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("source").isin(_KMV_SRC_A, _KMV_SRC_B)
    )
    tok = (
        fan_out(docs)
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
    )
    h = (F.lit(1103515245) * _word_poly(F.col("w")) + F.lit(54321)) % _MOD
    hashed = tok.select("source", h.alias("h")).distinct()
    wk = Window.partitionBy("source").orderBy("h")
    kmv = (
        hashed.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KMV_K)
        .select("source", "h")
        .cache()  # without it, 0.69 → 0.77 s at sf0.01, 0.85 → 0.94 s at sf0.1
    )
    theta = kmv.groupBy("source").agg(F.max("h").alias("kth"))
    jt = theta.agg(F.min("kth").alias("jt"))
    ka = kmv.filter(F.col("source") == _KMV_SRC_A).select(
        F.col("h").alias("ha")
    )
    kb = kmv.filter(F.col("source") == _KMV_SRC_B).select(
        F.col("h").alias("hb")
    )
    m = (
        ka.join(kb, F.col("ha") == F.col("hb"))
        .join(F.broadcast(jt))
        .filter(F.col("ha") <= F.col("jt"))
        .agg(F.count(F.lit(1)).alias("m"))
    )
    ta = tok.filter(F.col("source") == _KMV_SRC_A).select("w").distinct()
    tb = tok.filter(F.col("source") == _KMV_SRC_B).select("w").distinct()
    truth = ta.intersect(tb).agg(F.count(F.lit(1)).alias("true_i"))
    return (
        m.join(F.broadcast(jt))
        .join(F.broadcast(truth))
        .select(
            F.lit(_KMV_K).cast("long").alias("k"),
            F.col("m").cast("long").alias("shared_in_sample"),
            F.round(F.col("m") * 1.0 * float(_MOD) / F.col("jt"))
            .cast("long")
            .alias("est_shared"),
            F.col("true_i").cast("long").alias("true_shared"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter sizing planner
# ---------------------------------------------------------------------------


@query(
    "ext_bloom_size_planner",
    oracle="""
    WITH n AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), fpp AS (
      SELECT * FROM (VALUES ('p_1pct', CAST(9585058 AS BIGINT)),
                            ('p_0_1pct', CAST(14377588 AS BIGINT)))
        AS t(fpp_label, c_micro)
    ), m AS (
      SELECT source, n_docs, fpp_label,
             (n_docs * c_micro + 999999) // 1000000 AS m_bits
      FROM n, fpp
    )
    SELECT source, n_docs, fpp_label, CAST(m_bits AS BIGINT) AS m_bits,
           CAST((2 * m_bits * 693147 + n_docs * 1000000)
                // (2 * n_docs * 1000000) AS BIGINT) AS k_hashes
    FROM m
    """,
)
def ext_bloom_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter capacity planning per source: the optimal bit count
    m = ceil(n·ln(1/p)/ln²2) and hash count k = round(m/n·ln2) for two
    target false-positive rates — the sizing table an incremental-dedup
    deployment (ext_bloom_probe's shape) publishes before allocating
    epoch filters, answering "how many bits does each source's history
    filter need at 1% / 0.1% FPP".

    Exactness: the transcendental factors are EMBEDDED micro-unit
    literals, never computed at query time — c_micro = round(1e6 ·
    ln(1/p)/ln²2) (9,585,058 for p=1%; 14,377,588 for p=0.1%) and
    693147 = round(1e6·ln2) — so both engines do pure int64 ceiling /
    round-half-up division on exact counts (the round-9 thaw design
    rule: identical literals both sides, no per-engine floating point).

    Scale: one map-side-combinable count per source and a 2-row
    broadcast of the FPP targets. int64 headroom: the BINDING bound is
    the k_hashes numerator 2·m_bits·693147 at p=0.1%, which overflows
    first at n_docs ≈ 4.6e11 per source (the n·c_micro product for the
    same row follows at ≈ 6.4e11; the p=1% row is safe to ≈ 9.6e11) —
    past ~4.6e11 docs/source DuckDB silently promotes to HUGEINT while
    ANSI Spark errors, so that is the DecimalType(38,0) switch-over
    point, not the old 9.6e11 figure (r10 ADVICE correction)."""
    docs = load(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    fpp = spark.createDataFrame(
        [("p_1pct", 9585058), ("p_0_1pct", 14377588)],
        "fpp_label string, c_micro long",
    )
    m = n.join(F.broadcast(fpp)).select(
        "source",
        "n_docs",
        "fpp_label",
        F.expr("(n_docs * c_micro + 999999) div 1000000").alias("m_bits"),
    )
    return m.select(
        "source",
        "n_docs",
        "fpp_label",
        F.col("m_bits").cast("long"),
        F.expr(
            "CAST((2 * m_bits * 693147 + n_docs * 1000000)"
            " div (2 * n_docs * 1000000) AS BIGINT)"
        ).alias("k_hashes"),
    )
