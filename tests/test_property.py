"""Property-based differential testing: Hypothesis generates random query
fragments (predicates, group-bys, projections) and both engines must agree.

This is the fuzzing layer on top of the fixed oracle inventory: instead of
checking N curated queries, it samples the (filter × aggregate × group-key)
space and asserts Spark ≡ DuckDB on every sample. All generated aggregates
follow the repo's determinism conventions (integer/count aggregates only —
no raw double SUMs, which are order-dependent by construction).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_sql_dsv2_extension_spark.conf import ConfigEntry, register_entry


@pytest.fixture(scope="module", autouse=True)
def _views(spark, sf_dir):
    from spark_sql_dsv2_extension_spark.tables import register_views

    register_views(spark, sf_dir)

# numeric lineitem columns safe for integer-exact comparisons
NUM_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
STR_COLS = ("l_returnflag", "l_linestatus")
OPS = ("<", "<=", ">", ">=", "=", "<>")

predicates = st.lists(
    st.tuples(
        st.sampled_from(NUM_COLS),
        st.sampled_from(OPS),
        st.integers(min_value=0, max_value=2000),
    ),
    min_size=1,
    max_size=3,
)
connectors = st.sampled_from(("AND", "OR"))


def _where(preds, conn) -> str:
    return f" {conn} ".join(f"{c} {op} {v}" for c, op, v in preds)


_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(preds=predicates, conn=connectors)
@settings(**_SETTINGS)
def test_random_filter_counts_agree(spark, duck, preds, conn):
    sql = f"SELECT count(*) AS n FROM lineitem WHERE {_where(preds, conn)}"
    assert spark.sql(sql).collect()[0][0] == duck.sql(sql).fetchone()[0]


@given(
    preds=predicates,
    conn=connectors,
    key=st.sampled_from(STR_COLS),
    agg_col=st.sampled_from(NUM_COLS),
)
@settings(**_SETTINGS)
def test_random_grouped_int_aggregates_agree(spark, duck, preds, conn, key, agg_col):
    sql = f"""
        SELECT {key}, count(*) AS n,
               CAST(sum({agg_col}) AS BIGINT) AS s,
               min({agg_col}) AS mn, max({agg_col}) AS mx
        FROM lineitem WHERE {_where(preds, conn)}
        GROUP BY {key}
    """
    a = sorted(str(tuple(r)) for r in spark.sql(sql).collect())
    b = sorted(str(tuple(r)) for r in duck.sql(sql).fetchall())
    assert a == b


@given(
    lo=st.integers(min_value=0, max_value=500),
    width=st.integers(min_value=1, max_value=500),
    key=st.sampled_from(("o_orderstatus", "o_orderpriority")),
)
@settings(**_SETTINGS)
def test_random_join_aggregate_agrees(spark, duck, lo, width, key):
    sql = f"""
        SELECT {key}, count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey BETWEEN {lo} AND {lo + width}
        GROUP BY {key}
    """
    a = sorted(str(tuple(r)) for r in spark.sql(sql).collect())
    b = sorted(str(tuple(r)) for r in duck.sql(sql).fetchall())
    assert a == b


def test_property_views_registered(spark):
    assert spark.sql("SELECT count(*) FROM lineitem").collect()[0][0] > 0


# -- round-2 additions: catalog-layer properties ----------------------------

part_values = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6),
    st.dates(),
    st.booleans(),
)


@given(v=part_values)
@settings(max_examples=25, deadline=None)
def test_partition_value_cast_roundtrip(v):
    """A26: directory-string rendering then typed cast is the identity for
    every supported partition type."""
    import datetime

    from pyspark.sql.types import BooleanType, DateType, LongType

    from spark_sql_dsv2_extension_spark.catalog import _cast_partition_value

    if isinstance(v, bool):
        assert _cast_partition_value(str(v).lower(), BooleanType()) == v
    elif isinstance(v, int):
        assert _cast_partition_value(str(v), LongType()) == v
    elif isinstance(v, datetime.date):
        assert _cast_partition_value(v.isoformat(), DateType()) == v


# an int entry under a catalog type of the tests' own: the engine registers
# no int option, and coercion of one is what the property below covers
_SIZED_TYPE = "folk_isolation_test"
register_entry(_SIZED_TYPE, ConfigEntry("size-mb", 128, int))


@given(
    mb=st.integers(min_value=1, max_value=10**6),
    dyn=st.booleans(),
)
@settings(max_examples=20, deadline=None)
def test_conf_folk_isolation(mb, dyn):
    """A29: folk() layers overrides without mutating the parent, and typed
    coercion accepts string renderings of each value."""
    from spark_sql_dsv2_extension_spark.conf import EngineConf

    sized = EngineConf(_SIZED_TYPE)
    forked_size = sized.folk(**{"size-mb": str(mb)})
    assert forked_size.get("size-mb") == mb
    assert sized.get("size-mb") == 128

    base = EngineConf()
    forked = base.folk(**{"write.dynamic-overwrite": str(dyn).lower()})
    assert forked.get("write.dynamic-overwrite") is dyn
    assert base.get("write.dynamic-overwrite") is True


def test_partitioning_invariance_of_scaled_aggregates(spark, sf_dir):
    """The engine-wide determinism claim, tested directly: results of
    scaled-integer float aggregation and LCG-derived operators are
    IDENTICAL under different partition layouts (different partition
    counts change float accumulation order — a raw double SUM would
    flake; the integer-scaled pattern must not)."""
    from spark_sql_dsv2_extension_spark.registry import load_all
    from tests.parity import canonical_rows

    specs = load_all()
    keys = ["agg_hash_group", "ext_word_entropy", "ext_unigram_logprob", "ext_label_cohesion"]
    for key in keys:
        base = canonical_rows(specs[key].fn(spark, sf_dir).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            alt = canonical_rows(specs[key].fn(spark, sf_dir).toPandas())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert base == alt, f"{key}: result depends on partition count"


def test_sketch_invariants(spark, sf_dir):
    """The guarantees each sketch family makes BY CONSTRUCTION, asserted on
    the computed outputs (complementary to the exact-oracle parity check):
    CMS never underestimates; a Bloom filter never false-negatives; HLL
    union is at least every per-shard estimate."""
    from spark_sql_dsv2_extension_spark.registry import load_all

    specs = load_all()

    cms = specs["ext_cms_heavy_hitters"].fn(spark, sf_dir).collect()
    assert cms, "cms returned no rows"
    for r in cms:
        assert r["est_n"] >= r["exact_n"], r
        assert r["overestimate"] == r["est_n"] - r["exact_n"]

    bloom = specs["ext_bloom_probe"].fn(spark, sf_dir).collect()
    assert bloom
    for r in bloom:
        if r["true_dup"]:
            assert r["flagged"], f"bloom false negative: {r}"
        assert r["false_positive"] == (r["flagged"] and not r["true_dup"])

    hll = {r["source"]: r for r in specs["ext_hll_union"].fn(spark, sf_dir).collect()}
    assert "ALL" in hll and len(hll) > 1
    for src, r in hll.items():
        assert r["est_distinct"] > 0
        if src != "ALL":
            # union max-merges registers: its estimate dominates each shard's
            assert hll["ALL"]["est_distinct"] >= r["est_distinct"] - 1e-9


def test_cdc_chunking_resync_property(spark, sf_dir):
    """The CDC property that justifies content-defined over fixed-offset
    chunking: prepending bytes to a document changes at most the chunks
    before the first boundary — every boundary AFTER the first cut
    re-synchronizes to the same content positions (shifted by the prefix
    length), so downstream chunks still dedupe."""
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.extensions.dedup import (
        _CDC_DIV,
        _CDC_GRAM,
        ext_cdc_chunking,
    )
    from spark_sql_dsv2_extension_spark.registry import load_all

    base = ext_cdc_chunking(spark, sf_dir).filter(F.col("doc_id") == 1)
    rows = sorted(
        base.collect(), key=lambda r: r.chunk_idx
    )
    assert rows, "doc 1 must chunk"
    # simulate the prefix edit: same text with 'PREFIX ' prepended
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") == 1
    )
    prefix = "PREFIX-"
    edited = docs.select(
        "doc_id", F.concat(F.lit(prefix), F.col("text")).alias("text")
    )
    edited.createOrReplaceTempView("_cdc_edit")

    def gram_hash(p):
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(_CDC_GRAM - 1)),
                lambda k: F.ascii(F.col("text").substr(p + k, F.lit(1))).cast(
                    "long"
                ),
            ),
            F.lit(7).cast("long"),
            lambda acc, c: (acc * 131 + c) % 2_147_483_647,
        )

    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (_CDC_GRAM - 1), F.lit(1))
    )
    cuts = edited.select(
        F.filter(positions, lambda p: gram_hash(p) % _CDC_DIV == 0).alias(
            "cuts"
        )
    ).collect()[0]["cuts"]
    orig_starts = [r.start for r in rows][1:]  # drop the position-1 start
    # compare boundary CONTENT positions: original start s (1-based in the
    # unedited text) corresponds to start s + len(prefix) in the edited text
    edited_starts = {c + _CDC_GRAM for c in cuts}
    missing = [
        s for s in orig_starts if (s + len(prefix)) not in edited_starts
    ]
    assert not missing, f"boundaries failed to re-sync: {missing}"


def test_fuzzy_levenshtein_blocking_recall_exact(spark, sf_dir):
    """The length-band candidate generator must have EXACT recall: every
    pair the unblocked (lang-only) join qualifies must also be found by
    the banded path. Verified by re-running the thresholded all-pairs
    join and comparing pair sets."""
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.extensions.dedup import (
        FUZZY_MAX_RATIO,
        ext_fuzzy_dedup_levenshtein,
    )
    from spark_sql_dsv2_extension_spark.tables import load

    banded = {
        (r.d1, r.d2)
        for r in ext_fuzzy_dedup_levenshtein(spark, sf_dir).collect()
    }
    docs = load(spark, sf_dir, "documents")
    a = docs.select(
        F.col("lang").alias("al"), F.col("doc_id").alias("d1"),
        F.col("text").alias("at"),
    )
    b = docs.select(
        F.col("lang").alias("bl"), F.col("doc_id").alias("d2"),
        F.col("text").alias("bt"),
    )
    ed = F.levenshtein("at", "bt")
    brute = {
        (r.d1, r.d2)
        for r in a.join(
            b, (F.col("al") == F.col("bl")) & (F.col("d1") < F.col("d2"))
        )
        .filter(
            ed
            <= F.floor(
                F.lit(FUZZY_MAX_RATIO)
                * F.greatest(F.length("at"), F.length("bt"))
            ).cast("long")
        )
        .select("d1", "d2")
        .collect()
    }
    assert banded == brute, (
        f"banded missed {brute - banded}, extra {banded - brute}"
    )


def test_containment_prefix_filter_recall_exact(spark, sf_dir):
    """AllPairs prefix filtering must have exact recall vs the raw
    shingle-sharing join at the containment threshold."""
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.extensions.dedup import (
        CONTAINMENT_THRESHOLD,
        _shingles,
        ext_near_dup_containment,
    )
    from spark_sql_dsv2_extension_spark.tables import load

    prefixed = {
        (r.d1, r.d2)
        for r in ext_near_dup_containment(spark, sf_dir).collect()
    }
    sh = _shingles(load(spark, sf_dir, "documents")).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    aa, bb = sh.alias("a"), sh.alias("b")
    inter = (
        aa.join(
            bb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1, n2 = sizes.alias("n1"), sizes.alias("n2")
    brute = {
        (r.d1, r.d2)
        for r in inter.join(n1, F.col("d1") == F.col("n1.doc_id"))
        .join(n2, F.col("d2") == F.col("n2.doc_id"))
        .filter(
            F.col("i") * 1.0 / F.least(F.col("n1.n"), F.col("n2.n"))
            >= CONTAINMENT_THRESHOLD
        )
        .select("d1", "d2")
        .collect()
    }
    assert prefixed == brute, (
        f"prefix filter missed {brute - prefixed}, extra {prefixed - brute}"
    )


def test_mann_whitney_u_bounds(spark, sf_dir):
    """0 ≤ U ≤ n0·n1, i.e. 0 ≤ u2x ≤ 2·eu2x (U statistic range identity)."""
    from spark_sql_dsv2_extension_spark.registry import load_all

    row = load_all()["ext_mann_whitney_u"].fn(spark, sf_dir).collect()[0]
    assert 0 <= row.u2x <= 2 * row.eu2x


def test_ndcg_bounded_by_ideal(spark, sf_dir):
    """DCG ≤ IDCG for every user, so ndcg6 ∈ [0, 1e6]."""
    from spark_sql_dsv2_extension_spark.registry import load_all

    rows = load_all()["ext_ndcg_eval"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.ndcg6 <= 1_000_000
        assert r.dcg6 <= r.idcg6


def test_spearman_in_range_and_selfcorr(spark, sf_dir):
    """ρ ∈ [−1, 1]; and rank-correlating a column with itself gives 1."""
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.registry import load_all
    from spark_sql_dsv2_extension_spark.tables import load

    rows = load_all()["ext_spearman_corr"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1_000_000 <= r.rho6 <= 1_000_000


def test_bootstrap_ci_ordered(spark, sf_dir):
    """lo ≤ hi, and both are plausible means (positive for purchase cents)."""
    from spark_sql_dsv2_extension_spark.registry import load_all

    row = load_all()["ext_poisson_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert row.ci_lo6 <= row.ci_hi6
    assert row.ci_lo6 > 0


def test_incremental_merge_equals_direct(spark, sf_dir):
    """merge(agg(base), agg(shard)) must equal a direct single-pass agg —
    checked structurally here (not just vs DuckDB): recompute directly in
    Spark and compare row sets."""
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.registry import load_all
    from spark_sql_dsv2_extension_spark.tables import load

    merged = {
        tuple(r)
        for r in load_all()["ext_incremental_agg_merge"].fn(spark, sf_dir).collect()
    }
    direct = {
        tuple(r)
        for r in load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .collect()
    }
    assert merged == direct


def test_neyman_allocation_exhausts_budget(spark, sf_dir):
    """Integer quotas floor-divide, so Σ alloc_n ≤ 10000 and within
    #strata of it (each stratum loses < 1 unit to flooring)."""
    from spark_sql_dsv2_extension_spark.registry import load_all

    rows = load_all()["ext_neyman_allocation"].fn(spark, sf_dir).collect()
    total = sum(r.alloc_n for r in rows)
    assert 10000 - len(rows) <= total <= 10000


# --- round 5: distributed order-statistics helpers vs native windows ---

@given(
    n=st.integers(min_value=1, max_value=400),
    b=st.integers(min_value=1, max_value=500),
    vmax=st.integers(min_value=0, max_value=20),  # 0 => all-tie column
    width=st.sampled_from([1, 3, 8, 64]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(**_SETTINGS)
def test_distributed_ntile_property(spark, n, b, vmax, width, seed):
    """distributed_ntile == native ntile for arbitrary sizes, bucket
    counts (including b > n), tie densities (vmax=0 makes the whole value
    column one tie group, so only the id tiebreak orders), and range
    widths (width > n exercises empty range partitions)."""
    import random as _random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.operators.quantiles import (
        distributed_ntile,
    )

    rnd = _random.Random(seed)
    rows = [(i, rnd.randint(0, vmax)) for i in range(n)]
    df = spark.createDataFrame(rows, "id BIGINT, v BIGINT")
    got = distributed_ntile(df, ["v", "id"], b, out="t", num_partitions=width)
    exp = df.withColumn("t", F.ntile(b).over(W.orderBy("v", "id")))
    assert got.select("id", "t").exceptAll(exp.select("id", "t")).count() == 0
    assert exp.select("id", "t").exceptAll(got.select("id", "t")).count() == 0


# --- round 5: engine_sql quote-aware scanner invariants ---

_SQL_FRAGMENTS = st.lists(
    st.one_of(
        st.sampled_from([
            "SELECT x FROM cat.db.t",
            " WHERE c = ",
            " AND ",
            "cat.db.t",
            "JOIN cat2.ns.u ON 1=1",
        ]),
        # string literals (with doubled-quote escapes), backquotes, comments
        st.sampled_from([
            "'see cat.db.t here'",
            "'it''s cat.db.t'",
            '"cat.db.t"',
            "`cat.db.t`",
            "-- cat.db.t trailing comment\n",
            "/* cat.db.t block */",
            "'a,b = c'",
        ]),
    ),
    min_size=1,
    max_size=8,
)


@given(frags=_SQL_FRAGMENTS)
@settings(max_examples=60, deadline=None)
def test_code_segment_scanner_never_touches_literals(frags):
    """_map_sql_code_segments must apply fn ONLY to code: for any
    interleaving of code, string literals (with '' escapes), backquoted
    identifiers, and comments, (a) the identity fn reproduces the input
    byte-for-byte, and (b) an uppercasing fn never alters bytes inside
    literals/backquotes/comments."""
    from spark_sql_dsv2_extension_spark.catalog import _map_sql_code_segments

    q = "".join(frags)
    assert _map_sql_code_segments(q, lambda s: s) == q

    marked = _map_sql_code_segments(q, lambda s: s.replace("cat.db.t", "XXX"))
    # every literal/comment fragment must survive verbatim
    for frag in frags:
        if frag[0] in "'\"`" or frag.startswith("--") or frag.startswith("/*"):
            assert frag.rstrip("\n") in marked, (frag, marked)


_PROP_VALUES = st.text(
    alphabet=st.sampled_from(list("abc,=' xyz0")), min_size=0, max_size=12
)


@given(pairs=st.dictionaries(
    st.text(alphabet=st.sampled_from(list("abcxyz._-")), min_size=1, max_size=8),
    _PROP_VALUES,
    min_size=0,
    max_size=5,
))
@settings(max_examples=60, deadline=None)
def test_parse_props_roundtrip(pairs):
    """_parse_props inverts TBLPROPERTIES serialization for arbitrary
    keys/values including commas, equals signs, spaces, and embedded
    quotes (escaped by doubling) — the round-4 ADVICE bug class."""
    from spark_sql_dsv2_extension_spark.catalog import _parse_props

    text = ", ".join(
        f"'{k}' = '{v.replace(chr(39), chr(39) * 2)}'" for k, v in pairs.items()
    )
    assert _parse_props(text) == pairs


@given(pairs=st.dictionaries(
    st.text(alphabet=st.sampled_from(list("abcxyz._-")), min_size=1, max_size=8),
    st.text(
        # unquoted lenient values: no commas (pair separator) or quotes,
        # but '=' and inner spaces are fair game (round-6 lenient path)
        alphabet=st.sampled_from(list("abc= xyz0._-")), min_size=1, max_size=12
    ).filter(lambda v: v.strip() and not v.strip().startswith("=")),
    min_size=1,
    max_size=5,
))
@settings(max_examples=60, deadline=None)
def test_parse_props_lenient_unquoted(pairs):
    """The lenient UNQUOTED-value path must reproduce split('=', 1)
    semantics verbatim: the value is the source text from the first value
    character to the next comma, stripped — inner '=' and spacing
    preserved (round-6 ADVICE + review)."""
    from spark_sql_dsv2_extension_spark.catalog import _parse_props

    text = ", ".join(f"{k} = {v}" for k, v in pairs.items())
    assert _parse_props(text) == {k: v.strip() for k, v in pairs.items()}


def test_fuzzy_levenshtein_pairs_unique_at_band_boundaries(spark, tmp_path):
    """Round-7 rewrite invariant: candidate pairs are unique BY
    CONSTRUCTION (no post-join distinct) — a same-band pair must surface
    exactly once via its p_id < h_id ordering, an adjacent-band pair
    exactly once via the lower band's upward probe REGARDLESS of which
    side has the smaller doc_id, and the thresholded levenshtein must
    report the same distance the unbounded form would. Crafted corpus
    pins each case on both sides of a band boundary."""
    import math

    from spark_sql_dsv2_extension_spark.extensions.dedup import (
        FUZZY_MAX_RATIO,
        ext_fuzzy_dedup_levenshtein,
    )

    ratio = 1.0 - FUZZY_MAX_RATIO
    band_base = math.log(1.0 / ratio)

    def band(n: int) -> int:
        return math.floor(math.log(n + 1) / band_base)

    a, b = "x" * 100, "x" * 120          # ed=20 <= floor(0.3*120)=36
    assert band(len(a)) + 1 == band(len(b)), "fixture must straddle bands"
    c = "y" * 100 + "z"                  # same band as a twin, 1 edit
    d = "y" * 101
    assert band(len(c)) == band(len(d))
    rows = [
        # adjacent-band pair where the HIGHER band has the SMALLER id:
        # only a's upward probe can emit it, and d1/d2 order by id
        (1, "en", b),
        (2, "en", a),
        # same-band pair, found via both home probes, kept once (id order)
        (3, "en", c),
        (4, "en", d),
        # identical texts (ed=0) — exactly one row, not two
        (5, "en", "w" * 150),
        (6, "en", "w" * 150),
        # same band as 3/4 but different lang — must not pair
        (7, "de", d),
    ]
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = [
        (r.d1, r.d2, r.edit_dist)
        for r in ext_fuzzy_dedup_levenshtein(spark, str(tmp_path)).collect()
    ]
    assert sorted(out) == [(1, 2, 20), (3, 4, 1), (5, 6, 0)], out
    assert len(out) == len(set((x, y) for x, y, _ in out)), f"dup pairs: {out}"
