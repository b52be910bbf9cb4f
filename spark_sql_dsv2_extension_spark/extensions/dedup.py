"""Deduplication operators (SURVEY §2C; north-star LLM-pipeline surface).

Four dedup families over the ``documents`` table, in increasing
sophistication. Scale posture is the whole point here:

- **exact** — one hash-groupBy shuffle; at 100 TB this is the cheapest
  possible dedup (shuffle carries (hash, doc_id), never the text).
- **MinHash + LSH** — the production near-dup path: O(n · shingles · k)
  signature computation, candidates from band-bucket equi-joins (shuffle on
  band signature), exact-Jaccard verification ONLY on candidates. Never a
  cross join. 96 hashes / 24 bands of 4 ⇒ P(catch | J=0.8) ≈ 1−3e-6,
  so the exact-Jaccard oracle at threshold 0.8 agrees with the LSH output
  up to negligible probability.
- **n-gram Jaccard** — the brute-force baseline (pairs sharing a shingle);
  correct at any sf, quadratic in collisions — the thing LSH replaces.
- **SimHash** — signed-projection sketch; hamming-≤3 pairs found by
  pigeonhole over 4 16-bit chunks (band equi-join again). The token hash is
  an explicit polynomial (not an engine hash), so the sketch is reproduced
  bit-for-bit by the DuckDB oracle — exact check.

Fixture note: documents' near-dups sit at Jaccard ≥ 0.9 (one pair ~0.79;
everything unrelated < 0.3 — measured), so the 0.8 threshold has a wide
margin on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import fan_out, load

N_HASHES = 96
N_BANDS = 24  # rows per band r = 4
JACCARD_THRESHOLD = 0.8


@query(
    "ext_exact_dedup",
    oracle="""
    SELECT doc_id,
           sha256(text) AS content_hash,
           min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper_doc_id,
           doc_id > min(doc_id) OVER (PARTITION BY sha256(text)) AS is_duplicate
    FROM documents
    """,
)
def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: every doc is assigned its group's
    deterministic keeper (min doc_id); ``is_duplicate`` marks the rows a
    pipeline would drop. One shuffle of (hash, id) pairs — at 100 TB the
    text itself never moves, only 32-byte hashes."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    return (
        docs.select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .withColumn("keeper_doc_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") > F.col("keeper_doc_id"))
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) with distinct word n-grams per document.

    The input goes through tables.fan_out first: a fixture table is one
    file with one row group, so its scan is one task, and the shingle
    explode is CPU-heavy. Without it ext_near_dedup_minhash took 2.34 s
    instead of 1.44 s at sf0.1 on 4 cores (medians of 5 interleaved runs).

    Distinctness is per document, so it runs MAP-SIDE via array_distinct
    before the explode — a row-level .distinct() here would shuffle the
    entire shingle stream just to dedupe within each doc_id, the single
    most expensive (and entirely avoidable) exchange in the dedup family.

    Documents with fewer than ``n`` words carry no n-gram shingles: the
    ``size(w) >= n`` gate below makes them vanish here (matching every
    consumer's oracle, which self-joins on word position and naturally
    yields zero shingles) instead of ANSI-raising INVALID_ARRAY_INDEX on
    the ``w[i + 2]`` access when ``sequence(0, size(w) - n)`` goes
    negative. Codegen'd into the scan stage — no new exchange
    (DEGENERATE_AUDIT_r8.md Family A; plan widths re-verified at or under
    every consumer's _EXCHANGE_BUDGETS pin).
    """
    docs = fan_out(docs)
    words = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= n
    )
    return words.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - n),
                    lambda i: F.concat_ws(
                        " ",
                        F.col("w")[i],
                        F.col("w")[i + 1],
                        F.col("w")[i + 2],
                    ),
                )
            )
        ).alias("shingle"),
    )


_EXACT_JACCARD_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, i * 1.0 / (s1.n + s2.n - i) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE i * 1.0 / (s1.n + s2.n - i) >= {{thr}}
"""


@query(
    "ext_near_dedup_minhash",
    oracle=_EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD),
)
def ext_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, exact-Jaccard-verified.

    Pipeline (all DataFrame ops, shuffle only on band signatures and
    candidate keys):
      1. distinct 3-word shingles per doc;
      2. 96 minhashes per doc: min over shingles of xxhash64(i ⊕ shingle);
      3. 24 bands × 4 rows; band signature = hash of the 4 minhashes;
      4. candidates = docs sharing any (band, signature) bucket;
      5. exact Jaccard on candidates only; keep pairs ≥ 0.8.

    The oracle computes exact Jaccard over ALL pairs sharing a shingle —
    LSH recall at J ≥ 0.8 is 1 − (1 − 0.8⁴)²⁴ ≈ 1 − 3e-6, so outputs agree.
    At 100 TB only this LSH path survives; the oracle's shape is the
    brute-force baseline (see ext_ngram_jaccard).

    Sub-shingle documents (fewer than 3 words) are GATED, not a
    precondition: ``_shingles`` filters ``size(words) >= 3`` before the
    n-gram access (landed at round-11 close, re-fronted in the round-12
    driver window), so a short document yields zero shingles on both
    engines instead of ANSI-raising INVALID_ARRAY_INDEX on ``w[i + 2]`` —
    matching the oracle's position self-join, which naturally produces no
    3-grams. ``ext_dedup_cascade_report`` composes this operator and
    inherits the gate.
    """
    return _minhash_pairs(spark, sf_dir, N_BANDS, JACCARD_THRESHOLD)


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, n_bands: int, threshold: float
) -> DataFrame:
    """The ext_near_dedup_minhash pipeline with N_HASHES minhashes split
    into ``n_bands`` bands, keeping verified pairs with Jaccard
    ≥ ``threshold``."""
    docs = load(spark, sf_dir, "documents")
    # cached: without it, ext_dedup_survivorship 1.92 → 2.35 s at sf0.01 and
    # ext_dedup_threshold_curve 1.46 → 1.66 s at sf0.1 (A/B over all 10 keys)
    sh = _shingles(docs).cache()

    # 96 minhashes as 96 wide MIN aggregates — every xxhash64 runs inside
    # whole-stage-codegen'd partial aggregation with zero array allocation
    # (an array-of-arrays formulation was ~3× slower at sf0.1, and an r17
    # numpy/mapInArrow vectorization A/B'd 1.8× SLOWER steady-state than
    # this codegen'd form — see OPTIMIZATION_r17.md). Signature AND the
    # 24-band explode are ONE parsed SQL statement ending in the leaf
    # (r17; they were two statements + a cache+leaf pair in r16): this
    # key's cost is dominated by DRIVER-side plan construction/analysis,
    # not execution, and fusing them drops one full analysis pass over
    # the 96-column aggregate (alternating A/B at sf0.1: key mean 2.13 →
    # 1.93 s, min 1.82 → 1.70, values bit-identical; the bands cache was
    # redundant under the leaf's own persistence — the self-join reads
    # ONE materialization either way).
    sig_cols = ", ".join(
        f"min(xxhash64({i}, shingle)) AS h{i}" for i in range(N_HASHES)
    )
    rows_per_band = N_HASHES // n_bands
    band_arr = (
        "array("
        + ", ".join(
            "xxhash64("
            + ", ".join(
                f"h{b * rows_per_band + j}" for j in range(rows_per_band)
            )
            + ")"
            for b in range(n_bands)
        )
        + ")"
    )
    bands_leaf = spark.sql(
        f"""
        SELECT doc_id, band, band_sig
        FROM (SELECT doc_id, {sig_cols} FROM {{sh}} GROUP BY doc_id)
        LATERAL VIEW posexplode({band_arr}) t AS band, band_sig
        """,
        sh=sh,
    ).localCheckpoint(eager=False)

    # One parsed SQL statement instead of ~8 Dataset ops (r16: the same
    # driver-side-analysis economy as sig above; SQL aliasing also scopes
    # the self-join cleanly). lazy localCheckpoint, not cache: tiny
    # (bucket collisions) with three consumers below — the checkpoint
    # persists it once at first use AND truncates the lineage so
    # downstream plans reference a LogicalRDD leaf instead of
    # re-expanding the whole LSH subtree per consumer (the r10 equidepth
    # discipline)
    candidates = spark.sql(
        """
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        FROM {bands} l JOIN {bands} r
          ON l.band = r.band AND l.band_sig = r.band_sig
         AND l.doc_id < r.doc_id
        """,
        bands=bands_leaf,
    ).localCheckpoint(eager=False)

    # exact verification on candidates only — candidate-restricted (r16):
    # the candidate relation is tiny (LSH-bucket collisions), so it is the
    # broadcast build side, and the corpus-sized shingle stream is first
    # PRUNED to candidate docs with a broadcast semi-join. The previous
    # shape let the planner broadcast the WHOLE shingle stream into both
    # verification joins (backwards at any scale; an OOM at 100 TB —
    # guide §3.1/§3.2: broadcast the side that fits, semi-join-prune the
    # big side). Sizes are aggregated over the pruned stream only: a
    # candidate doc's full shingle set survives the semi-join, so its
    # count is unchanged, and non-candidate docs' counts were discarded
    # by the inner join anyway.
    # lazy localCheckpoint: candidate-doc-bounded (small); consumed by
    # sizes + both sides of the intersection join — one pruning pass over
    # sh, not three, and a LogicalRDD leaf in every consumer's plan
    shc = spark.sql(
        """
        SELECT /*+ BROADCAST(cd) */ s.*
        FROM {sh} s
        LEFT SEMI JOIN (
          SELECT DISTINCT explode(array(d1, d2)) AS doc_id FROM {cands}
        ) cd ON s.doc_id = cd.doc_id
        """,
        sh=sh,
        cands=candidates,
    ).localCheckpoint(eager=False)
    # sizes + intersection + Jaccard in one parsed statement (the `D`
    # suffix keeps the 1.0 literal a DOUBLE, matching the old Python
    # float lit — SQL's bare 1.0 would be DECIMAL and change the result
    # type). Broadcast hints pin the same physical shape as before: the
    # tiny candidate set and sizes are the build sides.
    jac = spark.sql(
        f"""
        SELECT /*+ BROADCAST(n1), BROADCAST(n2) */
               inter.d1, inter.d2,
               i * 1.0D / (n1.n + n2.n - i) AS jaccard
        FROM (
          SELECT /*+ BROADCAST(c) */ c.d1, c.d2, count(1) AS i
          FROM {{cands}} c
          JOIN {{shc}} s1 ON c.d1 = s1.doc_id
          JOIN {{shc}} s2 ON c.d2 = s2.doc_id
                         AND s1.shingle = s2.shingle
          GROUP BY c.d1, c.d2
        ) inter
        JOIN (SELECT doc_id, count(1) AS n FROM {{shc}} GROUP BY doc_id) n1
          ON inter.d1 = n1.doc_id
        JOIN (SELECT doc_id, count(1) AS n FROM {{shc}} GROUP BY doc_id) n2
          ON inter.d2 = n2.doc_id
        WHERE i * 1.0D / (n1.n + n2.n - i) >= {threshold!r}D
        """,
        cands=candidates,
        shc=shc,
    )
    return jac


@query(
    "ext_ngram_jaccard",
    oracle=_EXACT_JACCARD_SQL.format(thr=0.5),
)
def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force n-gram Jaccard near-dup pairs (threshold 0.5) — the exact
    baseline MinHash approximates. Cost is quadratic in docs sharing a
    shingle; correct at any sf, affordable only below ~1e6 docs. Kept as the
    reference implementation and small-sf verifier for the LSH path."""
    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.alias("n1")
    n2 = sizes.alias("n2")
    return (
        inter.join(n1, F.col("d1") == F.col("n1.doc_id"))
        .join(n2, F.col("d2") == F.col("n2.doc_id"))
        .select(
            "d1",
            "d2",
            (F.col("i") * 1.0 / (F.col("n1.n") + F.col("n2.n") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


_SH_MOD = 2_147_483_647  # 2^31 - 1
_SH_BITS = 62  # two 31-bit polynomial hashes stacked


def _sh_poly_sql(base: int, seed: int) -> str:
    """DuckDB text of the per-token polynomial hash (mirrors _sh_poly)."""
    return f"""list_reduce(
        list_prepend(CAST({seed} AS BIGINT),
          list_transform(range(1, length(w) + 1),
            i -> CAST(ascii(substring(w, CAST(i AS INT), 1)) AS BIGINT))),
        (acc, c) -> (acc * {base} + c) % {_SH_MOD})"""


_SIMHASH_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), th AS (
      SELECT doc_id,
             {_sh_poly_sql(131, 7)} AS p1,
             {_sh_poly_sql(137, 11)} AS p2
      FROM tok
    ), bits AS (
      SELECT doc_id, b.i AS i,
             CASE WHEN ((CASE WHEN b.i < 31 THEN p1 >> CAST(b.i AS INT)
                              ELSE p2 >> CAST(b.i - 31 AS INT) END) & 1) = 1
                  THEN 1 ELSE -1 END AS v
      FROM th, range(0, {_SH_BITS}) b(i)
    ), sums AS (
      SELECT doc_id, i, sum(v) AS s FROM bits GROUP BY 1, 2
    ), sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(i AS INT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM sums GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id, simhash, c.k AS k,
             (simhash >> CAST(c.k * 16 AS INT)) & 65535 AS chunk
      FROM sh, range(0, 4) c(k)
    ), cand AS (
      SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
             l.simhash AS s1, r.simhash AS s2
      FROM chunks l JOIN chunks r
        ON l.k = r.k AND l.chunk = r.chunk AND l.doc_id < r.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(s1, s2)) <= 3
"""


@query("ext_near_dedup_simhash", oracle=_SIMHASH_ORACLE)
def ext_near_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates — with an EXACT oracle.

    The per-token hash is an explicit polynomial (two 31-bit rolling hashes,
    bases 131/137, mod 2³¹−1, stacked into a 62-bit sketch) instead of an
    engine hash, so DuckDB reproduces the sketch bit-for-bit — integer
    arithmetic has no cross-engine variance.

    SimHash per doc: bit i is the sign of Σ over tokens of (±1 by
    token-hash bit i). Pairs within hamming distance ≤ 3 are found via
    pigeonhole banding: split the bits into 4 chunks of 16 — any pair at
    distance ≤ 3 agrees exactly on ≥ 1 chunk, so candidates come from a
    chunk equi-join (one shuffle), then the true hamming distance filters.
    Same cost shape as MinHash-LSH: linear sketch + bucket join, no cross
    product — the 100 TB path for token-frequency-weighted near-dup.
    """
    docs = fan_out(load(spark, sf_dir, "documents"))

    def poly(base: int, seed: int):
        # per-char fold over the token: (acc * base + ascii) % (2^31-1)
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.ascii(F.col("w").substr(i, F.lit(1))).cast("long"),
            ),
            F.lit(seed).cast("long"),
            lambda acc, c: (acc * base + c) % _SH_MOD,
        )

    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .withColumn("p1", poly(131, 7))
        .withColumn("p2", poly(137, 11))
    )

    def bit(i: int):
        src = F.shiftright("p1", i) if i < 31 else F.shiftright("p2", i - 31)
        return src.bitwiseAND(F.lit(1))

    # per doc: for each bit, sum of +1/-1; bit set iff sum > 0
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
            for i in range(_SH_BITS)
        ]
    )
    simhash = bit_sums.select(
        "doc_id",
        sum(
            (
                F.when(
                    F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
                ).otherwise(F.lit(0).cast("long"))
            )
            for i in range(_SH_BITS)
        ).alias("simhash"),
    )

    # 4 chunks of 16 bits → pigeonhole candidates for hamming <= 3
    chunks = simhash.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", k * 16).bitwiseAND(F.lit(0xFFFF))
                    for k in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("d1"),
            F.col("r.doc_id").alias("d2"),
            F.col("l.simhash").alias("h1"),
            F.col("r.simhash").alias("h2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return cand.select("d1", "d2", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


MAX_CC_ITERS = 12


def _cc_large_small_star(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds guaranteed vs. graph-diameter rounds for
    plain min-label propagation, because every round contracts whole
    subtrees onto the current minimum, not just distance-1 neighbors.

    large-star: every node links its strictly LARGER neighbors to the
    minimum of its closed neighborhood. small-star: with edges oriented
    high→low, every node links its smaller neighbors (and itself) to that
    minimum. The fixpoint is a star forest: every node points at its
    component's global min. Each round is two equi-join + groupBy shapes
    over the (tiny, dup-pairs-only) edge set; the driver sees one
    (count, checksum) scalar pair per round — data never leaves the
    cluster.

    Input: unique (d1, d2) pairs with d1 < d2. Output: (doc_id,
    cluster_id=component min) covering every node in the pair graph.

    Every round ends in ``localCheckpoint`` (executor-resident, no driver
    round-trip): each round references its input ~6 times (union + two
    join sides + re-aggregations), so without lineage truncation the
    logical plan grows 6^rounds and Catalyst/AQE planning time — not
    execution — becomes the bottleneck (measured: 13 s/round at 250
    edges). Checkpointing keeps the plan constant-size per round.
    """
    # Lazy checkpoints throughout the loop (r16): the plan is truncated to
    # a LogicalRDD at .localCheckpoint() call time either way (that is
    # what keeps Catalyst planning constant-size per round); eager=False
    # defers the RDD's materialization into the round's ONE existing
    # action (the convergence .first() below), halving the blocking jobs
    # per round — eager=True ran a dedicated materialization job and THEN
    # the convergence job over the same rows.
    spark = pairs.sparkSession
    edges = pairs.select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    ).localCheckpoint(eager=False)
    prev: tuple[int, int] | None = None
    for _ in range(MAX_CC_ITERS):
        # Both star passes in ONE parsed SQL statement per round (r16):
        # the per-round cost here is driver-side plan construction over a
        # tiny checkpointed edge leaf, so ~14 Dataset calls per round are
        # replaced by a single parse. large-star: every node links its
        # strictly LARGER neighbors to the minimum of its closed
        # neighborhood (no distinct — duplicate (v, m) rows cannot change
        # the small-star mins, and `small` closes with its own DISTINCT,
        # which is what the convergence checksum reads). small-star: with
        # edges oriented high→low, every node links its smaller neighbors
        # (and itself) to that minimum, dropping self-loops.
        small = spark.sql(
            """
            WITH nbr AS (
              SELECT u, v FROM {e}
              UNION ALL
              SELECT v AS u, u AS v FROM {e}
            ),
            mins AS (
              SELECT u, least(u, min(v)) AS m FROM nbr GROUP BY u
            ),
            large AS (
              SELECT nbr.v AS u, mins.m AS v
              FROM nbr JOIN mins ON nbr.u = mins.u
              WHERE nbr.v > nbr.u
            ),
            mins2 AS (
              SELECT u, min(v) AS m FROM large GROUP BY u
            )
            SELECT DISTINCT n AS u, m AS v FROM (
              SELECT large.v AS n, mins2.m AS m
              FROM large JOIN mins2 ON large.u = mins2.u
              UNION ALL
              SELECT u AS n, m FROM mins2
            ) WHERE n != m
            """,
            e=edges,
        ).localCheckpoint(eager=False)
        # one action per round: edge count + order-independent checksum
        cnt, chk = small.agg(
            F.count(F.lit(1)), F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(10**9)))
        ).first()
        edges = small
        if prev == (cnt, chk):
            break
        prev = (cnt, chk)
    # fixpoint is a star forest: (node, root) for all non-roots
    return edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).union(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    ).distinct()


@query(
    "ext_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE base AS (
      {_EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD)}
    ), bidir AS (
      SELECT d1 AS a, d2 AS b FROM base
      UNION ALL
      SELECT d2, d1 FROM base
    ), nodes AS (
      SELECT DISTINCT a AS doc_id FROM bidir
    ), reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT reach.doc_id, bidir.b FROM reach JOIN bidir ON reach.r = bidir.a
    )
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph, so an entire dup-group collapses to one representative
    (min doc_id) — what a dedup pipeline actually needs when A≈B and B≈C
    but A~C alone misses the threshold.

    Components via alternating large-star/small-star (see
    ``_cc_large_small_star``): O(log n) rounds guaranteed, vs. the
    graph-diameter rounds of the naive min-label propagation this
    replaced — on a 100 TB corpus with long dup chains (mirrored crawls)
    diameter-bound propagation is the difference between 40 rounds and 6.

    Oracle: DuckDB recursive CTE computing min reachable id per node over
    the exact-Jaccard pair graph.
    """
    # No cache on pairs (r16): it is consumed exactly once — by the CC
    # loop's initial localCheckpoint, which itself persists the rows —
    # so the cache only duplicated the same relation in memory.
    pairs = ext_near_dedup_minhash(spark, sf_dir).select("d1", "d2")
    return _cc_large_small_star(pairs)


INCREMENTAL_SPLIT = 400  # doc_id >= 400 plays the newly-crawled shard


@query(
    "ext_dedup_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT DISTINCT sha256(text) AS h FROM documents
      WHERE doc_id < {INCREMENTAL_SPLIT}
    ), incoming AS (
      SELECT doc_id, lang, sha256(text) AS h FROM documents
      WHERE doc_id >= {INCREMENTAL_SPLIT}
    )
    SELECT i.doc_id, i.lang,
           c.h IS NOT NULL AS already_present
    FROM incoming i LEFT JOIN corpus c USING (h)
    """,
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a newly-crawled shard (doc_id ≥ 400)
    checked against the EXISTING corpus by content hash before insertion —
    the daily-crawl-append shape (dedup against history, not within the
    batch). The corpus side reduces to DISTINCT hashes — at 100 TB that
    hash set lives as its own compact table (or a join against the
    corpus's hash column with a bloom pre-filter); the join carries
    (hash, doc_id) only, never text. Incoming rows are flagged rather
    than dropped so the caller can route: new → insert, present → skip."""
    docs = load(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") < INCREMENTAL_SPLIT)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("present", F.lit(True))
    )
    incoming = docs.filter(F.col("doc_id") >= INCREMENTAL_SPLIT).select(
        "doc_id", "lang", F.sha2("text", 256).alias("h")
    )
    return incoming.join(corpus, "h", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("present"), F.lit(False)).alias("already_present"),
    )


FUZZY_MAX_RATIO = 0.3  # edit distance ≤ 30% of the longer text


@query(
    "ext_fuzzy_dedup_levenshtein",
    oracle=f"""
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text)
          <= CAST(floor({FUZZY_MAX_RATIO} * greatest(len(a.text), len(b.text)))
                  AS BIGINT)
    """,
)
def ext_fuzzy_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs — the third dedup family next to
    shingle-Jaccard (MinHash/SimHash) and embedding-cosine: Levenshtein
    catches small in-place edits (typo fixes, template fills) that shingles
    over-penalize. Integer metric → exact oracle with no float anywhere
    (the oracle's threshold uses floor() so DuckDB's rounding CAST matches
    Spark's truncating cast at a .5 boundary).

    Candidate generation is blocked on (lang, length-band), NOT lang alone:
    ed(a,b) ≥ |len(a)−len(b)|, so a qualifying pair needs
    min_len ≥ (1−{FUZZY_MAX_RATIO})·max_len — geometric length bands of
    ratio {1 - FUZZY_MAX_RATIO} put every such pair in the same or adjacent
    band (EXACT recall, no LSH probability). Each doc probes its own and
    the next band; an exact length-ratio filter prunes before the expensive
    Levenshtein runs, so the metric is verify-only — the same
    candidates→verify shape as ``ext_near_dedup_minhash``. The equi-join
    key is (lang, band): partition count scales with corpus length spread
    instead of collapsing onto a handful of hot language blocks.

    Two per-pair costs are engineered out of the verify stage (together a
    ~2.8× wall-clock win on the FULL key at sf0.1 on 32 cores, 72 s → 26 s
    measured in round 7; the verify STAGE alone — the thresholded metric vs
    the O(len²) one on the same candidate set — is where the earlier
    "~45×, → 1.6 s" figure came from, and that stage number is not the key's
    end-to-end time, which stays dominated by shuffling the candidate
    texts into the verify join):

    * pairs are UNIQUE BY CONSTRUCTION — a same-band pair appears twice
      (each side probes its home band) so it keeps only the p_id < h_id
      ordering, while an adjacent-band pair appears exactly once (only the
      lower band probes upward); the old full-width ``.distinct()``, which
      shuffled both complete texts per candidate, is gone;
    * the verify metric is the THRESHOLDED ``levenshtein(a, b, k)`` —
      Ukkonen-style banded DP that does O(len·k) work and returns -1 early
      when the distance exceeds k = floor({FUZZY_MAX_RATIO}·max_len), so
      non-duplicate candidates (the overwhelming majority) exit after a
      length check instead of filling an O(len²) matrix. The kept rows
      carry the true distance, so results are bit-identical to the
      unbounded form the oracle runs.

    Residual cost is inherent to the loose {FUZZY_MAX_RATIO} relative
    threshold: at that k, chunk-signature schemes (PassJoin) degenerate to
    ~3-char chunks and frequency lower bounds (bag/q-gram) prune <20% of
    same-language candidates (measured), so every length-compatible pair
    inside a block pays one banded DP. Tighten the ratio (k ≲ 0.1·len)
    before scaling this family out — or use the MinHash family, which is
    the intended near-dup path at corpus scale."""
    import math

    docs = fan_out(load(spark, sf_dir, "documents"))
    ratio = 1.0 - FUZZY_MAX_RATIO
    band_base = math.log(1.0 / ratio)
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.length("text").alias("len"),
        F.floor(F.log(F.length("text") + 1) / band_base).alias("band"),
    )
    # each doc probes its home band and the band above: an adjacent-band
    # pair is produced exactly once (only the lower band probes upward),
    # a same-band pair exactly twice (each side's home probe) — so keeping
    # only p_id < h_id for same-band rows makes pairs unique BY
    # CONSTRUCTION, with no post-join distinct over full text pairs
    probe = base.select(
        F.col("doc_id").alias("p_id"),
        F.col("lang").alias("p_lang"),
        F.col("text").alias("p_text"),
        F.col("len").alias("p_len"),
        F.col("band").alias("p_home_band"),
        F.explode(F.array(F.col("band"), F.col("band") + 1)).alias("band"),
    )
    home = base.select(
        F.col("doc_id").alias("h_id"),
        F.col("lang").alias("h_lang"),
        F.col("text").alias("h_text"),
        F.col("len").alias("h_len"),
        "band",
    )
    cand = (
        probe.join(
            home,
            (F.col("p_lang") == F.col("h_lang"))
            & (probe["band"] == home["band"])
            & (
                (F.col("p_home_band") != home["band"])  # adjacent: seen once
                | (F.col("p_id") < F.col("h_id"))  # same-band: keep one order
            ),
        )
        # exact necessary condition: |len diff| ≤ ratio bound, else ed can't
        # reach the threshold — prunes before Levenshtein
        .filter(
            F.greatest("p_len", "h_len") * F.lit(ratio)
            <= F.least("p_len", "h_len") + 1
        )
        .select(
            F.least("p_id", "h_id").alias("d1"),
            F.greatest("p_id", "h_id").alias("d2"),
            F.when(F.col("p_id") < F.col("h_id"), F.col("p_text"))
            .otherwise(F.col("h_text"))
            .alias("a_text"),
            F.when(F.col("p_id") < F.col("h_id"), F.col("h_text"))
            .otherwise(F.col("p_text"))
            .alias("b_text"),
        )
    )
    thr = F.floor(
        F.lit(FUZZY_MAX_RATIO) * F.greatest(F.length("a_text"), F.length("b_text"))
    ).cast("int")
    # banded DP: -1 the moment the distance provably exceeds thr
    ed = F.expr("levenshtein(a_text, b_text, lev_thr)")
    return (
        cand.withColumn("lev_thr", thr)
        .select("d1", "d2", ed.alias("ed"))
        .filter(F.col("ed") >= 0)
        .select("d1", "d2", F.col("ed").cast("long").alias("edit_dist"))
    )


@query(
    "ext_dedup_survivorship",
    oracle=f"""
    WITH RECURSIVE base AS (
      {_EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD)}
    ), bidir AS (
      SELECT d1 AS a, d2 AS b FROM base
      UNION ALL
      SELECT d2, d1 FROM base
    ), nodes AS (
      SELECT DISTINCT a AS doc_id FROM bidir
    ), reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT reach.doc_id, bidir.b FROM reach JOIN bidir ON reach.r = bidir.a
    ), clusters AS (
      SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    ), ranked AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id ASC
             ) AS rk,
             count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN documents d USING (doc_id)
    ), keep AS (
      SELECT cluster_id, doc_id AS kept_doc_id FROM ranked WHERE rk = 1
    )
    SELECT r.doc_id, k.kept_doc_id,
           CAST(r.cluster_size AS BIGINT) AS cluster_size
    FROM ranked r JOIN keep k USING (cluster_id)
    WHERE r.doc_id <> k.kept_doc_id
    """,
)
def ext_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP: after clustering near-duplicates, decide which
    copy to KEEP (longest text wins, doc_id breaks ties) and emit the
    drop-list mapping every discarded doc to its surviving canonical —
    the record a pipeline needs both to delete and to audit ("where did
    my doc go"). Composes the connected-components clusters with a
    per-cluster ranking window; the cluster relation is tiny relative to
    the corpus (only docs that HAVE a near-dup), so the window shuffle is
    bounded by dup volume, not corpus size."""
    from pyspark.sql.window import Window

    # Lazy checkpoint LEAVES (r16): the cluster relation is tiny (dup
    # docs only) but its plan embeds the whole MinHash pipeline, and
    # `ranked` is consumed TWICE below (keep + the join back) — without
    # the leaves the final plan re-analyzes that pipeline twice and
    # driver-side analysis, not execution, dominated the key (measured
    # build 3.0-3.7 s vs 0.4 s execute at sf0.1).
    clusters = ext_dedup_clusters(spark, sf_dir).localCheckpoint(eager=False)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = (
        clusters.join(docs, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .localCheckpoint(eager=False)
    )
    keep = ranked.filter(F.col("rk") == 1).select(
        "cluster_id", F.col("doc_id").alias("kept_doc_id")
    )
    return (
        ranked.join(keep, "cluster_id")
        .filter(F.col("doc_id") != F.col("kept_doc_id"))
        .select(
            "doc_id", "kept_doc_id", F.col("cluster_size").cast("long").alias("cluster_size")
        )
    )


# Ĵ is a mean of N_HASHES Bernoulli(J) indicators, so σ(Ĵ) ≤ √(0.25/96)
# ≈ 0.051 and 0.25 is ~5σ (the honest 5σ, 0.2552, would widen the
# verified band).
_EST_EPS = 0.25


@query(
    "ext_minhash_jaccard_estimate",
    oracle=(
        "SELECT d1, d2, TRUE AS within_tol FROM ("
        + _EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD)
        + ")"
    ),
)
def ext_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash SKETCH-ACCURACY INVARIANT (the agg_approx_count_distinct
    shape, applied to the dedup family's own machinery): for every exact
    near-duplicate pair (Jaccard ≥ 0.8 — the registered
    ext_near_dedup_minhash ground truth), the SIGNATURE-based estimate
    Ĵ = (#agreeing minhash positions)/96 must sit within eps of the
    exact Jaccard. E[Ĵ] = J exactly (each minhash position agrees with
    probability J), and the binomial std of Ĵ is ≤ √(0.25/96) ≈ 0.051,
    so eps = 0.25 (~5σ) is robust without being vacuous: a broken
    signature pipeline — wrong seed mixing, a band transposition, a
    stale cache — puts Ĵ near 0 on a J ≈ 0.8 pair and
    fails immediately. The oracle asserts the invariant (the exact pair
    list with literal TRUE), so the check is exact while the estimator
    stays sketch-based (DuckDB cannot and need not reproduce xxhash64).

    Scale: the estimate join touches only the near-dup PAIR list (dup
    volume, not corpus), carrying two 96-column signature rows per pair;
    the signature aggregation is the same codegen'd 96-MIN pass the
    retrieval key runs. This is the monitoring query a production dedup
    pipeline runs on a sample to detect signature drift after any code
    or library change."""
    pairs = ext_near_dedup_minhash(spark, sf_dir).select("d1", "d2", "jaccard")
    sig = (
        _shingles(load(spark, sf_dir, "documents"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
                for i in range(N_HASHES)
            ]
        )
    )
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    agree = None
    for i in range(N_HASHES):
        term = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            (
                F.abs(agree.cast("double") / N_HASHES - F.col("jaccard"))
                <= F.lit(_EST_EPS)
            ).alias("within_tol"),
        )
    )


CONTAINMENT_THRESHOLD = 0.8


@query(
    "ext_near_dup_containment",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           i * 1.0 / LEAST(s1.n, s2.n) AS containment,
           i * 1.0 / (s1.n + s2.n - i) AS jaccard
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE i * 1.0 / LEAST(s1.n, s2.n) >= {CONTAINMENT_THRESHOLD}
    """,
)
def ext_near_dup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) — the asymmetric
    measure that catches a short doc EMBEDDED in a long one (quote pages,
    concatenated crawls), which symmetric Jaccard dilutes below threshold.
    Emits both scores so the gap (high containment, low Jaccard) is
    directly queryable.

    Candidate generation is PREFIX FILTERING (AllPairs/PPJoin, Bayardo et
    al. WWW'07), not the raw shingle self-join: order every doc's shingles
    by ascending global document frequency and probe only the first
    ⌊(1−t)·n⌋+1 ("prefix"). Pigeonhole gives EXACT recall — a pair with
    containment ≥ t misses < (1−t)·n_small of the smaller doc's shingles,
    so at least one PREFIX shingle of the smaller doc appears in the other
    doc, and every doc probes, so whichever side is smaller finds the pair.
    The join key is therefore always one of a doc's RAREST shingles:
    boilerplate hot shingles (the quadratic bucket in the naive join) sort
    to the end of the canonical order and are never probed. Exact
    containment/Jaccard then run on candidates only — same
    candidates→verify shape as ``ext_near_dedup_minhash``, but with a
    deterministic (non-probabilistic) candidate guarantee, which is what
    lets the exact oracle stay valid."""
    docs = load(spark, sf_dir, "documents")
    # cached: without it, 0.76 → 0.90 s at sf0.01
    sh = _shingles(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    # global document frequency per shingle -> canonical rarity order
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.floor((1.0 - CONTAINMENT_THRESHOLD) * F.col("n")).cast("int") + 1
    ).select("doc_id", "shingle")

    # candidates: a prefix shingle of one doc appearing anywhere in another
    p = prefix.alias("p")
    s = sh.alias("s")
    candidates = (
        p.join(
            s,
            (F.col("p.shingle") == F.col("s.shingle"))
            & (F.col("p.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.least("p.doc_id", "s.doc_id").alias("d1"),
            F.greatest("p.doc_id", "s.doc_id").alias("d2"),
        )
        .distinct()
    )

    # exact verification on candidates only
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        candidates.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(
            s2,
            (F.col("d2") == F.col("s2.doc_id"))
            & (F.col("s1.shingle") == F.col("s2.shingle")),
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.alias("n1")
    n2 = sizes.alias("n2")
    return (
        inter.join(n1, F.col("d1") == F.col("n1.doc_id"))
        .join(n2, F.col("d2") == F.col("n2.doc_id"))
        .select(
            "d1",
            "d2",
            (F.col("i") * 1.0 / F.least(F.col("n1.n"), F.col("n2.n"))).alias(
                "containment"
            ),
            (F.col("i") * 1.0 / (F.col("n1.n") + F.col("n2.n") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


@query(
    "ext_cross_source_dup_rate",
    oracle=f"""
    WITH pairs AS (
      {_EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD)}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = d1
    JOIN documents db ON db.doc_id = d2
    GROUP BY 1, 2
    """,
)
def ext_cross_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts per
    (source, source) bucket — the diagnosis table for syndicated/mirrored
    content (which feeds copy which), deciding crawl priorities and
    source-level dedup order. Composes the MinHash-LSH pair stream with
    two broadcast-able dimension lookups on documents and canonicalizes
    the pair with least/greatest so A→B and B→A land in one cell. Cost is
    dominated by the dedup pass itself; the matrix is |sources|² at
    most."""
    pairs = ext_near_dedup_minhash(spark, sf_dir).select("d1", "d2")
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    da = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    db = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(da), "d1")
        .join(F.broadcast(db), "d2")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


SPAN_W = 20  # tokens per shared-span window


@query(
    "ext_shared_span_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), spans AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - {SPAN_W} + 2, 1)),
               p -> array_to_string(toks[p:p + {SPAN_W} - 1], ' ')
             )) AS span
      FROM base
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(count(*) AS BIGINT) AS n_shared_spans
    FROM spans a JOIN spans b
      ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def ext_shared_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-SPAN duplication: pairs of docs that share any run of 20
    consecutive tokens — the substring-duplication detector from
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al.), which catches verbatim reuse that similarity metrics dilute
    (a paragraph quoted inside an otherwise-different page). Spans are
    deduped per doc map-side and equi-joined; only docs sharing a long
    span ever pair, so the join output is bounded by true duplication,
    not corpus². At 100 TB the span string is replaced by its 8-byte
    rolling hash in the shuffle (same join shape; verify on collision),
    as the suffix-array construction in the paper is for single-machine
    scale."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    # a SPAN_W-token span cannot exist in a shorter document: without this
    # filter the old greatest(.., 0) floor emitted ONE truncated "span"
    # (the whole short doc) that the oracle's range() correctly does not —
    # two identical sub-SPAN_W docs at sf0.1 produced a phantom pair
    # (round-8 sf0.1 sweep, 222 vs 221 rows)
    spans = docs.filter(F.size(w) >= SPAN_W).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - SPAN_W),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, SPAN_W)),
            )
        ).alias("span"),
    ).distinct()
    a = spans.alias("a")
    b = spans.alias("b")
    return (
        a.join(
            b,
            (F.col("a.span") == F.col("b.span"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_spans"))
    )


_FID_K = 16  # explicit-hash minhash components for the fidelity estimate


@query(
    "ext_minhash_fidelity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), ph AS (
      SELECT doc_id, shingle,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, length(shingle) + 1),
                   i -> CAST(ascii(substring(shingle, CAST(i AS INT), 1))
                        AS BIGINT))),
               (acc, c) -> (acc * 131 + c) % {_SH_MOD}) AS p
      FROM sh
    ), sigs AS (
      SELECT doc_id, h.i AS i,
             min(((2 * h.i + 1) * p + 1000003 * h.i + 12345) % {_SH_MOD})
               AS sig
      FROM ph, range(0, {_FID_K}) h(i)
      GROUP BY doc_id, h.i
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), est AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) / {_FID_K}.0
               AS est_jaccard
      FROM sigs a JOIN sigs b ON a.i = b.i AND a.doc_id < b.doc_id
      WHERE (a.doc_id, b.doc_id) IN (SELECT (d1, d2) FROM inter)
      GROUP BY 1, 2
    )
    SELECT inter.d1, inter.d2,
           est.est_jaccard,
           inter.i * 1.0 / (s1.n + s2.n - inter.i) AS jaccard,
           round(abs(est.est_jaccard
                     - inter.i * 1.0 / (s1.n + s2.n - inter.i)), 4) AS err
    FROM inter
    JOIN est ON est.d1 = inter.d1 AND est.d2 = inter.d2
    JOIN sizes s1 ON inter.d1 = s1.doc_id
    JOIN sizes s2 ON inter.d2 = s2.doc_id
    """,
)
def ext_minhash_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-fidelity evaluation: MinHash Jaccard ESTIMATE (matching
    components / k, explicit affine-LCG hashes both engines reproduce
    bit-for-bit) against the exact Jaccard, with the absolute error, for
    every doc pair sharing a shingle — the measurement behind choosing
    hash count and band shape (more hashes shrink the error at linear
    cost; E|err| ~ sqrt(J(1-J)/k)). The production minhash key uses 96
    xxhash64 components for speed; this eval uses k=16 explicit hashes so
    the estimate ITSELF is oracle-checkable, not just the decisions it
    implies. Sigs are k wide MIN aggregates (the codegen-friendly shape);
    the pair join runs on (i, sig) components, never on text."""
    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)

    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length("shingle")),
            lambda i: F.ascii(F.col("shingle").substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 131 + c) % _SH_MOD,
    )
    ph = sh.select("doc_id", poly.alias("p"))
    sigs = ph.groupBy("doc_id").agg(
        *[
            F.min((F.lit(2 * i + 1) * F.col("p") + F.lit(1000003 * i + 12345)) % _SH_MOD).alias(
                f"s{i}"
            )
            for i in range(_FID_K)
        ]
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.s{i}") == F.col(f"sb.s{i}"), 1).otherwise(0)
        for i in range(_FID_K)
    )
    est = (
        inter.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .select("d1", "d2", "i", (matches / F.lit(float(_FID_K))).alias("est_jaccard"))
    )
    n1 = sizes.alias("n1")
    n2 = sizes.alias("n2")
    exact = F.col("i") * 1.0 / (F.col("n1.n") + F.col("n2.n") - F.col("i"))
    return (
        est.join(n1, F.col("d1") == F.col("n1.doc_id"))
        .join(n2, F.col("d2") == F.col("n2.doc_id"))
        .select(
            "d1",
            "d2",
            "est_jaccard",
            exact.alias("jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 4).alias("err"),
        )
    )


# Band configurations evaluated by ext_minhash_band_tuning over the same
# 16-component signature: (rows per band, bands).
_TUNE_CONFIGS = ((4, 4), (8, 2), (16, 1))


def _band_match_sql(r: int, b: int) -> str:
    """OR over bands of AND over each band's components (a.si = b.si)."""
    bands = []
    for band in range(b):
        comps = " AND ".join(
            f"sa.s{band * r + i} = sb.s{band * r + i}" for i in range(r)
        )
        bands.append(f"({comps})")
    return "(" + " OR ".join(bands) + ")"


@query(
    "ext_minhash_band_tuning",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), ph AS (
      SELECT doc_id, shingle,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, length(shingle) + 1),
                   i -> CAST(ascii(substring(shingle, CAST(i AS INT), 1))
                        AS BIGINT))),
               (acc, c) -> (acc * 131 + c) % {_SH_MOD}) AS p
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             {", ".join(
               f"min(((2 * {i} + 1) * p + 1000003 * {i} + 12345) % {_SH_MOD})"
               f" AS s{i}" for i in range(16))}
      FROM ph GROUP BY doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT inter.d1, inter.d2,
           inter.i * 1.0 / (s1.n + s2.n - inter.i) AS jaccard,
           {", ".join(
             f"{_band_match_sql(r, b)} AS cand_r{r}b{b},"
             f" round(1 - power(1 - power("
             f"inter.i * 1.0 / (s1.n + s2.n - inter.i), {r}), {b}), 4)"
             f" AS p_r{r}b{b}" for r, b in _TUNE_CONFIGS)}
    FROM inter
    JOIN sigs sa ON sa.doc_id = inter.d1
    JOIN sigs sb ON sb.doc_id = inter.d2
    JOIN sizes s1 ON inter.d1 = s1.doc_id
    JOIN sizes s2 ON inter.d2 = s2.doc_id
    """,
)
def ext_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-shape tuning table: for every candidate pair, whether each
    of three band configurations over the SAME 16-hash signature — 4x4
    (recall-leaning), 2x8, 1x16 (precision-leaning) — would surface it,
    next to the exact Jaccard and the theoretical s-curve capture
    probability 1−(1−s^r)^b. This is the table you read to pick r and b
    for a target similarity threshold (the curve's inflection sits near
    (1/b)^(1/r)); the production minhash key's 24x4 choice comes from
    exactly this analysis. Signatures, matches, and probabilities are all
    bit-reproducible (explicit affine hashes; one power() expression per
    config)."""
    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)
    poly = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.length("shingle")),
            lambda i: F.ascii(F.col("shingle").substr(i, F.lit(1))).cast("long"),
        ),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 131 + c) % _SH_MOD,
    )
    ph = sh.select("doc_id", poly.alias("p"))
    sigs = ph.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(2 * i + 1) * F.col("p") + F.lit(1000003 * i + 12345))
                % _SH_MOD
            ).alias(f"s{i}")
            for i in range(16)
        ]
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    n1, n2 = sizes.alias("n1"), sizes.alias("n2")
    jac = F.col("i") * 1.0 / (F.col("n1.n") + F.col("n2.n") - F.col("i"))

    def band_match(r: int, b: int):
        bands = []
        for band in range(b):
            m = F.lit(True)
            for i in range(r):
                m = m & (
                    F.col(f"sa.s{band * r + i}") == F.col(f"sb.s{band * r + i}")
                )
            bands.append(m)
        out = bands[0]
        for m in bands[1:]:
            out = out | m
        return out

    cols = [F.col("d1"), F.col("d2"), jac.alias("jaccard")]
    for r, b in _TUNE_CONFIGS:
        cols.append(band_match(r, b).alias(f"cand_r{r}b{b}"))
        cols.append(
            F.round(
                F.lit(1) - F.pow(F.lit(1) - F.pow(jac, F.lit(r)), F.lit(b)), 4
            ).alias(f"p_r{r}b{b}")
        )
    return (
        inter.join(sa, F.col("d1") == F.col("sa.doc_id"))
        .join(sb, F.col("d2") == F.col("sb.doc_id"))
        .join(n1, F.col("d1") == F.col("n1.doc_id"))
        .join(n2, F.col("d2") == F.col("n2.doc_id"))
        .select(*cols)
    )


_EDGE_N = 24  # boundary gram length


@query(
    "ext_split_doc_detect",
    oracle=f"""
    WITH corpus AS (
      -- simulated upstream chunking: every 7th doc arrives as TWO shards
      -- overlapping by {_EDGE_N} chars at the seam (part2 id offset 1e6)
      SELECT doc_id, text FROM documents
      WHERE doc_id % 7 <> 0 OR length(text) < {2 * _EDGE_N}
      UNION ALL
      SELECT doc_id, substring(text, 1, length(text) // 2) AS text
      FROM documents
      WHERE doc_id % 7 = 0 AND length(text) >= {2 * _EDGE_N}
      UNION ALL
      SELECT doc_id + 1000000,
             substring(text, length(text) // 2 - {_EDGE_N} + 1,
                       length(text)) AS text
      FROM documents
      WHERE doc_id % 7 = 0 AND length(text) >= {2 * _EDGE_N}
    ), e AS (
      SELECT doc_id,
             substring(text, 1, {_EDGE_N}) AS head,
             substring(text, length(text) - {_EDGE_N} + 1, {_EDGE_N}) AS tail
      FROM corpus WHERE length(text) >= {_EDGE_N}
    )
    SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc
    FROM e a JOIN e b
      ON a.tail = b.head AND a.doc_id <> b.doc_id
    """,
)
def ext_split_doc_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document detection: pairs where one document's last
    {_EDGE_N} characters exactly equal another's first {_EDGE_N} — the
    signature of a source document cut in two by upstream chunking (or of
    re-assembled shards overlapping at the seam). Ordinary dedup misses
    these: the halves share almost no full-shingle mass, but training on
    both leaks a verbatim span across what the loader thinks are distinct
    documents. The fixtures contain no naturally split docs (the
    unsimulated form returned zero rows, checking nothing), so the query
    SIMULATES the upstream chunker on every 7th document — same seam
    join, non-trivial verified output on any fixture vintage.

    Scale: one equi-join on a fixed-width boundary gram — the candidate
    key is {_EDGE_N} bytes per doc per side, never the text."""
    docs = load(spark, sf_dir, "documents")
    keep = docs.filter(
        (F.col("doc_id") % 7 != 0) | (F.length("text") < 2 * _EDGE_N)
    ).select("doc_id", "text")
    splitters = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.length("text") >= 2 * _EDGE_N)
    )
    half = F.floor(F.length("text") / 2).cast("int")
    part1 = splitters.select(
        "doc_id", F.col("text").substr(F.lit(1), half).alias("text")
    )
    part2 = splitters.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").substr(half - (_EDGE_N - 1), F.length("text")).alias("text"),
    )
    corpus = keep.unionAll(part1).unionAll(part2)
    e = corpus.filter(F.length("text") >= _EDGE_N).select(
        "doc_id",
        F.col("text").substr(F.lit(1), F.lit(_EDGE_N)).alias("head"),
        F.col("text")
        .substr(F.length("text") - (_EDGE_N - 1), F.length("text"))
        .alias("tail"),
    )
    a, b = e.alias("a"), e.alias("b")
    return a.join(
        b,
        (F.col("a.tail") == F.col("b.head"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("tail_doc"), F.col("b.doc_id").alias("head_doc")
    )


# ---------------------------------------------------------------------------
# Train/test split leakage (near-dup pairs crossing the split boundary)
# ---------------------------------------------------------------------------


@query(
    "ext_split_leakage",
    oracle=f"""
    WITH pairs AS (
      {_EXACT_JACCARD_SQL.format(thr=JACCARD_THRESHOLD)}
    ), split AS (
      SELECT doc_id,
             CASE WHEN (doc_id * 2654435761 + 12345) % 2147483647 % 100 < 80
                  THEN 'train'
                  WHEN (doc_id * 2654435761 + 12345) % 2147483647 % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
      FROM documents
    )
    SELECT p.d1, p.d2, s1.split AS split_1, s2.split AS split_2, p.jaccard
    FROM pairs p
    JOIN split s1 ON p.d1 = s1.doc_id
    JOIN split s2 ON p.d2 = s2.doc_id
    WHERE s1.split <> s2.split
    """,
)
def ext_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE detection: near-duplicate pairs (MinHash-LSH,
    exact-Jaccard-verified) that STRADDLE the hash-split boundary — each
    one is an eval example whose near-copy sits in training, silently
    inflating benchmark scores. This is the composition every serious
    pipeline runs after splitting: dedup pairs ⋈ split assignment,
    keep the crossers. (ext_decontamination checks against an EXTERNAL
    benchmark; this key checks the pipeline's own split.)

    Scale: the pair graph is dup-bounded (tiny vs corpus) and the split
    column is a map-side hash — two broadcast-friendly id joins on top of
    the LSH pass. Output rows = leaked pairs, the audit artifact."""
    from .text import ext_hash_split

    pairs = ext_near_dedup_minhash(spark, sf_dir)
    split = ext_hash_split(spark, sf_dir).select("doc_id", "split")
    s1 = split.alias("sp1")
    s2 = split.alias("sp2")
    return (
        pairs.join(s1, F.col("d1") == F.col("sp1.doc_id"))
        .join(s2, F.col("d2") == F.col("sp2.doc_id"))
        .filter(F.col("sp1.split") != F.col("sp2.split"))
        .select(
            "d1",
            "d2",
            F.col("sp1.split").alias("split_1"),
            F.col("sp2.split").alias("split_2"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC-style rolling-hash boundaries)
# ---------------------------------------------------------------------------

_CDC_GRAM = 8
_CDC_BASE = 131
_CDC_MOD = 2_147_483_647
_CDC_DIV = 64  # expected chunk length ~ DIV chars


@query(
    "ext_cdc_chunking",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, length(text) AS len,
             list_filter(
               range(1, greatest(length(text) - {_CDC_GRAM} + 2, 1)),
               p -> list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(range(0, {_CDC_GRAM}),
                          k -> CAST(ascii(substring(text, CAST(p + k AS INT), 1))
                                    AS BIGINT))),
                      (acc, c) -> (acc * {_CDC_BASE} + c) % {_CDC_MOD})
                    % {_CDC_DIV} = 0
             ) AS cuts
      FROM documents WHERE length(text) >= {_CDC_GRAM}
    ), st AS (
      SELECT doc_id, len, cuts,
             list_prepend(CAST(1 AS BIGINT),
               list_transform(cuts, p -> CAST(p + {_CDC_GRAM} AS BIGINT)))
               AS starts
      FROM b
    ), ch AS (
      SELECT doc_id,
             generate_subscripts(starts, 1) AS idx,
             unnest(starts) AS start,
             CAST(coalesce(starts[generate_subscripts(starts, 1) + 1],
                           len + 1) - unnest(starts) AS BIGINT) AS chunk_len
      FROM st
    )
    SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start, chunk_len
    FROM ch WHERE chunk_len > 0
    """,
)
def ext_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary rule behind
    FastCDC / restic / LBFS dedup stores): a chunk boundary falls after
    any 8-char window whose Rabin-Karp hash ≡ 0 mod {_CDC_DIV}, so
    boundaries follow CONTENT, not offsets — insert one word at the front
    of a document and byte-offset chunking shifts every chunk, while CDC
    re-synchronizes after one boundary and every later chunk still
    dedupes. Emits (doc, chunk_idx, start, length); the chunk store keys
    on hash(chunk) downstream. Explicit modular arithmetic (base
    {_CDC_BASE}, mod 2³¹−1), bit-identical in the oracle.

    Scale: one JVM higher-order-function expression per row (no shuffle,
    no UDF) — the boundary scan runs at codegen throughput; the chunk
    explode multiplies rows by len/{_CDC_DIV}, which is the output's
    inherent size."""
    docs = fan_out(load(spark, sf_dir, "documents")).filter(
        F.length("text") >= _CDC_GRAM
    )

    def gram_hash(p):
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(_CDC_GRAM - 1)),
                lambda k: F.ascii(F.col("text").substr(p + k, F.lit(1))).cast(
                    "long"
                ),
            ),
            F.lit(7).cast("long"),
            lambda acc, c: (acc * _CDC_BASE + c) % _CDC_MOD,
        )

    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (_CDC_GRAM - 1), F.lit(1))
    )
    cuts = F.filter(positions, lambda p: gram_hash(p) % _CDC_DIV == 0)
    starts = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(cuts, lambda p: (p + _CDC_GRAM).cast("long")),
    )
    st = docs.select(
        "doc_id", F.length("text").cast("long").alias("len"), starts.alias("starts")
    )
    ch = st.select(
        "doc_id",
        "len",
        "starts",
        F.posexplode("starts").alias("idx0", "start"),
    ).select(
        "doc_id",
        (F.col("idx0") + 1).cast("long").alias("chunk_idx"),
        "start",
        (
            F.coalesce(
                F.get("starts", F.col("idx0") + 1), F.col("len") + 1
            )
            - F.col("start")
        ).alias("chunk_len"),
    )
    return ch.filter(F.col("chunk_len") > 0)


@query(
    "ext_dup_pair_bleu",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE i * 1.0 / (s1.n + s2.n - i) >= {{thr}}
    ), bgc AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS bigram,
             CAST(count(*) AS BIGINT) AS c
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ), totals AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM bgc GROUP BY doc_id
    ), matched AS (
      SELECT p.d1, p.d2,
             CAST(SUM(least(x.c, y.c)) AS BIGINT) AS m
      FROM pairs p
      JOIN bgc x ON x.doc_id = p.d1
      JOIN bgc y ON y.doc_id = p.d2 AND y.bigram = x.bigram
      GROUP BY 1, 2
    )
    SELECT m.d1, m.d2, m.m AS matched_bigrams,
           CAST((m.m * 1000000) // t1.t AS BIGINT) AS p12_6,
           CAST((m.m * 1000000) // t2.t AS BIGINT) AS p21_6
    FROM matched m
    JOIN totals t1 ON t1.doc_id = m.d1
    JOIN totals t2 ON t2.doc_id = m.d2
    """.format(thr=JACCARD_THRESHOLD),
)
def ext_dup_pair_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-ness audit of near-duplicate pairs: clipped bigram
    precision (the BLEU-2 modified-precision core, both directions) for
    every MinHash-verified pair — distinguishes true copy-paste dups
    (precision ≈ 1: drop one side blindly) from shingle-level lookalikes
    that merely share vocabulary (keep and route to human QA). The
    standard sanity layer between candidate generation and deletion.

    Exact: bigram multiplicity counts are integers, clipping is least(),
    precisions are integer micro-ratios. Candidates come from the
    LSH-banded pipeline (recall ≈ 1 at the 0.8 threshold — same argument
    as ext_near_dedup_minhash's exact oracle); BLEU is computed only on
    that tiny pair set, so the bigram joins ship pair-count × doc-bigram
    rows, never a corpus self-join."""
    # Lazy localCheckpoint (r16): the pair set is consumed twice below
    # (pair_docs pruning + the broadcast join build) and is tiny; the
    # checkpoint stops the LSH verification joins from re-running per
    # consumer and keeps each consumer's plan a LogicalRDD leaf.
    pairs = (
        ext_near_dedup_minhash(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=False)
    )
    docs = fan_out(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    bgc = (
        toks.filter(F.size("toks") > 1)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Pair-restricted verification (r16, same shape as the minhash
    # verifier): the pair set is tiny, so it is the broadcast build side
    # and the corpus-sized per-doc bigram table is PRUNED to pair docs
    # with a broadcast semi-join before any join or total — previously
    # the planner broadcast the whole bigram-count relation (and the
    # whole per-doc totals), which inverts build sides at any real scale.
    # A pair doc's full bigram rows survive the semi-join, so its
    # clipped-precision counts and totals are unchanged.
    pair_docs = (
        pairs.select(F.explode(F.array("d1", "d2")).alias("doc_id")).distinct()
    )
    # Lazy checkpoint leaves (r16): bgp is pair-doc-bounded (small) but
    # consumed THREE times (totals, x, y) — without the leaf the pruning
    # semi-join over the bigram table ran once per consumer and
    # each consumer's plan re-analyzed the whole subtree. totals feeds
    # TWO broadcast builds below, same argument.
    bgp = (
        bgc.join(F.broadcast(pair_docs), "doc_id", "leftsemi")
        .localCheckpoint(eager=False)
    )
    totals = (
        bgp.groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("t"))
        .localCheckpoint(eager=False)
    )
    x = bgp.select(
        F.col("doc_id").alias("d1"), "bigram", F.col("c").alias("c1")
    )
    y = bgp.select(
        F.col("doc_id").alias("d2y"),
        F.col("bigram").alias("bigram2"),
        F.col("c").alias("c2"),
    )
    matched = (
        F.broadcast(pairs).join(x, "d1")
        .join(
            y,
            (F.col("d2") == F.col("d2y")) & (F.col("bigram") == F.col("bigram2")),
        )
        .groupBy("d1", "d2")
        .agg(F.sum(F.least("c1", "c2")).cast("long").alias("m"))
    )
    return (
        matched.join(
            F.broadcast(totals.select(F.col("doc_id").alias("d1"), F.col("t").alias("t1"))),
            "d1",
        )
        .join(
            F.broadcast(totals.select(F.col("doc_id").alias("d2"), F.col("t").alias("t2"))),
            "d2",
        )
        .select(
            "d1",
            "d2",
            F.col("m").alias("matched_bigrams"),
            F.expr("m * 1000000 div t1").alias("p12_6"),
            F.expr("m * 1000000 div t2").alias("p21_6"),
        )
    )


CURVE_MIN_THRESHOLD = 0.7


@query(
    "ext_dedup_threshold_curve",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT i * 1.0 / (s1.n + s2.n - i) AS j
      FROM inter
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE i * 1.0 / (s1.n + s2.n - i) >= {CURVE_MIN_THRESHOLD}
    )
    SELECT CASE WHEN j >= 0.9 THEN '0.9+'
                WHEN j >= 0.8 THEN '0.8-0.9'
                ELSE '0.7-0.8' END AS jaccard_band,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM jac GROUP BY 1
    """,
)
def ext_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity curve for near-dedup: how many candidate
    pairs live in each Jaccard band (0.7–0.8, 0.8–0.9, ≥0.9) — the
    number that tells a pipeline owner what moving the dedup threshold
    actually deletes BEFORE they move it (a fat 0.7–0.8 band means the
    0.8 cliff is load-bearing). Candidates come from the SAME banded-LSH
    pipeline re-parameterized for the lower floor (32 bands × 3 rows:
    catch probability at j=0.7 is 1−(1−0.7³)³² ≈ 1−1e-6, so the exact
    oracle still matches); Jaccard is integer micro-units.

    Scale: identical movement to ext_near_dedup_minhash — bucketed
    candidates, verify-only exact Jaccard, then a 3-row aggregate."""
    pairs = _minhash_pairs(spark, sf_dir, 32, CURVE_MIN_THRESHOLD)
    # band on the RAW i/(n1+n2-i) double against double literals — the
    # bit-identical comparison both engines evaluate (scaling to integers
    # here would reintroduce a floor-vs-round boundary divergence)
    return (
        pairs.select(
            F.when(F.col("jaccard") >= 0.9, "0.9+")
            .when(F.col("jaccard") >= 0.8, "0.8-0.9")
            .otherwise("0.7-0.8")
            .alias("jaccard_band")
        )
        .groupBy("jaccard_band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "ext_dup_transitivity_audit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), sh AS (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM tok a
      JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), p AS (
      SELECT d1, d2 FROM inter
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE i * 1.0 / (s1.n + s2.n - i) >= {{thr}}
    ), e AS (
      SELECT d1 AS u, d2 AS v FROM p UNION ALL SELECT d2, d1 FROM p
    ), wedges AS (
      SELECT a.u AS x, a.v AS mid, b.v AS z
      FROM e a JOIN e b ON a.v = b.u AND a.u < b.v
    ), closed AS (
      SELECT wedges.x, wedges.mid, wedges.z,
             CASE WHEN p.d1 IS NOT NULL THEN 1 ELSE 0 END AS ok
      FROM wedges LEFT JOIN p ON p.d1 = wedges.x AND p.d2 = wedges.z
    )
    SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_wedges,
           CAST(SUM(ok) AS BIGINT) AS n_closed,
           CAST((SUM(ok) * 1000000) // count(*) AS BIGINT)
             AS closure_rate6
    FROM closed
    """.format(thr=JACCARD_THRESHOLD),
)
def ext_dup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the near-duplicate relation: of all wedges
    a~b~c in the MinHash pair graph, what fraction closes into a~c? The
    answer justifies (or indicts) the whole cluster-then-pick-survivor
    design: Jaccard-at-0.8 is NOT transitive in theory, so a low closure
    rate means connected-components clusters (ext_dedup_clusters) are
    chaining unrelated docs through middlemen and the survivorship
    threshold needs raising. Wedge counts come from the edge wedge-join
    (the ext_triangle_count shape); closure is an anti-join flag.

    Scale: all joins are over the (tiny) verified pair relation, never
    the corpus."""
    pairs = ext_near_dedup_minhash(spark, sf_dir).select("d1", "d2")
    # cached: without it, 0.97 → 1.22 s at sf0.01
    pairs.cache()
    e = pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v")).unionAll(
        pairs.select(F.col("d2").alias("u"), F.col("d1").alias("v"))
    )
    wedges = (
        e.alias("a")
        .join(e.alias("b"), (F.col("a.v") == F.col("b.u")) & (F.col("a.u") < F.col("b.v")))
        .select(F.col("a.u").alias("x"), F.col("b.v").alias("z"))
    )
    closed = wedges.join(
        pairs.select(F.col("d1").alias("x"), F.col("d2").alias("z")).withColumn(
            "ok", F.lit(1)
        ),
        ["x", "z"],
        "left",
    ).select(F.coalesce("ok", F.lit(0)).alias("ok"))
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        closed.agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.sum("ok").cast("long").alias("n_closed"),
            F.expr("CAST(sum(ok) * 1000000 div count(*) AS BIGINT)").alias(
                "closure_rate6"
            ),
        )
        .join(F.broadcast(n_edges))
        .select("n_edges", "n_wedges", "n_closed", "closure_rate6")
    )


# ---------------------------------------------------------------------------
# Cross-document paragraph-level dedup (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------

_PARA_CHUNK_WORDS = 16


@query(
    "ext_paragraph_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
             array_to_string(ws[(CAST(i AS INT) * {_PARA_CHUNK_WORDS} + 1):(CAST(i AS INT) * {_PARA_CHUNK_WORDS} + {_PARA_CHUNK_WORDS})], ' ') AS chunk
      FROM words, unnest(range(0, CAST(ceil(len(ws) / {_PARA_CHUNK_WORDS}.0) AS BIGINT))) AS t(i)
    )
    SELECT md5(chunk) AS chunk_hash,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc
    FROM chunks GROUP BY md5(chunk) HAVING count(*) > 1
    ORDER BY n_occurrences DESC, chunk_hash LIMIT 50
    """,
)
def ext_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level cross-document dedup: the sub-document sibling of
    ``ext_exact_dedup`` — boilerplate paragraphs (licenses, navigation,
    disclaimers) repeat across otherwise-distinct documents and survive
    whole-document dedup entirely, so training pipelines hash at the
    paragraph grain too (C4/RefinedWeb-style line dedup, one level up).
    The fixture's documents contain no newlines (validated in round 7),
    so a "paragraph" is a fixed 16-word chunk: posexplode over F.slice
    of the split array, then hash-groupBy on the chunk hash with the
    smallest doc_id as the deterministic keeper.

    Scale: identical shuffle shape to exact dedup, one grain finer —
    the groupBy key is the 128-bit chunk hash, so the shuffle carries
    (hash, doc_id) and NEVER the chunk text; chunk explosion is a
    narrow map (no shuffle) and output is top-50 by occurrence, a
    TakeOrdered on the aggregated (already small) relation. At 100 TB
    the cost is one shuffle of n_chunks keys — the same plan the
    whole-doc key runs, scaled by chunks-per-doc."""
    docs = load(spark, sf_dir, "documents")
    ws = docs.select("doc_id", F.split("text", " ").alias("ws"))
    chunks = ws.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("ws") / F.lit(float(_PARA_CHUNK_WORDS))).cast(
                    "long"
                )
                - 1,
            )
        ).alias("i"),
        "ws",
    ).select(
        "doc_id",
        F.array_join(
            F.slice(
                F.col("ws"),
                F.col("i") * _PARA_CHUNK_WORDS + 1,
                F.lit(_PARA_CHUNK_WORDS),
            ),
            " ",
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5(F.encode("chunk", "utf-8")).alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
        .orderBy(F.col("n_occurrences").desc(), "chunk_hash")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Dedup-cascade attrition report (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------

from ..registry import REGISTRY as _REGISTRY  # noqa: E402  (post-registration)


@query(
    "ext_dedup_cascade_report",
    oracle=f"""
    WITH exact_stage AS ({_REGISTRY["ext_exact_dedup"].oracle}),
    minhash_stage AS ({_REGISTRY["ext_near_dedup_minhash"].oracle})
    SELECT stage, n FROM (
      SELECT 0 AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT) FROM exact_stage
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT) FROM minhash_stage
    ) ORDER BY stage
    """,
)
def ext_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage ATTRITION REPORT for the production dedup cascade —
    the dashboard number every corpus pipeline publishes: input size,
    exact-hash survivors, minhash near-dup candidate pairs. Cheap stages
    run first so the expensive ones see less data; this key composes the
    two registered stage operators (``ext_exact_dedup``,
    ``ext_near_dedup_minhash``) and reduces each to a count, so the
    report is consistent BY CONSTRUCTION with the stage keys the driver
    verifies independently — the oracle chains the same two stage
    oracles as CTEs, lifted from the registry at registration time.

    Scale: each stage is the already-audited stage plan plus one
    all-reduce count (partial counts combine map-side; a single long per
    partition crosses the wire). Nothing new shuffles; the three
    1-row counts union into a 3-row report."""
    docs = load(spark, sf_dir, "documents")
    s0 = docs.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(0).alias("stage"), "n"
    )
    s1 = (
        ext_exact_dedup(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit(1).alias("stage"), "n")
    )
    s2 = (
        ext_near_dedup_minhash(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit(2).alias("stage"), "n")
    )
    return s0.unionByName(s1).unionByName(s2)
