"""Embedding similarity search (SURVEY §2C; north-star LLM-pipeline surface).

Operators over the ``embeddings`` table (64-dim float vectors):

- ``ext_knn_cosine`` — brute-force top-k cosine: the exact baseline. The
  query set is broadcast; the corpus streams once; per-row top-k via
  window. Exact oracle (cosine folds are bit-identical across engines —
  verified: Spark zip_with/aggregate double fold == DuckDB
  list_dot_product on DOUBLE[]).
- ``ext_knn_lsh`` — random-hyperplane LSH ANN: the 100 TB path. Signature =
  sign bits of projections onto pseudo-random planes derived from an
  explicit minstd LCG (integer arithmetic both engines reproduce
  bit-identically → exact oracle).
- ``ext_embedding_near_dup`` — cosine near-duplicate pairs within
  label blocks (blocked all-pairs: the blocking key bounds the quadratic
  term — the standard scale pattern when a natural partition exists).

Scale notes: brute-force kNN is O(|queries| × |corpus|) — fine when the
query side broadcasts; LSH buckets cut the corpus side to
O(|corpus| / 2^bits) per query at the cost of recall; IVF (k-means
routing) would slot in the same join shape with learned centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import distributed_row_number
from ..registry import query
from ..tables import fan_out, load

# Defaults sized for the 500-5000-vector fixtures; every ANN entry point
# accepts them as keyword parameters, and the oracles are generated from the
# same constants. At production scale: n_planes ≈ log2(corpus / target
# bucket size) (e.g. 20+ planes for 10^9 vectors), n_centroids ≈ sqrt(corpus).
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
N_PLANES = 6  # 2^6 buckets
EMB_DIM = 64  # the corpus's declared embedding width (fixture contract)

# NULL-embedding quarantine gate (NULL_AUDIT_r10.md Family N3): a vector
# that failed to embed cannot be scored, clustered, or searched — keys
# that consume the embedding column gate it explicitly and identically on
# both engines. Spark side: _emb_nonnull below; oracle side: this CTE
# prepended to the oracle's WITH, shadowing the raw view (main. qualifies
# the base table per DuckDB's circular-CTE rule) so every inner
# `FROM embeddings` reads the gated relation unchanged. MATERIALIZED is
# load-bearing: DuckDB 1.0's list_inner_product validates the child
# buffer's validity mask, so an INLINED gate can still raise on a list
# column whose shared buffer holds NULLs at filtered-out offsets (it
# raises even when both actual arguments are non-NULL — verified);
# materializing repacks the gated rows into a NULL-free buffer.
_EMB_NOT_NULL_CTE = (
    "embeddings AS MATERIALIZED "
    "(SELECT * FROM main.embeddings WHERE embedding IS NOT NULL)"
)


def _emb_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the Family-N3 gate (see _EMB_NOT_NULL_CTE)."""
    return load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())


# SCORABLE-embedding quarantine gate (EXTREME_AUDIT_r11.md Families X1+X2):
# the N3 NOT-NULL gate extended with the two value conditions a 100 TB
# corpus will eventually violate —
#   * norm > 0 (⟺ max|component| > 0): a zero vector (a zeroed/failed
#     encode) cannot be cosine-scored; its 0/0 raises DIVIDE_BY_ZERO on
#     ANSI Spark where DuckDB renders NULL/NaN rows (Family X1);
#   * max|component| < 1e9: the integer-moment contract
#     (round(x·1e6) → BIGINT) needs scaled squares inside int64 at
#     corpus-scale sums; a 1e30 component is a broken encode, not data,
#     and overflows BOTH engines with unhashable raises (Family X2(a)).
# Round-13 SHAPE extension (RAGGED_AUDIT_r13.md Family W): a vector whose
# width differs from the corpus's declared EMB_DIM is a broken encode
# (truncated write, failed encoder) exactly like a 1e30 component — and it
# is ENGINE-DIVERGENT the moment it reaches any pairwise expression:
# DuckDB's list_inner_product raises outright on unequal lengths while
# Spark's zip_with pads the shorter side with NULL and yields a NULL
# similarity. The gate pins len(embedding) = EMB_DIM on both sides.
#
# Applied explicitly and identically on BOTH sides by every key that
# scores, clusters, quantizes, or searches the embedding column. Keys that
# only count/project embeddings keep the plain N3 gate. MATERIALIZED for
# the same DuckDB list-buffer-validity reason as _EMB_NOT_NULL_CTE above.
_EMB_ABS_MAX_SQL = "list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))"
_EMB_SCORABLE_CTE = (
    "embeddings AS MATERIALIZED "
    "(SELECT * FROM main.embeddings WHERE embedding IS NOT NULL"
    f" AND len(embedding) = {EMB_DIM}"
    f" AND {_EMB_ABS_MAX_SQL} > 0 AND {_EMB_ABS_MAX_SQL} < 1e9)"
)


def _emb_scorable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the X1+X2+W gate (see _EMB_SCORABLE_CTE)."""
    abs_max = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    return load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMB_DIM)
        & (abs_max > 0)
        & (abs_max < 1e9)
    )


@query(
    "ext_embedding_width_audit",
    oracle=f"""
    SELECT CAST(COALESCE(len(embedding), -1) AS BIGINT) AS width,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(COALESCE(SUM(CASE WHEN embedding IS NOT NULL
                          AND len(embedding) = {EMB_DIM}
                          AND {_EMB_ABS_MAX_SQL} > 0
                          AND {_EMB_ABS_MAX_SQL} < 1e9
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_scorable
    FROM main.embeddings GROUP BY 1
    """,
)
def ext_embedding_width_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding WIDTH/SCORABILITY audit — the scorable gate's own
    telemetry (round-13 tranche 7, registered with RAGGED_AUDIT_r13.md):
    per observed width (NULL embeddings keyed as -1), how many vectors
    exist and how many pass the full scorable gate (non-NULL, width =
    EMB_DIM, norm > 0, max|component| < 1e9). A 100 TB pipeline doesn't
    just quarantine broken encodes — it publishes how much it
    quarantined, so a truncating writer or an encoder regression shows
    up as a moved metric, not a silent recall drop. The oracle
    interpolates the SAME constants as the gate (EMB_DIM,
    _EMB_ABS_MAX_SQL), so the audited pass rate IS the gate's pass rate
    by construction.

    Exactness: pure integer counts — no floats anywhere.

    Scale: one map-side-combinable groupBy over the corpus scan; the
    width key's cardinality is tiny (a handful of observed widths), so
    the shuffle carries one row per (partition, width)."""
    emb = load(spark, sf_dir, "embeddings")
    abs_max = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scorable = (
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMB_DIM)
        & (abs_max > 0)
        & (abs_max < 1e9)
    )
    width = F.when(F.col("embedding").isNull(), F.lit(-1)).otherwise(
        F.size("embedding")
    )
    return (
        emb.select(
            width.cast("long").alias("width"),
            F.when(scorable, 1).otherwise(0).alias("sc"),
        )
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sc").cast("long").alias("n_scorable"),
        )
    )


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with a sequential left-to-right double fold (bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


_KNN_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    sims AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               AS cosine_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_knn_cosine", oracle=_KNN_ORACLE)
def ext_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: each query vector (broadcast) against the
    full corpus, ranked per query with deterministic tie-break.

    The corpus is fanned out (tables.fan_out) because the broadcast join is
    narrow — without it a single-split corpus computes every cosine in one
    task."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    sims = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


_LSH_A = 48271  # minstd multiplier
_LSH_B = 7919
_LSH_M = 2_147_483_647  # 2^31 - 1


_LSH_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    sigs AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0, {N_PLANES}),
               p -> CASE WHEN list_reduce(
                      list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(0, 64),
                          j -> embedding[CAST(j + 1 AS INT)] *
                               (((p * 64 + j) * {_LSH_A} + {_LSH_B}) % {_LSH_M}
                                / {_LSH_M}.0 - 0.5))),
                      (acc, v) -> acc + v) > 0
                    THEN 1 << CAST({N_PLANES} - 1 - p AS INT) ELSE 0 END))
               AS BIGINT) AS sig
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, sig AS q_sig
      FROM sigs WHERE vec_id < {N_QUERIES}
    ), sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               AS cosine_sim
      FROM q JOIN sigs e ON e.sig = q.q_sig AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_knn_lsh", oracle=_LSH_ORACLE)
def ext_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN via random-hyperplane LSH — with an EXACT oracle.

    Plane p's component j is a deterministic pseudo-random value in
    [-0.5, 0.5) from an explicit minstd LCG: ((p·64+j)·48271 + 7919) mod
    (2³¹−1), scaled — pure integer arithmetic both engines compute
    bit-identically (no engine hash), and the projection is a sequential
    double fold, so the sign bits and hence the buckets agree exactly.
    Signature = N_PLANES sign bits; candidates share the full signature
    bucket; top-k ranks candidates by exact cosine. At 100 TB the bucket
    join replaces the corpus scan per query with ~|corpus|/2^N_PLANES
    candidates (recall tunable via multi-probe / more hash tables; plane
    count scales with corpus size)."""
    emb = fan_out(_emb_scorable(spark, sf_dir))

    def projection(vec: Column, p: Column) -> Column:
        # Σ_j vec[j] * plane(p, j); plane(p, j) ∈ [-0.5, 0.5) via minstd LCG
        return F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, j: x.cast("double")
                * (
                    F.pmod((p * 64 + j) * _LSH_A + _LSH_B, F.lit(_LSH_M)).cast(
                        "double"
                    )
                    / F.lit(float(_LSH_M))
                    - F.lit(0.5)
                ),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    def signature(vec: Column) -> Column:
        # fold over planes: acc*2 + sign_bit(projection)
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2
            + F.when(projection(vec, p) > 0, F.lit(1)).otherwise(F.lit(0)),
        )

    # cached: without it, ext_knn_lsh 0.62 → 0.77 s at sf0.01 and
    # 0.91 → 1.13 s at sf0.1 (A/B over its 3 keys)
    sigs = emb.select(
        "vec_id", "embedding", signature(F.col("embedding")).alias("sig")
    ).cache()
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
    )
    cand = sigs.join(
        F.broadcast(q),
        (F.col("sig") == F.col("q_sig")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


N_CENTROIDS = 8

_IVF_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ), assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[]) /
                        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[]))) DESC,
                        c.centroid_id ASC
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    ), clustered AS (
      SELECT vec_id, embedding, centroid_id FROM assign WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, centroid_id
      FROM clustered WHERE vec_id < {N_QUERIES}
    ), sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               AS cosine_sim
      FROM q JOIN clustered e
        ON e.centroid_id = q.centroid_id AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_knn_ivf", oracle=_IVF_ORACLE)
def ext_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate kNN: route every vector to its nearest
    centroid (deterministic codebook: the first N_CENTROIDS corpus vectors
    stand in for trained k-means centroids), then search only the query's
    cell. Fully deterministic → exact oracle, unlike hash-based ANN.

    Scale shape: assignment is a broadcast join against the codebook (tiny),
    the search is an equi-join on centroid_id — the corpus is effectively
    partitioned into cells, and a query touches |corpus|/C vectors (nprobe=1
    here; production raises nprobe and trains real centroids — the join
    shape is identical)."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("c_sim").desc(), F.col("centroid_id").asc()
    )
    clustered = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "centroid_id",
            cosine(F.col("embedding"), F.col("c_emb")).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .drop("rn", "c_sim")
    ).cache()  # without it, 0.57 → 0.73 s at sf0.01 (with/without A/B)
    q = clustered.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("centroid_id").alias("q_centroid"),
    )
    sims = clustered.join(
        F.broadcast(q),
        (F.col("centroid_id") == F.col("q_centroid"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


_NEAR_DUP_ORACLE = """
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
             AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.35
"""


@query(
    "ext_embedding_near_dup",
    oracle="WITH " + _EMB_SCORABLE_CTE + " " + _NEAR_DUP_ORACLE,
)
def ext_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label blocks.

    Blocking on ``label`` turns the all-pairs O(n²) into Σ O(n_b²) — the
    standard scale move when a cheap partition key exists (at 100 TB the
    block would be an LSH bucket instead; same join shape)."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    a = emb.alias("a")
    b = emb.alias("b")
    sim = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.35)
    )


K_CLUSTERS = 4
KMEANS_ITERS = 2


def _sqdist_sql(vec: str, cent: str) -> str:
    return f"""list_reduce(
        list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(0, 64),
            j -> ({vec}[CAST(j + 1 AS INT)]::DOUBLE - {cent}[CAST(j + 1 AS INT)]) *
                 ({vec}[CAST(j + 1 AS INT)]::DOUBLE - {cent}[CAST(j + 1 AS INT)]))),
        (acc, v) -> acc + v)"""


def _kmeans_iter_sql(prev: str, n: int) -> str:
    """One unrolled Lloyd iteration: assign to nearest centroid (squared
    euclidean, tie-break cid asc), then per-dimension scaled-integer mean."""
    return f"""a{n} AS (
      SELECT e.vec_id, e.embedding, cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_sqdist_sql("e.embedding", "c")} ASC, cid ASC) AS rn
      FROM embeddings e CROSS JOIN {prev}
    ), m{n} AS (
      SELECT vec_id, embedding, cid FROM a{n} WHERE rn = 1
    ), comp{n} AS (
      SELECT cid, t.j AS dim,
             SUM(CAST(round(embedding[CAST(t.j + 1 AS INT)] * 1e6) AS BIGINT))
               / 1e6 / count(*) AS comp,
             CAST(count(*) AS BIGINT) AS n_members
      FROM m{n}, range(0, 64) t(j) GROUP BY cid, t.j
    ), c{n} AS (
      SELECT cid, list(comp ORDER BY dim) AS c FROM comp{n} GROUP BY cid
    )"""


_KMEANS_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, c0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ), {_kmeans_iter_sql("c0", 1)}, {_kmeans_iter_sql("c1", 2)}
    SELECT cid AS centroid_id, CAST(dim AS BIGINT) AS dim, comp AS component,
           n_members
    FROM comp2
"""


def sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance as a sequential double fold (bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_kmeans(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over the embedding column, deterministic init = first
    K_CLUSTERS vectors, KMEANS_ITERS iterations; returns
    ``(components, centroids)`` where components is (cid, dim, comp,
    n_members) and centroids is (cid, c: array<double>).

    Per iteration: broadcast the K centroids, assign every vector to its
    nearest (squared euclidean, sequential fold → bit-identical across
    engines), recompute each centroid dimension as a scaled-integer mean
    (exact int64 sum, one identical double division chain) — so iteration
    N's assignments, and hence the final centroids, match the DuckDB
    oracle exactly despite being float math. One broadcast join + one
    (cid, dim) shuffle per iteration; no driver materialization."""
    cent = emb.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    comp = None
    for _ in range(KMEANS_ITERS):
        w = Window.partitionBy("vec_id").orderBy(F.col("sqd").asc(), F.col("cid").asc())
        members = (
            emb.crossJoin(F.broadcast(cent))
            .select(
                "vec_id", "embedding", "cid",
                sqdist(F.col("embedding"), F.col("c")).alias("sqd"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        comp = (
            members.select("cid", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("x").cast("double") * F.lit(1e6)).cast("long"))
                    / F.lit(1e6)
                    / F.count(F.lit(1))
                ).alias("comp"),
                F.count(F.lit(1)).alias("n_members"),
            )
        )
        cent = comp.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "comp"))),
                lambda s: s["comp"],
            ).alias("c")
        )
    return comp, cent


@query("ext_kmeans_train", oracle=_KMEANS_ORACLE)
def ext_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means centroid training (2 Lloyd iterations, deterministic init =
    first K vectors) entirely in DataFrame ops — the training half of IVF
    indexing; ``ext_knn_ivf_trained`` composes these centroids into the
    serving-side cell search. See :func:`train_kmeans` for the exactness
    and scale argument. Output: (centroid_id, dim, component, n_members)
    — K×64 rows."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    comp, _ = train_kmeans(emb)
    return comp.select(
        F.col("cid").alias("centroid_id"),
        F.col("dim").cast("long").alias("dim"),
        F.col("comp").alias("component"),
        "n_members",
    )


_IVF_TRAINED_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, c0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ), {_kmeans_iter_sql("c0", 1)}, {_kmeans_iter_sql("c1", 2)}, assignf AS (
      SELECT e.vec_id, e.embedding, cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_sqdist_sql("e.embedding", "c")} ASC, cid ASC) AS rn
      FROM embeddings e CROSS JOIN c2
    ), clustered AS (
      SELECT vec_id, embedding, cid FROM assignf WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, cid
      FROM clustered WHERE vec_id < {N_QUERIES}
    ), sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               AS cosine_sim
      FROM q JOIN clustered e ON e.cid = q.cid AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_knn_ivf_trained", oracle=_IVF_TRAINED_ORACLE)
def ext_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN with a TRAINED codebook — the full production composition:
    :func:`train_kmeans` learns the centroids (2 Lloyd iterations), every
    vector routes to its nearest trained centroid (squared euclidean, same
    metric as training), and each query searches only its cell, ranked by
    exact cosine. This replaces ``ext_knn_ivf``'s stand-in first-N codebook
    with the real thing in ONE composed plan; the oracle unrolls the same
    iterations in SQL, so the check stays exact end-to-end.

    Scale shape: training is per-iteration broadcast join + (cid, dim)
    shuffle; serving is a broadcast-codebook assignment plus an equi-join
    on the cell id — a query touches |corpus|/K vectors (nprobe=1;
    production raises nprobe by joining the q-side to its p nearest cells
    — same join, more rows on the tiny side)."""
    emb = _emb_scorable(spark, sf_dir)
    _, cent = train_kmeans(emb)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sqd").asc(), F.col("cid").asc()
    )
    clustered = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            sqdist(F.col("embedding"), F.col("c")).alias("sqd"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .drop("rn", "sqd")
    )
    q = clustered.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cid").alias("q_cid"),
    )
    sims = clustered.join(
        F.broadcast(q),
        (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


@query(
    "ext_embedding_quantize",
    oracle="WITH " + _EMB_SCORABLE_CTE + """,
    m AS (
      SELECT vec_id, label, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
      FROM embeddings
    )
    SELECT vec_id, label,
           round(127.0 / mx, 9) AS inv_scale,
           array_to_string(
             list_transform(embedding,
               x -> CAST(greatest(-127, least(127,
                      CAST(round(CAST(x AS DOUBLE) * (127.0 / mx))
                           AS BIGINT))) AS VARCHAR)),
             ',') AS codes,
           CAST(list_sum(list_transform(embedding,
             x -> abs(CAST(greatest(-127, least(127,
                    CAST(round(CAST(x AS DOUBLE) * (127.0 / mx))
                         AS BIGINT))) AS BIGINT)))) AS BIGINT) AS l1_codes
    FROM m
    """,
)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the standard memory-reduction step before ANN serving (4× smaller than
    float32, SIMD-friendly dot products). Per vector: scale by
    127/max|xـi|, round, clamp to [-127, 127].

    Exactness: float32 elements promote to double bit-identically in both
    engines, the scale division and products are IEEE-exact, and round()
    is half-away-from-zero in both — so the integer codes match exactly
    (codes emitted as a joined string: the driver canonicalizer cannot
    hash list cells). Pure map over the scan — no shuffle at all; at
    100 TB this runs at scan throughput inside codegen."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    x_d = lambda x: x.cast("double")  # noqa: E731
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x_d(x))))
    inv_scale = F.lit(127.0) / mx

    def code(x):
        return F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x_d(x) * inv_scale).cast("long")),
        )

    return emb.select(
        "vec_id",
        "label",
        F.round(inv_scale, 9).alias("inv_scale"),
        F.array_join(
            F.transform("embedding", lambda x: code(x).cast("string")), ","
        ).alias("codes"),
        F.aggregate(
            F.transform("embedding", lambda x: F.abs(code(x))),
            F.lit(0).cast("long"),
            lambda acc, c: acc + c,
        ).alias("l1_codes"),
    )


@query(
    "ext_knn_int8",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    codes AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> greatest(-127, least(127,
                      CAST(round(CAST(x AS DOUBLE) *
                        (127.0 / list_max(list_transform(embedding,
                           y -> abs(CAST(y AS DOUBLE)))))) AS BIGINT)))) AS c
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, c AS qc FROM codes
      WHERE vec_id < {N_QUERIES}
    ), dots AS (
      SELECT q.query_id, codes.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qc) + 1),
               i -> qc[i] * c[i])) AS BIGINT) AS int_dot
      FROM q JOIN codes ON codes.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, int_dot, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id
        ORDER BY int_dot DESC, neighbor_id ASC) AS BIGINT) AS rk
      FROM dots
    )
    WHERE rk <= {TOP_K}
    """,
)
def ext_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over int8-quantized embeddings — the serving side of
    ``ext_embedding_quantize``: integer dot products instead of float
    cosine (4× less memory traffic; SIMD int8 kernels in a real serving
    stack). Rankings approximate the float ordering; the CHECK is exact
    because integer arithmetic has no rounding at all — both engines
    quantize and accumulate identically.

    Same scale shape as ``ext_knn_cosine``: queries broadcast, corpus
    fanned out, one window per query for top-k. No float comparisons
    anywhere past quantization."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    inv_scale = F.lit(127.0) / mx
    codes = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.round(x.cast("double") * inv_scale).cast("long"),
                ),
            ),
        ).alias("c"),
    )
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    dots = codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with("qc", "c", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("int_dot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("int_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        dots.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


SEMDEDUP_T = 0.35  # cosine threshold: fixture embeddings are near-random
# (max off-diagonal cosine ≈ 0.48), so 0.35 yields a small real dup set


_SEMDEDUP_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, c0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {K_CLUSTERS}
    ), {_kmeans_iter_sql("c0", 1)}, {_kmeans_iter_sql("c1", 2)}, assignf AS (
      SELECT e.vec_id, e.embedding, cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_sqdist_sql("e.embedding", "c")} ASC, cid ASC) AS rn
      FROM embeddings e CROSS JOIN c2
    ), clustered AS (
      SELECT vec_id, embedding, cid FROM assignf WHERE rn = 1
    )
    SELECT b.vec_id, b.cid,
           NOT EXISTS (
             SELECT 1 FROM clustered a
             WHERE a.cid = b.cid AND a.vec_id < b.vec_id
               AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
                     >= {SEMDEDUP_T}
           ) AS kept
    FROM clustered b
"""


@query("ext_semdedup", oracle=_SEMDEDUP_ORACLE)
def ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with k-means, then WITHIN each cluster drop any
    vector that is cosine-similar (≥ threshold) to a lower-id keeper —
    i.e. near-duplicate pruning where the quadratic pair search is bounded
    to a cluster, never the corpus. Composition: :func:`train_kmeans`
    centroids → nearest-centroid routing → within-cluster pair join on
    cid → per-vector NOT-EXISTS(kept lower neighbor).

    Scale shape: the pair join is an equi-join on cid (cluster size
    ~n/K); raising K shrinks the quadratic term — at 100 TB K scales with
    corpus so clusters stay bounded (SemDeDup used 50k clusters for LAION).
    The kept flag is a left-semi-negation expressed as an aggregate, all
    plan-side; exact oracle because both kmeans and cosine are
    bit-identical sequential folds."""
    emb = _emb_scorable(spark, sf_dir)
    _, cent = train_kmeans(emb)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sqd").asc(), F.col("cid").asc()
    )
    clustered = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            sqdist(F.col("embedding"), F.col("c")).alias("sqd"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .drop("rn", "sqd")
    ).cache()  # without it, 2.27 → 3.63 s at sf0.01, 10.6 → 28.0 s at sf0.1
    a = clustered.select(
        F.col("cid").alias("a_cid"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
    )
    dup_ids = (
        clustered.join(
            a,
            (F.col("cid") == F.col("a_cid")) & (F.col("a_id") < F.col("vec_id")),
        )
        .filter(cosine(F.col("a_emb"), F.col("embedding")) >= SEMDEDUP_T)
        .select("vec_id")
        .distinct()
    )
    return (
        clustered.join(dup_ids.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
    )


def _ann_recall_oracle() -> str:
    from ..registry import REGISTRY

    exact = REGISTRY["ext_knn_cosine"].oracle
    ann = REGISTRY["ext_knn_lsh"].oracle
    return f"""
    WITH exact_k AS (
      SELECT query_id, neighbor_id FROM ({exact})
    ), ann_k AS (
      SELECT query_id, neighbor_id FROM ({ann})
    ), hits AS (
      SELECT e.query_id,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_found
      FROM exact_k e
      LEFT JOIN ann_k a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT query_id, n_exact, n_found,
           n_found * 1.0 / n_exact AS recall
    FROM hits
    """


@query("ext_ann_recall_eval", oracle=_ann_recall_oracle())
def ext_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate: recall@k of the LSH index against the exact
    brute-force top-k, per query — the number you tune N_PLANES/band
    count against before trusting an approximate index in production.
    Composes the two registered retrieval paths and left-joins exact
    neighbors to ANN hits; the joined relations are (queries × k) rows,
    so evaluation cost is trivial next to retrieval itself. Both inputs
    are deterministic (explicit-LCG hyperplanes, total tie-break
    orders), so recall is exact — the oracle recomputes both paths in
    SQL and must agree bit-for-bit."""
    exact = ext_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = ext_knn_lsh(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    hits = (
        exact.join(
            ann,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
    )
    return hits.select(
        "query_id",
        "n_exact",
        "n_found",
        (F.col("n_found") * 1.0 / F.col("n_exact")).alias("recall"),
    )


@query(
    "ext_label_cohesion",
    oracle="WITH " + _EMB_SCORABLE_CTE + """,
    comp AS (
      SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ), cent AS (
      SELECT label, dim,
             SUM(CAST(round(x * 1e6) AS BIGINT)) / count(*) / 1e6 AS c
      FROM comp GROUP BY label, dim
    ), dist AS (
      SELECT comp.vec_id, comp.label,
             SUM(CAST(round((x - c) * (x - c) * 1e12) AS BIGINT)) AS sq12
      FROM comp JOIN cent USING (label, dim)
      GROUP BY comp.vec_id, comp.label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(SUM(sq12) / 1e12 / count(*), 6) AS avg_sqdist,
           round(max(sq12) / 1e12, 6) AS max_sqdist
    FROM dist GROUP BY label
    """,
)
def ext_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label diagnostics: per-class centroid and the
    average/max squared distance of members to it — the cohesion report
    that flags mislabeled or collapsed classes before embeddings are
    trusted for clustering-based curation (SemDeDup-style pipelines gate
    on exactly this geometry). All floating-point reductions are per-term
    scaled-int64 (centroid means at 1e-6, squared deviations at 1e-12),
    so results are partition-order-independent and bit-exact. Shuffles:
    explode → (label, dim) centroid agg → join back → per-vector agg →
    per-label agg; every aggregate partial-combines map-side."""
    emb = _emb_scorable(spark, sf_dir)
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"),
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "x")
    cent = comp.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("x") * F.lit(1e6)).cast("long"))
            / F.count(F.lit(1))
            / F.lit(1e6)
        ).alias("c")
    )
    dist = (
        comp.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.round(
                    (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(1e12)
                ).cast("long")
            ).alias("sq12")
        )
    )
    return dist.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.sum("sq12") / F.lit(1e12) / F.count(F.lit(1)), 6).alias(
            "avg_sqdist"
        ),
        F.round(F.max("sq12") / F.lit(1e12), 6).alias("max_sqdist"),
    )


_HN_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    q AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ), sims AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             e.vec_id AS neighbor_id, e.label AS neighbor_label,
             list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
               AS cosine_sim
      FROM q JOIN embeddings e
        ON e.vec_id <> q.vec_id AND e.label <> q.label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine_sim,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_hard_negatives", oracle=_HN_ORACLE)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors with a DIFFERENT label — exactly the
    examples a dual-encoder trains against (similar enough to confuse,
    labeled different). Same broadcast-query/stream-corpus shape as
    ext_knn_cosine with the label-inequality predicate fused into the join
    (filtered BEFORE ranking, so no negative is wasted on a same-label
    hit); at scale the LSH/IVF bucketed variants slot in identically, with
    the label filter applied to the candidate set."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("query_label"),
    )
    sims = emb.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("query_label")),
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


_PQ_S = 4  # subspaces
_PQ_DIMS = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_K = 16  # centroids per subspace codebook


def _pq_dist_table(emb: DataFrame) -> DataFrame:
    """(vec_id, s, cid, d6): micro-unit squared L2 distance from every
    vector's subspace-s subvector to codebook centroid cid (first _PQ_K
    corpus vectors). Shared by the PQ encoder, ADC search, and IVF-PQ —
    one expression so all three stay bit-identical to the oracle."""
    cent = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("c"),
        )
    )
    sub = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.array(*[F.lit(s) for s in range(_PQ_S)])).alias("s"),
    )

    def diff(j):
        return F.element_at(
            F.col("embedding"), (j + 1).cast("int")
        ).cast("double") - F.element_at(F.col("c"), (j + 1).cast("int"))

    d6 = F.round(
        F.aggregate(
            F.transform(
                F.sequence(
                    F.col("s") * _PQ_DIMS, F.col("s") * _PQ_DIMS + (_PQ_DIMS - 1)
                ),
                lambda j: diff(j) * diff(j),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(1e6)
    ).cast("long")
    return sub.join(F.broadcast(cent)).select(
        "vec_id", "s", "cid", d6.alias("d6")
    )


_PQ_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {_PQ_K}
    ), d AS (
      SELECT e.vec_id, s.s, cent.cid,
             CAST(round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(s.s * {_PQ_DIMS}, s.s * {_PQ_DIMS} + {_PQ_DIMS}),
                   j -> (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                         - cent.c[CAST(j + 1 AS INT)])
                        * (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                           - cent.c[CAST(j + 1 AS INT)]))),
               (acc, v) -> acc + v) * 1e6) AS BIGINT) AS d6
      FROM embeddings e, range(0, {_PQ_S}) s(s), cent
    ), best AS (
      SELECT vec_id, s, min(d6 * 1024 + cid) AS k
      FROM d GROUP BY 1, 2
    )
    SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN k % 1024 END) AS BIGINT) AS code0,
           CAST(max(CASE WHEN s = 1 THEN k % 1024 END) AS BIGINT) AS code1,
           CAST(max(CASE WHEN s = 2 THEN k % 1024 END) AS BIGINT) AS code2,
           CAST(max(CASE WHEN s = 3 THEN k % 1024 END) AS BIGINT) AS code3,
           CAST(SUM(k // 1024) AS BIGINT) AS err6
    FROM best GROUP BY vec_id
"""


@query("ext_product_quantize", oracle=_PQ_ORACLE)
def ext_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the FAISS compression workhorse): each 64-dim
    embedding splits into {_PQ_S} x {_PQ_DIMS}-dim subvectors, each encoded
    as its nearest of {_PQ_K} subspace centroids — 64 floats become
    {_PQ_S} bytes (64:1), with the total squared reconstruction error
    reported in micro-units. The argmin is deterministic by packing
    (distance6, centroid_id) into one integer and taking MIN. The codebook
    is a stand-in (first {_PQ_K} vectors' subvectors, the ext_knn_ivf
    pattern); ext_kmeans_train's centroids swap in per subspace for a
    trained codebook.

    Scale: codebook broadcasts ({_PQ_S}*{_PQ_K} rows); the corpus streams
    once computing {_PQ_S}*{_PQ_K} distances per vector map-side, then one
    (vec, subspace) min-aggregation — the same shape that encodes billions
    of vectors for ANN serving."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    d = _pq_dist_table(emb).select(
        "vec_id", "s", (F.col("d6") * 1024 + F.col("cid")).alias("key")
    )
    best = d.groupBy("vec_id", "s").agg(F.min("key").alias("k"))
    code = lambda s: F.max(F.when(F.col("s") == s, F.col("k") % 1024)).alias(
        f"code{s}"
    )
    return best.groupBy("vec_id").agg(
        code(0),
        code(1),
        code(2),
        code(3),
        F.sum(F.expr("k DIV 1024")).alias("err6"),
    )


_ADC_TOP = 5


_ADC_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {_PQ_K}
    ), d AS (
      SELECT e.vec_id, s.s, cent.cid,
             CAST(round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(s.s * {_PQ_DIMS}, s.s * {_PQ_DIMS} + {_PQ_DIMS}),
                   j -> (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                         - cent.c[CAST(j + 1 AS INT)])
                        * (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                           - cent.c[CAST(j + 1 AS INT)]))),
               (acc, v) -> acc + v) * 1e6) AS BIGINT) AS d6
      FROM embeddings e, range(0, {_PQ_S}) s(s), cent
    ), best AS (
      SELECT vec_id, s, min(d6 * 1024 + cid) % 1024 AS code
      FROM d GROUP BY 1, 2
    ), lut AS (
      -- query-side lookup table: exact distance from each query subvector
      -- to every centroid (queries are full precision; only the corpus is
      -- quantized — that asymmetry is the A in ADC)
      SELECT vec_id AS query_id, s, cid, d6 FROM d
      WHERE vec_id < {N_QUERIES}
    ), adc AS (
      SELECT lut.query_id, best.vec_id AS neighbor_id,
             CAST(SUM(lut.d6) AS BIGINT) AS adc6
      FROM best
      JOIN lut ON lut.s = best.s AND lut.cid = best.code
      WHERE best.vec_id <> lut.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc6, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc6 ASC, neighbor_id ASC) AS rk
      FROM adc
    )
    WHERE rk <= {_ADC_TOP}
"""


@query("ext_pq_adc_search", oracle=_ADC_ORACLE)
def ext_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (the FAISS serving path): corpus
    vectors exist only as {_PQ_S}-byte codes; each query precomputes a
    {_PQ_S}x{_PQ_K} lookup table of exact subspace distances to the
    codebook, and a neighbor's approximate distance is {_PQ_S} table
    lookups + adds — no float math against the corpus at query time. Top
    {_ADC_TOP} per query by (adc6, neighbor_id).

    Scale: codes are {_PQ_S} bytes/vector (the only corpus-sized state),
    LUTs are per-query constants broadcast with the query batch; the scan
    does integer adds only. This is why PQ indexes serve billion-vector
    corpora from RAM. Composes with IVF routing (ext_knn_ivf) to skip most
    codes entirely."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    # Lazy localCheckpoint (r16): d feeds both best (aggregation) and lut
    # (broadcast build) — pruning specializes the two copies, exchange
    # reuse cannot bridge them, and the interpreted distance folds ran
    # twice. One materialization, bit-identical values.
    d = _pq_dist_table(emb).localCheckpoint(eager=False)
    best = (
        d.groupBy("vec_id", "s")
        .agg(F.min(F.col("d6") * 1024 + F.col("cid")).alias("k"))
        .select("vec_id", "s", (F.col("k") % 1024).alias("code"))
    )
    lut = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", "cid", "d6"
    )
    adc = (
        best.join(
            F.broadcast(lut),
            (best.s == lut.s) & (F.col("cid") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d6").alias("adc6"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc6").asc(), F.col("neighbor_id").asc())
    return (
        adc.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _ADC_TOP)
    )


_IVFPQ_CELLS = 8
_IVFPQ_NPROBE = 2


_IVFPQ_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, coarse AS (
      SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cc
      FROM embeddings WHERE vec_id < {_IVFPQ_CELLS}
    ), cd AS (
      SELECT e.vec_id, coarse.cell_id,
             CAST(round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(0, 64),
                   j -> (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                         - coarse.cc[CAST(j + 1 AS INT)])
                        * (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                           - coarse.cc[CAST(j + 1 AS INT)]))),
               (acc, v) -> acc + v) * 1e6) AS BIGINT) AS cd6
      FROM embeddings e, coarse
    ), cells AS (
      SELECT vec_id, min(cd6 * 1024 + cell_id) % 1024 AS cell
      FROM cd GROUP BY 1
    ), probes AS (
      SELECT vec_id AS query_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cd6, cell_id) AS rn
        FROM cd WHERE vec_id < {N_QUERIES}
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ), pcent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < {_PQ_K}
    ), d AS (
      SELECT e.vec_id, s.s, pcent.cid,
             CAST(round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(s.s * {_PQ_DIMS}, s.s * {_PQ_DIMS} + {_PQ_DIMS}),
                   j -> (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                         - pcent.c[CAST(j + 1 AS INT)])
                        * (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                           - pcent.c[CAST(j + 1 AS INT)]))),
               (acc, v) -> acc + v) * 1e6) AS BIGINT) AS d6
      FROM embeddings e, range(0, {_PQ_S}) s(s), pcent
    ), best AS (
      SELECT vec_id, s, min(d6 * 1024 + cid) % 1024 AS code
      FROM d GROUP BY 1, 2
    ), lut AS (
      SELECT vec_id AS query_id, s, cid, d6 FROM d
      WHERE vec_id < {N_QUERIES}
    ), cand AS (
      SELECT probes.query_id, cells.vec_id AS neighbor_id
      FROM probes JOIN cells ON cells.cell = probes.cell_id
      WHERE cells.vec_id <> probes.query_id
    ), adc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(lut.d6) AS BIGINT) AS adc6
      FROM cand c
      JOIN best ON best.vec_id = c.neighbor_id
      JOIN lut ON lut.query_id = c.query_id AND lut.s = best.s
              AND lut.cid = best.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc6, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc6 ASC, neighbor_id ASC) AS rk
      FROM adc
    )
    WHERE rk <= {_ADC_TOP}
"""


@query("ext_ivfpq_search", oracle=_IVFPQ_ORACLE)
def ext_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the index structure behind essentially every billion-scale
    ANN deployment, composed from this module's pieces in ONE declarative
    plan: a coarse quantizer routes each vector to its nearest of
    {_IVFPQ_CELLS} cells (inverted lists); queries probe their
    {_IVFPQ_NPROBE} nearest cells; only vectors in probed cells are scored,
    and scoring is PQ asymmetric distance (LUT lookups over 4-byte codes,
    ext_pq_adc_search), never raw floats. Both codebooks are stand-ins
    (first-K vectors — swap in ext_kmeans_train output); distances are
    packed-integer argmins, fully oracle-exact.

    Scale: the probe join is an equi-join on cell id (the inverted-list
    read), candidates shrink by ~nprobe/cells, and per-candidate work is
    {_PQ_S} integer adds. Memory is codes + codebooks, not vectors. This
    is the composition the module's docstring promises: routing x
    compression x LUT scoring, all Catalyst-planned."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    coarse = emb.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cc"),
    )

    def cdiff(j):
        return F.element_at(
            F.col("embedding"), (j + 1).cast("int")
        ).cast("double") - F.element_at(F.col("cc"), (j + 1).cast("int"))

    cd6 = F.round(
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(63)), lambda j: cdiff(j) * cdiff(j)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(1e6)
    ).cast("long")
    # Lazy localCheckpoint (r16): cd (vectors × cells coarse distances)
    # and d (the PQ distance table) are each consumed TWICE below — cd by
    # cells (an aggregation) and probes (a window), d by best (an
    # aggregation) and lut (a broadcast build). The consumers' shapes are
    # specialized by pruning, so neither ReuseExchange nor AQE stage
    # reuse bridges them and the interpreted higher-order distance folds
    # ran twice each (16 parquet scans in
    # plans/r16/ext_ivfpq_search_before.txt). Checkpointing computes each
    # fold exactly once — values bit-identical by determinism — and every
    # consumer reads the tiny (rows × 4 ints) LogicalRDD.
    # The self-aliases are load-bearing: cd and d checkpoint to two
    # LogicalRDD leaves, and without fresh exprIds both leaves would
    # expose emb's ORIGINAL vec_id attribute id — the downstream
    # cand⨝best⨝lut join conditions then silently mis-resolve across the
    # leaves and change values (measured at sf0.01; all four
    # checkpoint on/off combinations hash-identical with the aliases).
    cd = (
        emb.join(F.broadcast(coarse))
        .select(
            F.col("vec_id").alias("vec_id"),
            F.col("cell_id").alias("cell_id"),
            cd6.alias("cd6"),
        )
        .localCheckpoint(eager=False)
    )
    cells = (
        cd.groupBy("vec_id")
        .agg(F.min(F.col("cd6") * 1024 + F.col("cell_id")).alias("k"))
        .select("vec_id", (F.col("k") % 1024).alias("cell"))
    )
    wq = Window.partitionBy("vec_id").orderBy("cd6", "cell_id")
    # probes re-aliases EVERY output column: cells and probes now read
    # the same checkpointed leaf, and a raw cell_id reference in the join
    # condition below would be a self-join ambiguity (measured: it
    # silently mis-resolved and changed values — the probe column must
    # carry a fresh exprId).
    probes = (
        cd.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cell_id").alias("probe_cell"),
        )
    )
    d = _pq_dist_table(emb).localCheckpoint(eager=False)
    best = (
        d.groupBy("vec_id", "s")
        .agg(F.min(F.col("d6") * 1024 + F.col("cid")).alias("k"))
        .select("vec_id", "s", (F.col("k") % 1024).alias("code"))
    )
    lut = d.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", "cid", "d6"
    )
    cand = (
        probes.join(cells, F.col("cell") == F.col("probe_cell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    adc = (
        cand.join(best, best.vec_id == cand.neighbor_id)
        .join(
            F.broadcast(lut),
            (lut.query_id == cand.query_id)
            & (lut.s == best.s)
            & (F.col("cid") == F.col("code")),
        )
        .groupBy("neighbor_id", cand.query_id)
        .agg(F.sum("d6").alias("adc6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc6").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.select("query_id", "neighbor_id", "adc6")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _ADC_TOP)
    )


_HYBRID_TOP = 10


_HYBRID_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, dl AS (
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
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
               * 1e6) AS BIGINT) AS sc
      FROM tf
      JOIN df USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ), top AS (
      SELECT doc_id, SUM(sc) / 1e6 AS bm25
      FROM scored GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    ), mx AS (SELECT max(bm25) AS m FROM top),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    rer AS (
      SELECT top.doc_id, top.bm25,
             list_dot_product(e.embedding::DOUBLE[], qv.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[])))
               AS cos
      FROM top JOIN embeddings e ON e.vec_id = top.doc_id, qv
    )
    SELECT doc_id, bm25, cos AS cosine_sim,
           bm25 / m * 0.5 + cos * 0.5 AS hybrid_score,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT rer.*, mx.m,
             row_number() OVER (
               ORDER BY bm25 / mx.m * 0.5 + cos * 0.5 DESC, doc_id) AS rk
      FROM rer, mx
    ) WHERE rk <= {_HYBRID_TOP}
"""


@query("ext_hybrid_retrieval", oracle=_HYBRID_ORACLE)
def ext_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval — the RAG-era standard: a cheap LEXICAL
    stage (BM25 top-20 for the query terms, reusing ext_bm25's exact
    scorer) prunes the corpus, then a DENSE stage reranks only those
    candidates by embedding cosine to the query vector, blended 50/50
    after max-normalizing the BM25 leg. Stage-2 cost is per-candidate,
    not per-corpus — the whole point of the cascade; swap stage 1's
    candidates up and the dense leg's cost doesn't move.

    Scale: stage 1 is the ext_bm25 plan (one token shuffle, tiny stats
    broadcast); stage 2 touches 20 rows. The embedding join is on the
    (doc_id = vec_id) aligned fixture ids.

    Scorable gate (LATTICE_AUDIT_r15 tranche 4): this was the ONE
    Family-W key joining the RAW embeddings table on both sides — green
    for 12 rounds only because no NULL-bearing fixture had BM25-matching
    docs, so the rerank stage was vacuous. Once tranche 4 lit it up,
    DuckDB's list_inner_product raised on the NULL-embedding row where
    Spark scored past it. Both sides now apply the standard X1+X2+W
    scorable gate, like every other scoring key."""
    from .text import ext_bm25

    top = ext_bm25(spark, sf_dir)
    emb = _emb_scorable(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    mx = top.agg(F.max("bm25").alias("m"))
    rer = (
        top.join(emb, top.doc_id == emb.vec_id)
        .join(F.broadcast(qv))
        .join(F.broadcast(mx))
        .select(
            "doc_id",
            "bm25",
            cosine(F.col("embedding"), F.col("q_emb")).alias("cosine_sim"),
            "m",
        )
    )
    hybrid = F.col("bm25") / F.col("m") * 0.5 + F.col("cosine_sim") * 0.5
    w = Window.orderBy(hybrid.desc(), "doc_id")
    return (
        rer.withColumn("hybrid_score", hybrid)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _HYBRID_TOP)
        .select("doc_id", "bm25", "cosine_sim", "hybrid_score", "rk")
    )


_AGREE_K = 5


_AGREE_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    sims AS (
      SELECT a.vec_id AS vid, a.label AS own_label,
             b.vec_id AS nid, b.label AS nbr_label,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
               AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ), top AS (
      SELECT vid, own_label, nbr_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vid ORDER BY cos DESC, nid ASC) AS rk
        FROM sims
      ) WHERE rk <= {_AGREE_K}
    )
    SELECT vid AS vec_id, CAST(own_label AS BIGINT) AS label,
           CAST(count(*) FILTER (WHERE nbr_label = own_label) AS BIGINT)
             AS n_agree,
           count(*) FILTER (WHERE nbr_label = own_label) <= 1 AS suspect
    FROM top GROUP BY vid, own_label
"""


@query("ext_knn_label_agreement", oracle=_AGREE_ORACLE)
def ext_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by neighborhood vote (the Cleanlab-style
    geometric screen): every vector's {_AGREE_K} nearest neighbors vote on
    its label; a vector whose neighborhood almost never agrees (<=1 of
    {_AGREE_K}) is flagged suspect — mislabeled, or sitting on a class
    boundary. The per-example version of ext_label_cohesion's per-class
    diagnostics.

    Scale: all-queries brute force here (every vector is a query); at
    corpus scale the candidate set comes from the LSH/IVF bucket joins
    (ext_knn_lsh / ext_knn_ivf) and the vote is identical. Ranking is
    (cos desc, id) — fully deterministic."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("own_label"),
        F.col("embedding").alias("a_emb"),
    )
    sims = emb.join(F.broadcast(a), F.col("vec_id") != F.col("vid")).select(
        "vid",
        "own_label",
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nbr_label"),
        cosine(F.col("a_emb"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("vid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    top = sims.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _AGREE_K
    )
    agree = F.count(F.when(F.col("nbr_label") == F.col("own_label"), 1))
    return top.groupBy("vid", "own_label").agg(
        agree.alias("n_agree"),
        (agree <= 1).alias("suspect"),
    ).select(
        F.col("vid").alias("vec_id"),
        F.col("own_label").cast("long").alias("label"),
        "n_agree",
        "suspect",
    )


_KC_STEPS = 3  # greedy selections after the seed
_KC_POS = 1 << 20


def _kc_d6_sql(other: str) -> str:
    return f"""CAST(round(list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(0, 64),
          j -> (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                - {other}[CAST(j + 1 AS INT)])
               * (CAST(e.embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                  - {other}[CAST(j + 1 AS INT)]))),
      (acc, v) -> acc + v) * 1e6) AS BIGINT)"""


_KC_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    seed AS (
      SELECT embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id = 0
    ), d0 AS (
      SELECT e.vec_id, {_kc_d6_sql('seed.c')} AS d6
      FROM embeddings e, seed
    ), pick1 AS (
      SELECT max(d6 * {_KC_POS} + ({_KC_POS} - 1 - vec_id)) AS k FROM d0
    ), c1 AS (
      SELECT embedding::DOUBLE[] AS c FROM embeddings, pick1
      WHERE vec_id = {_KC_POS} - 1 - k % {_KC_POS}
    ), d1 AS (
      SELECT d0.vec_id, least(d0.d6, {_kc_d6_sql('c1.c')}) AS d6
      FROM d0 JOIN embeddings e USING (vec_id), c1
    ), pick2 AS (
      SELECT max(d6 * {_KC_POS} + ({_KC_POS} - 1 - vec_id)) AS k FROM d1
    ), c2 AS (
      SELECT embedding::DOUBLE[] AS c FROM embeddings, pick2
      WHERE vec_id = {_KC_POS} - 1 - k % {_KC_POS}
    ), d2 AS (
      SELECT d1.vec_id, least(d1.d6, {_kc_d6_sql('c2.c')}) AS d6
      FROM d1 JOIN embeddings e USING (vec_id), c2
    ), pick3 AS (
      SELECT max(d6 * {_KC_POS} + ({_KC_POS} - 1 - vec_id)) AS k FROM d2
    )
    SELECT CAST(0 AS BIGINT) AS sel_order, CAST(0 AS BIGINT) AS vec_id
    UNION ALL
    SELECT 1, CAST({_KC_POS} - 1 - k % {_KC_POS} AS BIGINT) FROM pick1
    UNION ALL
    SELECT 2, CAST({_KC_POS} - 1 - k % {_KC_POS} AS BIGINT) FROM pick2
    UNION ALL
    SELECT 3, CAST({_KC_POS} - 1 - k % {_KC_POS} AS BIGINT) FROM pick3
"""


@query("ext_kcenter_coreset", oracle=_KC_ORACLE)
def ext_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (farthest-point traversal): starting from
    vector 0, repeatedly select the point FARTHEST from the current
    selection ({_KC_STEPS} unrolled steps) — the classic 2-approximation
    for diversity sampling, the geometric complement to the density-based
    selectors (DSIR picks representative, k-center picks COVERING). Every
    argmax packs (distance6, -vec_id) into one integer MAX, so the chosen
    ids are bit-deterministic.

    Scale: each step is one corpus-wide min-update against ONE new center
    (broadcast) plus a 1-row argmax — k passes total, the textbook
    distributed Gonzalez sweep. The distance state (one int per vector)
    carries between steps as a column."""
    emb = fan_out(_emb_scorable(spark, sf_dir))

    def d6_to(center_df):
        c = F.col("c")

        def diff(j):
            return F.element_at(
                F.col("embedding"), (j + 1).cast("int")
            ).cast("double") - F.element_at(c, (j + 1).cast("int"))

        return F.round(
            F.aggregate(
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: diff(j) * diff(j),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            * F.lit(1e6)
        ).cast("long")

    def center(vid_df):
        return F.broadcast(
            emb.join(vid_df, "vec_id").select(
                F.transform("embedding", lambda x: x.cast("double")).alias("c")
            )
        )

    seed = spark.createDataFrame([(0,)], "vec_id BIGINT")
    d = emb.join(center(seed)).select("vec_id", "embedding", d6_to(None).alias("d6"))
    picks = [(0, seed)]
    for step in range(1, _KC_STEPS + 1):
        k = d.agg(
            F.max(
                F.col("d6") * _KC_POS + (F.lit(_KC_POS - 1) - F.col("vec_id"))
            ).alias("k")
        )
        vid = k.select(
            (F.lit(_KC_POS - 1) - F.col("k") % _KC_POS).alias("vec_id")
        )
        picks.append((step, vid))
        if step < _KC_STEPS:
            d = d.join(center(vid)).select(
                "vec_id",
                "embedding",
                F.least(F.col("d6"), d6_to(None)).alias("d6"),
            )
    out = None
    for step, vid in picks:
        row = vid.select(
            F.lit(step).cast("long").alias("sel_order"),
            F.col("vec_id").cast("long").alias("vec_id"),
        )
        out = row if out is None else out.unionAll(row)
    return out


_RRF_K = 60


_RRF_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, dl AS (
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
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
               * 1e6) AS BIGINT) AS sc
      FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ), lex AS (
      -- fuse over the lexical TOP-20 candidate set (ext_bm25's contract)
      SELECT doc_id,
             row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
      FROM (
        SELECT doc_id, SUM(sc) AS s FROM scored GROUP BY doc_id
        ORDER BY s DESC, doc_id LIMIT 20
      )
    ), qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (ORDER BY
               list_dot_product(e.embedding::DOUBLE[], qv.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(qv.embedding::DOUBLE[], qv.embedding::DOUBLE[])))
               DESC, e.vec_id) AS dense_rank
      FROM embeddings e, qv
    )
    SELECT lex.doc_id,
           CAST(lex.lex_rank AS BIGINT) AS lex_rank,
           CAST(dense.dense_rank AS BIGINT) AS dense_rank,
           CAST(1000000 // ({_RRF_K} + lex.lex_rank)
                + 1000000 // ({_RRF_K} + dense.dense_rank) AS BIGINT)
             AS rrf6,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT lex.doc_id,
             row_number() OVER (ORDER BY
               1000000 // ({_RRF_K} + lex.lex_rank)
               + 1000000 // ({_RRF_K} + dense.dense_rank) DESC,
               lex.doc_id) AS rk
      FROM lex JOIN dense USING (doc_id)
    ) r
    JOIN lex ON lex.doc_id = r.doc_id
    JOIN dense ON dense.doc_id = r.doc_id
    WHERE rk <= 10
"""


@query("ext_rank_fusion_rrf", oracle=_RRF_ORACLE)
def ext_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of a lexical and a dense ranker:
    RRF(d) = Σ 1/(k + rank_r(d)) over rankers, k={_RRF_K} — the
    score-free fusion that beats weighted blends when ranker score
    scales are incomparable (the reason every hybrid-search engine ships
    it). Both input rankings and the fused scores are exact integers
    (micro-unit reciprocal with floor division), so the fused top-10 is
    bit-deterministic — contrast ext_hybrid_retrieval's score blend.

    Scale: two rankings (each one ordered pass) joined on doc id; fusion
    itself is arithmetic on two small rank columns."""
    from .text import ext_bm25

    lex_w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    # re-rank the FULL bm25 scoring (not just its top-20): recompute via
    # the registered key, which returns top-20 already ranked — fuse those
    lex = ext_bm25(spark, sf_dir).select(
        "doc_id", F.row_number().over(lex_w).alias("lex_rank")
    )
    emb = _emb_scorable(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    # dense ranks the FULL corpus: distributed rank, no single-task sort
    dense = distributed_row_number(
        emb.join(F.broadcast(qv)).select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("q_emb")).alias("cos"),
        ),
        [F.col("cos").desc(), F.col("doc_id").asc()],
        rn="dense_rank",
    ).select("doc_id", "dense_rank")
    fused = lex.join(dense, "doc_id").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (
            F.expr(f"1000000 DIV ({_RRF_K} + lex_rank)")
            + F.expr(f"1000000 DIV ({_RRF_K} + dense_rank)")
        ).alias("rrf6"),
    )
    w = Window.orderBy(F.col("rrf6").desc(), "doc_id")
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("dense_rank").cast("long").alias("dense_rank"),
            "rrf6",
            "rk",
        )
    )


_AUC_SCALE = 1_000_000


_AUC_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, q AS (
      SELECT embedding AS q_emb, label AS q_label FROM embeddings
      WHERE vec_id = 0
    ), scored AS (
      SELECT e.vec_id,
             CAST(round(
               list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])))
               * 1e9) AS BIGINT) AS score9,
             e.label = q.q_label AS is_pos
      FROM embeddings e, q WHERE e.vec_id <> 0
    ), ranked AS (
      SELECT is_pos,
             CAST(row_number() OVER (ORDER BY score9, vec_id) AS BIGINT) AS r
      FROM scored
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN is_pos THEN r END) AS BIGINT) AS rsum,
             CAST(count(*) FILTER (WHERE is_pos) AS BIGINT) AS np,
             CAST(count(*) FILTER (WHERE NOT is_pos) AS BIGINT) AS nn
      FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST((rsum - np * (np + 1) // 2) * {_AUC_SCALE} // (np * nn)
                AS BIGINT) AS auc6
    FROM agg
"""


@query("ext_retrieval_auc", oracle=_AUC_ORACLE)
def ext_retrieval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the embedding space as a same-label retriever: scoring
    every corpus vector by cosine to the query (vec 0), with its label
    match as ground truth, AUC = the Mann-Whitney rank-sum statistic —
    the probability a random positive outranks a random negative. Scores
    are rounded to 1e-9 BEFORE ranking so the rank order itself (not just
    the final number) is identical in both engines; the statistic is then
    pure integer arithmetic. The single-number cousin of
    ext_ann_recall_eval's top-k view and ext_knn_label_agreement's
    per-point view.

    A corpus whose every vector shares the query's label (or none) has
    n_neg = 0 (or n_pos = 0): AUC's np*nn divisor is zero and ANSI Spark's
    ``div`` would raise where DuckDB's ``//`` yields NULL — the divisor is
    wrapped in nullif(.., 0) (x div NULL propagates NULL; the integral-
    division twin of Family B's try_divide, DEGENERATE_AUDIT_r8.md; oracle
    untouched).

    Scale: one scoring pass + one ``distributed_row_number`` rank (range
    exchange + broadcast offsets — no single-task sort over the corpus)
    + a 1-row aggregate."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("label").alias("q_label")
    )
    scored = emb.filter(F.col("vec_id") != 0).join(F.broadcast(q)).select(
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")) * 1e9)
        .cast("long")
        .alias("score9"),
        (F.col("label") == F.col("q_label")).alias("is_pos"),
    )
    ranked = distributed_row_number(
        scored, ["score9", "vec_id"], rn="r"
    ).select("is_pos", "r")
    return ranked.agg(
        F.count(F.when(F.col("is_pos"), 1)).alias("n_pos"),
        F.count(F.when(~F.col("is_pos"), 1)).alias("n_neg"),
        F.expr(
            f"(sum(CASE WHEN is_pos THEN r END) - count(CASE WHEN is_pos THEN 1 END)"
            f" * (count(CASE WHEN is_pos THEN 1 END) + 1) DIV 2) * {_AUC_SCALE}"
            f" DIV nullif(count(CASE WHEN is_pos THEN 1 END)"
            f" * count(CASE WHEN NOT is_pos THEN 1 END), 0)"
        ).alias("auc6"),
    )


_MULTIPROBE_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE},
    sigs AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0, {N_PLANES}),
               p -> CASE WHEN list_reduce(
                      list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(0, 64),
                          j -> embedding[CAST(j + 1 AS INT)] *
                               (((p * 64 + j) * {_LSH_A} + {_LSH_B}) % {_LSH_M}
                                / {_LSH_M}.0 - 0.5))),
                      (acc, v) -> acc + v) > 0
                    THEN 1 << CAST({N_PLANES} - 1 - p AS INT) ELSE 0 END))
               AS BIGINT) AS sig
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, sig AS q_sig
      FROM sigs WHERE vec_id < {N_QUERIES}
    ), probes AS (
      SELECT query_id, q_emb, q_sig AS probe FROM q
      UNION ALL
      SELECT query_id, q_emb, xor(q_sig, 1 << CAST(t.i AS INT))
      FROM q, range(0, {N_PLANES}) t(i)
    ), cand AS (
      SELECT DISTINCT probes.query_id, probes.q_emb, e.vec_id, e.embedding
      FROM probes JOIN sigs e ON e.sig = probes.probe
      WHERE e.vec_id <> probes.query_id
    ), sims AS (
      SELECT query_id, vec_id AS neighbor_id,
             list_dot_product(q_emb::DOUBLE[], embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q_emb::DOUBLE[], q_emb::DOUBLE[])) *
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
               AS cosine_sim
      FROM cand
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC) AS rk
      FROM sims
    )
    WHERE rk <= {TOP_K}
"""


@query("ext_knn_lsh_multiprobe", oracle=_MULTIPROBE_ORACLE)
def ext_knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH: each query probes its own bucket AND every
    1-bit-flip neighbor bucket ({N_PLANES}+1 probes) — the standard
    recall lever that trades a constant factor of candidates for the
    memory cost of extra hash tables (Lv et al.); a near-miss on one
    hyperplane's sign no longer loses the neighbor. Candidates stay an
    equi-join on the signature; only the probe list fans out.

    Scale: candidates grow ~(planes+1)x over single-probe, still
    ~|corpus|·(planes+1)/2^planes per query — the knob that makes LSH
    recall tunable WITHOUT re-hashing the corpus (contrast adding planes,
    which rebuilds signatures)."""
    emb = fan_out(_emb_scorable(spark, sf_dir))

    def projection(vec: Column, p: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, j: x.cast("double")
                * (
                    F.pmod((p * 64 + j) * _LSH_A + _LSH_B, F.lit(_LSH_M)).cast(
                        "double"
                    )
                    / F.lit(float(_LSH_M))
                    - F.lit(0.5)
                ),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        )

    def signature(vec: Column) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc * 2
            + F.when(projection(vec, p) > 0, F.lit(1)).otherwise(F.lit(0)),
        )

    sigs = emb.select(
        "vec_id", "embedding", signature(F.col("embedding")).alias("sig")
    )
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
    )
    flips = F.array(
        F.col("q_sig"),
        *[
            F.expr(f"q_sig ^ {1 << i}").alias(f"f{i}")
            for i in range(N_PLANES)
        ],
    )
    probes = q.select(
        "query_id", "q_emb", F.explode(flips).alias("probe")
    )
    cand = (
        sigs.join(
            F.broadcast(probes),
            (F.col("sig") == F.col("probe"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "q_emb", "vec_id", "embedding")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (columnar exact mean pooling)
# ---------------------------------------------------------------------------

_CENTROID_DIMS = 8  # report the first 8 components per label


@query(
    "ext_label_centroids",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    comp AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS x6
      FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(x6) AS BIGINT) AS sum6,
           CAST(round(CAST(SUM(x6) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean6
    FROM comp WHERE pos < {_CENTROID_DIMS}
    GROUP BY label, pos
    """,
)
def ext_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids by EXACT columnar mean pooling: every
    vector component is integer-scaled (×1e6) before summation, so the
    per-class centroid is bit-identical regardless of aggregation order —
    the quantity semantic-dedup thresholds, prototype classifiers, and
    drift monitors are all computed against (first {_CENTROID_DIMS}
    components reported; the shape is dimension-agnostic).

    Scale: posexplode to (label, pos, component) then ONE partial-
    aggregable groupBy — the canonical distributed dense-vector reduce:
    the shuffle carries (label × dim) partial sums, never the vectors.
    The float→int scaling is what makes the result mergeable without
    float-order divergence — the same trick as tables.dsum."""
    emb = _emb_scorable(spark, sf_dir)
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).filter(F.col("pos") < _CENTROID_DIMS)
    return (
        comp.select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.col("x").cast("double") * 1e6).cast("long").alias("x6"),
        )
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("x6").alias("sum6"),
        )
        .withColumn(
            "mean6",
            F.round(F.col("sum6").cast("double") / F.col("n_vecs")).cast(
                "long"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Silhouette score (centroid-based, exact integer geometry)
# ---------------------------------------------------------------------------


@query(
    "ext_silhouette_labels",
    oracle="WITH " + _EMB_SCORABLE_CTE + """,
    comp AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS x6
      FROM embeddings
    ), cent AS (
      SELECT label AS c_label, pos,
             CAST(round(CAST(SUM(x6) AS DOUBLE) / count(*)) AS BIGINT) AS m6
      FROM comp GROUP BY label, pos
    ), d2 AS (
      SELECT comp.vec_id, comp.label, cent.c_label,
             CAST(SUM((x6 - m6) * (x6 - m6)) AS BIGINT) AS dist2
      FROM comp JOIN cent USING (pos)
      GROUP BY 1, 2, 3
    ), ab AS (
      SELECT vec_id, label,
             min(CASE WHEN label = c_label THEN dist2 END) AS a2,
             min(CASE WHEN label <> c_label THEN dist2 END) AS b2
      FROM d2 GROUP BY vec_id, label
    ), s AS (
      SELECT vec_id, label,
             CAST(round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                        / greatest(sqrt(CAST(a2 AS DOUBLE)),
                                   sqrt(CAST(b2 AS DOUBLE))) * 1e6)
                  AS BIGINT) AS s6
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           -- floor(), not //: DuckDB's integer // truncates toward zero
           -- while Spark's floor() floors, and SUM(s6) is negative here
           CAST(floor(CAST(SUM(s6) AS DOUBLE) / count(*)) AS BIGINT)
             AS avg_silhouette6
    FROM s GROUP BY label
    """,
)
def ext_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label silhouette score (centroid variant): for every vector,
    a = distance to its own label centroid, b = distance to the nearest
    OTHER centroid, s = (b−a)/max(a,b) — the standard cluster-quality
    number, here grading how geometrically separable the LABELS are (the
    go/no-go check before trusting kNN label propagation or semdedup
    thresholds on these embeddings). Components and centroids are
    integer-scaled (×1e6), so every squared distance is an EXACT int64
    sum — order-independent — and the only floats are two per-row sqrt
    calls on identical integers.

    Scale: centroids are (labels × dim) — broadcast; the distance table
    is vectors × labels rows built by one equi-join on the component
    index and reduced by partial aggregation. The classic O(n²) pairwise
    silhouette is replaced by the centroid form exactly because the
    pairwise version cannot scale."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("x6"),
    )
    cent = comp.groupBy(F.col("label").alias("c_label"), "pos").agg(
        F.round(F.sum("x6").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("m6")
    )
    d2 = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(
                (F.col("x6") - F.col("m6")) * (F.col("x6") - F.col("m6"))
            ).alias("dist2")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.min(
            F.when(F.col("label") == F.col("c_label"), F.col("dist2"))
        ).alias("a2"),
        F.min(
            F.when(F.col("label") != F.col("c_label"), F.col("dist2"))
        ).alias("b2"),
    )
    sa = F.sqrt(F.col("a2").cast("double"))
    sb = F.sqrt(F.col("b2").cast("double"))
    s = ab.select(
        "label",
        F.round((sb - sa) / F.greatest(sa, sb) * 1e6).cast("long").alias("s6"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum("s6") / F.count(F.lit(1))).cast("long").alias(
            "avg_silhouette6"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding outliers (mislabeled-sample candidates)
# ---------------------------------------------------------------------------

_OUTLIER_TOP = 20


@query(
    "ext_embedding_outliers",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    comp AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS x6
      FROM embeddings
    ), cent AS (
      SELECT label, pos,
             CAST(round(CAST(SUM(x6) AS DOUBLE) / count(*)) AS BIGINT) AS m6
      FROM comp GROUP BY label, pos
    ), d2 AS (
      SELECT comp.vec_id, comp.label,
             CAST(SUM((x6 - m6) * (x6 - m6)) AS BIGINT) AS dist2
      FROM comp JOIN cent USING (label, pos)
      GROUP BY 1, 2
    )
    SELECT vec_id, label, dist2,
           CAST(row_number() OVER (ORDER BY dist2 DESC, vec_id) AS BIGINT)
             AS rk
    FROM d2
    ORDER BY dist2 DESC, vec_id LIMIT {_OUTLIER_TOP}
    """,
)
def ext_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-sample candidates: the {_OUTLIER_TOP} vectors FARTHEST
    from their own label's centroid (exact integer-scaled squared
    distance) — the cheap first-pass audit list a labeling team reviews,
    and the deletion candidates confident-learning pipelines start from.
    Shares the exact-centroid machinery of ext_silhouette_labels but
    ranks individual vectors instead of grading labels.

    Scale: centroid build + one self-distance per vector (equi-join on
    (label, pos), partial-aggregated) and a global top-k — no pairwise
    anything."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    comp = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("x6"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.round(F.sum("x6").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("m6")
    )
    d2 = (
        comp.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("x6") - F.col("m6")) * (F.col("x6") - F.col("m6"))
            ).alias("dist2")
        )
    )
    # top-k first (TakeOrderedAndProject), then rank the k-row result —
    # a global row_number window here would funnel every vector into one
    # partition
    top = d2.orderBy(F.col("dist2").desc(), "vec_id").limit(_OUTLIER_TOP)
    w = Window.orderBy(F.col("dist2").desc(), "vec_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "vec_id", "label", "dist2", "rk"
    )


# ---------------------------------------------------------------------------
# Mutual-kNN pairs (the edges clustering/UMAP graphs keep)
# ---------------------------------------------------------------------------

_MKNN_K = 5


@query(
    "ext_mutual_knn_pairs",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(a.embedding[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
               i -> CAST(b.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE))))) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
    ), ranked AS (
      SELECT u, v, sim,
             row_number() OVER (PARTITION BY u ORDER BY sim DESC, v) AS rk
      FROM pairs
    ), topk AS (
      SELECT u, v, sim FROM ranked WHERE rk <= {_MKNN_K}
    )
    SELECT a.u AS d1, a.v AS d2, round(a.sim, 6) AS cosine6
    FROM topk a JOIN topk b ON a.u = b.v AND a.v = b.u
    WHERE a.u < a.v
    """,
)
def ext_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL kNN edges: pairs where each vector is in the other's top-k
    by cosine — the symmetric graph UMAP, HDBSCAN, and spectral methods
    keep (one-directional edges are mostly hubness noise). Restricted to
    the first 100 vectors so the exact all-pairs oracle stays affordable;
    the Spark side computes the same brute-force kNN then inner-joins the
    ranked edge list against its own transpose — at scale the kNN stage
    swaps for the LSH/IVF path and the mutual join shape is unchanged.

    Scale: the mutual check is one self-equi-join of the (n × k) edge
    list on (u=v, v=u) — edge-list-sized, never touching vectors."""
    emb = fan_out(_emb_scorable(spark, sf_dir)).filter(
        F.col("vec_id") < 100
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a = emb.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    sim = (
        a.join(b, F.col("u") != F.col("v"))
        .select(
            "u",
            "v",
            (
                dot(F.col("ea"), F.col("eb"))
                / (
                    F.sqrt(dot(F.col("ea"), F.col("ea")))
                    * F.sqrt(dot(F.col("eb"), F.col("eb")))
                )
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("sim").desc(), "v")
    topk = (
        sim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MKNN_K)
        .select("u", "v", "sim")
    )
    t2 = topk.select(
        F.col("u").alias("v2"), F.col("v").alias("u2")
    )
    return (
        topk.join(
            t2, (F.col("u") == F.col("u2")) & (F.col("v") == F.col("v2"))
        )
        .filter(F.col("u") < F.col("v"))
        .select(
            F.col("u").alias("d1"),
            F.col("v").alias("d2"),
            F.round("sim", 6).alias("cosine6"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle counting on the mutual-kNN graph
# ---------------------------------------------------------------------------


@query(
    "ext_triangle_count",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(a.embedding[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
               i -> CAST(b.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE))))) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
    ), ranked AS (
      SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY sim DESC, v)
               AS rk
      FROM pairs
    ), topk AS (SELECT u, v FROM ranked WHERE rk <= {_MKNN_K}),
    edges AS (
      SELECT a.u, a.v FROM topk a JOIN topk b ON a.u = b.v AND a.v = b.u
      WHERE a.u < a.v
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT a AS vec_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
      SELECT a FROM tri UNION ALL SELECT b FROM tri UNION ALL
      SELECT c FROM tri
    ) GROUP BY a
    """,
)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node TRIANGLE counts over the mutual-kNN graph — the local
    clustering signal: embeddings whose neighborhoods are mutually close
    (dense dup clusters, tight topics) sit in many triangles; hub-noise
    nodes sit in none. Classic distributed formulation: orient every edge
    low→high, join edges-to-edges to enumerate wedges (a<b<c), then one
    semi-join against the edge set closes them — never an all-pairs
    anything, and each triangle is found exactly once.

    Scale: wedge count is Σ deg², bounded here by k² per node (mutual-kNN
    caps degree at k) — the orientation trick is what keeps the hot-node
    wedge explosion polynomial at web scale (Suri & Vassilvitskii's
    MapReduce triangle counting)."""
    edges = ext_mutual_knn_pairs(spark, sf_dir).select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
        .cache()  # without it, 0.97 → 1.10 s at sf0.1 (with/without A/B)
    )
    nodes = (
        tri.select(F.col("a").alias("vec_id"))
        .unionAll(tri.select(F.col("b").alias("vec_id")))
        .unionAll(tri.select(F.col("c").alias("vec_id")))
    )
    return nodes.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_triangles"))


# ---------------------------------------------------------------------------
# Per-dimension embedding whitening (z-score normalization)
# ---------------------------------------------------------------------------

_WHITEN_DIMS = 8


@query(
    "ext_embedding_whitening",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    comp AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS x6
      FROM embeddings
    ), stats AS (
      SELECT pos,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x6) AS BIGINT) AS s1,
             CAST(SUM(x6 * x6) AS BIGINT) AS s2
      FROM comp GROUP BY pos
    )
    SELECT c.vec_id, CAST(c.pos AS BIGINT) AS pos,
           CAST(round(
             (c.x6 - CAST(s.s1 AS DOUBLE) / s.n)
             / sqrt(CAST(s.s2 AS DOUBLE) / s.n
                    - (CAST(s.s1 AS DOUBLE) / s.n)
                      * (CAST(s.s1 AS DOUBLE) / s.n))
             * 1e6) AS BIGINT) AS z6
    FROM comp c JOIN stats s USING (pos)
    WHERE c.pos < {_WHITEN_DIMS} AND c.vec_id < 50
    """,
)
def ext_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension WHITENING (diagonal z-score): every embedding
    component is centered by its dimension's mean and scaled by its
    dimension's std — the preprocessing that stops high-variance
    dimensions from dominating cosine/euclidean retrieval (and the
    diagonal special case of full ZCA whitening). Moments are EXACT
    integer sums of 1e-6-scaled components, so mean and variance are
    bit-identical across engines; the one sqrt and divide run on
    identical doubles. Reported for the first {_WHITEN_DIMS} dims × 50
    vectors to bound output.

    A zero-variance dimension (byte-identical embeddings) makes the
    z-score 0/0: ANSI Spark would raise DIVIDE_BY_ZERO where DuckDB
    renders NaN, so the division goes through try_divide (NULL,
    canonicalized equal to NaN; DEGENERATE_AUDIT_r8.md Family B, oracle
    untouched).

    Scale: one (dim)-grouped moment aggregation (dim rows — broadcast
    back), then a map-side transform of every vector; this is the
    column-statistics + broadcast-normalize shape of every feature
    scaler."""
    emb = _emb_scorable(spark, sf_dir)
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("x6"),
    )
    stats = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x6").alias("s1"),
        F.sum(F.col("x6") * F.col("x6")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return (
        comp.filter((F.col("pos") < _WHITEN_DIMS) & (F.col("vec_id") < 50))
        .join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            F.col("pos").cast("long").alias("pos"),
            F.round(F.try_divide(F.col("x6") - mean, F.sqrt(var)) * 1e6)
            .cast("long")
            .alias("z6"),
        )
    )


@query(
    "ext_embedding_centroid_drift",
    oracle=f"""
    WITH dims AS (
      SELECT label, t.i AS dim,
             CAST(round(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x6
      FROM embeddings, unnest(range(1, {EMB_DIM + 1})) AS t(i)
      -- embedding IS NOT NULL: Family N3 lockstep gate — Spark's
      -- posexplode of a NULL array emits nothing, while bare range
      -- indexing here would emit 64 NULL components whose count(*)
      -- rows shift the centroid mean.
      -- len(embedding) = EMB_DIM: Family W lockstep gate
      -- (RAGGED_AUDIT_r13.md) — this side's fixed range(1, 65) emits 64
      -- rows per vector regardless of width (OOB index -> NULL x6, but
      -- count(*) still counts the row) while Spark's posexplode emits
      -- the ACTUAL width, shifting every centroid n; an off-width
      -- vector is a broken encode and is quarantined identically.
      WHERE label < 5 AND embedding IS NOT NULL
        AND len(embedding) = {EMB_DIM}
    ), cent AS (
      SELECT label, dim, CAST(SUM(x6) AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS n
      FROM dims GROUP BY label, dim
    ), pairs AS (
      SELECT a.label AS l1, b.label AS l2, a.dim,
             (1.0 * a.s6 / a.n - 1.0 * b.s6 / b.n) AS diff
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    )
    SELECT l1, l2,
           CAST(round(sqrt(SUM(diff * diff))) AS BIGINT) AS centroid_dist6
    FROM pairs GROUP BY l1, l2
    """,
)
def ext_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distance between per-label embedding CENTROIDS (labels
    0-4): the distribution-drift summary an embedding pipeline tracks
    across re-embeds and data refreshes — centroids drifting apart means
    the label structure sharpened; collapsing together means the encoder
    stopped separating them. Completes the embedding-QA family next to
    ext_embedding_whitening (per-dim scale) and ext_embedding_outliers
    (per-point tails).

    Per-dimension micro-int component sums via posexplode are
    shuffle-order-proof (the integer-moment contract); floats enter only
    in the final identical per-pair mean-difference expression on both
    engines. The divisions cannot raise: a (label, dim) centroid row
    exists only with n >= 1.

    Scale: one (label, dim)-grouped integer aggregate over the exploded
    components (the corpus pass), then label²-sized pair arithmetic —
    broadcast territory for any real label count."""
    emb = _emb_nonnull(spark, sf_dir).filter(
        (F.col("label") < 5) & (F.size("embedding") == EMB_DIM)
    )
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("x6"),
    )
    cent = dims.groupBy("label", "dim").agg(
        F.sum("x6").cast("long").alias("s6"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cent.select(
        F.col("label").alias("l1"), "dim",
        F.col("s6").alias("sa"), F.col("n").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("l2"), F.col("dim").alias("dimb"),
        F.col("s6").alias("sb"), F.col("n").alias("nb"),
    )
    pairs = a.join(
        b, (F.col("dim") == F.col("dimb")) & (F.col("l1") < F.col("l2"))
    ).select(
        "l1",
        "l2",
        (1.0 * F.col("sa") / F.col("na") - 1.0 * F.col("sb") / F.col("nb")).alias(
            "diff"
        ),
    )
    return pairs.groupBy("l1", "l2").agg(
        F.round(F.sqrt(F.sum(F.col("diff") * F.col("diff"))))
        .cast("long")
        .alias("centroid_dist6")
    )


RECALL_KS = (1, 3, 5)


def _recall_curve_oracle() -> str:
    from ..registry import REGISTRY

    exact = REGISTRY["ext_knn_cosine"].oracle
    ann = REGISTRY["ext_knn_lsh"].oracle
    ks = ", ".join(str(k) for k in RECALL_KS)
    return f"""
    WITH exact_k AS (
      SELECT query_id, neighbor_id, rk FROM ({exact})
    ), ann_k AS (
      SELECT query_id, neighbor_id, rk FROM ({ann})
    ), ks AS (
      SELECT unnest([{ks}]) AS k
    ), hits AS (
      SELECT ks.k,
             CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM ks
      JOIN exact_k e ON e.rk <= ks.k
      LEFT JOIN ann_k a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       AND a.rk <= ks.k
      GROUP BY ks.k
    )
    SELECT k, n_queries, n_hits,
           CAST((n_hits * 1000000) // (k * n_queries) AS BIGINT) AS recall6
    FROM hits
    """


@query("ext_ann_recall_curve", oracle=_recall_curve_oracle())
def ext_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k CURVE for the LSH index against exact brute force (k = 1,
    3, 5) — the operating-point view an ANN deployment actually tunes
    with: recall@1 tells you whether the single best neighbor survives
    bucketing, recall@5 whether the candidate set is broad enough; the
    single-k ext_ann_recall_eval is one point on this curve. Exact: hit
    counts are integers joined on (query, neighbor, rank-threshold);
    recall is an integer micro-ratio.

    Scale: both inputs are the already-bounded top-k relations (queries ×
    k rows); the k-threshold join multiplies by |ks|=3 — trivial. The
    expensive parts (exact scan, LSH bucketing) are the operators under
    evaluation, not the evaluator."""
    exact = ext_knn_cosine(spark, sf_dir).select("query_id", "neighbor_id", "rk")
    ann = ext_knn_lsh(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_nid"),
        F.col("rk").alias("a_rk"),
    )
    ks = spark.createDataFrame([(k,) for k in RECALL_KS], "k INT")
    hits = (
        exact.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
        .join(
            ann,
            (F.col("a_qid") == F.col("query_id"))
            & (F.col("a_nid") == F.col("neighbor_id"))
            & (F.col("a_rk") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return hits.select(
        "k",
        "n_queries",
        "n_hits",
        F.expr("n_hits * 1000000 div (k * n_queries)").alias("recall6"),
    )


_BUCKET_ORACLE = f"""
    WITH sigs AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(0, {N_PLANES}),
               p -> CASE WHEN list_reduce(
                      list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(range(0, 64),
                          j -> embedding[CAST(j + 1 AS INT)] *
                               (((p * 64 + j) * {_LSH_A} + {_LSH_B}) % {_LSH_M}
                                / {_LSH_M}.0 - 0.5))),
                      (acc, v) -> acc + v) > 0
                    THEN 1 << CAST({N_PLANES} - 1 - p AS INT) ELSE 0 END))
               AS BIGINT) AS sig
      FROM embeddings
    ), buckets AS (
      SELECT sig, CAST(count(*) AS BIGINT) AS sz FROM sigs GROUP BY sig
    ), shist AS (
      SELECT sz, CAST(count(*) AS BIGINT) AS cnt FROM buckets GROUP BY sz
    ), cum AS (
      SELECT sz,
             CAST(SUM(cnt) OVER (ORDER BY sz ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cm,
             CAST(SUM(cnt) OVER () AS BIGINT) AS nb
      FROM shist
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM buckets) AS n_buckets,
           (SELECT CAST(SUM(sz) AS BIGINT) FROM buckets) AS n_vectors,
           (SELECT CAST(max(sz) AS BIGINT) FROM buckets) AS max_bucket,
           (SELECT CAST((SUM(sz) * 1000)
                        // count(*) AS BIGINT) FROM buckets) AS mean_bucket3,
           (SELECT min(CASE WHEN cm >= (9 * nb + 9) // 10 THEN sz END)
            FROM cum) AS p90_bucket
"""


@query("ext_lsh_bucket_stats", oracle=_BUCKET_ORACLE)
def ext_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-balance audit: size distribution of the hyperplane-
    signature buckets (count, mean, p90, max) — the serving-latency
    predictor for the ANN index, because query cost is the CANDIDATE
    BUCKET size, not the corpus size; one mega-bucket (hyperplanes that
    failed to split a dense region) silently turns O(n/2^P) lookups into
    O(n). The same audit pattern as ext_join_skew_report, applied to the
    index instead of a join key. p90 is an exact order statistic over the
    bucket-size histogram.

    Scale: signatures are map-side arithmetic; the audit aggregates at
    bucket cardinality then size-histogram cardinality — tiny."""
    emb = fan_out(load(spark, sf_dir, "embeddings"))

    def plane(p: int):
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: (
                        ((F.lit(p * 64) + j) * _LSH_A + _LSH_B) % _LSH_M
                    ).cast("double")
                    / F.lit(float(_LSH_M))
                    - 0.5,
                ),
                lambda x, w: x * w,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )

    sig = sum(
        [
            F.when(plane(p) > 0, F.lit(1 << (N_PLANES - 1 - p))).otherwise(0)
            for p in range(N_PLANES)
        ],
        F.lit(0),
    ).cast("long")
    buckets = (
        emb.select(sig.alias("sig")).groupBy("sig").agg(F.count(F.lit(1)).alias("sz"))
    )
    shist = buckets.groupBy("sz").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("sz").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = shist.select(
        "sz",
        F.sum("cnt").over(wcum).cast("long").alias("cm"),
        F.sum("cnt").over(wall).cast("long").alias("nb"),
    )
    p90 = cum.agg(
        F.min(
            F.when(F.col("cm") >= F.expr("(9 * nb + 9) div 10"), F.col("sz"))
        ).alias("p90_bucket")
    )
    stats = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_vectors"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.expr("CAST(sum(sz) * 1000 div count(*) AS BIGINT)").alias("mean_bucket3"),
    )
    return stats.join(F.broadcast(p90))


# ---------------------------------------------------------------------------
# Bounded label propagation on the mutual-kNN graph (round-8 thaw)
# ---------------------------------------------------------------------------

# Vetted oracle fragment (round 7): the mutual-kNN edge list, both
# directions — shared by the bounded-rounds graph keys.
_MUTUAL_EDGES_SQL = f"""
    {_EMB_SCORABLE_CTE},
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
    ), ranked AS (
      SELECT u, v, sim,
             row_number() OVER (PARTITION BY u ORDER BY sim DESC, v) AS rk
      FROM pairs
    ), topk AS (
      SELECT u, v FROM ranked WHERE rk <= {_MKNN_K}
    ), mutual AS (
      SELECT a.u AS d1, a.v AS d2
      FROM topk a JOIN topk b ON a.u = b.v AND a.v = b.u
      WHERE a.u < a.v
    ), edges AS (
      SELECT d1 AS u, d2 AS v FROM mutual
      UNION ALL
      SELECT d2 AS u, d1 AS v FROM mutual
    )
"""

_LP_ROUNDS = 3

_LP_ROUND_SQL = """
    , l{n} AS (
      SELECT n.node, least(n.lbl, coalesce(min(m.lbl), n.lbl)) AS lbl
      FROM l{m} n
      LEFT JOIN edges e ON e.u = n.node
      LEFT JOIN l{m} m ON m.node = e.v
      GROUP BY n.node, n.lbl
    )
"""


def _mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of the mutual-kNN edge list (graph-key input)."""
    mutual = ext_mutual_knn_pairs(spark, sf_dir).select("d1", "d2")
    return mutual.select(
        F.col("d1").alias("u"), F.col("d2").alias("v")
    ).unionByName(mutual.select(F.col("d2").alias("u"), F.col("d1").alias("v")))


@query(
    "ext_label_propagation_bounded",
    oracle=(
        "WITH "
        + _MUTUAL_EDGES_SQL
        + """
    , l0 AS (
      SELECT DISTINCT u AS node, CAST(u AS BIGINT) AS lbl FROM edges
    )
    """
        + "".join(
            _LP_ROUND_SQL.format(n=n, m=n - 1)
            for n in range(1, _LP_ROUNDS + 1)
        )
        + f"""
    SELECT node, lbl AS label_r{_LP_ROUNDS} FROM l{_LP_ROUNDS}
    """
    ),
)
def ext_label_propagation_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED label propagation — 3 SYNCHRONOUS min-label rounds over
    the mutual-kNN graph: every node starts labeled with its own id and
    each round takes the min of (own label, neighbors' labels). After k
    rounds each node carries the smallest id within k hops — the
    deterministic prefix of connected-components clustering (duplicate
    clusters, topic islands). A FIXED round count keeps the key exact:
    the oracle is the same recurrence unrolled k times as CTEs, with no
    convergence dependence (a converge-until-stable loop would be
    nondeterministic work, not a verifiable relation).

    Scale: each round is one edge-list equi-join + one min aggregate —
    the large/small-star cost class of ``ext_dedup_survivorship``
    without the re-pointing (k is fixed). The edge list localCheckpoints
    once so the 3-round lineage stays shallow; degree is capped at k by
    the mutual-kNN input, so no skew salting is needed."""
    edges = _mutual_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").cast("long").alias("lbl"))
    )
    for _ in range(_LP_ROUNDS):
        nbr = (
            edges.join(
                labels.select(
                    F.col("node").alias("v"), F.col("lbl").alias("v_lbl")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("v_lbl").alias("nbr_min"))
        )
        labels = labels.join(nbr, labels.node == nbr.u, "left").select(
            "node",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nbr_min"), F.col("lbl"))
            ).alias("lbl"),
        )
    return labels.select("node", F.col("lbl").alias(f"label_r{_LP_ROUNDS}"))


# ---------------------------------------------------------------------------
# Graph community evaluation over the mutual-kNN graph (round-10 thaw,
# tranche 3; ROADMAP_r10 candidates)
# ---------------------------------------------------------------------------

_LABELED_EDGES_SQL = (
    _MUTUAL_EDGES_SQL
    + """
    , lab AS (
      SELECT vec_id, label FROM embeddings WHERE vec_id < 100
    ), el AS (
      SELECT e.u, e.v, lu.label AS cu, lv.label AS cv
      FROM edges e JOIN lab lu ON e.u = lu.vec_id
                   JOIN lab lv ON e.v = lv.vec_id
    )
"""
)


def _labeled_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN edge list with each endpoint's label attached — the
    shared input of the community-evaluation keys. Labels broadcast (the
    dim is #vectors × 2 ints); the edge list localCheckpoints once so the
    downstream community aggregates reuse one lineage."""
    edges = _mutual_edges(spark, sf_dir)
    lab = (
        _emb_scorable(spark, sf_dir)
        .filter(F.col("vec_id") < 100)
        .select("vec_id", "label")
    )
    return (
        edges.join(
            F.broadcast(
                lab.select(F.col("vec_id").alias("u"), F.col("label").alias("cu"))
            ),
            "u",
        )
        .join(
            F.broadcast(
                lab.select(F.col("vec_id").alias("v"), F.col("label").alias("cv"))
            ),
            "v",
        )
        .localCheckpoint(eager=False)
    )


@query(
    "ext_graph_modularity",
    oracle=(
        "WITH "
        + _LABELED_EDGES_SQL
        + """
    , m2 AS (
      SELECT CAST(count(*) AS BIGINT) AS m2 FROM el
    ), within AS (
      SELECT cu AS community, CAST(count(*) AS BIGINT) AS e_in
      FROM el WHERE cu = cv GROUP BY cu
    ), degs AS (
      SELECT cu AS community, CAST(count(*) AS BIGINT) AS deg_sum
      FROM el GROUP BY cu
    ), nn AS (
      SELECT l.label AS community, CAST(count(*) AS BIGINT) AS n_nodes
      FROM lab l WHERE l.vec_id IN (SELECT u FROM edges)
      GROUP BY l.label
    )
    SELECT d.community, nn.n_nodes,
           coalesce(w.e_in, 0) AS e_in_directed,
           d.deg_sum,
           CAST(round(1000000.0 * (coalesce(w.e_in, 0) * m2.m2
                                   - d.deg_sum * d.deg_sum)
                      / (m2.m2 * m2.m2)) AS BIGINT) AS contribution6
    FROM degs d
    LEFT JOIN within w ON d.community = w.community
    JOIN nn ON d.community = nn.community
    CROSS JOIN m2
    """
    ),
)
def ext_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community NEWMAN MODULARITY contribution on the mutual-kNN
    graph, with the embedding labels as the candidate partition:
    Q_c = e_c/m − (K_c/2m)², evaluated here on the directed edge list as
    contribution6 = round(1e6·(e_c·2m − K_c²)/(2m)²) — the number that
    says whether a labeling actually concentrates edges inside its
    communities (Q_c above the random-graph expectation) before anyone
    trusts those labels for stratification or dedup-cluster QA. Completes
    the graph-evaluation family next to ext_triangle_count (local
    density) and ext_label_propagation_bounded (component structure).

    All-integer moments (edge counts, degree sums) until one rounded
    division per community row — the house exactness pattern; the m2
    scalar broadcasts. The division cannot raise: a community row exists
    only if it has at least one incident edge, so m2 >= 1.

    Scale: the mutual-kNN base is the declared bounded brute-force kNN
    (swap: LSH/IVF candidate pairs at corpus scale — the edge list and
    every aggregate here are shape-unchanged); everything after the edge
    list is community-cardinality-sized."""
    el = _labeled_edges(spark, sf_dir)
    m2 = el.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    within = (
        el.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    degs = el.groupBy(F.col("cu").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("deg_sum")
    )
    nodes = (
        el.select(F.col("u").alias("vec_id"), F.col("cu").alias("community"))
        .distinct()
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    return (
        degs.join(F.broadcast(within), "community", "left")
        .join(F.broadcast(nodes), "community")
        .join(F.broadcast(m2))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in_directed"),
            "deg_sum",
            F.round(
                1000000.0
                * (F.coalesce("e_in", F.lit(0)) * F.col("m2")
                   - F.col("deg_sum") * F.col("deg_sum"))
                / (F.col("m2") * F.col("m2"))
            )
            .cast("long")
            .alias("contribution6"),
        )
    )


@query(
    "ext_conductance_communities",
    oracle=(
        "WITH "
        + _LABELED_EDGES_SQL
        + """
    , eln AS (
      -- Family N3 (NULL_AUDIT_r10.md): an unlabeled endpoint cannot be
      -- attributed to a community — gate NULL-label edges out of both
      -- cut and volume, identically on both engines (the Spark side
      -- filters the same predicate on the shared labeled edge list)
      SELECT * FROM el WHERE cu IS NOT NULL AND cv IS NOT NULL
    ), m2 AS (
      SELECT CAST(count(*) AS BIGINT) AS m2 FROM eln
    ), agg AS (
      SELECT cu AS community,
             CAST(SUM(CASE WHEN cu <> cv THEN 1 ELSE 0 END) AS BIGINT) AS cut,
             CAST(count(*) AS BIGINT) AS vol
      FROM eln GROUP BY cu
    )
    SELECT community, cut, vol,
           CAST(round(1000000.0 * cut / LEAST(vol, m2.m2 - vol))
                AS BIGINT) AS conductance6
    FROM agg CROSS JOIN m2
    WHERE LEAST(vol, m2.m2 - vol) > 0
    """
    ),
)
def ext_conductance_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community CONDUCTANCE on the mutual-kNN graph:
    phi(C) = cut(C) / min(vol(C), 2m - vol(C)) — the boundary-quality
    complement of ext_graph_modularity's density view (low conductance =
    few edges escape the community relative to its volume; the measure
    spectral partitioning optimizes). Exact integer cut/volume counts
    from one grouped aggregate over the labeled edge list, one rounded
    division per community; the min(vol, 2m-vol) > 0 guard drops the
    degenerate whole-graph community exactly as the oracle's WHERE does
    (0/0 never evaluates on either engine).

    Scale: same declared bounded-kNN edge base and candidate-generator
    swap as the other graph keys; one community-sized aggregate + a
    broadcast edge-count scalar.

    NULL labels (Family N3, lockstep): an unlabeled endpoint cannot be
    attributed to a community, so NULL-label edges are gated out of both
    cut and volume on BOTH engines — left in, Spark's boolean SUM skips
    the NULL comparisons (an all-NULL community sums to NULL) where the
    oracle's CASE counted 0, a phantom-community divergence."""
    el = _labeled_edges(spark, sf_dir).filter(
        F.col("cu").isNotNull() & F.col("cv").isNotNull()
    )
    m2 = el.agg(F.count(F.lit(1)).cast("long").alias("m2"))
    agg = el.groupBy(F.col("cu").alias("community")).agg(
        F.sum((F.col("cu") != F.col("cv")).cast("long")).alias("cut"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    )
    return (
        agg.join(F.broadcast(m2))
        .filter(F.least("vol", F.col("m2") - F.col("vol")) > 0)
        .select(
            "community",
            "cut",
            "vol",
            F.round(
                1000000.0 * F.col("cut")
                / F.least("vol", F.col("m2") - F.col("vol"))
            )
            .cast("long")
            .alias("conductance6"),
        )
    )


@query(
    "ext_hits_bounded",
    oracle=(
        "WITH "
        + _MUTUAL_EDGES_SQL
        + """
    , a1 AS (
      SELECT v AS node, CAST(count(*) AS BIGINT) AS a FROM topk GROUP BY v
    ), h1 AS (
      SELECT t.u AS node, CAST(SUM(coalesce(a1.a, 0)) AS BIGINT) AS h
      FROM topk t LEFT JOIN a1 ON t.v = a1.node GROUP BY t.u
    ), a2 AS (
      SELECT t.v AS node, CAST(SUM(coalesce(h1.h, 0)) AS BIGINT) AS a
      FROM topk t LEFT JOIN h1 ON t.u = h1.node GROUP BY t.v
    ), h2 AS (
      SELECT t.u AS node, CAST(SUM(coalesce(a2.a, 0)) AS BIGINT) AS h
      FROM topk t LEFT JOIN a2 ON t.v = a2.node GROUP BY t.u
    ), nodes AS (
      SELECT u AS node FROM topk UNION SELECT v FROM topk
    )
    SELECT n.node, coalesce(h2.h, 0) AS hub2, coalesce(a2.a, 0) AS auth2
    FROM nodes n
    LEFT JOIN h2 ON n.node = h2.node
    LEFT JOIN a2 ON n.node = a2.node
    ORDER BY hub2 DESC, n.node LIMIT 20
    """
    ),
)
def ext_hits_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores, TWO UNNORMALIZED ROUNDS over the
    DIRECTED top-{_MKNN_K} kNN edge list (the same bounded brute-force base as
    the mutual-kNN family, kept directed: "u ranks v in its top-k" is an
    asymmetric endorsement, which is exactly what HITS consumes) —
    hub(u) = Σ auth(v) over u's out-edges, auth(v) = Σ hub(u) over v's
    in-edges, seeded at auth₀ = in-degree. A FIXED round count keeps the
    key exact: integer scores stay int64 (no normalization float), and
    the oracle unrolls the same two rounds as CTEs — the
    ext_label_propagation_bounded verification pattern. Top-20 by hub
    with node tie-break. Vetted off-registry since round 9; registered
    round 11 with the Family-N3 NULL-embedding gate both sides.

    Scale: each round is one edge-list equi-join against a
    node-score aggregate (broadcast here — node scores are
    node-cardinality-sized; at corpus scale the same join shuffles on
    the node id) + one groupBy; the edge list localCheckpoints once so
    the two-round lineage stays shallow. The kNN base is the declared
    candidate-generator swap point shared with every graph key."""
    emb = fan_out(_emb_scorable(spark, sf_dir)).filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    sim = a.join(b, F.col("u") != F.col("v")).select(
        "u", "v", cosine(F.col("ea"), F.col("eb")).alias("sim")
    )
    w = Window.partitionBy("u").orderBy(F.col("sim").desc(), "v")
    topk = (
        sim.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MKNN_K)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    a1 = topk.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        topk.join(F.broadcast(a1.select(F.col("node").alias("v"), "a")), "v", "left")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum(F.coalesce("a", F.lit(0))).cast("long").alias("h"))
    )
    a2 = (
        topk.join(F.broadcast(h1.select(F.col("node").alias("u"), "h")), "u", "left")
        .groupBy(F.col("v").alias("node"))
        .agg(F.sum(F.coalesce("h", F.lit(0))).cast("long").alias("a"))
    )
    h2 = (
        topk.join(F.broadcast(a2.select(F.col("node").alias("v"), "a")), "v", "left")
        .groupBy(F.col("u").alias("node"))
        .agg(F.sum(F.coalesce("a", F.lit(0))).cast("long").alias("h"))
    )
    nodes = (
        topk.select(F.col("u").alias("node"))
        .unionByName(topk.select(F.col("v").alias("node")))
        .distinct()
    )
    return (
        nodes.join(F.broadcast(h2), "node", "left")
        .join(F.broadcast(a2), "node", "left")
        .select(
            "node",
            F.coalesce("h", F.lit(0)).alias("hub2"),
            F.coalesce("a", F.lit(0)).alias("auth2"),
        )
        .orderBy(F.col("hub2").desc(), "node")
        .limit(20)
    )


@query(
    "ext_degree_assortativity",
    oracle=(
        "WITH "
        + _MUTUAL_EDGES_SQL
        + """
    , deg AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), de AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM de
    )
    SELECT n AS n_edges,
           round((n * sxy - sx * sy) /
                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS assortativity6
    FROM s
    -- degenerate gate (r8 audit): zero degree variance -> zero rows
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """
    ),
)
def ext_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the mutual-kNN graph: Pearson correlation
    of (deg(u), deg(v)) over the directed edge list — positive means
    hubs link to hubs (a core-periphery embedding space, hubness
    pathology for ANN), negative means hubs link to leaves. The one-
    number structural complement to ext_triangle_count (local density)
    and the community keys (partition quality).

    Integer moment sums over exact degrees with one rounded division;
    GATED to zero rows when either degree variance is 0 (a regular
    graph, e.g. byte-identical embeddings): ANSI Spark would raise on
    the 0/0 and DuckDB renders NaN — both engines emit ZERO rows, the
    pre-registration gate shape validated in the r8 degenerate audit
    (oracle carries the same WHERE).

    Scale: degrees come from one groupBy over the shared mutual-kNN
    edge list (declared bounded-kNN base, LSH/IVF candidate swap at
    corpus scale); the moment row is a broadcast scalar."""
    edges = _mutual_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    de = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("x"))),
            "u",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("y"))),
            "v",
        )
        .select("x", "y")
    )
    s = de.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return s.filter(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
        & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
    ).select(
        F.col("n").alias("n_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("assortativity6"),
    )


_PEEL_ROUND_SQL = """
    , deg{n} AS (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e{m} GROUP BY u
    ), alive{n} AS (
      SELECT node FROM deg{n} WHERE deg >= 2
    ), e{n} AS (
      SELECT e.u, e.v FROM e{m} e
      JOIN alive{n} a ON e.u = a.node
      JOIN alive{n} b ON e.v = b.node
    )
"""


@query(
    "ext_graph_degeneracy_core",
    oracle=(
        "WITH "
        + _MUTUAL_EDGES_SQL
        + ", e0 AS (SELECT u, v FROM edges)"
        + "".join(_PEEL_ROUND_SQL.format(n=n, m=n - 1) for n in (1, 2, 3))
        + """
    SELECT u AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e3 GROUP BY u
    """
    ),
)
def ext_graph_degeneracy_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE PEELING (k=2, three unrolled rounds) over the mutual-kNN
    graph: each round drops nodes of degree < 2 and the edges touching
    them; what survives round 3 is the (approximate) 2-core — the dense
    backbone community detection and coreset pickers start from, with
    hub/leaf noise peeled away. A FIXED round count keeps the key exact
    (the label-propagation unroll pattern); the oracle replays the same
    three peels as CTEs. Registered with the round-12 scorable-embedding
    gate already in the shared edge base (the r8-vetted proto predated
    the X1 zero-norm fix — its mutual-kNN base inherits _EMB_SCORABLE_CTE
    / _emb_scorable through ext_mutual_knn_pairs, which is why this
    registration waited for the gate).

    Scale: each peel round is one groupBy + two BROADCAST semi-joins over
    the edge list (bounded: |nodes| × k edges from the kNN construction —
    the alive set only shrinks), never touching vectors; lineage is
    truncated once up front (localCheckpoint) so the unrolled plan does
    not recompute the kNN stage per round."""
    e = _mutual_edges(spark, sf_dir).localCheckpoint(eager=False)
    for _ in range(3):
        alive = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 2)
            .select("u")
        )
        e = (
            e.join(F.broadcast(alive), "u")
            .join(F.broadcast(alive.select(F.col("u").alias("v"))), "v")
            .select("u", "v")
        )
    return e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    )


@query(
    "ext_mips_cosine_reduction",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE}, norms AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ), m AS (
      SELECT max(nrm) AS mx FROM norms
    ), ip AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS raw_ip,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (a.nrm * m.mx) AS aug_cos
      FROM norms a JOIN norms b ON a.vec_id <> b.vec_id CROSS JOIN m
      WHERE a.vec_id < 16
    ), r1 AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY raw_ip DESC, neighbor_id) AS rk
      FROM ip
    ), r2 AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY aug_cos DESC, neighbor_id) AS rk
      FROM ip
    )
    SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_agree
    FROM (SELECT * FROM r1 WHERE rk <= 5) a
    JOIN (SELECT * FROM r2 WHERE rk <= 5) b
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY a.query_id
    """,
)
def ext_mips_cosine_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MIPS→cosine REDUCTION invariant, verified per query: ranking
    by raw inner product equals ranking by the norm-augmented cosine
    (score / (‖q‖·M) with M the global max norm — the monotone transform
    behind Shrivastava & Li's asymmetric-LSH trick that lets every
    cosine index in this module, LSH/IVF/PQ, serve maximum-inner-product
    workloads like recommendation scoring). n_agree must be 5/5 for
    every query; a drop below 5 would mean the augmentation (or an index
    built on it) is wrong — this is the theory check the ANN family's
    MIPS mode rests on.

    Both rankings order the SAME double expression per pair (raw_ip,
    then one shared division by (‖q‖·M)), so ties and near-ties break
    identically on both engines (the knn precedent). No degenerate gate
    needed: norms are positive on the fixture family and M >= ‖q‖ > 0.

    Scale: the 16-query × corpus score pass is the declared bounded
    brute-force base (swap: the LSH/IVF candidate generator); the
    per-query top-5 windows are partitioned by query_id."""
    emb = _emb_scorable(spark, sf_dir)
    norms = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    mx = norms.agg(F.max("nrm").alias("mx"))
    a = norms.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    b = norms.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne")
    )
    ip = (
        a.join(b, F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(mx))
        .select(
            "query_id",
            "neighbor_id",
            _dot(F.col("qe"), F.col("ne")).alias("raw_ip"),
            (_dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("mx"))).alias(
                "aug_cos"
            ),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("raw_ip").desc(), "neighbor_id"
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("aug_cos").desc(), "neighbor_id"
    )
    r1 = ip.withColumn("rk", F.row_number().over(w1)).filter(F.col("rk") <= 5)
    r2 = ip.withColumn("rk", F.row_number().over(w2)).filter(F.col("rk") <= 5)
    return (
        r1.select("query_id", "neighbor_id")
        .join(r2.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_agree"))
    )


@query(
    "ext_random_projection_jl",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             list_transform(range(1, {EMB_DIM + 1}),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    - CAST(b.embedding[i] AS DOUBLE)) AS diff
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      -- len = EMB_DIM on BOTH vectors (Family W, RAGGED_AUDIT_r13.md):
      -- this side's fixed range indexes OOB positions to NULL and
      -- list_sum SKIPS them (a partial distance), while Spark's
      -- zip_with pads to NULL and the whole fold goes NULL (pair
      -- dropped) — an off-width vector is quarantined identically
      -- instead.
      WHERE a.vec_id < 50
        AND len(a.embedding) = {EMB_DIM} AND len(b.embedding) = {EMB_DIM}
    ), proj AS (
      SELECT u, v,
             list_sum(list_transform(range(1, {EMB_DIM + 1}),
                                     i -> diff[i] * diff[i]))
               AS orig_d2,
             list_transform(range(1, 17), j ->
               list_sum(list_transform(range(1, {EMB_DIM + 1}), i ->
                 CASE WHEN ((1103515245 * ((i - 1) * 16 + j) + 12345)
                            // 65536) % 2 = 0
                      THEN diff[i] ELSE -diff[i] END))) AS pvec
      FROM pairs
    ), pd AS (
      SELECT u, v, orig_d2,
             list_sum(list_transform(pvec, p -> p * p)) AS proj_d2
      FROM proj
    )
    SELECT u, v,
           CAST(round(1000000 * proj_d2 / (16 * orig_d2)) AS BIGINT) AS ratio6,
           (proj_d2 / (16 * orig_d2) BETWEEN 0.2 AND 3.0) AS within_jl
    FROM pd
    WHERE orig_d2 > 0  -- degenerate gate (r8 audit): identical pair
    """,
)
def ext_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss RANDOM PROJECTION check: project each
    adjacent-pair difference 64→16 dims through a deterministic ±1 sign
    matrix (bit 16 of the LCG state on the flattened (i, j) index — both
    engines evaluate the identical literal recurrence; the division by
    2^16 is exact in doubles, so truncation matches integer `//`) and
    report the distance-preservation ratio ‖Pd‖²/(16·‖d‖²) — the
    measured counterpart of the JL lemma every projection-based sketch
    in this module (SimHash, embedding quantization) silently relies on.
    within_jl flags the (0.2, 3.0) sanity band.

    The r10 ADVICE found the original low-bit parity DEGENERATE: with
    odd multiplier and increment, (a·k+c) % 2 collapses to a function of
    j alone (k = (i-1)·16 + j keeps (i-1)·16 even), making all 16
    components equal ±Σdiff — a rank-1 projection whose "ratio" was a
    1-dof quantity. Bit 16 of the state varies with BOTH i and j;
    re-measured on the fixtures after the fix, ratios center on 1
    (median ≈ 0.8, mean ≈ 1) with the spread a FIXED 16-row ±1 matrix
    genuinely has (rows are only near-orthogonal), so isolated pairs
    legitimately flag outside the band — within_jl is a per-pair
    report, not an all-rows assertion, and both engines evaluate the
    identical expression either way.

    The projection FOLDS over the fixed array order on both engines
    (never explode+SUM — shuffle order would break float determinism:
    the ROADMAP_r9 design rule). GATED to exclude zero-distance pairs
    (identical adjacent embeddings: the ratio is 0/0 — ANSI raise vs
    NaN, r8 audit) on both sides.

    Scale: one adjacent-pair self-join on vec_id (equi-join, no
    candidate explosion) and a per-row map-side fold — embarrassingly
    parallel; the 50-pair slice only bounds the verified output.

    Width gate (Family W, RAGGED_AUDIT_r13.md): both pair members must
    be exactly EMB_DIM wide — an EXPLICIT size filter, not reliance on
    zip_with NULL-padding (which would silently keep a same-width
    ragged pair the oracle's len = EMB_DIM gate drops)."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == EMB_DIM
    )
    a = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("u"), F.col("embedding").alias("ea")
    )
    b = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("v") == F.col("u") + 1).select(
        "u",
        "v",
        F.zip_with(
            "ea", "eb", lambda p, q: p.cast("double") - q.cast("double")
        ).alias("diff"),
    )
    orig = F.aggregate(
        F.transform(F.col("diff"), lambda d: d * d),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pvec = F.transform(
        F.sequence(F.lit(1), F.lit(16)),
        lambda j: F.aggregate(
            F.zip_with(
                F.col("diff"),
                F.sequence(F.lit(1), F.lit(64)),
                lambda d, i: F.when(
                    (
                        (
                            F.lit(1103515245)
                            * ((i.cast("long") - 1) * 16 + j.cast("long"))
                            + 12345
                        )
                        / 65536
                    ).cast("long")
                    % 2
                    == 0,
                    d,
                ).otherwise(-d),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    proj = pairs.select(
        "u",
        "v",
        orig.alias("orig_d2"),
        F.aggregate(
            F.transform(pvec, lambda p: p * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("proj_d2"),
    )
    return proj.filter(F.col("orig_d2") > 0).select(
        "u",
        "v",
        F.round(1000000 * F.col("proj_d2") / (16 * F.col("orig_d2")))
        .cast("long")
        .alias("ratio6"),
        (F.col("proj_d2") / (16 * F.col("orig_d2"))).between(0.2, 3.0).alias(
            "within_jl"
        ),
    )


# ---------------------------------------------------------------------------
# IVF recall-vs-nprobe operating curve (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------

_NPROBE_LEVELS = (1, 2, 4)


@query(
    "ext_ann_ivf_nprobe_curve",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE},
    cent AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb
      FROM embeddings WHERE vec_id < 8
    ), q2c AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c_emb::DOUBLE[]) /
                        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(c.c_emb::DOUBLE[], c.c_emb::DOUBLE[]))) DESC,
                        c.centroid_id ASC) AS rn
      FROM embeddings e CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id, centroid_id FROM q2c WHERE rn = 1
    ), exact AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) DESC,
                        b.vec_id ASC) AS rk
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 32
    ), truth AS (
      SELECT query_id, neighbor_id FROM exact WHERE rk <= 5
    ), nprobes AS (
      SELECT unnest([{", ".join(str(n) for n in _NPROBE_LEVELS)}]) AS nprobe
    ), probe AS (
      SELECT np.nprobe, q.vec_id AS query_id, q.centroid_id
      FROM nprobes np JOIN q2c q ON q.rn <= np.nprobe
      WHERE q.vec_id < 32
    ), cand AS (
      SELECT DISTINCT p.nprobe, p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ), hits AS (
      SELECT t.query_id, n.nprobe,
             CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM truth t CROSS JOIN nprobes n
      LEFT JOIN cand c ON c.nprobe = n.nprobe AND c.query_id = t.query_id
                      AND c.neighbor_id = t.neighbor_id
      GROUP BY t.query_id, n.nprobe
    )
    SELECT nprobe, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST((SUM(n_hits) * 1000000) // (count(*) * 5) AS BIGINT) AS recall6
    FROM hits GROUP BY nprobe ORDER BY nprobe
    """,
)
def ext_ann_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF OPERATING CURVE: recall@5 at nprobe ∈ {1, 2, 4} in ONE plan —
    the tuning table an ANN deployment publishes before picking its
    latency/recall point (the IVF sibling of ``ext_ann_recall_curve``).
    Every vector's per-centroid ranking (``q2c``) is computed once and
    reused three ways: rn=1 is the inverted-list assignment, rn<=nprobe
    is the probe set per curve point, and the exact brute-force top-5
    over the 32 query vectors is the ground truth. Recall is exact
    integer micro-units (hits·1e6 div (queries·k)); the fixture curve
    rises monotonically 0.41 → 0.58 → 0.79 (sanity-checked r7).

    Scale: candidates come from equi-joins on centroid_id (probe ⋈
    assignment) — list-sized, never all-pairs; the 8-row centroid dim
    and the 3-row nprobe dim are broadcast (both BroadcastNestedLoopJoins
    in the plan are those constant-size attaches, the documented
    ``ext_bpe_apply_merge`` shape). Ground truth stays affordable by
    bounding queries to 32 vectors; at production scale the truth table
    comes from an offline exact pass, and the curve plan is unchanged."""
    emb = fan_out(_emb_scorable(spark, sf_dir))
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def cosine(x, y):
        return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))

    q2c = (
        emb.join(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            cosine(F.col("embedding"), F.col("c_emb")).alias("sim"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("sim").desc(), F.col("centroid_id")
                )
            ),
        )
    )
    assign = q2c.filter(F.col("rn") == 1).select("vec_id", "centroid_id")
    qs = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        qs.join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id")
                )
            ),
        )
    )
    truth = exact.filter(F.col("rk") <= 5).select("query_id", "neighbor_id")
    nprobes = spark.createDataFrame(
        [(n,) for n in _NPROBE_LEVELS], "nprobe INT"
    )
    probe = (
        q2c.filter(F.col("vec_id") < 32)
        .join(F.broadcast(nprobes), F.col("rn") <= F.col("nprobe"))
        .select("nprobe", F.col("vec_id").alias("query_id"), "centroid_id")
    )
    cand = (
        probe.join(
            assign.select(
                F.col("centroid_id"), F.col("vec_id").alias("neighbor_id")
            ),
            "centroid_id",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("nprobe", "query_id", "neighbor_id")
        .distinct()
    )
    hits = (
        truth.crossJoin(F.broadcast(nprobes))
        .join(
            cand.withColumn("hit", F.lit(1)),
            ["nprobe", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id", "nprobe")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
    )
    return hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.expr(
            "CAST((sum(n_hits) * 1000000) div (count(1) * 5) AS BIGINT)"
        ).alias("recall6"),
    )


# ---------------------------------------------------------------------------
# DBSCAN core-point detection (clustering QA)
# ---------------------------------------------------------------------------


@query(
    "ext_dbscan_core_points",
    oracle=f"""
    WITH {_EMB_SCORABLE_CTE}, sims AS (
      SELECT a.vec_id AS u,
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
               AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
    )
    SELECT u AS vec_id,
           CAST(count(CASE WHEN sim >= 0.25 THEN 1 END) AS BIGINT) AS n_neighbors,
           count(CASE WHEN sim >= 0.25 THEN 1 END) >= 3 AS is_core
    FROM sims GROUP BY u
    """,
)
def ext_dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's core-point predicate over the embedding cloud: a vector is
    a core point when >= minPts(3) neighbors sit within the eps ball
    (cosine >= 0.25). Core/border/noise triage is the density QA a
    clustering or semdedup run publishes before anyone trusts its
    clusters — noise-heavy sources get flagged, not clustered.

    Boundary-ULP assumption (r10 ADVICE note): the eps threshold
    compares RAW double cosines, so a pair sitting exactly on 0.25 with
    a 1-ULP cross-engine difference would flip n_neighbors outright —
    unlike the knn keys, where a ULP only perturbs id-broken near-ties.
    Accepted deliberately: the fold pattern is proven bit-identical for
    the knn oracles on these fixtures (both engines evaluate the same
    fixed-order dot-product fold), and no fixture value lands on the
    boundary; a corpus where that cannot be assumed should compare on a
    micro-unit-rounded similarity (round(1e6·sim)) on both sides, like
    the other thresholded keys.

    Scale: the pairwise base here is the bounded 100-vector brute-force
    slice — the same declared small-sf baseline as ext_knn_cosine, exact
    so the oracle can reproduce every similarity bit. The 100 TB path
    swaps ONLY the candidate generator: LSH-banded (ext_knn_lsh_multiprobe)
    or IVF-cell (ext_knn_ivf) equi-join pairs feed the identical
    neighbor-count aggregate, an eps-ball count being exactly the
    candidate-pair shape those operators already produce. The aggregate
    itself is a map-side-combinable groupBy on vec_id."""
    emb = fan_out(_emb_scorable(spark, sf_dir)).filter(F.col("vec_id") < 100)
    a = emb.select(F.col("vec_id").alias("u"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("v"), F.col("embedding").alias("eb"))
    sims = a.join(b, F.col("u") != F.col("v")).select(
        "u", cosine(F.col("ea"), F.col("eb")).alias("sim")
    )
    return sims.groupBy(F.col("u").alias("vec_id")).agg(
        F.sum((F.col("sim") >= 0.25).cast("long")).alias("n_neighbors"),
        (F.sum((F.col("sim") >= 0.25).cast("long")) >= 3).alias("is_core"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation-recall + binary-Hamming cascade (round-12 close
# registrations; tranche-5 protos validated across sf0.001/0.01/0.1 and
# all five audit fixture modes)
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)
_MRL_FULL_DIM = EMB_DIM  # the corpus's declared full embedding width


def _mrl_rank_ctes(tag: str, dim: int) -> str:
    """One truncation's gated/query/similarity/top-k oracle CTE chain,
    interpolated from the same constants the plan uses (N_QUERIES, TOP_K —
    r12 ADVICE: the registered oracle inlined literal 10/5/gate copies, so
    a constant edit would silently desynchronize engine and oracle)."""
    return f"""
    t{tag} AS (
      SELECT vec_id, embedding[1:{dim}]::DOUBLE[] AS v
      FROM embeddings
      WHERE list_dot_product(embedding[1:{dim}]::DOUBLE[],
                             embedding[1:{dim}]::DOUBLE[]) > 0
    ), q{tag} AS (
      SELECT vec_id AS query_id, v AS qv FROM t{tag} WHERE vec_id < {N_QUERIES}
    ), s{tag} AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.qv, e.v) /
             (sqrt(list_dot_product(q.qv, q.qv)) *
              sqrt(list_dot_product(e.v, e.v))) AS sim
      FROM q{tag} q JOIN t{tag} e ON e.vec_id <> q.query_id
    ), k{tag} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
        FROM s{tag}
      ) WHERE rk <= {TOP_K}
    )"""


def _mrl_recall_select(d: int) -> str:
    return f"""
    SELECT CAST({d} AS BIGINT) AS trunc_dim,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // count(*) AS BIGINT) AS recall6
    FROM kfull f LEFT JOIN kd{d} t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id"""


_MRL_ORACLE = (
    f"WITH {_EMB_SCORABLE_CTE},"
    + _mrl_rank_ctes("full", _MRL_FULL_DIM)
    + "".join("\n," + _mrl_rank_ctes(f"d{d}", d) for d in MRL_DIMS)
    + "\n SELECT * FROM (\n"
    + "\n UNION ALL \n".join(_mrl_recall_select(d) for d in MRL_DIMS)
    + "\n)"
)


@query(
    "ext_mrl_truncation_curve",
    oracle=_MRL_ORACLE,
)
def ext_mrl_truncation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation-recall curve: recall@k of TRUNCATED-dimension
    cosine retrieval (first d of 64 dims, d in {8, 16, 32}) against the
    full-dimension exact top-k over the standard query set — the serving
    decision modern MRL-trained embedders expose ("can I serve 16-dim
    vectors and keep 95% of retrieval?"). Exact: both rankings use the
    deterministic (sim desc, neighbor asc) tie-break, and recall is an
    integer micro-ratio per dim.

    Prefix-norm gate: a vector scorable at 64 dims can still be ZERO in
    its first d dims — each dim's ranking drops prefix-norm-0 vectors
    identically on both sides (dot(v,v) > 0), the _emb_scorable pattern
    applied per truncation.

    Scale: per dim this is the brute-force exactness baseline (broadcast
    queries × corpus, one pass per dim over the corpus); at
    production scale each dim's ranking swaps for the LSH/IVF path and
    the recall join shape is unchanged — the point of the key is the
    EVALUATION, whose cost is (queries × k × dims) rows."""
    emb = _emb_scorable(spark, sf_dir)

    def topk(dim):
        e = emb.select(
            "vec_id",
            (F.slice("embedding", 1, dim) if dim else F.col("embedding"))
            .alias("v"),
        ).filter(_dot(F.col("v"), F.col("v")) > 0)
        q = e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        sims = e.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("qv"), F.col("v"))
                / (
                    F.sqrt(_dot(F.col("qv"), F.col("qv")))
                    * F.sqrt(_dot(F.col("v"), F.col("v")))
                )
            ).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            sims.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full = topk(None)
    out = None
    for d in MRL_DIMS:
        t = topk(d).withColumnRenamed("neighbor_id", "t_nid")
        hits = (
            full.join(
                t,
                (full["query_id"] == t["query_id"])
                & (full["neighbor_id"] == t["t_nid"]),
                "left",
            )
            .drop(t["query_id"])
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                F.sum(F.when(F.col("t_nid").isNotNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_hits"),
            )
            .select(
                F.lit(d).cast("long").alias("trunc_dim"),
                "n_exact",
                "n_hits",
                F.expr("CAST(n_hits * 1000000 div n_exact AS BIGINT)").alias(
                    "recall6"
                ),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


_HAM_C = 20  # Hamming candidate pool per query
# Sign bits packed into two 32-bit words; needs the full declared width.
# Derived from EMB_DIM (r13 ADVICE: an independent literal could drift),
# but the two-word packing below (range(0,32) / range(32,64) in the
# oracle, two element_at folds in the plan) is written for exactly 64
# bits — so pin that assumption loudly rather than half-parameterize.
_HAM_BITS = EMB_DIM
# Explicit raise, not `assert`: the pin must survive `python -O`
# (r14 ADVICE — a stripped assert silently un-pins the 64-bit packing).
if _HAM_BITS != 64:
    raise AssertionError("hamming pack/oracle are written for 64-bit words")

# Interpolated from the same constants as the plan (N_QUERIES, _HAM_C,
# TOP_K, the scorable gate — r12 ADVICE); the len() >= _HAM_BITS condition
# is the second r12 ADVICE item: pack() reads positions 1..64, so under
# ANSI a ragged scorable embedding (1 <= len < 64) would raise
# INVALID_ARRAY_INDEX on Spark while DuckDB's OOB index yields NULL bits —
# the width gate excludes ragged vectors identically on both engines.
_HAM_ORACLE = f"""
    WITH {_EMB_SCORABLE_CTE}, coded AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) > 0
                         THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT)
               AS b0,
             CAST(list_sum(list_transform(range(32, 64),
               i -> CASE WHEN CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) > 0
                         THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END))
               AS BIGINT) AS b1
      FROM embeddings
      WHERE len(embedding) >= {_HAM_BITS}
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, b0 AS q0, b1 AS q1
      FROM coded WHERE vec_id < {N_QUERIES}
    ), ham AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, q.q_emb, e.embedding,
             bit_count(xor(e.b0, q.q0)) + bit_count(xor(e.b1, q.q1))
               AS hamming
      FROM q JOIN coded e ON e.vec_id <> q.query_id
    ), cand AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS crk
        FROM ham
      ) WHERE crk <= {_HAM_C}
    ), rer AS (
      SELECT query_id, neighbor_id, hamming,
             list_dot_product(q_emb::DOUBLE[], embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q_emb::DOUBLE[], q_emb::DOUBLE[])) *
              sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
               AS sim
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
           round(sim, 6) AS cosine6, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      FROM rer
    )
    WHERE rk <= {TOP_K}
"""


@query(
    "ext_knn_binary_hamming",
    oracle=_HAM_ORACLE,
)
def ext_knn_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZATION retrieval cascade: 1-bit sign quantization
    (x > 0) packed into two 32-bit words per vector (64x compression),
    Hamming-distance candidate generation (top-C by popcount of XOR,
    tie: neighbor asc), exact-cosine rerank to top-k — the BQ/RaBitQ
    serving shape, with an EXACT oracle because sign bits and popcounts
    are integer arithmetic both engines reproduce bit-identically.

    Scale: the candidate stage carries two BIGINTs per vector instead of
    64 floats — the XOR+popcount scan is memory-bandwidth-bound at ~1/32
    the bytes of a float scan, and only |queries| x C vectors ever reach
    the exact rerank. At production scale the packed words live in their
    own compact column/index table.

    Width gate (r12 ADVICE): pack() reads element_at(embedding, 1..64),
    which raises INVALID_ARRAY_INDEX under ANSI on a ragged scorable
    embedding while the oracle's OOB index yields NULL bits — both sides
    exclude len < 64 vectors via the same size condition."""
    emb = _emb_scorable(spark, sf_dir).filter(
        F.size("embedding") >= _HAM_BITS
    )

    def pack(lo: int) -> Column:
        # 32 precomputed bit literals summed: constant-folded, codegen'd
        terms = [
            F.when(
                F.element_at(F.col("embedding"), lo + j + 1).cast("double")
                > 0,
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for j in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    coded = emb.select(
        "vec_id", "embedding", pack(0).alias("b0"), pack(32).alias("b1")
    )
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("b0").alias("q0"),
        F.col("b1").alias("q1"),
    )
    ham = coded.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "q_emb",
        "embedding",
        (
            F.bit_count(F.col("b0").bitwiseXOR(F.col("q0")))
            + F.bit_count(F.col("b1").bitwiseXOR(F.col("q1")))
        ).alias("hamming"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    cand = ham.withColumn("crk", F.row_number().over(wc)).filter(
        F.col("crk") <= _HAM_C
    )
    rer = cand.select(
        "query_id",
        "neighbor_id",
        "hamming",
        cosine(F.col("q_emb"), F.col("embedding")).alias("sim"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("long").alias("hamming"),
            F.round("sim", 6).alias("cosine6"),
            F.col("rk").cast("long").alias("rk"),
        )
    )
