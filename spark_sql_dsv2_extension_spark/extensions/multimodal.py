"""Multimodal column operators (SURVEY §2C; north-star LLM-pipeline surface).

Multimodal data in a Spark pipeline = opaque ``binary`` payload columns +
typed metadata structs, processed by Arrow-batched Python (``mapInPandas``)
because media codecs live in Python libraries, not in Catalyst. This module
makes all the Spark-side plumbing real — schema, batch iteration,
partitioning, struct propagation — and stubs ONLY the codec call, exactly
as the task prescribes (image/audio libs are not in this container):

- ``ext_multimodal_struct`` — a struct{text, meta{lang, source, n_chars},
  embedding} column assembled from documents ⋈ embeddings and carried
  through filter/aggregate (exact oracle: the struct is projected back to
  scalar columns for comparison).
- ``ext_multimodal_decode`` — binary payloads "decoded" by a deterministic
  stub feature-extractor over ``mapInPandas``. The stub stands in for e.g.
  PIL/librosa; swap ``_decode_stub`` for a real codec and NOTHING else
  changes. Exact oracle: the stub's features are arithmetic on bytes that
  DuckDB can reproduce.

Scale notes: payloads stay columnar Arrow end-to-end; ``mapInPandas``
streams batches (never materializes a partition); decode parallelism =
partition count, so a 100 TB media table is repartitioned to
(cluster cores × small factor) before decode; metadata-only queries never
touch the payload column thanks to parquet column pruning.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, scratch_dir


@query(
    "ext_multimodal_struct",
    oracle="""
    SELECT d.doc_id,
           d.text AS doc_text,
           d.lang AS meta_lang,
           d.source AS meta_source,
           CAST(d.n_chars AS BIGINT) AS meta_n_chars,
           CAST(len(e.embedding) AS INT) AS emb_dim
    FROM documents d JOIN read_parquet AS e ON d.doc_id = e.vec_id
    """.replace("read_parquet", "embeddings"),
)
def ext_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record = struct{text, meta{...}, embedding} assembled,
    carried through a filterless pipeline, then projected back to scalars
    (nested access ``rec.meta.lang``) — proving struct columns survive
    joins/shuffles losslessly. The oracle sees the flat projection."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    rec = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            "doc_id",
            F.struct(
                F.col("text"),
                F.struct(
                    F.col("lang"), F.col("source"), F.col("n_chars")
                ).alias("meta"),
                F.col("embedding"),
            ).alias("rec"),
        )
    )
    return rec.select(
        "doc_id",
        F.col("rec.text").alias("doc_text"),
        F.col("rec.meta.lang").alias("meta_lang"),
        F.col("rec.meta.source").alias("meta_source"),
        F.col("rec.meta.n_chars").alias("meta_n_chars"),
        F.size("rec.embedding").cast("int").alias("emb_dim"),
    )


def _decode_stub(payload: bytes) -> dict:
    """Deterministic stand-in for a media codec (PIL.Image.open /
    librosa.load — not available in this container).

    A real deployment replaces this function body with the codec call and
    keeps the signature; the Spark plumbing (Arrow batches, schema,
    partitioning) is identical. Raises on empty payloads the way a codec
    raises on corrupt media.
    """
    if not payload:
        raise NotImplementedError("real codec required for empty/corrupt payloads")
    return {
        "n_bytes": len(payload),
        "checksum": sum(payload) % 65536,
        "fake_width": payload[0] % 64 + 1,
        "fake_height": payload[-1] % 64 + 1,
    }


# decode oracle: the stub's features are OCTET arithmetic — the payload is
# UTF-8 BYTES, and the oracle must model the bytes a codec actually sees
# (EXTREME_AUDIT_r11.md Family X4: the old char-indexed derivation assumed
# an ASCII corpus where len == octet_length; é is 1 char but 2 octets, so
# every multibyte document diverged). DuckDB cannot explode BLOB bytes, so
# the byte features derive from codepoints via the UTF-8 encoding rules:
# a codepoint u encodes to 1/2/3/4 bytes whose values are pure integer
# arithmetic both engines reproduce exactly —
#   leading byte: u | 192+u//64 | 224+u//4096 | 240+u//262144
#   trailing byte (any multibyte char): 128 + u%64
#   per-char byte SUM: u | 320+u//64+u%64 | 480+u//4096+(u//64)%64+u%64
#                      | 624+u//262144+(u//4096)%64+(u//64)%64+u%64
# (320 = 192+128, 480 = 224+2*128, 624 = 240+3*128). n_bytes uses the
# builtin octet_length(encode(text)). The NULL-payload quarantine gate
# (text IS NOT NULL) mirrors the Spark side's payload.isNotNull filter in
# lockstep — a NULL payload cannot be decoded by any codec (Family N2).
_UTF8_LEAD_BYTE = """CASE WHEN {u} < 128 THEN {u}
                  WHEN {u} < 2048 THEN 192 + {u} // 64
                  WHEN {u} < 65536 THEN 224 + {u} // 4096
                  ELSE 240 + {u} // 262144 END"""
_UTF8_TAIL_BYTE = "CASE WHEN {u} < 128 THEN {u} ELSE 128 + {u} % 64 END"
_UTF8_BYTE_SUM = """CASE WHEN u < 128 THEN u
              WHEN u < 2048 THEN 320 + u // 64 + u % 64
              WHEN u < 65536 THEN 480 + u // 4096 + (u // 64) % 64 + u % 64
              ELSE 624 + u // 262144 + (u // 4096) % 64
                   + (u // 64) % 64 + u % 64 END"""

_DECODE_ORACLE = f"""
    WITH cps AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             list_transform(range(1, length(text) + 1),
               i -> unicode(substring(text, CAST(i AS INT), 1))) AS cp
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id, n_bytes,
           CAST(list_sum(list_transform(cp, u ->
             {_UTF8_BYTE_SUM})) % 65536 AS BIGINT) AS checksum,
           CAST(({_UTF8_LEAD_BYTE.format(u="cp[1]")}) % 64 + 1 AS INT)
             AS fake_width,
           CAST(({_UTF8_TAIL_BYTE.format(u="cp[-1]")}) % 64 + 1 AS INT)
             AS fake_height
    FROM cps
"""


@query("ext_multimodal_decode", oracle=_DECODE_ORACLE)
def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload feature extraction over Arrow-batched mapInPandas,
    with the codec stubbed deterministically (see _decode_stub)."""
    docs = load(spark, sf_dir, "documents")
    # payload: binary column (here derived from text; in production this IS
    # the image/audio bytes read from object storage). NULL payloads are
    # quarantined at construction (Family N2): a fetch that returned no
    # bytes is a dead-letter row, not codec input — a real codec also
    # fails on a null payload, and the explicit gate states the choice.
    with_payload = (
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
        .filter(F.col("payload").isNotNull())
        .repartition(8, "doc_id")  # decode parallelism knob
    )

    out_schema = (
        "doc_id BIGINT, n_bytes BIGINT, checksum BIGINT, "
        "fake_width INT, fake_height INT"
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "checksum": [f["checksum"] for f in feats],
                    "fake_width": [f["fake_width"] for f in feats],
                    "fake_height": [f["fake_height"] for f in feats],
                }
            )

    return with_payload.mapInPandas(decode_batches, out_schema)


_FRAME_BYTES = 100  # stub "frame" size; a real video codec sets this

# frames oracle: chunk arithmetic over OCTETS (the payload is UTF-8 bytes;
# char-based substring counted frames of a multibyte document wrong —
# Family X4). Aligned unnests zip in DuckDB.
_FRAMES_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           unnest(range(0, CAST(ceil(nb / {_FRAME_BYTES}.0) AS BIGINT)))
             AS frame_idx,
           CAST(least({_FRAME_BYTES},
                nb - unnest(range(0, CAST(ceil(nb / {_FRAME_BYTES}.0) AS BIGINT)))
                     * {_FRAME_BYTES}) AS INT) AS frame_bytes
    FROM d
"""


@query("ext_multimodal_frames", oracle=_FRAMES_ORACLE)
def ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: one input payload → N frame rows (video → frames,
    audio → windows) via mapInPandas with a 1→N row fan-out. The codec is
    stubbed as fixed-size byte chunking; a real decoder replaces the chunk
    loop and keeps the iterator shape. Oracle: the chunk arithmetic is
    reproducible from the source text."""
    docs = load(spark, sf_dir, "documents")
    # NULL-payload quarantine gate, same Family-N2 shape as decode
    with_payload = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    ).filter(F.col("payload").isNotNull())

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx in range(0, (len(payload) + _FRAME_BYTES - 1) // _FRAME_BYTES):
                    chunk = payload[idx * _FRAME_BYTES : (idx + 1) * _FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_bytes"].append(len(chunk))
            yield pd.DataFrame(out)

    return with_payload.mapInPandas(
        sample_frames, "doc_id BIGINT, frame_idx BIGINT, frame_bytes INT"
    )


_RESIZE_MAX = 32  # stub target box; a real pipeline passes the model's input size


# resize oracle: source dims from the payload's FIRST and LAST OCTETS
# (UTF-8 lead byte of the first char / tail byte of the last char —
# Family X4; see the _DECODE_ORACLE note for the encoding arithmetic)
_RESIZE_ORACLE = f"""
    WITH cps AS (
      SELECT doc_id,
             unicode(substring(text, 1, 1)) AS uf,
             unicode(substring(text, length(text), 1)) AS ul
      FROM documents
      WHERE text IS NOT NULL
    ), dims AS (
      SELECT doc_id,
             ({_UTF8_LEAD_BYTE.format(u="uf")}) % 64 + 1 AS src_w,
             ({_UTF8_TAIL_BYTE.format(u="ul")}) % 64 + 1 AS src_h
      FROM cps
    )
    SELECT doc_id, CAST(src_w AS INT) AS src_w, CAST(src_h AS INT) AS src_h,
           CAST(CASE WHEN greatest(src_w, src_h) <= {_RESIZE_MAX} THEN src_w
                ELSE greatest(1, (src_w * {_RESIZE_MAX}) // greatest(src_w, src_h))
                END AS INT) AS out_w,
           CAST(CASE WHEN greatest(src_w, src_h) <= {_RESIZE_MAX} THEN src_h
                ELSE greatest(1, (src_h * {_RESIZE_MAX}) // greatest(src_w, src_h))
                END AS INT) AS out_h
    FROM dims
"""


@query("ext_multimodal_resize", oracle=_RESIZE_ORACLE)
def ext_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning over mapInPandas: source dims come
    from the stubbed decode (payload byte arithmetic), the target box fit is
    pure integer math (floor-div, min-1 clamp) a real resizer (PIL
    ``thumbnail``) performs before touching pixels. Mirrors the
    decode→transform→write stage of an image pipeline; swap the body for
    the codec call and the Spark plumbing is unchanged. 1 row in → 1 row
    out, Arrow-batched, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    # NULL-payload quarantine gate, same Family-N2 shape as decode
    with_payload = (
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
        .filter(F.col("payload").isNotNull())
        .repartition(8, "doc_id")
    )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "src_w": [], "src_h": [], "out_w": [], "out_h": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w = payload[0] % 64 + 1
                h = payload[-1] % 64 + 1
                mx = max(w, h)
                if mx <= _RESIZE_MAX:
                    ow, oh = w, h
                else:
                    ow = max(1, (w * _RESIZE_MAX) // mx)
                    oh = max(1, (h * _RESIZE_MAX) // mx)
                rows["doc_id"].append(doc_id)
                rows["src_w"].append(w)
                rows["src_h"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
            yield pd.DataFrame(rows)

    return with_payload.mapInPandas(
        resize_batches, "doc_id BIGINT, src_w INT, src_h INT, out_w INT, out_h INT"
    )


@query(
    "ext_multimodal_meta_prune",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes
    FROM documents
    WHERE n_chars > 150 AND lang <> 'und'
    GROUP BY lang
    """,
)
def ext_multimodal_meta_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE multimodal scale pattern: metadata queries that never read the
    payload bytes. The asset table is laid out as (typed metadata columns
    + opaque binary payload) parquet; a catalog/reporting query filters
    and aggregates on metadata only, and parquet column pruning means the
    multi-KB payload column is never decoded or even fetched — the
    difference between scanning gigabytes and scanning terabytes at
    100 TB. The plan audit pins `payload` out of ReadSchema; byte size
    is carried as a metadata column (n_bytes) written at ingest, the
    standard trick so even SUM(bytes) needs no payload access."""
    docs = load(spark, sf_dir, "documents")
    asset_dir = os.path.join(scratch_dir("mm_assets"), "assets")
    # ingest: payload + typed metadata (incl. its byte length) in one table
    ingest = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("n_bytes"),
        F.encode("text", "utf-8").alias("payload"),
    )
    ingest.write.parquet(asset_dir)
    assets = spark.read.schema(ingest.schema).parquet(asset_dir)
    return (
        assets.filter((F.col("n_bytes") > 150) & (F.col("lang") != "und"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )


@query(
    "ext_multimodal_payload_dedup",
    oracle="""
    WITH hashed AS (
      -- DuckDB's sha256 takes VARCHAR and hashes its UTF-8 bytes — the
      -- exact bytes Spark's sha2(encode(text,'utf-8')) hashes
      SELECT doc_id,
             sha256(text) AS payload_sha,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT doc_id, payload_sha, n_bytes,
           CAST(min(doc_id) OVER (PARTITION BY payload_sha) AS BIGINT)
             AS keeper_doc_id,
           doc_id > min(doc_id) OVER (PARTITION BY payload_sha)
             AS is_duplicate
    FROM hashed
    """,
)
def ext_multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-payload exact dedup: media assets deduplicated by content
    hash of the raw bytes (payload derived from text here; in production
    it IS the image/audio blob) — the first pass of every multimodal
    pipeline, because crawled media is duplicated far more heavily than
    text and hashing bytes needs no codec at all. Deterministic keeper =
    min doc_id, same contract as ext_exact_dedup.

    Scale: the shuffle carries (32-byte sha, id) — payloads never move;
    at 100 TB the hash is computed at ingest and this is pure metadata."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    hashed = docs.select(
        "doc_id",
        F.sha2(F.encode("text", "utf-8"), 256).alias("payload_sha"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    w = Window.partitionBy("payload_sha")
    return (
        hashed.withColumn("keeper_doc_id", F.min("doc_id").over(w))
        .withColumn(
            "is_duplicate", F.col("doc_id") > F.col("keeper_doc_id")
        )
    )


_SHARD_BYTES = 4096  # target shard payload size


@query(
    "ext_multimodal_shard_pack",
    oracle=f"""
    WITH assets AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), cum AS (
      SELECT doc_id, n_bytes,
             SUM(n_bytes) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_bytes
      FROM assets
    )
    SELECT doc_id, n_bytes,
           CAST((cum_bytes - n_bytes) // {_SHARD_BYTES} AS BIGINT) AS shard,
           CAST(cum_bytes AS BIGINT) AS cum_bytes
    FROM cum
    """,
)
def ext_multimodal_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential SHARD PACKING for media assets: walk assets in doc_id
    order, cut a new shard whenever the running byte total crosses the
    {_SHARD_BYTES}-byte target (shard = floor(bytes-before-me / target))
    — the WebDataset/tar-shard layout multimodal loaders stream, where
    shard size (not row count) is what bounds loader memory and request
    fan-out. Assignment is a closed-form function of the exact cumulative
    sum, so it is deterministic and the oracle reproduces it bit-for-bit.

    Scale: the exact prefix sum runs through
    ``distributed_running_sum`` (range exchange + in-partition running
    sums + broadcast per-partition offsets — round 5) so the manifest
    never funnels through one task; payload bytes never participate."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.quantiles import distributed_running_sum

    assets = docs.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )
    cum = distributed_running_sum(
        assets, ["doc_id"], "n_bytes", out="cum_bytes"
    )
    return cum.select(
        "doc_id",
        "n_bytes",
        F.floor(
            (F.col("cum_bytes") - F.col("n_bytes")) / _SHARD_BYTES
        ).cast("long").alias("shard"),
        "cum_bytes",
    )


# SDXL-style aspect buckets over the stub decoder's 1..64 dimension range
_ASPECT_BUCKETS = ((1, 64, 64), (2, 64, 32), (3, 32, 64), (4, 64, 48), (5, 48, 64))

_ASPECT_ORACLE = f"""
    WITH img AS ({_DECODE_ORACLE}),
    buckets AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, {w}, {h})" for i, w, h in _ASPECT_BUCKETS)})
        AS t(bucket_id, bucket_w, bucket_h)
    ), scored AS (
      SELECT img.doc_id, b.bucket_id, b.bucket_w, b.bucket_h,
             abs(img.fake_width * b.bucket_h - img.fake_height * b.bucket_w)
               AS dev,
             row_number() OVER (
               PARTITION BY img.doc_id
               ORDER BY abs(img.fake_width * b.bucket_h
                            - img.fake_height * b.bucket_w), b.bucket_id)
               AS rn
      FROM img, buckets b
    )
    SELECT bucket_id, bucket_w, bucket_h,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(SUM(dev) AS BIGINT) AS sum_aspect_dev
    FROM scored WHERE rn = 1
    GROUP BY bucket_id, bucket_w, bucket_h
"""


@query("ext_multimodal_aspect_buckets", oracle=_ASPECT_ORACLE)
def ext_multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing (the SDXL / NovelAI training trick): every
    image is routed to the fixed-resolution bucket whose aspect ratio is
    nearest its own, so a batch never mixes shapes and crop/pad waste is
    minimized. Nearness is the exact INTEGER cross-product deviation
    |w·bh − h·bw| (no float ratios), argmin per image with bucket-id
    tie-break; the report is per-bucket volume plus total deviation — the
    numbers a loader uses to size per-bucket batches.

    Scale: decode (mapInPandas, Arrow-batched) emits only metadata; the
    bucket table is 5 rows crossed map-side (broadcast), and the argmin is
    a per-image window over 5 rows — no shuffle grows with bucket count."""
    from pyspark.sql import Window

    img = ext_multimodal_decode(spark, sf_dir).select(
        "doc_id", "fake_width", "fake_height"
    )
    buckets = spark.createDataFrame(
        list(_ASPECT_BUCKETS), "bucket_id INT, bucket_w INT, bucket_h INT"
    )
    dev = F.abs(
        F.col("fake_width") * F.col("bucket_h")
        - F.col("fake_height") * F.col("bucket_w")
    )
    w = Window.partitionBy("doc_id").orderBy("dev", "bucket_id")
    scored = (
        img.join(F.broadcast(buckets))
        .select("doc_id", "bucket_id", "bucket_w", "bucket_h", dev.alias("dev"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return scored.groupBy("bucket_id", "bucket_w", "bucket_h").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("dev").cast("long").alias("sum_aspect_dev"),
    )


# ---------------------------------------------------------------------------
# Shard-skew rebalance plan (round-8 thaw; ROADMAP_r8 candidate)
# ---------------------------------------------------------------------------


@query(
    "ext_shard_skew_rebalance",
    oracle=f"""
    WITH assets AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ), cum AS (
      SELECT doc_id, n_bytes,
             SUM(n_bytes) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_bytes
      FROM assets
    ), pack AS (
      SELECT doc_id, n_bytes,
             CAST((cum_bytes - n_bytes) // {_SHARD_BYTES} AS BIGINT) AS shard
      FROM cum
    ), shard_tot AS (
      SELECT shard, CAST(SUM(n_bytes) AS BIGINT) AS tot FROM pack GROUP BY shard
    ), target AS (
      SELECT CAST(floor(avg(tot)) AS BIGINT) AS tgt FROM shard_tot
    ), within AS (
      SELECT p.shard, p.doc_id, p.n_bytes,
             SUM(p.n_bytes) OVER (PARTITION BY p.shard ORDER BY p.doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_in_shard
      FROM pack p
    )
    SELECT shard, doc_id, n_bytes
    FROM within, target
    WHERE cum_in_shard > (tgt * 11) // 10
    ORDER BY shard, doc_id
    """,
)
def ext_shard_skew_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-skew REBALANCE PLAN over the ``ext_multimodal_shard_pack``
    manifest: every document whose within-shard byte prefix exceeds 110%
    of the average shard size is the closed-form MOVE SET — the minimal
    suffix each oversized shard must give up to land within the +/-10%
    loader-balance envelope. Iterative greedy reassignment collapses to
    this prefix rule because docs move in doc_id order (vetted r7), so
    the plan stays a pure relational expression: shard totals -> global
    average -> per-shard running sum -> threshold filter.

    Scale: the within-shard running sum is a PARTITIONED window (shard
    count grows with corpus bytes; ~target-size rows per shard, so no
    skew by construction); the 1-row average-target relation joins in as
    a broadcast — the plan's BroadcastNestedLoopJoin is that no-condition
    1-row attach (the ``ext_bpe_apply_merge`` shape), never a data-sized
    cartesian."""
    pack = ext_multimodal_shard_pack(spark, sf_dir).select(
        "shard", "doc_id", "n_bytes"
    )
    tot = pack.groupBy("shard").agg(F.sum("n_bytes").alias("tot"))
    target = tot.agg(F.floor(F.avg("tot")).cast("long").alias("tgt"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = pack.withColumn("cum_in_shard", F.sum("n_bytes").over(w))
    return (
        within.join(F.broadcast(target))
        .filter(F.col("cum_in_shard") > F.expr("(tgt * 11) div 10"))
        .select("shard", "doc_id", "n_bytes")
    )
