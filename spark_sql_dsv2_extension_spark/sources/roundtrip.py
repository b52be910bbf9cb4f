"""Write-path round-trip keys (SURVEY §2B "Scans / sources / sinks",
reference A17-A23).

Each key WRITES through the engine's sink path into a scratch directory,
reads the result back, and returns the read-back DataFrame; the oracle is
plain SQL over the original table — so a value surviving the round trip
proves both the writer and the reader. This is the same proof shape the
reference's write path would get from INSERT-then-SELECT on a live Hive
cluster (it shipped with zero tests, SURVEY §5).

Scale notes: the partitioned writes here are exactly the 100 TB layout —
``partitionBy`` on a low-cardinality column gives partition pruning on read
(A16 equivalent), and dynamic overwrite replaces only the partitions that
receive rows (A18/A19/A23 — Spark's committer does the staging-dir dance
natively).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..registry import query
from ..tables import SQL_PROPS_JSON, load, scratch_dir


@query(
    "scan_csv",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write → schema'd read-back (reference A22 CsvProviderFileWriteBuilder;
    atomic types only, matching its validator CsvProviderFileWriteBuilder.scala:47-51).
    Doubles survive because Spark writes shortest-round-trip decimal text."""
    out = os.path.join(scratch_dir("csv"), "customer")
    (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    return spark.read.schema(
        "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, c_acctbal DOUBLE"
    ).option("header", "true").csv(out)


@query(
    "scan_json",
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           json_extract_string({SQL_PROPS_JSON}, '$.k') AS k
    FROM events
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON write → schema'd read-back (reference A22 JsonProviderFileWriteBuilder;
    nested types allowed per its validator — the struct column exercises that)."""
    out = os.path.join(scratch_dir("json"), "events")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.struct(F.get_json_object("props", "$.k").alias("k")).alias("payload"),
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, "
        "payload STRUCT<k: STRING>"
    ).json(out)
    return back.select(
        "event_id", "user_id", "event_type", "value", F.col("payload.k").alias("k")
    )


@query(
    "scan_partition_prune",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write then partition-pruned read (reference A16: the HMS
    prunes partitions server-side; here the directory layout prunes — the
    plan's PartitionFilters skip non-matching dirs without listing files).

    The re-read passes the writer frame's own schema explicitly: a fully
    filtered-out source writes zero data files and bare schema inference
    fails with UNABLE_TO_INFER_SCHEMA where the oracle yields zero rows
    (EMPTY_AUDIT_r9.md E1) — with explicit schema the empty round-trip
    reads back as an empty frame, and on non-empty data the schema is a
    no-op that additionally skips footer-sampling inference."""
    out = os.path.join(scratch_dir("prune"), "lineitem")
    df = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    df.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    return (
        spark.read.schema(df.schema)
        .parquet(out)
        .filter(F.col("l_returnflag") == "R")
    )


@query(
    "scan_python_datasource",
    oracle="""
    SELECT l_orderkey, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the engine's Python DataSource connector (PySpark 4
    ``pyspark.sql.datasource``) — the structural twin of the reference's
    DSv2 stack (scan builder → metastore-side partition pruning → one
    reader per file; see sources/datasource.py). The ``prune.l_returnflag``
    option prunes partitions BEFORE file listing, like the reference's
    HMS-side ``listPartitionsByFilter`` (ExternalCatalogFileIndex.scala:51-63).
    """
    from .datasource import register

    out = os.path.join(scratch_dir("pyds"), "lineitem")
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    register(spark)
    return (
        spark.read.format("engine_table")
        .schema("l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING")
        .option("path", out)
        .option("partitionColumns", "l_returnflag")
        .option("prune.l_returnflag", "A")
        .load()
    )


@query(
    "sink_overwrite_dynamic",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2 ELSE o_totalprice END
             AS o_totalprice,
           o_orderstatus
    FROM orders
    """,
)
def sink_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (A18/A19/A23): write all partitions, then
    overwrite ONLY the 'O' partition with doubled prices. The read-back
    equals base data for untouched partitions + patched data for 'O' —
    exactly the reference's two-phase commit semantics, minus the metastore."""
    out = os.path.join(scratch_dir("dyn"), "orders")
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    patch = base.filter(F.col("o_orderstatus") == "O").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    # per-write option, not session conf: must hold in ANY harness session
    # (static overwrite would silently DELETE the untouched partitions)
    patch.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderstatus").parquet(out)
    # explicit schema: an empty source writes no data files and bare
    # inference fails where the oracle yields zero rows (EMPTY_AUDIT_r9.md
    # E1); a no-op on non-empty data
    return spark.read.schema(base.schema).parquet(out)


@query(
    "scan_orc",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read-back. The reference's write path treats ORC
    specially (compression exempt at its layer —
    HiveFileFormatWriteBuilder.scala:208-223); Spark's native ORC sink
    replaces that plumbing with a columnar writer. Round-trip against the
    original table proves writer and reader jointly."""
    out = os.path.join(scratch_dir("orc"), "part")
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    part.write.mode("overwrite").orc(out)
    return spark.read.schema(part.schema).orc(out)


@query(
    "sink_sorted_layout",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    """,
)
def sink_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, sorted-within-partitions parquet layout, read back
    with a range filter.

    ``repartitionByRange(o_orderdate).sortWithinPartitions(o_orderdate)``
    yields files whose parquet min/max footer statistics are disjoint date
    ranges — at 100 TB a date-range query then skips whole files and whole
    row groups instead of scanning everything. This is the write-side half
    of partition pruning: the reference gets it from HMS-registered
    partitions (ExternalCatalogFileIndex.scala:41-76); columnar engines get
    the same effect from sorted file layout + footer stats."""
    out = os.path.join(scratch_dir("sorted"), "orders")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.schema(orders.schema)
        .parquet(out)
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@query(
    "sink_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_totalprice * 2 AS new_price
      FROM orders WHERE o_orderkey % 5 = 0
    ), merged AS (
      SELECT o.o_orderkey,
             coalesce(u.new_price, o.o_totalprice) AS o_totalprice,
             o.o_orderstatus
      FROM orders o LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    )
    SELECT * FROM merged
    UNION ALL
    SELECT -1, 0.0, 'N'
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) on parquet via partition-scoped rewrite — the update
    path the reference lacks entirely (its only write verbs are INSERT
    INTO/OVERWRITE, A17-A19).

    Upserts = UPDATE every 5th order's price + INSERT one new row with a
    new partition value. Only the partitions that receive updates are
    rewritten: read target restricted to affected partition values (static
    pruning), left-anti out the updated keys, union the new versions, write
    with per-write dynamic partition overwrite — untouched partitions'
    files are never read or written. At 100 TB this is the difference
    between rewriting a table and rewriting the handful of date partitions
    a CDC batch touches (Delta/Iceberg MERGE does the same dance with a
    transaction log on top).
    """
    out = os.path.join(scratch_dir("merge"), "orders")
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)

    # explicit schema on both re-reads: an empty base write emits no data
    # files and bare inference fails where the oracle still yields its one
    # inserted row (EMPTY_AUDIT_r9.md E1); a no-op on non-empty data
    target = spark.read.schema(base.schema).parquet(out)
    upserts = (
        target.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            spark.createDataFrame(
                [(-1, 0.0, "N")], "o_orderkey LONG, o_totalprice DOUBLE, o_orderstatus STRING"
            )
        )
    )
    # Partitions touched by this CDC batch, kept INSIDE the plan: a
    # broadcast left-semi join on the partition column restricts the target
    # scan to touched partitions (Spark's dynamic partition pruning pushes
    # the broadcast keys into the file index), so no driver-side
    # enumeration — safe even when the partition column is high-cardinality
    # (a date column at 100 TB).
    #
    # The NULL partition needs its own keep-branch (LATTICE_AUDIT_r15.md):
    # an equality semi join can never match a NULL key, so when the CDC
    # batch touches the NULL partition (__HIVE_DEFAULT_PARTITION__), the
    # semi join silently drops that partition's NON-updated rows and the
    # dynamic overwrite then rewrites the partition without them — data
    # loss, found by the lattice audit. The NULL branch joins the
    # (0-or-1-row) NULL-membership probe on an always-true condition:
    # "keep the target's NULL-partition rows iff the batch touches the
    # NULL partition", expressed inside the plan. The equality branch
    # keeps its DPP-friendly form for the 100 TB common path.
    touched = upserts.select("o_orderstatus").distinct()
    null_touched = touched.filter(F.col("o_orderstatus").isNull())
    kept = target.join(
        F.broadcast(touched.filter(F.col("o_orderstatus").isNotNull())),
        "o_orderstatus",
        "left_semi",
    ).unionByName(
        target.filter(F.col("o_orderstatus").isNull()).join(
            F.broadcast(null_touched.select(F.lit(1).alias("_probe"))),
            F.lit(True),
            "left_semi",
        )
    )
    merged_parts = (
        kept.join(upserts.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(upserts)
    )
    merged_parts.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderstatus").parquet(out)
    return spark.read.schema(base.schema).parquet(out)


@query(
    "scan_ignore_corrupt",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    """,
)
def scan_ignore_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance (reference A15: the SerDe reader wraps every
    record in try/catch honoring ``spark.files.ignoreCorruptFiles``,
    HiveFilePartitionReaderFactory.scala:96-107). Same conf, Spark-native
    path: a garbage file is planted in the table directory; with
    ``ignoreCorruptFiles`` the scan skips it and yields exactly the valid
    rows — at 100 TB a single rotted object no longer kills the job. Set
    per-read via option, not session conf, so it works in any harness
    session."""
    out = os.path.join(scratch_dir("corrupt"), "nation")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.write.mode("overwrite").parquet(out)
    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    return (
        spark.read.schema(nation.schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(out)
    )


@query(
    "sink_python_datasource",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through the engine's Python DataSource WRITER (PySpark 4
    ``DataSourceWriter``) and read back natively — exercising the
    two-phase staged commit (task → staging file → commit message → driver
    publish; see sources/datasource.py EngineTableWriter, the structural
    twin of reference A23's file⊕metastore commit). The read-back passes
    the writer frame's schema explicitly — an empty source commits zero
    staged files and bare inference fails where the oracle yields zero
    rows (EMPTY_AUDIT_r9.md E1); a no-op on non-empty data."""
    from .datasource import register

    out = os.path.join(scratch_dir("pyds_w"), "supplier")
    os.makedirs(out, exist_ok=True)
    register(spark)
    df = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    (
        df.write.format("engine_table")
        .option("path", out)
        .mode("append")
        .save()
    )
    return spark.read.schema(df.schema).parquet(out)


TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_partitioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    part_col: str,
    schema: StructType,
) -> None:
    """Small-file compaction for a partitioned parquet table: rewrite each
    partition into ceil(partition_bytes / TARGET_FILE_BYTES) files.

    The file-count fix for streaming/incremental ingest — thousands of tiny
    files per partition turn every downstream scan into a task-scheduling
    storm. Sizing is driven by the real on-disk bytes (summed per
    partition directory), not row counts, so skewed partitions get more
    files while small ones collapse to one. The rewrite is one shuffle on
    (partition, file-slot); at 100 TB this runs per-partition-incremental
    (compact only partitions whose file count drifted), never a full-table
    pass.

    ``schema`` is the source table's schema (partition column included):
    the source is read under it, never inferred, so an EMPTY source (zero
    data files, e.g. the first run of an incremental ingest) degrades to
    an empty, metadata-only rewrite instead of failing inference."""
    sizes: dict[str, int] = {}
    for entry in os.scandir(src_path):
        if entry.is_dir() and "=" in entry.name:
            sizes[entry.name.split("=", 1)[1]] = sum(
                f.stat().st_size
                for f in os.scandir(entry.path)
                if f.name.endswith(".parquet")
            )
    df = spark.read.schema(schema).parquet(src_path)
    # File-slot hash over every non-partition column — the compactor must
    # work for any table shape, not just ones with an event_id. Partitions
    # whose value misses the sizes map (nulls, escaped values) fall back to
    # one file via coalesce(slot_count, 1). An EMPTY sizes map (zero source
    # partitions) would make create_map() VOID-typed and fail analysis —
    # there is nothing to size, so every (zero) row takes slot count 1.
    keys = [c for c in df.columns if c != part_col]
    if sizes:
        n_files = F.create_map(
            *[
                F.lit(x)
                for kv in sizes.items()
                for x in (kv[0], max(1, -(-kv[1] // TARGET_FILE_BYTES)))
            ]
        )
        slot_count = F.coalesce(
            n_files[F.col(part_col).cast("string")], F.lit(1)
        )
    else:
        slot_count = F.lit(1)
    slot = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), slot_count)
    (
        df.repartition(F.col(part_col), slot)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(dst_path)
    )


@query(
    "sink_compaction",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the compactor: events land as many tiny files per
    day partition (the streaming-ingest pathology), then
    :func:`compact_partitioned` rewrites each day to its size-derived file
    count. Content must survive both rewrites bit-exactly — the oracle is
    the original table. Both re-reads carry the written frame's schema so
    an empty source round-trips as an empty frame instead of failing
    inference (EMPTY_AUDIT_r9.md E1)."""
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    root = scratch_dir("compact")
    small, compact = os.path.join(root, "small"), os.path.join(root, "compact")
    # simulate fragmented ingest: ~16 files per day partition
    ev.repartition(16).write.partitionBy("day").parquet(small)
    compact_partitioned(spark, small, compact, "day", ev.schema)
    out = spark.read.schema(ev.schema).parquet(compact)
    return out.select("event_id", "user_id", "event_type", "value")


# (format, codec) pairs the compression round-trip exercises; gzip for the
# text formats (splittability doesn't matter for a round-trip proof), zstd
# for parquet (the 100 TB default: ~zlib ratio at lz4-class speed)
_COMPRESSED_FMT_CODEC = (("parquet", "zstd"), ("csv", "gzip"), ("json", "gzip"))
_COMPRESSION_MAX_RECORDS = 50


def write_compressed(df: DataFrame, root: str) -> dict[str, str]:
    """Write ``df`` once per (format, codec) in ``_COMPRESSED_FMT_CODEC``
    under ``root``, with ``maxRecordsPerFile`` capping the parquet files.

    Shared by the ``sink_compression_roundtrip`` key and the file-layout
    assertions in ``tests/test_datasource.py`` (codec suffixes + file-count
    split) so the two can never drift. ``coalesce(1)`` first so any
    multi-file parquet output is attributable to ``maxRecordsPerFile``
    alone, not input partitioning."""
    paths: dict[str, str] = {}
    one = df.coalesce(1)
    for fmt, codec in _COMPRESSED_FMT_CODEC:
        out = os.path.join(root, fmt)
        w = one.write.mode("overwrite").option("compression", codec)
        if fmt == "parquet":
            w = w.option("maxRecordsPerFile", _COMPRESSION_MAX_RECORDS)
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, fmt)(out)
        paths[fmt] = out
    return paths


@query(
    "sink_compression_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, 'parquet' AS fmt FROM part
    UNION ALL
    SELECT p_partkey, p_name, p_retailprice, 'csv' AS fmt FROM part
    UNION ALL
    SELECT p_partkey, p_name, p_retailprice, 'json' AS fmt FROM part
    """,
)
def sink_compression_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression negotiation (A21) + per-file record cap (A20), the two
    SURVEY §2A rows previously mapped but never exercised: the part table
    is written with an explicit ``option("compression", ...)`` per
    provider — zstd parquet, gzip csv, gzip json (the reference negotiates
    codec per format and exempts ORC at its layer,
    write/HiveFileFormatWriteBuilder.scala:208-223; ``scan_orc`` covers
    the ORC exemption) — plus ``option("maxRecordsPerFile", 50)`` on the
    parquet write (the reference's write-job description carries the same
    knob, write/HiveFileFormatWriteBuilder.scala:147-177). Every variant
    is read back and unioned with a format tag; the oracle is the base
    projection once per format, so one value-hash proves all three
    writer+reader pairs under non-default codecs. File-layout effects
    (codec suffixes on data files, the record cap actually splitting
    files) are pinned by tests/test_datasource.py over the shared
    ``write_compressed`` helper.

    Scale: maxRecordsPerFile is the file-count lever that keeps a 100 TB
    table's files inside scanner-friendly sizes regardless of executor
    count; zstd is the storage-bound default codec. Explicit read schemas
    keep the empty-source round-trip inference-proof (EMPTY_AUDIT_r9 E1).
    """
    base = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    paths = write_compressed(base, scratch_dir("compress"))
    parts = [
        spark.read.schema(base.schema).parquet(paths["parquet"]),
        spark.read.schema(base.schema)
        .option("header", True)
        .csv(paths["csv"]),
        spark.read.schema(base.schema).json(paths["json"]),
    ]
    out = None
    for (fmt, _), df in zip(_COMPRESSED_FMT_CODEC, parts):
        tagged = df.withColumn("fmt", F.lit(fmt))
        out = tagged if out is None else out.unionByName(tagged)
    return out


@query(
    "scan_python_stream_source",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def scan_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the engine's Python DataSource
    (``SimpleDataSourceStreamReader``): the events table lands in a
    scratch dir as two separate parquet files, and the source consumes
    them as two file-delta micro-batches under availableNow — proving the
    offset tracking (consumed-file list) actually advances. The reference
    is batch-only (V2Table.scala:45-47); this is the connector's streaming
    extension. Exactly-once: immutable files + deterministic delta
    replay."""
    import uuid as _uuid

    from .datasource import register

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = os.path.join(scratch_dir("pystream"), "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(out)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(out)
    register(spark)
    stream = (
        spark.readStream.format("engine_table")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("path", out)
        .load()
    )
    name = "sink_" + _uuid.uuid4().hex
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "scan_text",
    oracle="""
    SELECT text AS value FROM documents WHERE text IS NOT NULL
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format round-trip: the documents corpus written one doc per
    line via the text sink, read back as raw lines. Text is the landing
    format of most raw web-crawl corpora (WET files are exactly this); the
    read side is a zero-parse scan whose single ``value`` column feeds the
    normalize→filter front of the pipeline. Fixture docs are single-line,
    so the line↔doc bijection is exact.

    NULL documents (Family N5, lockstep): filtered before the write on
    both engines — a line-oriented format has no NULL representation
    (Spark's text sink would silently round-trip NULL as an empty
    line), so the sink contract is stated explicitly."""
    out = os.path.join(scratch_dir("text"), "documents")
    (
        load(spark, sf_dir, "documents")
        .select("text")
        .filter(F.col("text").isNotNull())
        .write.mode("overwrite")
        .text(out)
    )
    return spark.read.text(out)


@query(
    "scan_csv_malformed",
    oracle="""
    SELECT n_nationkey, n_name, false AS malformed FROM nation
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), true
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-ROW tolerance for csv (the row-level sibling of
    ``scan_ignore_corrupt``'s file-level skip): a garbage line is planted
    in an otherwise-valid csv; PERMISSIVE mode (the default the reference's
    SerDe try/catch approximates, HiveFilePartitionReaderFactory.scala:
    96-107) parses every valid row and captures the bad line in the
    _corrupt_record column instead of failing the task — at 100 TB one
    truncated record must cost one row, not a 10k-task job retry."""
    out = os.path.join(scratch_dir("csvbad"), "nation")
    (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .coalesce(1)
        .write.option("header", "true")
        .csv(out)
    )
    with open(os.path.join(out, "part-malformed.csv"), "w") as f:
        # header=true skips every file's first line, so the planted file
        # carries its own header followed by the malformed record
        f.write("n_nationkey,n_name\nnot_a_number,extra,columns,here\n")
    back = (
        spark.read.schema(
            "n_nationkey BIGINT, n_name STRING, _corrupt_record STRING"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    # PERMISSIVE salvages whichever fields parsed; mask them on malformed
    # rows so the contract is deterministic (corrupt row => all-null + flag)
    bad = F.col("_corrupt_record").isNotNull()
    return back.select(
        F.when(~bad, F.col("n_nationkey")).alias("n_nationkey"),
        F.when(~bad, F.col("n_name")).alias("n_name"),
        bad.alias("malformed"),
    )


@query(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_suppkey % 2 = 1 THEN s_acctbal END AS s_acctbal
    FROM supplier
    """,
)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: generation 1 lands WITHOUT
    the s_acctbal column, generation 2 adds it; a ``mergeSchema`` read
    unions the per-file schemas and back-fills typed NULLs for gen-1 rows —
    the lakehouse add-a-column path (the catalog's A6 alter_table does the
    same mapping through its declared schema; this key proves the raw
    reader primitive). At 100 TB mergeSchema costs a footer read per file
    — production pins the schema in a catalog instead, exactly what
    ``EngineCatalog.load_table`` does."""
    out = os.path.join(scratch_dir("evolve"), "supplier")
    s = load(spark, sf_dir, "supplier")
    s.filter(F.col("s_suppkey") % 2 == 0).select("s_suppkey", "s_name").write.parquet(
        out
    )
    s.filter(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey", "s_name", "s_acctbal"
    ).write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "s_suppkey", "s_name", "s_acctbal"
    )


@query(
    "sink_python_stream",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def sink_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WRITE through the engine's Python DataSource
    (``DataSourceStreamWriter``): the events stream (two file micro-batches
    under availableNow) lands through the connector's two-phase staged
    commit — tasks stage uuid parts, commit publishes them atomically under
    ``batch_id={N}`` — and the published table is read back and compared to
    the batch oracle. A replayed batch republishes the same directory
    (idempotent), which is the exactly-once discipline the reference's
    staging+metastore protocol provides for batch writes
    (HiveFileBatchWrite.scala:20-69), extended to streams."""
    import uuid as _uuid

    from .datasource import register

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = os.path.join(scratch_dir("pystreamsink"), "src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    out = os.path.join(scratch_dir("pystreamsink"), "out")
    chk = os.path.join(scratch_dir("pystreamsink"), "chk_" + _uuid.uuid4().hex)
    register(spark)
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("engine_table")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(ev.schema)
        .option("recursiveFileLookup", "false")
        .parquet(out)
        .select("event_id", "user_id", "event_type", "value")
    )


@query(
    "scan_union_multiformat",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
             AS sum_value4
    FROM events GROUP BY event_type
    """,
)
def scan_union_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated multi-format read: the SAME logical table split across
    parquet, csv, and json shards (the real state of most lakes after a
    few ingestion generations), read back format-by-format, aligned with
    unionByName, and aggregated — totals must equal the single-format
    truth. Values ride as integer 1e-4 units through csv/json so text
    round-tripping is exact.

    Scale: each format scan parallelizes independently; the union is
    plan-level (no shuffle) and the aggregate is the only exchange. This
    is the migration posture: old csv shards coexist with new parquet
    until rewritten, queries never notice."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    root = scratch_dir("multifmt")
    pq_dir = os.path.join(root, "pq")
    csv_dir = os.path.join(root, "csv")
    json_dir = os.path.join(root, "json")
    ev.filter(F.col("event_id") % 3 == 0).write.mode("overwrite").parquet(pq_dir)
    ev.filter(F.col("event_id") % 3 == 1).write.mode("overwrite").option(
        "header", "true"
    ).csv(csv_dir)
    ev.filter(F.col("event_id") % 3 == 2).write.mode("overwrite").json(json_dir)
    schema = "event_id BIGINT, event_type STRING, v4 BIGINT"
    parts = [
        spark.read.schema(ev.schema).parquet(pq_dir),
        spark.read.schema(schema).option("header", "true").csv(csv_dir),
        spark.read.schema(schema).json(json_dir),
    ]
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v4").alias("sum_value4"),
    )


@query(
    "scan_python_datasource_pushdown",
    oracle="""
    SELECT l_orderkey, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_quantity >= 30 AND l_quantity <= 45
    """,
)
def scan_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource (PySpark 4.1
    ``DataSourceReader.pushFilters``): the range predicate on l_quantity
    crosses the Python API boundary into the reader, where pyarrow prunes
    parquet row groups from footer statistics and filters the remainder
    vectorized — rows Spark never sees. The partition predicate prunes at
    file-listing time (``prune.``), the data predicate at read time: both
    halves of the reference's A13/A14 pushdown path, now on the Python
    connector. Unsupported predicates are yielded back and Spark applies
    them post-scan, so semantics never depend on reader completeness."""
    from .datasource import register

    out = os.path.join(scratch_dir("pyds_push"), "lineitem")
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    register(spark)
    df = (
        spark.read.format("engine_table")
        .schema("l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING")
        .option("path", out)
        .option("partitionColumns", "l_returnflag")
        .option("prune.l_returnflag", "A")
        .load()
    )
    return df.filter((F.col("l_quantity") >= 30) & (F.col("l_quantity") <= 45))
