"""Fixture table loading + deterministic-comparison helpers.

The driver compares every query against a DuckDB oracle by row-count,
schema, and order-insensitive value-hash (``__spark_entry__.py`` docstring).
Floating-point aggregation order differs between engines, so any SUM/AVG of
doubles must be made bit-deterministic. The pattern used engine-wide:

    round(x * 10^s) -> bigint -> exact integer SUM -> / 10.0^s

Both engines compute ``x * 10^s`` on identical IEEE-754 doubles (same bits),
round a value that is never near a .5 boundary (the fixtures carry <= 4
decimal digits), sum exactly in int64, and perform one identical final
division. Helpers below encode that pattern for the Spark side; oracle SQL
mirrors it textually.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# footer key under which Spark's parquet writer stores the Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def file_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's read schema for one parquet table, taken from its footer.

    ``path`` is one file, or a directory of part files written by Spark
    (one footer stands for all, as in Spark's own non-merging inference).
    This is the engine's only source of fixture schemas: no read infers
    one (inference is a Spark job per read), and nothing is cached, so a
    rewritten file is seen on the next call. Types are exactly what Spark
    infers for the same file: the Spark schema a Spark writer stored in
    the footer, else the converted parquet schema, where INT64
    TIMESTAMP(NANOS) columns are ``LongType``, the ns value Spark returns
    under ``nanosAsLong`` (it has no ns timestamp type).

    Pins the two session confs every fixture read depends on, because the
    caller may hand over a session built without them: UTC keeps
    timestamp rendering and epoch math identical to the timezone-naive
    DuckDB oracle, and ``nanosAsLong`` lets Spark 4 read ns columns at all
    (PARQUET_TYPE_ILLEGAL otherwise; a no-op for other files).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isdir(path):
        path = min(
            os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    footer = pq.read_schema(path)
    spark_schema = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_schema is not None:
        return StructType.fromJson(json.loads(spark_schema))
    arrow = pa.schema([
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
        for f in footer
    ])
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def normalize_ts(df: DataFrame) -> DataFrame:
    """The ``events.ts`` vintage rule: the raw column becomes a µs TIMESTAMP.

    Older fixtures store INT64 TIMESTAMP(NANOS), which arrives as a ns
    long (:func:`file_schema`) and is floored to µs, the truncation DuckDB
    applies; integer ``DIV`` because ns epochs (~1.7e18) exceed double's
    exact-integer range. Newer fixtures store timestamp[us], which arrives
    as TIMESTAMP_NTZ and is reinterpreted as a UTC instant (wall clock ==
    instant under the UTC session). Either way downstream operators and
    the oracle see identical µs values. Works on batch and stream frames.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table: a columnar parquet scan under the schema
    from the file's footer (:func:`file_schema`), so building the
    DataFrame runs no Spark job. Catalyst prunes columns and filters — the
    vectorized equivalent of the reference's row-at-a-time SerDe reader
    (HiveFilePartitionReaderFactory.scala:57-64). ``events`` goes through
    :func:`normalize_ts`.
    """
    path = table_path(sf_dir, name)
    df = spark.read.schema(file_schema(spark, path)).parquet(path)
    return normalize_ts(df) if name == "events" else df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism``.

    Every fixture table is one parquet file with one row group, so its
    scan is one task, and CPU-heavy per-row work straight after it
    (shingling, hashing, vector math) would run on one core. This spreads
    it. It is not a cheap rebalance: it is a full shuffle of the input,
    plus the local sort ``spark.sql.execution.sortBeforeRepartition`` adds
    before a round-robin exchange. At scale a scan already arrives in
    many splits and the shuffle buys nothing, so it stays only at the
    sites where a with/without A/B measured a loss without it.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


_scratch_root: tempfile.TemporaryDirectory | None = None


def scratch_dir(prefix: str) -> str:
    """A new directory for files a query writes and reads back.

    All of them live under one per-process ``TemporaryDirectory``, which
    Python removes at interpreter exit. It sits on ``/dev/shm`` when that
    exists, so stream checkpoints and commit logs skip disk fsyncs.
    Nothing here is durable: a production stream keeps its checkpoints on
    durable storage.
    """
    global _scratch_root
    if _scratch_root is None:
        shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
        _scratch_root = tempfile.TemporaryDirectory(prefix="engine_", dir=shm)
    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_scratch_root.name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql queries)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-insensitive-deterministic SUM of a double column.

    Exact int64 arithmetic; value equals SUM(round(x, scale)) as double.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * F.lit(10**scale)).cast("long")) / F.lit(float(10**scale))


def davg(col: Column | str, scale: int = 2) -> Column:
    """Deterministic AVG: exact integer sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    scaled = F.round(c * F.lit(10**scale)).cast("long")
    return F.sum(scaled) / (F.count(scaled) * F.lit(float(10**scale)))


def sql_dsum(expr: str, scale: int = 2) -> str:
    """SQL text mirroring :func:`dsum` — valid in BOTH DuckDB and Spark SQL.

    ``1e{scale}`` is a double literal in both dialects (a plain ``100.0``
    would parse as DECIMAL(4,1) in Spark SQL and change the result type).
    """
    return f"SUM(CAST(round(({expr}) * {10**scale}) AS BIGINT)) / 1e{scale}"


def sql_davg(expr: str, scale: int = 2) -> str:
    """SQL text mirroring :func:`davg` (DuckDB- and Spark-SQL-compatible)."""
    scaled = f"CAST(round(({expr}) * {10**scale}) AS BIGINT)"
    return f"SUM({scaled}) / (COUNT({scaled}) * 1e{scale})"


# Malformed-JSON quarantine for the events.props payload (oracle side;
# RAGGED_AUDIT_r13.md Family J): Spark's get_json_object returns NULL on
# a payload its strict parser rejects (truncated object, bare word), but
# DuckDB's json_extract RAISES — TRY_CAST around the EXTRACTION doesn't
# help because the parse itself throws. Substituting this expression for
# a bare `props` makes every DuckDB extraction NULL-and-keep, matching
# Spark exactly on strict-invalid payloads. (Payloads where the two
# strict parsers themselves disagree — single-quoted keys, NaN literals —
# are out of contract; the fixtures and audits probe strict-invalid
# shapes only.)
SQL_PROPS_JSON = "(CASE WHEN json_valid(props) THEN props END)"
