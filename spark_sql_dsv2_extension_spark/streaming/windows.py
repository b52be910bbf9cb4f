"""Structured Streaming operators (SURVEY §2B "Streaming").

The reference explicitly has NO streaming capabilities (V2Table.scala:45-47
lists batch-only); this module is the engine's extension of the same tables
to streams, per the north star. Every key drives a real streaming query —
file-stream source over the events table, ``availableNow`` trigger, memory
sink — and returns the sink contents as a DataFrame.

Event-time mechanics under test:
- tumbling/sliding windows (complete mode — no watermark needed, oracle is
  epoch-floor bucketing),
- session windows + watermark (append mode; a far-future SENTINEL file is
  appended to the scratch source dir so the watermark passes every real
  session and append mode emits them — the standard "flush" idiom for
  bounded replays of unbounded operators),
- streaming dedup keyed by (user_id, event_type) (exact oracle: the emitted
  key-set is DISTINCT regardless of which arrival wins).

Scale posture: all state here is keyed and bounded by watermark — the same
code runs against a Kafka source on a 1000-executor cluster; state store
size is (#keys in watermark horizon), never (#events).
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from ..registry import query
from ..tables import file_schema, load, normalize_ts, scratch_dir, table_path

SENTINEL_USER = -1
# Far-future sentinel event time (ns since epoch ≈ year 2096) — later than
# any real fixture or production timestamp, so watermark-advancing sentinel
# rows need no driver-side pre-scan of max(ts) over the input (the scan was
# a full extra pass at 100 TB; a constant beyond the data's time domain is
# equivalent for watermark purposes).
SENTINEL_TS_NS = 4_000_000_000 * 10**9

_EPOCH = _dt.datetime(1970, 1, 1)


def _sentinel_ts(raw: StructType, off_ns: int = 0):
    """Sentinel event time in the RAW column's own type (ns long or naive
    datetime, see tables.file_schema) so sentinel files bind to the same
    stream schema."""
    ns = SENTINEL_TS_NS + off_ns
    if isinstance(raw["ts"].dataType, LongType):
        return ns
    return _EPOCH + _dt.timedelta(microseconds=ns // 1000)


def _stream_source(
    spark: SparkSession,
    sf_dir: str,
    sentinel_files: Sequence[Sequence[tuple[int, str, int]]] = (),
) -> DataFrame:
    """Copy the events file into a scratch dir (file-stream sources read
    directories) and open it as a stream under its footer schema; raw ts
    normalizes to a µs timestamp exactly like the batch path (tables.load).

    Each entry of ``sentinel_files`` is appended as one more file of
    far-future rows ``(event_id, event_type, off_ns)``: they advance the
    watermark past all real data, so append mode emits every real
    session/window before the query stops."""
    path = table_path(sf_dir, "events")
    raw = file_schema(spark, path)
    src_dir = scratch_dir("stream")
    shutil.copy(path, os.path.join(src_dir, "part-0.parquet"))
    for i, rows in enumerate(sentinel_files):
        if i:
            time.sleep(1.2)  # distinct mtimes => deterministic file order
        spark.createDataFrame(
            [(eid, _sentinel_ts(raw, off), SENTINEL_USER, etype, 0.0, "{}")
             for eid, etype, off in rows],
            raw,
        ).coalesce(1).write.mode("append").parquet(src_dir)
    stream = (
        spark.readStream.schema(raw)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    return normalize_ts(stream)


def _run_to_table(stream_df: DataFrame, output_mode: str) -> DataFrame:
    name = "sink_" + uuid.uuid4().hex
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        # explicit checkpoint on the memory-backed scratch root (r16):
        # without it Spark builds the ephemeral checkpoint under
        # java.io.tmpdir — disk-backed here, so every micro-batch's
        # offset/commit/state files paid disk fsync for a replay whose
        # durability is irrelevant by construction
        .option("checkpointLocation", scratch_dir("stream_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT (epoch_us(ts) // 300000000) * 300 AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(round(value * 10000) AS BIGINT)) / 1e4 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window count/sum, run as a real streaming query and
    compared to batch epoch-floor bucketing (streaming/batch consistency —
    the core Structured Streaming guarantee)."""
    ev = _stream_source(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(1e4)).alias(
            "total_value"
        ),
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@query(
    "stream_sliding_agg",
    oracle="""
    WITH buckets AS (
      SELECT user_id, value,
             unnest([
               (epoch_us(ts) // 300000000) * 300,
               (epoch_us(ts) // 300000000) * 300 - 300
             ]) AS window_start
      FROM events
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n,
           SUM(CAST(round(value * 10000) AS BIGINT)) / 1e4 AS total_value
    FROM buckets
    GROUP BY 1
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide) — every event lands in
    exactly two windows; the oracle enumerates both buckets per row."""
    ev = _stream_source(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(1e4)).alias(
            "total_value"
        ),
    )
    out = _run_to_table(agg, "complete")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "n",
        "total_value",
    )


@query(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) >= 300000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           (epoch_us(min(ts)) // 1000000) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-minute gap) per user, emitted in append
    mode once the watermark passes them (sentinel flush guarantees that for
    the bounded replay). Oracle = classic gaps-and-islands SQL."""
    ev = _stream_source(spark, sf_dir, [[(-1, "sentinel", 0)]])
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_table(agg, "append")
    return out.filter(F.col("user_id") != SENTINEL_USER).select(
        "user_id",
        F.unix_timestamp(F.col("session_window.start")).alias("session_start"),
        "n_events",
    )


@query(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    WHERE epoch_us(ts) > 0
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) under a watermark.
    Which arrival wins is arrival-order-dependent, so only the KEY columns
    are projected — that set is deterministic and exactly DISTINCT.

    Epoch-0 quarantine (chaos-audit r12): Spark's streaming watermark
    STARTS at epoch 0, and a watermarked stateful operator drops input
    rows at-or-before the current watermark — so an epoch-0 event time (a
    zeroed timestamp: at 100 TB always a failed parse, not data) silently
    vanishes from the dedup output while a batch DISTINCT keeps it. Both
    sides gate `epoch_us(ts) > 0` explicitly: the quarantine is the
    stated semantics, not an engine edge."""
    ev = _stream_source(spark, sf_dir).filter(F.unix_micros(F.col("ts")) > 0)
    dedup = ev.withWatermark("ts", "10 minutes").dropDuplicates(["user_id", "event_type"])
    out = _run_to_table(dedup, "append")
    return out.select("user_id", "event_type")


@query(
    "stream_watermark_late_drop",
    oracle="""
    WITH e AS (
      SELECT epoch_us(ts) AS tu FROM events
    ), b AS (
      SELECT min(tu) + (max(tu) - min(tu)) // 2 AS thr FROM e
    ), f1 AS (
      SELECT tu FROM e, b WHERE tu >= thr
    ), f2 AS (
      SELECT tu FROM e, b WHERE tu < thr
    ), wm AS (
      -- Spark tracks the watermark in milliseconds: floor(max event time
      -- to ms) minus the 10-minute delay, applied as µs in the predicate
      SELECT (max(tu) // 1000 - 600000) * 1000 AS w FROM f1
    ), b1 AS (
      SELECT (tu // 300000000) * 300000000 AS ws,
             CAST(count(*) AS BIGINT) AS n
      FROM f1 GROUP BY 1
    ), b2 AS (
      SELECT (tu // 300000000) * 300000000 AS ws,
             CAST(count(*) AS BIGINT) AS n
      FROM f2 GROUP BY 1
    ), b2_out AS (
      -- every batch-2 window emits (update mode emits all updated keys);
      -- a window merges with batch-1 state ONLY if that state survived
      -- eviction (window end > watermark) — otherwise the late arrival
      -- restarts from zero, proving the watermark evicted its state
      SELECT b2.ws,
             b2.n + CASE WHEN b1.n IS NOT NULL
                              AND b2.ws + 300000000 > wm.w
                         THEN b1.n ELSE 0 END AS n
      FROM b2 LEFT JOIN b1 USING (ws), wm
    )
    SELECT ws // 1000000 AS window_start, n FROM b1
    UNION ALL
    SELECT ws // 1000000 AS window_start, n FROM b2_out
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-driven late-state eviction, exactly checkable.

    The scratch source is split at the midpoint timestamp into two files
    processed as separate micro-batches (maxFilesPerTrigger=1): batch 1 is
    the NEWEST half of the data and pushes the watermark high; batch 2
    replays the OLDEST half, which now arrives far behind the watermark.
    Observed Spark 4 update-mode semantics (verified empirically, with
    ``numRowsDroppedByWatermark`` = 0): late input rows are still aggregated
    and emitted, but state for windows whose end <= watermark is evicted at
    the end of each batch — so a late window can never MERGE with earlier
    state; its count restarts. That eviction is the 100 TB property under
    test (state size is bounded by the watermark horizon, not the stream
    length), and the oracle reconstructs the resulting emission multiset
    deterministically: batch-1 groups, then batch-2 groups merged with
    batch-1 state only where that state survived. The split threshold and
    the ms-granularity watermark are integer arithmetic so both engines
    compute them identically."""
    src_dir = scratch_dir("late")
    batch = load(spark, sf_dir, "events")
    bounds_us = _ts_bounds_us(table_path(sf_dir, "events"))
    if bounds_us is None:
        # empty source: no midpoint to split the two-batch replay on —
        # the stream would emit nothing, so return the empty result frame
        # directly (EMPTY_AUDIT_r9.md E5, harness prep only)
        return spark.createDataFrame([], "window_start BIGINT, n BIGINT")
    lo_us, hi_us = bounds_us
    thr_us = lo_us + (hi_us - lo_us) // 2
    ts_us = F.unix_micros(F.col("ts"))
    newest = batch.filter(ts_us >= thr_us)
    oldest = batch.filter(ts_us < thr_us)
    newest.coalesce(1).write.parquet(os.path.join(src_dir, "f1"))
    oldest.coalesce(1).write.parquet(os.path.join(src_dir, "f2"))
    # file source orders batches by modification time: f1 first
    os.utime(_one_file(src_dir, "f1"), (1_000_000, 1_000_000))
    os.utime(_one_file(src_dir, "f2"), (2_000_000, 2_000_000))

    # the split files hold the normalized batch, so the stream reads them
    # under its schema as they are
    ev = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_table(agg, "update")
    return out.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"), "n"
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_events,
           SUM(CAST(round(value * 10000) AS BIGINT)) / 1e4 AS total_value
    FROM events JOIN nation ON user_id % 25 = n_nationkey
    GROUP BY n_name
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join: the event stream joins a broadcast
    static dimension per micro-batch (stateless — no join state store), then
    aggregates. This is the canonical streaming-ETL enrichment shape; at
    100 TB/day the dimension is broadcast once per batch and the stream
    never shuffles for the join — only the final keyed aggregation holds
    state (bounded by #dimension keys)."""
    ev = _stream_source(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    joined = ev.withColumn("nk", F.pmod("user_id", F.lit(25))).join(
        F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
    )
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / F.lit(1e4)).alias(
            "total_value"
        ),
    )
    return _run_to_table(agg, "complete")


def _ts_bounds_us(path: str) -> tuple[int, int] | None:
    """(min, max) of the ``ts`` column in µs from parquet FOOTER row-group
    statistics — metadata-only, no data scan. At 100 TB the previous
    ``agg(min, max).first()`` was a full extra pass over the input before the
    stream even started; footers answer the same question in O(#row groups)
    bytes (the same stats Spark's own partition pruning reads). pyarrow
    decodes the statistics by the column's timestamp unit, so ns and µs
    files both come back as datetimes, floored to µs here like the batch
    path.

    Returns None for an EMPTY source (zero row groups / no stats): there
    is no midpoint to split a replay on, and the caller short-circuits to
    its empty result instead of asserting (EMPTY_AUDIT_r9.md E5 — a
    harness-prep guard, not operator logic)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = md.schema.names.index("ts")
    stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
    stats = [st for st in stats if st is not None and st.has_min_max]
    if not stats:
        return None

    def us(v) -> int:  # UTC-adjusted columns decode tz-aware (in UTC)
        return (v.replace(tzinfo=None) - _EPOCH) // _dt.timedelta(microseconds=1)

    return us(min(st.min for st in stats)), us(max(st.max for st in stats))


def _one_file(root: str, sub: str) -> str:
    d = os.path.join(root, sub)
    return next(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


@query(
    "stream_sink_files",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_sink_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet file sink with checkpointed exactly-once commit,
    read back and compared to the batch table — the streaming analog of the
    reference's two-phase file⊕metastore commit (HiveFileBatchWrite.scala:
    20-69): Spark's file-sink manifest (_spark_metadata) plays the
    metastore's role, so a re-run after failure never double-counts a file.
    Append mode, no state — pure exactly-once transport."""
    ev = _stream_source(spark, sf_dir)
    root = scratch_dir("stream_sink")
    out, chk = os.path.join(root, "data"), os.path.join(root, "chk")
    rows = ev.select("event_id", "user_id", "event_type", "value")
    q = (
        rows.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(rows.schema).parquet(out)


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 120 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join with a time-range condition: purchases
    joined to any click by the same user in the preceding 2 hours —
    the attribution-join shape. Both sides carry watermarks and the join
    condition bounds the event-time distance, so each side's state store
    retains only a watermark-plus-range horizon of rows (state is bounded
    at any input rate; this is what makes the join viable on an unbounded
    Kafka pair). Inner-join matches are emitted as found (append mode),
    so a full availableNow replay equals the batch join — the oracle.
    Both engines compare µs-truncated timestamps, keeping the ±interval
    boundary exact."""
    clicks = (
        _stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _stream_source(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 120 MINUTES"
        ),
        "inner",
    ).select(
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
        "purchase_value",
    )
    return _run_to_table(joined, "append")


# one click and one purchase per sentinel file, on both join sides
_OUTER_SENTINELS = [
    [(-1 - 10 * i, "click", off), (-2 - 10 * i, "purchase", off)]
    for i, off in enumerate((0, 10**15))
]


@query(
    "stream_stream_left_outer",
    oracle="""
    SELECT c.user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 120 MINUTE
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER join: every click, null-extended when no
    purchase follows within 2 hours. Outer emission is watermark-driven —
    an unmatched left row is only released once the watermark proves no
    match can still arrive — so the replay appends a far-future sentinel
    row to EACH side (watermark = min across inputs) after the real file;
    the no-data micro-batch then flushes all remaining state and the
    result equals the batch LEFT JOIN. This is the sentinel idiom from
    ``stream_session_window`` extended to two inputs. State per side stays
    bounded by the watermark-plus-range horizon at any input rate."""
    # Two sentinel files, strictly later mod-times: the watermark computed
    # from sentinel file N is *applied* while processing file N+1 (a
    # stopped availableNow replay gets no trailing no-data batch), so the
    # second file is what flushes every real outer row from state.
    raw = _stream_source(spark, sf_dir, _OUTER_SENTINELS)
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 120 MINUTES"
        ),
        "leftOuter",
    )
    # the sentinel filter must stay OUTSIDE the streaming plan: placed
    # before the sink it is pushed below the EventTimeWatermark node and
    # the sentinel click then never advances the left watermark (leaving
    # the last ~2h of unmatched clicks stuck in state forever)
    out = _run_to_table(joined, "append")
    return out.filter(F.col("user_id") != SENTINEL_USER).select(
        "user_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
    )


@query(
    "stream_stream_full_outer",
    oracle="""
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 120 MINUTE
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream FULL OUTER join: every click AND every purchase,
    null-extended when the 2-hour attribution window finds no partner on
    the other side — the reconciliation shape (which impressions never
    converted, which conversions have no impression) that completes the
    stream-stream join family over inner/left-outer. Both sides' outer
    emission is watermark-driven, so the ``stream_stream_left_outer``
    sentinel idiom applies unchanged: a far-future sentinel row appended
    to EACH side (watermark = min across inputs) in a second
    strictly-later file flushes all remaining state on BOTH sides, and
    the result equals the batch FULL JOIN. State per side stays bounded
    by the watermark-plus-range horizon at any input rate.

    The sentinel filter stays OUTSIDE the streaming plan (after the
    sink): pushed below the EventTimeWatermark node it would keep the
    sentinels from advancing the watermarks and strand the final ~2h of
    unmatched rows in state — the left_outer lesson, doubled."""
    raw = _stream_source(spark, sf_dir, _OUTER_SENTINELS)
    clicks = (
        raw.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        raw.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= click_ts "
            "AND p_ts <= click_ts + INTERVAL 120 MINUTES"
        ),
        "fullOuter",
    )
    out = _run_to_table(joined, "append")
    return (
        out.select(
            F.coalesce("c_user", "p_user").alias("user_id"),
            F.unix_timestamp("click_ts").alias("click_epoch"),
            F.unix_timestamp("p_ts").alias("purchase_epoch"),
        )
        .filter(F.col("user_id") != SENTINEL_USER)
    )


@query(
    "stream_sink_catalog_table",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_sink_catalog_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO a catalog table: each micro-batch lands through
    ``EngineCatalog.insert`` via ``foreachBatch``, so the write picks up the
    catalog's write path (store-assignment casts, partitioned layout,
    A28 stats refresh) and the table is immediately addressable by 3-part
    SQL names. This is the streaming half of the reference's two-phase
    file⊕metastore commit (HiveFileBatchWrite.scala:20-69): the streaming
    checkpoint provides batch-level exactly-once, the catalog registry
    plays the metastore. The result is read back THROUGH the catalog and
    aggregated — proving ingest ⊕ catalog read round-trip exactly."""
    import uuid as _uuid

    from ..catalog import EngineCatalog, engine_sql

    ev = _stream_source(spark, sf_dir)
    cat_name = "streamcat_" + _uuid.uuid4().hex[:8]
    cat = EngineCatalog(spark, cat_name, scratch_dir("scat"))
    cat.create_table(
        "default", "events_ingest",
        "event_id BIGINT, user_id BIGINT, value DOUBLE, event_type STRING",
        partition_by=["event_type"],
    )

    def sink_batch(batch_df: DataFrame, _batch_id: int) -> None:
        cat.insert(
            "default", "events_ingest",
            batch_df.select("event_id", "user_id", "value", "event_type"),
        )

    q = (
        ev.writeStream.foreachBatch(sink_batch)
        .option(
            "checkpointLocation", scratch_dir("scat_chk")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return engine_sql(
        spark,
        f"SELECT event_type, count(*) AS n, "
        f"count(DISTINCT user_id) AS n_users "
        f"FROM {cat_name}.default.events_ingest GROUP BY event_type",
    )


@query(
    "stream_document_etl",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           substr(lower(text), 1, 40) AS head
    FROM documents
    WHERE len(string_split(text, ' ')) >= 20
    """,
)
def stream_document_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming document ETL: the corpus front-door (normalize + quality
    gate + project) run as a Structured Streaming query over a document
    file stream — the shape of a continuously-ingesting training-data
    pipeline (each arriving crawl shard becomes a micro-batch; the same
    code runs on a Kafka/auto-loader source unchanged). Entirely
    STATELESS — no watermark, no state store — so availableNow replay
    equals the batch transformation exactly, which is the oracle. At
    100 TB/day this scales with source parallelism; the gate prunes
    before any shuffle (there is none)."""
    path = table_path(sf_dir, "documents")
    src_dir = scratch_dir("docstream")
    shutil.copy(path, os.path.join(src_dir, "part-0.parquet"))
    docs = (
        spark.readStream.schema(file_schema(spark, path))
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    n_tokens = F.size(F.split("text", " ")).cast("long")
    etl = (
        docs.withColumn("n_tokens", n_tokens)
        .filter(F.col("n_tokens") >= 20)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.substring(F.lower("text"), 1, 40).alias("head"),
        )
    )
    return _run_to_table(etl, "append")


@query(
    "stream_restart_incremental",
    oracle="""
    SELECT event_id, user_id, value FROM events
    """,
)
def stream_restart_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across RESTARTS: the stream runs to completion, STOPS,
    new files land in the source, and a SECOND query starts from the same
    checkpoint — the offset log replays nothing and picks up exactly the
    delta, so the file sink holds every event exactly once. This is the
    property that makes incremental daily reruns safe at 100 TB (a
    re-submitted job never double-counts a shard); checkpoint + file-sink
    manifest play the reference's metastore⊕staging two-phase roles
    (HiveFileBatchWrite.scala:20-69)."""
    src_dir = scratch_dir("restart_src")
    root = scratch_dir("restart")
    out, chk = os.path.join(root, "data"), os.path.join(root, "chk")

    batch = load(spark, sf_dir, "events")
    half1 = batch.filter(F.col("event_id") % 2 == 0)
    half2 = batch.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(os.path.join(src_dir, "f1"))
    cols = ("event_id", "user_id", "value")

    def run_once():
        stream = (
            spark.readStream.schema(batch.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        q = (
            stream.select(*cols)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()                                        # consumes f1
    half2.coalesce(1).write.parquet(os.path.join(src_dir, "f2"))
    run_once()                                        # same checkpoint: only f2
    return spark.read.schema(batch.select(*cols).schema).parquet(out)


@query(
    "stream_complete_topk",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type NULLS LAST
    LIMIT 3
    """,
)
def stream_complete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode GLOBAL aggregation (no window, no watermark): running
    per-event-type totals, re-emitted in full every micro-batch — the
    live-leaderboard shape. The top-3 cut happens on the sink table (3
    deterministic rows via count-desc + name tie-break): ranking is not
    allowed inside a streaming aggregation, and doing it post-sink is the
    documented pattern. State is one counter per event type — bounded by
    key cardinality, independent of stream length."""
    ev = _stream_source(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = _run_to_table(agg, "complete")
    return (
        out.select("event_type", F.col("n").cast("long").alias("n"))
        # NULLS LAST pinned on both engines (Family N1): the NULL-type
        # group is a legitimate leaderboard row, but its tie-break
        # position at the top-3 boundary must not depend on engine
        # defaults
        .orderBy(F.col("n").desc(), F.col("event_type").asc_nulls_last())
        .limit(3)
    )


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_batches
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` custom sink: the escape hatch for sinks Spark has
    no connector for (JDBC upserts, external indexes). The stream is split
    into two deterministic micro-batches (two files, maxFilesPerTrigger=1);
    each batch lands in its own parquet subdir keyed by batch_id — the
    idempotent-write discipline (a replayed batch overwrites its own dir,
    never double-appends). Verified exactly: every event written once
    across batches (per-type counts match batch) and each type's batch
    membership IS its set of event_id parities (the split key), which the
    oracle computes as count(DISTINCT event_id % 2) rather than assuming
    the corpus-scale constant 2 — on a tiny corpus a type can land
    entirely in one parity batch (caught by the round-10 NULL-fixture
    audit, where the divergence was fixture scale, not NULL semantics).
    The batch function does a distributed write only — nothing
    driver-side."""
    src_dir = scratch_dir("feb_src")
    out_dir = scratch_dir("feb_out")

    batch = load(spark, sf_dir, "events")
    batch.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src_dir, "f1")
    )
    batch.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src_dir, "f2")
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    cols = ("event_id", "event_type", "user_id")

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        (
            bdf.select(*cols)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # batch_id is not in the schema: partition discovery appends it
    written = (
        spark.read.schema(batch.select(*cols).schema)
        .option("recursiveFileLookup", "false")
        .parquet(out_dir)
    )
    return written.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("batch_id").cast("long").alias("n_batches"),
    )


@query(
    "stream_chained_dedup_daily_active",
    oracle="""
    SELECT (epoch_us(ts) // 86400000000) * 86400 AS window_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau
    FROM events
    GROUP BY 1
    """,
)
def stream_chained_dedup_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users via CHAINED STATEFUL OPERATORS
    (Spark 3.4+): a watermarked dropDuplicates on (user, day-window)
    feeds a windowed count in the SAME streaming query — the rewrite that
    makes COUNT(DISTINCT) (illegal in streaming aggregation) incremental:
    dedup state holds each (user, day) once, the downstream count is then
    a plain windowed SUM. Deterministic despite arrival order because the
    dedup KEY SET — not a winning row — is all that flows on (same
    argument as stream_dedup_watermark); the far-future sentinel advances
    the watermark so append mode flushes every real day before the query
    ends (its own 2096 window never closes, so it never pollutes output).

    Scale: state is (distinct user-days within watermark) + one counter
    per open window — the minimal state any exact streaming DAU needs;
    both operators key their shuffles identically so the chain adds no
    extra exchange. The batch twin is ext_sliding_active_users."""
    ev = _stream_source(spark, sf_dir, [[(-1, "sentinel", 0)]])
    dedup = (
        ev.withWatermark("ts", "1 day")
        .select("user_id", F.window("ts", "1 day").alias("w"))
        .dropDuplicates(["user_id", "w"])
    )
    agg = dedup.groupBy("w").agg(F.count(F.lit(1)).alias("dau"))
    out = _run_to_table(agg, "append")
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start"), "dau"
    )
