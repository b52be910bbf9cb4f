"""Schema-on-read: fixture, stream and catalog reads take their schema from
metadata (parquet footers, the catalog registry), never from inference."""

from __future__ import annotations

import shutil
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from spark_sql_dsv2_extension_spark import tables
from spark_sql_dsv2_extension_spark.catalog import EngineCatalog
from spark_sql_dsv2_extension_spark.streaming.windows import (
    stream_tumbling_agg,
    stream_watermark_late_drop,
)


@contextmanager
def _job_ids(spark):
    """Yields the list that receives the ids of every job the block ran."""
    sc = spark.sparkContext
    group = f"schema_on_read_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_ns_vintage_events_match_us_vintage(spark, sf_dir, tmp_path):
    """An events.ts stored as INT64 TIMESTAMP(NANOS) (the older fixture
    vintage) gives the same rows as the timestamp[us] fixture through the
    batch load and through the stream keys that read the raw file."""
    events = pq.read_table(tables.table_path(sf_dir, "events"))
    i = events.schema.get_field_index("ts")
    ns = events.set_column(i, "ts", events["ts"].cast(pa.timestamp("ns")))
    ns_dir = str(tmp_path)
    pq.write_table(ns, tables.table_path(ns_dir, "events"), version="2.6")
    shutil.copy(tables.table_path(sf_dir, "nation"), ns_dir)
    assert pq.read_schema(tables.table_path(ns_dir, "events")).field("ts").type == (
        pa.timestamp("ns")
    )

    for read in (
        lambda d: tables.load(spark, d, "events"),
        lambda d: stream_tumbling_agg(spark, d),
        lambda d: stream_watermark_late_drop(spark, d),
    ):
        want = sorted(read(sf_dir).collect())
        assert want
        assert sorted(read(ns_dir).collect()) == want


def test_reads_fire_no_spark_job(spark, sf_dir, tmp_path):
    """Building a fixture or catalog read runs no job: the schema comes
    from the footer or the registry, not from inference over the files."""
    for name in tables.TABLE_NAMES:
        with _job_ids(spark) as ids:
            tables.load(spark, sf_dir, name)
        assert ids == [], name

    cat = EngineCatalog(spark, "noinfer", str(tmp_path))
    cat.create_table("default", "t", "id BIGINT, name STRING, dt STRING",
                     partition_by=["dt"])
    rows = spark.range(20).selectExpr(
        "id", "concat('n', id) AS name", "concat('d', id % 3) AS dt")
    cat.insert("default", "t", rows)
    cat.alter_table("default", "t", add_columns="score DOUBLE")
    cat.insert("default", "t", spark.range(20, 35).selectExpr(
        "id", "concat('n', id) AS name", "id / 2 AS score",
        "concat('d', id % 3) AS dt"))
    cat.alter_table("default", "t", rename_column=("name", "label"))
    cat.insert("default", "t", spark.range(35, 51).selectExpr(
        "id", "concat('n', id) AS label", "id / 2 AS score",
        "concat('d', id % 3) AS dt"))

    with _job_ids(spark) as ids:
        df = cat.load_table("default", "t")
    assert ids == []
    assert df.columns == ["id", "label", "score", "dt"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (i, f"n{i}", None if i < 20 else i / 2, f"d{i % 3}") for i in range(51)
    ]
