"""Python DataSource connector tests (reference DSv2 stack parity)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from spark_sql_dsv2_extension_spark.catalog import EngineCatalog
from spark_sql_dsv2_extension_spark.sources.datasource import (
    EngineTableReader,
    register,
)


@pytest.fixture()
def fact_table(spark, tmp_path):
    cat = EngineCatalog(spark, "dscat", str(tmp_path))
    cat.create_table(
        "default", "fact", "id BIGINT, v DOUBLE, dt STRING", partition_by=["dt"]
    )
    df = spark.createDataFrame(
        [(1, 1.5, "d1"), (2, 2.5, "d1"), (3, 3.5, "d2"), (4, 4.5, "d3")],
        "id BIGINT, v DOUBLE, dt STRING",
    )
    cat.insert("default", "fact", df)
    return cat._table_dir("default", "fact")


SCHEMA = "id BIGINT, v DOUBLE, dt STRING"


def test_reads_partitioned_table(spark, fact_table):
    register(spark)
    df = (
        spark.read.format("engine_table")
        .schema(SCHEMA)
        .option("path", fact_table)
        .option("partitionColumns", "dt")
        .load()
    )
    rows = {(r.id, r.v, r.dt) for r in df.collect()}
    assert rows == {(1, 1.5, "d1"), (2, 2.5, "d1"), (3, 3.5, "d2"), (4, 4.5, "d3")}
    assert df.columns == ["id", "v", "dt"]  # partition col trailing


def test_static_prune_reads_only_matching_partition(spark, fact_table):
    register(spark)
    df = (
        spark.read.format("engine_table")
        .schema(SCHEMA)
        .option("path", fact_table)
        .option("partitionColumns", "dt")
        .option("prune.dt", "d1")
        .load()
    )
    assert {(r.id, r.dt) for r in df.collect()} == {(1, "d1"), (2, "d1")}


def test_prune_skips_file_listing(fact_table):
    # driver-side check: pruned partitions never produce splits
    reader = EngineTableReader(
        schema=None,
        options={"path": fact_table, "partitioncolumns": "dt", "prune.dt": "d2"},
    )
    splits = reader.partitions()
    assert len(splits) >= 1
    assert all(s.partition_values == {"dt": "d2"} for s in splits)


def test_schema_required(spark, fact_table):
    register(spark)
    with pytest.raises(Exception, match="schema"):
        spark.read.format("engine_table").option("path", fact_table).load().collect()


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from spark_sql_dsv2_extension_spark.sources.roundtrip import compact_partitioned
    from spark_sql_dsv2_extension_spark.tables import load

    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    small, compact = str(tmp_path / "small"), str(tmp_path / "compact")
    ev.repartition(16).write.partitionBy("day").parquet(small)
    compact_partitioned(spark, small, compact, "day", ev.schema)
    n_small = len(glob.glob(small + "/day=*/*.parquet"))
    n_compact = len(glob.glob(compact + "/day=*/*.parquet"))
    n_days = len(glob.glob(small + "/day=*"))
    assert n_compact == n_days, "tiny partitions must collapse to one file each"
    assert n_small > 10 * n_compact
    # content survives
    a = spark.read.parquet(small).select("event_id", "value")
    b = spark.read.parquet(compact).select("event_id", "value")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_second_append_keeps_first_commit(spark, tmp_path):
    """Round-2 regression (ADVICE): deterministic part names meant a second
    append silently shutil.move-overwrote the first commit's files."""
    import os

    register(spark)
    out = str(tmp_path / "appendtab")
    os.makedirs(out, exist_ok=True)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, s STRING")
    df2 = spark.createDataFrame([(3, "c"), (4, "d")], "id BIGINT, s STRING")
    for df in (df1, df2):
        (
            df.write.format("engine_table")
            .option("path", out)
            .mode("append")
            .save()
        )
    got = {(r.id, r.s) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    # no staging dirs left behind
    assert not [f for f in os.listdir(out) if f.startswith("_staging")]


def test_compaction_generic_key_columns(spark, sf_dir, tmp_path):
    """Round-2 ADVICE fix: the file-slot hash must not assume an event_id
    column — compacting any table (here supplier, partitioned by nation)
    works, deriving the slot from all non-partition columns."""
    import glob
    import os

    from spark_sql_dsv2_extension_spark.sources.roundtrip import compact_partitioned
    from spark_sql_dsv2_extension_spark.tables import load

    sup = load(spark, sf_dir, "supplier")
    small = str(tmp_path / "sup_small")
    compact = str(tmp_path / "sup_compact")
    sup.repartition(8).write.partitionBy("s_nationkey").parquet(small)
    compact_partitioned(spark, small, compact, "s_nationkey", sup.schema)
    n_parts = len(glob.glob(small + "/s_nationkey=*"))
    n_compact = len(glob.glob(compact + "/s_nationkey=*/*.parquet"))
    assert n_compact == n_parts
    a = spark.read.parquet(small).select("s_suppkey", "s_name")
    b = spark.read.parquet(compact).select("s_suppkey", "s_name")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_reader_push_filters_contract(spark):
    """pushFilters keeps the supported conjuncts (data columns, simple
    comparisons) and yields back partition-column and unsupported
    predicates for Spark to evaluate post-scan."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, IsNotNull
    from pyspark.sql.types import StructType

    from spark_sql_dsv2_extension_spark.sources.datasource import (
        EngineTableReader,
    )

    schema = StructType.fromDDL(
        "l_orderkey BIGINT, l_quantity DOUBLE, l_returnflag STRING"
    )
    reader = EngineTableReader(
        schema, {"path": "/tmp/x", "partitioncolumns": "l_returnflag"}
    )
    filters = [
        GreaterThanOrEqual(("l_quantity",), 30.0),  # pushable
        In(("l_quantity",), (30.0, 45.0)),  # pushable (tuple in .value)
        EqualTo(("l_returnflag",), "A"),  # partition col -> NOT pushed
        IsNotNull(("l_orderkey",)),  # unsupported op -> NOT pushed
    ]
    unsupported = list(reader.pushFilters(filters))
    assert reader.pushed == [
        ("l_quantity", ">=", 30.0),
        ("l_quantity", "in", (30.0, 45.0)),
    ]
    assert {type(f).__name__ for f in unsupported} == {"EqualTo", "IsNotNull"}


def test_reader_push_in_filter_end_to_end(spark, tmp_path):
    """An IN predicate on a data column must actually execute through the
    pushed-filter read path (round-4 ADVICE: `.values` AttributeError)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import In
    from pyspark.sql.types import StructType

    from spark_sql_dsv2_extension_spark.sources.datasource import (
        EngineTableReader,
        _FileSplit,
    )

    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"k": [1, 2, 3, 4], "v": [10.0, 20.0, 30.0, 40.0]}), path
    )
    schema = StructType.fromDDL("k BIGINT, v DOUBLE")
    reader = EngineTableReader(schema, {"path": str(tmp_path)})
    leftover = list(reader.pushFilters([In(("k",), (2, 4))]))
    assert leftover == []
    batches = list(reader.read(_FileSplit(path, {})))
    got = sorted(x for b in batches for x in b.column(0).to_pylist())
    assert got == [2, 4]


def test_compression_options_shape_file_layout(spark, sf_dir, tmp_path):
    """A21 + A20 (write/HiveFileFormatWriteBuilder.scala:208-223,147-177):
    option("compression", ...) must reach the data files (codec suffixes)
    and option("maxRecordsPerFile") must split output by record count —
    the layout half of sink_compression_roundtrip (whose oracle proves the
    values; this pins the files)."""
    import os

    from spark_sql_dsv2_extension_spark.sources.roundtrip import (
        _COMPRESSION_MAX_RECORDS,
        write_compressed,
    )
    from spark_sql_dsv2_extension_spark.tables import load

    base = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    n_rows = base.count()
    paths = write_compressed(base, str(tmp_path))

    def data_files(fmt):
        return [
            f
            for f in os.listdir(paths[fmt])
            if f.startswith("part-") and not f.endswith(".crc")
        ]

    pq_files = data_files("parquet")
    assert pq_files and all(f.endswith(".zstd.parquet") for f in pq_files)
    # coalesce(1) upstream: any split below is maxRecordsPerFile's doing
    import math

    assert len(pq_files) == math.ceil(n_rows / _COMPRESSION_MAX_RECORDS)
    per_file = [
        spark.read.parquet(os.path.join(paths["parquet"], f)).count()
        for f in pq_files
    ]
    assert max(per_file) <= _COMPRESSION_MAX_RECORDS and sum(per_file) == n_rows

    assert all(f.endswith(".csv.gz") for f in data_files("csv"))
    assert all(f.endswith(".json.gz") for f in data_files("json"))


_SCRATCH_PROBE = """
import sys
from spark_sql_dsv2_extension_spark.registry import load_all
from spark_sql_dsv2_extension_spark.session import get_spark
spark = get_spark("scratch_probe", cpus=2)
reg = load_all()
for key in ("scan_csv", "stream_tumbling_agg"):
    print(key, reg[key].fn(spark, sys.argv[1]).count())
"""


def test_scratch_dirs_removed_at_exit(sf_dir):
    """Keys that write files (a csv round trip, a file stream's source,
    sink and checkpoint) leave no ``engine_*`` directory behind once their
    process exits."""
    roots = [r for r in ("/dev/shm", tempfile.gettempdir()) if os.path.isdir(r)]

    def entries():
        return {
            os.path.join(r, e) for r in roots for e in os.listdir(r)
            if e.startswith("engine_")
        }

    before = entries()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", _SCRATCH_PROBE, sf_dir],
        cwd=repo, check=True, capture_output=True, timeout=600,
    )
    assert entries() - before == set()
