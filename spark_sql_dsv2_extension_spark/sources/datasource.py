"""Python DataSource connector (PySpark 4 ``pyspark.sql.datasource``).

Structural twin of the reference's DSv2 stack, on the public Python API:

| reference (Scala DSv2)                              | here |
|-----------------------------------------------------|------|
| ``V2ExternalCatalog.loadTable`` → ``V2Table``       | options (catalog root/ns/table) → ``EngineTableDataSource`` |
| ``newScanBuilder`` (V2Table.scala:51-68)            | ``reader()`` |
| ``ExternalCatalogFileIndex.listFiles`` — partition  | ``EngineTableReader.partitions()`` — prunes partition dirs |
|   pruning in the METASTORE before file listing      |   from the catalog registry BEFORE listing files |
| ``HiveFilePartitionReaderFactory.buildReader``      | ``read(partition)`` — one Arrow-batched reader per file |
|   (one SerDe reader per PartitionedFile)            |   (pyarrow, zero-copy into Spark) |
| partition values appended to each row               | partition column re-attached per batch |

The reference reads rows one at a time through Hive SerDes
(HiveFilePartitionReaderFactory.scala:57-64); this connector yields Arrow
record batches — the Python-API equivalent of a vectorized reader.

Scale notes: ``partitions()`` returns one InputPartition per data FILE, so
read parallelism matches the file count (like Spark's own FilePartition
planning); pruning happens driver-side from directory names only — no data
IO; executors read only their file. The slow part of any Python data source
is Python itself — batches are Arrow end-to-end to keep the per-row cost
zero.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "engine_table"


@dataclass
class _FileSplit(InputPartition):
    path: str
    partition_values: dict  # partition column -> string value


def partition_dirs(
    table_dir: str, partition_columns: list[str], prune: dict[str, str] | None = None
) -> Iterator[tuple[str, dict[str, str]]]:
    """Every leaf ``col=value`` directory under ``table_dir`` with its
    partition spec, in sorted order; an unpartitioned table is its own
    single leaf.

    Mirrors ExternalCatalogFileIndex.scala:41-76: the ``prune`` spec
    filters directory names BEFORE descending, so a pruned read never
    lists non-matching partitions.
    """
    prune = prune or {}

    def walk(d: str, spec: dict[str, str]) -> Iterator[tuple[str, dict[str, str]]]:
        if len(spec) == len(partition_columns):
            yield d, spec
            return
        col = partition_columns[len(spec)]
        if not os.path.isdir(d):
            return
        for entry in sorted(os.listdir(d)):
            if not entry.startswith(f"{col}="):
                continue
            value = entry.split("=", 1)[1]
            if prune.get(col, value) == value:
                yield from walk(os.path.join(d, entry), {**spec, col: value})

    return walk(table_dir, {})


class EngineTableReader(DataSourceReader):
    """Batch reader: one Arrow-batched parquet reader per file split
    (reference A15's per-PartitionedFile reader, vectorized)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.table_dir = options["path"]
        self.partition_columns = [
            c for c in options.get("partitioncolumns", "").split(",") if c
        ]
        # partition prune spec: option "prune.<col>" = "<value>"
        self.prune = {
            key[len("prune."):]: value
            for key, value in options.items()
            if key.startswith("prune.")
        }

    # Catalyst filter -> pyarrow DNF op for the pushable surface; the
    # reader applies pushed filters EXACTLY (parquet row-group statistics
    # prune at the footer, remaining rows filter vectorized), mirroring
    # the reference's A13 pushdown path (HiveScanBuilder pushing predicates
    # into the file scan). Everything else is returned to Spark unpushed.
    _OPS = {
        "EqualTo": "==",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
        "In": "in",
    }

    def pushFilters(self, filters):  # noqa: N802 (API name)
        self.pushed: list[tuple] = []
        data_cols = {
            f.name for f in self.schema.fields
        } - set(self.partition_columns)
        for flt in filters:
            op = self._OPS.get(type(flt).__name__)
            attr = getattr(flt, "attribute", None)
            if (
                op is not None
                and attr is not None
                and len(attr) == 1
                and attr[0] in data_cols
            ):
                # PySpark's In dataclass stores its tuple in `.value`
                # (same field name as the scalar filters), and pyarrow's
                # "in" op accepts the tuple directly.
                self.pushed.append((attr[0], op, flt.value))
            else:
                yield flt  # unsupported: Spark evaluates it post-scan

    def partitions(self) -> list[InputPartition]:
        # one split per data file of every unpruned partition
        splits = [
            _FileSplit(os.path.join(d, fn), spec)
            for d, spec in partition_dirs(
                self.table_dir, self.partition_columns, self.prune
            )
            if os.path.isdir(d)
            for fn in sorted(os.listdir(d))
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]
        # An EMPTY table (a write that committed zero data files, or a
        # prune that eliminated every partition) must still present one
        # split: PySpark treats an empty partitions() list as "use the
        # default single partition" and hands read() a None it cannot
        # unpack (EMPTY_AUDIT_r9.md E2). The sentinel yields no batches.
        return splits or [_FileSplit("", {})]

    def read(self, partition: _FileSplit):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # the empty-table sentinel split (and a zero-row-group file, which
        # pyarrow reads as a 0-row table below) carry no batches
        if not partition.path:
            return
        data_fields = [
            f for f in self.schema.fields if f.name not in partition.partition_values
        ]
        table = pq.read_table(
            partition.path,
            columns=[f.name for f in data_fields],
            filters=getattr(self, "pushed", None) or None,
        )
        n = table.num_rows
        # re-attach partition values as constant columns, trailing —
        # PartitionReaderWithPartitionValues semantics (reference A15)
        for col in self.partition_columns:
            table = table.append_column(
                col, pa.array([partition.partition_values[col]] * n, pa.string())
            )
        yield from table.to_batches(max_chunksize=8192)


@dataclass
class _StagedFile(WriterCommitMessage):
    staged_path: str


class EngineTableWriter(DataSourceWriter):
    """Batch writer with a two-phase commit, the structural twin of the
    reference's write path (A17-A23): each task writes its rows to a
    STAGING file and returns its path as the commit message
    (WriteTaskResult); the driver's ``commit`` publishes all staged files
    atomically-enough into the table directory (HiveFileBatchWrite.scala:
    20-69's file-commit half; the reference's second, metastore phase maps
    to the catalog registry here); ``abort`` discards the staging dir, so a
    failed job never leaves partial data visible."""

    # Spark type -> Arrow type for the supported (atomic) write surface,
    # mirroring the reference's CSV validator philosophy (atomic types only,
    # CsvProviderFileWriteBuilder.scala:47-51)
    _PA_TYPES = {"bigint": "int64", "int": "int32", "double": "float64",
                 "string": "string", "boolean": "bool"}

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import uuid

        self.schema = schema
        self.table_dir = options["path"]
        self.overwrite = overwrite
        # Per-job token: published filenames must be unique across commits,
        # or a second append into the same table silently overwrites the
        # first job's part files (and two concurrent jobs would share one
        # staging dir). Mirrors Spark's own jobId-qualified part naming.
        self.job_token = uuid.uuid4().hex[:12]
        self.staging_dir = os.path.join(
            self.table_dir, f"_staging-{self.job_token}"
        )
        for f in schema.fields:
            if f.dataType.simpleString() not in self._PA_TYPES:
                raise ValueError(
                    f"engine_table writes atomic types only; got {f.dataType}"
                )
        os.makedirs(self.staging_dir, exist_ok=True)

    def write(self, iterator) -> WriterCommitMessage:
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return _StagedFile("")
        names = [f.name for f in self.schema.fields]
        pa_schema = pa.schema(
            [(f.name, self._PA_TYPES[f.dataType.simpleString()]) for f in self.schema.fields]
        )
        pdf = pd.DataFrame(rows, columns=names)
        path = os.path.join(self.staging_dir, f"stage-{uuid.uuid4().hex}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=pa_schema, preserve_index=False), path
        )
        return _StagedFile(path)

    def commit(self, messages) -> None:
        import shutil

        if self.overwrite:
            for fn in os.listdir(self.table_dir):
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    os.remove(os.path.join(self.table_dir, fn))
        for i, m in enumerate(messages):
            if m is not None and m.staged_path:
                dest = os.path.join(
                    self.table_dir, f"part-{self.job_token}-{i:05d}.parquet"
                )
                if os.path.exists(dest):
                    raise FileExistsError(
                        f"engine_table commit collision: {dest} already exists"
                    )
                shutil.move(m.staged_path, dest)
        shutil.rmtree(self.staging_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging_dir, ignore_errors=True)


class EngineTableDataSource(DataSource):
    """``spark.read.format("engine_table")`` — options:

    - ``path``: table directory (possibly hive-partitioned)
    - ``partitionColumns``: comma-separated trailing partition columns
    - ``prune.<col>``: static partition filter applied before file listing
    - user-provided ``.schema(...)`` is required (schema-on-write, like the
      reference's HMS-declared schemas — no inference)
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        raise NotImplementedError(
            "engine_table requires an explicit .schema(...) — schemas live "
            "in the catalog registry (schema-on-write), not in inference"
        )

    def reader(self, schema: StructType) -> EngineTableReader:
        return EngineTableReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> EngineTableWriter:
        return EngineTableWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "EngineTableStreamReader":
        return EngineTableStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "EngineTableStreamWriter":
        return EngineTableStreamWriter(schema, self.options)


def register(spark) -> None:
    # Required once the reader implements pushFilters: with the flag off,
    # Spark REFUSES any scan through a pushFilters-capable reader (it
    # will not silently skip pushdown). Dynamically settable, so this is
    # safe under harness-provided vanilla sessions (same defensive-conf
    # pattern as tables.load).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EngineTableDataSource)


class EngineTableStreamReader(SimpleDataSourceStreamReader):
    """Streaming read of an append-only table directory (PySpark 4
    ``SimpleDataSourceStreamReader``).

    The offset is the sorted list of files already consumed — each
    micro-batch reads only files that appeared since the last offset, the
    same progression Spark's own FileStreamSource tracks in its
    metadata log. The reference table format has no streaming capability
    at all (V2Table.scala:45-47: batch-only); this extends the identical
    table layout to incremental consumption. Replays between committed
    offsets (``readBetweenOffsets``) re-derive the file delta, so restart
    recovery is exactly-once as long as files are immutable (they are:
    parquet parts are written once and never appended)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("engine_table stream requires option 'path'")

    def _files(self) -> list[str]:
        return sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )

    def initialOffset(self) -> dict:
        return {"files": []}

    def _rows(self, files: list[str]) -> list:
        import pyarrow.parquet as pq

        cols = [f.name for f in self.schema.fields]
        rows: list = []
        for path in files:
            for batch in pq.ParquetFile(path).iter_batches(columns=cols):
                rows.extend(zip(*(batch.column(c).to_pylist() for c in cols)))
        # materialized (not a generator): the simple-reader protocol
        # prefetches on the driver and pickles the batch for replay, so the
        # per-batch delta must fit driver memory — the simple API's
        # documented trade; high-volume sources use the partition-planning
        # DataSourceStreamReader instead
        return rows

    def read(self, start: dict):
        seen = set(start["files"])
        files = self._files()
        new = [f for f in files if f not in seen]
        return self._rows(new), {"files": files}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start["files"])
        return self._rows([f for f in end["files"] if f not in seen])

    def commit(self, end: dict) -> None:
        pass  # offsets are pure file lists; nothing to clean up


class EngineTableStreamWriter(DataSourceStreamWriter):
    """Streaming write into the engine table layout (PySpark 4
    ``DataSourceStreamWriter``) with the same two-phase discipline as the
    batch writer: tasks stage uuid-named parquet parts, and ``commit``
    publishes them under a ``batch_id={N}`` directory — ATOMICALLY per
    micro-batch, because a replayed batch re-commits into the same
    directory after clearing it (idempotent), mirroring the reference's
    staging-dir-then-metastore protocol (HiveFileBatchWrite.scala:20-69)
    and Spark's own file-sink manifest semantics.

    Scale: each task writes its partition directly (no driver data path);
    commit renames a handful of files — O(#tasks), not O(rows)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("engine_table stream write requires option 'path'")
        self.stage = os.path.join(self.path, "_staging")
        os.makedirs(self.stage, exist_ok=True)

    def write(self, iterator) -> WriterCommitMessage:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        fname = os.path.join(self.stage, f"part-{uuid.uuid4().hex}.parquet")
        cols = [f.name for f in self.schema.fields]
        data = {c: [getattr(r, c) for r in rows] for c in cols}
        pq.write_table(pa.table(data), fname)
        return _StagedFile(staged_path=fname)

    def commit(self, messages, batchId: int) -> None:
        import shutil

        dest = os.path.join(self.path, f"batch_id={batchId}")
        if os.path.isdir(dest):  # replayed batch: idempotent re-publish
            shutil.rmtree(dest)
        os.makedirs(dest)
        for m in messages:
            if m is not None:
                os.rename(
                    m.staged_path,
                    os.path.join(dest, os.path.basename(m.staged_path)),
                )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged_path):
                os.remove(m.staged_path)
