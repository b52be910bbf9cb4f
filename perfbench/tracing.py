"""Per-layer tracing for the benchmark, recorded from the benchmark's side.

The tracer wraps the engine's public entry points (``tables.load``, the
``EngineCatalog`` methods) without editing them, tags every operation with a
Spark job group, and reads job, stage and storage status back from the
driver's status store. Spans are kept in memory and written out once, when
the run ends.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import MEMORY_COMMAND_NAME

PACKAGE = "spark_sql_dsv2_extension_spark"
MB = 1024.0 * 1024.0

# EngineCatalog methods timed as ``catalog.<method>_s``; update_table_stats
# also counts calls because the write and drop paths call it internally.
CATALOG_METHODS = (
    "create_table",
    "insert",
    "list_partitions",
    "load_table",
    "alter_table",
    "drop_partition",
    "drop_table",
    "update_table_stats",
)


def storage_status(sc) -> tuple[int, float]:
    """Persisted RDDs still registered with the SparkContext, and their
    cached size in MB (memory plus disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return len(infos), size / MB


def _data_files(root: str) -> set[str]:
    return {
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }


class NullTracer:
    """The untraced run: operations and phases cost nothing."""

    def op(self, pass_no: int, index: int, name: str):
        return nullcontext()

    def phase(self, phase: str, span_name: str | None = None):
        return nullcontext()

    def storage_after_op(self) -> None:
        pass


class Tracer:
    """Spans, counters and job groups for one traced run.

    ``op(...)`` opens an operation; ``phase(...)`` opens a build, plan or
    exec span inside it and points Spark's job group at that phase, so the
    jobs each phase fires can be read back per group after the pass.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._groups: list[tuple[str, str]] = []  # (job group, phase)
        self.group_jobs: dict[str, int] = {}  # job group -> jobs it fired
        self._op: str | None = None
        self._phase: str | None = None
        self._py4j = 0
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _set_group(self, group: str | None) -> None:
        calls = self._py4j  # the tracer's own py4j calls are not counted
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        self._py4j = calls

    @contextmanager
    def op(self, pass_no: int, index: int, name: str):
        self._op = f"p{pass_no}:{index}:{name}"
        try:
            with self.phase("op"):
                yield
        finally:
            self._op = None
            self._set_group(None)

    @contextmanager
    def phase(self, phase: str, span_name: str | None = None):
        """A build / load / plan / exec span; its jobs land in their own
        job group."""
        outer = self._phase
        group = f"{self._op}:{phase}"
        self._groups.append((group, phase))
        self._phase = phase
        self._set_group(group)
        py4j0 = self._py4j
        try:
            with self.span(span_name or phase, phase=phase):
                yield
        finally:
            if phase == "build" and outer != "build":
                self.counts["build.py4j_calls"] += self._py4j - py4j0
            self._phase = outer
            if outer is not None:
                self._set_group(f"{self._op}:{outer}")

    # -- wrapping the engine's entry points ------------------------------------
    def _wrap(self, owner, attr: str, span_name: str, phase: str | None = None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.counts[f"{span_name}_calls"] += 1
            if phase is not None and tracer._op is not None:
                with tracer.phase(phase, span_name):
                    return orig(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
        return orig, wrapper

    def install(self) -> None:
        """Wrap ``tables.load`` wherever a module bound it, the
        ``EngineCatalog`` methods, and the py4j client used for builds."""
        tables = importlib.import_module(f"{PACKAGE}.tables")
        catalog = importlib.import_module(f"{PACKAGE}.catalog")
        orig, wrapper = self._wrap(tables, "load", "tables.load", phase="load")
        for name, mod in list(sys.modules.items()):
            if name.startswith(PACKAGE) and mod is not tables:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        self._restore.append((mod, attr, orig))
                        setattr(mod, attr, wrapper)
        for method in CATALOG_METHODS:
            self._wrap(catalog.EngineCatalog, method, f"catalog.{method}")
        self._count_inserted_files(catalog.EngineCatalog)

        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(command, *args, **kwargs):
            # memory commands release Python-side references whenever the
            # garbage collector runs, so they are not part of the count
            if not command.startswith(MEMORY_COMMAND_NAME):
                self._py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = counting_send
        self._restore.append((client, "send_command", send))

    def _count_inserted_files(self, cls) -> None:
        """``catalog.files_written``: data files each ``insert`` adds under
        the catalog root, found by listing it around the call."""
        insert = cls.insert
        tracer = self

        def counted_insert(catalog, *args, **kwargs):
            before = _data_files(catalog.root)
            try:
                return insert(catalog, *args, **kwargs)
            finally:
                tracer.counts["catalog.files_written"] += len(
                    _data_files(catalog.root) - before
                )

        self._restore.append((cls, "insert", insert))
        cls.insert = counted_insert

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- reading Spark's status back -------------------------------------------
    def storage_after_op(self) -> None:
        rdds, mb = storage_status(self.sc)
        self.counts["storage.persisted_rdds"] = max(
            self.counts["storage.persisted_rdds"], rdds
        )
        self.counts["storage.persisted_mb"] = max(
            self.counts["storage.persisted_mb"], mb
        )

    def collect_jobs(self) -> None:
        """Job and stage metrics for every group opened since the last call.

        Jobs fired while a DataFrame is built count as build jobs (those
        inside ``tables.load`` also as ``tables.load_jobs``); every other
        job is execution and contributes its completed stages."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        c = self.counts
        for group, phase in self._groups:
            jobs = tracker.getJobIdsForGroup(group)
            self.group_jobs[group] = len(jobs)
            if phase in ("build", "load"):
                c["build.jobs"] += len(jobs)
                if phase == "load":
                    c["tables.load_jobs"] += len(jobs)
                continue
            c["exec.jobs"] += len(jobs)
            for job in jobs:
                for stage in conv.asJava(store.job(job).stageIds()):
                    attempts = store.stageData(
                        stage, False, jvm.java.util.ArrayList(), False,
                        no_quantiles,
                    )
                    for sd in conv.asJava(attempts):
                        if sd.status().toString() != "COMPLETE":
                            continue
                        c["exec.stages"] += 1
                        c["exec.tasks"] += sd.numTasks()
                        c["exec.input_mb"] += sd.inputBytes() / MB
                        c["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                        c["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                        c["exec.spill_mb"] += sd.diskBytesSpilled() / MB
                        c["exec.executor_run_s"] += sd.executorRunTime() / 1e3
                        c["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        self._groups.clear()

    # -- summaries ----------------------------------------------------------------
    def seconds(self, pass_no: int, name: str | None = None,
                phase: str | None = None, ops: tuple[str, ...] = ()) -> float:
        """Total seconds of the spans of one pass that match a span name, a
        phase and (as a suffix) an operation name."""
        prefix = f"p{pass_no}:"
        return sum(
            rec["end"] - rec["start"]
            for rec in self.spans
            if (rec["op"] or "").startswith(prefix)
            and (name is None or rec["name"] == name)
            and (phase is None or rec.get("phase") == phase)
            and (not ops or (rec["op"] or "").split(":")[-1] in ops)
        )

    def take_counts(self) -> dict[str, float]:
        counts, self.counts = dict(self.counts), defaultdict(float)
        return counts
