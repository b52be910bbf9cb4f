"""Layered benchmark for the engine: one workload per run, one client.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

A run sets the engine up several times, runs one untimed pass that warms
the JVM and collects every output for the correctness check, then times
whole passes until ``--seconds`` have elapsed and at least two passes have
run. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics of traced
passes, bracketed by two untraced passes that measure the tracing overhead.
The last line of stdout is one JSON object; the full record, with the
environment and the spans, goes to ``.perfbench/results/``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_sql_dsv2_extension_spark"
SETUPS = 3
MIN_PASSES = 2
DRIVER_MEM = "2g"
# a copy of the engine's sf0.01 test fixtures, so a run reads nothing
# outside the checkout
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

# The end-to-end metrics printed on the last line of an untraced run.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
# Reported on the report lines (and in the result file) where they apply.
REPORT_ONLY = {
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "op_p90_s": "s",
    "failed_ops_frac": "fraction",
    "leaked_storage_mb": "MB",
    "ingest_rows_per_s": "rows/s",
}
# The per-layer metrics printed on the last line of a traced run.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "tables.load_jobs": "count",
    "build_s": "s",
    "build.jobs": "count",
    "build.py4j_calls": "count",
    "storage.persisted_rdds": "count",
    "storage.persisted_mb": "MB",
    "storage.leaked_rdds": "count",
    "storage.leaked_mb": "MB",
    "catalyst.plan_s": "s",
    "exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "catalog.update_table_stats_calls": "count",
    "catalog.files_written": "count",
    "sources.engine_table_splits": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
# Per-layer times of the catalog and sources layers: only the catalog
# workload calls them, so they are reported there and kept off the last line.
CATALOG_LAYER = {
    "catalog.create_table_s": "s",
    "catalog.insert_s": "s",
    "catalog.insert_overwrite_s": "s",
    "catalog.update_table_stats_s": "s",
    "catalog.list_partitions_s": "s",
    "catalog.load_table_s": "s",
    "catalog.read_exec_s": "s",
    "catalog.alter_table_s": "s",
    "catalog.drop_partition_s": "s",
    "catalog.drop_table_s": "s",
    "sources.engine_table_read_s": "s",
}


class Context:
    """What a workload pass needs: the session, inputs, tracer and the
    per-run records the runner reads back."""

    def __init__(self, workload, spark, specs, sf_dir, seed, work_dir):
        from tracing import NullTracer

        self.workload = workload
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        # one query order per run, used by every pass
        self.order = self.rng.sample(workload.keys, len(workload.keys))
        self.work_dir = work_dir
        self.tracer = NullTracer()
        self.traced = False
        self.outputs: dict = {}
        self.ops: list[tuple[int, str, float]] = []  # (pass, op, seconds)
        self.attempted = 0
        self.errors: list[str] = []
        self.catalog_plan = None
        self.rows_inserted_per_pass = 0

    def run_op(self, pass_no: int, index: int, name: str, fn) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(pass_no, index, name):
                fn()
        except Exception as exc:  # one failed op must not end the run
            self.errors.append(f"pass {pass_no} {name}: {exc!r}"[:300])
            return
        self.ops.append((pass_no, name, time.perf_counter() - t0))
        self.tracer.storage_after_op()


# -- set-up -------------------------------------------------------------------
def setup(spark, work_dir: str, cpus: int) -> tuple[object, dict, dict]:
    """Import the engine fresh, build its session, load the registry and
    run the first action. ``spark`` is the previous session (stopped
    first) or None on the cold start."""
    if spark is not None:
        spark.stop()
        for name in [m for m in sys.modules if m.startswith(PACKAGE)]:
            del sys.modules[name]
    t0 = time.perf_counter()
    from spark_sql_dsv2_extension_spark.registry import load_all
    from spark_sql_dsv2_extension_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    t2 = time.perf_counter()
    specs = load_all()
    t3 = time.perf_counter()
    spark.range(1).count()
    t4 = time.perf_counter()
    times = {
        "setup_s": t4 - t0,
        "session.get_spark_s": t2 - t1,
        "registry.load_all_s": t3 - t2,
    }
    return spark, specs, times


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver JVM and of this process."""
    out = {}
    pids = {"jvm": spark.sparkContext._gateway.proc.pid, "python": os.getpid()}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat:
    time the hypervisor gave other tenants while this machine wanted it."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def environment(spark, sf_dir: str, cpus: int) -> dict:
    import duckdb
    import pyspark

    from bench import fixture_fingerprint

    try:
        # a checkout that is not a repository reports no commit, rather
        # than the commit of a repository around it
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "sf_dir": sf_dir,
        "fixture_fingerprint": fixture_fingerprint(sf_dir),
    }


def duck_views(sf_dir: str):
    import duckdb

    from spark_sql_dsv2_extension_spark.tables import TABLE_NAMES, table_path

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


# -- one run --------------------------------------------------------------------
def collect_garbage(spark) -> None:
    """Start a timed pass with both heaps collected, so garbage left by
    earlier passes is not paid for inside it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed_passes(ctx, first_pass: int, seconds: float) -> list[dict]:
    """Whole passes, back to back, until ``seconds`` have elapsed and at
    least ``MIN_PASSES`` have run. Each pass ends with a ``clearCache``,
    after which the storage still registered is read."""
    from tracing import storage_status

    passes = []
    t_start = time.perf_counter()
    while True:
        pass_no = first_pass + len(passes)
        collect_garbage(ctx.spark)
        t0 = time.perf_counter()
        ctx.workload.run_pass(ctx, pass_no, False)
        wall = time.perf_counter() - t0
        ctx.spark.catalog.clearCache()
        rdds, mb = storage_status(ctx.spark.sparkContext)
        passes.append({"pass": pass_no, "pass_s": wall,
                       "storage.leaked_rdds": rdds, "storage.leaked_mb": mb})
        if ctx.traced:
            ctx.tracer.collect_jobs()
            passes[-1].update(ctx.tracer.take_counts())
        if (len(passes) >= MIN_PASSES
                and time.perf_counter() - t_start >= seconds):
            return passes


def layer_metrics(workload, tracer, passes: list[dict], setups: list[dict],
                  untraced_pass_s: float) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's
    totals; set-up layers are medians over the set-ups."""
    from workloads import SLICES

    per_pass = []
    for p in passes:
        def sec(**kw):
            return tracer.seconds(p["pass"], **kw)

        m = {k: p.get(k, 0.0) for k in PER_LAYER if PER_LAYER[k] != "s"}
        m.update({
            "tables.load_s": sec(name="tables.load"),
            "build_s": sec(phase="build", name="build"),
            "catalyst.plan_s": sec(phase="plan"),
            "exec_s": sec(phase="exec"),
            "exec.executor_run_s": p.get("exec.executor_run_s", 0.0),
            "exec.executor_cpu_s": p.get("exec.executor_cpu_s", 0.0),
            "trace.pass_s": p["pass_s"],
            "trace.overhead_s": p["pass_s"] - untraced_pass_s,
        })
        if workload.name == "catalog_lifecycle":
            for method in ("create_table", "update_table_stats",
                           "list_partitions", "load_table", "alter_table",
                           "drop_partition", "drop_table"):
                m[f"catalog.{method}_s"] = sec(name=f"catalog.{method}")
            appends = tuple(f"insert_append{i}" for i in range(SLICES))
            m["catalog.insert_s"] = sec(name="catalog.insert", ops=appends)
            m["catalog.insert_overwrite_s"] = sec(
                name="catalog.insert", ops=("insert_overwrite",)
            )
            m["catalog.read_exec_s"] = sec(
                phase="exec", ops=("read_pruned", "read_evolved")
            )
            m["sources.engine_table_read_s"] = sec(
                name="op", ops=("engine_table_read",)
            )
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    for k in ("session.get_spark_s", "registry.load_all_s"):
        out[k] = statistics.median(s[k] for s in setups)
    return out


def run(args, work_dir: str) -> dict:
    from tracing import NullTracer
    from workloads import WORKLOADS, catalog_plan

    workload = WORKLOADS[args.workload]
    sf_dir = args.sf_dir or FIXTURES
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"fixtures not found: {sf_dir}")
    cpus = len(os.sched_getaffinity(0))

    t_run = time.perf_counter()
    spark, specs, _ = setup(None, work_dir, cpus)
    cold_setup_s = time.perf_counter() - t_run
    setups = []
    for _ in range(SETUPS):
        spark, specs, times = setup(spark, work_dir, cpus)
        setups.append(times)

    marks = {"setups_done": time.perf_counter() - t_run}
    ctx = Context(workload, spark, specs, sf_dir, args.seed, work_dir)
    if workload.name == "catalog_lifecycle":
        ctx.catalog_plan = catalog_plan(ctx)
    # warm-up pass: untimed, collects every output for the check
    workload.run_pass(ctx, 0, True)
    spark.catalog.clearCache()
    marks["warm_pass_done"] = time.perf_counter() - t_run

    def untraced_pass(pass_no: int) -> float:
        collect_garbage(spark)
        t0 = time.perf_counter()
        workload.run_pass(ctx, pass_no, False)
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        return wall

    tracer = None
    untraced_pass_s = None
    first = 1
    ticks0 = cpu_ticks()
    if args.trace:
        # untraced passes before and after the traced ones bracket them, so
        # the overhead estimate does not absorb the warm-up trend
        before = untraced_pass(first)
        first += 1
        from tracing import Tracer

        tracer = ctx.tracer = Tracer(spark)
        ctx.traced = True
        tracer.install()
    passes = timed_passes(ctx, first, args.seconds)
    last = passes[-1]["pass"]
    if args.trace:
        tracer.uninstall()
        ctx.tracer, ctx.traced = NullTracer(), False
        untraced_pass_s = (before + untraced_pass(last + 1)) / 2
    marks["timed_passes_done"] = time.perf_counter() - t_run
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    rss = peak_rss_mb(spark)

    duck = duck_views(sf_dir)
    try:
        ctx.errors += workload.checks(ctx, duck)
    finally:
        duck.close()
    marks["checks_done"] = time.perf_counter() - t_run

    timed_ops = [s for p, _n, s in ctx.ops if first <= p <= last]
    rec = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_p50_s": statistics.median(timed_ops),
        "peak_rss_mb": sum(rss.values()),
        # p90 needs at least ten samples above it
        "op_p90_s": (
            statistics.quantiles(timed_ops, n=10)[-1]
            if len(timed_ops) >= 100 else None
        ),
        "failed_ops_frac": len(ctx.errors) / max(ctx.attempted, 1),
        "leaked_storage_mb": statistics.median(
            p["storage.leaked_mb"] for p in passes
        ),
        "ingest_rows_per_s": None,
    }
    if workload.name == "catalog_lifecycle":
        insert_s = sum(s for p, n, s in ctx.ops
                       if first <= p <= last and n.startswith("insert_"))
        rec["ingest_rows_per_s"] = (
            ctx.rows_inserted_per_pass * len(passes) / insert_s
        )
    layers = (
        layer_metrics(workload, tracer, passes, setups, untraced_pass_s)
        if tracer else {}
    )
    return {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": environment(spark, sf_dir, cpus),
        "cold_setup_s": cold_setup_s,
        "steal_frac": steal,
        "peak_rss_split_mb": rss,
        "marks_s": marks,
        "setups": setups,
        "passes": passes,
        "timed_op_samples": len(timed_ops),
        "untraced_pass_s": untraced_pass_s,
        "attempted": ctx.attempted,
        "errors": ctx.errors,
        "end_to_end": rec,
        "per_layer": layers,
        "ops": ctx.ops,
        "spans": tracer.spans if tracer else [],
        "group_jobs": tracer.group_jobs if tracer else {},
    }


def report(result: dict) -> list[str]:
    """Human-readable lines: every metric by name and unit, or why it is
    not applicable to this run."""
    w = result["workload"]
    e2e = result["end_to_end"]
    lines = [f"# {w}: {len(result['passes'])} timed pass(es), "
             f"{result['timed_op_samples']} op samples, "
             f"{len(result['setups'])} set-ups (medians), "
             f"{100 * result['steal_frac']:.1f}% of CPU time stolen"]
    for name, unit in {**END_TO_END, **REPORT_ONLY}.items():
        value = e2e[name]
        if value is None:
            why = ("catalog_lifecycle only" if name == "ingest_rows_per_s"
                   else f"needs >= 100 op samples, run has "
                        f"{result['timed_op_samples']}")
            lines.append(f"{w} {name} n/a ({why})")
        else:
            lines.append(f"{w} {name} {value:.6g} {unit}")
    for name, value in result["per_layer"].items():
        unit = {**PER_LAYER, **CATALOG_LAYER}[name]
        lines.append(f"{w} {name} {value:.6g} {unit}")
    return lines


def last_line(result: dict) -> dict:
    if result["trace"]:
        units = PER_LAYER
        values = result["per_layer"]
    else:
        units = END_TO_END
        values = result["end_to_end"]
    failed = len(result["errors"])
    return {
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {
            k: {"value": values[k], "unit": u} for k, u in units.items()
        },
    }


def shutdown() -> None:
    """Stop the SparkContext, then the driver JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at EOF on its stdin
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    from workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.sf_dir:
            cmd += ["--sf-dir", args.sf_dir]
        code = subprocess.run(cmd).returncode or code
    return code


def main(argv: list[str]) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=[*WORKLOADS, "all"])
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=5)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--sf-dir", default=None,
                        help="fixture directory (default: perfbench/fixtures/"
                             "sf0.01)")
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    # one scratch directory per run holds every temporary file, the Spark
    # local dirs and the catalog warehouse; it is removed when the run ends
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="scratch-", dir=out_dir)
    os.environ["TMPDIR"] = work_dir
    os.environ["SPARK_LOCAL_DIRS"] = work_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    try:
        result = run(args, work_dir)
    finally:
        shutdown()
        shutil.rmtree(work_dir, ignore_errors=True)

    results_dir = os.path.join(out_dir, "results")
    os.makedirs(results_dir, exist_ok=True)
    path = os.path.join(
        results_dir,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-"
        f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    for line in report(result):
        print(line)
    print(f"# full record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(last_line(result)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
