"""The benchmark's three workloads and their output checks.

Each workload runs passes of operations, one at a time (a closed loop with
one client). A pass calls ``ctx.run_op`` once per operation; the context
times it, counts failures and, in a traced run, opens the tracer's spans.
Engine modules are imported inside the functions, because the runner
re-imports the engine between its set-ups.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

# At sf0.01 a key's table loads can outweigh its execution; these keys keep
# execution the larger share of the pass (tpch_q5, tpch_q8 and
# join_multi_key_chain are build-heavier and dearer, so they are left out).
SQL_KEYS = (
    "scan_filter_pushdown",
    "join_inner_equi",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_volume",
    "agg_hash_group",
    "agg_rollup",
    "agg_count_distinct",
    "win_running_sum_rows",
    "set_except",
    "subq_exists_correlated",
    "fn_json",
)

# Build-heavy extension keys that persist intermediates; the dearest ones
# (ext_dedup_survivorship, ext_dup_pair_bleu, ext_knn_ivf_trained) are left
# out to keep a run short.
LLM_KEYS = (
    "ext_near_dedup_minhash",
    "ext_tfidf_topterms",
    "ext_bm25",
    "ext_hll_union",
    "ext_text_stats",
)


@dataclass(frozen=True)
class Workload:
    name: str
    run_pass: Callable  # (ctx, pass_no, check) -> None
    keys: tuple[str, ...]
    checks: Callable  # (ctx, duck) -> list of failure messages


# -- query workloads ------------------------------------------------------------
def plan(ctx, df) -> None:
    """In a traced run, time Catalyst on its own by forcing the physical
    plan before the action."""
    if ctx.traced:
        with ctx.tracer.phase("plan", "catalyst.plan"):
            df._jdf.queryExecution().executedPlan()


def query_pass(ctx, pass_no: int, check: bool) -> None:
    """Build each registry key, then run it: through a ``noop`` write when
    timed, or collected for the oracle check in the warm-up pass."""
    tracer = ctx.tracer
    for index, key in enumerate(ctx.order):
        def op(key=key):
            with tracer.phase("build"):
                df = ctx.specs[key].fn(ctx.spark, ctx.sf_dir)
            plan(ctx, df)
            with tracer.phase("exec"):
                if check:
                    ctx.outputs[key] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

        ctx.run_op(pass_no, index, key, op)


def query_checks(ctx, duck) -> list[str]:
    """Each collected output against the key's DuckDB oracle."""
    from tests.parity import compare

    failures = []
    for key, pdf in ctx.outputs.items():
        try:
            compare(pdf, duck.sql(ctx.specs[key].oracle).df(), key)
        except AssertionError as exc:
            failures.append(str(exc)[:300])
    return failures


# -- catalog lifecycle ------------------------------------------------------------
TABLE_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_returnflag STRING, ship_q STRING"
)
SOURCE_DDL = "l_orderkey BIGINT, l_quantity DOUBLE, ship_q STRING"
SLICES = 2
DROPS = 12
NS, TABLE = "default", "lineitem_q"


@dataclass
class CatalogPlan:
    """What the seed picks for the catalog workload, once per run: the
    overwritten year, the ship quarter the pruned reads select (inside
    that year) and the quarters dropped at the end."""

    year: str
    quarter: str
    drops: list[str]
    quarters: list[str]


def catalog_plan(ctx) -> CatalogPlan:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ship = pq.read_table(
        os.path.join(ctx.sf_dir, "lineitem.parquet"), columns=["l_shipdate"]
    ).column(0)
    pairs = zip(pc.year(ship).to_pylist(), pc.quarter(ship).to_pylist())
    quarters = sorted({f"{y}-Q{q}" for y, q in pairs})
    year = ctx.rng.choice(sorted({q[:4] for q in quarters}))
    quarter = ctx.rng.choice([q for q in quarters if q.startswith(year)])
    drops = sorted(ctx.rng.sample([q for q in quarters if q != quarter], DROPS))
    return CatalogPlan(year, quarter, drops, quarters)


def collect(ctx, df) -> list:
    """Run a read-back: plan it, then execute it."""
    plan(ctx, df)
    with ctx.tracer.phase("exec"):
        return df.collect()


def _quantity_stats(ctx, df, *extra) -> tuple[int, ...]:
    """(rows, exact integer-scaled quantity sum, *extra aggregates) of a
    read-back."""
    from pyspark.sql import functions as F

    row = collect(ctx, df.agg(
        F.count(F.lit(1)),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
        *extra,
    ))[0]
    return tuple(int(v or 0) for v in row)


def catalog_pass(ctx, pass_no: int, check: bool) -> None:
    """One table lifecycle through ``EngineCatalog`` in a fresh warehouse."""
    from pyspark.sql import functions as F

    import spark_sql_dsv2_extension_spark.tables as tables
    from spark_sql_dsv2_extension_spark.catalog import EngineCatalog
    from spark_sql_dsv2_extension_spark.sources.datasource import (
        EngineTableReader,
        register,
    )

    plan = ctx.catalog_plan
    tracer = ctx.tracer
    got = ctx.outputs.setdefault(pass_no, {})
    state = {}
    warehouse = os.path.join(ctx.work_dir, "warehouse", f"pass{pass_no}")
    register(ctx.spark)

    def source():
        with tracer.phase("build"):
            li = tables.load(ctx.spark, ctx.sf_dir, "lineitem")
            cols = [d.split()[0] for d in TABLE_DDL.split(", ")][:-1]
            state["src"] = li.select(
                *cols,
                F.concat(
                    F.year("l_shipdate").cast("string"), F.lit("-Q"),
                    F.quarter("l_shipdate").cast("string"),
                ).alias("ship_q"),
            )

    def create():
        state["cat"] = EngineCatalog(ctx.spark, "bench", warehouse)
        state["cat"].create_table(NS, TABLE, TABLE_DDL, partition_by=["ship_q"])

    def append(i):
        src = state["src"]
        state["cat"].insert(NS, TABLE, src.filter(F.col("l_orderkey") % SLICES == i))

    def overwrite():
        src = state["src"]
        rows = src.filter(
            (F.col("l_orderkey") % SLICES == 0)
            & F.col("ship_q").startswith(plan.year)
        )
        state["cat"].insert(NS, TABLE, rows, overwrite=True, dynamic=True)

    def list_parts(tag):
        got[f"partitions_{tag}"] = len(state["cat"].list_partitions(NS, TABLE))

    def read_pruned():
        with tracer.phase("build"):
            df = state["cat"].load_table(NS, TABLE)
            df = df.filter(F.col("ship_q") == plan.quarter)
        got["pruned"] = _quantity_stats(ctx, df)

    def alter():
        state["cat"].alter_table(NS, TABLE, add_columns="l_note STRING")

    def read_evolved():
        """The full read-back, with the added column, which reads NULL."""
        with tracer.phase("build"):
            df = state["cat"].load_table(NS, TABLE)
        got["evolved"] = _quantity_stats(ctx, df, F.count("l_note"))

    def engine_table_read():
        options = {
            "path": state["cat"]._table_dir(NS, TABLE),
            "partitionColumns": "ship_q",
            "prune.ship_q": plan.quarter,
        }
        with tracer.phase("build"):
            reader = ctx.spark.read.format("engine_table").schema(SOURCE_DDL)
            df = reader.options(**options).load()
        got["engine_table"] = _quantity_stats(ctx, df)
        if ctx.traced:
            from pyspark.sql.types import StructType

            lowered = {k.lower(): v for k, v in options.items()}
            splits = EngineTableReader(StructType.fromDDL(SOURCE_DDL), lowered)
            tracer.counts["sources.engine_table_splits"] += len(
                [s for s in splits.partitions() if s.path]
            )

    def drop_partitions():
        for quarter in plan.drops:
            state["cat"].drop_partition(NS, TABLE, {"ship_q": quarter})

    def drop_table():
        state["cat"].drop_table(NS, TABLE)

    steps = [("source", source), ("create_table", create)]
    steps += [(f"insert_append{i}", lambda i=i: append(i)) for i in range(SLICES)]
    steps += [
        ("insert_overwrite", overwrite),
        ("list_partitions", lambda: list_parts("after_overwrite")),
        ("read_pruned", read_pruned),
        ("alter_table", alter),
        ("read_evolved", read_evolved),
        ("engine_table_read", engine_table_read),
    ]
    steps += [
        ("drop_partitions", drop_partitions),
        ("list_partitions", lambda: list_parts("after_drops")),
        ("drop_table", drop_table),
    ]
    for index, (name, fn) in enumerate(steps):
        ctx.run_op(pass_no, index, name, fn)


def catalog_expected(duck, plan: CatalogPlan) -> dict:
    """What every pass must read back, from DuckDB over the source parquet.

    The dynamic overwrite replaces only the quarters of the chosen year
    that receive slice-0 rows; every other quarter keeps every slice."""
    q = "CAST(round(l_quantity * 100) AS BIGINT)"
    rows = duck.sql(f"""
        WITH src AS (
          SELECT strftime(l_shipdate, '%Y') || '-Q' || quarter(l_shipdate) AS yq,
                 l_orderkey % {SLICES} = 0 AS s0, {q} AS q
          FROM lineitem),
        over AS (
          SELECT DISTINCT yq FROM src
          WHERE s0 AND yq LIKE '{plan.year}-%'),
        kept AS (
          SELECT * FROM src
          WHERE s0 OR yq NOT IN (SELECT yq FROM over))
        SELECT count(*), sum(q),
               count(*) FILTER (WHERE yq = '{plan.quarter}'),
               coalesce(sum(q) FILTER (WHERE yq = '{plan.quarter}'), 0),
               (SELECT count(*) FROM src),
               (SELECT count(*) FROM src WHERE s0 AND yq LIKE '{plan.year}-%')
        FROM kept
    """).fetchone()
    total, qsum, quarter_n, quarter_q, source_rows, overwrite_rows = rows
    return {
        "partitions_after_overwrite": len(plan.quarters),
        "pruned": (quarter_n, quarter_q),
        "evolved": (total, qsum, 0),
        "engine_table": (quarter_n, quarter_q),
        "partitions_after_drops": len(plan.quarters) - len(plan.drops),
        "rows_inserted": source_rows + overwrite_rows,
    }


def catalog_checks(ctx, duck) -> list[str]:
    want = catalog_expected(duck, ctx.catalog_plan)
    ctx.rows_inserted_per_pass = want.pop("rows_inserted")
    failures = []
    for pass_no, got in ctx.outputs.items():
        for name, value in want.items():
            if got.get(name) != value:
                failures.append(
                    f"catalog pass {pass_no} {name}: got {got.get(name)}, "
                    f"want {value}"
                )
    return failures


WORKLOADS = {
    w.name: w
    for w in (
        # execution-bound: scans, joins, TPC-H, aggregates, window, set op,
        # subquery, JSON
        Workload("sql_analytics", query_pass, SQL_KEYS, query_checks),
        # build-bound: dedup, text statistics, sketches; cache and
        # checkpoint fills
        Workload("llm_pipeline", query_pass, LLM_KEYS, query_checks),
        # the catalog's write and read paths on one partitioned table
        Workload("catalog_lifecycle", catalog_pass, (), catalog_checks),
    )
}
