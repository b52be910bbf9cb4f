"""The engine session's own settings, checked on the shared test session."""

from __future__ import annotations

from bench import _codegen_counters
from spark_sql_dsv2_extension_spark.registry import load_all
from spark_sql_dsv2_extension_spark.session import CODEGEN_CACHE_ENTRIES

# perfbench's llm_pipeline pass: more generated classes than Spark's
# default codegen cache of 100 holds
LLM_KEYS = (
    "ext_near_dedup_minhash",
    "ext_tfidf_topterms",
    "ext_bm25",
    "ext_hll_union",
    "ext_text_stats",
)
# classes one pass of LLM_KEYS compiles from a cold cache at sf0.001
PASS_CLASSES = 145


def test_codegen_cache_holds_a_warm_pass(spark, sf_dir):
    """A repeated pass reuses its compiled classes instead of recompiling
    them: with a cache smaller than the pass, LRU eviction recompiles
    nearly every class on every pass."""
    specs = load_all()
    counts = []
    for _ in range(3):
        c0 = _codegen_counters(spark)[0]
        for key in LLM_KEYS:
            specs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        counts.append(_codegen_counters(spark)[0] - c0)
    # A cache smaller than the pass recompiles nearly all of it on every
    # run (138-139 at Spark's default); 8-12 classes per run have code that
    # differs from run to run, which no cache saves. An earlier test can
    # leave part of the pass cached, so the first run is not always cold:
    # judge against the pass's cold size.
    assert counts[2] <= 0.25 * max(counts[0], PASS_CLASSES), counts
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


# keys whose Python workers import the engine package (a pandas UDAF and
# an Arrow UDF)
WORKER_IMPORT_KEYS = ("udaf_pandas_grouped", "ext_winnow_fingerprints")


def test_python_workers_import_the_package_from_any_cwd(sf_dir, tmp_path):
    """A script that finds the package through its own ``sys.path`` (as
    bench.py does), started from another directory with no PYTHONPATH,
    still runs Python-UDF keys: the workers get the package's directory
    from the session, not from the driver's cwd or environment."""
    import os
    import subprocess
    import sys

    from spark_sql_dsv2_extension_spark.session import PACKAGE_ROOT

    script = f"""
import sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from spark_sql_dsv2_extension_spark.registry import load_all
from spark_sql_dsv2_extension_spark.session import get_spark
spark = get_spark("worker_import_test", cpus=2)
specs = load_all()
for key in {WORKER_IMPORT_KEYS!r}:
    specs[key].fn(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
