"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
process's CPU count) and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec, ...}, "sf": ...}. The FULL payload (including
per-key run spreads and per-run codegen compile counts) is also written
to a run-stamped file under
bench_runs/ (gitignored; override with $SPARK_GRAFT_BENCH_OUT) so a
stdout-tail capture can never truncate it (round-4: BENCH_r04 parsed
null because queries_runs pushed the line past the driver's 2,000-char
tail). The COMMITTED reference artifact BENCH_LOCAL.json is only ever
updated explicitly via ``python bench.py --update-local`` — a plain run
must leave ``git status`` clean (round-7: the driver's bench run
side-effect-clobbered the committed artifact twice).

Each query is executed once as a full materializing action (noop sink —
unlike ``count()``, it cannot skip projected columns) after a session
warm-up; wall-clock includes planning + execution, not session startup.

The payload carries a fixture fingerprint (per-table rows + bytes) so a
cross-round timing shift caused by regenerated fixtures (round 4's
uniform +30%) is detectable instead of masquerading as a regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_sql_dsv2_extension_spark.registry import load_all
from spark_sql_dsv2_extension_spark.session import get_spark

# Headline list version 2 (round 5). v1 = the round-1..4 50-key list.
# v2 adds the five most expensive extended-section queries (promoted per
# round-4 verdict ask #7): ext_coverage_maximization,
# ext_equidepth_histogram, ext_dup_pair_bleu, ext_burrows_delta,
# agg_salted_twophase. The stdout payload reports BOTH the v2 total
# ("value") and the v1-subset total ("total_v1") so rounds stay
# comparable across the version bump.
HEADLINE_VERSION = 2

HEADLINE_V1 = [
    "scan_parquet",
    "scan_filter_pushdown",
    "count_star_fastpath",
    "join_multi_key_chain",
    "join_inner_equi",
    "join_left_anti",
    "join_asof_time",
    "join_broadcast_hint",
    "join_skew_salted",
    "join_range_banded",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume",
    "tpch_q8_market_share",
    "agg_hash_group",
    "agg_rollup",
    "agg_count_distinct",
    "win_running_sum_rows",
    "topk_per_group",
    "set_except",
    "fn_string",
    "fn_json",
    "subq_exists_correlated",
    "udaf_pandas_grouped",
    "stream_tumbling_agg",
    "ext_exact_dedup",
    "ext_near_dedup_minhash",
    "ext_knn_cosine",
    "ext_tfidf_topterms",
    "ext_text_stats",
    "ext_bm25",
    "ext_stratified_sample",
    "ext_corpus_pipeline",
    "ext_knn_ivf_trained",
    "ext_chunk_documents",
    "ext_unigram_logprob",
    "tpch_q2_min_cost_supp",
    "ext_hypertable_rollup",
    "ext_timeseries_densify",
    "ext_dedup_survivorship",
    "ext_hll_union",
    "ext_dsir_importance",
    "join_bloom_runtime",
    "ext_winnow_fingerprints",
    "ext_ivfpq_search",
    "ext_point_in_time_join",
    "ext_intradoc_dedup",
    "ext_kneser_ney_bigrams",
]

HEADLINE_V2_PROMOTED = [
    "ext_coverage_maximization",
    "ext_equidepth_histogram",
    "ext_dup_pair_bleu",
    "ext_burrows_delta",
    "agg_salted_twophase",
]

HEADLINE = HEADLINE_V1 + HEADLINE_V2_PROMOTED

# Remaining round-4 additions plus the heaviest round-5 distributed-
# window conversions, timed once each and reported under
# "extended_queries" WITHOUT entering the headline total.
EXTENDED = [
    "ext_ndcg_eval",
    "ext_poisson_bootstrap_ci",
    "ext_kaplan_meier_retention",
    "ext_item_cooccurrence_lift",
    "ext_walk_forward_splits",
    # round-5 conversions (operators/quantiles.py helpers)
    "ext_file_skip_effectiveness",
    "ext_rfm_segmentation",
    "ext_behavior_similarity",
    "ext_retrieval_auc",
    "ext_psm_nearest_match",
    # round-6 conversion: RANGE frame as banded bucket equi-join
    "win_range_frame",
    # round-8 thaw registrations (timed for trend visibility; headline
    # membership is frozen at v2 so cross-round totals stay comparable)
    "ext_paragraph_dedup",
    "ext_dedup_cascade_report",
    "join_asof_tolerance",
    "join_interval_point_containment",
    "agg_kll_quantile_invariant",
    "ext_label_propagation_bounded",
    "ext_holt_winters_additive",
    "ext_anomaly_mad_rolling",
    "ext_shard_skew_rebalance",
    "ext_ann_ivf_nprobe_curve",
    # round-9 tranche-2 thaw registrations
    "ext_weighted_median",
    "ext_dbscan_core_points",
    "ext_l_diversity_audit",
    "ext_energy_distance",
    "ext_bloom_size_planner",
]


def fixture_fingerprint(sf_dir: str) -> dict[str, dict[str, int]]:
    """Per-table row count (parquet footer) + file bytes: detects fixture
    regeneration between rounds without hashing 100s of MB."""
    import pyarrow.parquet as pq

    fp: dict[str, dict[str, int]] = {}
    try:
        for fn in sorted(os.listdir(sf_dir)):
            if not fn.endswith(".parquet"):
                continue
            path = os.path.join(sf_dir, fn)
            fp[fn[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "bytes": os.path.getsize(path),
            }
    except Exception:  # fingerprint is diagnostics; never fail the bench
        pass
    return fp


def _noise_ratio_vs_committed(
    repo: str, timings: dict[str, float], fp_digest: str, cpus: int
) -> float | None:
    """Median per-key wall-time ratio of THIS run vs the committed
    BENCH_LOCAL.json reference — the run's uniform machine-condition
    factor (r7 verdict ask #4c: driver-vs-builder at byte-identical HEAD
    measured a uniform median 1.15x, p90 1.34x; a fixed per-key threshold
    cannot survive that, a normalized one can). Returns None when the
    reference is absent, at a different sf/fixture vintage or core count,
    or shares too few keys for a stable median."""
    import statistics

    try:
        ref = json.load(open(os.path.join(repo, "BENCH_LOCAL.json")))
    except Exception:
        return None
    if ref.get("fixture_fp") != fp_digest:
        return None  # different sf or regenerated fixtures: not comparable
    if ref.get("cpus") != cpus:
        return None  # other (or unrecorded) core count: not comparable
    ratios = [
        timings[k] / ref["queries"][k]
        for k in set(timings) & set(ref.get("queries", {}))
        if ref["queries"][k] and timings[k]
    ]
    if len(ratios) < 20:
        return None
    return round(statistics.median(ratios), 3)


def _codegen_counters(spark) -> tuple[int, int]:
    """(classes compiled, compile ns) so far in this JVM: the count of
    Spark's CodegenMetrics compilation-time histogram and CodeGenerator's
    cumulative compile time. In local mode the executors share the
    driver's JVM, so these cover every compile a query causes."""
    jvm = spark.sparkContext._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime(),
    )


def _run_key(spark, spec, sf_dir: str, codegen: dict) -> float:
    """One materializing run of ``spec`` (noop sink); returns its wall time
    and appends the run's codegen compile count and compile seconds to
    ``codegen[spec.name]``. The counters are read outside the timed region."""
    c0, ns0 = _codegen_counters(spark)
    t0 = time.perf_counter()
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = round(time.perf_counter() - t0, 4)
    c1, ns1 = _codegen_counters(spark)
    rec = codegen.setdefault(spec.name, {"compiles": [], "compile_s": []})
    rec["compiles"].append(c1 - c0)
    rec["compile_s"].append(round((ns1 - ns0) / 1e9, 4))
    return dt


def _default_out_path(repo: str) -> str:
    """Run-stamped full-payload path under bench_runs/ (gitignored).

    The committed reference artifact (BENCH_LOCAL.json) is never the
    default target: a bench run must not dirty the checkout. Promote a
    run explicitly with ``python bench.py --update-local``.
    """
    import datetime

    d = os.path.join(repo, "bench_runs")
    os.makedirs(d, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime(
        "%Y%m%dT%H%M%SZ"
    )
    return os.path.join(d, f"bench_{stamp}_pid{os.getpid()}.json")


def main(update_local: bool = False) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.abspath(__file__))
    # --update-local's contract is "refresh the committed reference
    # artifact" — an explicit flag beats the ambient env var, and a run
    # that had both gets a stderr note naming the target it chose.
    if update_local:
        out_path = os.path.join(repo, "BENCH_LOCAL.json")
        if os.environ.get("SPARK_GRAFT_BENCH_OUT"):
            print(
                "bench: --update-local overrides SPARK_GRAFT_BENCH_OUT; "
                f"writing {out_path}",
                file=sys.stderr,
            )
    else:
        out_path = os.environ.get(
            "SPARK_GRAFT_BENCH_OUT"
        ) or _default_out_path(repo)
    specs = load_all()
    spark = get_spark("bench")
    # Warm the JVM + parquet footer caches with a trivial action.
    spark.range(1).count()

    # Best-of-2 per key: the first pass pays JIT/codegen warm-up, the
    # second measures the steady state; min is the standard noise-robust
    # aggregate for wall-clock microbenchmarks. Both runs are recorded so
    # the payload carries the cold total (comparable to single-run rounds)
    # and the per-key run spread.
    runs: dict[str, list[float]] = {}
    codegen: dict[str, dict[str, list]] = {}
    for _run in range(2):
        # Cache hygiene between passes (r16 verdict ask #4): Spark's
        # CacheManager matches on plan identity, so without this, pass 2
        # silently reused pass 1's InMemoryRelations and the min
        # undercounted every key's cache-fill cost. Each pass now starts
        # cache-clean; in-pass caching stays, because it is part of the
        # operator's own single-invocation design.
        if _run > 0:
            spark.catalog.clearCache()
        for key in HEADLINE:
            spec = specs.get(key)
            if spec is None:
                continue
            runs.setdefault(key, []).append(_run_key(spark, spec, sf_dir, codegen))
    # Third run for sub-second keys (r8 verdict ask #7): a min-of-2 on a
    # key dominated by Python-worker/JIT warm-up can read 2x off the
    # committed value from one cold sample (udaf_pandas_grouped in r8);
    # one extra steady-state sample makes the min noise-robust at a cost
    # of ~a second total. Threshold is on the CURRENT min so a key that
    # regressed past 1 s still shows the regression.
    spark.catalog.clearCache()  # third-run sweep starts cache-clean too
    for key, v in runs.items():
        if min(v) < 1.0:
            v.append(_run_key(spark, specs[key], sf_dir, codegen))
    timings = {k: min(v) for k, v in runs.items()}
    total = round(sum(timings.values()), 4)
    total_v1 = round(sum(t for k, t in timings.items() if k in set(HEADLINE_V1)), 4)
    cold_total = round(sum(v[0] for v in runs.values()), 4)
    extended: dict[str, float] = {}
    for key in EXTENDED:
        spec = specs.get(key)
        if spec is None:
            continue
        extended[key] = _run_key(spark, spec, sf_dir, codegen)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = spark.sparkContext.defaultParallelism
    fp = fixture_fingerprint(sf_dir)
    # stdout must survive a last-2000-chars tail capture (round-4 lesson),
    # so the line carries a 12-hex digest of the fingerprint; the full
    # per-table detail goes to the BENCH_LOCAL file.
    import hashlib

    fp_digest = hashlib.sha256(
        json.dumps(fp, sort_keys=True).encode()
    ).hexdigest()[:12]
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "headline_version": HEADLINE_VERSION,
        # r17 measurement-hygiene flag (additive): passes 2+ start with
        # spark.catalog.clearCache(), so the per-key min no longer reuses
        # an earlier pass's InMemoryRelations (r16 verdict ask #4). Makes
        # per-key minima slightly HIGHER than r16-vintage payloads for
        # cache-reliant keys — that is the honest cache-fill cost, not a
        # regression; cold_total_wall is methodology-identical to r16.
        "cache_cleared_between_passes": True,
        "total_v1": total_v1,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "fixture_fp": fp_digest,
        "cpus": cpus,
        # self-explaining stderr (round-6 ask #8): any "WindowExec: No
        # Partition Defined" warnings in this run's log come from the
        # quantiles helpers' P-row offsets branch (operators/quantiles.py
        # — a window over <= spark.sql.shuffle.partitions rows, a plan
        # constant), NOT from a data-sized global window; the inventory
        # guardrail test (tests/test_plans.py) proves the latter class
        # is extinct.
        "stderr_note": (
            "WindowExec no-partition warnings = quantiles.py P-row "
            "offsets branch (bounded by shuffle.partitions) + r16 "
            "plan-constant windows (coverage K-row running sum, "
            "equidepth B-row bounds); all allowlisted-bounded; benign"
        ),
    }
    noise = _noise_ratio_vs_committed(repo, timings, fp_digest, cpus)
    if noise is not None:
        payload["noise_ratio_vs_committed"] = noise
    full = dict(payload)
    full["extended_queries"] = extended
    full["cold_total_wall"] = cold_total
    full["runs_per_key"] = 2
    full["agg"] = "min"
    full["fixture_fingerprint"] = fp
    full["queries_runs"] = runs  # per-key spread: file only, never stdout
    # per key (headline and extended), per run: classes compiled and
    # compile seconds -- codegen is a layer inside every key's wall time
    full["codegen_runs"] = codegen
    try:
        with open(out_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except Exception:
        pass  # read-only checkout must not break the stdout contract
    print(json.dumps(payload))


def compare(path_a: str, path_b: str) -> None:
    """Compare two full bench payloads (``python bench.py --compare A B``):
    per-key ratios over the shared key set, split totals per headline list
    version, and a fixture-fingerprint equality check so a vintage change
    (round 4's regenerated fixtures) is reported instead of read as a
    regression."""
    a = json.load(open(path_a))
    b = json.load(open(path_b))
    fa, fb = a.get("fixture_fp"), b.get("fixture_fp")
    same_fx = fa is not None and fa == fb
    print(f"fixtures: {'SAME' if same_fx else 'DIFFERENT'} ({fa} vs {fb})"
          + ("" if same_fx else "  — timing deltas include a vintage shift"))
    qa, qb = a.get("queries", {}), b.get("queries", {})
    shared = sorted(set(qa) & set(qb))
    ta, tb = sum(qa[k] for k in shared), sum(qb[k] for k in shared)
    print(f"shared keys: {len(shared)}  total {ta:.2f}s -> {tb:.2f}s "
          f"({tb / ta:.3f}x)" if ta else "no shared keys")
    def ratio(k: str) -> float:
        # timings are round(.,4): a sub-0.05 ms key can record 0.0. A
        # 0 -> positive shift ranks as inf (worst) so the report surfaces
        # it instead of burying it at rank 0 and crashing on print.
        if qa[k]:
            return qb[k] / qa[k]
        return float("inf") if qb[k] else 1.0

    worst = sorted(shared, key=lambda k: -ratio(k))[:8]
    for k in worst:
        print(f"  {qa[k]:7.3f} -> {qb[k]:7.3f}  {ratio(k):5.2f}x  {k}")


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        main(update_local="--update-local" in sys.argv[1:])
