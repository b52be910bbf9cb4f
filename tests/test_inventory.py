"""Source inventories of two engine-wide design rules, read with ``ast``
(no Spark):

- every ``.cache()`` / ``.persist(`` call is a kept, measured site;
- every engine file read supplies its schema instead of inferring it.

``localCheckpoint`` leaves are not inventoried here: they are the plan-
truncation mechanism, kept as they are.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark_sql_dsv2_extension_spark",
)

# (module, function) → one reason per kept site in that function: the
# median wall with → without the cache. Each site was kept by a
# with/without A/B: 5 interleaved pairs per key that reaches it, at sf0.01
# and sf0.1 on a 4-core box, cache cleared per run; a site goes when every
# key is neutral or better without it at both scales (without-median ≤
# with-median + with-IQR). A new site needs the same measurement before
# it joins this list.
KEPT_CACHES: dict[tuple[str, str], tuple[str, ...]] = {
    ("extensions/curation.py", "ext_dsir_importance"): (
        "per_doc: 0.67 → 0.79 s at sf0.01, 0.80 → 0.86 s at sf0.1",
    ),
    ("extensions/dedup.py", "_minhash_pairs"): (
        "shingles, 10 keys: ext_dedup_survivorship 1.92 → 2.35 s at sf0.01, "
        "ext_dedup_threshold_curve 1.46 → 1.66 s at sf0.1",
    ),
    ("extensions/dedup.py", "ext_near_dup_containment"): (
        "shingles: 0.76 → 0.90 s at sf0.01",
    ),
    ("extensions/dedup.py", "ext_dup_transitivity_audit"): (
        "pairs: 0.97 → 1.22 s at sf0.01",
    ),
    ("extensions/evaluation.py", "ext_item_cooccurrence_lift"): (
        "user-item set: 0.94 → 1.31 s at sf0.1",
    ),
    ("extensions/evaluation.py", "ext_coverage_maximization"): (
        "doc word sets: 1.36 → 1.72 s at sf0.01, 2.13 → 3.89 s at sf0.1",
    ),
    ("extensions/evaluation.py", "ext_theil_sen_slope"): (
        "daily totals: 0.59 → 0.61 s at sf0.01 (with-IQR 0.02 s)",
    ),
    ("extensions/evaluation.py", "ext_link_prediction_jaccard"): (
        "mutual top-m edges: 1.88 → 2.03 s at sf0.1",
    ),
    ("extensions/evaluation.py", "ext_shuffle_quality_audit"): (
        "hash-prefix sample: 0.24 → 0.32 s at sf0.01",
    ),
    ("extensions/similarity.py", "ext_knn_lsh"): (
        "signatures, 3 keys: ext_knn_lsh 0.62 → 0.77 s at sf0.01, "
        "0.91 → 1.13 s at sf0.1",
    ),
    ("extensions/similarity.py", "ext_knn_ivf"): (
        "cell assignment: 0.57 → 0.73 s at sf0.01",
    ),
    ("extensions/similarity.py", "ext_semdedup"): (
        "cluster assignment: 2.27 → 3.63 s at sf0.01, 10.6 → 28.0 s at sf0.1",
    ),
    ("extensions/similarity.py", "ext_triangle_count"): (
        "triangles: 0.97 → 1.10 s at sf0.1",
    ),
    ("extensions/sketches.py", "ext_kmv_intersection"): (
        "k minimum values: 0.69 → 0.77 s at sf0.01, 0.85 → 0.94 s at sf0.1",
    ),
    ("extensions/text.py", "ext_classifier_metrics"): (
        "label pair counts: 0.50 → 0.59 s at sf0.01, 0.57 → 1.04 s at sf0.1",
    ),
    ("extensions/text.py", "ext_rake_keyphrases"): (
        "phrases: 0.55 → 0.72 s at sf0.01, 0.91 → 1.45 s at sf0.1",
    ),
    ("operators/reshape.py", "ext_hypertable_rollup"): (
        "day aggregate: the three grains share one fact scan, which "
        "test_hypertable_rollup_single_fact_scan pins; timing neutral",
    ),
    ("operators/reshape.py", "ext_funnel_analysis"): (
        "first stage: 0.77 → 0.83 s at sf0.01",
    ),
}

# engine reads that may infer: a text read has a fixed one-column schema,
# and scan_parquet_schema_evolution's mergeSchema read is its point
INFERRING_READS = {
    ("sources/roundtrip.py", "scan_text"),
    ("sources/roundtrip.py", "scan_parquet_schema_evolution"),
}
FILE_READS = {"parquet", "orc", "json", "csv", "load", "text"}


def _calls():
    """(module, enclosing function, Call node) for every call in the
    package, the function being the innermost enclosing ``def``."""
    for root, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            module = os.path.relpath(path, PKG)
            with open(path) as f:
                tree = ast.parse(f.read(), path)

            def visit(node, func):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    func = node.name
                if isinstance(node, ast.Call):
                    yield module, func, node
                for child in ast.iter_child_nodes(node):
                    yield from visit(child, func)

            yield from visit(tree, None)


def _method(call: ast.Call) -> str | None:
    return call.func.attr if isinstance(call.func, ast.Attribute) else None


def _chain(call: ast.Call) -> list[str]:
    """Attribute names along a method chain, outermost last:
    ``spark.read.schema(s).parquet(p)`` → [spark, read, schema, parquet]."""
    names, node = [], call
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names[::-1]


def test_every_cache_site_is_a_kept_measured_site():
    found = Counter(
        (module, func)
        for module, func, call in _calls()
        if _method(call) in ("cache", "persist")
    )
    kept = Counter({site: len(reasons) for site, reasons in KEPT_CACHES.items()})
    assert found == kept, (
        f"cache sites not in KEPT_CACHES: {sorted((found - kept).elements())}; "
        f"KEPT_CACHES entries with no site: {sorted((kept - found).elements())}"
    )


def test_engine_reads_supply_their_schema():
    inferring = sorted(
        (module, func, call.lineno)
        for module, func, call in _calls()
        if _method(call) in FILE_READS
        and {"read", "readStream"} & set(_chain(call))
        and "schema" not in _chain(call)
        and (module, func) not in INFERRING_READS
    )
    assert not inferring, f"reads without .schema(...): {inferring}"


def test_read_inventory_sees_an_inferring_read():
    """Negative control: the chain walk flags a bare read."""
    call = ast.parse("spark.read.option('a', 'b').parquet(p)").body[0].value
    assert _method(call) in FILE_READS and "schema" not in _chain(call)
    call = ast.parse("spark.read.schema(s).parquet(p)").body[0].value
    assert "schema" in _chain(call)
