"""The main correctness gate: every registered query vs its DuckDB oracle.

One parametrized test per inventory key — exactly what the driver's t2 does
at sf0.01 (here at sf0.001 by default for speed; PARITY_SF_DIR overrides).
Every registered key must carry an exact DuckDB oracle (enforced below).
"""

from __future__ import annotations

import inspect

import pytest

from spark_sql_dsv2_extension_spark.registry import REGISTRY, load_all, query

from .parity import compare

SPECS = load_all()


@pytest.mark.parametrize("key", sorted(SPECS))
def test_query_parity(key, spark, duck, sf_dir):
    spec = SPECS[key]
    # every registered key carries an exact DuckDB oracle (the rows-only
    # weaker path died in round 3; keep registration honest)
    assert spec.oracle is not None, f"{key} registered without an oracle"
    sdf = spec.fn(spark, sf_dir).toPandas()
    odf = duck.sql(spec.oracle).df()
    compare(sdf, odf, key)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    # the driver's t1 gate is rows > 0 — mirror it exactly (the old >= 0
    # could never fail)
    assert len(rows) > 0 and len(df.columns) >= 4


def test_oracle_keys_subset():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    # the driver sees keys in registration order
    assert list(q) == list(REGISTRY)
    assert len(q) == 462
    # registered functions take exactly the QueryFn arguments: a tuning
    # keyword would let a call disagree with its constant-built oracle
    for k, spec in SPECS.items():
        assert list(inspect.signature(spec.fn).parameters) == ["spark", "sf_dir"], k
    with pytest.raises(TypeError):
        query("k")
