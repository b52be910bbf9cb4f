"""Driver-condition simulator: run inventory keys under a VANILLA session.

The per-round correctness gate (CORRECTNESS_r{N}.json) runs ``queries()``
under the DRIVER's SparkSession, not the engine's ``session.get_spark`` —
round 1 proved that local parity green does not imply driver green (two keys
diverged on session conf).  This script replicates the driver's conditions
as closely as possible: a fresh JVM, ``SparkSession.builder.master(
"local[N]").getOrCreate()`` with NO engine conf (default shuffle
partitions, default timezone, no nanosAsLong, static partition-overwrite,
Arrow off), then compares each key against its DuckDB oracle exactly like
``tests/parity.compare``.

Usage:  python tests/driver_sim.py [first_n | key1 key2 ...]
With no arguments every registered key runs, in registration order.
Exit status is non-zero if any key fails.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from spark_sql_dsv2_extension_spark.registry import load_all
    from spark_sql_dsv2_extension_spark.tables import TABLE_NAMES, table_path
    from tests.parity import compare

    specs = load_all()
    args = sys.argv[1:]
    if len(args) == 1 and args[0].isdigit():
        keys = list(specs)[: int(args[0])]
    else:
        keys = args or list(specs)

    # the driver's session: nothing but master + an app name
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{table_path(SF_DIR, name)}')"
        )

    failed: list[str] = []
    for i, key in enumerate(keys):
        spec = specs[key]
        try:
            sdf = spec.fn(spark, SF_DIR).toPandas()
            if spec.oracle is None:
                assert len(sdf.columns) > 0
            else:
                odf = con.sql(spec.oracle).df()
                compare(sdf, odf, key)
            print(f"[{i + 1}/{len(keys)}] PASS {key}", flush=True)
        except Exception:
            failed.append(key)
            print(f"[{i + 1}/{len(keys)}] FAIL {key}", flush=True)
            traceback.print_exc()
    print(f"\n{len(keys) - len(failed)}/{len(keys)} pass; failed={failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
