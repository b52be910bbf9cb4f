"""Degenerate-input engine-agreement audit (round-8 helper, non-pytest).

The oracle inventory proves Spark == DuckDB on the shared fixtures; this
helper probes the DEGENERATE corner the fixtures never reach — identical
embeddings, constant daily series, single-row tables, sub-shingle-length
documents — and reports, per key, whether the two engines still agree
(both raise is a FAIL: the driver cannot hash an exception; both-empty
or equal rows is OK). It found the four gates applied in round 8
(tranche-2: degree-assortativity / random-projection-JL / SAX; tranche-3:
t-closeness) and the registered `ext_near_dedup_minhash` sub-3-word
precondition (fix deferred per the stale-row rule, ROADMAP_r11).

Usage:
    python tests/degenerate_audit.py                  # all registered keys
    python tests/degenerate_audit.py key1 key2 ...    # targeted
    python tests/degenerate_audit.py --empty [...]    # ZERO-ROW fixtures
                                                      # (round-9 frontier)
    python tests/degenerate_audit.py --nulls [...]    # NULL-bearing fixtures
                                                      # (round-10 frontier)
    python tests/degenerate_audit.py --extreme [...]  # adversarial VALUES
                                                      # (round-11 frontier)
    python tests/degenerate_audit.py --chaos [...]    # NULL x extreme x
                                                      # empty-dim interactions
                                                      # (round-12 frontier)
    python tests/degenerate_audit.py --ragged [...]   # SHAPE malformations:
                                                      # ragged arrays, broken
                                                      # JSON, degenerate text
                                                      # (round-13 frontier)
    python tests/degenerate_audit.py --ragged-chaos [...]  # SHAPE x NULL:
                                                      # ragged rows with NULL
                                                      # neighbors composed onto
                                                      # the chaos tables
                                                      # (round-14 frontier)
    python tests/degenerate_audit.py --lattice [...]  # NULL rows ON the
                                                      # sampling lattice: ids
                                                      # congruent to every
                                                      # modulo-sampling filter
                                                      # in the engine
                                                      # (round-15 frontier)

Keys whose plan needs tables the degenerate set lacks, or that are
streaming-only, report SKIP. Exit status 1 if any DIVERGE.
Convention: run this over every thaw tranche BEFORE its registration
round, and over new registrations in their round.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MON = dt.datetime(2024, 1, 1)  # a Monday: ISO-week-truncation anchor

# physical sort order of each fixture table (the id-sorted file contract
# scan_file_metadata's row_index oracle depends on)
_SORT_KEYS = {
    "documents": ["doc_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "part": ["p_partkey"],
    "embeddings": ["vec_id"],
}


def build_degenerate_fixtures(tmp: str) -> None:
    """One crafted dir per run, covering all ten fixture tables: 3
    constant-value daily events for one user; 3 byte-identical embeddings
    in one label; a single 2-word document; a 2-row single-group lineitem
    whose quantities round to 0 and prices are constant; single-row
    customer / orders / part / supplier / nation / region (one QI group,
    one sensitive bucket, every join degenerate to 0-or-1 matches).
    Column types mirror the driver fixtures exactly (int32 keys where the
    generator used int32)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = [(i, MON + dt.timedelta(days=i), 1, "view", 1.0) for i in range(3)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in ev], pa.int64()),
                "ts": pa.array([r[1] for r in ev], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in ev], pa.int64()),
                "event_type": pa.array([r[3] for r in ev], pa.string()),
                "value": pa.array([r[4] for r in ev], pa.float64()),
                "props": pa.array(["{}"] * len(ev), pa.string()),
            }
        ),
        f"{tmp}/events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(3), pa.int64()),
                "embedding": pa.array([[0.1] * 64] * 3, pa.list_(pa.float32())),
                "label": pa.array([0, 0, 0], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], pa.int64()),
                "text": pa.array(["hello world"], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["t"], pa.string()),
                "n_chars": pa.array([11], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([1, 2], pa.int64()),
                "l_partkey": pa.array([0, 0], pa.int64()),
                "l_suppkey": pa.array([0, 0], pa.int64()),
                "l_linenumber": pa.array([1, 1], pa.int32()),
                "l_quantity": pa.array([0.4, 0.4], pa.float64()),
                "l_extendedprice": pa.array([10.0, 10.0], pa.float64()),
                "l_discount": pa.array([0.0, 0.0], pa.float64()),
                "l_tax": pa.array([0.0, 0.0], pa.float64()),
                "l_returnflag": pa.array(["A", "A"], pa.string()),
                "l_linestatus": pa.array(["O", "O"], pa.string()),
                "l_shipdate": pa.array([MON, MON], pa.timestamp("us")),
            }
        ),
        f"{tmp}/lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1], pa.int64()),
                "c_name": pa.array(["c1"], pa.string()),
                "c_nationkey": pa.array([0], pa.int32()),
                "c_mktsegment": pa.array(["BUILDING"], pa.string()),
                "c_acctbal": pa.array([100.0], pa.float64()),
            }
        ),
        f"{tmp}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1], pa.int64()),
                "o_custkey": pa.array([1], pa.int64()),
                "o_orderstatus": pa.array(["O"], pa.string()),
                "o_totalprice": pa.array([100.0], pa.float64()),
                "o_orderdate": pa.array([MON], pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"], pa.string()),
            }
        ),
        f"{tmp}/orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([0], pa.int64()),
                "p_name": pa.array(["part zero"], pa.string()),
                "p_brand": pa.array(["Brand#0"], pa.string()),
                "p_type": pa.array(["STANDARD"], pa.string()),
                "p_size": pa.array([1], pa.int32()),
                "p_retailprice": pa.array([1.0], pa.float64()),
            }
        ),
        f"{tmp}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([0], pa.int64()),
                "s_name": pa.array(["s0"], pa.string()),
                "s_nationkey": pa.array([0], pa.int32()),
                "s_acctbal": pa.array([1.0], pa.float64()),
            }
        ),
        f"{tmp}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0], pa.int32()),
                "n_name": pa.array(["NATION0"], pa.string()),
                "n_regionkey": pa.array([0], pa.int32()),
            }
        ),
        f"{tmp}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0], pa.int32()),
                "r_name": pa.array(["REGION0"], pa.string()),
            }
        ),
        f"{tmp}/region.parquet",
    )


def build_null_fixtures(tmp: str) -> None:
    """NULL-bearing versions of all ten fixture tables (round-10
    frontier): every NULLABLE value column carries at least one NULL
    somewhere — NULL text/lang/source, NULL embedding vectors and
    labels, NULL prices/quantities/discounts, NULL names/segments/
    priorities, a NULL shipdate/orderdate — because at 100 TB a column
    that CAN be null WILL be null somewhere (failed extraction, schema
    drift, a partner feed's empty field). Primary ids and the events
    ``ts`` column stay NON-NULL: ingestion assigns both, and a NULL
    event-time is a malformed-record problem for a quarantine step, not
    an operator-semantics question (documented scoping choice). Column
    types mirror the driver fixtures exactly. Contract: both-equal under
    the driver-matched canonicalizer = OK; an exception on either side
    or a value/shape mismatch = DIVERGE."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = dt.timedelta(hours=1)
    d = dt.timedelta(days=1)
    ev = [
        (0, MON, 1, "view", 1.0, "{}"),
        (1, MON + h, 1, "click", 2.0, "{}"),
        (2, MON + 2 * h, 2, "purchase", None, "{}"),   # value NULL
        (3, MON + d, 2, None, 3.0, "{}"),              # event_type NULL
        (4, MON + d + h, 1, "purchase", 4.0, None),    # props NULL
        (5, MON + 2 * d, 2, "view", 5.0, "{}"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in ev], pa.int64()),
                "ts": pa.array([r[1] for r in ev], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in ev], pa.int64()),
                "event_type": pa.array([r[3] for r in ev], pa.string()),
                "value": pa.array([r[4] for r in ev], pa.float64()),
                "props": pa.array([r[5] for r in ev], pa.string()),
            }
        ),
        f"{tmp}/events.parquet",
    )
    vecs = [
        [0.1 + 0.01 * i for i in range(64)],
        [0.9 - 0.01 * i for i in range(64)],
        None,                                           # embedding NULL
        [0.5] * 32 + [-0.5] * 32,
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(4), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 1, 0, None], pa.int32()),  # label NULL
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    docs = [
        (1, "the quick brown fox jumps over it", "en", "web", 33),
        (2, None, "en", "web", None),                  # text + n_chars NULL
        (3, "hello world again and again ok", None, "books", 30),  # lang NULL
        (4, "short words here too yes fine", "de", None, 29),      # source NULL
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array([r[4] for r in docs], pa.int64()),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    li = [
        (1, 0, 0, 1, 5.0, 100.0, 0.05, 0.02, "A", "F", MON),
        (2, 0, 0, 1, None, 200.0, 0.0, 0.0, "R", "O", MON + d),   # qty NULL
        (3, 0, 0, 2, 3.0, None, 0.1, 0.0, None, "F", MON + d),    # price+flag NULL
        (4, 0, 0, 1, 2.0, 50.0, None, None, "N", "O", None),      # disc/tax/date NULL
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
                "l_partkey": pa.array([r[1] for r in li], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in li], pa.int64()),
                "l_linenumber": pa.array([r[3] for r in li], pa.int32()),
                "l_quantity": pa.array([r[4] for r in li], pa.float64()),
                "l_extendedprice": pa.array([r[5] for r in li], pa.float64()),
                "l_discount": pa.array([r[6] for r in li], pa.float64()),
                "l_tax": pa.array([r[7] for r in li], pa.float64()),
                "l_returnflag": pa.array([r[8] for r in li], pa.string()),
                "l_linestatus": pa.array([r[9] for r in li], pa.string()),
                "l_shipdate": pa.array([r[10] for r in li], pa.timestamp("us")),
            }
        ),
        f"{tmp}/lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3], pa.int64()),
                "c_name": pa.array(["c1", None, "c3"], pa.string()),
                "c_nationkey": pa.array([0, 1, 0], pa.int32()),
                "c_mktsegment": pa.array(
                    ["BUILDING", None, "AUTOMOBILE"], pa.string()
                ),
                "c_acctbal": pa.array([100.0, None, 50.0], pa.float64()),
            }
        ),
        f"{tmp}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3], pa.int64()),
                "o_custkey": pa.array([1, 2, 1], pa.int64()),
                "o_orderstatus": pa.array(["O", None, "F"], pa.string()),
                "o_totalprice": pa.array([100.0, None, 200.0], pa.float64()),
                "o_orderdate": pa.array([MON, MON + d, None], pa.timestamp("us")),
                "o_orderpriority": pa.array(
                    ["1-URGENT", None, "2-HIGH"], pa.string()
                ),
            }
        ),
        f"{tmp}/orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([0, 1], pa.int64()),
                "p_name": pa.array(["part zero", None], pa.string()),
                "p_brand": pa.array(["Brand#0", None], pa.string()),
                "p_type": pa.array(["STANDARD", None], pa.string()),
                "p_size": pa.array([1, None], pa.int32()),
                "p_retailprice": pa.array([1.0, None], pa.float64()),
            }
        ),
        f"{tmp}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([0, 1], pa.int64()),
                "s_name": pa.array(["s0", None], pa.string()),
                "s_nationkey": pa.array([0, 1], pa.int32()),
                "s_acctbal": pa.array([1.0, None], pa.float64()),
            }
        ),
        f"{tmp}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1], pa.int32()),
                "n_name": pa.array(["NATION0", None], pa.string()),
                "n_regionkey": pa.array([0, 1], pa.int32()),
            }
        ),
        f"{tmp}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int32()),
                "r_name": pa.array(["REGION0", None], pa.string()),
            }
        ),
        f"{tmp}/region.parquet",
    )


def build_extreme_fixtures(tmp: str) -> None:
    """ADVERSARIAL-VALUE versions of all ten fixture tables (round-11
    frontier, opened after the NULL frontier closed): every column is
    NON-NULL (that dimension is audited separately) but carries the
    values a 100 TB corpus will eventually contain — unicode with
    engine-divergent case mappings (ß), combining codepoints, CJK and
    emoji; regex metacharacters inside data; zero / subnormal /
    overflow-to-inf embedding vectors; half-cent and 1e7-magnitude
    money; 100% discounts and negative (refund) values; epoch-0,
    leap-day, ISO-week-boundary, and 23:59:59.999999 timestamps;
    int32-max sizes and labels; exact duplicate rows differing only in
    their key. Contract identical to the other modes: both-equal under
    the driver-matched canonicalizer = OK; an exception on either side
    or a value/shape mismatch = DIVERGE."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    h = dt.timedelta(hours=1)
    ev = [
        # rounding edge (half-cent), duplicate full values (ids 0/1),
        # refund, sub-cent precision, 1e7 magnitude, µs-edge + ISO-week
        # + leap-day timestamps
        (0, dt.datetime(2024, 1, 1, 10), 1, "view", 0.005, "{}"),
        (1, dt.datetime(2024, 1, 1, 10), 1, "view", 0.005, "{}"),
        (2, dt.datetime(2024, 2, 29, 23, 59, 59, 999999), 1, "purchase",
         9999999.99, '{"k": "42"}'),
        (3, dt.datetime(2024, 12, 30), 2, "purchase", 123.456789,
         '{"k": null}'),
        (4, dt.datetime(2024, 12, 31, 23, 59, 59, 999999), 2, "click",
         -5.0, '{"k": [1, 2]}'),
        (5, dt.datetime(2024, 7, 1), 2, "purchase", 0.0001, "{}"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in ev], pa.int64()),
                "ts": pa.array([r[1] for r in ev], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in ev], pa.int64()),
                "event_type": pa.array([r[3] for r in ev], pa.string()),
                "value": pa.array([r[4] for r in ev], pa.float64()),
                "props": pa.array([r[5] for r in ev], pa.string()),
            }
        ),
        f"{tmp}/events.parquet",
    )
    vecs = [
        [0.1 + 0.01 * i for i in range(64)],          # normal
        [0.0] * 64,                                    # zero vector: norm 0
        [1e30] * 64,                                   # square overflows f32->inf path
        [1e-40] * 64,                                  # float32 subnormal
        [-0.0] * 32 + [0.0] * 32,                      # negative zero
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(5), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 1, 2147483647, 2, 0], pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    long_doc = " ".join("token%d" % (i % 7) for i in range(400))
    docs = [
        (1, "STRASSE \u00df \u00fcber na\u00efve caf\u00e9 ok", "de", "web"),
        (2, "\u4e2d\u6587 \u6587\u672c \u6d4b\u8bd5 emoji \U0001f680 ok", "zh", "web"),
        (3, "cafe\u0301 noe\u0308l deja vu encore une fois", "fr", "books"),
        (4, "a.b (c) [d] {e} * + ? end of regex", "en", "news"),
        (5, long_doc, "en", "web"),
        (6, "STRASSE \u00df \u00fcber na\u00efve caf\u00e9 ok", "de", "news"),  # exact dup text
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": pa.array([r[1] for r in docs], pa.string()),
                "lang": pa.array([r[2] for r in docs], pa.string()),
                "source": pa.array([r[3] for r in docs], pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in docs], pa.int64()
                ),
            }
        ),
        f"{tmp}/documents.parquet",
    )
    li = [
        # half-cent qty, 100% discount, 1e7 price, refund-negative
        # price, exact duplicate rows (linenumber apart), week-boundary
        # + leap-day dates
        (1, 0, 0, 1, 0.005, 9999999.99, 0.0, 0.0, "A", "F",
         dt.datetime(2024, 2, 29)),
        (1, 0, 0, 2, 49.999999, 0.01, 1.0, 0.999, "R", "O",
         dt.datetime(2024, 12, 30)),
        (2, 1, 1, 1, 1000000.0, -123.45, 0.5, 0.0, "N", "O",
         dt.datetime(2024, 12, 31)),
        (3, 1, 1, 1, 7.0, 1234.125, 0.05, 0.02, "A", "F",
         dt.datetime(2024, 1, 1)),
        (3, 1, 1, 2, 7.0, 1234.125, 0.05, 0.02, "A", "F",
         dt.datetime(2024, 1, 1)),
    ]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
                "l_partkey": pa.array([r[1] for r in li], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in li], pa.int64()),
                "l_linenumber": pa.array([r[3] for r in li], pa.int32()),
                "l_quantity": pa.array([r[4] for r in li], pa.float64()),
                "l_extendedprice": pa.array([r[5] for r in li], pa.float64()),
                "l_discount": pa.array([r[6] for r in li], pa.float64()),
                "l_tax": pa.array([r[7] for r in li], pa.float64()),
                "l_returnflag": pa.array([r[8] for r in li], pa.string()),
                "l_linestatus": pa.array([r[9] for r in li], pa.string()),
                "l_shipdate": pa.array(
                    [r[10] for r in li], pa.timestamp("us")
                ),
            }
        ),
        f"{tmp}/lineitem.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3, 4], pa.int64()),
                "c_name": pa.array(
                    ["M\u00fcller#1", "na\u00efve \u00df#2", "c#3", "c#4"],
                    pa.string(),
                ),
                "c_nationkey": pa.array([0, 1, 0, 1], pa.int32()),
                "c_mktsegment": pa.array(
                    ["BUILDING", "building", "AUTOMOBILE", "BUILDING"],
                    pa.string(),
                ),
                "c_acctbal": pa.array(
                    [-999999.99, 9999999.99, 0.005, 0.005], pa.float64()
                ),
            }
        ),
        f"{tmp}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
                "o_custkey": pa.array([1, 2, 1, 3], pa.int64()),
                "o_orderstatus": pa.array(["O", "F", "O", "P"], pa.string()),
                "o_totalprice": pa.array(
                    [0.005, 9999999.99, 123.456789, 0.005], pa.float64()
                ),
                "o_orderdate": pa.array(
                    [
                        dt.datetime(1970, 1, 1),
                        dt.datetime(2024, 2, 29),
                        dt.datetime(2024, 12, 30),
                        dt.datetime(2024, 12, 31),
                    ],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], pa.string()
                ),
            }
        ),
        f"{tmp}/orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([0, 1, 2], pa.int64()),
                "p_name": pa.array(
                    [
                        "part (zero) *star* end",
                        "na\u00efve \u00df part again",
                        "part zero",
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    ["Brand#0", "Brand#2147483647", "Brand#0"], pa.string()
                ),
                "p_type": pa.array(
                    ["STANDARD", "PROMO", "ECONOMY"], pa.string()
                ),
                "p_size": pa.array([1, 2147483642, 6], pa.int32()),
                "p_retailprice": pa.array(
                    [0.005, 9999999.99, 1.0], pa.float64()
                ),
            }
        ),
        f"{tmp}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([0, 1], pa.int64()),
                "s_name": pa.array(
                    ["s\u00df#0", "s#1"], pa.string()
                ),
                "s_nationkey": pa.array([0, 1], pa.int32()),
                "s_acctbal": pa.array([-0.0, 9999999.99], pa.float64()),
            }
        ),
        f"{tmp}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1], pa.int32()),
                "n_name": pa.array(
                    ["NATI\u00d6N0", "NATION1"], pa.string()
                ),
                "n_regionkey": pa.array([0, 1], pa.int32()),
            }
        ),
        f"{tmp}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([0, 1], pa.int32()),
                "r_name": pa.array(
                    ["R\u00c9GION0", "REGION1"], pa.string()
                ),
            }
        ),
        f"{tmp}/region.parquet",
    )


def build_chaos_fixtures(tmp: str) -> None:
    """COMBINED-frontier fixtures (opened at round-12 close, after the
    adversarial-VALUE frontier hit 0 DIVERGE): the extreme-value tables
    with NULL rows APPENDED whose non-NULL columns are themselves
    adversarial, plus one fully EMPTY dimension (region) — probing the
    INTERACTIONS the per-dimension audits cannot reach: a NULL group key
    beside a 1e7-magnitude value (the agg_kll ADVICE shape), a zero-norm
    vector with a NULL label (scorable gate × label gate), a NULL text
    beside a 2-word ß document (shingle gate × case fold), a non-scalar
    JSON payload on a NULL-typed event, and every region join running
    against zero dimension rows. Contract identical to the other modes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build_extreme_fixtures(tmp)

    def append(name: str, rows: dict) -> None:
        path = f"{tmp}/{name}.parquet"
        t = pq.read_table(path)
        extra = pa.table(
            {f.name: pa.array(rows[f.name], f.type) for f in t.schema}
        )
        pq.write_table(pa.concat_tables([t, extra]), path)

    append(
        "events",
        {
            "event_id": [6, 7],
            "ts": [dt.datetime(1970, 1, 1), dt.datetime(2024, 2, 29)],
            "user_id": [3, 3],
            "event_type": [None, "purchase"],
            "value": [9999999.99, None],
            "props": ['{"k": [1, 2]}', None],
        },
    )
    append(
        "embeddings",
        {
            "vec_id": [5, 6],
            "embedding": [[0.0] * 64, None],
            "label": [None, 2147483647],
        },
    )
    append(
        "documents",
        {
            "doc_id": [7, 8],
            "text": [None, "STRASSE ß"],
            "lang": ["de", None],
            "source": [None, "web"],
            "n_chars": [None, 9],
        },
    )
    append(
        "lineitem",
        {
            "l_orderkey": [4, 4],
            "l_partkey": [2, 2],
            "l_suppkey": [1, 0],
            "l_linenumber": [1, 2],
            "l_quantity": [None, 0.005],
            "l_extendedprice": [9999999.99, None],
            "l_discount": [1.0, None],
            "l_tax": [None, 0.999],
            "l_returnflag": [None, "R"],
            "l_linestatus": ["O", None],
            "l_shipdate": [dt.datetime(2024, 12, 31, 23, 59, 59, 999999), None],
        },
    )
    append(
        "customer",
        {
            "c_custkey": [5],
            "c_name": [None],
            "c_nationkey": [1],
            "c_mktsegment": [None],
            "c_acctbal": [-999999.99],
        },
    )
    append(
        "orders",
        {
            "o_orderkey": [5],
            "o_custkey": [5],
            "o_orderstatus": [None],
            "o_totalprice": [9999999.99],
            "o_orderdate": [None],
            "o_orderpriority": [None],
        },
    )
    append(
        "part",
        {
            "p_partkey": [3],
            "p_name": [None],
            "p_brand": [None],
            "p_type": ["PROMO"],
            "p_size": [2147483647],
            "p_retailprice": [None],
        },
    )
    append(
        "supplier",
        {
            "s_suppkey": [2],
            "s_name": [None],
            "s_nationkey": [1],
            "s_acctbal": [None],
        },
    )
    append(
        "nation",
        {"n_nationkey": [2], "n_name": [None], "n_regionkey": [0]},
    )
    # the one EMPTY dimension: every region join (TPC-H q5/q8 shapes)
    # must agree on zero dimension rows while the facts stay populated
    t = pq.read_table(f"{tmp}/region.parquet")
    pq.write_table(t.slice(0, 0), f"{tmp}/region.parquet")


def build_ragged_fixtures(tmp: str) -> None:
    """SHAPE-malformation fixtures (round-13 frontier, opened after the
    chaos frontier closed): the extreme-value tables with rows APPENDED
    whose VALUES are ordinary but whose SHAPE is broken — the payloads a
    100 TB corpus accumulates from failed encoders and truncated writes:
    ragged embedding widths (0, 1, 17, 63, 100 elements beside the
    declared 64), malformed / non-object JSON payloads (truncated,
    bare-word, array-root, wrong-case key), and degenerate text shapes
    (an embedded NUL byte, whitespace-only, single-char). Every appended
    cell is NON-NULL (NULL interactions are the chaos mode's dimension)
    and numerically tame (adversarial values are the extreme mode's).
    The class is real in-registry: the r12 ADVICE found by inspection
    that a ragged scorable embedding raises INVALID_ARRAY_INDEX in
    ext_knn_binary_hamming's pack() under ANSI Spark while DuckDB yields
    NULL bits — and DuckDB's list_dot_product raises outright on
    unequal-length pairs where Spark's zip_with pads with NULL. This
    mode hunts that whole class mechanically. Contract identical to the
    other modes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build_extreme_fixtures(tmp)

    def append(name: str, rows: dict) -> None:
        path = f"{tmp}/{name}.parquet"
        t = pq.read_table(path)
        extra = pa.table(
            {f.name: pa.array(rows[f.name], f.type) for f in t.schema}
        )
        pq.write_table(pa.concat_tables([t, extra]), path)

    # ragged widths beside the declared 64; values all scorable (non-zero,
    # tame magnitude) so ONLY the shape is abnormal, plus one extra
    # normal-width vector so ragged x normal pairs are guaranteed
    append(
        "embeddings",
        {
            "vec_id": [5, 6, 7, 8, 9, 10],
            "embedding": [
                [],
                [0.5],
                [0.1 + 0.01 * i for i in range(17)],
                [0.2 + 0.01 * i for i in range(63)],
                [0.3 + 0.001 * i for i in range(100)],
                [0.4 + 0.001 * i for i in range(64)],
            ],
            "label": [0, 1, 2, 0, 1, 2],
        },
    )
    append(
        "documents",
        {
            "doc_id": [7, 8, 9],
            "text": ["nul\x00byte inside this text ok", "      ", "x"],
            "lang": ["en", "en", "en"],
            "source": ["web", "web", "web"],
            "n_chars": [28, 6, 1],
        },
    )
    # JSON payloads that parse on neither / only-one engine's lenient
    # path: truncated object, bare word, array root, wrong-case key
    append(
        "events",
        {
            "event_id": [6, 7, 8, 9],
            "ts": [
                dt.datetime(2024, 3, 1, 10),
                dt.datetime(2024, 3, 1, 11),
                dt.datetime(2024, 3, 1, 12),
                dt.datetime(2024, 3, 1, 13),
            ],
            "user_id": [4, 4, 5, 5],
            "event_type": ["view", "purchase", "view", "purchase"],
            "value": [1.0, 2.0, 3.0, 4.0],
            "props": ['{"k": ', "not json", "[]", '{"K": "7"}'],
        },
    )


def build_ragged_chaos_fixtures(tmp: str) -> None:
    """SHAPE x NULL composed fixtures (round-14 frontier — the EIGHTH
    audit dimension, promoted from the r13-close throwaway probe that
    read 56/56 OK on the most-exposed keys): the chaos tables (NULL x
    extreme x empty interactions) with ragged-shape rows APPENDED whose
    NEIGHBORING cells are NULL — the one interaction class no prior mode
    covers, since the ragged fixtures are deliberately all-non-NULL
    (attribution discipline) and the chaos fixtures are all
    shape-regular. Probes: a ragged vector beside a NULL label in the
    same relation as a NULL vector, malformed JSON beside NULL event
    columns, NUL-byte/whitespace text beside NULL lang/source/n_chars —
    so a shape gate that accidentally keys on a NULL neighbor (or a NULL
    gate that assumes regular shape) diverges here and nowhere else.
    Expected near-zero findings: the width gate and json_valid
    quarantine are NULL-safe by construction (len(NULL) = NULL fails the
    gate on both engines). Contract identical to the other modes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build_chaos_fixtures(tmp)

    def append(name: str, rows: dict) -> None:
        path = f"{tmp}/{name}.parquet"
        t = pq.read_table(path)
        extra = pa.table(
            {f.name: pa.array(rows[f.name], f.type) for f in t.schema}
        )
        pq.write_table(pa.concat_tables([t, extra]), path)

    # ragged widths (0, 1, 17, 63, 100) + one normal 64 — now beside
    # NULL labels, in the same relation where chaos already planted a
    # NULL embedding (vec_id 6) and a zero-norm vector (vec_id 5)
    append(
        "embeddings",
        {
            "vec_id": [7, 8, 9, 10, 11, 12],
            "embedding": [
                [],
                [0.5],
                [0.1 + 0.01 * i for i in range(17)],
                [0.2 + 0.01 * i for i in range(63)],
                [0.3 + 0.001 * i for i in range(100)],
                [0.4 + 0.001 * i for i in range(64)],
            ],
            "label": [None, 1, None, 0, None, 2],
        },
    )
    # degenerate text SHAPES beside NULL lang/source/n_chars, in the
    # same relation as chaos's NULL text (doc_id 7)
    append(
        "documents",
        {
            "doc_id": [9, 10, 11],
            "text": ["nul\x00byte inside this text ok", "      ", "x"],
            "lang": [None, "en", "en"],
            "source": ["web", None, "web"],
            "n_chars": [28, 6, None],
        },
    )
    # malformed JSON beside NULL event_type / NULL value, in the same
    # relation as chaos's NULL props (event_id 7)
    append(
        "events",
        {
            "event_id": [8, 9, 10, 11],
            "ts": [
                dt.datetime(2024, 3, 1, 10),
                dt.datetime(2024, 3, 1, 11),
                dt.datetime(2024, 3, 1, 12),
                dt.datetime(2024, 3, 1, 13),
            ],
            "user_id": [4, 4, 5, 5],
            "event_type": [None, "purchase", "view", None],
            "value": [1.0, None, 3.0, None],
            "props": ['{"k": ', "not json", "[]", '{"K": "7"}'],
        },
    )


def build_lattice_fixtures(tmp: str) -> None:
    """SAMPLING-LATTICE x NULL fixtures (round-15 frontier — the NINTH
    audit dimension). Motivation: the r15 concat_ws sweep found a latent
    NULL divergence in fn_from_csv that FOUR NULL-bearing modes had
    missed, because the key samples `o_orderkey % 50 == 0` and every
    prior fixture's ids live in 0..11 — the filter selects zero rows and
    the key passes VACUOUSLY. This mode closes that blind spot
    mechanically: the NULL fixtures plus appended NULL-payload rows
    whose ids sit ON the engine's sampling lattice, so every
    modulo-sampled key finally sees NULL-bearing rows. The lattice is
    derived from a grep of the engine (see CONCAT_WS_AUDIT_r15.md /
    LATTICE_AUDIT_r15.md): o_orderkey mod {2,3,5,10,11,13,20,25,32,40,
    50,100}, doc_id mod {2,5,7,10(0 and 9),13,19,20} plus the <50 /
    >=400 range splits, event_id mod {2,3(all residues),25,100},
    l_orderkey mod {50,100}, user_id mod 50, c_custkey mod 97,
    s_suppkey mod 2 (both parities). id 0 is on EVERY residue-0 class,
    so each table plants its worst row (every nullable field NULL) at
    id 0 and spreads single-field NULLs across the other lattice points.
    Contract identical to the other modes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    build_null_fixtures(tmp)

    def append(name: str, rows: dict) -> None:
        path = f"{tmp}/{name}.parquet"
        t = pq.read_table(path)
        extra = pa.table(
            {f.name: pa.array(rows[f.name], f.type) for f in t.schema}
        )
        # keep the fixture files ID-SORTED: every real sf*.parquet table
        # and every prior mode's fixture is written in ascending id order,
        # and scan_file_metadata's oracle reconstructs _metadata.row_index
        # from that contract — lattice ids (0, 4800, ...) straddle the
        # base ids, so an unsorted concat would break physical row order
        pq.write_table(
            pa.concat_tables([t, extra]).sort_by(
                [(f, "ascending") for f in _SORT_KEYS[name]]
            ),
            path,
        )

    h = dt.timedelta(hours=1)
    # doc 0: all nullable fields NULL, selected by every residue-0
    # sampler AND the doc_id < 50 decontamination split. doc 9: the
    # %10==9 residue. doc 20 / 91 / 247: single-field NULLs on the
    # {2,5,10,20} / {7,13} / {13,19} classes. doc 700: even lattice
    # point on the >=400 incremental-shard side with a NULL source.
    # docs 300/305 (tranche 2): a NEAR-DUP PAIR on the lattice — 18
    # shared words + one appended word (3-shingle jaccard 16/17 ≈ 0.94,
    # above the 0.8 family threshold; identical first-16-word chunk for
    # the paragraph grain), doc 305 carrying the NULL lang neighbor and
    # a DIFFERENT source — so the whole minhash/simhash/ngram/paragraph/
    # survivorship/cross-source dedup family, 0-row under every prior
    # NULL mode, finally processes a qualifying pair beside NULLs.
    # 22 words (tranche 5 widened it from 18): >= SPAN_W=20 so the
    # shared-span dedup grain lights, with two stopwords ("the", "and",
    # ratio 9% >= 5%) and ~110 chars so the corpus-pipeline quality
    # gate admits the group
    _dup18 = (
        "the alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma and tau omega"
    )
    append(
        "documents",
        {
            # tranche 4: docs 10/25 carry the BM25 query terms AND sit
            # on vec_ids with embeddings, so the lexical+vector hybrid
            # retrieval / rank-fusion keys finally produce fused hits;
            # 450/455 are the 4th/5th near-dup copies lifting the shared
            # bigrams to PMI's support floor of 5; 910 is the per-source
            # length outlier (|z| > 2 against web's mean n_chars).
            "doc_id": [0, 9, 10, 20, 25, 91, 247, 300, 305, 350,
                       450, 455, 700, 910],
            "text": [
                None,
                "nine residue words for the ten sampler",
                "data query join data engine speed",
                "twenty lattice words appear here again ok",
                "query data join index scan cost",
                "ninety one covers seven and thirteen fine",
                "two forty seven covers thirteen nineteen",
                _dup18,
                _dup18 + " tau",
                # third near-dup at 350 = 2*5^2*7: the deterministic
                # hash split puts 350 in the EVAL split while 300/305
                # land in train, so decontamination finally finds a
                # contaminated eval doc (>=5 shared 3-grams)
                _dup18 + " upsilon",
                _dup18 + " phi",
                _dup18 + " chi",
                "seven hundred sits on the crawl shard",
                " ".join(f"filler{i}" for i in range(50)),
            ],
            "lang": [None, None, "en", "en", "en", None, "en", "en",
                     None, "en", "en", None, "en", "en"],
            "source": [
                None, "web", "web", None, "web", "web", "web", "web",
                "books", "web", "web", "web", None, "web",
            ],
            "n_chars": [
                None, 39, 33, 41, 31, 42, 41, len(_dup18), None, None,
                None, None, None, 396,
            ],
        },
    )
    # The PREDICATE-WINDOW half of the lattice: the TPC-H-shaped keys
    # filter on 1995-1998 date windows (o_orderdate < 1995-03-15,
    # l_shipdate <= 1998-09-02, [1996-01-01, 1996-04-01), ...), and
    # every prior mode's fixtures use 2024 dates — so ALL of those keys
    # passed the NULL/chaos modes vacuously on zero in-window rows.
    # Lattice dates sit INSIDE the engine's predicate windows so the
    # NULL-bearing rows actually flow through the TPC-H plans.
    #
    # order 0 (all fields NULL, custkey 0 joins the all-NULL customer
    # 0); order 1 covers the odd-parity sampler with a NULL totalprice;
    # 4800 = 2^6*3*5^2 covers {2,3,5,10,20,25,32,40,50,100}; 1430 =
    # 2*5*11*13 covers {10,11,13}; order 50 is the CLEAN lattice row
    # (every modulo-50 key sees one fully-parseable row) with an
    # in-window 1995 date on the BUILDING customer.
    # order 0 (all fields NULL, custkey 0 joins the all-NULL customer
    # 0); order 1430 = 2*5*11*13 covers {10,11,13} (NULL date, NULL
    # price, the %97 customer); order 4800 = 2^6*3*5^2 covers
    # {2,3,5,10,20,25,32,40,50,100} and carries the 1996 q5-window date
    # on the same-nation-ASIA chain; order 50 is the CLEAN mod-50 row
    # (every modulo-50 key sees one fully-parseable row) on the
    # BUILDING customer inside q3's order window; order 100 is the
    # q18 large-volume order with a NULL o_totalprice IN the group key.
    # order 200 (tranche 3, 200 = 2^3*5^2 on the {2,5,10,20,25,40,50,
    # 100} classes): a status-F multi-supplier 1996-Q3 order on the
    # NATION_2 customer — q4's date window, q7's cross-nation shipping
    # pair, and q21's "multi-supplier order with >1 returning supplier"
    # all become non-vacuous through it.
    append(
        "orders",
        {
            "o_orderkey": [0, 4800, 1430, 50, 100, 200]
            + [1000 + 100 * i for i in range(12)],
            "o_custkey": [0, 97, 97, 1, 3, 194] + [3] * 12,
            "o_orderstatus": [None, None, "O", "F", "O", "F"]
            + ["O", "F"] * 6,
            # the 12-order block (ids 1000..2100, all on the %100 class,
            # 1600 also on %32) makes customer 3 agg_having's >=12-order
            # group; prices straddle the 100k thresholds the semi/merge/
            # bloom join keys select on, with two NULLs in the block
            "o_totalprice": [None, 4800.0, None, 50.0, None, 200.0]
            + [150000.0, 120000.0, None, 110000.0, 130000.0, 105000.0,
               500000.0, None, 101000.0, 140000.0, 115000.0, 125000.0],
            "o_orderdate": [
                None,
                dt.datetime(1996, 2, 1),
                None,
                dt.datetime(1995, 2, 1),
                dt.datetime(1996, 6, 1),
                dt.datetime(1996, 8, 1),
            ]
            + [dt.datetime(1996, 1, 1) + dt.timedelta(days=30 * i)
               for i in range(12)],
            "o_orderpriority": [
                None, "3-MEDIUM", None, "1-URGENT", "2-HIGH", "2-HIGH",
            ]
            + ["3-MEDIUM", "5-LOW", "1-URGENT", None, "4-NOT SPECIFIED",
               "3-MEDIUM", "2-HIGH", "5-LOW", "1-URGENT", "3-MEDIUM",
               "2-HIGH", "4-NOT SPECIFIED"],
        },
    )
    # lineitems joined to the lattice orders so the NULL rows FLOW
    # through the order-line joins, with shipdates inside the TPC-H
    # predicate windows: q1's <= 1998-09-02, q3's > 1997-03-15 (order
    # 50's line), a [1996-01-01, 1996-04-01) revenue row, a returned-R
    # line with a NULL discount that rides the ASIA chain into q5 (its
    # revenue aggregate goes NULL), and the 301-qty line that puts
    # order 100 over q18's 300 threshold.
    # tranche-3 lines: order 4800 gains the ECONOMY/"small red"/60-qty
    # line on the NATION_1 supplier (q8 market share via the ASIA
    # customer, q9 %red% profit, q15's [1996-01,1996-04) revenue
    # window, q20's >50-qty promo threshold); order 100 gains the
    # LARGE-part EUROPE/NATION_3 supply line (q2 min-cost, q11
    # important stock); order 200 carries three suppliers with two
    # returning — q21 anti-joins away orders where MORE than one
    # supplier returned — and the NATION_1->NATION_2 shipping line (q7).
    append(
        "lineitem",
        {
            "l_orderkey": [0, 4800, 4800, 4800, 50, 100, 100,
                           200, 200, 200, 1000, 1600, 1600],
            "l_partkey": [0, 1, 0, 4, 0, 1, 6, 4, 0, 1, 10, 10, 4],
            "l_suppkey": [0, 1, 2, 4, 0, 0, 6, 4, 0, 2, 6, 4, 6],
            "l_linenumber": [1, 1, 2, 3, 1, 1, 2, 1, 2, 3, 1, 1, 2],
            # line 1600/2's qty sits in the python-datasource pushdown
            # range [30, 45] (tranche 5)
            "l_quantity": [None, 7.0, 2.0, 60.0, 3.0, 301.0, 3.0,
                           5.0, 1.0, 2.0, 4.0, 6.0, 35.0],
            "l_extendedprice": [70.0, None, 20.0, 120.0, 30.0, 10.0, 45.0,
                                50.0, 10.0, 20.0, 40.0, 60.0, 80.0],
            "l_discount": [0.0, 0.05, None, 0.1, 0.06, 0.0, 0.0,
                           0.0, 0.05, 0.0, 0.0, None, 0.02],
            "l_tax": [None, 0.0, 0.01, 0.0, 0.02, 0.0, 0.01,
                      None, 0.0, 0.0, 0.0, 0.0, 0.0],
            # line 1600/2 is flag A + qty 35: the one row inside the
            # python-datasource pushdown's (flag='A', qty in [30,45]) cut
            "l_returnflag": [None, "N", "R", "N", "A", "N", "N",
                             "R", "N", "N", "N", "N", "A"],
            "l_linestatus": ["O", None, "F", "O", "F", "O", "O",
                             "F", "O", "O", "O", "F", "O"],
            # orders 1000/1600 get lines so the >100k-selective merge/
            # bloom joins produce matches; 1600 (on the %32 class, od
            # 1996-06-29) ships inside the +3-day band for the banded
            # range join
            "l_shipdate": [
                None,
                dt.datetime(1996, 3, 1),
                dt.datetime(1996, 11, 15),
                dt.datetime(1996, 3, 15),
                dt.datetime(1997, 6, 30),
                dt.datetime(1996, 6, 10),
                dt.datetime(1996, 6, 15),
                dt.datetime(1996, 8, 15),
                dt.datetime(1996, 8, 20),
                dt.datetime(1996, 8, 25),
                dt.datetime(1996, 1, 3),
                dt.datetime(1996, 6, 30),
                dt.datetime(1996, 7, 1),
            ],
        },
    )
    # the ASIA region chain q5 needs (no prior mode has an ASIA region,
    # so the six-table star was vacuous in all of them): region 2 ASIA
    # -> nation 2 with a NULL n_name (the NULL lands IN q5's group key)
    # -> supplier 2 and customer 97 both in nation 2. Tranche 3 adds
    # the EUROPE region and the named nations the q2/q7/q8/q11/q20
    # predicates select: NATION_1 (region 0), NATION_2 (region 1),
    # NATION_3 in EUROPE (one nation serves both q2's region cut and
    # q11's nation cut).
    append("region", {"r_regionkey": [2, 3], "r_name": ["ASIA", "EUROPE"]})
    append(
        "nation",
        {
            "n_nationkey": [2, 3, 4, 5],
            "n_name": [None, "NATION_1", "NATION_2", "NATION_3"],
            "n_regionkey": [2, 0, 1, 3],
        },
    )
    # tranche-3 dimension rows: part 4 serves three predicates at once
    # (p_type ECONOMY for q8, name %red% for q9, 'small %' for q20);
    # part 6 is q2's LARGE size-10..20 candidate. Supplier 4 (NATION_1,
    # NULL acctbal — the NULL rides into q20's output) ships the promo
    # volume; supplier 6 (NATION_3/EUROPE) is q2's min-cost and q11's
    # single-nation supply. Customer 194 = 2*97 (on the %97 and parity
    # classes) is q7's NATION_2 counterparty.
    append(
        "part",
        {
            "p_partkey": [4, 6, 10],
            "p_name": [
                "small red widget", "large blue thing",
                "standard green case",
            ],
            "p_brand": ["Brand#1", "Brand#2", "Brand#3"],
            "p_type": ["ECONOMY", "LARGE", "STANDARD"],
            "p_size": [5, 15, 20],
            # part 10 satisfies filter_in_between_like's triple
            # conjunction (Brand#3, size 10..30, type LIKE 'S%') with a
            # NULL retailprice neighbor
            "p_retailprice": [10.0, 45.0, None],
        },
    )
    append(
        "customer",
        {
            "c_custkey": [194],
            "c_name": ["c194"],
            "c_nationkey": [4],
            "c_mktsegment": [None],
            # above the shuffle-hash hint key's >5000 acctbal cut
            "c_acctbal": [9194.0],
        },
    )
    # events 100/200: the %25 and %100 classes finally carry NULLs;
    # user ids 0 and 50 put NULL-bearing rows on the user_id%50 sampler.
    # events 300/400 (tranche 2): a click->purchase pair for user 0, 30
    # minutes apart, with a NULL purchase value and NULL props — the
    # attribution stream-stream join (0-row under every prior NULL mode)
    # finally emits a match, and user 0's click>purchase transition gram
    # is shared with base user 1 so behavior similarity forms a pair.
    # events 500-1300 (tranche 2): a 9-day daily PURCHASE series for
    # user 50 with one NULL value mid-series, feeding the rolling/
    # seasonal/trend time-series keys that need multi-day purchase
    # history (all 0-row under every prior NULL mode — no fixture had
    # more than a 2-day span).
    d = dt.timedelta(days=1)
    append(
        "events",
        {
            "event_id": [100, 200, 300, 400,
                         500, 600, 700, 800, 900, 1000, 1100, 1200, 1300,
                         1400,
                         1500, 1600, 1700, 1800, 1900, 2000,
                         2100, 2200, 2300, 2400, 2500, 2600, 2700, 2800],
            "ts": [
                MON + 3 * h,
                MON + 4 * h,
                MON + 3 * h + dt.timedelta(minutes=30),
                MON + 4 * h,
                MON + 1 * d,
                MON + 2 * d,
                MON + 3 * d,
                MON + 4 * d,
                MON + 5 * d,
                MON + 6 * d,
                MON + 7 * d,
                MON + 8 * d,
                MON + 9 * d,
                MON + 10 * d,
                MON + 11 * d,
                MON + 11 * d + h,
                MON + 11 * d + 2 * h,
                MON + 11 * d + 3 * h,
                MON + 11 * d + 4 * h,
                MON + 11 * d + 5 * h,
                MON + 8 * d,
                MON + 11 * d + 6 * h,
                MON + 11 * d + 7 * h,
                MON + 11 * d + 8 * h,
                MON + 11 * d + 9 * h,
                MON + 12 * d,
                MON + 13 * d,
                MON + 3 * d + 2 * h,
            ],
            "user_id": [0, 50, 0, 0,
                        50, 50, 50, 50, 50, 50, 50, 50, 50, 50,
                        1, 1, 2, 2, 50, 50,
                        1, 1, 50, 2, 50, 50, 50, 1],
            # day 10 makes user 50's purchase count 10 — fn_map_hof's
            # count*10 >= 100 gate finally keeps an entry; events
            # 1500-2000 (tranche 4) give users 1, 2 and 50 the item pair
            # {1, 2} in props.k — the co-occurrence/khop/link-prediction
            # graph family needs pair support >= 3 users and no prior
            # NULL-bearing fixture carried item payloads at all.
            # Tranche 5: event 2100 is the treated-arm POST purchase
            # (users 0/1/2 hash to arm 1, user 50 to arm 0, the midpoint
            # splits around day 5 — diff-in-diff needs all four
            # arm x pre/post cells), and 2200/2300 give item 3 to users
            # 1 and 50 only, and 2400 gives item 4 to user 2 only — the
            # (3,4) pair never co-occurs but shares common neighbors
            # 1 and 2, the non-edge candidate link prediction scores.
            # Events 2500-2700 complete the SECOND full ISO week of
            # daily purchases (Jan 12-14 beside the existing Jan 1-11)
            # so the bounded-DTW weekly-profile key meets its
            # n_full_weeks >= 2 gate; 2800 gives Jan 4 a non-NULL value
            # beside event 700's NULL one, keeping week 1 FULL after the
            # NULL-day exclusion the dtw fix adds.
            "event_type": [
                None, "view", "click", "purchase",
                "purchase", "purchase", "purchase", "purchase", "purchase",
                "purchase", "purchase", "purchase", "purchase", "purchase",
                "view", "view", "view", "view", "view", "view",
                "purchase", "view", "view", "view",
                "purchase", "purchase", "purchase", "view",
            ],
            "value": [
                1.0, None, 2.0, None,
                1.0, 2.0, None, 4.0, 5.0, 4.0, 3.0, 6.0, 7.0, 2.0,
                1.0, 1.0, 1.0, None, 1.0, 1.0,
                3.0, 1.0, 1.0, 1.0, 2.0, 5.0, 3.0, 1.5,
            ],
            "props": [
                "{}", None, "{}", None,
                "{}", "{}", "{}", "{}", "{}", "{}", "{}", "{}", "{}", "{}",
                '{"k": 1}', '{"k": 2}', '{"k": 1}', '{"k": 2}',
                '{"k": 1}', '{"k": 2}',
                "{}", '{"k": 3}', '{"k": 3}', '{"k": 4}',
                "{}", "{}", "{}", "{}",
            ],
        },
    )
    # customer 0: every nullable field NULL on the %97 residue-0 class
    # (and the join target of order 0); customer 97 rides the ASIA
    # chain (nation 2) so the sampler also sees a partially-NULL row
    # that flows through the six-table star
    append(
        "customer",
        {
            "c_custkey": [0, 97],
            "c_name": [None, "c97"],
            "c_nationkey": [0, 2],
            "c_mktsegment": [None, None],
            "c_acctbal": [None, 97.0],
        },
    )
    # tranche-3 embeddings: the IVF/kNN family needs a CORPUS — queries
    # are vec_id < 10 and the trained codebook wants >= 8 centroids, so
    # no prior NULL-bearing fixture (4 vectors, 1 NULL) ever produced a
    # hit. Queries 4-7 + corpus 10-25, all scorable (64-dim, non-zero,
    # tame), deterministic values; 20/21 are a near-identical pair (the
    # embedding near-dup gate), labels carry two NULLs.
    append(
        "embeddings",
        {
            "vec_id": [4, 5, 6, 7] + list(range(10, 26)),
            "embedding": [
                [0.1 + 0.001 * ((i * 7 + j) % 50) for j in range(64)]
                for i in [4, 5, 6, 7]
            ]
            + [
                [0.1 + 0.001 * ((i * 7 + j) % 50) for j in range(64)]
                if i != 21
                else [0.1 + 0.001 * ((20 * 7 + j) % 50) for j in range(63)]
                + [0.1 + 0.001 * ((20 * 7 + 63) % 50) + 0.0001]
                for i in range(10, 26)
            ],
            "label": [0, 1, 2, None,
                      0, 1, 2, 0, 1, 2, 0, 1, 2, 0, None, 2, 0, 1, 2, 0],
        },
    )
    # supplier 2: the EVEN parity class gets its NULL-bearing row (the
    # base fixture's only NULL supplier is odd id 1), in ASIA nation 2
    # to complete q5's same-nation customer-supplier correlation.
    # Suppliers 4 and 6 are the tranche-3 NATION_1 / NATION_3-EUROPE
    # counterparties (see the dimension-row comment above).
    append(
        "supplier",
        {
            "s_suppkey": [2, 4, 6],
            "s_name": [None, "s4", "s6"],
            "s_nationkey": [2, 3, 5],
            "s_acctbal": [None, None, 6.0],
        },
    )


def build_empty_fixtures(tmp: str) -> None:
    """ZERO-ROW versions of all ten fixture tables, byte-identical
    schemas (round-9 extension): at 100 TB an empty source is routine —
    a partition a filter fully prunes, a day with no events, a language
    with no documents — so every key must agree with its oracle on
    empty input too (typically both-empty, or a both-NULL global
    aggregate row). Schemas are derived from the degenerate builder's
    own output so the two fixture sets can never drift apart."""
    import pyarrow.parquet as pq

    inner = tempfile.mkdtemp(prefix="degen_schema_")
    build_degenerate_fixtures(inner)
    for fn in os.listdir(inner):
        t = pq.read_table(os.path.join(inner, fn))
        pq.write_table(t.slice(0, 0), os.path.join(tmp, fn))


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    empty_mode = "--empty" in args
    null_mode = "--nulls" in args
    extreme_mode = "--extreme" in args
    chaos_mode = "--chaos" in args
    ragged_chaos_mode = "--ragged-chaos" in args
    ragged_mode = "--ragged" in args and not ragged_chaos_mode
    lattice_mode = "--lattice" in args
    if (empty_mode or null_mode or extreme_mode or chaos_mode
            or ragged_mode or ragged_chaos_mode or lattice_mode):
        args = [
            a
            for a in args
            if a not in ("--empty", "--nulls", "--extreme", "--chaos",
                         "--ragged", "--ragged-chaos", "--lattice")
        ]
    from spark_sql_dsv2_extension_spark.registry import load_all

    specs = load_all()
    pairs = {k: (s.fn, s.oracle) for k, s in specs.items()}
    keys = args or list(pairs)

    tmp = tempfile.mkdtemp(prefix="degenerate_audit_")
    builder = (
        build_empty_fixtures
        if empty_mode
        else build_null_fixtures
        if null_mode
        else build_extreme_fixtures
        if extreme_mode
        else build_chaos_fixtures
        if chaos_mode
        else build_ragged_fixtures
        if ragged_mode
        else build_ragged_chaos_fixtures
        if ragged_chaos_mode
        else build_lattice_fixtures
        if lattice_mode
        else build_degenerate_fixtures
    )
    builder(tmp)
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("degenerate-audit")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "events", "embeddings", "documents", "lineitem", "customer",
        "orders", "part", "supplier", "nation", "region",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')"
        )

    # canonicalize EXACTLY like the driver gate (tests/parity.py): columns
    # sorted by name, rows order-insensitive, NaN == NULL. A stricter
    # str()-based canon would flag NULL-vs-NaN rows that the driver's
    # value-hash actually accepts.
    from tests.parity import canonical_rows

    def canon(df):
        return (len(df), sorted(df.columns), canonical_rows(df))

    diverged, skipped = [], []
    for key in keys:
        fn, oracle = pairs[key]
        if oracle is None:
            skipped.append(key)
            print(f"SKIP {key}: no oracle")
            continue
        s_res = d_res = None
        s_err = d_err = ""
        try:
            s_res = canon(fn(spark, tmp).toPandas())
        except Exception as e:  # noqa: BLE001 — report, don't mask, any engine error
            s_err = f"{type(e).__name__}: {str(e)[:100]}"
        try:
            d_res = canon(con.sql(oracle).df())
        except Exception as e:  # noqa: BLE001
            d_err = f"{type(e).__name__}: {str(e)[:100]}"
        missing_table = "does not exist" in d_err or "TABLE_OR_VIEW_NOT_FOUND" in s_err
        if missing_table:
            skipped.append(key)
            print(f"SKIP {key}: needs a table outside the degenerate set")
            continue
        if s_res is not None and s_res == d_res:
            print(f"OK   {key}: {s_res[0]} rows, engines agree")
        else:
            diverged.append(key)
            print(f"DIVERGE {key}: spark={s_res or s_err} duck={d_res or d_err}")
    print(
        f"\n{len(keys) - len(diverged) - len(skipped)} ok, "
        f"{len(skipped)} skipped, {len(diverged)} diverged: {diverged}"
    )
    return 1 if diverged else 0


if __name__ == "__main__":
    raise SystemExit(main())
