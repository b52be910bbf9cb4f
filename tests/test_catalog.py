"""Catalog/DDL layer unit tests (reference operators A1-A11, A24-A28)."""

from __future__ import annotations

import os

import pytest

from spark_sql_dsv2_extension_spark.catalog import (
    CatalogError,
    EngineCatalog,
    NoSuchNamespaceError,
    TableAlreadyExistsError,
)


@pytest.fixture()
def cat(spark, tmp_path):
    return EngineCatalog(spark, "hive1_external", str(tmp_path))


SCHEMA = "id BIGINT, name STRING, dt STRING"


def test_namespace_lifecycle(cat):
    assert cat.list_namespaces() == ["default"]
    cat.create_namespace("db1", comment="test db")
    assert cat.namespace_exists("db1")
    meta = cat.load_namespace_metadata("db1")
    assert meta["comment"] == "test db" and "location" in meta

    cat.alter_namespace("db1", {"owner_team": "data"})
    assert cat.load_namespace_metadata("db1")["owner_team"] == "data"
    # reserved props protected (V2ExternalCatalog.scala:311-318)
    with pytest.raises(CatalogError):
        cat.alter_namespace("db1", {"location": "/elsewhere"})
    # multi-level rejected (ImplicitSqlHelper.scala:23-31)
    with pytest.raises(NoSuchNamespaceError):
        cat.create_namespace("a.b")

    cat.create_table("db1", "t", SCHEMA)
    with pytest.raises(CatalogError):  # non-empty guard (:331-333)
        cat.drop_namespace("db1")
    cat.drop_table("db1", "t")
    cat.drop_namespace("db1")
    assert not cat.namespace_exists("db1")


def test_table_lifecycle_and_rename(cat, spark):
    cat.create_table("default", "people", SCHEMA, partition_by=["dt"])
    assert cat.list_tables("default") == ["people"]
    with pytest.raises(TableAlreadyExistsError):
        cat.create_table("default", "people", SCHEMA)

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], SCHEMA
    )
    cat.insert("default", "people", df)
    got = cat.load_table("default", "people")
    assert got.count() == 2
    # partition cols trail (V2Table.scala:37-38)
    assert got.columns == ["id", "name", "dt"]

    cat.rename_table("default", "people", "people2")
    assert cat.list_tables("default") == ["people2"]
    assert cat.load_table("default", "people2").count() == 2

    cat.drop_table("default", "people2")
    assert cat.list_tables("default") == []


def test_bucketed_and_bad_provider_rejected(cat):
    with pytest.raises(CatalogError):
        cat.create_table("default", "b", SCHEMA, bucket_by=("id", 8))
    with pytest.raises(CatalogError):
        cat.create_table("default", "o", SCHEMA, provider="orc_custom")


def test_dynamic_partition_overwrite(cat, spark):
    cat.create_table("default", "fact", SCHEMA, partition_by=["dt"])
    base = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], SCHEMA
    )
    cat.insert("default", "fact", base, overwrite=True)
    # dynamic overwrite touching only d1 must keep d2 intact
    patch = spark.createDataFrame([(9, "z", "d1")], SCHEMA)
    cat.insert("default", "fact", patch, overwrite=True, dynamic=True)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "fact").collect()}
    assert rows == {(9, "d1"), (3, "d2")}
    # static overwrite replaces the whole table (A18 truncate branch)
    cat.insert("default", "fact", patch, overwrite=True, dynamic=False)
    assert cat.load_table("default", "fact").count() == 1


def test_partition_management_and_stats(cat, spark):
    cat.create_table("default", "ev", SCHEMA, partition_by=["dt"])
    df = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], SCHEMA)
    cat.insert("default", "ev", df)
    assert cat.list_partitions("default", "ev") == [{"dt": "d1"}, {"dt": "d2"}]
    assert cat.list_partitions("default", "ev", {"dt": "d2"}) == [{"dt": "d2"}]

    cat.create_partition("default", "ev", {"dt": "d3"})
    assert {"dt": "d3"} in cat.list_partitions("default", "ev")
    assert cat.drop_partition("default", "ev", {"dt": "d3"})
    assert not cat.drop_partition("default", "ev", {"dt": "d3"})  # idempotent

    size = cat.update_table_stats("default", "ev")
    assert size > 0 and cat.table_size("default", "ev") == size
    cat.drop_partition("default", "ev", {"dt": "d2"})
    assert cat.table_size("default", "ev") < size  # stats follow mutations

    with pytest.raises(NotImplementedError):
        cat.replace_partition_metadata("default", "ev", {})


def test_external_table_keeps_data(cat, spark, tmp_path):
    loc = str(tmp_path / "ext_data")
    cat.create_table("default", "ext", SCHEMA, location=loc)
    cat.insert("default", "ext", spark.createDataFrame([(1, "a", "d")], SCHEMA))
    cat.drop_table("default", "ext")
    assert os.path.exists(loc)  # EXTERNAL: drop keeps data (A7/A25 rule)


def test_csv_json_providers_roundtrip(cat, spark):
    for provider in ("csv", "json"):
        cat.create_table("default", f"t_{provider}", "id BIGINT, name STRING",
                         provider=provider)
        df = spark.createDataFrame([(1, "x"), (2, "y")], "id BIGINT, name STRING")
        cat.insert("default", f"t_{provider}", df)
        back = cat.load_table("default", f"t_{provider}")
        assert {(r.id, r.name) for r in back.collect()} == {(1, "x"), (2, "y")}


def test_catalog_isolation(spark, tmp_path):
    # two named catalogs over one warehouse are fully isolated (A1)
    c1 = EngineCatalog(spark, "cat1", str(tmp_path))
    c2 = EngineCatalog(spark, "cat2", str(tmp_path))
    c1.create_table("default", "only_in_1", SCHEMA)
    assert c1.list_tables("default") == ["only_in_1"]
    assert c2.list_tables("default") == []
    # registry persists across instances (like HMS across sessions)
    c1b = EngineCatalog(spark, "cat1", str(tmp_path))
    assert c1b.list_tables("default") == ["only_in_1"]


# -- round-2 additions: A4/A6/A22/A26 + SQL addressing ----------------------


@pytest.mark.parametrize("provider", ["parquet", "orc", "json"])
def test_alter_table_full_surface(cat, spark, provider):
    """A6 (V2ExternalCatalog.scala:204-234): properties, schema add/rename,
    comment, owner, location — with data re-read after each schema change,
    for every provider that resolves file columns by name."""
    cat.create_table("default", "t6", "id BIGINT, name STRING", provider=provider)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, name STRING")
    cat.insert("default", "t6", df)

    cat.alter_table("default", "t6", set_properties={"k": "v"},
                    comment="c1", owner="teamX")
    meta = cat._table_meta("default", "t6")
    assert meta.properties["k"] == "v"
    assert meta.comment == "c1" and meta.owner == "teamX"
    cat.alter_table("default", "t6", unset_properties=["k"])
    assert "k" not in cat._table_meta("default", "t6").properties

    # add column: old files read the new column as typed NULL
    cat.alter_table("default", "t6", add_columns="score DOUBLE")
    out = cat.load_table("default", "t6")
    assert out.columns == ["id", "name", "score"]
    assert all(r.score is None for r in out.collect())
    # new inserts carry the added column; both generations coexist
    cat.insert("default", "t6", spark.createDataFrame(
        [(3, "c", 1.5)], "id BIGINT, name STRING, score DOUBLE"))
    rows = {(r.id, r.score) for r in cat.load_table("default", "t6").collect()}
    assert rows == {(1, None), (2, None), (3, 1.5)}

    # rename column: old physical name still readable, new name declared
    cat.alter_table("default", "t6", rename_column=("name", "label"))
    out = cat.load_table("default", "t6")
    assert out.columns == ["id", "label", "score"]
    assert {(r.id, r.label) for r in out.collect()} == {
        (1, "a"), (2, "b"), (3, "c")}
    with pytest.raises(CatalogError):
        cat.alter_table("default", "t6", rename_column=("missing", "x"))
    with pytest.raises(CatalogError):
        cat.alter_table("default", "t6", add_columns="label STRING")


def test_alter_rename_then_insert_mixed_generations(cat, spark):
    cat.create_table("default", "t6b", "id BIGINT, name STRING")
    cat.insert("default", "t6b",
               spark.createDataFrame([(1, "a")], "id BIGINT, name STRING"))
    cat.alter_table("default", "t6b", rename_column=("name", "label"))
    cat.insert("default", "t6b",
               spark.createDataFrame([(2, "b")], "id BIGINT, label STRING"))
    rows = {(r.id, r.label) for r in cat.load_table("default", "t6b").collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_invalidate_refreshes_only_target(cat, spark):
    """A4 fix: invalidation uses refreshByPath, not a global clearCache —
    an unrelated cached DataFrame must stay cached."""
    cat.create_table("default", "t4", "id BIGINT")
    cat.insert("default", "t4", spark.range(5).selectExpr("id"))
    other = spark.range(100).selectExpr("id * 2 AS v").cache()
    other.count()  # materialize
    cat.invalidate_table("default", "t4")
    assert other.storageLevel.useMemory, "unrelated cache was evicted"
    other.unpersist()


def test_write_side_validation(cat, spark):
    """A22 (CsvProviderFileWriteBuilder.scala:46-52,
    JsonProviderFileWriteBuilder.scala:47-56): duplicate columns rejected
    everywhere; csv rejects nested types at declare AND insert time."""
    with pytest.raises(CatalogError, match="duplicate"):
        cat.create_table("default", "bad1", "id BIGINT, ID STRING",
                         provider="csv")
    with pytest.raises(CatalogError, match="atomic"):
        cat.create_table("default", "bad2", "id BIGINT, xs ARRAY<INT>",
                         provider="csv")
    # json accepts nested-of-atomic
    cat.create_table("default", "okj", "id BIGINT, xs ARRAY<INT>",
                     provider="json")
    # write-time check: inserting nested data into a csv table fails fast
    cat.create_table("default", "okc", "id BIGINT, s STRING", provider="csv")
    nested = spark.createDataFrame([(1, ["a"])], "id BIGINT, s ARRAY<STRING>")
    with pytest.raises(CatalogError, match="atomic"):
        cat.insert("default", "okc", nested)


def test_typed_partition_values(cat, spark):
    """A26 (V2Table.scala:108-113): partition values cast to declared types."""
    import datetime

    cat.create_table("default", "tp", "v DOUBLE, n INT, d DATE",
                     partition_by=["n", "d"])
    df = spark.createDataFrame(
        [(1.5, 7, datetime.date(2024, 3, 1)),
         (2.5, 9, datetime.date(2024, 3, 2))],
        "v DOUBLE, n INT, d DATE")
    cat.insert("default", "tp", df)
    specs = cat.list_partitions_typed("default", "tp")
    assert {(s["n"], s["d"]) for s in specs} == {
        (7, datetime.date(2024, 3, 1)), (9, datetime.date(2024, 3, 2))}
    assert all(isinstance(s["n"], int) for s in specs)


def test_sql_three_part_names(cat, spark):
    """Reference headline UX (README.md:54-60):
    SELECT ... FROM {catalog}.{db}.{table} through the resolver shim."""
    from spark_sql_dsv2_extension_spark.catalog import engine_sql, resolve

    cat.create_namespace("db1")
    cat.create_table("db1", "orders9", "id BIGINT, amt DOUBLE")
    cat.insert("db1", "orders9", spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id BIGINT, amt DOUBLE"))
    df = resolve(spark, "hive1_external.db1.orders9")
    assert df.count() == 3
    out = engine_sql(
        spark,
        "SELECT count(*) AS n, sum(amt) AS total "
        "FROM hive1_external.db1.orders9 WHERE id >= 2",
    ).collect()[0]
    assert out.n == 2 and out.total == 50.0
    # join between a catalog table and an inline view
    spark.range(4).selectExpr("id", "id * 1.0 AS w").createOrReplaceTempView(
        "dim9")
    j = engine_sql(
        spark,
        "SELECT t.id, t.amt FROM hive1_external.db1.orders9 t "
        "JOIN dim9 d ON t.id = d.id",
    )
    assert j.count() == 3


def test_static_overwrite_vanilla_session(cat, spark):
    """Static overwrite must truncate untouched partitions via the per-write
    option (no session-conf mutation)."""
    cat.create_table("default", "ts", "id BIGINT, dt STRING",
                     partition_by=["dt"])
    cat.insert("default", "ts", spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "id BIGINT, dt STRING"))
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    cat.insert("default", "ts", spark.createDataFrame(
        [(9, "d1")], "id BIGINT, dt STRING"), overwrite=True, dynamic=False)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "ts").collect()}
    assert rows == {(9, "d1")}, "static overwrite must drop d2 too"
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    assert before == after, "insert must not mutate session conf"
    # and dynamic overwrite keeps untouched partitions
    cat.insert("default", "ts", spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "id BIGINT, dt STRING"))
    cat.insert("default", "ts", spark.createDataFrame(
        [(5, "d1")], "id BIGINT, dt STRING"), overwrite=True, dynamic=True)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "ts").collect()}
    assert (5, "d1") in rows and any(dt == "d2" for _, dt in rows)


def test_typed_conf_registry_and_folk(tmp_path):
    """A29 (conf/V2SqlConf.scala:10-90): typed entries, validation, and
    folk() clone-with-overrides; A30 (internal/ConfHelper.scala:9-49):
    options resolved from a conf.path file, explicit options winning."""
    import json

    from spark_sql_dsv2_extension_spark.conf import (
        ConfError,
        ConfigEntry,
        EngineConf,
        register_entry,
        resolve_conf_file,
    )

    conf = EngineConf()
    assert conf.get("write.dynamic-overwrite") is True
    conf.set("write.dynamic-overwrite", "no")  # string coerced to bool
    assert conf.get("write.dynamic-overwrite") is False
    forked = conf.folk(**{"write.dynamic-overwrite": "true"})
    assert forked.get("write.dynamic-overwrite") is True
    assert conf.get("write.dynamic-overwrite") is False  # original untouched
    with pytest.raises(ConfError):
        conf.set("write.dynamic-overwrite", "maybe")
    with pytest.raises(ConfError):
        conf.get("no.such.key")

    # an int entry under a catalog type of the test's own
    register_entry("typed_conf_test", ConfigEntry("size-mb", 128, int))
    sized = EngineConf("typed_conf_test")
    assert sized.get("size-mb") == 128
    sized.set("size-mb", "256")  # string coerced to int
    assert sized.folk().get("size-mb") == 256  # override carried
    with pytest.raises(ConfError):
        sized.set("size-mb", "not-a-number")

    # only registered keys become typed overrides
    view = EngineConf.from_options(
        {"write.dynamic-overwrite": "false", "conf.path": "/nowhere"})
    assert view.overrides == {"write.dynamic-overwrite": "false"}
    assert view.get("write.dynamic-overwrite") is False

    # A30 file resolution: directory path appends the default file name
    cdir = tmp_path / "confdir"
    cdir.mkdir()
    (cdir / "catalog-conf.json").write_text(
        json.dumps({"write.dynamic-overwrite": False, "extra": "fromfile"}))
    merged = resolve_conf_file(
        {"conf.path": str(cdir), "extra": "explicit"})
    assert merged["write.dynamic-overwrite"] is False
    assert merged["extra"] == "explicit"  # explicit option wins


def test_catalog_conf_drives_insert_default(spark, tmp_path):
    """The catalog's typed conf supplies the default overwrite mode."""
    cat = EngineCatalog(spark, "confcat", str(tmp_path),
                        options={"write.dynamic-overwrite": "false"})
    cat.create_table("default", "t", "id BIGINT, dt STRING",
                     partition_by=["dt"])
    cat.insert("default", "t", spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "id BIGINT, dt STRING"))
    # overwrite with conf-driven static mode truncates untouched partitions
    cat.insert("default", "t", spark.createDataFrame(
        [(9, "d1")], "id BIGINT, dt STRING"), overwrite=True)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "t").collect()}
    assert rows == {(9, "d1")}


def test_custom_partition_location_roundtrip(cat, spark, tmp_path):
    """A18/A24 (HiveFileFormatWriteBuilder.scala:73-79, V2Table.scala:80-86):
    a partition registered with an explicit location receives its writes
    there, reads back transparently, and lists alongside normal ones."""
    import os

    cat.create_table("default", "tloc", "id BIGINT, dt STRING",
                     partition_by=["dt"])
    custom = str(tmp_path / "elsewhere" / "dt_special")
    cat.create_partition("default", "tloc", {"dt": "special"},
                         location=custom)
    cat.insert("default", "tloc", spark.createDataFrame(
        [(1, "normal"), (2, "special"), (3, "special")],
        "id BIGINT, dt STRING"))
    # rows for the custom partition landed in its directory, not the table dir
    assert any(f.endswith(".parquet")
               for f in os.listdir(custom)), "custom dir got no data"
    table_dir = cat._table_dir("default", "tloc")
    assert not os.path.exists(os.path.join(table_dir, "dt=special"))
    # read-back sees both generations with correct partition values
    rows = {(r.id, r.dt) for r in cat.load_table("default", "tloc").collect()}
    assert rows == {(1, "normal"), (2, "special"), (3, "special")}
    # listing includes the relocated partition; stats count its bytes
    specs = cat.list_partitions("default", "tloc")
    assert {"dt": "special"} in specs and {"dt": "normal"} in specs
    assert cat.table_size("default", "tloc") > 0
    # dynamic overwrite replaces only partitions receiving rows
    cat.insert("default", "tloc", spark.createDataFrame(
        [(9, "special")], "id BIGINT, dt STRING"), overwrite=True,
        dynamic=True)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "tloc").collect()}
    assert rows == {(1, "normal"), (9, "special")}
    # drop removes the custom dir (managed table: data not retained)
    assert cat.drop_partition("default", "tloc", {"dt": "special"})
    assert not os.path.exists(custom)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "tloc").collect()}
    assert rows == {(1, "normal")}


def test_sql_full_lifecycle(cat, spark, tmp_path):
    """Reference §3 lifecycle end-to-end through SQL with 3-part names:
    CREATE TABLE (§3.3) → INSERT OVERWRITE PARTITION (§3.2) →
    SELECT with partition filter (§3.1) → ALTER ADD PARTITION → DROP."""
    from spark_sql_dsv2_extension_spark.catalog import engine_sql

    engine_sql(spark, """
        CREATE TABLE hive1_external.default.sales (
            id BIGINT, amt DOUBLE
        ) USING parquet PARTITIONED BY (dt STRING)
    """)
    assert cat.table_exists("default", "sales")
    assert cat._table_meta("default", "sales").partition_columns == ["dt"]

    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id BIGINT, amt DOUBLE"
    ).createOrReplaceTempView("staged_sales")
    engine_sql(spark, """
        INSERT OVERWRITE hive1_external.default.sales PARTITION (dt='d1')
        SELECT id, amt FROM staged_sales
    """)
    engine_sql(spark, """
        INSERT INTO hive1_external.default.sales PARTITION (dt='d2')
        SELECT id + 10 AS id, amt * 2 AS amt FROM staged_sales
    """)
    out = engine_sql(spark, """
        SELECT dt, count(*) AS n, sum(amt) AS total
        FROM hive1_external.default.sales GROUP BY dt ORDER BY dt
    """).collect()
    assert [(r.dt, r.n, r.total) for r in out] == [
        ("d1", 2, 30.0), ("d2", 2, 60.0)]

    # INSERT OVERWRITE PARTITION replaces only the addressed partition
    engine_sql(spark, """
        INSERT OVERWRITE hive1_external.default.sales PARTITION (dt='d1')
        SELECT 99 AS id, 1.0 AS amt
    """)
    rows = {(r.dt, r.id)
            for r in cat.load_table("default", "sales").collect()}
    assert (("d1", 99) in rows and ("d2", 11) in rows
            and ("d1", 1) not in rows)

    # INSERT ... SELECT reading another 3-part name
    engine_sql(spark, """
        CREATE TABLE hive1_external.default.sales_copy (
            id BIGINT, amt DOUBLE, dt STRING
        )
    """)
    engine_sql(spark, """
        INSERT INTO hive1_external.default.sales_copy
        SELECT id, amt, dt FROM hive1_external.default.sales
    """)
    assert cat.load_table("default", "sales_copy").count() == 3

    engine_sql(spark, "ALTER TABLE hive1_external.default.sales "
                      "ADD PARTITION (dt='d9')")
    assert {"dt": "d9"} in cat.list_partitions("default", "sales")

    engine_sql(spark, "DROP TABLE hive1_external.default.sales_copy")
    assert not cat.table_exists("default", "sales_copy")
    engine_sql(spark, "DROP TABLE IF EXISTS hive1_external.default.nope")


def test_sql_show_and_describe(cat, spark):
    from spark_sql_dsv2_extension_spark.catalog import engine_sql

    engine_sql(spark, "CREATE TABLE hive1_external.default.meta_t "
                      "(id BIGINT, v DOUBLE) PARTITIONED BY (dt STRING)")
    cat.insert("default", "meta_t", spark.createDataFrame(
        [(1, 1.0, "d1"), (2, 2.0, "d2")], "id BIGINT, v DOUBLE, dt STRING"))
    tabs = engine_sql(spark, "SHOW TABLES IN hive1_external.default").collect()
    assert ("default", "meta_t") in {(r.namespace, r.tableName) for r in tabs}
    parts = engine_sql(
        spark, "SHOW PARTITIONS hive1_external.default.meta_t").collect()
    assert {r.partition for r in parts} == {"dt=d1", "dt=d2"}
    desc = engine_sql(
        spark, "DESCRIBE TABLE hive1_external.default.meta_t").collect()
    assert [(r.col_name, r.data_type, r.role) for r in desc] == [
        ("id", "bigint", "data"), ("v", "double", "data"),
        ("dt", "string", "partition")]


def test_orc_provider_roundtrip(cat, spark):
    """A12/A21: the reference's hive dispatch also serves ORC tables."""
    cat.create_table("default", "t_orc", "id BIGINT, name STRING, dt STRING",
                     provider="orc", partition_by=["dt"])
    cat.insert("default", "t_orc", spark.createDataFrame(
        [(1, "x", "d1"), (2, "y", "d2")], "id BIGINT, name STRING, dt STRING"))
    back = cat.load_table("default", "t_orc")
    assert {(r.id, r.name, r.dt) for r in back.collect()} == {
        (1, "x", "d1"), (2, "y", "d2")}
    # dynamic overwrite works for orc too
    cat.insert("default", "t_orc", spark.createDataFrame(
        [(9, "z", "d1")], "id BIGINT, name STRING, dt STRING"),
        overwrite=True, dynamic=True)
    rows = {(r.id, r.dt) for r in cat.load_table("default", "t_orc").collect()}
    assert rows == {(9, "d1"), (2, "d2")}


def test_provider_inference_from_stored_as(cat, spark):
    """A5 (V2ExternalCatalog.scala:119-173): hive.stored-as infers the
    format; unknown formats and SerDe classes are rejected."""
    cat.create_table("default", "t_sa", "id BIGINT",
                     properties={"hive.stored-as": "ORC"})
    assert cat._table_meta("default", "t_sa").provider == "orc"
    cat.create_table("default", "t_sa2", "id BIGINT")  # default
    assert cat._table_meta("default", "t_sa2").provider == "parquet"
    with pytest.raises(CatalogError, match="invalid"):
        cat.create_table("default", "bad_sa", "id BIGINT",
                         properties={"hive.stored-as": "rcfile"})
    with pytest.raises(CatalogError, match="SerDe"):
        cat.create_table("default", "bad_serde", "id BIGINT",
                         properties={"hive.serde": "org.example.MySerde"})
    # explicit provider wins over stored-as
    cat.create_table("default", "t_sa3", "id BIGINT", provider="json",
                     properties={"hive.stored-as": "orc"})
    assert cat._table_meta("default", "t_sa3").provider == "json"


def test_catalog_table_streaming_read(cat, spark):
    """A11 extension: catalog tables are streamable — new files appended
    between runs arrive as new micro-batches with the declared schema."""
    import uuid

    cat.create_table("default", "t_stream", "id BIGINT, dt STRING",
                     partition_by=["dt"])
    cat.insert("default", "t_stream", spark.createDataFrame(
        [(1, "d1"), (2, "d2")], "id BIGINT, dt STRING"))

    def drain() -> set:
        name = "catstream_" + uuid.uuid4().hex
        q = (cat.load_table_stream("default", "t_stream")
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.id, r.dt) for r in spark.table(name).collect()}

    assert drain() == {(1, "d1"), (2, "d2")}
    cat.insert("default", "t_stream", spark.createDataFrame(
        [(3, "d3")], "id BIGINT, dt STRING"))
    assert drain() == {(1, "d1"), (2, "d2"), (3, "d3")}
    # csv tables refuse streaming reads
    cat.create_table("default", "t_stream_csv", "id BIGINT", provider="csv")
    with pytest.raises(CatalogError, match="streaming"):
        cat.load_table_stream("default", "t_stream_csv")


def test_publish_views_plain_sql(cat, spark):
    """publish_views registers {cat}__{ns}__{table} temp views so PLAIN
    spark.sql works without engine_sql — the pure-Python stand-in for the
    reference's native spark.sql.catalog.{name} plugin registration."""
    cat.create_table("default", "pv_t", "k BIGINT, v STRING")
    cat.insert(
        "default", "pv_t",
        spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, v STRING"),
    )
    views = cat.publish_views()
    name = f"{cat.name}__default__pv_t"
    assert name in views
    got = spark.sql(f"SELECT k, v FROM {name} ORDER BY k").collect()
    assert [(r.k, r.v) for r in got] == [(1, "a"), (2, "b")]


def test_sql_ctas(cat, spark):
    """CREATE TABLE ... AS SELECT through engine_sql: schema inferred from
    the SELECT, partition columns reordered trailing, data inserted, and
    the result addressable by 3-part name."""
    from spark_sql_dsv2_extension_spark.catalog import engine_sql

    cat.create_table("default", "ctas_src", "k BIGINT, v STRING, grp STRING")
    cat.insert(
        "default", "ctas_src",
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
            "k BIGINT, v STRING, grp STRING",
        ),
    )
    engine_sql(
        spark,
        f"CREATE TABLE {cat.name}.default.ctas_dst PARTITIONED BY (grp) AS "
        f"SELECT k, v, grp FROM {cat.name}.default.ctas_src",
    )
    meta = cat._table_meta("default", "ctas_dst")
    assert meta.partition_columns == ["grp"]
    got = engine_sql(
        spark,
        f"SELECT k, v, grp FROM {cat.name}.default.ctas_dst ORDER BY k",
    ).collect()
    assert [(r.k, r.v, r.grp) for r in got] == [
        (1, "a", "x"), (2, "b", "y"), (3, "c", "x")
    ]


def test_sql_cross_catalog_join(spark, tmp_path):
    """Federation UX: one engine_sql query joins tables living in TWO
    different catalogs (the reference's multi-metastore headline,
    README.md:54-60 — N catalogs addressable side by side in one query)."""
    from spark_sql_dsv2_extension_spark.catalog import EngineCatalog, engine_sql

    c1 = EngineCatalog(spark, "fedcat_a", str(tmp_path / "wa"))
    c2 = EngineCatalog(spark, "fedcat_b", str(tmp_path / "wb"))
    c1.create_table("default", "dim", "k BIGINT, name STRING")
    c2.create_table("default", "fact", "k BIGINT, amt DOUBLE")
    c1.insert("default", "dim",
              spark.createDataFrame([(1, "one"), (2, "two")], "k BIGINT, name STRING"))
    c2.insert("default", "fact",
              spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 7.0)],
                                    "k BIGINT, amt DOUBLE"))
    got = engine_sql(
        spark,
        "SELECT d.name, sum(f.amt) AS total "
        "FROM fedcat_b.default.fact f JOIN fedcat_a.default.dim d ON f.k = d.k "
        "GROUP BY d.name ORDER BY d.name",
    ).collect()
    assert [(r.name, r.total) for r in got] == [("one", 15.0), ("two", 7.0)]


def test_sql_truncate_rename_drop_partition(spark, tmp_path):
    """Round-3 lifecycle verbs: TRUNCATE TABLE keeps schema and drops all
    data; ALTER TABLE ... DROP PARTITION removes one partition's data and
    registration; RENAME TO re-addresses the table (reference A8)."""
    from spark_sql_dsv2_extension_spark.catalog import EngineCatalog, engine_sql

    cat = EngineCatalog(spark, "lifec", str(tmp_path / "w"))
    cat.create_table(
        "default", "t", "k BIGINT, v STRING, p STRING", partition_by=["p"]
    )
    cat.insert(
        "default",
        "t",
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "k BIGINT, v STRING, p STRING"
        ),
    )
    # DROP PARTITION removes exactly one partition
    engine_sql(spark, "ALTER TABLE lifec.default.t DROP PARTITION (p='y')")
    got = engine_sql(spark, "SELECT k, p FROM lifec.default.t").collect()
    assert [(r.k, r.p) for r in got] == [(1, "x")]
    # RENAME keeps data under the new name
    engine_sql(spark, "ALTER TABLE lifec.default.t RENAME TO t2")
    got = engine_sql(spark, "SELECT k FROM lifec.default.t2").collect()
    assert [r.k for r in got] == [1]
    # TRUNCATE drops all rows, keeps the (queryable) schema
    engine_sql(spark, "TRUNCATE TABLE lifec.default.t2")
    assert engine_sql(spark, "SELECT k FROM lifec.default.t2").count() == 0
    cols = engine_sql(spark, "DESCRIBE TABLE lifec.default.t2").collect()
    assert [c.col_name for c in cols] == ["k", "v", "p"]


def test_sql_string_literal_names_not_rewritten(spark, tmp_path):
    """The identifier rewrite must be quote-aware: a 3-part name inside a
    string literal (or comment) passes through untouched, while the same
    name in code position is rewritten (round-3 ADVICE)."""
    import pytest

    from spark_sql_dsv2_extension_spark.catalog import (
        CatalogError,
        EngineCatalog,
        engine_sql,
    )

    cat = EngineCatalog(spark, "quotc", str(tmp_path / "w"))
    cat.create_table("default", "t", "k BIGINT, v STRING")
    cat.insert(
        "default", "t",
        spark.createDataFrame([(1, "a")], "k BIGINT, v STRING"),
    )
    got = engine_sql(
        spark,
        "SELECT k, 'see quotc.default.t for details' AS note, v "
        "-- quotc.default.t in a comment\n"
        "FROM quotc.default.t /* and quotc.default.t here */",
    ).collect()
    assert [(r.k, r.note, r.v) for r in got] == [
        (1, "see quotc.default.t for details", "a")
    ]
    # doubled-quote escape inside the literal
    got = engine_sql(
        spark,
        "SELECT 'it''s quotc.default.t' AS s, k FROM quotc.default.t",
    ).collect()
    assert got[0].s == "it's quotc.default.t"


def test_sql_rename_two_part_target_namespace_guard(spark, tmp_path):
    """ALTER TABLE cat.ns.t RENAME TO ns2.t2 with a DIFFERENT namespace
    must raise (round-3 ADVICE: the qualifier was silently dropped); the
    same-namespace two-part form works."""
    import pytest

    from spark_sql_dsv2_extension_spark.catalog import (
        CatalogError,
        EngineCatalog,
        engine_sql,
    )

    cat = EngineCatalog(spark, "renc", str(tmp_path / "w"))
    cat.create_table("default", "t", "k BIGINT")
    with pytest.raises(CatalogError, match="namespace"):
        engine_sql(spark, "ALTER TABLE renc.default.t RENAME TO other.t2")
    # same-namespace qualifier is accepted
    engine_sql(spark, "ALTER TABLE renc.default.t RENAME TO default.t2")
    assert cat.table_exists("default", "t2")


def test_sql_show_create_analyze_insert_values(spark, tmp_path):
    """Round-4 lifecycle verbs: SHOW CREATE TABLE reconstructs the DDL,
    ANALYZE TABLE persists file-size stats (reference A28), and
    INSERT ... VALUES writes an inline relation positionally."""
    from spark_sql_dsv2_extension_spark.catalog import EngineCatalog, engine_sql

    cat = EngineCatalog(spark, "lif4", str(tmp_path / "w"))
    cat.create_table(
        "default", "t", "k BIGINT, v STRING, p STRING", partition_by=["p"]
    )
    stmt = engine_sql(spark, "SHOW CREATE TABLE lif4.default.t").collect()[0][0]
    assert "CREATE TABLE lif4.default.t" in stmt
    assert "k BIGINT" in stmt and "PARTITIONED BY (p)" in stmt

    engine_sql(
        spark,
        "INSERT INTO lif4.default.t PARTITION (p='x') VALUES (1, 'a'), (2, 'b')",
    )
    engine_sql(spark, "INSERT INTO lif4.default.t VALUES (3, 'c', 'y')")
    got = engine_sql(
        spark, "SELECT k, v, p FROM lif4.default.t ORDER BY k"
    ).collect()
    assert [(r.k, r.v, r.p) for r in got] == [
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")
    ]

    assert cat.table_size("default", "t") >= 0
    engine_sql(spark, "ANALYZE TABLE lif4.default.t COMPUTE STATISTICS")
    assert cat.table_size("default", "t") > 0


def test_sql_props_namespaces_and_like(cat, spark):
    """Round-4 engine_sql verbs: SET/UNSET TBLPROPERTIES, SHOW NAMESPACES,
    CREATE TABLE ... LIKE (schema/provider/partitioning copied, no data,
    managed — matching Spark's CREATE TABLE LIKE default)."""
    from spark_sql_dsv2_extension_spark.catalog import engine_sql

    engine_sql(spark, """
        CREATE TABLE hive1_external.default.src (
            id BIGINT, amt DOUBLE
        ) USING parquet PARTITIONED BY (dt STRING)
    """)
    engine_sql(spark, """
        ALTER TABLE hive1_external.default.src
        SET TBLPROPERTIES ('owner.team' = 'data', 'ttl' = '30d')
    """)
    meta = cat._table_meta("default", "src")
    assert meta.properties["owner.team"] == "data"
    assert meta.properties["ttl"] == "30d"
    engine_sql(spark, """
        ALTER TABLE hive1_external.default.src UNSET TBLPROPERTIES ('ttl')
    """)
    assert "ttl" not in cat._table_meta("default", "src").properties

    cat.create_namespace("dbx")
    ns = engine_sql(spark, "SHOW NAMESPACES IN hive1_external").collect()
    assert {r.namespace for r in ns} >= {"default", "dbx"}

    engine_sql(spark, """
        CREATE TABLE hive1_external.dbx.src2 LIKE hive1_external.default.src
    """)
    m2 = cat._table_meta("dbx", "src2")
    assert m2.partition_columns == ["dt"]
    assert m2.provider == meta.provider
    assert not m2.external
    # IF NOT EXISTS is a no-op on an existing target
    engine_sql(spark, """
        CREATE TABLE IF NOT EXISTS hive1_external.dbx.src2
        LIKE hive1_external.default.src
    """)
    # empty LIKE-created table is readable
    assert engine_sql(
        spark, "SELECT count(*) AS n FROM hive1_external.dbx.src2"
    ).collect()[0].n == 0


def test_parse_props_quote_aware():
    """Round-4 ADVICE: quoted TBLPROPERTIES values containing commas or
    equals signs (e.g. 'tags' = 'a,b') must parse intact, not split."""
    from spark_sql_dsv2_extension_spark.catalog import _parse_props

    assert _parse_props("'tags' = 'a,b', 'k' = 'v'") == {"tags": "a,b", "k": "v"}
    assert _parse_props("'expr'='x=y'") == {"expr": "x=y"}
    assert _parse_props("'q' = 'it''s'") == {"q": "it's"}
    assert _parse_props("plain = value") == {"plain": "value"}
    # unquoted value containing '=' keeps the lenient split('=', 1)
    # semantics (round-6 ADVICE: the r5 tokenizer truncated this pair);
    # source-slicing preserves inner whitespace and embedded quoted
    # tokens verbatim (round-6 review)
    assert _parse_props("k = a=b") == {"k": "a=b"}
    assert _parse_props("k = a=b, 'x' = 'y'") == {"k": "a=b", "x": "y"}
    assert _parse_props("k = a = b") == {"k": "a = b"}
    assert _parse_props("k = 'a' = b") == {"k": "'a' = b"}
    assert _parse_props("k = a = b, 'x' = 'y'") == {"k": "a = b", "x": "y"}
    assert _parse_props("") == {}
