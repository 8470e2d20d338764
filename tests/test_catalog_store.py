"""Catalog store (reference FileCatalogStore parity): DDL tables +
models persist as descriptors and replay into a fresh session."""

from __future__ import annotations

import json

import pytest

from apache_flink_spark.catalog_store import (
    CatalogStoreError,
    load_catalog_store,
    save_catalog_store,
)
from apache_flink_spark.environment import TableEnvironment

SF = "/root/testdata/sf0.001"


def test_round_trip_tables_and_models(spark, tmp_path):
    te1 = TableEnvironment(spark=spark, sf_dir=SF)
    d = str(tmp_path / "cs_data")
    te1.sql(
        f"""
        CREATE TABLE cs_t (id BIGINT, v DOUBLE) WITH (
            'connector' = 'filesystem', 'path' = '{d}',
            'format' = 'csv', 'csv.field-delimiter' = '|',
            'csv.include-header' = 'false')
        """
    )
    te1.sql("INSERT INTO cs_t SELECT id, id * 2.0 FROM range(4)")
    te1.sql(
        """CREATE TABLE cs_gen (id BIGINT) WITH (
            'connector' = 'datagen', 'number-of-rows' = '7')"""
    )
    te1.sql("DROP MODEL IF EXISTS cs_m")
    te1.sql(
        """CREATE MODEL cs_m INPUT (embedding ARRAY<FLOAT>)
           OUTPUT (score DOUBLE) COMMENT 'norm'
           WITH ('provider' = 'vector-l2norm')"""
    )
    store = str(tmp_path / "catalog.json")
    assert save_catalog_store(te1, store) >= 3

    # fresh ISOLATED session: nothing registered until load
    child = spark.newSession()
    te2 = TableEnvironment(spark=child, sf_dir=SF)
    assert load_catalog_store(te2, store) >= 3
    # the csv table reads with its declared delimiter
    got = sorted(tuple(r) for r in child.table("cs_t").collect())
    assert got == [(0, 0.0), (1, 2.0), (2, 4.0), (3, 6.0)]
    assert child.table("cs_gen").count() == 7
    m = te2.model_catalog.get("cs_m")
    assert m.options["provider"] == "vector-l2norm"
    assert m.comment == "norm"
    # and the restored model scores through the restored session
    row = te2.sql(
        "SELECT score FROM ML_PREDICT(TABLE embeddings, MODEL cs_m) "
        "WHERE vec_id = 1"
    ).first()
    assert row.score > 0


def test_version_gate_and_missing_path(spark, tmp_path):
    te = TableEnvironment(spark=spark, sf_dir=SF)
    store = str(tmp_path / "bad.json")
    with open(store, "w") as f:
        json.dump({"format_version": 99, "tables": {}}, f)
    with pytest.raises(CatalogStoreError, match="format_version"):
        load_catalog_store(te, store)
    with pytest.raises(CatalogStoreError, match="does not exist"):
        load_catalog_store(te, str(tmp_path / "nope.json"))


def test_secondary_catalogs_persist(spark, tmp_path):
    """r7: CREATE CATALOG descriptors + their table bindings survive the
    store round-trip (reference FileCatalogStore persists
    CatalogDescriptor configurations)."""
    from apache_flink_spark.catalog_store import (
        load_catalog_store,
        save_catalog_store,
    )
    from apache_flink_spark.environment import TableEnvironment

    te = TableEnvironment(spark=spark.newSession())
    te.sql(
        "CREATE CATALOG stored_cat COMMENT 'persisted' "
        "WITH ('type' = 'generic_in_memory', 'default-database' = 'd')"
    )
    te.sql(
        f"CREATE TABLE stored_cat.d.t (k BIGINT) WITH ("
        f"'connector' = 'filesystem', 'path' = '{tmp_path}/sc_t', "
        "'format' = 'parquet')"
    )
    te.sql("INSERT INTO stored_cat.d.t SELECT 42")
    store = str(tmp_path / "store.json")
    save_catalog_store(te, store)

    te2 = TableEnvironment(spark=spark.newSession())
    load_catalog_store(te2, store)
    cats = [r[0] for r in te2.sql("SHOW CATALOGS").collect()]
    assert "stored_cat" in cats
    info = dict(te2.sql("DESCRIBE CATALOG stored_cat").collect())
    assert info["comment"] == "persisted"
    assert (
        te2.sql("SELECT k FROM stored_cat.d.t").collect()[0].k == 42
    )


def test_distributed_tables_persist(spark, tmp_path):
    """r7: DISTRIBUTED BY descriptors round-trip through the store — a
    loaded session re-registers the bucket spec (SHOW CREATE renders it)
    and, when the catalog entry is gone but the data dir survives,
    re-opens the table bucketed at its saved location."""
    from apache_flink_spark.catalog_store import (
        load_catalog_store,
        save_catalog_store,
    )
    from apache_flink_spark.ddl import _DISTRIBUTED, execute_flink_ddl
    from apache_flink_spark.environment import TableEnvironment

    te = TableEnvironment(spark=spark)
    data_dir = str(tmp_path / "cs_dist_data")
    spark.sql("DROP TABLE IF EXISTS cs_dist")
    execute_flink_ddl(
        spark,
        "CREATE TABLE cs_dist (k BIGINT, v BIGINT) DISTRIBUTED BY (k) "
        "INTO 4 BUCKETS WITH ('connector' = 'filesystem', "
        f"'format' = 'parquet', 'path' = '{data_dir}')",
    )
    try:
        spark.sql("INSERT INTO cs_dist VALUES (1, 10), (2, 20)")
        store = str(tmp_path / "dist_store.json")
        save_catalog_store(te, store)

        # same-process case: registry wiped, catalog entry intact —
        # load re-registers the descriptor idempotently
        _DISTRIBUTED.pop("cs_dist", None)
        load_catalog_store(te, store)
        assert "cs_dist" in _DISTRIBUTED
        ddl = te.sql("SHOW CREATE TABLE cs_dist").collect()[0][0]
        assert "DISTRIBUTED BY (k) INTO 4 BUCKETS" in ddl

        # cross-process case: catalog entry gone, data dir survives
        # (explicit LOCATION) — load recreates the bucketed table
        spark.sql("DROP TABLE cs_dist")
        _DISTRIBUTED.pop("cs_dist", None)
        assert not spark.catalog.tableExists("cs_dist")
        load_catalog_store(te, store)
        assert spark.catalog.tableExists("cs_dist")
        assert spark.table("cs_dist").count() == 2
        native = spark.sql("SHOW CREATE TABLE cs_dist").collect()[0][0]
        assert "CLUSTERED BY" in native
    finally:
        spark.sql("DROP TABLE IF EXISTS cs_dist")
        _DISTRIBUTED.pop("cs_dist", None)
