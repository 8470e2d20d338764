"""Hive-TYPED secondary catalogs (r8, VERDICT r7 missing #5).

Reference parity: flink-connectors/flink-connector-hive HiveCatalog —
``CREATE CATALOG h WITH ('type'='hive', ...)`` routes onto a Hive
metastore. Here that metastore is Spark's own in-box Hive integration
(io.hive_session), so the hive-typed catalog is a NAMESPACE ALIAS over
the session catalog: ``h.db.tbl`` resolves to ``spark_catalog.db.tbl``,
database/table listings delegate to the metastore, and nothing is
mangled into temp views. catalogImplementation is a static JVM conf, so
the test drives a fresh session in a subprocess (same pattern as
tests/test_hive_protobuf.py).
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_HIVE_JARS = glob.glob("/opt/spark/jars/spark-hive_*.jar")


@pytest.mark.skipif(not _HIVE_JARS, reason="spark-hive jar not deployed")
def test_hive_typed_catalog_end_to_end(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from apache_flink_spark.io import hive_session
from apache_flink_spark.environment import TableEnvironment

spark = hive_session(warehouse_dir={str(tmp_path)!r})
assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
tenv = TableEnvironment(spark)

# metastore database the catalog will default into
spark.sql("CREATE DATABASE IF NOT EXISTS hdb")

tenv.sql("CREATE CATALOG hcat WITH ('type'='hive', 'default-database'='hdb')")

cats = [r[0] for r in tenv.sql("SHOW CATALOGS").collect()]
assert "hcat" in cats, cats
desc = dict(tenv.sql("DESCRIBE CATALOG hcat").collect())
assert desc["type"] == "hive", desc

tenv.sql("USE CATALOG hcat")
cur = tenv.sql("SHOW CURRENT CATALOG").collect()[0][0]
assert cur == "hcat", cur

# unqualified DDL lands in the metastore db the catalog points at
tenv.sql("DROP TABLE IF EXISTS kv")
tenv.sql("CREATE TABLE kv (k STRING, v BIGINT) USING parquet")
tenv.sql("INSERT INTO kv VALUES ('a', 1), ('b', 2)")

tables = [r[0] for r in tenv.sql("SHOW TABLES").collect()]
assert "kv" in tables, tables
dbs = [r[0] for r in tenv.sql("SHOW DATABASES").collect()]
assert "hdb" in dbs, dbs

# database DDL delegates to the metastore
tenv.sql("CREATE DATABASE hdb2")
dbs = [r[0] for r in tenv.sql("SHOW DATABASES").collect()]
assert "hdb2" in dbs, dbs
tenv.sql("USE hdb2")
tenv.sql("CREATE TABLE other (x BIGINT) USING parquet")
tenv.sql("INSERT INTO other VALUES (7)")

# fully-qualified hive-catalog references resolve from ANY context
tenv.sql("USE CATALOG default_catalog")
s = tenv.sql("SELECT SUM(v) AS s FROM hcat.hdb.kv").collect()[0].s
assert s == 3, s

# cross-catalog join: hive-typed x generic_in_memory
tenv.sql("CREATE CATALOG mcat WITH ('type'='generic_in_memory')")
tenv.sql(
    "CREATE TABLE mcat.default.dim WITH ('connector' = 'filesystem', "
    "'path' = '{tmp_path}/dim', 'format' = 'parquet') "
    "AS SELECT 'a' AS k, 10 AS mult"
)
j = tenv.sql(
    "SELECT t.k, t.v * d.mult AS scaled "
    "FROM hcat.hdb.kv t JOIN mcat.default.dim d ON t.k = d.k"
).collect()
assert [(r.k, r.scaled) for r in j] == [("a", 10)], j

# qualified listing + typed SHOW CREATE
tl = [r[0] for r in tenv.sql("SHOW TABLES FROM hcat.hdb2").collect()]
assert tl == ["other"], tl
ddl = tenv.sql("SHOW CREATE CATALOG hcat").collect()[0][0]
assert "'type' = 'hive'" in ddl, ddl
print("HIVE_CATALOG_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),  # keep derby.log / metastore litter out of the repo
    )
    assert "HIVE_CATALOG_OK" in out.stdout, (
        f"stdout={out.stdout}\nstderr={out.stderr[-3000:]}"
    )


def test_hive_catalog_requires_hive_session(spark):
    """In an in-memory-catalog session the hive type must fail LOUDLY with
    the hive_session hint, not half-register."""
    from apache_flink_spark.catalogs import CatalogError, try_handle_catalog_ddl
    from apache_flink_spark.session import session_state

    with pytest.raises(CatalogError, match="hive_session"):
        try_handle_catalog_ddl(
            spark, "CREATE CATALOG h2 WITH ('type'='hive')"
        )
    assert "h2" not in session_state(spark).catalogs
