"""Fluent Table API (entry point B) — each chain must agree with its SQL
twin, proving the fluent surface builds the same logical plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_flink_spark.environment import TableEnvironment
from apache_flink_spark.table_api import Over, Session, Slide, Table, Tumble


def _tenv(spark, sf_dir) -> TableEnvironment:
    te = TableEnvironment(spark=spark)
    te.use_data_dir(sf_dir)
    return te


def _same(a, b, sort_cols):
    pa = a.orderBy(*sort_cols).toPandas()
    pb = b.orderBy(*sort_cols).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(pa, pb, check_dtype=False)


def test_select_filter_group_order(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    got = (
        te.table("orders")
        .filter("o_totalprice > 100000")
        .group_by("o_orderpriority")
        .select(F.count(F.lit(1)).alias("n"))
        .to_df()
    )
    want = te.sql(
        """SELECT o_orderpriority, count(*) AS n FROM orders
           WHERE o_totalprice > 100000 GROUP BY o_orderpriority"""
    )
    _same(got, want, ["o_orderpriority"])


def test_join_and_setops(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    nat = te.table("nation").select("n_nationkey", "n_regionkey")
    reg = te.table("region")
    got = nat.join(reg, "n_regionkey = r_regionkey").select(
        "n_nationkey", "r_name"
    )
    want = te.sql(
        """SELECT n_nationkey, r_name FROM nation
           JOIN region ON n_regionkey = r_regionkey"""
    )
    _same(got.to_df(), want, ["n_nationkey"])

    a = te.table("customer").select("c_nationkey")
    b = te.table("supplier").select("s_nationkey")
    got2 = a.intersect(Table(b.to_df().toDF("c_nationkey"))).to_df()
    want2 = te.sql(
        "SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier"
    )
    _same(got2, want2, ["c_nationkey"])


def test_order_offset_fetch(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    got = (
        te.table("customer")
        .order_by(F.desc("c_acctbal"), "c_custkey")
        .offset_fetch(5, 10)
        .select("c_custkey")
        .to_df()
    )
    want = te.sql(
        """SELECT c_custkey FROM customer
           ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 5"""
    )
    _same(got, want, ["c_custkey"])


def test_tumble_window_descriptor(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    got = (
        te.table("events")
        .window(Tumble.over("10 minutes").on("ts").alias("w"))
        .group_by("event_type")
        .select(F.count(F.lit(1)).alias("n"))
        .select("w.start", "event_type", "n")
        .to_df()
        .withColumn("ws", F.unix_micros("start"))
        .select("ws", "event_type", "n")
    )
    want = te.sql(
        """SELECT unix_micros(window.start) AS ws, event_type, count(*) AS n
           FROM events GROUP BY window(ts, '10 minutes'), event_type"""
    )
    _same(got, want, ["ws", "event_type"])


def test_session_and_slide_descriptors(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    sess = (
        te.table("events")
        .window(Session.with_gap("30 minutes").on("ts").alias("w"))
        .group_by("user_id")
        .select(F.count(F.lit(1)).alias("n"))
        .to_df()
    )
    assert sess.count() > 0
    slide = (
        te.table("events")
        .window(Slide.over("10 minutes").every("5 minutes").on("ts").alias("w"))
        .group_by()
        .select(F.count(F.lit(1)).alias("n"))
        .to_df()
    )
    # every event lands in exactly 2 sliding windows
    total = slide.agg(F.sum("n")).collect()[0][0]
    n_events = te.table("events").to_df().count()
    assert total == 2 * n_events


def test_over_descriptor(spark, sf_dir):
    te = _tenv(spark, sf_dir)
    w = (
        Over.partition_by("o_custkey")
        .order_by("o_orderdate", "o_orderkey")
        .unbounded_preceding()
        .spec()
    )
    got = (
        te.table("orders")
        .add_columns(nth=F.count(F.lit(1)).over(w))
        .select("o_orderkey", "nth")
        .to_df()
    )
    want = te.sql(
        """SELECT o_orderkey,
                  count(*) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS nth
           FROM orders"""
    )
    _same(got, want, ["o_orderkey"])


def test_catalog_ddl_surface(spark, sf_dir):
    """DDL through the facade (reference TableEnvironment.executeSql DDL
    path): CREATE/DROP temp views, SHOW TABLES resolution."""
    te = _tenv(spark, sf_dir)
    te.sql(
        "CREATE OR REPLACE TEMPORARY VIEW big_orders AS "
        "SELECT * FROM orders WHERE o_totalprice > 300000"
    )
    n = te.sql("SELECT count(*) AS n FROM big_orders").collect()[0].n
    assert n == te.table("orders").filter("o_totalprice > 300000").to_df().count()
    # SHOW VIEWS is Flink-shaped since r6 (catalog_sql.py): one
    # 'view name' column, the reference's output layout
    names = {r[0] for r in te.sql("SHOW VIEWS").collect()}
    assert "big_orders" in names
    te.sql("DROP VIEW big_orders")
    assert "big_orders" not in {
        r[0] for r in te.sql("SHOW VIEWS").collect()
    }


def test_explain_surface(spark, sf_dir):
    """Plan explanation parity (reference TableEnvironment.explainSql /
    Table.explain): the physical plan names real operators, and extended
    mode shows the full parse->physical chain."""
    te = _tenv(spark, sf_dir)
    phys = te.explain_sql(
        "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1"
    )
    assert "HashAggregate" in phys or "SortAggregate" in phys
    ext = te.explain_sql("SELECT 1 AS one", extended=True)
    assert "Parsed Logical Plan" in ext and "Physical Plan" in ext

    tbl_plan = te.table("orders").filter("o_totalprice > 0").explain()
    assert "Filter" in tbl_plan or "PushedFilters" in tbl_plan


def test_statement_set_multi_sink(spark, sf_dir, tmp_path):
    """StatementSet parity (reference StatementSetImpl): several buffered
    inserts execute as one unit, sharing one persisted source scan."""
    te = _tenv(spark, sf_dir)
    src = te.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders"
    )
    te.create_view("ss_src", src)
    ss = te.create_statement_set()
    hi, lo = str(tmp_path / "hi"), str(tmp_path / "lo")
    ss.add_insert_sql(hi, "SELECT * FROM ss_src WHERE o_totalprice >= 150000")
    ss.add_insert_sql(lo, "SELECT * FROM ss_src WHERE o_totalprice < 150000")
    paths = ss.execute(shared=src)
    assert paths == [hi, lo]
    n_hi = spark.read.parquet(hi).count()
    n_lo = spark.read.parquet(lo).count()
    assert n_hi + n_lo == src.count()
    assert n_hi > 0 and n_lo > 0
    # Buffer cleared: executing again writes nothing new.
    assert ss.execute() == []


def test_sql_statement_surface(spark, sf_dir):
    """Flink SQL statement routing through tenv.sql (reference
    TableEnvironmentImpl.executeSql's non-query branches): EXPLAIN [PLAN
    FOR | details], SHOW TABLES, DESCRIBE, ANALYZE TABLE."""
    te = _tenv(spark, sf_dir)
    # Flink-only EXPLAIN PLAN FOR syntax -> one row, column `result`.
    row = te.sql("EXPLAIN PLAN FOR SELECT count(*) FROM lineitem").collect()
    assert len(row) == 1 and "Aggregate" in row[0].result
    # Detail flags request the extended chain (reference ExplainDetail).
    ext = te.sql(
        "EXPLAIN ESTIMATED_COST, CHANGELOG_MODE SELECT 1 AS one"
    ).collect()[0].result
    assert "Parsed Logical Plan" in ext and "Physical Plan" in ext
    # Spark-native statements pass straight through.
    # Flink-shaped since r6 (catalog_sql.py): one 'table name' column
    tabs = {r[0] for r in te.sql("SHOW TABLES").collect()}
    assert "lineitem" in tabs and "orders" in tabs
    cols = {r.col_name for r in te.sql("DESCRIBE lineitem").collect()}
    assert "l_orderkey" in cols
    # ANALYZE needs a catalog table (views reject it) — reference parity:
    # Flink's ANALYZE TABLE also targets catalog tables only.
    spark.sql("DROP TABLE IF EXISTS afs_analyze_t")
    try:
        te.sql(
            "CREATE TABLE afs_analyze_t USING parquet AS "
            "SELECT * FROM region"
        )
        te.sql(
            "ANALYZE TABLE afs_analyze_t COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        stats = te.sql("DESCRIBE EXTENDED afs_analyze_t").collect()
        assert any("Statistics" in (r.col_name or "") for r in stats)
    finally:
        spark.sql("DROP TABLE IF EXISTS afs_analyze_t")


def test_catalog_introspection(spark, sf_dir):
    """Catalog listing parity (reference TableEnvironment.listTables /
    listViews / listDatabases / listFunctions / dropTemporaryView)."""
    te = _tenv(spark, sf_dir)
    tables = te.list_tables()
    assert "lineitem" in tables and "orders" in tables
    te.create_view("cat_probe_v", te.sql("SELECT 1 AS one"))
    assert "cat_probe_v" in te.list_views()
    assert te.drop_temporary_view("cat_probe_v")
    assert "cat_probe_v" not in te.list_views()
    assert not te.drop_temporary_view("cat_probe_v")
    assert "default" in te.list_databases()
    fns = te.list_functions()
    # builtin + an engine-registered Flink-name shim must both resolve
    assert "sum" in fns
    from apache_flink_spark.functions.registry import register_all

    register_all(spark)
    assert any(
        f in fns or f in te.list_functions()
        for f in ("to_base64", "from_unixtime", "ifnull")
    )


def test_temporal_table_function_join_lateral(spark, sf_dir):
    """createTemporalTableFunction + joinLateral (the pre-SYSTEM_TIME
    temporal join syntax): each order picks the latest rate version at or
    before its time; NULL before the first version."""
    from apache_flink_spark.table_api import Table

    rates = Table(
        spark.createDataFrame(
            [("eur", 10, 114), ("eur", 20, 116), ("usd", 15, 102)],
            "r_currency string, r_time long, r_rate long",
        )
    )
    orders = Table(
        spark.createDataFrame(
            [
                (1, "eur", 5),
                (2, "eur", 10),
                (3, "eur", 25),
                (4, "usd", 30),
            ],
            "o_id long, o_currency string, o_time long",
        )
    )
    fn = rates.create_temporal_table_function("r_time", "r_currency")
    got = {
        r.o_id: r.r_rate
        for r in orders.left_outer_join_lateral(fn("o_time"), "o_currency")
        .to_df()
        .collect()
    }
    assert got == {1: None, 2: 114, 3: 116, 4: 102}


def test_explain_insert_does_not_execute(spark, sf_dir, tmp_path):
    """EXPLAIN INSERT must plan, never run, the write (reference
    SqlRichExplain explains the modification without executing it)."""
    te = _tenv(spark, sf_dir)
    path = str(tmp_path / "xp_sink")
    te.sql(
        f"""
        CREATE TABLE xp_sink (k BIGINT) WITH (
            'connector' = 'filesystem', 'path' = '{path}',
            'format' = 'parquet'
        )
        """
    )
    te.sql("INSERT INTO xp_sink SELECT id AS k FROM range(3)")
    plan = te.sql(
        "EXPLAIN PLAN FOR INSERT INTO xp_sink SELECT id AS k FROM range(99)"
    ).collect()[0].result
    assert "Range" in plan or "range" in plan
    n = te.sql("SELECT count(*) AS n FROM xp_sink").collect()[0].n
    assert n == 3  # the explained insert did NOT append 99 rows


def test_set_reset_statements(spark, sf_dir):
    """Flink SQL-client SET/RESET statements (SqlSet/SqlReset): quoted
    keys apply to the session conf; bare SET lists it."""
    te = _tenv(spark, sf_dir)
    te.sql("SET 'spark.sql.afs.test.flag' = 'hello'")
    assert spark.conf.get("spark.sql.afs.test.flag") == "hello"
    te.sql("RESET 'spark.sql.afs.test.flag'")
    import pytest as _pt

    with _pt.raises(Exception):
        spark.conf.get("spark.sql.afs.test.flag")
    # bare SET lists the conf (Spark's native SET output shape)
    rows = te.sql("SET").limit(3).collect()
    assert rows and hasattr(rows[0], "key")
    # unquoted Spark-native form still passes straight through
    te.sql("SET spark.sql.afs.test.flag2=v2")
    assert spark.conf.get("spark.sql.afs.test.flag2") == "v2"
    spark.conf.unset("spark.sql.afs.test.flag2")


def test_show_jobs_and_stop_job(spark, tmp_path):
    """Flink job management statements (SqlShowJobs/SqlStopJob) mapped
    onto Structured Streaming's active queries."""
    import pytest as _pytest

    from apache_flink_spark.environment import TableEnvironment

    te = TableEnvironment(spark=spark)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1")
        .load()
        .writeStream.format("memory")
        .queryName("job_mgmt_probe")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        jobs = {
            r["job name"]: r for r in te.sql("SHOW JOBS").collect()
        }
        assert "job_mgmt_probe" in jobs
        assert jobs["job_mgmt_probe"].status == "RUNNING"
        # r7: DESCRIBE JOB mirrors the gateway's single-job shape
        desc = te.sql("DESCRIBE JOB 'job_mgmt_probe'").first()
        assert desc["job id"] == jobs["job_mgmt_probe"]["job id"]
        assert desc.status == "RUNNING"
        assert desc["start time"] is not None
        res = te.sql(
            "STOP JOB 'job_mgmt_probe' WITH SAVEPOINT"
        ).first()
        assert res.status == "STOPPED"
        assert res.savepoint.startswith("runId=")
        assert not q.isActive
        with _pytest.raises(ValueError, match="no running job"):
            te.sql("STOP JOB 'job_mgmt_probe'")
    finally:
        if q.isActive:
            q.stop()


def test_r7_pyflink_surface_additions(spark):
    """r7: alias / add_or_replace_columns / offset / map / flat_map /
    over_window / aggregate / flat_aggregate / get_schema — pyflink
    table.py parity (alias:133, add_or_replace_columns:713, offset:551,
    map:764, flat_map:790, over_window:663, aggregate:820/1105,
    flat_aggregate:860)."""
    import pandas as pd
    import pytest as _pytest

    from apache_flink_spark.table_api import Over, Table

    t = Table(spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "k long, v long"
    ))
    # alias: positional rename of all columns
    assert t.alias("a", "b").to_df().columns == ["a", "b"]
    with _pytest.raises(ValueError, match="names 1"):
        t.alias("a")
    # add_columns rejects existing; add_or_replace overwrites
    with _pytest.raises(ValueError, match="already exist"):
        t.add_columns(v=F.lit(0))
    assert t.add_or_replace_columns(v=F.col("v") * 2).to_df().collect()[0].v == 20
    # offset + fetch
    assert t.order_by("v").offset(1).fetch(1).to_df().collect()[0].v == 10
    # map / flat_map: Arrow-batched
    doubled = t.map(
        lambda pdf: pd.DataFrame({"d": pdf["v"] * 2}), "d long"
    )
    assert sorted(r.d for r in doubled.to_df().collect()) == [10, 20, 40]
    exploded = t.flat_map(
        lambda pdf: pd.DataFrame(
            {"x": [x for v in pdf["v"] for x in (v, v)]}
        ),
        "x long",
    )
    assert exploded.to_df().count() == 6
    # over_window
    ow = t.over_window(
        Over.partition_by("k").order_by("v").unbounded_preceding()
    ).select("k", "v", rsum=F.sum("v"))
    got = {(r.k, r.v): r.rsum for r in ow.to_df().collect()}
    assert got[(1, 20)] == 30 and got[(2, 5)] == 5
    # UDAF aggregate + UDTAF flat_aggregate
    agg = t.group_by("k").aggregate(
        lambda pdf: pd.DataFrame({"span": [pdf["v"].max() - pdf["v"].min()]}),
        "span long",
    )
    assert {(r.k, r.span) for r in agg.to_df().collect()} == {(1, 10), (2, 0)}
    top2 = t.group_by("k").flat_aggregate(
        lambda pdf: pd.DataFrame(
            {"v": pdf["v"].nlargest(2).to_numpy()}
        ),
        "v long",
    )
    assert top2.to_df().count() == 3
    # schema access
    assert [f.name for f in t.get_schema().fields] == ["k", "v"]


def test_r7_join_lateral_inner_vs_left_outer(spark):
    """r7: joinLateral drops probes before the first version (reference
    semantics); leftOuterJoinLateral NULL-pads them."""
    from apache_flink_spark.table_api import Table

    rates = Table(spark.createDataFrame(
        [("eur", 10, 114)], "r_currency string, r_time long, r_rate long"
    ))
    orders = Table(spark.createDataFrame(
        [(1, "eur", 5), (2, "eur", 15)],
        "o_id long, o_currency string, o_time long",
    ))
    fn = rates.create_temporal_table_function("r_time", "r_currency")
    inner = {
        r.o_id: r.r_rate
        for r in orders.join_lateral(fn("o_time"), "o_currency")
        .to_df().collect()
    }
    assert inner == {2: 114}
    outer = {
        r.o_id: r.r_rate
        for r in orders.left_outer_join_lateral(fn("o_time"), "o_currency")
        .to_df().collect()
    }
    assert outer == {1: None, 2: 114}


def test_r7_tenv_conveniences(spark, sf_dir):
    """pyflink table_environment.py surface: sql_query/execute_sql/
    list_catalogs/list_modules/get_current_*/use_*/from_elements."""
    te = _tenv(spark.newSession(), sf_dir)
    t = te.sql_query("SELECT 1 AS one")
    assert t.to_df().collect()[0].one == 1
    assert te.execute_sql("SELECT 2 AS two").collect()[0].two == 2
    assert "spark_catalog" in te.list_catalogs()
    assert te.list_modules() == ["core"]
    assert te.list_full_modules() == [("core", True)]
    assert te.get_current_catalog() == "spark_catalog"
    te.sql("CREATE CATALOG conv_cat WITH ('type' = 'generic_in_memory')")
    te.use_catalog("conv_cat")
    assert te.get_current_catalog() == "conv_cat"
    assert te.get_current_database() == "default"
    te.use_catalog("spark_catalog")
    assert te.from_elements([(1, "a")], "x int, s string").count() == 1


def test_r7_over_following(spark):
    from apache_flink_spark.table_api import Over, Table

    t = Table(spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3)], "k long, v long"
    ))
    out = t.over_window(
        Over.partition_by("k").order_by("v").preceding(1).following(1)
    ).select("v", s=F.sum("v"))
    got = {r.v: r.s for r in out.to_df().collect()}
    assert got == {1: 3, 2: 6, 3: 5}
    # no preceding() set: the frame start defaults to UNBOUNDED
    # PRECEDING (the reference's Over default)
    out2 = t.over_window(
        Over.partition_by("k").order_by("v").unbounded_following()
    ).select("v", s=F.sum("v"))
    got2 = {r.v: r.s for r in out2.to_df().collect()}
    assert got2 == {1: 6, 2: 6, 3: 6}
    # start-only frame keeps its end when preceding() is set afterwards
    out3 = t.over_window(
        Over.partition_by("k").order_by("v").following(1).preceding(1)
    ).select("v", s=F.sum("v"))
    got3 = {r.v: r.s for r in out3.to_df().collect()}
    assert got3 == {1: 3, 2: 6, 3: 5}


def test_r7_lateral_table_syntax(spark):
    """Flink's LATERAL TABLE(fn(...)) UDTF invocation (Calcite's LATERAL
    TABLE operator) routes onto Spark's native lateral TVF joins —
    comma/CROSS JOIN and LEFT JOIN ... ON TRUE forms."""
    from pyspark.sql.functions import udtf

    from apache_flink_spark.environment import TableEnvironment

    te = TableEnvironment(spark=spark)

    @udtf(returnType="w string")
    class LtSplit:
        def eval(self, s: str):
            for w in (s or "").split(" "):
                if w:
                    yield (w,)

    spark.udtf.register("lt_split", LtSplit)
    spark.createDataFrame(
        [(1, "a b"), (2, "")], "id int, s string"
    ).createOrReplaceTempView("lt_src")
    rows = te.sql(
        "SELECT id, w FROM lt_src, LATERAL TABLE(lt_split(s))"
    ).collect()
    assert sorted((r.id, r.w) for r in rows) == [(1, "a"), (1, "b")]
    rows = te.sql(
        "SELECT id, w FROM lt_src "
        "LEFT JOIN LATERAL TABLE(lt_split(s)) ON TRUE"
    ).collect()
    assert sorted([(r.id, r.w) for r in rows], key=str) == sorted(
        [(1, "a"), (1, "b"), (2, None)], key=str
    )
