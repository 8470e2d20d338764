"""ALTER TABLE family + CREATE TABLE LIKE + SHOW CREATE TABLE —
reference SqlAlterTable* / SqlCreateTableLike (MergeTableLikeUtil) /
SqlShowCreateTable parity on DDL-declared filesystem tables."""

from __future__ import annotations

import os

import pytest

from apache_flink_spark.ddl import DdlError, _schema_ddl_cols
from apache_flink_spark.environment import TableEnvironment
from apache_flink_spark.session import session_state


@pytest.fixture()
def te(spark):
    return TableEnvironment(spark=spark)


def _mk(te, tmp_path, name, fmt="parquet", extra_cols="", wm=False):
    path = os.path.join(str(tmp_path), name)
    wm_line = (
        ", WATERMARK FOR ts AS ts - INTERVAL '5' SECOND" if wm else ""
    )
    ts_col = ", ts TIMESTAMP(3)" if wm else ""
    te.sql(
        f"""
        CREATE TABLE {name} (
            id BIGINT, v STRING{ts_col}{extra_cols}{wm_line}
        ) WITH (
            'connector' = 'filesystem',
            'path' = '{path}',
            'format' = '{fmt}'
        )
        """
    )
    return path


def _fill(te, name, rows="SELECT 1, 'a' UNION ALL SELECT 2, 'b'"):
    te.sql(f"INSERT INTO {name} {rows}")


def test_add_column_parquet_metadata_only(te, tmp_path):
    _mk(te, tmp_path, "at_add")
    _fill(te, "at_add")
    te.sql("ALTER TABLE at_add ADD (score DOUBLE)")
    rows = te.sql(
        "SELECT id, v, score FROM at_add ORDER BY id"
    ).collect()
    assert [(r.id, r.v, r.score) for r in rows] == [
        (1, "a", None),
        (2, "b", None),
    ]
    # new writes carry the column
    te.sql(
        "INSERT INTO at_add SELECT 3, 'c', CAST(1.5 AS DOUBLE)"
    )
    got = te.sql(
        "SELECT score FROM at_add WHERE id = 3"
    ).collect()[0].score
    assert got == 1.5


def test_add_column_first_and_after(te, tmp_path):
    _mk(te, tmp_path, "at_pos")
    te.sql("ALTER TABLE at_pos ADD (z INT FIRST, y INT AFTER id)")
    st = session_state(te.spark)
    cols = [c for c, _ in _schema_ddl_cols(st.tables["at_pos"][2])]
    assert cols == ["z", "id", "y", "v"]


def test_drop_column_parquet(te, tmp_path):
    _mk(te, tmp_path, "at_drop")
    _fill(te, "at_drop")
    te.sql("ALTER TABLE at_drop DROP v")
    assert te.sql("SELECT * FROM at_drop").columns == ["id"]
    assert te.sql("SELECT count(*) AS n FROM at_drop").collect()[0].n == 2


def test_rename_column_rewrites_files(te, tmp_path):
    _mk(te, tmp_path, "at_rencol")
    _fill(te, "at_rencol")
    te.sql("ALTER TABLE at_rencol RENAME v TO label")
    rows = te.sql(
        "SELECT id, label FROM at_rencol ORDER BY id"
    ).collect()
    # COW rewrite: values survive under the new name (a metadata-only
    # rename would read NULLs from old by-name parquet files)
    assert [(r.id, r.label) for r in rows] == [(1, "a"), (2, "b")]


def test_modify_type_cow_cast(te, tmp_path):
    _mk(te, tmp_path, "at_mod")
    _fill(te, "at_mod")
    te.sql("ALTER TABLE at_mod MODIFY (id STRING)")
    rows = te.sql("SELECT id FROM at_mod ORDER BY id").collect()
    assert [r.id for r in rows] == ["1", "2"]
    assert dict(te.sql("SELECT * FROM at_mod").dtypes)["id"] == "string"


def test_rename_table_moves_view_and_watermark(te, tmp_path):
    _mk(te, tmp_path, "at_ren1", wm=True)
    te.sql("ALTER TABLE at_ren1 RENAME TO at_ren2")
    st = session_state(te.spark)
    assert "at_ren1" not in st.tables and "at_ren2" in st.tables
    assert st.watermarks["at_ren2"] == ("ts", "5 second")
    assert "at_ren1" not in st.watermarks
    te.sql("SELECT * FROM at_ren2").collect()
    with pytest.raises(Exception):
        te.sql("SELECT * FROM at_ren1").collect()


def test_set_and_reset_options_csv_delimiter(te, tmp_path):
    path = _mk(te, tmp_path, "at_csv", fmt="csv")
    _fill(te, "at_csv")
    # switch the declared delimiter; the rewrite honors it end-to-end
    te.sql("ALTER TABLE at_csv SET ('csv.field-delimiter' = ';')")
    st = session_state(te.spark)
    assert st.tables["at_csv"][3]["csv.field-delimiter"] == ";"
    te.sql("INSERT OVERWRITE at_csv SELECT 7, 'x'")
    raw = ""
    for f in os.listdir(path):
        if f.endswith(".csv"):
            raw += open(os.path.join(path, f)).read()
    assert "7;x" in raw
    assert te.sql(
        "SELECT v FROM at_csv WHERE id = 7"
    ).collect()[0].v == "x"
    te.sql("ALTER TABLE at_csv RESET ('csv.field-delimiter')")
    assert "csv.field-delimiter" not in st.tables["at_csv"][3]
    with pytest.raises(DdlError):
        te.sql("ALTER TABLE at_csv RESET ('path')")


def test_csv_add_drop_uses_cow(te, tmp_path):
    path = _mk(te, tmp_path, "at_csv2", fmt="csv")
    _fill(te, "at_csv2")
    # positional format: ADD must rewrite files, not just metadata
    te.sql("ALTER TABLE at_csv2 ADD (flag INT)")
    rows = te.sql(
        "SELECT id, v, flag FROM at_csv2 ORDER BY id"
    ).collect()
    assert [(r.id, r.v, r.flag) for r in rows] == [
        (1, "a", None),
        (2, "b", None),
    ]
    te.sql("ALTER TABLE at_csv2 DROP (v)")
    rows = te.sql("SELECT * FROM at_csv2 ORDER BY id").collect()
    assert rows[0].asDict() == {"id": 1, "flag": None}


def test_alter_guards(te, tmp_path):
    _mk(te, tmp_path, "at_g", wm=True)
    with pytest.raises(DdlError):
        te.sql("ALTER TABLE at_g DROP ts")  # watermark column
    with pytest.raises(DdlError):
        te.sql("ALTER TABLE at_g ADD (id INT)")  # duplicate
    with pytest.raises(DdlError):
        te.sql("ALTER TABLE at_g SET ('connector' = 'kafka')")
    with pytest.raises(DdlError):
        te.sql("ALTER TABLE at_g SORT BY id")  # unsupported clause
    # non-DDL table falls through to Spark (which errors its own way)
    with pytest.raises(Exception) as ei:
        te.sql("ALTER TABLE no_such_tbl RENAME no TO yes")
    assert not isinstance(ei.value, DdlError)


def test_compact_routes_to_procedure(te, tmp_path):
    _mk(te, tmp_path, "at_cmp")
    for i in range(4):
        te.sql(f"INSERT INTO at_cmp SELECT {i}, 'r{i}'")
    r = te.sql("ALTER TABLE at_cmp COMPACT").collect()[0]
    assert r.files_after <= r.files_before
    assert te.sql("SELECT count(*) AS n FROM at_cmp").collect()[0].n == 4


def test_show_create_table_roundtrip(te, tmp_path):
    _mk(te, tmp_path, "at_sct", wm=True)
    ddl = te.sql("SHOW CREATE TABLE at_sct").collect()[0].result
    assert "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND" in ddl
    assert "'connector' = 'filesystem'" in ddl
    # the emitted DDL re-executes against a fresh name
    te.sql(ddl.replace("at_sct", "at_sct2", 1))
    st = session_state(te.spark)
    assert "at_sct2" in st.tables
    assert st.tables["at_sct2"][2] == st.tables["at_sct"][2]
    assert st.watermarks["at_sct2"] == st.watermarks["at_sct"]


def test_create_like_including_all(te, tmp_path):
    _mk(te, tmp_path, "lk_src", wm=True)
    _fill(te, "lk_src", "SELECT 1, 'a', TIMESTAMP '2024-01-01 00:00:00'")
    te.sql("CREATE TABLE lk_dst LIKE lk_src")
    # same path inherited -> same rows visible
    assert te.sql(
        "SELECT count(*) AS n FROM lk_dst"
    ).collect()[0].n == 1
    st = session_state(te.spark)
    assert st.watermarks["lk_dst"] == st.watermarks["lk_src"]
    assert st.tables["lk_dst"][1] == st.tables["lk_src"][1]


def test_create_like_overwriting_options_new_path(te, tmp_path):
    _mk(te, tmp_path, "lk2_src")
    _fill(te, "lk2_src")
    new_path = os.path.join(str(tmp_path), "lk2_dst")
    te.sql(
        f"""
        CREATE TABLE lk2_dst WITH ('path' = '{new_path}')
        LIKE lk2_src (OVERWRITING OPTIONS)
        """
    )
    st = session_state(te.spark)
    assert st.tables["lk2_dst"][1] == new_path
    assert te.sql("SELECT count(*) AS n FROM lk2_dst").collect()[0].n == 0
    te.sql("INSERT INTO lk2_dst SELECT 9, 'z'")
    assert te.sql("SELECT count(*) AS n FROM lk2_dst").collect()[0].n == 1
    # source untouched
    assert te.sql("SELECT count(*) AS n FROM lk2_src").collect()[0].n == 2


def test_create_like_extra_columns_and_excluding_watermarks(te, tmp_path):
    _mk(te, tmp_path, "lk3_src", wm=True)
    new_path = os.path.join(str(tmp_path), "lk3_dst")
    te.sql(
        f"""
        CREATE TABLE lk3_dst (score DOUBLE)
        WITH ('path' = '{new_path}')
        LIKE lk3_src (EXCLUDING WATERMARKS, OVERWRITING OPTIONS)
        """
    )
    st = session_state(te.spark)
    assert "lk3_dst" not in st.watermarks
    assert te.sql("SELECT * FROM lk3_dst").columns == [
        "id", "v", "ts", "score"
    ]


def test_create_like_guards(te, tmp_path):
    _mk(te, tmp_path, "lk4_src", wm=True)
    # Unknown LIKE source falls through to spark.sql (r6 ADVICE) — Spark's
    # own TABLE_OR_VIEW_NOT_FOUND is the error surface, not DdlError.
    with pytest.raises(Exception) as exc:
        te.sql("CREATE TABLE lk4_a LIKE no_such_src")
    assert not isinstance(exc.value, DdlError)
    with pytest.raises(DdlError):
        # INCLUDING OPTIONS (default) + conflicting duplicate key
        te.sql(
            "CREATE TABLE lk4_b WITH ('format' = 'csv') LIKE lk4_src"
        )
    with pytest.raises(DdlError):
        te.sql("CREATE TABLE lk4_c LIKE lk4_src (INCLUDING GENERATED)")
    with pytest.raises(DdlError):
        # new watermark while source has one, without OVERWRITING
        te.sql(
            "CREATE TABLE lk4_d (ts2 TIMESTAMP(3), WATERMARK FOR ts2 "
            "AS ts2 - INTERVAL '1' SECOND) LIKE lk4_src"
        )


def test_ctas_filesystem(te, tmp_path):
    path = os.path.join(str(tmp_path), "ctas_t")
    te.sql(
        f"""
        CREATE TABLE ctas_t WITH (
            'connector' = 'filesystem',
            'path' = '{path}',
            'format' = 'parquet'
        ) AS SELECT id AS k, id * 2 AS dbl FROM range(5)
        """
    )
    st = session_state(te.spark)
    assert st.tables["ctas_t"][2] == "k bigint, dbl bigint"
    rows = te.sql("SELECT k, dbl FROM ctas_t ORDER BY k").collect()
    assert [(r.k, r.dbl) for r in rows] == [(i, 2 * i) for i in range(5)]
    # re-create errors; IF NOT EXISTS is a no-op skip
    with pytest.raises(DdlError):
        te.sql(
            f"CREATE TABLE ctas_t WITH ('connector'='filesystem',"
            f"'path'='{path}') AS SELECT 1 AS x"
        )
    te.sql(
        f"CREATE TABLE IF NOT EXISTS ctas_t WITH ('connector'='filesystem',"
        f"'path'='{path}') AS SELECT 1 AS x"
    )
    assert te.sql("SELECT count(*) AS n FROM ctas_t").collect()[0].n == 5


def test_ctas_rejects_unaliased_expression_columns(te, tmp_path):
    path = os.path.join(str(tmp_path), "ctas_bad")
    with pytest.raises(DdlError, match="alias"):
        te.sql(
            f"CREATE TABLE ctas_bad WITH ('connector'='filesystem',"
            f"'path'='{path}') AS SELECT id + 1 FROM range(3)"
        )
    st = session_state(te.spark)
    assert "ctas_bad" not in st.tables


def _mk_part(te, tmp_path, name):
    path = os.path.join(str(tmp_path), name)
    te.sql(
        f"""
        CREATE TABLE {name} (
            id BIGINT, v STRING, region STRING, day STRING
        ) PARTITIONED BY (region, day) WITH (
            'connector' = 'filesystem',
            'path' = '{path}',
            'format' = 'parquet'
        )
        """
    )
    return path


def test_partitioned_table_write_read_prune(te, tmp_path, spark):
    path = _mk_part(te, tmp_path, "pt")
    te.sql(
        "INSERT INTO pt SELECT 1, 'a', 'eu', 'd1' "
        "UNION ALL SELECT 2, 'b', 'us', 'd1' "
        "UNION ALL SELECT 3, 'c', 'eu', 'd2'"
    )
    assert sorted(
        e for e in os.listdir(path) if e.startswith("region=")
    ) == ["region=eu", "region=us"]
    rows = te.sql(
        "SELECT id, region, day FROM pt ORDER BY id"
    ).collect()
    assert [(r.id, r.region, r.day) for r in rows] == [
        (1, "eu", "d1"), (2, "us", "d1"), (3, "eu", "d2"),
    ]
    # partition pruning reaches the scan
    plan = (
        te.sql("SELECT id FROM pt WHERE region = 'eu'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "region" in plan


def test_static_partition_insert_and_dynamic_overwrite(te, tmp_path):
    _mk_part(te, tmp_path, "pt2")
    te.sql(
        "INSERT INTO pt2 PARTITION (region='eu', day='d1') "
        "SELECT 1, 'a' UNION ALL SELECT 2, 'b'"
    )
    rows = te.sql("SELECT id, region, day FROM pt2 ORDER BY id").collect()
    assert [(r.region, r.day) for r in rows] == [("eu", "d1")] * 2
    # static-partition OVERWRITE replaces ONLY that partition
    te.sql("INSERT INTO pt2 PARTITION (region='us', day='d1') SELECT 9, 'z'")
    te.sql(
        "INSERT OVERWRITE pt2 PARTITION (region='eu', day='d1') "
        "SELECT 7, 'q'"
    )
    rows = te.sql(
        "SELECT id, region FROM pt2 ORDER BY id"
    ).collect()
    assert [(r.id, r.region) for r in rows] == [(7, "eu"), (9, "us")]
    with pytest.raises(DdlError, match="PARTITION column"):
        te.sql("INSERT INTO pt2 PARTITION (nope='x') SELECT 1, 'a', 'd'")


def test_show_partitions_and_add_drop(te, tmp_path):
    _mk_part(te, tmp_path, "pt3")
    te.sql(
        "INSERT INTO pt3 SELECT 1, 'a', 'eu', 'd1' "
        "UNION ALL SELECT 2, 'b', 'us', 'd2'"
    )
    parts = [r["partition name"] for r in te.sql("SHOW PARTITIONS pt3").collect()]
    assert parts == ["region=eu/day=d1", "region=us/day=d2"]
    filtered = [
        r["partition name"]
        for r in te.sql(
            "SHOW PARTITIONS pt3 PARTITION (region='eu')"
        ).collect()
    ]
    assert filtered == ["region=eu/day=d1"]
    te.sql("ALTER TABLE pt3 ADD PARTITION (region='ap', day='d1')")
    assert "region=ap/day=d1" in [
        r["partition name"] for r in te.sql("SHOW PARTITIONS pt3").collect()
    ]
    with pytest.raises(DdlError, match="already exists"):
        te.sql("ALTER TABLE pt3 ADD PARTITION (region='ap', day='d1')")
    te.sql("ALTER TABLE pt3 DROP PARTITION (region='us')")
    assert te.sql("SELECT count(*) AS n FROM pt3").collect()[0].n == 1
    te.sql("ALTER TABLE pt3 DROP IF EXISTS PARTITION (region='us')")
    with pytest.raises(DdlError, match="does not exist"):
        te.sql("ALTER TABLE pt3 DROP PARTITION (region='us')")
    with pytest.raises(DdlError, match="prefix"):
        te.sql("SHOW PARTITIONS pt3 PARTITION (day='d1')")


def test_describe_and_show_columns(te, tmp_path):
    _mk(te, tmp_path, "dsc", wm=True)
    rows = te.sql("DESCRIBE dsc").collect()
    byname = {r.name: r for r in rows}
    assert list(byname) == ["id", "v", "ts"]
    assert byname["id"].type == "BIGINT"
    assert "INTERVAL '5' SECOND" in byname["ts"].watermark
    assert byname["v"].watermark == ""
    # partition key marker
    _mk_part(te, tmp_path, "dsc_p")
    keys = {r.name: r.key for r in te.sql("DESC dsc_p").collect()}
    assert keys["region"] == "PRT" and keys["id"] == ""
    # SHOW COLUMNS with LIKE
    got = [
        r.name
        for r in te.sql("SHOW COLUMNS FROM dsc LIKE '%s'").collect()
    ]
    assert got == ["ts"]
    # non-DDL table falls through to Spark's own DESCRIBE
    te.spark.range(3).createOrReplaceTempView("plain_v")
    cols = te.sql("DESCRIBE plain_v").columns
    assert "col_name" in cols  # Spark's describe shape, not ours


def test_partition_column_guards_and_show_create_partitioned(te, tmp_path):
    _mk_part(te, tmp_path, "pt4")
    with pytest.raises(DdlError, match="partition column"):
        te.sql("ALTER TABLE pt4 DROP region")
    with pytest.raises(DdlError, match="partition column"):
        te.sql("ALTER TABLE pt4 RENAME region TO zone")
    ddl = te.sql("SHOW CREATE TABLE pt4").collect()[0].result
    assert "PARTITIONED BY (region, day)" in ddl
    assert "partitioned-by" not in ddl
    # re-executes with the partition layout intact
    te.sql(ddl.replace("pt4", "pt5", 1))
    from apache_flink_spark.ddl import part_cols

    assert part_cols(te.spark, "pt5") == ["region", "day"]


def test_ctas_partitioned(te, tmp_path):
    path = os.path.join(str(tmp_path), "ctas_p")
    te.sql(
        f"""
        CREATE TABLE ctas_p PARTITIONED BY (grp) WITH (
            'connector' = 'filesystem',
            'path' = '{path}',
            'format' = 'parquet'
        ) AS SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END
             AS grp FROM range(6)
        """
    )
    from apache_flink_spark.ddl import part_cols

    assert part_cols(te.spark, "ctas_p") == ["grp"]
    assert sorted(
        e for e in os.listdir(path) if e.startswith("grp=")
    ) == ["grp=e", "grp=o"]
    parts = [r["partition name"] for r in te.sql("SHOW PARTITIONS ctas_p").collect()]
    assert parts == ["grp=e", "grp=o"]
    assert te.sql("SELECT count(*) AS n FROM ctas_p").collect()[0].n == 6


# -- r6 review-finding regressions --------------------------------------------


def test_drop_partition_rejects_empty_or_valueless_spec(te, tmp_path):
    """A lax spec parse once resolved ``DROP PARTITION ()`` to the table
    ROOT and rmtree'd every partition (r6 review #1)."""
    path = _mk_part(te, tmp_path, "pt6")
    te.sql("INSERT INTO pt6 SELECT 1, 'a', 'eu', 'd1'")
    with pytest.raises(DdlError, match="empty partition spec"):
        te.sql("ALTER TABLE pt6 DROP PARTITION ()")
    with pytest.raises(DdlError, match="malformed partition spec"):
        te.sql("ALTER TABLE pt6 DROP PARTITION (region)")
    with pytest.raises(DdlError, match="malformed partition spec"):
        te.sql("ALTER TABLE pt6 DROP PARTITION (region='eu', day)")
    # the table data must be untouched after every rejected statement
    assert os.path.isdir(os.path.join(path, "region=eu"))
    assert te.sql("SELECT count(*) AS n FROM pt6").collect()[0].n == 1


def test_compact_preserves_partition_layout(te, tmp_path):
    """COMPACT on a PARTITIONED table must keep the hive k=v layout —
    a flat rewrite bricked partition discovery (r6 review #2)."""
    _mk_part(te, tmp_path, "pt7")
    for i in range(3):
        te.sql(f"INSERT INTO pt7 SELECT {i}, 'x', 'eu', 'd1'")
    te.sql("INSERT INTO pt7 SELECT 9, 'y', 'us', 'd2'")
    # a registered-but-empty partition must survive the rewrite too
    te.sql("ALTER TABLE pt7 ADD PARTITION (region='ap', day='d9')")
    res = te.sql("ALTER TABLE pt7 COMPACT").collect()[0]
    assert res.files_after <= res.files_before
    parts = [r["partition name"] for r in te.sql("SHOW PARTITIONS pt7").collect()]
    assert parts == [
        "region=ap/day=d9", "region=eu/day=d1", "region=us/day=d2"
    ]
    rows = te.sql("SELECT id, region, day FROM pt7 ORDER BY id").collect()
    assert [(r.id, r.region, r.day) for r in rows] == [
        (0, "eu", "d1"), (1, "eu", "d1"), (2, "eu", "d1"), (9, "us", "d2")
    ]
    # pruning still reaches the scan after the rewrite
    plan = (
        te.sql("SELECT id FROM pt7 WHERE region = 'eu'")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan


def test_modify_partition_column_guard(te, tmp_path):
    """MODIFY of a partition column would rewrite failed casts under
    __HIVE_DEFAULT_PARTITION__ (r6 review #3) — same guard as RENAME/DROP."""
    _mk_part(te, tmp_path, "pt8")
    with pytest.raises(DdlError, match="partition column"):
        te.sql("ALTER TABLE pt8 MODIFY (region INT)")


def test_reset_is_atomic_on_error(te, tmp_path):
    """RESET validates every key BEFORE mutating the catalog entry —
    no half-applied statement (r6 review #7)."""
    _mk(te, tmp_path, "rst", fmt="csv")
    te.sql("ALTER TABLE rst SET ('csv.field-delimiter' = ';')")
    with pytest.raises(DdlError, match="required option"):
        te.sql("ALTER TABLE rst RESET ('csv.field-delimiter', 'path')")
    st = session_state(te.spark)
    assert st.tables["rst"][3].get("csv.field-delimiter") == ";"
    with pytest.raises(DdlError, match="required option"):
        te.sql("ALTER TABLE rst RESET ('partitioned-by')")
    with pytest.raises(DdlError, match="partitioned-by"):
        te.sql("ALTER TABLE rst SET ('partitioned-by' = 'v')")


def test_create_like_partitions_strategies(te, tmp_path):
    """LIKE inherits PARTITIONED BY by default (independent of the OPTIONS
    strategy); EXCLUDING PARTITIONS drops it; OVERWRITING PARTITIONS is
    invalid syntax (r6 review #6)."""
    from apache_flink_spark.ddl import part_cols

    _mk_part(te, tmp_path, "pl_src")
    p2 = os.path.join(str(tmp_path), "pl_inc")
    te.sql(
        f"CREATE TABLE pl_inc WITH ('path' = '{p2}') "
        "LIKE pl_src (OVERWRITING OPTIONS)"
    )
    assert part_cols(te.spark, "pl_inc") == ["region", "day"]
    # EXCLUDING OPTIONS must NOT silently drop the partition layout
    p3 = os.path.join(str(tmp_path), "pl_excopt")
    te.sql(
        f"CREATE TABLE pl_excopt WITH ('connector' = 'filesystem', "
        f"'path' = '{p3}', 'format' = 'parquet') "
        "LIKE pl_src (EXCLUDING OPTIONS)"
    )
    assert part_cols(te.spark, "pl_excopt") == ["region", "day"]
    p4 = os.path.join(str(tmp_path), "pl_exc")
    te.sql(
        f"CREATE TABLE pl_exc WITH ('path' = '{p4}') "
        "LIKE pl_src (OVERWRITING OPTIONS, EXCLUDING PARTITIONS)"
    )
    assert part_cols(te.spark, "pl_exc") == []
    with pytest.raises(DdlError, match="OVERWRITING PARTITIONS"):
        te.sql(
            f"CREATE TABLE pl_bad WITH ('path' = '{p4}x') "
            "LIKE pl_src (OVERWRITING PARTITIONS)"
        )


def test_compact_preserves_string_partition_values(te, tmp_path):
    """Partition values must round-trip as EXACT directory strings: type
    inference would rewrite day='01' to day=1 and resurrect the stale
    dir as a phantom partition (r6 review)."""
    path = os.path.join(str(tmp_path), "pt9")
    te.sql(
        f"""
        CREATE TABLE pt9 (id BIGINT, day STRING) PARTITIONED BY (day)
        WITH ('connector' = 'filesystem', 'path' = '{path}',
              'format' = 'parquet')
        """
    )
    te.sql("INSERT INTO pt9 SELECT 1, '01' UNION ALL SELECT 2, '02'")
    te.sql("ALTER TABLE pt9 COMPACT")
    parts = [r["partition name"] for r in te.sql("SHOW PARTITIONS pt9").collect()]
    assert parts == ["day=01", "day=02"]
    rows = te.sql("SELECT id, day FROM pt9 ORDER BY id").collect()
    assert [(r.id, r.day) for r in rows] == [(1, "01"), (2, "02")]


def test_reserved_partitioned_by_option_rejected(te, tmp_path):
    """'partitioned-by' is the INTERNAL carrier of PARTITIONED BY —
    injecting it via WITH bypasses column validation (r6 review)."""
    p = os.path.join(str(tmp_path), "resv")
    with pytest.raises(DdlError, match="reserved"):
        te.sql(
            f"CREATE TABLE resv (id INT) WITH ('connector' = 'filesystem',"
            f" 'path' = '{p}', 'format' = 'parquet',"
            f" 'partitioned-by' = 'nope')"
        )
    _mk_part(te, tmp_path, "resv_src")
    with pytest.raises(DdlError, match="reserved"):
        te.sql(
            f"CREATE TABLE resv2 WITH ('partitioned-by' = 'x') "
            "LIKE resv_src (OVERWRITING OPTIONS)"
        )


def test_window_keyword_inside_string_literal_survives_insert(te, tmp_path):
    """The group-window rewrite must not fire on window-shaped TEXT in a
    string literal — the statement-routing reorder made INSERTs reach it
    (r6 review)."""
    p = os.path.join(str(tmp_path), "litt")
    te.sql(
        f"CREATE TABLE litt (doc STRING) WITH ('connector' = 'filesystem',"
        f" 'path' = '{p}', 'format' = 'parquet')"
    )
    te.sql(
        "INSERT INTO litt SELECT 'TUMBLE(ts, INTERVAL ''1'' HOUR)' AS doc"
    )
    got = te.sql("SELECT doc FROM litt").collect()[0].doc
    assert got == "TUMBLE(ts, INTERVAL '1' HOUR)"


def test_describe_extended_is_describe(te, tmp_path):
    """r7: DESCRIBE EXTENDED on a DDL table executes exactly like
    DESCRIBE (reference DescribeTableOperation.execute ignores the
    isExtended flag — both are SHOW COLUMNS)."""
    te.sql(
        f"""
        CREATE TABLE dex_t (
            k BIGINT, ts TIMESTAMP(3),
            WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) WITH ('connector' = 'filesystem',
                'path' = '{tmp_path}/dex_t', 'format' = 'parquet')
        """
    )
    plain = te.sql("DESCRIBE dex_t").collect()
    ext = te.sql("DESCRIBE EXTENDED dex_t").collect()
    assert plain == ext
    assert te.sql("DESCRIBE EXTENDED dex_t").columns == [
        "name", "type", "null", "key", "extras", "watermark"
    ]
    # non-DDL names keep Spark's native DESCRIBE EXTENDED
    import pyspark

    te.spark.sql("DROP TABLE IF EXISTS dex_nat")
    te.spark.sql("CREATE TABLE dex_nat (x INT) USING parquet")
    try:
        assert te.sql("DESCRIBE EXTENDED dex_nat").columns == [
            "col_name", "data_type", "comment"
        ]
    finally:
        te.spark.sql("DROP TABLE dex_nat")
