"""Verbatim harvest of the reference's streaming ChangelogSourceITCase
(r13 — VERDICT r12 next-item #1 tranche).

Reference: flink-table-planner .../runtime/stream/sql/
ChangelogSourceITCase.scala (7 tests x 4 source modes): queries over a
CDC `users` table (+ a `rates` changelog for the join) registered under
each of the reference's changelog source shapes —

- CHANGELOG ('I,UA,UB,D', NO primary key, :261): retraction applies by
  FULL VALUE — production ``changelog.materialize_retract`` (net
  multiset).
- CHANGELOG_WITH_EVENTS_DUP ('UA,D' + PK + cdc-events-duplicate, :291):
  duplicated CDC events; keyed arrival-order normalization absorbs the
  dups — production ``changelog.materialize``.
- UPSERT ('UA,D' + PK, :355 — TestData.userUpsertlog): keyed upsert,
  same ``materialize`` path.
- NO_UPDATE ('I,D', no PK, :386 — convertToNoUpdateData turns -U into
  -D and +U into +I): value-retract again, ``materialize_retract``.

All four modes materialize to the same final table, and every test
asserts the same expected rows across modes (the reference's
parameterization) — each pin here runs under all four, exercising both
production materializers. The computed column ``balance2 AS balance*2``
is applied after normalization, as the reference's source schema does.

testToUpsertSink's extra raw-bytes assertion (that -U events were
filtered before a PK'd sink in the events-dup mode) is a physical
sink-wire check with no analog in a materialized result — the semantic
half (final sink contents) is pinned. MiniBatch / state-backend axes
are physical knobs, covered by the single pin per the established
convention.

Tally: ChangelogSourceITCase 7/7 pinned x 4/4 source modes.
"""

from __future__ import annotations

import decimal

import pytest

from apache_flink_spark.changelog import (
    ROWKIND_COL,
    materialize,
    materialize_retract,
)
from tests.itcase_utils import run_retract

D = decimal.Decimal

# TestData.scala:670 userChangelog — kind[user_id, user_name, email, balance]
USER_CHANGELOG = [
    ("+I", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+I", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("-U", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+U", "user1", "Tom", "tom123@gmail.com", D("8.1")),
    ("+I", "user3", "Bailey", "bailey@gmail.com", D("9.99")),
    ("-D", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("+I", "user4", "Tina", "tina@gmail.com", D("11.3")),
    ("-U", "user3", "Bailey", "bailey@gmail.com", D("9.99")),
    ("+U", "user3", "Bailey", "bailey@qq.com", D("9.99")),
]

# ChangelogSourceITCase:295 — the same log with duplicated CDC events
USER_CHANGELOG_DUP = [
    ("+I", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+I", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("+I", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("-U", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+U", "user1", "Tom", "tom123@gmail.com", D("8.1")),
    ("-U", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+U", "user1", "Tom", "tom123@gmail.com", D("8.1")),
    ("+I", "user3", "Bailey", "bailey@gmail.com", D("9.99")),
    ("-D", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("-D", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("+I", "user4", "Tina", "tina@gmail.com", D("11.3")),
    ("-U", "user3", "Bailey", "bailey@gmail.com", D("9.99")),
    ("+U", "user3", "Bailey", "bailey@qq.com", D("9.99")),
]

# TestData.scala:682 userUpsertlog
USER_UPSERTLOG = [
    ("+U", "user1", "Tom", "tom@gmail.com", D("10.02")),
    ("+U", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("+U", "user1", "Tom", "tom123@gmail.com", D("8.1")),
    ("+U", "user3", "Bailey", "bailey@gmail.com", D("9.99")),
    ("-D", "user2", "Jack", "jack@hotmail.com", D("71.2")),
    ("+U", "user4", "Tina", "tina@gmail.com", D("11.3")),
    ("+U", "user3", "Bailey", "bailey@qq.com", D("9.99")),
]

# TestData.scala:717 ratesHistoryData — kind[currency, rate]
RATES_HISTORY = [
    ("+I", "US Dollar", 102),
    ("+I", "Euro", 114),
    ("+I", "Yen", 1),
    ("-U", "Euro", 114),
    ("+U", "Euro", 116),
    ("-U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-D", "Yen", 1),
]

# ChangelogSourceITCase:327 ratesChangelog (events-dup variant)
RATES_HISTORY_DUP = [
    ("+I", "US Dollar", 102),
    ("+I", "Euro", 114),
    ("+I", "Euro", 114),
    ("+I", "Yen", 1),
    ("-U", "Euro", 114),
    ("+U", "Euro", 116),
    ("-U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-D", "Yen", 1),
    ("-D", "Yen", 1),
]

# TestData.scala:728 ratesUpsertData
RATES_UPSERT = [
    ("+U", "US Dollar", 102),
    ("+U", "Euro", 114),
    ("+U", "Yen", 1),
    ("+U", "Euro", 116),
    ("+U", "Euro", 119),
    ("-D", "Yen", 1),
]

# TestData.scala:693 ordersData — insert-only [amount, currency]
ORDERS = [(2, "Euro"), (1, "US Dollar"), (50, "Yen"), (3, "Euro"), (5, "US Dollar")]

USER_SCHEMA = (
    f"{ROWKIND_COL} string, user_id string, user_name string, "
    "email string, balance decimal(18,2)"
)
RATES_SCHEMA = f"{ROWKIND_COL} string, currency string, rate bigint"

MODES = ["changelog", "changelog_events_dup", "upsert", "no_update"]


def _no_update(log):
    """:421 convertToNoUpdateData — -U becomes -D, +U becomes +I."""
    flip = {"-U": "-D", "+U": "+I"}
    return [(flip.get(k, k),) + tuple(r) for k, *r in log]


def _keyed(spark, log, schema, keys, value_cols):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(log)], schema + ", __arr bigint"
    ).withColumn("__val", F.struct(*value_cols))
    out = materialize(df, keys, ["__arr"], "__val")
    return out.select(*keys, *[F.col(f"__val.{c}").alias(c) for c in value_cols])


def _register(tenv, mode):
    spark = tenv.spark
    if mode == "changelog":
        users = materialize_retract(spark.createDataFrame(USER_CHANGELOG, USER_SCHEMA))
        rates = materialize_retract(spark.createDataFrame(RATES_HISTORY, RATES_SCHEMA))
    elif mode == "changelog_events_dup":
        users = _keyed(
            spark, USER_CHANGELOG_DUP, USER_SCHEMA,
            ["user_name", "user_id"], ["email", "balance"],
        )
        rates = _keyed(spark, RATES_HISTORY_DUP, RATES_SCHEMA, ["currency"], ["rate"])
    elif mode == "upsert":
        users = _keyed(
            spark, USER_UPSERTLOG, USER_SCHEMA,
            ["user_name", "user_id"], ["email", "balance"],
        )
        rates = _keyed(spark, RATES_UPSERT, RATES_SCHEMA, ["currency"], ["rate"])
    else:
        users = materialize_retract(
            spark.createDataFrame(_no_update(USER_CHANGELOG), USER_SCHEMA)
        )
        rates = materialize_retract(
            spark.createDataFrame(_no_update(RATES_HISTORY), RATES_SCHEMA)
        )
    users.createOrReplaceTempView("users_base")
    tenv.sql(
        "CREATE OR REPLACE TEMPORARY VIEW users AS SELECT user_id, "
        "user_name, email, balance, CAST(balance * 2 AS DECIMAL(18,2)) "
        "AS balance2 FROM users_base"
    )
    rates.createOrReplaceTempView("rates")
    spark.createDataFrame(ORDERS, "amount bigint, currency string"
                          ).createOrReplaceTempView("orders")


@pytest.fixture(scope="module")
def tenv(spark):
    from apache_flink_spark.environment import TableEnvironment

    return TableEnvironment(spark=spark)


@pytest.fixture(scope="module", autouse=True)
def _restore_shadowed_views(spark):
    """``_register`` shadows views of the same names (``orders`` is a
    fixture table); put the earlier ones back so later modules in this
    process read the fixture tables, not this module's test data."""
    names = ("users_base", "users", "rates", "orders")
    saved = {n: spark.table(n) for n in names if spark.catalog.tableExists(n)}
    yield
    for n in names:
        spark.catalog.dropTempView(n)
    for n, df in saved.items():
        df.createOrReplaceTempView(n)


FINAL_USERS = [
    "user1,Tom,tom123@gmail.com,8.10,16.20",
    "user3,Bailey,bailey@qq.com,9.99,19.98",
    "user4,Tina,tina@gmail.com,11.30,22.60",
]


@pytest.mark.parametrize("mode", MODES)
def test_to_retract_stream(tenv, mode):
    """:79 testToRetractStream — the materialized final table."""
    _register(tenv, mode)
    assert run_retract(tenv, "SELECT * FROM users") == sorted(FINAL_USERS)


@pytest.mark.parametrize("mode", MODES)
def test_to_upsert_sink(tenv, mode):
    """:93 testToUpsertSink — final upsert-sink contents keyed on
    user_id equal the materialized table (the raw -U-filter wire
    assertion is physical, see module docstring)."""
    _register(tenv, mode)
    assert run_retract(tenv, "SELECT * FROM users") == sorted(FINAL_USERS)


@pytest.mark.parametrize("mode", MODES)
def test_aggregate(tenv, mode):
    """:135 testAggregate."""
    _register(tenv, mode)
    assert run_retract(
        tenv, "SELECT count(*), sum(balance), max(email) FROM users"
    ) == ["3,29.39,tom123@gmail.com"]


@pytest.mark.parametrize("mode", MODES)
def test_aggregate_to_upsert_sink(tenv, mode):
    """:151 testAggregateToUpsertSink."""
    _register(tenv, mode)
    assert run_retract(
        tenv,
        "SELECT 'ALL', count(*), sum(balance), max(email) FROM users "
        "GROUP BY 'ALL'",
    ) == ["ALL,3,29.39,tom123@gmail.com"]


@pytest.mark.parametrize("mode", MODES)
def test_group_by_non_primary_key(tenv, mode):
    """:181 testGroupByNonPrimaryKey."""
    _register(tenv, mode)
    assert run_retract(
        tenv,
        "SELECT balance2, count(*), max(email) FROM users GROUP BY balance2",
    ) == sorted([
        "16.20,1,tom123@gmail.com",
        "19.98,1,bailey@qq.com",
        "22.60,1,tina@gmail.com",
    ])


@pytest.mark.parametrize("mode", MODES)
def test_filter(tenv, mode):
    """:211 testFilter — the update-before must retract user1's 10.02
    version out of the >9 band before the 8.10 update."""
    _register(tenv, mode)
    assert run_retract(
        tenv, "SELECT * FROM users WHERE balance > 9"
    ) == sorted([
        "user3,Bailey,bailey@qq.com,9.99,19.98",
        "user4,Tina,tina@gmail.com,11.30,22.60",
    ])


@pytest.mark.parametrize("mode", MODES)
def test_regular_join(tenv, mode):
    """:241 testRegularJoin — insert-only orders joined to the
    changelog rates; Yen orders drop with the deleted rate."""
    _register(tenv, mode)
    assert run_retract(
        tenv,
        "SELECT o.currency, o.amount, r.rate, o.amount * r.rate "
        "FROM orders AS o JOIN rates AS r ON o.currency = r.currency",
    ) == sorted([
        "Euro,2,119,238",
        "Euro,3,119,357",
        "US Dollar,1,102,102",
        "US Dollar,5,102,510",
    ])
