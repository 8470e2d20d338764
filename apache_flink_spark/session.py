"""SparkSession construction tuned for this engine.

The reference engine configures its runtime through ``TableConfig`` /
``StreamExecutionEnvironment`` (reference: flink-table-api-java
.../TableConfig.java); here the equivalent knobs are Spark confs. Defaults are
chosen for correctness-vs-oracle (UTC timestamps) and for scale (AQE on,
adaptive skew handling) — the same settings hold on a real cluster; only
``shuffle.partitions`` / memory sizing change with cluster size. What the
engine records about one session's objects is its :class:`SessionState`.

A local session built by :func:`get_spark` runs its Python workers under the
engine's daemon, :mod:`apache_flink_spark.worker_daemon`, which spares every
Python task a re-read of each zip directory on ``sys.path``. The daemon conf
is static, so :func:`configure_session` cannot give it to a caller's session.
"""

from __future__ import annotations

import os
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# Defaults that matter at 100 TB as much as at sf0.001:
#  - AQE re-plans joins + coalesces/splits shuffle partitions at runtime,
#    which is the scale story for skewed keys and mis-sized shuffles.
#  - UTC session timezone makes timestamp semantics engine-independent.
#  - Arrow makes any unavoidable Python boundary vectorized.
_BASE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # The events fixture stores TIMESTAMP(NANOS). pyspark 4.1 reads it as
    # TIMESTAMP_NTZ (micros-truncated) regardless of this conf; older Sparks
    # reject it unless nanosAsLong makes it an int64. The catalog normalizes
    # BOTH shapes to a session-tz TIMESTAMP, so reads work on any session —
    # the conf is kept only for older-Spark portability.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow batch size for mapInPandas/applyInPandas operators.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
}

# Confs CORRECTNESS depends on — enforced on every caller-provided session
# (all runtime-settable SQL confs). AQE/filterPushdown are not listed: their
# engine values equal Spark's defaults, so a vanilla session already has
# them, and a caller who changed one did so deliberately (e.g. the plan
# tests disable broadcast to simulate fact-table scale).
_MANDATORY_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}

# Perf preferences applied only while the conf still holds its Spark default
# — never clobbering an explicit caller setting.
_PREFERRED_CONF = {
    # (engine value, Spark-default spellings that mean "caller never set it")
    "spark.sql.autoBroadcastJoinThreshold": (
        str(64 * 1024 * 1024),
        {"10MB", "10485760b", "10485760"},
    ),
    "spark.sql.shuffle.partitions": (
        str(int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))),
        {"200"},
    ),
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    The package contract is ``fn(spark, sf_dir)`` with a CALLER-provided
    session; correctness must not depend on how that session was built. Every
    conf here is runtime-settable (``spark.conf.set``), so this is safe to
    call repeatedly — it is invoked from the query registry and from
    ``catalog.load_tables`` so both the DataFrame and SQL entry points work
    on a vanilla ``SparkSession.builder.getOrCreate()`` session.
    """
    for k, v in _MANDATORY_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — skip; none of these should be.
            pass
    for k, (v, defaults) in _PREFERRED_CONF.items():
        try:
            if spark.conf.get(k, defaults and next(iter(defaults))) in defaults:
                spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "apache_flink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` drives local parallelism (driver contract); on a real
    cluster ``master`` comes from spark-submit and this falls through.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(cpus))
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    # Local-mode heap: the single JVM hosts ALL executor threads, so Spark's
    # 1g driver default is the wrong sizing on a many-core box (measured: the
    # 49M-row triangle wedge join at sf0.1 OOMs a 1g heap). Heap is
    # environment sizing, not an engine conf — only effective when THIS call
    # launches the JVM; a cluster deployment sizes executors via submit args.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    # Warehouse location override (environment sizing, like the heap):
    # concurrent local sessions (e.g. sharded test runs) must not share
    # ./spark-warehouse — managed-table writes would collide on disk.
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    # Python workers of a local master see the driver's filesystem, so they
    # can run the engine's daemon and import the package from where the
    # driver did. On a cluster, a daemon that cannot import would break
    # every Python UDF, so there the workers keep pyspark's own.
    if master == "local" or master.startswith("local["):
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        caller_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (pkg_parent, caller_path) if p),
        )
        builder = builder.config(
            "spark.python.daemon.module", "apache_flink_spark.worker_daemon"
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass
class SessionState:
    """What the engine records about the objects one SparkSession owns,
    so ``spark.newSession()`` isolates them as Spark isolates its own."""

    #: table name -> (format, path, schema_ddl, declared_options) for
    #: filesystem tables; ("datagen", options, cols) for datagen sources.
    #: Consumers (INSERT, streaming replay, OPTIONS hints, row-level DML,
    #: compaction) rebuild readers/writers through ddl.fs_reader/fs_writer
    #: so the DECLARED connector options (csv delimiter/header, ...) are
    #: always honored — an ad-hoc spark.read at defaults silently re-parses
    #: csv wrong (r6 review finding).
    tables: dict[str, tuple] = field(default_factory=dict)
    #: table name -> (event-time column, delay expression e.g. "5 seconds")
    watermarks: dict[str, tuple[str, str]] = field(default_factory=dict)
    #: secondary catalogs: name -> {"comment", "properties", "dbs":
    #: {db: {"comment", "properties"}}, "current_db"}
    catalogs: dict[str, dict] = field(default_factory=dict)
    #: (catalog, db, table) -> mangled temp-view name
    cat_tables: dict[tuple[str, str, str], str] = field(default_factory=dict)
    #: current catalog: None = the built-in Spark session catalog
    current_catalog: str | None = None
    #: cat_tables keys added by a CREATE rewrite whose DDL has not yet been
    #: verified to have materialized the view — checked (and cleared) on
    #: the next statement, so a FAILED create cannot leave a phantom table
    pending: list[tuple[str, str, str]] = field(default_factory=list)
    #: ModuleManager state: ordered {name: used_flag}; the reference loads
    #: CoreModule by default (ModuleManager.java ctor)
    modules: dict[str, bool] = field(default_factory=lambda: {"core": True})
    #: original CREATE VIEW statement text per view name — the reference
    #: keeps view DDL in CatalogView; Spark's temp views don't, so the
    #: facade records the statements it routes (SHOW CREATE VIEW replays)
    view_ddl: dict[str, str] = field(default_factory=dict)
    #: view name -> properties set via ALTER VIEW ... SET (the reference
    #: keeps these in CatalogView options; Spark temp views have no slot)
    view_props: dict[str, dict] = field(default_factory=dict)
    #: SqlRemoveJar — jars "removed" from the session's resource list. The
    #: JVM cannot unload a loaded jar (true in the reference's cluster too
    #: once a job shipped it); REMOVE JAR removes it from the visible SHOW
    #: JARS list, exactly the reference SQL-client semantics of editing
    #: the resource set.
    removed_jars: set[str] = field(default_factory=set)
    #: function DDL: name -> (identifier, language) for SHOW-style
    #: introspection and IF [NOT] EXISTS semantics
    functions: dict[str, tuple[str, str]] = field(default_factory=dict)
    #: sf_dir -> {name: DataFrame}, so repeated load_tables() calls don't
    #: re-infer parquet schemas. The DataFrames hold the session, so a
    #: session that loaded fixtures lives until they are dropped.
    fixtures: dict[str, dict[str, DataFrame]] = field(default_factory=dict)
    #: which sf_dir the fixture temp views point at. Switching sf_dir must
    #: re-point them — a fixtures hit alone must NOT skip registration or
    #: spark.sql() would silently read the previous scale factor's data.
    fixtures_dir: str | None = None
    #: the Flink-named SQL functions are installed — registering ~30 SQL
    #: functions costs ~30 round-trips, so repeated TableEnvironment
    #: construction on the same session must not re-pay it
    functions_registered: bool = False


_STATES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_STATES_LOCK = threading.Lock()


def session_state(spark: SparkSession) -> SessionState:
    """``spark``'s :class:`SessionState`, created on first use."""
    state = _STATES.get(spark)
    if state is None:
        with _STATES_LOCK:
            state = _STATES.setdefault(spark, SessionState())
    return state
