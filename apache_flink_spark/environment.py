"""TableEnvironment: the engine's user-facing facade.

Equivalent of the reference's ``TableEnvironment`` (reference:
flink-table/flink-table-api-java/.../api/TableEnvironment.java — executeSql,
sqlQuery, from_path, createTemporaryView) re-expressed over SparkSession.
Unlike the reference there is no separate planner/runtime boundary: the
returned objects ARE Spark DataFrames, so users compose them with the full
DataFrame API and Catalyst plans/executes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apache_flink_spark import statement
from apache_flink_spark.catalog import load_tables
from apache_flink_spark.functions.registry import register_all
from apache_flink_spark.session import get_spark, session_state


class TableEnvironment:
    """Unified batch/stream entry point.

    Reference parity map (flink-table-api-java .../TableEnvironment.java):
      - ``executeSql`` / ``sqlQuery``  -> :meth:`sql`
      - ``from(path)``                 -> :meth:`from_path`
      - ``createTemporaryView``        -> :meth:`create_view`
      - ``fromValues``                 -> :meth:`from_values`
      - function registration          -> done eagerly in ``__init__`` via
        :func:`apache_flink_spark.functions.registry.register_all`
    """

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        register_all(self.spark)
        if sf_dir:
            self.use_data_dir(sf_dir)
        from apache_flink_spark.models import ModelCatalog

        # reference CatalogManager's model namespace (CatalogModel.java)
        self.model_catalog = ModelCatalog()

    @classmethod
    def create(cls, sf_dir: str | None = None) -> "TableEnvironment":
        return cls(sf_dir=sf_dir)

    @property
    def materialized_tables(self):
        """Lazily-created MaterializedTableManager for this session
        (reference: MaterializedTableManager per gateway session)."""
        if not hasattr(self, "_mt_manager"):
            from apache_flink_spark.materialized_table import (
                MaterializedTableManager,
            )

            self._mt_manager = MaterializedTableManager(self)
        return self._mt_manager

    def use_data_dir(self, sf_dir: str) -> dict[str, DataFrame]:
        """Register every fixture table under ``sf_dir`` as a temp view."""
        return load_tables(self.spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        """Parse/plan/execute one statement — reference
        TableEnvironmentImpl.executeSql (flink-table-api-java
        .../internal/TableEnvironmentImpl.java:727); Catalyst replaces the
        Calcite parse->validate->optimize chain (SURVEY.md §3).

        Routing is decided in one place, the route table
        :data:`apache_flink_spark.statement.ROUTES`: the statement's
        leading keywords name its one route. A route that carries a query
        has the Flink SQL surfaces Spark lacks (window TVFs,
        MATCH_RECOGNIZE, ML_PREDICT, hints, ...) rewritten once by
        :data:`apache_flink_spark.statement.REWRITES`; the route's handler
        then runs it, and what no handler takes runs on ``spark.sql``."""
        stmt = statement.classify(query)
        if stmt.route in statement.REWRITTEN_ROUTES:
            stmt = stmt._replace(sql=statement.rewrite(self, stmt))
        handler = statement.HANDLERS.get(stmt.route)
        out = handler(self, stmt) if handler is not None else None
        return self.spark.sql(stmt.sql) if out is None else out

    def from_path(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def table(self, name: str):
        """Fluent Table API handle (reference entry point B — SURVEY.md §3;
        pyflink table.py surface in apache_flink_spark/table_api.py)."""
        from apache_flink_spark.table_api import Table

        return Table(self.spark.table(name))

    def create_view(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def from_values(self, rows, schema=None) -> DataFrame:
        """Inline literal table — reference StreamExecValues / fromValues."""
        return self.spark.createDataFrame(rows, schema=schema)

    def explain_sql(self, query: str, extended: bool = False) -> str:
        """Plan explanation for a SQL statement — reference
        TableEnvironment.explainSql (flink-table-api-java
        .../TableEnvironment.java, ExplainDetail variants). Returns the
        Catalyst plan string: physical only by default, parsed→analyzed→
        optimized→physical with ``extended=True`` (the analog of the
        reference's AST / optimized rel / physical triple)."""
        df = self.sql(query)
        qe = df._jdf.queryExecution()
        return qe.toString() if extended else qe.simpleString()

    # -- catalog introspection (reference TableEnvironment.listTables /
    # listViews / listFunctions / listDatabases, CatalogManager-backed) --

    def list_tables(self) -> list[str]:
        """Names of every table and view visible in the current database
        (reference ``listTables`` — includes temporary views, as the
        reference's does)."""
        return sorted(t.name for t in self.spark.catalog.listTables())

    def list_views(self) -> list[str]:
        """Temporary-view names only (reference ``listViews``)."""
        return sorted(
            t.name for t in self.spark.catalog.listTables() if t.isTemporary
        )

    def list_databases(self) -> list[str]:
        """Reference ``listDatabases`` (Spark: catalog databases)."""
        return sorted(d.name for d in self.spark.catalog.listDatabases())

    def list_functions(self) -> list[str]:
        """Every resolvable function name, builtin + registered UDFs
        (reference ``listFunctions``)."""
        return sorted(f.name for f in self.spark.catalog.listFunctions())

    def drop_temporary_view(self, name: str) -> bool:
        """Reference ``dropTemporaryView``: True when the view existed."""
        return bool(self.spark.catalog.dropTempView(name))

    # -- pyflink table_environment.py conveniences (r7) -------------------

    def sql_query(self, query: str) -> "Table":
        """pyflink sql_query:681 — a SELECT returned as a fluent Table."""
        from apache_flink_spark.table_api import Table

        return Table(self.sql(query))

    def execute_sql(self, stmt: str) -> DataFrame:
        """pyflink execute_sql:704 — alias of :meth:`sql`."""
        return self.sql(stmt)

    def list_catalogs(self) -> list[str]:
        """pyflink list_catalogs:528 — built-in + registered secondary."""
        return [r[0] for r in self.sql("SHOW CATALOGS").collect()]

    def list_modules(self) -> list[str]:
        """pyflink list_modules:537 — USED modules in resolution order."""
        modules = session_state(self.spark).modules
        return [n for n, used in modules.items() if used]

    def list_full_modules(self) -> list[tuple[str, bool]]:
        """pyflink list_full_modules:548 — (name, used) pairs."""
        return list(session_state(self.spark).modules.items())

    def get_current_catalog(self) -> str:
        from apache_flink_spark.catalogs import current_catalog

        return current_catalog(self.spark)

    def use_catalog(self, catalog_name: str) -> None:
        self.sql(f"USE CATALOG {catalog_name}")

    def get_current_database(self) -> str:
        return self.sql("SHOW CURRENT DATABASE").collect()[0][0]

    def use_database(self, database_name: str) -> None:
        self.sql(f"USE {database_name}")

    def from_elements(self, rows, schema=None) -> DataFrame:
        """pyflink from_elements — alias of :meth:`from_values`."""
        return self.from_values(rows, schema)

    def create_statement_set(self) -> "StatementSet":
        """Multi-sink pipeline builder — reference
        TableEnvironment.createStatementSet (StatementSetImpl): buffer
        several INSERT INTOs and execute them as one unit."""
        return StatementSet(self)


class StatementSet:
    """Buffered multi-insert execution (reference StatementSetImpl —
    flink-table-api-java .../internal/StatementSetImpl.java).

    The reference compiles all buffered inserts into ONE job graph so shared
    source subtrees are read once. Spark has no cross-query common-subplan
    reuse, so the same effect comes from persisting each distinct shared
    source DataFrame for the duration of :meth:`execute` — every sink then
    reads the materialized partitions instead of re-scanning."""

    def __init__(self, tenv: TableEnvironment):
        self._tenv = tenv
        self._inserts: list[tuple[str, DataFrame, str]] = []

    def add_insert_sql(self, target_path: str, query: str, fmt: str = "parquet") -> "StatementSet":
        """Buffer ``INSERT INTO <target_path> <query>`` (path-based sink)."""
        self._inserts.append((target_path, self._tenv.sql(query), fmt))
        return self

    def add_insert(self, target_path: str, df: DataFrame, fmt: str = "parquet") -> "StatementSet":
        """Buffer a DataFrame insert into a path-based sink."""
        self._inserts.append((target_path, df, fmt))
        return self

    def execute(self, shared: DataFrame | None = None) -> list[str]:
        """Run every buffered insert; returns the written paths.

        ``shared`` optionally names a source DataFrame common to several
        inserts — it is persisted for the duration so each sink job reuses
        the materialized scan (the reference's single-DAG multi-sink
        behavior)."""
        if not self._inserts:
            return []
        if shared is not None:
            shared.persist()
        try:
            paths = []
            for path, df, fmt in self._inserts:
                df.write.format(fmt).mode("append").save(path)
                paths.append(path)
            return paths
        finally:
            if shared is not None:
                shared.unpersist()
            self._inserts.clear()
