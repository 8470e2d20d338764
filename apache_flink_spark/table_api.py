"""Fluent Table API — the reference's entry point B re-expressed over
DataFrames.

Reference parity (SURVEY.md §3 entry point B): the PyFlink ``Table`` surface
(flink-python pyflink/table/table.py — select:117, filter:151, group_by:181,
join:209, minus:408, intersect:489, order_by:533, offset:551, fetch:574,
limit:599, window:624, over_window:663, aggregate:820) and the window
descriptors (pyflink/table/window.py — Tumble:54, Session:131, Slide:209,
Over:318). The reference builds QueryOperation trees that its planner
translates; here every method augments a Spark DataFrame directly, so the
fluent chain IS the logical plan Catalyst optimizes — no separate
planner layer exists or is needed.

Expressions: methods accept PySpark ``Column`` objects or SQL strings
(parsed with ``F.expr``), mirroring PyFlink's col()/string duality.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(e) -> Column:
    return e if isinstance(e, Column) else F.expr(e)


class Table:
    """Fluent relational table (reference Table.java / pyflink table.py)."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- conversion ------------------------------------------------------
    def to_df(self) -> DataFrame:
        return self._df

    def to_pandas(self):
        """pyflink table.py to_pandas:915."""
        return self._df.toPandas()

    def execute(self) -> DataFrame:
        return self._df

    def explain(self, extended: bool = False) -> str:
        """Plan explanation — reference Table.explain (pyflink table.py
        explain:1004, ExplainDetail). Physical plan by default; the full
        parsed→analyzed→optimized→physical chain with ``extended=True``."""
        qe = self._df._jdf.queryExecution()
        return qe.toString() if extended else qe.simpleString()

    # -- row-level ops ---------------------------------------------------
    def select(self, *exprs) -> "Table":
        return Table(self._df.select(*[_col(e) for e in exprs]))

    def filter(self, predicate) -> "Table":
        return Table(self._df.filter(_col(predicate)))

    where = filter

    def alias(self, *names: str) -> "Table":
        """Positional rename of ALL columns (pyflink table.py alias:133)."""
        if len(names) != len(self._df.columns):
            raise ValueError(
                f"alias() names {len(names)} columns; table has "
                f"{len(self._df.columns)}"
            )
        return Table(self._df.toDF(*names))

    def add_columns(self, **named_exprs) -> "Table":
        """pyflink add_columns:696 — rejects existing names (use
        :meth:`add_or_replace_columns` to overwrite)."""
        dup = [n for n in named_exprs if n in self._df.columns]
        if dup:
            raise ValueError(
                f"add_columns: column(s) {dup} already exist — the "
                "reference's addColumns throws too; use "
                "add_or_replace_columns"
            )
        df = self._df
        for name, e in named_exprs.items():
            df = df.withColumn(name, _col(e))
        return Table(df)

    def add_or_replace_columns(self, **named_exprs) -> "Table":
        """pyflink add_or_replace_columns:713."""
        df = self._df
        for name, e in named_exprs.items():
            df = df.withColumn(name, _col(e))
        return Table(df)

    def map(self, func, output_schema: str) -> "Table":
        """pyflink map:764 — a row-mapping function over the whole table,
        executed as ONE Arrow-batched mapInPandas (vectorized, no
        shuffle). ``func(pdf: pandas.DataFrame) -> pandas.DataFrame``
        returns exactly ``output_schema``'s columns, one row per input
        row."""
        def runner(batches):
            for pdf in batches:
                yield func(pdf)

        return Table(self._df.mapInPandas(runner, output_schema))

    def flat_map(self, func, output_schema: str) -> "Table":
        """pyflink flat_map:790 (UDTF shape): ``func`` may emit ANY number
        of rows per input row — same Arrow-batched lane as :meth:`map`."""
        return self.map(func, output_schema)

    def rename_columns(self, **renames) -> "Table":
        df = self._df
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
        return Table(df)

    def drop_columns(self, *names) -> "Table":
        return Table(self._df.drop(*names))

    def distinct(self) -> "Table":
        return Table(self._df.distinct())

    # -- aggregation -----------------------------------------------------
    def group_by(self, *keys) -> "GroupedTable":
        return GroupedTable(self._df, list(keys))

    def aggregate(self, *aggs) -> "Table":
        """Global aggregate (no keys) — pyflink aggregate:820."""
        return Table(self._df.agg(*[_col(a) for a in aggs]))

    def window(self, window_desc: "GroupWindow") -> "WindowedTable":
        """pyflink window:624 — group-window aggregation entry."""
        return WindowedTable(self._df, window_desc)

    def over_window(self, window: "Over") -> "OverWindowedTable":
        """pyflink over_window:663 — analytic functions over the
        descriptor's frame: ``t.over_window(Over.partition_by("k")
        .order_by("ts").preceding(2)).select("k", rsum=F.sum("v"))``."""
        return OverWindowedTable(self._df, window)

    def flat_aggregate(self, *keys) -> "GroupedTable":
        """pyflink flat_aggregate:860 — group then apply a UDTAF via
        :meth:`GroupedTable.flat_aggregate`."""
        return self.group_by(*keys)

    # -- joins -----------------------------------------------------------
    def join(self, other: "Table", on, how: str = "inner") -> "Table":
        return Table(self._df.join(other._df, _col(on), how))

    def create_temporal_table_function(
        self, time_attr: str, primary_key: str
    ) -> "TemporalTableFunction":
        """Reference ``Table.createTemporalTableFunction`` (pyflink
        table.py / TemporalTableFunctionImpl.java): wraps THIS table as a
        versioned function of time, later applied with
        :meth:`join_lateral`. The build side is assumed versioned — one
        row per (primary_key, time_attr), the same contract the
        reference's TemporalProcessTimeJoinOperator requires."""
        return TemporalTableFunction(self._df, time_attr, primary_key)

    def join_lateral(self, call, probe_key: str) -> "Table":
        """Reference ``Table.joinLateral(rates(o_time), key equality)`` —
        the temporal-table-function join syntax (pre-FOR SYSTEM_TIME AS
        OF): INNER — probe rows with no version at their time are
        dropped, like the reference's joinLateral;
        :meth:`left_outer_join_lateral` keeps them NULL-padded."""
        return Table(
            self._join_lateral(call, probe_key).filter(
                F.col("__v").isNotNull()
            ).drop("__v")
        )

    def left_outer_join_lateral(self, call, probe_key: str) -> "Table":
        """Reference ``Table.leftOuterJoinLateral`` (pyflink table.py
        left_outer_join_lateral:360): probe rows before the first version
        survive with NULL function columns."""
        return Table(self._join_lateral(call, probe_key).drop("__v"))

    def _join_lateral(self, call, probe_key: str) -> DataFrame:
        """Temporal-table-function join core. Executes as the engine's
        scalable as-of shape: union-merge +
        one last-ignore-nulls window pass (see queries/temporal_joins
        .asof_join), never a range join. Left rows keep all their
        columns; the function's non-key columns arrive from the latest
        version with ``version.time <= probe.time`` (NULL before the
        first version). The ``__v`` marker column (NULL = unmatched) is
        left for the caller to filter/drop.

        Parity note (ADVICE r5): the reference's temporal table function
        join emits the FULL function-table row including its time
        attribute. The matched version's time is therefore carried too —
        under its own name when free on the probe side, else suffixed
        ``<time_attr>_version`` (both sides naming the time column
        identically is the common case). Payload-column name collisions
        still refuse loudly."""
        ttf, probe_time = call
        right, r_time, r_key = ttf.df, ttf.time_attr, ttf.primary_key
        payload_cols = [c for c in right.columns if c not in (r_key, r_time)]
        clash = sorted(set(payload_cols) & set(self._df.columns))
        if clash:
            raise ValueError(
                f"join_lateral: function-table columns {clash} collide with "
                "probe-side columns; rename one side (e.g. "
                "right.withColumnRenamed) before the temporal join"
            )
        vt_out = (
            r_time
            if r_time not in self._df.columns and r_time not in payload_cols
            else f"{r_time}_version"
        )
        if vt_out != r_time and (
            vt_out in self._df.columns or vt_out in payload_cols
        ):
            # the suffixed fallback must ALSO be collision-checked, or the
            # output silently carries two identically-named columns and
            # breaks at the first select (review r6 finding #10)
            raise ValueError(
                f"join_lateral: version-time output column {vt_out!r} "
                "collides with an existing column; rename the probe-side "
                f"column {vt_out!r} before the temporal join"
            )
        carry_cols = payload_cols + [vt_out]
        carry_exprs = [F.col(c) for c in payload_cols] + [
            F.col(r_time).alias(vt_out)
        ]
        left_cols = self._df.columns
        l = (
            self._df.withColumn("__side", F.lit(1))
            .withColumn("__ts", F.col(probe_time))
            .withColumn("__key", F.col(probe_key))
            .withColumn(
                "__carry",
                F.lit(None).cast(
                    right.select(F.struct(*carry_exprs).alias("s")).schema[
                        "s"
                    ].dataType
                ),
            )
        )
        r = right.select(
            F.lit(0).alias("__side"),
            F.col(r_time).alias("__ts"),
            F.col(r_key).alias("__key"),
            F.struct(*carry_exprs).alias("__carry"),
            *[
                F.lit(None).cast(d.dataType).alias(d.name)
                for d in self._df.schema.fields
            ],
        ).select("__side", "__ts", "__key", "__carry", *left_cols)
        u = l.select("__side", "__ts", "__key", "__carry", *left_cols).unionByName(r)
        from pyspark.sql import Window as W

        w = (
            W.partitionBy("__key")
            .orderBy("__ts", "__side")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        carried = F.last("__carry", ignorenulls=True).over(w)
        out = (
            u.withColumn("__v", carried)
            .filter(F.col("__side") == 1)
            .select(
                *left_cols,
                *[F.col(f"__v.{c}").alias(c) for c in carry_cols],
                "__v",
            )
        )
        return out

    def left_outer_join(self, other: "Table", on) -> "Table":
        return self.join(other, on, "left")

    def right_outer_join(self, other: "Table", on) -> "Table":
        return self.join(other, on, "right")

    def full_outer_join(self, other: "Table", on) -> "Table":
        return self.join(other, on, "full")

    def cross_join(self, other: "Table") -> "Table":
        return Table(self._df.crossJoin(other._df))

    # -- set ops (pyflink minus:408, intersect:489) ----------------------
    def union(self, other: "Table") -> "Table":
        return Table(self._df.union(other._df).distinct())

    def union_all(self, other: "Table") -> "Table":
        return Table(self._df.union(other._df))

    def minus(self, other: "Table") -> "Table":
        return Table(self._df.subtract(other._df))

    def minus_all(self, other: "Table") -> "Table":
        return Table(self._df.exceptAll(other._df))

    def intersect(self, other: "Table") -> "Table":
        return Table(self._df.intersect(other._df))

    def intersect_all(self, other: "Table") -> "Table":
        return Table(self._df.intersectAll(other._df))

    # -- ordering (pyflink order_by:533, offset:551, fetch:574) ----------
    def order_by(self, *exprs) -> "Table":
        return Table(self._df.orderBy(*[_col(e) for e in exprs]))

    def limit(self, n: int) -> "Table":
        return Table(self._df.limit(n))

    fetch = limit

    def offset(self, offset: int) -> "Table":
        """pyflink offset:551 (follow with :meth:`fetch`)."""
        return Table(self._df.offset(offset))

    def offset_fetch(self, offset: int, n: int) -> "Table":
        return Table(self._df.offset(offset).limit(n))

    # -- schema / sinks (pyflink get_schema:960, execute_insert:974) -----
    def get_schema(self):
        """The table's schema (Spark StructType — the TableSchema analog)."""
        return self._df.schema

    def print_schema(self) -> None:
        self._df.printSchema()

    def execute_insert(self, table_path: str, overwrite: bool = False):
        """pyflink execute_insert:974 — write this table into a named
        sink. A DDL-declared connector table goes through its declared
        writer (format/options/partition layout); a Spark catalog table
        through insertInto. Returns the written row count DataFrame."""
        from apache_flink_spark.ddl import fs_writer, refresh_table_view
        from apache_flink_spark.session import session_state

        spark = self._df.sparkSession
        if table_path in session_state(spark).tables:
            writer, _fmt, path = fs_writer(spark, self._df, table_path)
            writer.mode("overwrite" if overwrite else "append").save(path)
            refresh_table_view(spark, table_path)
        else:
            self._df.write.insertInto(table_path, overwrite=overwrite)
        return spark.createDataFrame(
            [(table_path,)], "`inserted into` string"
        )


class TemporalTableFunction:
    """Handle returned by :meth:`Table.create_temporal_table_function`
    (reference TemporalTableFunctionImpl.java). Calling it with the probe
    side's time attribute — ``rates("o_time")`` — yields the argument
    :meth:`Table.join_lateral` consumes, mirroring the pyflink call
    shape."""

    def __init__(self, df: DataFrame, time_attr: str, primary_key: str):
        self.df = df
        self.time_attr = time_attr
        self.primary_key = primary_key

    def __call__(self, probe_time_attr: str):
        return (self, probe_time_attr)


class GroupedTable:
    def __init__(self, df: DataFrame, keys: Sequence):
        self._df = df
        self._raw_keys = list(keys)
        self._keys = [_col(k) if not isinstance(k, Column) else k
                      for k in keys]

    def select(self, *aggs) -> Table:
        """Aggregate projection over the grouping (pyflink GroupedTable)."""
        return Table(self._df.groupBy(*self._keys).agg(*[_col(a) for a in aggs]))

    def _key_names(self, what: str) -> list[str]:
        names = [k for k in self._raw_keys if isinstance(k, str)]
        if len(names) != len(self._raw_keys):
            raise ValueError(
                f"{what} needs plain column-name grouping keys (the key "
                "values are re-attached to the function's output)"
            )
        return names

    def aggregate(self, func, output_schema: str) -> Table:
        """UDAF over each group (pyflink GroupedTable.aggregate:1105):
        ``func(pdf) -> one-row pandas DataFrame`` of ``output_schema``'s
        non-key columns; the grouping keys are re-attached. One
        applyInPandas — Arrow-batched, one keyed shuffle."""
        return self.flat_aggregate(func, output_schema)

    def flat_aggregate(self, func, output_schema: str) -> Table:
        """UDTAF over each group (pyflink flat_aggregate:1146): ``func``
        may emit any number of rows per group."""
        import pandas as pd

        keys = self._key_names("aggregate/flat_aggregate")

        def runner(key, pdf) -> "pd.DataFrame":
            out = func(pdf)
            for i, k in enumerate(keys):
                if k not in out.columns:
                    out.insert(i, k, key[i])
            return out

        full_schema = ", ".join(
            [
                f"{f.name} {f.dataType.simpleString()}"
                for f in self._df.select(*keys).schema.fields
            ]
            + [output_schema]
        )
        return Table(
            self._df.groupBy(*keys).applyInPandas(runner, full_schema)
        )


class OverWindowedTable:
    """pyflink OverWindowedTable:1330 — select with analytic aggregates
    computed over the descriptor's frame."""

    def __init__(self, df: DataFrame, window: "Over"):
        self._df = df
        self._window = window

    def select(self, *passthrough, **aggs) -> Table:
        spec = self._window.spec()
        return Table(
            self._df.select(
                *[_col(c) for c in passthrough],
                *[
                    _col(a).over(spec).alias(name)
                    for name, a in aggs.items()
                ],
            )
        )


class WindowedTable:
    def __init__(self, df: DataFrame, window_desc: "GroupWindow"):
        self._df = df
        self._desc = window_desc

    def group_by(self, *extra_keys) -> GroupedTable:
        """Group by the window plus optional keys; the window struct is
        exposed under its alias with .start/.end fields."""
        wcol = self._desc.to_column().alias(self._desc.alias_name)
        return GroupedTable(self._df, [wcol, *[_col(k) for k in extra_keys]])


class GroupWindow:
    """Base for Tumble/Slide/Session descriptors (pyflink window.py)."""

    def __init__(self):
        self.time_col: str | None = None
        self.alias_name: str = "w"

    def on(self, time_col: str) -> "GroupWindow":
        self.time_col = time_col
        return self

    def alias(self, name: str) -> "GroupWindow":
        self.alias_name = name
        return self

    def to_column(self) -> Column:  # pragma: no cover — abstract
        raise NotImplementedError


class Tumble(GroupWindow):
    """pyflink window.py Tumble:54 — Tumble.over("10 minutes").on("ts")."""

    def __init__(self):
        super().__init__()
        self.size: str | None = None

    @classmethod
    def over(cls, size: str) -> "Tumble":
        w = cls()
        w.size = size
        return w

    def to_column(self) -> Column:
        return F.window(self.time_col, self.size)


class Slide(GroupWindow):
    """pyflink window.py Slide:209 — Slide.over(size).every(slide).on(ts)."""

    def __init__(self):
        super().__init__()
        self.size: str | None = None
        self.slide: str | None = None

    @classmethod
    def over(cls, size: str) -> "Slide":
        w = cls()
        w.size = size
        return w

    def every(self, slide: str) -> "Slide":
        self.slide = slide
        return self

    def to_column(self) -> Column:
        return F.window(self.time_col, self.size, self.slide)


class Session(GroupWindow):
    """pyflink window.py Session:131 — Session.with_gap(gap).on(ts)."""

    def __init__(self):
        super().__init__()
        self.gap: str | None = None

    @classmethod
    def with_gap(cls, gap: str) -> "Session":
        w = cls()
        w.gap = gap
        return w

    def to_column(self) -> Column:
        return F.session_window(self.time_col, self.gap)


class Over:
    """Over-window descriptor (pyflink window.py Over:318):
    ``Over.partition_by("k").order_by("ts").preceding(2).as_("w")`` —
    yields a pyspark.sql.Window spec consumable by ``col.over(spec)``."""

    def __init__(self):
        self._partition: list = []
        self._order: list = []
        self._rows: tuple[int, int] | None = None

    @classmethod
    def partition_by(cls, *cols) -> "Over":
        o = cls()
        o._partition = list(cols)
        return o

    def order_by(self, *cols) -> "Over":
        self._order = list(cols)
        return self

    def preceding(self, n: int) -> "Over":
        end = self._rows[1] if self._rows is not None else 0
        self._rows = (-n, end)
        return self

    def unbounded_preceding(self) -> "Over":
        from pyspark.sql import Window as W

        end = self._rows[1] if self._rows is not None else W.currentRow
        self._rows = (W.unboundedPreceding, end)
        return self

    def following(self, n: int) -> "Over":
        """Frame end n rows after the current row (pyflink Over.following).
        An unspecified start defaults to UNBOUNDED PRECEDING — the
        reference's Over default (r7 review)."""
        from pyspark.sql import Window as W

        start = (
            self._rows[0] if self._rows is not None else W.unboundedPreceding
        )
        self._rows = (start, n)
        return self

    def unbounded_following(self) -> "Over":
        from pyspark.sql import Window as W

        start = (
            self._rows[0] if self._rows is not None else W.unboundedPreceding
        )
        self._rows = (start, W.unboundedFollowing)
        return self

    def spec(self):
        from pyspark.sql import Window as W

        s = W.partitionBy(*self._partition).orderBy(*self._order)
        if self._rows is not None:
            s = s.rowsBetween(*self._rows)
        return s
