"""Process Table Functions (PTF) — Flink 2.x FLIP-440 parity.

Reference: ``org.apache.flink.table.functions.ProcessTableFunction``
(flink-table-common) and the SQL call syntax introduced with it
(flink-sql-parser: table arguments ``f(input => TABLE t PARTITION BY k
ORDER BY ts, arg => 5)``; semantics hints ``TABLE_AS_SET`` /
``TABLE_AS_ROW`` in ``ArgumentHint``). A PTF is the reference's
user-defined *operator*: it receives a whole table argument — either
partitioned sets of rows (set semantics) or individual rows (row
semantics) — plus scalar arguments, and emits any number of output rows.

Spark-first execution:

  - **set semantics** → ``groupBy(partition keys).applyInPandas``: each
    key group arrives as ONE pandas DataFrame (sorted by the call's
    ORDER BY inside the group — the reference delivers rows in order per
    key too), the function returns the emitted rows, and the framework
    prepends the partition key columns — exactly the reference's implicit
    key pass-through. Arrow-batched, fully distributed, one shuffle on
    the partition keys (unavoidable: set semantics REQUIRE co-location).
  - **row semantics** → ``mapInPandas``: no shuffle at all; the function
    sees Arrow batches and emits rows per input row (or none/many).

Scale: both lanes are the engine's standard vectorized-Python shape —
payloads never reach the driver, per-group state is bounded by the
largest key group (same contract as every applyInPandas operator here),
and row semantics is embarrassingly parallel. Streaming PTFs — Flink 2.1
added keyed state + event-time timers to PTFs (``@StateHint``,
``ctx.timerService``) — run through :func:`apply_ptf_stream`:
``applyInPandasWithState`` with a :class:`PtfState` context, the exact
Spark twin of that contract.

SQL surface compiled by :func:`rewrite_ptf_calls` (string-literal-safe):

    SELECT ... FROM my_ptf(input => TABLE events PARTITION BY user_id
                           ORDER BY ts, threshold => 5)

Unsupported forms (subqueries as table args, multiple table args,
co-partitioned joins of two table args) raise :class:`PtfError` loudly.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from apache_flink_spark.statement import in_literal, literal_spans


class PtfError(ValueError):
    pass


@dataclass
class _PtfSpec:
    name: str
    fn: Callable
    output_schema: str  # DDL of the EMITTED columns (keys auto-prepended
    # for set semantics, reference-style)
    semantics: str  # 'set' | 'row'


_PTFS: dict[str, _PtfSpec] = {}


def register_ptf(
    name: str,
    fn: Callable,
    output_schema: str,
    semantics: str = "set",
) -> None:
    """Register a process table function.

    set semantics: ``fn(keys: tuple, pdf: pandas.DataFrame, **scalars)
    -> pandas.DataFrame`` with exactly the ``output_schema`` columns;
    the partition key columns are prepended by the framework.
    row semantics: ``fn(pdf: pandas.DataFrame, **scalars) ->
    pandas.DataFrame`` with the ``output_schema`` columns.
    """
    if semantics not in ("set", "row"):
        raise PtfError(f"semantics must be 'set' or 'row', got {semantics!r}")
    _PTFS[name.lower()] = _PtfSpec(name.lower(), fn, output_schema, semantics)


def list_ptfs() -> list[str]:
    return sorted(_PTFS)


def apply_ptf(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
    args: dict | None = None,
) -> DataFrame:
    """Programmatic PTF application (the Table API lane)."""
    spec = _PTFS.get(name.lower())
    if spec is None:
        raise PtfError(f"unknown PTF {name!r} — registered: {sorted(_PTFS)}")
    args = args or {}

    if spec.semantics == "row":
        if partition_by or order_by:
            raise PtfError(
                "row-semantics PTFs take TABLE t without PARTITION BY/"
                "ORDER BY (reference: TABLE_AS_ROW arguments are "
                "per-row — no co-location exists to order within)"
            )

        def _map(batches):
            for pdf in batches:
                out = spec.fn(pdf, **args)
                if len(out):
                    yield out

        return df.mapInPandas(_map, schema=spec.output_schema)

    if not partition_by:
        raise PtfError(
            f"set-semantics PTF {name!r} requires TABLE t PARTITION BY "
            "... (reference: TABLE_AS_SET arguments must be partitioned)"
        )
    for c in partition_by + (order_by or []):
        if c not in df.columns:
            raise PtfError(f"PTF column {c!r} not in table columns")
    key_schema = ", ".join(
        f"{c} {t}" for c, t in df.select(*partition_by).dtypes
    )
    out_schema = f"{key_schema}, {spec.output_schema}"
    ob = list(order_by or [])

    def _apply(keys, pdf):
        if ob:
            pdf = pdf.sort_values(ob, kind="stable")
        out = spec.fn(keys, pdf, **args)
        for i, k in enumerate(partition_by):
            out.insert(i, k, keys[i])
        return out

    # Explicit partition count (r13, same rule as the batch
    # MATCH_RECOGNIZE exchange): AQE's 64 MB advisory coalesce is sized
    # for JVM shuffle economics and starves the Python PTF stage of
    # parallelism; the groupBy reuses the exchange. r14: size-derived
    # with a bytes-per-partition floor (parallelism.py).
    from apache_flink_spark.parallelism import python_stage_partitions

    df = df.repartition(python_stage_partitions(df), *partition_by)
    return df.groupBy(*partition_by).applyInPandas(_apply, schema=out_schema)


# -- SQL surface --------------------------------------------------------------

_CALL_RE_TMPL = (
    r"\b(?P<fn>{names})\s*\(\s*(?:\w+\s*=>\s*)?TABLE\s+(?P<tbl>\w+)"
    r"(?:\s+PARTITION\s+BY\s+(?P<keys>\w+(?:\s*,\s*\w+)*))?"
    r"(?:\s+ORDER\s+BY\s+(?P<ord>\w+(?:\s*,\s*\w+)*))?"
    r"\s*(?:,(?P<rest>[^()]*))?\)"
)

_SCALAR_ARG_RE = re.compile(
    r"(?:(?P<name>\w+)\s*=>\s*)?"
    r"(?P<val>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)",
)


def _parse_scalars(rest: str, fn_name: str) -> dict:
    rest = rest or ""
    leftover = _SCALAR_ARG_RE.sub("", rest)
    # r6 ADVICE: with 3+ named scalars the stripped leftover is " , , " —
    # only commas/whitespace must remain, in any interleaving.
    if re.sub(r"[\s,]+", "", leftover):
        raise PtfError(
            f"PTF {fn_name!r}: unsupported scalar argument syntax "
            f"{rest.strip()!r} — use name => literal"
        )
    out = {}
    for m in _SCALAR_ARG_RE.finditer(rest):
        v = m.group("val")
        if v.startswith("'"):
            val = v[1:-1].replace("''", "'")
        elif "." in v:
            val = float(v)
        else:
            val = int(v)
        key = m.group("name")
        if key is None:
            raise PtfError(
                f"PTF {fn_name!r}: scalar arguments must be named "
                "(arg => value) — positional scalars are ambiguous after "
                "a table argument"
            )
        out[key] = val
    return out


def rewrite_ptf_calls(spark: SparkSession, sql: str) -> str:
    """Replace every registered-PTF call that takes a TABLE argument with
    a temp view holding the PTF's result, so the surrounding statement
    runs unchanged through Spark SQL. Literal-safe: calls inside '...'
    strings are never rewritten."""
    if not _PTFS:
        return sql
    call_re = re.compile(
        _CALL_RE_TMPL.format(
            names="|".join(re.escape(n) for n in _PTFS)
        ),
        re.I | re.S,
    )
    counter = [0]

    while True:
        lits = literal_spans(sql)
        m = None
        for cand in call_re.finditer(sql):
            if not in_literal(lits, cand.start()):
                m = cand
                break
        if m is None:
            return sql
        name = m.group("fn").lower()
        tbl = m.group("tbl")
        keys = (
            [k.strip() for k in m.group("keys").split(",")]
            if m.group("keys")
            else None
        )
        ordc = (
            [k.strip() for k in m.group("ord").split(",")]
            if m.group("ord")
            else None
        )
        scalars = _parse_scalars(m.group("rest"), name)
        result = apply_ptf(
            spark, name, spark.table(tbl),
            partition_by=keys, order_by=ordc, args=scalars,
        )
        counter[0] += 1
        view = f"__ptf_{name}_{counter[0]}"
        result.createOrReplaceTempView(view)
        sql = sql[: m.start()] + view + sql[m.end():]


# -- streaming PTFs (FLIP-440 state + timer support) --------------------------


class PtfState:
    """FLIP-440 ``Context``-style view over Spark's GroupState: value
    state, event-time timers, and the current watermark — the three
    facilities a streaming ProcessTableFunction declares in the
    reference (state entries via ``@StateHint``, ``ctx.timerService``)."""

    def __init__(self, group_state):
        self._gs = group_state

    def value(self):
        return self._gs.get if self._gs.exists else None

    def update(self, row: tuple) -> None:
        self._gs.update(row)

    def clear(self) -> None:
        self._gs.remove()

    @property
    def timer_fired(self) -> bool:
        return self._gs.hasTimedOut

    @property
    def watermark_ms(self) -> int:
        return self._gs.getCurrentWatermarkMs()

    def register_timer(self, ts_ms: int) -> None:
        self._gs.setTimeoutTimestamp(ts_ms)


def apply_ptf_stream(
    name: str,
    stream_df: DataFrame,
    partition_by: list[str],
    state_schema: str,
    output_mode: str = "update",
    event_time_timers: bool = False,
) -> DataFrame:
    """Streaming application of a registered PTF — the reference's
    streaming ProcessTableFunction lane (set semantics over an unbounded
    table; Flink 2.1 added keyed state + timers to PTFs, which is
    exactly Spark's applyInPandasWithState contract).

    The registered ``fn(keys, pdf_iter, state: PtfState) -> iterator of
    DataFrames`` sees every micro-batch's rows for its key plus its
    persistent state; emitted frames carry the declared output columns
    and the partition keys are prepended by the framework (as in the
    batch set-semantics lane). Timers require a watermark on
    ``stream_df`` and ``event_time_timers=True``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    spec = _PTFS.get(name.lower())
    if spec is None:
        raise PtfError(f"unknown PTF {name!r} — registered: {sorted(_PTFS)}")
    if spec.semantics != "set":
        raise PtfError(
            "streaming PTFs are set-semantics (keyed state needs a key); "
            f"{name!r} is row-semantics"
        )
    if not partition_by:
        raise PtfError("streaming PTFs require PARTITION BY keys")
    key_schema = ", ".join(
        f"{c} {t}" for c, t in stream_df.select(*partition_by).dtypes
    )
    out_schema = f"{key_schema}, {spec.output_schema}"

    def _apply(keys, pdf_iter, group_state):
        for out in spec.fn(keys, pdf_iter, PtfState(group_state)):
            for i, k in enumerate(partition_by):
                out.insert(i, k, keys[i])
            yield out

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if event_time_timers
        else GroupStateTimeout.NoTimeout
    )
    return stream_df.groupBy(*partition_by).applyInPandasWithState(
        _apply, out_schema, state_schema, output_mode, timeout
    )
