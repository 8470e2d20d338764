"""Model DDL + batch inference — reference CatalogModel / CREATE MODEL
parity with a Spark-first ML_PREDICT execution path.

Reference parity: the reference defines models as first-class catalog
objects — ``flink-table-common .../catalog/CatalogModel.java:30``
(options + INPUT/OUTPUT schemas + comment) with full DDL in the parser
(``flink-sql-parser/.../parserImpls.ftl:3376`` — CREATE [TEMPORARY] MODEL
[IF NOT EXISTS] with INPUT(...)/OUTPUT(...)/COMMENT/WITH, plus
SqlDropModel / SqlShowModels / SqlShowCreateModel / SqlAlterModel). In the
reference at this version the surface stops at the catalog: no planner
node executes a model. Here the catalog surface is mirrored AND given a
Spark-native execution path, because batch scoring over a table is the
core inference op of a training-data pipeline:

- ``ML_PREDICT(TABLE t, MODEL m [, DESCRIPTOR(col, ...)])`` in the FROM
  clause (the SQL shape Flink's ML functions FLIP introduced) compiles to
  ``DataFrame.mapInPandas`` over the model's registered PROVIDER — an
  Arrow-batched vectorized scoring lane that scales per-partition with no
  shuffle and never routes rows through the driver.
- Providers are pure Python batch functions registered by name
  (``register_provider``); a model names its provider in the WITH options
  (``'provider' = '...'``). Two deterministic built-ins ship for tests and
  oracles: ``vector-l2norm`` and ``linear`` (weights/bias from options).

Input columns are validated against the model's declared INPUT schema at
plan time; output columns append after the passthrough columns with the
declared OUTPUT schema — both loud on mismatch, like the reference's
resolved catalog schemas.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Optional

from apache_flink_spark.statement import in_literal, literal_spans

if TYPE_CHECKING:  # pandas loads lazily — sessions that never score a
    import pandas as pd  # model must not pay the import (r6 review)

__all__ = [
    "CatalogModel",
    "ModelCatalog",
    "ModelError",
    "register_provider",
    "ml_predict",
    "rewrite_ml_predict",
    "try_handle_model_statement",
]


class ModelError(ValueError):
    """Loud failure for model DDL / inference misuse."""


@dataclass
class CatalogModel:
    name: str
    input_schema: list[tuple[str, str]]
    output_schema: list[tuple[str, str]]
    options: dict[str, str] = field(default_factory=dict)
    comment: Optional[str] = None
    temporary: bool = False

    def ddl(self) -> str:
        """SHOW CREATE MODEL rendering."""
        parts = [
            f"CREATE {'TEMPORARY ' if self.temporary else ''}MODEL "
            f"`{self.name}`"
        ]
        if self.input_schema:
            cols = ", ".join(f"`{c}` {t}" for c, t in self.input_schema)
            parts.append(f"INPUT ({cols})")
        if self.output_schema:
            cols = ", ".join(f"`{c}` {t}" for c, t in self.output_schema)
            parts.append(f"OUTPUT ({cols})")
        if self.comment:
            parts.append("COMMENT '" + self.comment.replace("'", "''") + "'")
        if self.options:
            opts = ", ".join(
                f"'{k}' = '{v}'" for k, v in sorted(self.options.items())
            )
            parts.append(f"WITH ({opts})")
        return "\n".join(parts)


# -- provider registry --------------------------------------------------------

_PROVIDERS: dict[str, Callable] = {}


def register_provider(name: str, fn: Callable) -> None:
    """Register a batch scoring function: ``fn(batch: pandas.DataFrame,
    model: CatalogModel) -> pandas.DataFrame`` returning exactly the
    model's OUTPUT columns for the batch's rows, in order."""
    _PROVIDERS[name] = fn


def _l2norm_provider(batch: "pd.DataFrame", model: CatalogModel) -> "pd.DataFrame":
    import numpy as np
    import pandas as pd

    col = model.input_schema[0][0]
    out = model.output_schema[0][0]
    vals = [
        float(np.sqrt(np.asarray(v, dtype=np.float64) @
                      np.asarray(v, dtype=np.float64)))
        for v in batch[col]
    ]
    return pd.DataFrame({out: vals})


def _linear_provider(batch: "pd.DataFrame", model: CatalogModel) -> "pd.DataFrame":
    import numpy as np
    import pandas as pd

    col = model.input_schema[0][0]
    out = model.output_schema[0][0]
    w = np.asarray(
        [float(x) for x in model.options["weights"].split(",")],
        dtype=np.float64,
    )
    b = float(model.options.get("bias", "0"))
    vals = []
    for v in batch[col]:
        x = np.asarray(v, dtype=np.float64)
        if x.shape != w.shape:
            raise ModelError(
                f"linear model {model.name!r}: input dim {x.shape[0]} != "
                f"weight dim {w.shape[0]}"
            )
        vals.append(float(x @ w + b))
    return pd.DataFrame({out: vals})


register_provider("vector-l2norm", _l2norm_provider)
register_provider("linear", _linear_provider)


# -- catalog ------------------------------------------------------------------

class ModelCatalog:
    """In-memory model store — GenericInMemoryCatalog's model half
    (reference Catalog.java listModels/getModel/createModel/alterModel/
    dropModel)."""

    def __init__(self) -> None:
        self._models: dict[str, CatalogModel] = {}

    def create(self, model: CatalogModel, if_not_exists: bool = False) -> None:
        if model.name in self._models:
            if if_not_exists:
                return
            raise ModelError(f"model {model.name!r} already exists")
        self._models[model.name] = model

    def drop(self, name: str, if_exists: bool = False) -> None:
        if name not in self._models:
            if if_exists:
                return
            raise ModelError(f"model {name!r} does not exist")
        del self._models[name]

    def get(self, name: str) -> CatalogModel:
        try:
            return self._models[name]
        except KeyError:
            raise ModelError(f"model {name!r} does not exist") from None

    def alter_options(self, name: str, options: dict[str, str]) -> None:
        self.get(name).options.update(options)

    def list(self) -> list[str]:
        return sorted(self._models)


# -- inference ----------------------------------------------------------------

def ml_predict(df, model: CatalogModel, input_cols: Optional[list] = None):
    """Score ``df`` with ``model``: passthrough columns + appended OUTPUT
    columns, executed as one Arrow-batched mapInPandas (no shuffle, no
    driver collection). ``input_cols`` (the DESCRIPTOR) maps df columns
    onto the model's INPUT schema positionally; default: match by name."""
    provider_name = model.options.get("provider")
    if not provider_name:
        raise ModelError(
            f"model {model.name!r} has no 'provider' option — inference "
            f"needs one of: {sorted(_PROVIDERS)}"
        )
    try:
        provider = _PROVIDERS[provider_name]
    except KeyError:
        raise ModelError(
            f"unknown provider {provider_name!r} for model {model.name!r} "
            f"— registered: {sorted(_PROVIDERS)}"
        ) from None

    expected = [c for c, _ in model.input_schema]
    actual = input_cols if input_cols is not None else expected
    if len(actual) != len(expected):
        raise ModelError(
            f"DESCRIPTOR names {len(actual)} columns; model "
            f"{model.name!r} INPUT declares {len(expected)}"
        )
    missing = [c for c in actual if c not in df.columns]
    if missing:
        raise ModelError(
            f"input column(s) {missing} not present in the table "
            f"(columns: {df.columns})"
        )
    clash = [c for c, _ in model.output_schema if c in df.columns]
    if clash:
        raise ModelError(
            f"model OUTPUT column(s) {clash} collide with table columns"
        )

    out_ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{c}` {t}" for c, t in model.output_schema]
    )
    rename = dict(zip(actual, expected))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = pdf[actual].rename(columns=rename)
            out = provider(feats, model)
            out.index = pdf.index
            yield pd.concat([pdf, out], axis=1)

    return df.mapInPandas(score, out_ddl)


# -- DDL + SQL routing --------------------------------------------------------

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+(?P<temp>TEMPORARY\s+)?MODEL\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*"
    r"(?:INPUT\s*\((?P<input>[^)]*)\)\s*)?"
    r"(?:OUTPUT\s*\((?P<output>[^)]*)\)\s*)?"
    r"(?:COMMENT\s+'(?P<comment>(?:[^']|'')*)'\s*)?"
    r"(?:WITH\s*\((?P<opts>.*)\)\s*)?$",
    re.I | re.S,
)
_DROP_RE = re.compile(
    r"^\s*DROP\s+MODEL\s+(?P<ie>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?\s*$", re.I
)
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+MODELS(?:\s+LIKE\s+'(?P<like>[^']*)')?\s*$", re.I
)
_RENAME_RE = re.compile(
    r"^\s*ALTER\s+MODEL\s+(?P<ie>IF\s+EXISTS\s+)?`?(?P<name>\w+)`?"
    r"\s+RENAME\s+TO\s+`?(?P<to>\w+)`?\s*$",
    re.I,
)
_SHOW_CREATE_RE = re.compile(
    r"^\s*SHOW\s+CREATE\s+MODEL\s+`?(?P<name>\w+)`?\s*$", re.I
)
_DESC_MODEL_RE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+MODEL\s+(?P<ext>EXTENDED\s+)?`?(?P<name>\w+)`?\s*$",
    re.I,
)
_ALTER_RE = re.compile(
    r"^\s*ALTER\s+MODEL\s+`?(?P<name>\w+)`?\s+SET\s*\((?P<opts>.*)\)\s*$",
    re.I | re.S,
)
_ML_PREDICT_RE = re.compile(
    r"ML_PREDICT\s*\(\s*TABLE\s+`?(?P<table>\w+)`?\s*,\s*"
    r"MODEL\s+`?(?P<model>\w+)`?\s*"
    r"(?:,\s*DESCRIPTOR\s*\(\s*(?P<desc>[^)]*)\)\s*)?\)",
    re.I,
)
_OPT_PAIR_RE = re.compile(r"'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'")


def _parse_cols(body: Optional[str]) -> list[tuple[str, str]]:
    if not body or not body.strip():
        return []
    out = []
    for part in body.split(","):
        toks = part.strip().split(None, 1)
        if len(toks) != 2:
            raise ModelError(f"bad column declaration: {part.strip()!r}")
        out.append((toks[0].strip("`"), toks[1].strip()))
    return out


def _parse_opts(body: Optional[str]) -> dict[str, str]:
    if not body:
        return {}
    return {
        k.replace("''", "'"): v.replace("''", "'")
        for k, v in _OPT_PAIR_RE.findall(body)
    }


def try_handle_model_statement(tenv, sql: str):
    """Route one model statement; returns a DataFrame, or None when the
    statement is not model DDL (caller falls through)."""
    spark = tenv.spark
    cat: ModelCatalog = tenv.model_catalog

    m = _CREATE_RE.match(sql)
    if m:
        cat.create(
            CatalogModel(
                name=m.group("name"),
                input_schema=_parse_cols(m.group("input")),
                output_schema=_parse_cols(m.group("output")),
                options=_parse_opts(m.group("opts")),
                comment=(m.group("comment") or "").replace("''", "'") or None,
                temporary=bool(m.group("temp")),
            ),
            if_not_exists=bool(m.group("ine")),
        )
        return spark.sql("SELECT 'OK' AS result")
    m = _DROP_RE.match(sql)
    if m:
        cat.drop(m.group("name"), if_exists=bool(m.group("ie")))
        return spark.sql("SELECT 'OK' AS result")
    m = _SHOW_RE.match(sql)
    if m:
        from apache_flink_spark.catalog_sql import _sql_like

        names = [
            n for n in cat.list() if _sql_like(n, m.group("like"), False)
        ]
        return spark.createDataFrame(
            [(n,) for n in names], "model_name string"
        )
    m = _RENAME_RE.match(sql)
    if m:
        # SqlAlterModel rename form (newModelName operand)
        name, to = m.group("name"), m.group("to")
        try:
            model = cat.get(name)
        except ModelError:
            if m.group("ie"):
                return spark.sql("SELECT 'OK' AS result")
            raise
        # validate the target BEFORE dropping the source — drop-first
        # destroyed the source on a name collision (r7 review)
        if to in cat.list():
            raise ModelError(f"model {to!r} already exists")
        cat.drop(name)
        model.name = to
        cat.create(model)
        return spark.sql("SELECT 'OK' AS result")
    m = _SHOW_CREATE_RE.match(sql)
    if m:
        return spark.createDataFrame(
            [(cat.get(m.group("name")).ddl(),)], "result string"
        )
    m = _ALTER_RE.match(sql)
    if m:
        cat.alter_options(m.group("name"), _parse_opts(m.group("opts")))
        return spark.sql("SELECT 'OK' AS result")
    m = _DESC_MODEL_RE.match(sql)
    if m:
        # SqlRichDescribeModel (flink-sql-parser .../dql/
        # SqlRichDescribeModel.java): the model's declared input/output
        # schema, one row per column; EXTENDED adds the options.
        model = cat.get(m.group("name"))
        rows = [(c, t, "INPUT") for c, t in model.input_schema]
        rows += [(c, t, "OUTPUT") for c, t in model.output_schema]
        if m.group("ext"):
            rows += [
                (f"option:{k}", v, "OPTION")
                for k, v in sorted(model.options.items())
            ]
        return spark.createDataFrame(
            rows, "name string, type string, kind string"
        )
    return None


def rewrite_ml_predict(tenv, sql: str) -> str:
    """Substitute each ``ML_PREDICT(TABLE t, MODEL m[, DESCRIPTOR(...)])``
    call outside literals with a temp view of its scored rows, so the
    statement around it (a SELECT, an INSERT INTO a DDL sink, a view)
    runs on its route unchanged."""
    pos = 0
    while True:
        pm = _ML_PREDICT_RE.search(sql, pos)
        if pm is None:
            return sql
        if in_literal(literal_spans(sql), pm.start()):
            pos = pm.end()
            continue
        model = tenv.model_catalog.get(pm.group("model"))
        desc = pm.group("desc")
        cols = (
            [c.strip().strip("`") for c in desc.split(",")] if desc else None
        )
        scored = ml_predict(tenv.spark.table(pm.group("table")), model, cols)
        view = f"__ml_predict_{pm.group('model')}_{pm.group('table')}"
        scored.createOrReplaceTempView(view)
        sql = sql[:pm.start()] + view + sql[pm.end():]
        pos = pm.start() + len(view)
