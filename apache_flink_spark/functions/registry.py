"""SQL-side registration of Flink-named functions.

The reference exposes its functions through the Calcite operator table
(flink-table-planner .../functions/sql/FlinkSqlOperatorTable.java); most
names are already valid Spark SQL (SURVEY.md §2.10 mapping table). The
remainder — Flink spellings with no Spark twin — are installed as SQL
scalar functions (CREATE TEMPORARY FUNCTION ... RETURN <expr>), which
Catalyst inlines into the calling plan: zero-cost aliases, fully inside
whole-stage codegen, never Python.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from apache_flink_spark.session import session_state

# Flink name -> (typed parameter list, return type, body expression).
_SQL_FUNCTIONS = {
    # Null-safe boolean predicates (BuiltInFunctionDefinitions IS_TRUE
    # family): three-valued logic collapsed to two-valued, NULL -> FALSE
    # for the positive forms and NULL -> TRUE for the negated ones.
    "is_true": ("(x BOOLEAN)", "BOOLEAN", "x IS NOT DISTINCT FROM TRUE"),
    "is_false": ("(x BOOLEAN)", "BOOLEAN", "x IS NOT DISTINCT FROM FALSE"),
    "is_not_true": ("(x BOOLEAN)", "BOOLEAN", "x IS DISTINCT FROM TRUE"),
    "is_not_false": ("(x BOOLEAN)", "BOOLEAN", "x IS DISTINCT FROM FALSE"),
    "split_index": (
        "(s STRING, sep STRING, i INT)",
        "STRING",
        "element_at(split(s, sep), i + 1)",
    ),
    "translate3": (
        "(s STRING, src STRING, dst STRING)",
        "STRING",
        "translate(s, src, dst)",
    ),
    "json_value": (
        "(js STRING, p STRING)",
        "STRING",
        "get_json_object(js, p)",
    ),
    "json_exists": (
        "(js STRING, p STRING)",
        "BOOLEAN",
        "get_json_object(js, p) IS NOT NULL",
    ),
    "is_json": ("(js STRING)", "BOOLEAN", "try_parse_json(js) IS NOT NULL"),
    "json_quote": (
        "(s STRING)",
        "STRING",
        r"concat('\"', regexp_replace(regexp_replace(s, '\\\\', '\\\\\\\\'),"
        r" '\"', '\\\\\"'), '\"')",
    ),
    "json_unquote": ("(s STRING)", "STRING", "get_json_object(s, '$')"),
    "if_then_else": (
        "(c BOOLEAN, a STRING, b STRING)",
        "STRING",
        "CASE WHEN c THEN a ELSE b END",
    ),
    "char_length_": ("(s STRING)", "INT", "length(s)"),
    "to_base64_": ("(s STRING)", "STRING", "base64(s)"),
    "from_base64_": ("(s STRING)", "STRING", "CAST(unbase64(s) AS STRING)"),
    # TEMPORAL_OVERLAPS (BuiltInFunctionDefinitions "temporalOverlaps"):
    # SQL-standard OVERLAPS per the reference's TemporalOverlapsConverter —
    # endpoints are sorted within each pair (swapped args allowed) and the
    # comparison is CLOSED (>=), so touching intervals like (9:00,10:00)
    # OVERLAPS (10:00,11:00) are TRUE, matching the reference's ITCase.
    "temporal_overlaps": (
        "(s1 TIMESTAMP, e1 TIMESTAMP, s2 TIMESTAMP, e2 TIMESTAMP)",
        "BOOLEAN",
        "greatest(s1, e1) >= least(s2, e2) AND greatest(s2, e2) >= least(s1, e1)",
    ),
    # Flink TRUNCATE(numeric, d): toward-zero truncation at d decimals
    # (Spark's trunc/date_trunc are date-only).
    "truncate_num": (
        "(x DOUBLE, d INT)",
        "DOUBLE",
        "CASE WHEN x >= 0 THEN floor(x * power(10, d)) / power(10, d) "
        "ELSE ceil(x * power(10, d)) / power(10, d) END",
    ),
    # Flink randInteger(bound) — uniform int in [0, bound).
    "rand_integer": ("(bound INT)", "INT", "CAST(floor(rand() * bound) AS INT)"),
    # Flink's fixed-width SHA variants are sha2 with an explicit bit length.
    "sha224": ("(s STRING)", "STRING", "sha2(s, 224)"),
    "sha256": ("(s STRING)", "STRING", "sha2(s, 256)"),
    "sha384": ("(s STRING)", "STRING", "sha2(s, 384)"),
    "sha512": ("(s STRING)", "STRING", "sha2(s, 512)"),
    # JSON constructors (BuiltInFunctionDefinitions JSON_OBJECT / JSON_ARRAY /
    # JSON_STRING). SQL CREATE FUNCTION is fixed-arity, so the shims take the
    # common small arities; ABSENT ON NULL (the reference default) via filter.
    "json_object": (
        "(k STRING, v STRING)",
        "STRING",
        "to_json(map(k, v))",
    ),
    "json_array3": (
        "(a STRING, b STRING, c STRING)",
        "STRING",
        "to_json(filter(array(a, b, c), x -> x IS NOT NULL))",
    ),
    "json_string": (
        "(s STRING)",
        "STRING",
        r"concat('\"', regexp_replace(regexp_replace(s, '\\\\', '\\\\\\\\'),"
        r" '\"', '\\\\\"'), '\"')",
    ),
    # TIME-typed clock functions: Spark has no TIME type, so these return the
    # HH:mm:ss string (documented divergence). Trailing underscore keeps the
    # names clear of any future Spark builtin.
    "current_time_": (
        "()",
        "STRING",
        "date_format(current_timestamp(), 'HH:mm:ss')",
    ),
    "local_time_": (
        "()",
        "STRING",
        "date_format(localtimestamp(), 'HH:mm:ss')",
    ),
    # SQL-standard SIMILAR TO (Flink "similar"): regex syntax where % and _
    # stand for .* and . — whole-string anchored, no custom ESCAPE support.
    # '.' and '$' are LITERALS in SIMILAR TO (unlike Java regex), so they are
    # escaped before the %/_ substitution ('a.c' must not match 'abc').
    # '^' is left as-is because [^...] negated classes are valid SIMILAR TO
    # syntax; a bare '^' outside brackets remains a (non-standard) anchor —
    # documented caveat, as are %/_ inside bracket expressions.
    "similar_to": (
        "(s STRING, p STRING)",
        "BOOLEAN",
        r"s RLIKE concat('^(?:', replace(replace(replace(replace("
        r"p, '.', '\\.'), '$', '\\$'), '%', '.*'), '_', '.'), ')$')",
    ),
}


def register_all(spark: SparkSession) -> None:
    """Install the Flink-named SQL function surface into the session.
    Idempotent (CREATE OR REPLACE) and done once per session; called by
    TableEnvironment.__init__."""
    st = session_state(spark)
    if st.functions_registered:
        return
    for name, (params, ret, body) in _SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{params} "
            f"RETURNS {ret} RETURN {body}"
        )
    st.functions_registered = True
