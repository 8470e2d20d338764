"""Table catalog: load the star-schema parquet fixtures as DataFrames/views.

Mirrors the reference's catalog layer (reference: flink-table-common
.../table/catalog/ — databases/tables/views resolved by name) with Spark's
session catalog: each parquet file becomes a named temp view so both the
DataFrame API and ``spark.sql`` can address it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Columns stored as TIMESTAMP(NANOS) in parquet. How Spark reads them depends
# on session build-time conf:
#   - builder sessions with spark.sql.legacy.parquet.nanosAsLong=true read
#     int64 nanos (LongType);
#   - vanilla sessions (driver harness, user code) read TIMESTAMP_NTZ with
#     nanos already truncated to micros. The nanosAsLong conf is build-time
#     only — setting it at runtime does NOT change an existing session's read.
# Both paths normalize to a session-timezone TIMESTAMP (session tz is forced
# to UTC by configure_session), truncated to micros exactly like DuckDB's
# read of the same file — so every query sees one ts type everywhere.
_NANOS_COLS = ("ts",)


def _normalize_nanos(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for c in _NANOS_COLS:
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # NTZ wall-clock == UTC instant because the session tz is UTC.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every fixture table under ``sf_dir`` and register temp views.

    Reads are plain ``spark.read.parquet`` — Catalyst handles column pruning
    and predicate pushdown into the scan, so queries never pay for unused
    columns (the reference needs its vectorized ParquetVectorizedInputFormat
    for the same effect; here it is built-in).
    """
    from apache_flink_spark.session import configure_session, session_state

    # The caller's session may be vanilla (driver harness, user code); the
    # fixtures' TIMESTAMP(NANOS) column is unreadable without nanosAsLong and
    # oracle parity needs a UTC session timezone — set runtime confs here so
    # reads never depend on get_spark() having built the session.
    configure_session(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    st = session_state(spark)
    out = st.fixtures.get(sf_dir)
    if out is not None:
        if st.fixtures_dir != sf_dir:
            for name, df in out.items():
                df.createOrReplaceTempView(name)
            st.fixtures_dir = sf_dir
        return out
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df = _normalize_nanos(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    st.fixtures[sf_dir] = out
    st.fixtures_dir = sf_dir
    return out


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir)[name]
