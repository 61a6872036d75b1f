"""Testdata catalog: load the driver's Parquet tables as DataFrames/temp views.

The only quirk is ``events``: its ``ts`` column has drifted across testdata
generations between Parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS, naive).
``load_table`` normalizes every variant to a plain Spark ``timestamp``
(TIMESTAMP_LTZ) under a UTC session timezone, so downstream epoch/extract
functions (``unix_micros`` is TIMESTAMP-only) work and instants agree with
DuckDB, which reads naive parquet timestamps as UTC wall-clock:

- TIMESTAMP(NANOS): Spark's vectorized reader rejects it
  ([PARQUET_TYPE_ILLEGAL]); we read raw int64 nanos
  (``spark.sql.legacy.parquet.nanosAsLong``) and truncate toward zero with
  ``timestamp_micros(ts div 1000)`` — matching DuckDB's nanos→micros
  truncation bit-exactly.
- TIMESTAMP(MICROS) naive → Spark TIMESTAMP_NTZ: cast to ``timestamp``;
  with ``spark.sql.session.timeZone=UTC`` (session.py RUNTIME_CONF) the
  wall-clock is reinterpreted as the identical UTC instant.
- TIMESTAMP(MICROS) UTC-adjusted → already ``timestamp``: pass through.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
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


def ensure_events_conf(spark: SparkSession) -> None:
    """Runtime confs the events normalization depends on (both mutable)."""
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-timestamp column of any testdata vintage to
    TIMESTAMP (see module docstring for the per-type rules)."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # legacy nanos read as int64
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":  # current micros-naive data
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Session-lifetime memo of *unexecuted* table DataFrames, keyed by
#: (applicationId, absolute path). ``spark.read.parquet`` pays a py4j
#: round-trip plus schema inference (footer read) and a file listing on
#: EVERY call; the handle it returns is an immutable lazy plan, so one per
#: (session, file) is enough — measured 30–80 ms per load, and a star
#: query loads six tables. This caches *metadata only* (schema + file
#: list): every action on the returned DataFrame still reads the parquet
#: data from disk, so bench/oracle timings keep doing all data work.
#: Consumers that REWRITE a table path in-place within one session
#: (tools/corpus.py builds, as tools/scale_stress.py runs them) must call
#: clear_table_cache() — the cached relation would otherwise pin the stale
#: file listing.
_TABLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def clear_table_cache() -> None:
    """Drop memoized table handles (call after regenerating a dataset
    in-place; cheap — nothing is persisted, these are lazy plans)."""
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; normalizes the events timestamp column."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (spark.sparkContext.applicationId, os.path.abspath(path))
    except Exception:  # pragma: no cover — Connect sessions lack a context
        key = None
    if key is not None and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    if name == "events":
        ensure_events_conf(spark)
        df = normalize_event_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    if key is not None:
        _TABLE_CACHE[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view (for spark.sql) and return the DFs."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def default_view_names() -> tuple[str, ...]:
    """The names expose_query_views registers by default: batch queries
    only — the streaming fns START a stream and drain it (writeStream +
    awaitTermination) the moment they are called, so registering those as
    "views" would block for minutes and write sinks as a side effect.
    (Registering a view still EXECUTES driver-side iterative queries —
    k-means/PageRank materialize their rounds on call — so full default
    exposure is a deliberate, not-free operation.)"""
    from songs_etl_spark.plans import REGISTRY

    return tuple(n for n in REGISTRY if not n.startswith("streaming_"))


def expose_query_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] | None = None,
    prefix: str = "q_",
) -> list[str]:
    """SQL front door for the query surface: register each registry query's
    RESULT as a temp view ``{prefix}{name}``, so ``spark.sql`` users can
    SELECT from (and join across) the engine's operators without touching
    the Python API — e.g. ``SELECT * FROM q_pricing_summary WHERE
    l_returnflag = 'R'``. Views are lazy plans, not materializations:
    Catalyst inlines them, so a downstream filter still pushes into the
    underlying scans. Returns the registered view names."""
    from songs_etl_spark.plans import REGISTRY

    if names is None:
        names = default_view_names()
    out: list[str] = []
    for name in names:
        view = f"{prefix}{name}"
        REGISTRY[name].fn(spark, sf_dir).createOrReplaceTempView(view)
        out.append(view)
    return out
