"""Parquet sources: load the fixture tables and register them as temp views.

Scale notes:

- ``spark.read.parquet`` is the vectorized reader; filters and column pruning
  reach the scan (verify with ``df.explain`` → ``PushedFilters`` /
  ``ReadSchema``) so a 100 TB table is only read in the columns/row-groups a
  query touches. tests/test_plans.py asserts this stays true.
- Views are lazy: registering all ten tables costs only schema reads.
- The ``events.ts`` column is ``timestamp[us]`` (no timezone) parquet at all
  SFs (pyarrow-verified, FIXTURES.md), which PySpark 4 reads as
  TIMESTAMP_NTZ. Watermarks and numeric casts reject NTZ, so we normalize to
  TIMESTAMP (LTZ) at load — value-preserving under the pinned UTC session
  timezone. The legacy INT64-nanos flavor (read as ``bigint`` under
  ``spark.sql.legacy.parquet.nanosAsLong=true``) keeps its own branch:
  integer division ``ts div 1000`` → ``timestamp_micros`` stays in exact
  int64 (a double round-trip can flip a microsecond near boundaries, while
  DuckDB — the correctness oracle — truncates exactly).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql4pandas_spark.session import configure_session

#: All fixture tables, in FK-dependency order (dims first).
TABLES: tuple[str, ...] = (
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

#: session -> {(sf_dir, table) -> DataFrame}. Loading a parquet DataFrame
#: reads the file footer synchronously on the driver; with ten tables per
#: register_tables call that driver-side latency dominates small local
#: queries. The fixtures are read-only, so caching the (lazy) DataFrame
#: handles is safe and makes repeat registration free. Keyed WEAKLY by the
#: session object (not id(spark): CPython reuses ids after GC, which would
#: hand a new session DataFrames bound to a dead one) so a stopped session's
#: cache entries vanish with it.
_df_cache: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    µs-no-timezone parquet (the most common timestamp flavor in the wild)
    arrives as TIMESTAMP_NTZ, which ``withWatermark`` rejects and which
    Spark 4 forbids casting to numeric. The cast is value-preserving because
    configure_session pins the session TZ to UTC, and it does NOT cost
    pushdown: Catalyst unwraps the cast in comparisons, so filters on the
    casted column still reach the parquet scan (plan-verified — PushedFilters
    identical with and without the cast)."""
    if not any(t == "timestamp_ntz" for _, t in df.dtypes):
        return df
    return df.select(
        *[
            F.col(c).cast("timestamp").alias(c) if t == "timestamp_ntz" else F.col(c)
            for c, t in df.dtypes
        ]
    )


def normalize_events(df: DataFrame) -> DataFrame:
    """The events table's timestamps, batch or stream: a legacy
    ns-as-long ``ts`` becomes a µs timestamp (``div`` keeps the math in
    exact int64; a double round-trip can flip a µs near boundaries), then
    :func:`normalize_ntz`."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return normalize_ntz(df)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _df_cache.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = normalize_events(df) if name == "events" else normalize_ntz(df)
    per_session[key] = df
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (events gets its timestamp normalized)."""
    configure_session(spark)
    return _load(spark, sf_dir, name)


#: session -> {view name -> sf_dir currently registered}. Each
#: ``createOrReplaceTempView`` is a ~6-8 ms driver↔JVM catalog round-trip
#: (measured, r14); every catalog builder starts with register_tables, so an
#: un-memoized implementation re-pays up to 10 of them PER QUERY BUILD even
#: though the view already points at the right DataFrame. Registration is
#: skipped only when THIS module registered the same (name, sf_dir) on the
#: same session; anything that replaces a view behind our back must call
#: :func:`invalidate_registered_views` (Engine.register* does). Weak-keyed
#: like _df_cache so a stopped session's entries die with it.
_view_registry: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)


def invalidate_registered_views(
    spark: SparkSession, names: tuple[str, ...] | None = None
) -> None:
    """Forget that ``names`` (default: all) are registered on ``spark``.

    Call after replacing a temp view OUTSIDE register_tables (e.g.
    ``Engine.register`` binding a user frame to a fixture table's name, or a
    test swapping in a doctored view) so the next register_tables re-registers
    instead of trusting the memo.
    """
    reg = _view_registry.get(spark)
    if reg is None:
        return
    if names is None:
        reg.clear()
        return
    for name in names:
        reg.pop(name, None)


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TABLES,
) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view named after the table.

    Idempotent (``createOrReplaceTempView``) and lazy — call it at the top of
    any query builder; repeated calls only re-read parquet footers, and a view
    this module already registered for the same sf_dir is not re-registered
    (dict lookup instead of a catalog round-trip — see _view_registry).
    """
    configure_session(spark)
    registry = _view_registry.setdefault(spark, {})
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = _load(spark, sf_dir, name)
        if registry.get(name) != sf_dir:
            df.createOrReplaceTempView(name)
            registry[name] = sf_dir
        out[name] = df
    return out
