"""SparkSession factory with the configs this engine depends on.

Design notes (scale):

- One shared session everywhere (startup is ~10-13 s locally; on a cluster the
  session is the app). Tests share a module fixture, bench amortizes startup.
- ``spark.sql.shuffle.partitions`` defaults low for local fixtures; on a real
  cluster AQE coalescing makes the static number mostly a ceiling — we leave
  AQE on (Spark 4 default) so runtime re-planning (skew-join split, SMJ→BHJ
  conversion, partition coalescing) applies at any scale.
- ``spark.sql.session.timeZone=UTC`` so collected timestamps are stable across
  machines (SURVEY.md §2.12 #3).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` as legacy-input support: an
  INT64 TIMESTAMP(NANOS) parquet column (which PySpark 4.x refuses by
  default) arrives as a long instead of erroring. The shipped fixtures are
  ``timestamp[us]`` (read as TIMESTAMP_NTZ and normalized to LTZ); both
  conversions happen in sources/parquet.py (FIXTURES.md).
- Arrow on for the pandas interop path (the reference's identity is pandas in
  / pandas out).
- ``spark.sql.codegen.cache.maxEntries`` (:data:`CODEGEN_CACHE_ENTRIES`) sizes
  the JVM-wide LRU cache of janino-compiled classes. Spark's default of 100 is
  smaller than the engine's working set (one pass of the five curation
  entries generates ~200 classes): at 100, classes are evicted before their
  plan shape runs again, and every warm query recompiles. The conf is
  STATIC: only :func:`get_spark` can set it, on the builder, before the
  JVM's first compile. Sessions built outside ``get_spark`` (the correctness driver's,
  ``tools/driver_sim.py``) keep Spark's 100 — :func:`configure_session`
  cannot change it on a running session.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Session-level (runtime-settable) confs. These are also applied defensively
#: to externally-provided sessions (the driver creates its own session and
#: passes it to the catalog builders) via :func:`configure_session`.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # custom Python data sources (sources/synthetic.py) declare pushFilters;
    # Spark refuses to plan them unless pushdown is explicitly enabled
    "spark.sql.python.filterPushdown.enabled": "true",
}


#: Entries of Spark's codegen class cache, one per distinct generated source.
#: The smallest power of two at which a second pass of each perfbench workload
#: recompiles only shapes it has not run before: a JVM running one workload
#: compiles ~210-250 classes in all, and the cache's LRU is kept per segment
#: (4 by default), so at 256 a second curation pass still recompiled 65
#: evicted classes. Bounded, since each entry pins a loaded class.
CODEGEN_CACHE_ENTRIES = 512


def default_parallelism() -> int:
    """Worker thread count: $SPARK_GRAFT_CPUS, else 8 (the BASELINE.md config).

    More threads than ~8 hurt on the small local fixtures (task scheduling
    overhead dominates); on a real cluster this knob is replaced by executor
    sizing.
    """
    return int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def get_spark(
    app_name: str = "sql4pandas-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the pinned local SparkSession."""
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 16)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in SESSION_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


#: Sessions already configured — every catalog builder calls
#: configure_session, and each un-memoized call costs ~8 driver↔JVM conf
#: round-trips; at one builder per query that latency lands on every
#: sub-second query. Weak so a stopped session's entry dies with it (a set
#: of id(spark) values can alias a NEW session onto a dead one's id after
#: GC and silently skip configuring it).
_configured: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an existing session (once per
    session — memoized).

    The correctness driver constructs its own SparkSession; every catalog
    builder routes through here so the parity-critical confs (UTC, nanos
    workaround, Arrow) hold no matter who built the session.
    """
    if spark in _configured:
        return spark
    _configured.add(spark)
    for key, value in SESSION_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on a running session
            pass
    try:
        # An externally-built session (the correctness driver's) arrives with
        # Spark's stock 200 shuffle partitions — 12× the useful width for the
        # local fixtures. Only touch the untouched default: a deliberately
        # configured value (ours or the driver's) is preserved.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "64")
    except Exception:  # pragma: no cover
        pass
    return spark
