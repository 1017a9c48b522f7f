"""SparkSession construction tuned for the engine.

Replaces the reference's FLBPluginInit global-config setup (main.go:111-228)
with a lazily-built session. Conf choices are the 100 TB design decisions:
AQE on (runtime re-plan, skew-join handling), Arrow on (vectorized Python
boundary), zstd parquet (reference codec parity, schema.sql:5,14).

Python workers fork from :mod:`klogs_spark.daemon` instead of the stock
``pyspark.daemon``. Each Python task begins by invalidating import caches,
which on CPython up to 3.12 re-reads ``pyspark.zip``'s central directory
once per cached zip importer — a fixed cost of a few hundred ms of CPU per
task that dominated small ingest micro-batches. The engine's daemon skips
the re-read while the archive is unchanged. Sessions built elsewhere
(vanilla ones an application builds itself) keep stock pyspark behaviour:
every engine function gives identical results there, only with that
per-task cost. Workers must be able to import ``klogs_spark``, as the
decode stage already requires.

The whole-stage codegen cache holds 1000 compiled classes instead of
Spark's default 100. One cycle of the log-viewer traffic (seven queries
between seven table verbs) generates 162 distinct classes, so with the
default cache every warm cycle evicted and recompiled 84-89 of them with
Janino — a merge recompiled 24-28 classes per call, a context query 9.
At 1000 the working set stays compiled and a warm call compiles only a
plan shape it is the first to see (a query whose timestamp literals are
new, a table's first deletion vector). The conf is static: it is read
once, when the JVM's code generator is first used, so only sessions that
:func:`get_spark` builds get it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "klogs-spark", master: str | None = None) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # one shuffle partition per core locally; on a real cluster this is
        # sized by AQE coalescing from an intentionally-high initial value
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # driver testdata carries TIMESTAMP(NANOS) parquet columns
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "klogs_spark.daemon")
        # keeps the 162-class working set of one traffic cycle compiled
        # (Spark's default of 100 recompiles most of it every cycle)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()
