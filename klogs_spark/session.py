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
    )
    return builder.getOrCreate()
