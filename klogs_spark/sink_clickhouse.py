"""ClickHouse batched-INSERT sink — shape parity with pkg/clickhouse.

Reference (S3/S4/S6, SURVEY §2.1): one prepared ``INSERT INTO <db>.logs
(10 cols) VALUES`` per flush inside a transaction, per-row Exec, commit, then
buffer reset (clickhouse.go:59-108); optional ``SETTINGS async_insert=1,
wait_for_async_insert=0|1`` appended (clickhouse.go:65-73); bounded
connection pool (clickhouse.go:137-139).

Engine mapping: the micro-batch *is* the buffer (S5 — no code), so the sink
is a ``foreachBatch``-compatible callable that writes each decoded batch via
``foreachPartition`` — one DBAPI connection per partition, executemany, one
commit. One partition writer takes INSERT tuples from one of two feeders:

* the msgpack feeder, for the frame ``decode.decode_msgpack_dataframe``
  returned, untouched and not persisted: the partition decodes its raw
  chunks in the same Python worker that INSERTs them, one event at a time,
  like the reference's decode-and-append loop (main.go:237-377);
* the Row feeder, for any other frame (JSON batches, a persisted or derived
  frame): the rows come from the JVM in ``LOG_COLUMNS`` order.

Both deliver the same tuples over the same partitions, so the INSERTs of a
batch do not depend on the feeder (``decode.python_rows``). The connection
factory is injected so tests (and environments without a ClickHouse server
or driver) run against a fake; failure raises, which in Structured Streaming
leaves the batch uncommitted in the checkpoint -> replay -> at-least-once,
matching the reference's FLB_ERROR retry contract (main.go:364-369, T4).
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame

from .config import EngineConfig
from .decode import python_rows
from .schema import LOG_COLUMNS

# Column list and order of the reference INSERT statement, clickhouse.go:76.
INSERT_SQL_TEMPLATE = (
    "INSERT INTO {database}.logs (timestamp, cluster, namespace, app, "
    "pod_name, container_name, host, fields_string, fields_number, log) "
    "VALUES ({placeholders})"
)


def build_insert_sql(config: EngineConfig) -> str:
    """INSERT text incl. async-insert settings suffix (clickhouse.go:61-74)."""
    sql = INSERT_SQL_TEMPLATE.format(
        database=config.database, placeholders=", ".join(["?"] * len(LOG_COLUMNS))
    )
    if config.async_insert:
        wait = 1 if config.wait_for_async_insert else 0
        sql += f" SETTINGS async_insert = 1, wait_for_async_insert = {wait}"
    return sql


class ClickHouseSink:
    """foreachBatch sink writing decoded log rows through a DBAPI connection.

    ``connection_factory`` returns an object with ``cursor()``, ``commit()``,
    ``rollback()`` and ``close()`` (DBAPI-2 shape — clickhouse-connect /
    clickhouse-driver both satisfy it). It must be picklable: it is shipped
    to executors and invoked once per partition (the Spark analogue of the
    reference's per-flush transaction, with parallelism across partitions;
    pool bounds map to max_open_conns, clickhouse.go:137-139).

    :meth:`write_batch` runs one partition writer over one of two feeders.
    A frame that ``decode.decode_msgpack_dataframe`` returned, untouched
    and not persisted, is decoded inside the writer's own partitions, from
    its raw chunks, straight into INSERT tuples. The capability travels
    with the frame, so a sink wrapped in a closure (tracing, retries) gets
    it too. Every other frame is read as JVM Rows.
    """

    # write_batch runs foreachPartition on the RDD, which fires no Dataset
    # Observation: ingest metrics count the batch from a cache instead
    # (stream._make_batch_processor)
    counts_from_cache = True

    def __init__(
        self,
        config: EngineConfig,
        connection_factory: Callable[[], Any],
    ):
        self.config = config
        self.connection_factory = connection_factory
        self.insert_sql = build_insert_sql(config)

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """Write one micro-batch with the reference's EXACT size-OR-time
        flush duality (T1, main.go:357-361):

        * size half — the per-partition buffer force-flushes (executemany +
          commit) the moment it reaches ``config.batch_size`` rows, without
          waiting for the partition (or interval) to end; every INSERT
          carries at most batch_size rows, exactly like the reference's
          10k-row buffer cap.
        * time half — the micro-batch boundary IS the interval
          (trigger(processingTime=flush_interval) upstream), so whatever is
          buffered when the partition iterator drains flushes then, exactly
          like the reference's ticker flush of a sub-batch_size buffer.

        The buffer is per partition (the reference's is per plugin
        instance): partitions flush independently and in parallel, each in
        its own transaction chain. A failure raises -> the streaming
        checkpoint replays the whole micro-batch (at-least-once, reference
        main.go:364-369); a partition whose earlier chunks committed before
        the failure re-inserts them on replay — the same duplication window
        as the reference's redelivered chunk.
        """
        sql = self.insert_sql
        factory = self.connection_factory
        batch_size = max(int(self.config.batch_size), 1)

        def write_partition(rows: Iterator[tuple]) -> None:
            conn = None
            buffered: list[tuple] = []

            def flush() -> None:
                cur = conn.cursor()
                cur.executemany(sql, buffered)
                conn.commit()
                buffered.clear()  # buffer reset, clickhouse.go:104-107

            try:
                for row in rows:
                    if conn is None:
                        conn = factory()
                    buffered.append(row)
                    if len(buffered) >= batch_size:
                        flush()  # size-triggered: don't wait for the end
                if buffered:
                    flush()  # interval-triggered: partition/batch boundary
            except Exception:
                if conn is not None:
                    conn.rollback()
                raise  # surface to Spark -> batch retry (T4)
            finally:
                if conn is not None:
                    conn.close()

        feeder = python_rows(df)
        if feeder is None:
            # rows arrive in INSERT column order, so each becomes its tuple
            # by position (a lookup by name searches the Row's fields)
            feeder = df.select(*LOG_COLUMNS).rdd, partial(map, tuple)
        source, rows_of = feeder
        source.foreachPartition(lambda part: write_partition(rows_of(part)))

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        self.write_batch(df, batch_id)


def clickhouse_ddl(
    cluster: str | None = None,
    database: str = "logs",
    ttl_days: int = 30,
) -> str:
    """Emit the ClickHouse DDL for the logs table, DERIVED from the
    engine's own schema constants (schema.LOG_SCHEMA / CLUSTER_KEY) —
    the bootstrap statement a deployment runs before pointing the sink
    at a cluster, and a parity artifact: every column type, the daily
    partitioning, the sort key, and the TTL mirror the reference DDL
    (reference schema.sql:3-19; cluster/Distributed variant :1,21).
    ``cluster=None`` emits the single-node MergeTree form; a cluster
    name emits ReplicatedMergeTree + the Distributed facade. The string
    is REGENERATED from LOG_SCHEMA, so a schema drift in the engine
    shows up here (and in the pinned test) instead of silently
    diverging from what the sink INSERTs."""
    from pyspark.sql.types import DoubleType, MapType, StringType, TimestampType

    from .schema import CLUSTER_KEY, LOG_SCHEMA

    def ch_type(field) -> str:
        t = field.dataType
        if isinstance(t, TimestampType):
            return "DateTime64(3) CODEC(Delta, LZ4)"
        if isinstance(t, MapType):
            v = "Float64" if isinstance(t.valueType, DoubleType) else "String"
            return f"Map(LowCardinality(String), {v})"
        if isinstance(t, StringType):
            # the free-text payload is ZSTD; envelope dims dictionary-encode
            return (
                "String CODEC(ZSTD(1))"
                if field.name == "log"
                else "LowCardinality(String)"
            )
        raise ValueError(f"no ClickHouse mapping for {field}")

    on_cluster = f" ON CLUSTER '{cluster}'" if cluster else ""
    cols = ",\n    ".join(
        f"`{f.name}` {ch_type(f)}" for f in LOG_SCHEMA.fields
    )
    engine = "ReplicatedMergeTree" if cluster else "MergeTree()"
    order_by = ", ".join([*CLUSTER_KEY, "timestamp"])
    ddl = (
        f"CREATE DATABASE IF NOT EXISTS {database}{on_cluster} "
        "ENGINE=Atomic;\n\n"
        f"CREATE TABLE IF NOT EXISTS {database}.logs_local{on_cluster}\n(\n"
        f"    {cols}\n)\n"
        f"ENGINE = {engine}\n"
        "PARTITION BY toDate(timestamp)\n"
        f"ORDER BY ({order_by})\n"
        f"TTL toDateTime(timestamp) + INTERVAL {ttl_days} DAY;"
    )
    if cluster:
        ddl += (
            f"\n\nCREATE TABLE IF NOT EXISTS {database}.logs{on_cluster} "
            f"AS {database}.logs_local "
            f"ENGINE = Distributed('{cluster}', {database}, logs_local, "
            "rand());"
        )
    return ddl
