"""ClickHouse-shaped sink tests — INSERT parity + transactional behavior,
run against a fake DBAPI connection (no server required)."""

from __future__ import annotations

import os
import pickle
import tempfile
from datetime import datetime

import pytest

from klogs_spark.config import EngineConfig
from klogs_spark.sink_clickhouse import ClickHouseSink, build_insert_sql

_SPOOL = tempfile.mkdtemp(prefix="fake-ch-")


def make_factory(spool_dir, fail_commit=False):
    """Factory returning a fake DBAPI connection that spools committed rows
    to disk. Classes are defined inside the closure so cloudpickle ships
    them by value to executor workers (the test module itself is not
    importable there)."""

    def factory():
        class FakeCursor:
            def __init__(self, store):
                self.store = store

            def executemany(self, sql, rows):
                self.store.append((sql, list(rows)))

        class FakeConnection:
            def __init__(self):
                self.pending = []

            def cursor(self):
                return FakeCursor(self.pending)

            def commit(self):
                if fail_commit:
                    raise RuntimeError("server gone")
                path = os.path.join(
                    spool_dir, f"commit-{os.getpid()}-{id(self)}.pkl"
                )
                with open(path, "wb") as f:
                    pickle.dump(self.pending, f)

            def rollback(self):
                self.pending = []

            def close(self):
                pass

        return FakeConnection()

    return factory


def read_spool(spool_dir):
    rows = []
    sqls = set()
    for name in os.listdir(spool_dir):
        with open(os.path.join(spool_dir, name), "rb") as f:
            for sql, batch in pickle.load(f):
                sqls.add(sql)
                rows.extend(batch)
    return sqls, rows


def test_insert_sql_matches_reference_shape():
    # clickhouse.go:76 — 10 columns, logs table, db-qualified
    sql = build_insert_sql(EngineConfig(database="logs"))
    assert sql.startswith(
        "INSERT INTO logs.logs (timestamp, cluster, namespace, app, "
        "pod_name, container_name, host, fields_string, fields_number, log) "
        "VALUES ("
    )
    assert sql.count("?") == 10
    assert "SETTINGS" not in sql


def test_async_insert_settings_suffix():
    # clickhouse.go:65-73
    cfg = EngineConfig(async_insert=True, wait_for_async_insert=True)
    assert build_insert_sql(cfg).endswith(
        "SETTINGS async_insert = 1, wait_for_async_insert = 1"
    )
    cfg2 = EngineConfig(async_insert=True, wait_for_async_insert=False)
    assert build_insert_sql(cfg2).endswith("wait_for_async_insert = 0")


def test_write_batch_commits_all_rows(spark, tmp_path):
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sink = ClickHouseSink(EngineConfig(), make_factory(spool))
    df = spark.createDataFrame(
        [
            (datetime(2026, 1, 1), "c", "ns", "a", "p", "ct", "h",
             {"k": "v"}, {"n": 1.0}, "line-1"),
            (datetime(2026, 1, 2), "c", "ns", "a", "p", "ct", "h",
             {}, {}, "line-2"),
        ],
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )
    sink.write_batch(df, batch_id=0)
    sqls, rows = read_spool(spool)
    assert len(rows) == 2
    assert all(len(r) == 10 for r in rows)
    assert {r[9] for r in rows} == {"line-1", "line-2"}
    assert sqls == {sink.insert_sql}


def test_write_batch_inserts_in_column_order_of_insert(spark, tmp_path):
    """Rows become INSERT tuples by position: a frame whose columns come
    in another order still reaches the connection in LOG_COLUMNS order."""
    from klogs_spark.schema import LOG_COLUMNS

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sink = ClickHouseSink(EngineConfig(), make_factory(spool))
    df = spark.createDataFrame(
        [("line-1", {"n": 1.0}, {"k": "v"}, "h", "ct", "p", "a", "ns", "c",
          datetime(2026, 1, 1))],
        "log string, fields_number map<string,double>, "
        "fields_string map<string,string>, host string, "
        "container_name string, pod_name string, app string, "
        "namespace string, cluster string, timestamp timestamp",
    )
    sink.write_batch(df, batch_id=0)
    _, rows = read_spool(spool)
    want = {"timestamp": datetime(2026, 1, 1), "cluster": "c",
            "namespace": "ns", "app": "a", "pod_name": "p",
            "container_name": "ct", "host": "h", "fields_string": {"k": "v"},
            "fields_number": {"n": 1.0}, "log": "line-1"}
    assert rows == [tuple(want[c] for c in LOG_COLUMNS)]


def test_write_batch_failure_propagates(spark, tmp_path):
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sink = ClickHouseSink(EngineConfig(), make_factory(spool, fail_commit=True))
    df = spark.createDataFrame(
        [(datetime(2026, 1, 1), "c", "ns", "a", "p", "ct", "h", {}, {}, "l")],
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )
    with pytest.raises(Exception):
        sink.write_batch(df, batch_id=0)
    # nothing committed -> at-least-once replay will redeliver
    assert read_spool(spool) == (set(), [])


def _feeder_chunks():
    """msgpack chunks covering every event shape the decode handles, plus
    one malformed and one empty chunk."""
    from klogs_spark.msgpack_lite import pack, pack_flbtime

    rec = {
        "kubernetes": {"namespace_name": "ns", "pod_name": "p",
                       "labels": {"app": "web", "tier": None}},
        "log": "hello",
        "duration": "1.25",             # force-number string
        "http.status": 200,             # dotted key (force_underscores)
        "tags": ["a", {"b": [1, None]}],
        "gone": None,
    }
    flb = bytes([0x92]) + pack_flbtime(1755043200, 250_000_000) + pack(rec)
    # Fluent Bit >=2.1: [[ts, metadata], record]
    nested = (bytes([0x92]) + bytes([0x92]) + pack_flbtime(1736000000)
              + pack({"meta": 1}) + pack({**rec, "log": "nested"}))
    plain = b"".join(pack([1755043200 + i, {"log": f"plain-{i}", "n": i}])
                     for i in range(4))
    # 2024-11-03 01:30 is ambiguous in America/New_York
    ambiguous = pack([1730597400, {"log": "fall-back", "duration": "x"}])
    truncated = pack([1755043300, {"log": "kept"}]) + pack(rec)[:-3]
    return [flb, nested, plain, ambiguous, truncated, b"\xc1\x00", b""]


def _tuple_key(row):
    return repr(tuple(sorted(v.items()) if isinstance(v, dict) else v
                      for v in row))


def _feed(spark, tmp_path, name, frame, batch_size):
    from collections import Counter

    spool = str(tmp_path / name)
    os.makedirs(spool)
    sink = ClickHouseSink(EngineConfig(batch_size=batch_size),
                          make_factory(spool))
    sink(frame, 0)
    rows, inserts = [], Counter()
    for name in os.listdir(spool):
        with open(os.path.join(spool, name), "rb") as f:
            for _, batch in pickle.load(f):
                rows.extend(batch)
                inserts[len(batch)] += 1
    return sorted(rows, key=_tuple_key), inserts


@pytest.mark.parametrize("zone, binary_as_bytes", [
    ("UTC", "true"),
    ("America/New_York", "true"),
    ("UTC", "false"),
])
def test_msgpack_feeders_insert_the_same_tuples(
        spark, tmp_path, zone, binary_as_bytes):
    """An untouched decoded msgpack frame is decoded inside the sink's own
    partitions; a derived or persisted one is read as JVM Rows. Both
    INSERT the same tuples, field by field, in the same number of
    INSERTs, under the UTC session zone and a non-UTC one, and when a
    Python worker receives binary values as ``bytearray``."""
    from klogs_spark.decode import decode_msgpack_dataframe, python_rows

    cfg = EngineConfig(force_number_fields=["duration"],
                       force_underscores=True)
    chunks = _feeder_chunks()
    # more partitions than chunks: some partitions are empty
    width = spark.sparkContext.defaultParallelism + len(chunks)
    raw = spark.createDataFrame([(c,) for c in chunks],
                                "content binary").repartition(width)
    confs = {"spark.sql.session.timeZone": zone,
             "spark.sql.execution.pyspark.binaryAsBytes": binary_as_bytes}
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fused = decode_msgpack_dataframe(raw, cfg)
        derived = decode_msgpack_dataframe(raw, cfg).select("*")
        assert python_rows(fused) is not None
        assert python_rows(derived) is None
        got, inserts = _feed(spark, tmp_path, "fused", fused, 2)
        want, want_inserts = _feed(spark, tmp_path, "rows", derived, 2)
        persisted = decode_msgpack_dataframe(raw, cfg).persist()
        try:
            assert python_rows(persisted) is None
            cached, _ = _feed(spark, tmp_path, "cached", persisted, 2)
        finally:
            persisted.unpersist()
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert len(want) == 1 + 1 + 4 + 1 + 1
    assert got == want == cached
    assert inserts == want_inserts
    first = next(r for r in got if r[9] == "hello")
    assert first[7] == {"tags_0": "a"}
    assert first[8] == {"duration": 1.25, "http_status": 200.0,
                        "tags_1_b_0": 1.0}
    assert first[1:5] == (None, "ns", "web", "p")


def make_flush_recording_factory(spool_dir):
    """Fake DBAPI that spools ONE file per commit, recording the row count
    of every executemany since the previous commit — the per-flush
    granularity the T1 size-or-time tests assert on."""

    def factory():
        class FakeCursor:
            def __init__(self, store):
                self.store = store

            def executemany(self, sql, rows):
                self.store.append(len(list(rows)))

        class FakeConnection:
            def __init__(self):
                self.pending = []
                self.n_commits = 0

            def cursor(self):
                return FakeCursor(self.pending)

            def commit(self):
                self.n_commits += 1
                path = os.path.join(
                    spool_dir,
                    f"flush-{os.getpid()}-{id(self)}-{self.n_commits}.pkl",
                )
                with open(path, "wb") as f:
                    pickle.dump(list(self.pending), f)
                self.pending = []

            def rollback(self):
                self.pending = []

            def close(self):
                pass

        return FakeConnection()

    return factory


def read_flush_sizes(spool_dir):
    sizes = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name), "rb") as f:
            sizes.append(sum(pickle.load(f)))
    return sizes


def _log_rows_df(spark, n):
    rows = [
        (datetime(2026, 1, 1), "c", "ns", "a", "p", "ct", "h", {}, {},
         f"line-{i}")
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    ).coalesce(1)


def test_t1_size_triggered_flush_before_interval(spark, tmp_path):
    """T1 size half (main.go:357-361): the buffer force-flushes the moment
    it reaches batch_size rows — 25 rows under batch_size=10 must commit as
    three flushes of 10, 10, 5 (never one 25-row INSERT)."""
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sink = ClickHouseSink(
        EngineConfig(batch_size=10), make_flush_recording_factory(spool)
    )
    sink.write_batch(_log_rows_df(spark, 25), batch_id=0)
    assert read_flush_sizes(spool) == [10, 10, 5]


def test_t1_interval_triggered_flush_under_size(spark, tmp_path):
    """T1 time half: a buffer still below batch_size when the interval
    (micro-batch boundary) arrives flushes exactly once with what it has."""
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sink = ClickHouseSink(
        EngineConfig(batch_size=10), make_flush_recording_factory(spool)
    )
    sink.write_batch(_log_rows_df(spark, 7), batch_id=0)
    assert read_flush_sizes(spool) == [7]


def make_duckdb_factory(db_path):
    """Connection factory running the sink's REAL INSERT SQL against DuckDB
    — an actual SQL engine, not a recording fake. The only adaptation is
    parameter BINDING (every DBAPI driver owns its binding): DuckDB's
    native Python form for a MAP value is {'key': [...], 'value': [...]},
    so the cursor shim converts the two map-typed parameters; the SQL text
    and all values pass through untouched."""

    def factory():
        import duckdb

        def to_duck_map(d):
            d = d or {}
            return {"key": list(d.keys()), "value": list(d.values())}

        class Cursor:
            def __init__(self, con):
                self._con = con

            def executemany(self, sql, rows):
                converted = [
                    r[:7] + (to_duck_map(r[7]), to_duck_map(r[8])) + r[9:]
                    for r in rows
                ]
                self._con.executemany(sql, converted)

        class Connection:
            def __init__(self):
                self._con = duckdb.connect(db_path)

            def cursor(self):
                self._con.execute("BEGIN")
                return Cursor(self._con)

            def commit(self):
                self._con.commit()

            def rollback(self):
                try:
                    self._con.rollback()
                except Exception:
                    pass  # no transaction open

            def close(self):
                self._con.close()

        return Connection()

    return factory


def test_sink_insert_sql_round_trips_through_duckdb(spark, tmp_path):
    """The sink's INSERT statement must execute against a real SQL engine
    and reproduce the batch row-for-row — including the size-capped flush
    chunking (25 rows, batch_size=10 -> three INSERT transactions)."""
    import duckdb

    db_path = str(tmp_path / "ch.duckdb")
    setup = duckdb.connect(db_path)
    setup.execute("CREATE SCHEMA logs")
    setup.execute(
        "CREATE TABLE logs.logs ("
        "timestamp TIMESTAMP, cluster VARCHAR, namespace VARCHAR, "
        "app VARCHAR, pod_name VARCHAR, container_name VARCHAR, "
        "host VARCHAR, fields_string MAP(VARCHAR,VARCHAR), "
        "fields_number MAP(VARCHAR,DOUBLE), log VARCHAR)"
    )
    setup.close()

    sink = ClickHouseSink(
        EngineConfig(database="logs", batch_size=10),
        make_duckdb_factory(db_path),
    )
    n = 25
    rows = [
        (datetime(2026, 1, 1, 0, 0, i % 60), "c", f"ns-{i % 3}", "a", "p",
         "ct", "h", {"k": f"v{i}"}, {"n": float(i)}, f"line-{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    ).coalesce(1)
    sink.write_batch(df, batch_id=0)

    back = duckdb.connect(db_path).execute(
        "SELECT timestamp, namespace, fields_string['k'][1], "
        "fields_number['n'][1], log FROM logs.logs ORDER BY log"
    ).fetchall()
    expect = sorted(
        (r[0], r[2], r[7]["k"], r[8]["n"], r[9]) for r in rows
    )
    got = sorted((t, ns, fs, fn, lg) for t, ns, fs, fn, lg in back)
    assert got == expect


def test_clickhouse_ddl_mirrors_reference_schema():
    """The emitted DDL is derived from LOG_SCHEMA/CLUSTER_KEY — every
    reference column with its exact ClickHouse type (schema.sql:3-15),
    daily partitioning, the full sort key, the 30-day TTL, and the
    Distributed facade in cluster mode. A schema drift in the engine
    breaks this pin instead of silently diverging from the sink."""
    from klogs_spark.schema import CLUSTER_KEY, LOG_COLUMNS
    from klogs_spark.sink_clickhouse import clickhouse_ddl

    ddl = clickhouse_ddl()
    assert "`timestamp` DateTime64(3) CODEC(Delta, LZ4)" in ddl
    for c in ("cluster", "namespace", "app", "pod_name",
              "container_name", "host"):
        assert f"`{c}` LowCardinality(String)" in ddl
    assert "`fields_string` Map(LowCardinality(String), String)" in ddl
    assert "`fields_number` Map(LowCardinality(String), Float64)" in ddl
    assert "`log` String CODEC(ZSTD(1))" in ddl
    assert all(f"`{c}`" in ddl for c in LOG_COLUMNS)
    assert "PARTITION BY toDate(timestamp)" in ddl
    assert f"ORDER BY ({', '.join([*CLUSTER_KEY, 'timestamp'])})" in ddl
    assert "TTL toDateTime(timestamp) + INTERVAL 30 DAY" in ddl
    assert "ENGINE = MergeTree()" in ddl and "Distributed" not in ddl

    clustered = clickhouse_ddl(cluster="prod")
    assert "ReplicatedMergeTree" in clustered
    assert "ON CLUSTER 'prod'" in clustered
    assert (
        "ENGINE = Distributed('prod', logs, logs_local, rand())" in clustered
    )


def make_wire_recording_factory(spool_dir):
    """Fake DBAPI that records the COMPLETE ordered wire-event stream of
    one connection — every cursor(), executemany(sql, params), commit(),
    rollback(), close() with its full argument payload — and spools it on
    close() (which always runs, via the sink's finally). This is the
    golden-capture instrument: a byte-level change in the emitted SQL or
    parameter tuples shows up as an event-stream diff."""

    def factory():
        class FakeCursor:
            def __init__(self, events):
                self.events = events

            def executemany(self, sql, rows):
                self.events.append(("executemany", sql, [tuple(r) for r in rows]))

        class FakeConnection:
            def __init__(self):
                self.events = []

            def cursor(self):
                self.events.append(("cursor",))
                return FakeCursor(self.events)

            def commit(self):
                self.events.append(("commit",))

            def rollback(self):
                self.events.append(("rollback",))

            def close(self):
                self.events.append(("close",))
                path = os.path.join(
                    spool_dir, f"wire-{os.getpid()}-{id(self)}.pkl"
                )
                with open(path, "wb") as f:
                    pickle.dump(self.events, f)

        return FakeConnection()

    return factory


def read_wire_events(spool_dir):
    streams = []
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name), "rb") as f:
            streams.append(pickle.load(f))
    return streams


def _wire_fixture_df(spark):
    """Deterministic 5-row fixture batch, single partition so the golden
    stream is one connection's."""
    rows = [
        (datetime(2026, 1, 1, 0, 0, i), "prod", f"ns-{i % 2}", "app-a",
         f"pod-{i}", "main", "node-1",
         {"level": "info", "seq": str(i)}, {"latency_ms": float(10 * i)},
         f"message {i}")
        for i in range(5)
    ]
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    ).coalesce(1)


# The exact statement text the reference prepares, clickhouse.go:76 —
# db-qualified logs table, the 10 columns in reference order, 10
# placeholders; async settings appended per clickhouse.go:65-73.
GOLDEN_INSERT = (
    "INSERT INTO logs.logs (timestamp, cluster, namespace, app, pod_name, "
    "container_name, host, fields_string, fields_number, log) "
    "VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?)"
)
GOLDEN_INSERT_ASYNC_NOWAIT = (
    GOLDEN_INSERT + " SETTINGS async_insert = 1, wait_for_async_insert = 0"
)
GOLDEN_INSERT_ASYNC_WAIT = (
    GOLDEN_INSERT + " SETTINGS async_insert = 1, wait_for_async_insert = 1"
)


def _golden_param_rows():
    # LOG_COLUMNS order: the exact tuples the reference's per-row Exec
    # would receive (clickhouse.go:93) for the fixture batch
    return [
        (datetime(2026, 1, 1, 0, 0, i), "prod", f"ns-{i % 2}", "app-a",
         f"pod-{i}", "main", "node-1",
         {"level": "info", "seq": str(i)}, {"latency_ms": float(10 * i)},
         f"message {i}")
        for i in range(5)
    ]


def test_wire_golden_sync_insert_tx_boundaries(spark, tmp_path):
    """GOLDEN (VERDICT r19 #7): the full wire-event stream for a 5-row
    fixture at batch_size=2 — three size/interval flushes, each an
    executemany carrying the EXACT reference INSERT text
    (clickhouse.go:76) and exact parameter tuples in column order,
    each followed by its own commit (the reference's one-tx-per-
    BufferWrite, clickhouse.go:79-102), then a single close."""
    spool = str(tmp_path / "wire")
    os.makedirs(spool)
    sink = ClickHouseSink(
        EngineConfig(database="logs", batch_size=2),
        make_wire_recording_factory(spool),
    )
    sink.write_batch(_wire_fixture_df(spark), batch_id=0)
    streams = [s for s in read_wire_events(spool) if len(s) > 1]
    assert len(streams) == 1  # single partition -> single connection
    rows = _golden_param_rows()
    assert streams[0] == [
        ("cursor",),
        ("executemany", GOLDEN_INSERT, rows[0:2]),
        ("commit",),
        ("cursor",),
        ("executemany", GOLDEN_INSERT, rows[2:4]),
        ("commit",),
        ("cursor",),
        ("executemany", GOLDEN_INSERT, rows[4:5]),
        ("commit",),
        ("close",),
    ]


def test_wire_golden_async_insert_settings(spark, tmp_path):
    """GOLDEN: async-insert mode changes ONLY the statement suffix
    (clickhouse.go:65-73) — same tx boundaries, same parameter tuples,
    for both wait_for_async_insert settings."""
    for wait, golden in (
        (False, GOLDEN_INSERT_ASYNC_NOWAIT),
        (True, GOLDEN_INSERT_ASYNC_WAIT),
    ):
        spool = str(tmp_path / f"wire-async-{int(wait)}")
        os.makedirs(spool)
        sink = ClickHouseSink(
            EngineConfig(database="logs", batch_size=10,
                         async_insert=True, wait_for_async_insert=wait),
            make_wire_recording_factory(spool),
        )
        sink.write_batch(_wire_fixture_df(spark), batch_id=0)
        streams = [s for s in read_wire_events(spool) if len(s) > 1]
        assert len(streams) == 1
        # under-size batch -> ONE interval flush at the partition drain
        assert streams[0] == [
            ("cursor",),
            ("executemany", golden, _golden_param_rows()),
            ("commit",),
            ("close",),
        ]


def test_wire_golden_failure_rolls_back_then_closes(spark, tmp_path):
    """GOLDEN error path: a commit failure produces rollback -> close in
    that order (the reference's defer tx.Rollback(), clickhouse.go:84),
    and the error propagates to Spark for the at-least-once replay."""
    spool = str(tmp_path / "wire-fail")
    os.makedirs(spool)

    def failing_factory():
        base = make_wire_recording_factory(spool)

        def factory():
            conn = base()
            orig_commit = conn.commit

            def commit():
                orig_commit()  # record the attempt position
                raise RuntimeError("server gone")

            conn.commit = commit
            return conn

        return factory

    sink = ClickHouseSink(
        EngineConfig(database="logs", batch_size=10),
        failing_factory(),
    )
    with pytest.raises(Exception):
        sink.write_batch(_wire_fixture_df(spark), batch_id=0)
    streams = [s for s in read_wire_events(spool) if len(s) > 1]
    assert len(streams) == 1
    assert streams[0][-2:] == [("rollback",), ("close",)]
    assert streams[0][0] == ("cursor",)
