"""The benchmark's workloads. Each drives ``klogs_spark`` only through its
public entry points, checks every result, and records per-operation
latencies (and, when traced, per-layer counters).

One client thread, closed loop: the next operation starts when the
previous one (and its correctness check) is done.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import threading
import time
from datetime import date, datetime, timedelta

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from klogs_spark import decode, manifest, msgpack_lite, query, stream, table
from klogs_spark.config import EngineConfig
from klogs_spark.metrics import IngestMetrics
from klogs_spark.sink_clickhouse import ClickHouseSink

from trafficbench import chstub, gen
from trafficbench.counters import OpCounters
from trafficbench.trace import Stopwatch, median

LINES_PER_BATCH = 10_000        # the reference's Batch_Size
BATCHES_PER_DRAIN = 1
EVENTS_PER_CHUNK = 1_000        # one Fluent Bit chunk file
CHUNKS_PER_BATCH = LINES_PER_BATCH // EVENTS_PER_CHUNK
# measured rounds (ingest) or cycles (logs_table) after the unmeasured one
MIN_MEASURED = 2


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(suffix))
    return total


class Workload:
    """State shared by all workloads: result tallies and layer sums.

    A run calls ``generate`` once (the seeded inputs), ``build`` ``builds``
    times (the engine's part of the set-up), ``warmup`` (the oracles and
    one unmeasured round or cycle), then ``measure``."""

    name = ""
    builds = 0
    oracle_s = 0.0

    def __init__(self, spark, work: str, seed: int, tracer, counters):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.read_ms: list[float] = []
        # operation name -> latencies, split by whether it was traced, and
        # the parity of the measured round or cycle that traced it
        self.traced_lat: dict[str, list[float]] = {}
        self.untraced_lat: dict[str, list[float]] = {}
        self.trace_parity: dict[str, int] = {}
        self.ops = 0

    def build(self, k: int) -> None:
        pass

    def check(self, ok: bool, what: str, ops: int = 1) -> bool:
        if not ok:
            self.failed += ops
            self.errors.append(what)
        return ok

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def keep_latency(self, name: str, ms: list[float], traced: bool,
                     parity: int) -> None:
        (self.traced_lat if traced else self.untraced_lat).setdefault(
            name, []).extend(ms)
        if traced:
            self.trace_parity[name] = parity

    def overhead_ms(self) -> float | None:
        """Traced minus untraced latency. The names traced in the first
        measured round or cycle are untraced in the second, and the other
        names the other way round; each half is the median over its names
        of the difference of their medians. Their mean cancels the
        speed-up from one round or cycle to the next."""
        halves: dict[int, list[float]] = {}
        for k, parity in self.trace_parity.items():
            if k in self.untraced_lat:
                halves.setdefault(parity, []).append(
                    median(self.traced_lat[k]) - median(self.untraced_lat[k]))
        return (statistics.mean(median(h) for h in halves.values())
                if halves else None)

    def read_counters(self, groups, table_path=None) -> OpCounters:
        t = time.perf_counter()
        c = self.counters.read(groups, table_path)
        self.read_ms.append((time.perf_counter() - t) * 1000)
        return c

    def traced_ops(self) -> int:
        return int(self.layer.get("n_traced", 0))

    def add_common(self, c: OpCounters) -> None:
        self.add("n_traced", 1)
        self.add("gc_ms", c.gc_ms)
        self.add("spill_bytes", c.spill_bytes)
        self.add("shuffle_bytes", c.shuffle_bytes)


# ---------------------------------------------------------------------------
# ingest: closed-loop backlog drains through stream.run_ingest_once


class ProgressLog(StreamingQueryListener):
    """Keeps each streaming run's progress events (Structured Streaming's
    per-trigger metrics) and notes when the run has terminated."""

    def __init__(self):
        self.runs: dict[str, list] = {}
        self.started: list[str] = []
        self.ended: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        with self._cv:
            self.started.append(str(event.runId))
            self.runs.setdefault(str(event.runId), [])

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._cv:
            self.runs.setdefault(str(p.runId), []).append(
                (p.numInputRows, dict(p.durationMs)))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._cv:
            self.ended.add(str(event.runId))
            self._cv.notify_all()

    def last_run(self, timeout: float = 30.0) -> tuple[str, list]:
        """Run id and non-empty triggers of the latest run, once ended."""
        with self._cv:
            run = self.started[-1]
            self._cv.wait_for(lambda: run in self.ended, timeout)
            return run, [(n, d) for n, d in self.runs[run] if n > 0]


class JsonPath:
    """Fluent-Bit JSON lines -> decode -> exactly-once parquet table, with
    the dead-letter channel and IngestMetrics on (the production CLI
    path)."""

    name = "json"

    def __init__(self, wl: "Ingest"):
        self.wl = wl
        self.bytes_per_row: list[float] = []

    def setup(self, d: str, bk: dict) -> None:
        n_files = BATCHES_PER_DRAIN
        self.src = fresh_dir(f"{d}/src")
        for i in range(n_files):
            with open(f"{self.src}/part-{i:03d}.json", "w") as f:
                f.write("\n".join(
                    bk["lines"][i * LINES_PER_BATCH:(i + 1) * LINES_PER_BATCH])
                    + "\n")
        # lines nested past the stdlib parser's recursion limit decode on
        # the engine's orjson fast path and are dead-lettered without it
        deep_ok = importlib.util.find_spec("orjson") is not None
        rejects = bk["odd"][0] + bk["odd"][1] + ([] if deep_ok else bk["odd"][2])
        accepted = bk["odd"][2] if deep_ok else []
        self.expect = {
            "lines": len(bk["lines"]),
            "batches": n_files,
            "rows": len(bk["events"]) + len(accepted),
            "rejects": len(rejects),
            "input_bytes": sum(os.path.getsize(f"{self.src}/{f}")
                               for f in os.listdir(self.src)),
        }
        self.accepted = (f"{d}/accepted.jsonl", bk["events"], accepted)
        self.sample = bk["lines"][:5000]
        self.cfg = EngineConfig(force_number_fields=gen.FORCE_NUMBER_FIELDS)

    def oracle(self) -> None:
        """Per-(date, namespace) row counts and force-number sums of the
        accepted lines, from DuckDB over the generated JSON. The
        benchmark's own check, so it runs outside the timed set-up."""
        path, events, odd = self.accepted
        with open(path, "w") as f:
            for ts, rec in events:
                f.write(json.dumps({"ts": ts / 1000, "record": rec}) + "\n")
            f.writelines(line + "\n" for line in odd)
        con = duckdb.connect()
        try:
            rows = con.execute(f"""
                SELECT CAST(DATE '1970-01-01' + CAST(floor(
                         CAST(json_extract(json, '$.ts') AS DOUBLE) / 86400)
                         AS INTEGER) AS VARCHAR) AS d,
                       json_extract_string(json,
                         '$.record.kubernetes.namespace_name') AS ns,
                       count(*),
                       sum(TRY_CAST(json_extract_string(json,
                         '$.record.content.duration') AS DOUBLE))
                FROM read_ndjson_objects('{path}') GROUP BY ALL""").fetchall()
        finally:
            con.close()
        self.expect["groups"] = {(d_, ns): (n, s) for d_, ns, n, s in rows}

    def run_drain(self, d: str) -> None:
        sink = stream.exactly_once_sink(f"{d}/table")
        tracer = self.wl.tracer

        def traced_sink(df, batch_id):
            with tracer.span("table.exactly_once_sink"):
                sink(df, batch_id)

        self.metrics = IngestMetrics()
        stream.run_ingest_once(
            stream.read_json_lines_stream(self.wl.spark, self.src,
                                          max_files_per_trigger=1),
            traced_sink, self.cfg, checkpoint_dir=f"{d}/ckpt",
            dead_letter_dir=f"{d}/dead", metrics=self.metrics)

    def verify(self, d: str) -> str | None:
        """What is wrong with the drain's output, or None."""
        expect = self.expect
        con = duckdb.connect()
        try:
            got = con.execute(f"""
                SELECT CAST(date AS VARCHAR), namespace, count(*),
                       sum(element_at(fields_number, 'content_duration')[1])
                FROM read_parquet('{d}/table/date=*/*.parquet',
                                  hive_partitioning = true)
                GROUP BY ALL""").fetchall()
        finally:
            con.close()
        groups = {(d_, ns): (n, s) for d_, ns, n, s in got}
        want = expect["groups"]
        same = groups.keys() == want.keys() and all(
            groups[k][0] == want[k][0]
            and abs((groups[k][1] or 0) - (want[k][1] or 0))
            <= 1e-6 * max(1.0, abs(want[k][1] or 0))
            for k in want)
        rows = sum(n for n, _ in groups.values())
        dead = 0
        for name in os.listdir(f"{d}/dead"):
            if name.startswith("part-"):
                with open(f"{d}/dead/{name}") as f:
                    dead += sum(1 for _ in f)
        if rows != expect["rows"]:
            return f"rows landed {rows} != accepted {expect['rows']}"
        if not same:
            return "per-(date, namespace) counts/sums differ from DuckDB"
        if dead != expect["rejects"]:
            return f"dead-letter lines {dead} != {expect['rejects']}"
        if self.metrics.input_records_total != expect["lines"]:
            return ("IngestMetrics input_records_total "
                    f"{self.metrics.input_records_total} != {expect['lines']}")
        self.bytes_per_row.append(dir_bytes(f"{d}/table") / rows)
        return None

    def layers(self) -> dict:
        L = self.wl.layer.get
        n = L("json.batches_traced", 0) or 1
        samples = []
        for _ in range(3):
            t = time.perf_counter()
            list(decode.decode_json_lines(self.sample, self.cfg, rejects=[]))
            samples.append((time.perf_counter() - t) * 1e6 / len(self.sample))
        return {
            "stream.jobs_per_batch": L("json.jobs", 0) / n,
            "metrics.count_jobs_per_batch": L("json.count_jobs", 0) / n,
            "decode.python_bytes_per_input_byte":
                L("json.python_sent_bytes", 0) / (L("json.input_bytes", 0) or 1),
            "decode.executor_cpu_s": L("json.python_cpu_ns", 0) / 1e9 / n,
            "decode.json_us_per_line": median(samples),
            "decode.reject_ratio": self.expect["rejects"] / self.expect["lines"],
            "table.write_s": median(self.wl.tracer.durations_ms(
                "table.exactly_once_sink")) / 1000,
            "table.write_shuffle_bytes": L("json.write_shuffle_bytes", 0) / n,
            "table.files_written": L("json.files_written", 0) / n,
            "table.bytes_written_per_row": L("json.write_output_bytes", 0)
            / (L("json.rows_written", 0) or 1),
        }


class MsgpackPath:
    """Fluent Bit msgpack chunks -> msgpack decode -> ClickHouseSink into a
    counting DBAPI stub. No dead-letter channel, no metrics, no parquet."""

    name = "msgpack"

    def __init__(self, wl: "Ingest"):
        self.wl = wl

    def setup(self, d: str, evs: list) -> None:
        chunks = gen.msgpack_chunks(evs, EVENTS_PER_CHUNK)
        self.src = fresh_dir(f"{d}/src")
        for i, c in enumerate(chunks):
            with open(f"{self.src}/chunk-{i:04d}.msgpack", "wb") as f:
                f.write(c)
        self.expect = {"lines": len(evs),
                       "batches": -(-len(chunks) // CHUNKS_PER_BATCH),
                       "checksum": gen.events_checksum(evs),
                       "input_bytes": sum(len(c) for c in chunks)}
        self.sample = chunks[:2]
        self.cfg = EngineConfig(force_number_fields=gen.FORCE_NUMBER_FIELDS)

    def run_drain(self, d: str) -> None:
        self.ledger = fresh_dir(f"{d}/ledger")
        sink = ClickHouseSink(self.cfg, chstub.StubFactory(self.ledger))
        tracer = self.wl.tracer

        def traced_sink(df, batch_id):
            with tracer.span("sink_clickhouse.write_batch"):
                sink.write_batch(df, batch_id)

        stream.run_ingest_once(
            stream.read_msgpack_chunk_stream(
                self.wl.spark, self.src,
                max_files_per_trigger=CHUNKS_PER_BATCH),
            traced_sink, self.cfg, checkpoint_dir=f"{d}/ckpt",
            input_format="msgpack")

    def verify(self, d: str) -> str | None:
        rows, digest, inserts = chstub.read_ledger(self.ledger)
        if rows != self.expect["lines"]:
            return f"stub rows {rows} != {self.expect['lines']}"
        if digest != self.expect["checksum"]:
            return "stub checksum differs"
        self.wl.add("msgpack.rows_inserted", rows)
        self.wl.add("msgpack.inserts", inserts)
        return None

    def layers(self) -> dict:
        L = self.wl.layer.get
        n = L("msgpack.batches_traced", 0) or 1
        events = sum(1 for c in self.sample for _ in msgpack_lite.unpack_stream(c))
        samples = []
        for _ in range(3):
            t = time.perf_counter()
            for c in self.sample:
                for _ in msgpack_lite.unpack_stream(c):
                    pass
            samples.append((time.perf_counter() - t) * 1e6 / events)
        return {
            "stream.msgpack_jobs_per_batch": L("msgpack.jobs", 0) / n,
            "metrics.msgpack_count_jobs_per_batch": L("msgpack.count_jobs", 0) / n,
            "msgpack.unpack_us_per_event": median(samples),
            "sink_clickhouse.write_batch_ms": median(self.wl.tracer.durations_ms(
                "sink_clickhouse.write_batch")),
            "sink_clickhouse.rows_per_insert": L("msgpack.rows_inserted", 0)
            / (L("msgpack.inserts", 0) or 1),
            "sink_clickhouse.inserts": L("msgpack.inserts", 0)
            / (len(self.wl.lat.get("batch.msgpack", [])) or 1),
        }


class Ingest(Workload):
    """Backlog drains of both wire formats through
    ``stream.run_ingest_once``: each round drains the JSON backlog into the
    parquet table, then the msgpack backlog into the ClickHouse sink."""

    name = "ingest"

    def __init__(self, *a):
        super().__init__(*a)
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.paths = (JsonPath(self), MsgpackPath(self))
        self.drain_s: dict[str, list[float]] = {p.name: [] for p in self.paths}
        self.items: dict[str, int] = {p.name: 0 for p in self.paths}
        self.n_drain = 0
        self.rounds = 0

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)

    def traced_ops(self) -> int:
        return int(sum(self.layer.get(f"{p.name}.batches_traced", 0)
                       for p in self.paths))

    def generate(self) -> None:
        """Both backlogs carry the same events; the JSON one adds the odd
        lines. The engine has no part in this set-up, so ``builds`` is 0."""
        d = fresh_dir(f"{self.work}/inputs")
        bk = gen.json_backlog(self.seed, BATCHES_PER_DRAIN * LINES_PER_BATCH)
        json_path, msgpack_path = self.paths
        json_path.setup(fresh_dir(f"{d}/json"), bk)
        msgpack_path.setup(fresh_dir(f"{d}/msgpack"), bk["events"])

    def warmup(self) -> None:
        """The DuckDB oracle, then one whole round, checked but not timed:
        the first streaming query, Python workers and class loading of
        each path."""
        t = time.perf_counter()
        self.paths[0].oracle()
        self.oracle_s = time.perf_counter() - t
        for p in self.paths:
            self.drain(p, traced=False, measured=False)

    def measure(self, seconds: float) -> None:
        # measured round r traces path i when r + i is even: each path is
        # traced in one of the first two rounds and untraced in the other
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or self.rounds < MIN_MEASURED):
            for i, p in enumerate(self.paths):
                self.drain(p, traced=self.tracer.enabled
                           and (self.rounds + i) % 2 == 0)
            self.rounds += 1

    def drain(self, p, traced: bool, measured: bool = True) -> None:
        self.n_drain += 1
        d = fresh_dir(f"{self.work}/drain{self.n_drain}")
        self.tracer.start_op(self.ops, traced)
        watch = Stopwatch()
        error = None
        with self.tracer.span("stream.run_ingest_once"):
            try:
                p.run_drain(d)
            except Exception as exc:  # an operation that fails is counted
                error = exc
        wall, steal_free = watch.elapsed()
        run_id, batches = self.progress.last_run()
        self.record(p, d, run_id, batches, (wall, steal_free), error, traced,
                    measured)
        shutil.rmtree(d, ignore_errors=True)

    def record(self, p, d: str, run_id: str, batches: list,
               wall: tuple[float, float], error: Exception | None,
               traced: bool, measured: bool = True) -> None:
        """Check one drain and, when measured, keep its timings (and, when
        traced, its counters). Each batch is one operation. ``wall`` is the
        drain's wall and steal-free seconds; the batch times from the
        stream's progress are scaled by their ratio."""
        n_batches = max(len(batches), p.expect["batches"])
        self.attempted += n_batches
        self.ops += 1
        why = (f"drain failed: {error!r}" if error is not None
               else p.verify(d))
        self.check(why is None, f"{p.name}: {why}", n_batches)
        if not measured:
            return
        share = wall[1] / wall[0] if wall[0] else 1.0
        trig = [dur["triggerExecution"] * share for _, dur in batches]
        self.lat.setdefault(f"batch.{p.name}", []).extend(trig)
        self.keep_latency(p.name, trig, traced, self.rounds % 2)
        self.drain_s[p.name].append(wall[1])
        self.items[p.name] += p.expect["lines"]
        for key, field in (("stream.add_batch_ms", "addBatch"),
                           ("stream.wal_commit_ms", "walCommit"),
                           ("stream.planning_ms", "queryPlanning")):
            self.lat.setdefault(key, []).extend(dur.get(field, 0)
                                                for _, dur in batches)
        if traced:
            c = self.read_counters({run_id}, f"{d}/table")
            self.add_common(c)
            for key, value in (
                    ("batches_traced", len(batches)), ("jobs", c.jobs),
                    ("count_jobs", c.count_jobs),
                    ("python_sent_bytes", c.python_sent_bytes),
                    ("input_bytes", p.expect["input_bytes"]),
                    ("python_cpu_ns", c.python_exec_cpu_ns),
                    ("write_shuffle_bytes", c.write_shuffle_bytes),
                    ("files_written", c.files_written),
                    ("write_output_bytes", c.write_output_bytes),
                    ("rows_written", c.rows_written)):
                self.add(f"{p.name}.{key}", value)

    def per_s(self, name: str | None = None) -> float:
        """Input lines or events per steal-free second of the drains (of
        one path, or of both)."""
        names = [name] if name else list(self.items)
        secs = sum(sum(self.drain_s[n]) for n in names)
        return sum(self.items[n] for n in names) / secs if secs else 0.0

    def e2e(self) -> dict:
        # JSON batches take about twice as long as msgpack ones: the
        # geometric mean of the two medians moves by the same share
        # whichever path gets faster
        meds = [median(self.lat[f"batch.{p.name}"]) for p in self.paths
                if self.lat.get(f"batch.{p.name}")]
        return {"op_p50_ms": statistics.geometric_mean(meds) if meds else 0.0,
                "items_per_s": self.per_s()}

    def layers(self) -> dict:
        L = self.layer.get
        n = self.traced_ops() or 1
        out = {
            "stream.add_batch_ms": median(self.lat.get("stream.add_batch_ms", [])),
            "stream.wal_commit_ms": median(self.lat.get("stream.wal_commit_ms", [])),
            "stream.planning_ms": median(self.lat.get("stream.planning_ms", [])),
            "stream.batches": float(sum(len(self.lat.get(f"batch.{p.name}", []))
                                        for p in self.paths)),
            "executor_gc_ms": L("gc_ms", 0) / n,
            "spill_bytes": L("spill_bytes", 0) / n,
            "shuffle_bytes": L("shuffle_bytes", 0) / n,
        }
        for p in self.paths:
            out.update(p.layers())
        return out

    def report(self) -> dict:
        json_path = self.paths[0]
        return {"ingest_items_per_s": (self.per_s(), "1/s"),
                "json_lines_per_s": (self.per_s("json"), "1/s"),
                "msgpack_events_per_s": (self.per_s("msgpack"), "1/s"),
                "json_batch": self.lat.get("batch.json", []),
                "msgpack_batch": self.lat.get("batch.msgpack", []),
                "table_bytes_per_row": (median(json_path.bytes_per_row), "B")}


# ---------------------------------------------------------------------------
# logs_table: a log viewer and a table operator, one closed-loop client

QUERY_TYPES = ["count", "histogram", "count_by", "number_stats", "newest",
               "context", "log_search"]
VERBS = ["append", "publish_snapshot", "cow_delete_where", "cow_merge_upsert",
         "mor_delete_where", "read_current_state", "maintain"]
# Sizes are a time-budget choice, scaled to the example deployment's
# Batch_Size of 1,000 rows (SURVEY.md, T1): the week table holds one such
# batch per day and each cycle appends one more. See NOTE.md for what this
# size leaves out of reach
APPEND_ROWS = 1_000
WEEK_ROWS = 7 * APPEND_ROWS
MERGE_UPDATES, MERGE_INSERTS = 100, 20


def canon(rows) -> str:
    """Order-free hash of result rows; floats to 9 significant digits."""
    def v(x):
        if isinstance(x, float):
            return f"{x:.9g}"
        if isinstance(x, (datetime, date)):
            return x.isoformat()
        return x
    lines = sorted(repr(tuple(v(x) for x in r)) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


class LogsTable(Workload):
    """Viewer queries on a week-long table, interleaved with maintenance
    verbs on a second, manifest-governed table."""

    name = "logs_table"
    builds = 3

    def generate(self) -> None:
        d = fresh_dir(f"{self.work}/inputs")
        week_evs = gen.events(self.seed, WEEK_ROWS, 7)
        gen.write_rows_parquet(gen.log_rows(week_evs), f"{d}/week.parquet")
        self.week = f"{d}/week"
        # the verbs rewrite a copy of the week table, so the queries' table
        # and oracles never change
        self.path = f"{d}/maint"
        # the maintained table's expected live rows: ts_ms -> (day, ns,
        # pod, container)
        self.model = {ts: self._key(ts, rec) for ts, rec in week_evs}
        self.next_day = 7
        self.dir = d
        self.specs = self._query_mix(week_evs)
        self.q_index = 0
        self.cycle_no = 0
        self.measured_cycles = 0
        self.bytes_per_row: list[float] = []

    def build(self, k: int) -> None:
        """The engine's set-up: the week table through ``write_logs`` and
        a published snapshot of its copy. Each build replaces the last."""
        table.write_logs(self.spark.read.parquet(f"{self.dir}/week.parquet"),
                         self.week, mode="overwrite")
        shutil.rmtree(self.path, ignore_errors=True)
        shutil.copytree(self.week, self.path)
        manifest.publish_snapshot(self.spark, self.path)

    @staticmethod
    def _key(ts: int, rec: dict) -> tuple:
        k8s = rec["kubernetes"]
        return ((ts - gen.T0_MS) // gen.DAY_MS, k8s["namespace_name"],
                k8s["pod_name"], k8s["container_name"])

    def _query_mix(self, evs) -> list[dict]:
        """Three seeded parameterisations of each query type, shuffled."""
        rng = random.Random(self.seed ^ 0xC0FFEE)
        t0 = gen.EPOCH + timedelta(milliseconds=gen.T0_MS)
        specs = []
        for variant in range(3):
            a = t0 + timedelta(hours=rng.randrange(0, 96))
            b = a + timedelta(hours=rng.randrange(12, 72))
            ns = gen.NAMESPACES[rng.randrange(len(gen.NAMESPACES))]
            word = gen.WORDS[rng.randrange(len(gen.WORDS))]
            level = rng.choice(["error", "warn"])
            anchor_ts, anchor_rec = evs[rng.randrange(len(evs))]
            pod = anchor_rec["kubernetes"]["pod_name"]
            anchor = gen.EPOCH + timedelta(milliseconds=anchor_ts)
            rng_sql = f"timestamp BETWEEN TIMESTAMP '{a}' AND TIMESTAMP '{b}'"
            lo, hi = anchor - timedelta(hours=12), anchor + timedelta(hours=12)
            ctx = (f"FROM t WHERE date BETWEEN DATE '{lo.date()}' AND "
                   f"DATE '{hi.date()}' AND timestamp BETWEEN TIMESTAMP "
                   f"'{lo}' AND TIMESTAMP '{hi}' AND pod_name = '{pod}'")
            specs += [
                {"type": "count", "a": a, "b": b, "ns": ns, "level": level,
                 "sql": f"SELECT count(*) FROM t WHERE {rng_sql} AND "
                        f"namespace = '{ns}' AND element_at(fields_string, "
                        f"'content_level')[1] = '{level}'"},
                {"type": "histogram", "a": a, "b": b, "ns": ns,
                 "sql": f"SELECT date_trunc('hour', timestamp), count(*) "
                        f"FROM t WHERE {rng_sql} AND namespace = '{ns}' "
                        "GROUP BY 1"},
                {"type": "count_by", "a": a, "b": b,
                 "sql": f"SELECT namespace, app, count(*) FROM t WHERE "
                        f"{rng_sql} GROUP BY ALL"},
                {"type": "number_stats", "a": a, "b": b,
                 "sql": "SELECT namespace, count(v), avg(v), min(v), max(v), "
                        "sum(v) FROM (SELECT namespace, element_at("
                        "fields_number, 'content_duration')[1] AS v FROM t "
                        f"WHERE {rng_sql}) WHERE v IS NOT NULL GROUP BY ALL"},
                {"type": "newest", "ns": ns,
                 "sql": "SELECT timestamp, pod_name, log FROM t WHERE "
                        f"namespace = '{ns}' ORDER BY timestamp DESC LIMIT 100"},
                {"type": "context", "pod": pod, "anchor": anchor,
                 "sql": f"""(SELECT 'before', timestamp, pod_name, log {ctx}
                             AND timestamp <= TIMESTAMP '{anchor}'
                             ORDER BY timestamp DESC, log DESC LIMIT 5)
                            UNION ALL
                            (SELECT 'after', timestamp, pod_name, log {ctx}
                             AND timestamp > TIMESTAMP '{anchor}'
                             ORDER BY timestamp, log LIMIT 5)"""},
                {"type": "log_search", "a": a, "b": b, "word": word,
                 "sql": f"SELECT namespace, count(*) FROM t WHERE {rng_sql} "
                        f"AND contains(log, '{word}') GROUP BY ALL"},
            ]
        rng.shuffle(specs)
        return specs

    # -- one closed-loop cycle -------------------------------------------

    def warmup(self) -> None:
        """Each query's expected result from DuckDB over the week table's
        parquet files (the benchmark's own check, so outside the timed
        set-up), then one whole unmeasured cycle: every query shape and
        verb pays its first call there."""
        t = time.perf_counter()
        con = duckdb.connect()
        try:
            con.execute(f"""CREATE VIEW t AS SELECT * FROM read_parquet(
                '{self.week}/date=*/*.parquet', hive_partitioning = true)""")
            for s in self.specs:
                s["want"] = canon(con.execute(s["sql"]).fetchall())
        finally:
            con.close()
        self.oracle_s = time.perf_counter() - t
        self.cycle(measured=False)

    def measure(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < seconds
               or self.measured_cycles < MIN_MEASURED):
            self.cycle(measured=True)
            self.measured_cycles += 1
        # the table must be consistent after the last verb
        rep = manifest.fsck(self.spark, self.path)
        self.check(rep.get("ok") and not rep.get("journal_live")
                   and not rep.get("journal_torn"), f"fsck not clean: {rep}")
        self.bytes_per_row.append(dir_bytes(self.path) / len(self.model))

    def cycle(self, measured: bool) -> None:
        """Seven queries, one of each type, between the seven verbs."""
        self.cycle_no += 1
        prep = self._prepare_verbs()
        by_type = {}
        for i in range(len(self.specs)):
            s = self.specs[(self.q_index + i) % len(self.specs)]
            by_type.setdefault(s["type"], s)
        self.q_index += len(QUERY_TYPES)
        # in a traced run, measured cycle m traces query i when i + m is
        # even and verb i when it is odd: each cycle traces seven of the
        # fourteen operations, queries and verbs mixed, and each operation
        # is traced in one of the first two measured cycles only
        parity = self.measured_cycles % 2
        for i, (qtype, verb) in enumerate(zip(QUERY_TYPES, VERBS)):
            self.op("query", qtype, lambda s=by_type[qtype]: self.run_query(s),
                    measured, parity, (i + parity) % 2 == 0)
            self.op("verb", verb, lambda v=verb: self.run_verb(v, prep),
                    measured, parity, (i + parity) % 2 == 1)

    def op(self, kind: str, name: str, fn, measured: bool, parity: int,
           turn: bool) -> None:
        """Run one operation, check it and, when measured, keep its
        latency. ``turn`` says whether a traced run traces it."""
        traced = measured and self.tracer.enabled and turn
        before = (self._live_files() if traced and kind == "verb" else None)
        group = f"trafficbench-{kind}-{self.ops}"
        self.spark.sparkContext.setJobGroup(group, f"trafficbench {name}")
        self.tracer.start_op(self.ops, traced)
        self._traced = traced
        watch = Stopwatch()
        try:
            ok, why = fn()
        except Exception as exc:  # an operation that fails is counted
            ok, why = False, f"{name} raised {exc!r}"
        ms = watch.steal_free() * 1000
        self.ops += 1
        self.attempted += 1
        self.check(ok, why)
        if not measured:
            return
        self.lat.setdefault(kind, []).append(ms)
        self.lat.setdefault(f"{kind}.{name}", []).append(ms)
        self.keep_latency(name, [ms], traced, parity)
        if traced:
            c = self.read_counters({group}, self.path if kind == "verb" else None)
            self.add_common(c)
            self.add(f"{kind}.n_traced", 1)
            self.add(f"{kind}.cpu_ns", c.cpu_ns)
            if kind == "query":
                self.add("query.files_read", c.files_read)
                self.add("query.rows_scanned", c.rows_scanned)
                self.add("query.rows_returned", self._returned)
            else:
                after = self._live_files()
                self.add("manifest.files_added", len(after - before))
                self.add("manifest.files_removed", len(before - after))
                self.add("manifest.write_output_bytes", c.write_output_bytes)
                self.add("manifest.rows_touched", self._touched)
                if name == "append":
                    self.add("table.appends_traced", 1)
                    self.add("table.write_shuffle_bytes", c.write_shuffle_bytes)
                    self.add("table.files_written", c.files_written)
                    self.add("table.write_output_bytes", c.write_output_bytes)
                    self.add("table.rows_written", c.rows_written)

    def _live_files(self) -> set:
        self.spark.sparkContext.setJobGroup("trafficbench-check", "check")
        files = manifest.read_current_state(self.spark, self.path).inputFiles()
        return {f for f in files if "/_dv/" not in f}

    # -- queries -----------------------------------------------------------

    def run_query(self, s: dict) -> tuple[bool, str]:
        spark, span = self.spark, self.tracer.span
        with span(f"query.{s['type']}"):
            if s["type"] == "context":
                df = query.fetch_context(spark, self.week, s["pod"], s["anchor"])
            else:
                with span("table.logs_query"):
                    q = table.logs_query(spark, self.week)
                df = self._build(q, s)
            if self._traced:
                with span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
            with span("query.exec"):
                rows = df.collect()
        self._returned = len(rows)
        got = canon([tuple(r) for r in rows])
        return got == s["want"], f"query {s['type']} result differs from DuckDB"

    @staticmethod
    def _build(q, s):
        t = s["type"]
        if t == "count":
            return (q.time_range(s["a"], s["b"]).where_env(namespace=s["ns"])
                    .where_field_eq("content_level", s["level"]).count_all())
        if t == "histogram":
            return (q.time_range(s["a"], s["b"]).where_env(namespace=s["ns"])
                    .histogram("1 hour"))
        if t == "count_by":
            return q.time_range(s["a"], s["b"]).count_by("namespace", "app")
        if t == "number_stats":
            return (q.time_range(s["a"], s["b"])
                    .number_stats("content_duration", "namespace"))
        if t == "newest":
            return (q.where_env(namespace=s["ns"]).newest(100)
                    .select("timestamp", "pod_name", "log"))
        return (q.time_range(s["a"], s["b"]).where_log_contains(s["word"])
                .count_by("namespace"))

    # -- maintenance verbs ---------------------------------------------------

    def _prepare_verbs(self) -> dict:
        """Inputs of this cycle's verbs, made before any is timed."""
        day = self.next_day
        self.next_day += 1
        evs = gen.events(self.seed * 7919 + self.cycle_no, APPEND_ROWS, 1,
                         day0=day)
        append = f"{self.dir}/append-{self.cycle_no}.parquet"
        gen.write_rows_parquet(gen.log_rows(evs), append)
        # merge: rewrite the log line of some appended rows, insert a few
        upd = evs[:MERGE_UPDATES]
        new = gen.events(self.seed * 104729 + self.cycle_no, MERGE_INSERTS, 1,
                         day0=day)
        cols = gen.log_rows(upd + new)
        cols["log"] = [line + " [redacted]" for line in cols["log"]]
        merge = f"{self.dir}/merge-{self.cycle_no}.parquet"
        gen.write_rows_parquet(cols, merge)
        # median-sized targets, so every seed deletes a similar share: the
        # COW delete one pod, the MOR delete another pod's sidecar rows.
        # The MOR share of a day stays far below maintain's 10% fold
        # threshold, so maintain never folds the deletion vectors: a fold
        # would rewrite a day in some seeds' measured cycles and not in
        # others', doubling maintain's latency there
        pod = self._median_key(lambda k: k[2])
        return {
            "append": append, "append_evs": evs, "merge": merge,
            "merge_new": new, "day": day, "pod": pod,
            "mor_pod": self._median_key(
                lambda k: k[2] if k[3] == "sidecar" and k[2] != pod else None),
        }

    def _median_key(self, key) -> str:
        """The value of ``key`` over the live rows whose row count is the
        median one (ties broken by value)."""
        counts: dict = {}
        for k in self.model.values():
            v = key(k)
            if v is not None:
                counts[v] = counts.get(v, 0) + 1
        ranked = sorted(counts, key=lambda v: (counts[v], v))
        return ranked[len(ranked) // 2]

    def run_verb(self, verb: str, p: dict) -> tuple[bool, str]:
        spark, path, model = self.spark, self.path, self.model
        self._touched = 0
        with self.tracer.span(f"manifest.{verb}" if verb != "append"
                              else "table.write_logs"):
            if verb == "append":
                table.write_logs(spark.read.parquet(p["append"]), path)
                for ts, rec in p["append_evs"]:
                    model[ts] = self._key(ts, rec)
                self._touched = len(p["append_evs"])
                return True, ""
            if verb == "publish_snapshot":
                manifest.publish_snapshot(spark, path)
                return True, ""
            if verb == "cow_delete_where":
                res = manifest.cow_delete_where(spark, path,
                                                F.col("pod_name") == p["pod"])
                doomed = [ts for ts, k in model.items() if k[2] == p["pod"]]
                return self._apply(doomed, res["rows_deleted"], verb)
            if verb == "cow_merge_upsert":
                res = manifest.cow_merge_upsert(
                    spark, path, spark.read.parquet(p["merge"]),
                    ["timestamp", "pod_name"])
                self._touched = res["rows_updated"] + res["rows_inserted"]
                for ts, rec in p["merge_new"]:
                    model[ts] = self._key(ts, rec)
                ok = (res["rows_updated"] == MERGE_UPDATES
                      and res["rows_inserted"] == len(p["merge_new"]))
                return ok, f"{verb} reported {res}"
            if verb == "mor_delete_where":
                res = manifest.mor_delete_where(
                    spark, path, F.col("pod_name") == p["mor_pod"])
                doomed = [ts for ts, k in model.items() if k[2] == p["mor_pod"]]
                return self._apply(doomed, res["rows_deleted"], verb)
            if verb == "read_current_state":
                n = manifest.read_current_state(spark, path).count()
                return n == len(model), f"live rows {n} != model {len(model)}"
            # maintain: compaction, retention of the oldest day, vacuum
            oldest = min(k[0] for k in model.values())
            cutoff = (gen.EPOCH + timedelta(milliseconds=gen.T0_MS)
                      + timedelta(days=oldest + 1)).date()
            res = manifest.maintain(spark, path,
                                    retention_days=(date.today() - cutoff).days)
            doomed = [ts for ts, k in model.items() if k[0] == oldest]
            return self._apply(doomed, res["retention"]["rows_deleted"], verb)

    def _apply(self, doomed: list, reported: int, verb: str) -> tuple[bool, str]:
        for ts in doomed:
            del self.model[ts]
        self._touched = reported
        return reported == len(doomed), (
            f"{verb} deleted {reported} rows, expected {len(doomed)}")

    # -- results -----------------------------------------------------------

    def e2e(self) -> dict:
        # the fourteen operations differ up to 50x in latency: a median
        # over all of them jumps between neighbours, so op_p50_ms is the
        # geometric mean of each operation's own median, where every
        # operation weighs the same. items_per_s is the rate of the whole
        # mix, operations per second of one cycle built from those
        # medians, where each operation weighs by its latency and the slow
        # verbs dominate
        names = ([f"query.{t}" for t in QUERY_TYPES]
                 + [f"verb.{v}" for v in VERBS])
        meds = [median(self.lat[n]) for n in names if n in self.lat]
        return {"op_p50_ms": statistics.geometric_mean(meds) if meds else 0.0,
                "items_per_s": len(meds) / (sum(meds) / 1000) if meds else 0.0}

    def layers(self) -> dict:
        L = self.layer.get
        nq = L("query.n_traced", 0) or 1
        nv = L("verb.n_traced", 0) or 1
        n_ops = L("n_traced", 0) or 1
        appends = L("table.appends_traced", 0) or 1
        out = {
            "table.open_ms": median(self.tracer.durations_ms("table.logs_query")),
            "table.write_s": median(self.lat.get("verb.append", [])) / 1000,
            "table.write_shuffle_bytes": L("table.write_shuffle_bytes", 0) / appends,
            "table.files_written": L("table.files_written", 0) / appends,
            "table.bytes_written_per_row": L("table.write_output_bytes", 0)
            / (L("table.rows_written", 0) or 1),
            "query.plan_ms": median(self.tracer.durations_ms("query.plan")),
            "query.exec_ms": median(self.tracer.durations_ms("query.exec")),
            "query.files_read": L("query.files_read", 0) / nq,
            "query.rows_scanned_per_row_returned": L("query.rows_scanned", 0)
            / (L("query.rows_returned", 0) or 1),
            "query.executor_cpu_s": L("query.cpu_ns", 0) / 1e9 / nq,
            "manifest.bytes_rewritten_per_row_touched":
                L("manifest.write_output_bytes", 0)
                / (L("manifest.rows_touched", 0) or 1),
            "manifest.files_added": L("manifest.files_added", 0) / nv,
            "manifest.files_removed": L("manifest.files_removed", 0) / nv,
            "executor_gc_ms": L("gc_ms", 0) / n_ops,
            "spill_bytes": L("spill_bytes", 0) / n_ops,
            "shuffle_bytes": L("shuffle_bytes", 0) / n_ops,
        }
        for t in QUERY_TYPES:
            out[f"query.{t}_p50_ms"] = median(self.lat.get(f"query.{t}", []))
        for v in VERBS:
            out[f"manifest.{v}_ms"] = median(self.lat.get(f"verb.{v}", []))
        return out

    def report(self) -> dict:
        return {"query": self.lat.get("query", []),
                "verb": self.lat.get("verb", []),
                "table_bytes_per_row": (median(self.bytes_per_row), "B")}


WORKLOADS = {w.name: w for w in (Ingest, LogsTable)}
