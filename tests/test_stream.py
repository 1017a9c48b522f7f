"""Streaming ingest tests — trigger/drain/at-least-once (SURVEY §5.4)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from klogs_spark.config import EngineConfig
from klogs_spark.stream import read_json_lines_stream, run_ingest_once
from klogs_spark.table import read_logs

EVENTS = [
    {"ts": 1755043200 + i,
     "record": {
         "cluster": "kind",
         "kubernetes": {"namespace_name": f"ns-{i % 2}", "pod_name": f"p{i}",
                        "container_name": "c", "host": "h",
                        "labels": {"app": "web"}},
         "log": f"line {i}",
         "content": {"level": "error" if i % 3 == 0 else "info",
                     "duration": str(1.5 * i)},
     }}
    for i in range(20)
]


@pytest.fixture()
def raw_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    for chunk in range(2):
        with open(d / f"chunk-{chunk}.json", "w") as f:
            for ev in EVENTS[chunk * 10:(chunk + 1) * 10]:
                f.write(json.dumps(ev) + "\n")
    return str(d)


def test_ingest_end_to_end(spark, raw_dir, tmp_path):
    out = str(tmp_path / "logs")
    cfg = EngineConfig(force_number_fields=["content_duration"])
    stream = read_json_lines_stream(spark, raw_dir)
    run_ingest_once(stream, out, cfg, checkpoint_dir=str(tmp_path / "ckpt"))

    logs = read_logs(spark, out)
    assert logs.count() == 20
    row = logs.filter("pod_name = 'p3'").collect()[0]
    assert row.namespace == "ns-1"
    assert row.app == "web"
    assert row.fields_string["content_level"] == "error"
    assert row.fields_number["content_duration"] == pytest.approx(4.5)


def test_checkpoint_no_reprocess_on_rerun(spark, raw_dir, tmp_path):
    """T2/T4: a second availableNow run over the same checkpoint must not
    duplicate rows (files already committed)."""
    out = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    stream = read_json_lines_stream(spark, raw_dir)
    run_ingest_once(stream, out, checkpoint_dir=ckpt)
    run_ingest_once(read_json_lines_stream(spark, raw_dir), out,
                    checkpoint_dir=ckpt)
    assert read_logs(spark, out).count() == 20


def test_new_files_picked_up_incrementally(spark, raw_dir, tmp_path):
    out = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    run_ingest_once(read_json_lines_stream(spark, raw_dir), out,
                    checkpoint_dir=ckpt)
    with open(f"{raw_dir}/chunk-2.json", "w") as f:
        f.write(json.dumps({"ts": 1755043300,
                            "record": {"log": "late", "k": 1}}) + "\n")
    run_ingest_once(read_json_lines_stream(spark, raw_dir), out,
                    checkpoint_dir=ckpt)
    logs = read_logs(spark, out)
    assert logs.count() == 21
    assert logs.filter("log = 'late'").count() == 1


def test_dead_letter_quarantines_bad_lines(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps({"ts": 1, "record": {"log": "good"}}) + "\n")
        f.write("THIS IS NOT JSON\n")
        f.write(json.dumps({"ts": 2, "record": 42}) + "\n")
        f.write(json.dumps({"log": "bare"}) + "\n")
    out, dl = str(tmp_path / "logs"), str(tmp_path / "dead")
    run_ingest_once(
        read_json_lines_stream(spark, str(d)), out,
        checkpoint_dir=str(tmp_path / "ckpt"), dead_letter_dir=dl,
    )
    assert read_logs(spark, out).count() == 2  # good + bare
    dead = {r.value for r in spark.read.text(dl).collect()}
    assert dead == {"THIS IS NOT JSON", json.dumps({"ts": 2, "record": 42})}


def test_exactly_once_sink_skips_replayed_batch(spark, tmp_path):
    """The idempotent sink ignores a re-delivered epoch: same batch_id twice
    writes once (foreachBatch replay after a downstream failure)."""
    from klogs_spark.stream import exactly_once_sink

    out = str(tmp_path / "logs")
    df = spark.createDataFrame(
        [(__import__("datetime").datetime(2026, 1, 1), "c", "ns", "a", "p",
          "ct", "h", {}, {}, "line")],
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )
    sink = exactly_once_sink(out)
    sink(df, 7)
    sink(df, 7)   # replayed epoch -> no-op
    sink(df, 8)   # new epoch -> appended
    assert read_logs(spark, out).count() == 2


def test_exactly_once_replay_after_publish_crash_no_duplicates(spark, tmp_path):
    """Crash AFTER files were published but BEFORE the marker: the replay
    must purge the dead attempt's files and end with exactly one copy
    (the round-1 implementation duplicated the batch in this window)."""
    from klogs_spark.stream import exactly_once_sink

    out = str(tmp_path / "logs")
    df = spark.createDataFrame(
        [(__import__("datetime").datetime(2026, 1, 1), "c", "ns", "a", "p",
          "ct", "h", {}, {}, f"line-{i}") for i in range(5)],
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )
    sink = exactly_once_sink(out)
    sink(df, 7)
    # simulate the crashed attempt: files are in the table (b7- prefix),
    # marker is gone -> Structured Streaming replays batch 7
    (Path(out) / "_commits" / "batch-7").unlink()
    sink(df, 7)
    logs = read_logs(spark, out)
    assert logs.count() == 5
    assert logs.select("log").distinct().count() == 5
    assert (Path(out) / "_commits" / "batch-7").exists()
    # staging cleaned up
    assert not list((Path(out) / "_staging").glob("batch-*"))


def test_exactly_once_sink_raises_on_failed_rename(spark, tmp_path, monkeypatch):
    """Hadoop FS rename reports failure by returning FALSE, not raising (the
    S3A copy-rename hazard). A false rename must fail the batch (so streaming
    replays it) and must NOT write the commit marker — otherwise the staged
    file's rows are silently lost forever under the exactly-once contract."""
    from klogs_spark import table as table_mod
    from klogs_spark.stream import exactly_once_sink

    real_hadoop_fs = table_mod._hadoop_fs

    class _RenameFailsFS:
        def __init__(self, inner):
            self._inner = inner

        def rename(self, src, dst):
            return False  # object-store rename failure: false, no exception

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def fake_hadoop_fs(spark_, path_):
        fs, hpath_cls, root = real_hadoop_fs(spark_, path_)
        return _RenameFailsFS(fs), hpath_cls, root

    monkeypatch.setattr(table_mod, "_hadoop_fs", fake_hadoop_fs)

    out = str(tmp_path / "logs")
    df = spark.createDataFrame(
        [(__import__("datetime").datetime(2026, 1, 1), "c", "ns", "a", "p",
          "ct", "h", {}, {}, "line")],
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )
    sink = exactly_once_sink(out)
    with pytest.raises(IOError, match="publish-rename"):
        sink(df, 7)
    assert not (Path(out) / "_commits" / "batch-7").exists()

    # after the transient failure clears, the replayed batch publishes fully
    monkeypatch.setattr(table_mod, "_hadoop_fs", real_hadoop_fs)
    exactly_once_sink(out)(df, 7)
    assert read_logs(spark, out).count() == 1
    assert (Path(out) / "_commits" / "batch-7").exists()


def test_exactly_once_end_to_end_with_failure(spark, raw_dir, tmp_path):
    """Failure before any write + replay with the same checkpoint: the table
    ends with exactly one copy of every event."""
    from klogs_spark.stream import exactly_once_sink

    out = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    flag = tmp_path / "fail-once"
    flag.write_text("arm")
    fail_path, inner = str(flag), exactly_once_sink(out)

    def flaky(batch_df, batch_id):
        import os

        if os.path.exists(fail_path):
            os.remove(fail_path)
            raise RuntimeError("injected failure before write")
        inner(batch_df, batch_id)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        run_ingest_once(read_json_lines_stream(spark, raw_dir), flaky,
                        checkpoint_dir=ckpt)
    run_ingest_once(read_json_lines_stream(spark, raw_dir), flaky,
                    checkpoint_dir=ckpt)
    logs = read_logs(spark, out)
    assert logs.count() == 20
    assert logs.select("log").distinct().count() == 20


def test_metrics_count_raw_inputs_and_decoded_batch_sizes(spark, tmp_path):
    """T6 counter semantics: input_records_total counts RAW received lines
    (reference main.go:246 increments before decode — rejects/blanks count),
    batch_size summarizes the DECODED rows actually flushed."""
    from klogs_spark.metrics import IngestMetrics

    d = tmp_path / "raw"
    d.mkdir()
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps({"ts": 1, "record": {"log": "good-1"}}) + "\n")
        f.write("NOT JSON\n")
        f.write(json.dumps({"ts": 2, "record": {"log": "good-2"}}) + "\n")
    m = IngestMetrics()
    run_ingest_once(read_json_lines_stream(spark, str(d)),
                    str(tmp_path / "logs"),
                    checkpoint_dir=str(tmp_path / "ckpt"), metrics=m)
    assert m.input_records_total == 3      # raw lines, incl. the reject
    assert m.batch_sizes == [2.0]          # decoded rows flushed
    assert len(m.flush_seconds) == 1


def test_no_cache_leak_when_sink_fails(spark, raw_dir, tmp_path):
    """A failing sink must not leak the persisted micro-batch DataFrames
    (one leak per failed batch would accumulate in a long-running stream)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from klogs_spark.metrics import IngestMetrics

    def always_fail(batch_df, batch_id):
        raise RuntimeError("injected sink failure")

    # other tests in the session legitimately cache (minhash tables etc.) —
    # assert THIS ingest run leaves no additional persisted RDDs behind
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    m = IngestMetrics()
    with pytest.raises(StreamingQueryException):
        run_ingest_once(read_json_lines_stream(spark, raw_dir), always_fail,
                        checkpoint_dir=str(tmp_path / "ckpt"), metrics=m)
    assert m.errors_total == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_at_least_once_on_sink_failure(spark, raw_dir, tmp_path):
    """T4: a failing sink aborts the query; rerun with the same checkpoint
    redelivers the batch (reference FLB_ERROR retry, main.go:364-369)."""
    out = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    flag = tmp_path / "fail-once"
    flag.write_text("arm")

    fail_path = str(flag)

    def flaky_sink(batch_df, batch_id):
        import os

        from klogs_spark.table import write_logs

        if os.path.exists(fail_path):
            os.remove(fail_path)
            raise RuntimeError("injected sink failure")
        write_logs(batch_df, out, mode="append")

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        run_ingest_once(read_json_lines_stream(spark, raw_dir), flaky_sink,
                        checkpoint_dir=ckpt)
    # retry: same checkpoint -> batch replayed, rows delivered exactly once
    # here because the failed attempt wrote nothing
    run_ingest_once(read_json_lines_stream(spark, raw_dir), flaky_sink,
                    checkpoint_dir=ckpt)
    assert read_logs(spark, out).count() == 20


def test_indexed_logs_sink_maintains_bloom_sidecar(spark, tmp_path):
    """The streaming sink must append the batch AND refresh only that
    batch's days in the Bloom sidecar — two foreachBatch-shaped calls with
    different days leave the first day's sidecar files untouched while
    searches see tokens from both."""
    import os

    from pyspark.sql import functions as F

    from klogs_spark.table import (
        TOKEN_BLOOM_DIR, fulltext_token_search, indexed_logs_sink,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    sink = indexed_logs_sink(path)
    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001")
    day1 = logs.filter(F.to_date("timestamp") == "2024-01-10")
    day2 = (
        logs.filter(F.to_date("timestamp") == "2024-01-11")
        .withColumn("log", F.lit("streamtoken99 injected"))
    )
    sink(day1, 0)

    def sidecar_files():
        out = {}
        for dirpath, _, files in os.walk(f"{path}/{TOKEN_BLOOM_DIR}"):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = sidecar_files()
    assert before  # day-1 sidecar written
    sink(day2, 1)
    after = sidecar_files()
    for p, t in before.items():
        if "date=2024-01-11" not in p:
            assert after.get(p) == t, f"day-1 sidecar rewritten: {p}"
    assert fulltext_token_search(spark, path, ["streamtoken99"]).count() \
        == day2.count()
    assert fulltext_token_search(spark, path, ["user=7"]).count() > 0


def test_indexed_sink_refreshes_minmax_sidecar_incrementally(spark, tmp_path):
    """minmax_keys extends the streaming sink to the numeric zone map:
    each batch refreshes exactly its days' (day, key) stats, and a range
    scan over the stream-built table prunes/answers correctly."""
    import os

    from pyspark.sql import functions as F

    from klogs_spark.table import (
        FIELD_MINMAX_DIR, field_range_scan, indexed_logs_sink,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    sink = indexed_logs_sink(path, minmax_keys=["value"])
    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001")
    day1 = logs.filter(F.to_date("timestamp") == "2024-01-10")
    day2 = logs.filter(F.to_date("timestamp") == "2024-01-11")
    sink(day1, 0)
    first = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(f"{path}/{FIELD_MINMAX_DIR}")
        for f in fs if f.endswith(".parquet")
    }
    assert first
    sink(day2, 1)
    for p, t in first.items():
        if "date=2024-01-11" not in p:
            assert os.path.getmtime(p) == t, f"day-1 minmax rewritten: {p}"
    lo = 1.0
    got = field_range_scan(spark, path, "value", lo=lo).count()
    want = (
        day1.unionByName(day2)
        .filter(F.element_at(F.col("fields_number"), "value") >= lo)
        .count()
    )
    assert got == want > 0


def test_indexed_sink_snapshot_mode_publishes_batch_consistent_versions(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from klogs_spark.manifest import read_snapshot, snapshot_versions
    from klogs_spark.table import indexed_logs_sink
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    sink = indexed_logs_sink(path, snapshot=True)
    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001")
    b1 = logs.filter(F.to_date("timestamp") == "2024-01-10")
    b2 = logs.filter(F.to_date("timestamp") == "2024-01-11")
    sink(b1, 0)
    sink(b2, 1)
    v1, v2 = snapshot_versions(spark, path)
    # each version is a batch-consistent state: v1 sees ONLY batch 1, the
    # latest sees both — a reader pinned at v1 during batch 2's append
    # never observes a torn table
    assert read_snapshot(spark, path, v1).count() == b1.count()
    assert read_snapshot(spark, path, v2).count() == b1.count() + b2.count()


REJECT_LINES = {
    "non_json": '{"ts": 3, "record": {"log": "truncated',
    "non_object": json.dumps({"ts": 4, "record": [1, 2, 3]}),
    "over_deep": '{"ts": 5, "record": {"d": ' + "[" * 20_000 + "]" * 20_000
                 + "}}",
}


def _write_lines(d: Path, lines: list[str]) -> str:
    d.mkdir()
    (d / "batch.json").write_text("\n".join(lines) + "\n")
    return str(d)


def _dead_lines(spark, path: str) -> list[str]:
    return [r.value for r in spark.read.text(path).collect()]


def test_each_reject_class_reaches_dead_letter_exactly_once(spark, tmp_path):
    """One decode pass splits rejects off: every class the decoder rejects
    lands in the dead-letter dir once, and only the good lines in the
    table."""
    good = [json.dumps({"ts": 1, "record": {"log": "good-1"}}),
            json.dumps({"log": "bare"})]
    src = _write_lines(tmp_path / "raw", good + list(REJECT_LINES.values()))
    out, dl = str(tmp_path / "logs"), str(tmp_path / "dead")
    run_ingest_once(read_json_lines_stream(spark, src), out,
                    checkpoint_dir=str(tmp_path / "ckpt"), dead_letter_dir=dl)
    assert sorted(r.log for r in read_logs(spark, out).collect()) == [
        "bare", "good-1"]
    assert sorted(_dead_lines(spark, dl)) == sorted(REJECT_LINES.values())


def test_poison_pill_deep_line_is_dead_lettered_not_a_crash(spark, tmp_path):
    """A 200k-deep line overflows the C stack of orjson's parser, which
    kills the Python worker and fails the micro-batch on every replay.
    Rejected before parsing, it is dead-lettered and the batch's good
    lines reach the table."""
    from klogs_spark.metrics import IngestMetrics

    poison = "[" * 200_000 + "]" * 200_000
    good = [json.dumps({"ts": 1 + i, "record": {"log": f"g{i}"}})
            for i in range(3)]
    src = _write_lines(tmp_path / "raw", [good[0], poison, *good[1:]])
    out, dl = str(tmp_path / "logs"), str(tmp_path / "dead")
    m = IngestMetrics()
    run_ingest_once(read_json_lines_stream(spark, src), out,
                    checkpoint_dir=str(tmp_path / "ckpt"), dead_letter_dir=dl,
                    metrics=m)
    assert sorted(r.log for r in read_logs(spark, out).collect()) == [
        "g0", "g1", "g2"]
    assert _dead_lines(spark, dl) == [poison]
    assert m.input_records_total == 4 and m.batch_sizes == [3.0]


def _python_execs_since(spark, last_id: int) -> list[int]:
    """Ids of the SQL executions after ``last_id`` whose Python exec sent
    data to Python workers (a cached Python exec that is only read back
    shows in the plan but sends nothing)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    recent = store.executionsList(max(0, n - 200), 200)
    out = []
    for i in range(recent.size()):
        eid = recent.apply(i).executionId()
        if eid <= last_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            ms = nodes.apply(j).metrics()
            sent = [values.get(ms.apply(k).accumulatorId())
                    for k in range(ms.size())
                    if ms.apply(k).name() == "data sent to Python workers"]
            if any(v.isDefined() and not v.get().startswith("0.0 B")
                   for v in sent):
                out.append(eid)
                break
    return out


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    if n == 0:
        return -1
    return int(store.executionsList(n - 1, 1).apply(0).executionId())


def test_json_batch_runs_one_python_pass(spark, tmp_path, monkeypatch):
    """Decode, dead-letter split and both metric counts share one Python
    exec over the input: the reject lines leave the decode pass itself
    and the counts ride the sink's job as Observations."""
    from klogs_spark.metrics import IngestMetrics

    good = [json.dumps({"ts": i, "record": {"log": f"g{i}"}})
            for i in range(10)]
    src = _write_lines(tmp_path / "raw", good + ["NOT JSON"])
    m = IngestMetrics()
    last = _last_execution_id(spark)
    df_cls = type(spark.range(1))
    count = df_cls.count
    counted = []

    def spy(self):
        counted.append(self)
        return count(self)

    # a count() would mean an Observation did not fire; the one from the
    # cached frame would send nothing to Python and go unseen below
    monkeypatch.setattr(df_cls, "count", spy)
    run_ingest_once(read_json_lines_stream(spark, src), str(tmp_path / "logs"),
                    checkpoint_dir=str(tmp_path / "ckpt"),
                    dead_letter_dir=str(tmp_path / "dead"), metrics=m)
    monkeypatch.undo()
    assert counted == []
    assert len(_python_execs_since(spark, last)) == 1
    assert m.input_records_total == 11 and m.batch_sizes == [10.0]
    assert _dead_lines(spark, str(tmp_path / "dead")) == ["NOT JSON"]


def test_metrics_without_sink_action_do_not_hang(spark, tmp_path):
    """A sink that runs no Spark action never fires the batch's
    Observations; the counts then come from count() instead of waiting
    forever, and the raw lines are still counted."""
    import threading

    from klogs_spark.metrics import IngestMetrics

    src = _write_lines(tmp_path / "raw", [
        json.dumps({"ts": 1, "record": {"log": "a"}}), "NOT JSON",
        json.dumps({"ts": 2, "record": {"log": "b"}})])
    m = IngestMetrics()
    errors = []

    def drain():
        try:
            run_ingest_once(read_json_lines_stream(spark, src),
                            lambda batch_df, batch_id: None,
                            checkpoint_dir=str(tmp_path / "ckpt"), metrics=m)
        except Exception as e:  # surfaced below
            errors.append(e)

    t = threading.Thread(target=drain, daemon=True)
    t.start()
    t.join(180)
    assert not t.is_alive(), "ingest with metrics hung on a no-action sink"
    assert not errors
    assert m.input_records_total == 3
    assert m.batch_sizes == [2.0]


def _write_files(d: Path, files: list[list[str]]) -> str:
    d.mkdir()
    for i, lines in enumerate(files):
        (d / f"part-{i}.json").write_text("\n".join(lines) + "\n")
    return str(d)


def test_metrics_exact_for_sink_that_probes_isempty_first(spark, tmp_path):
    """upsert_logs_sink starts with isEmpty(), a partial read that would
    complete an Observation with the first partitions' counts. Over a
    several-partition batch the counts must still be exact."""
    from klogs_spark.manifest import publish_snapshot, read_logs_at
    from klogs_spark.metrics import IngestMetrics
    from klogs_spark.streaming_ext import upsert_logs_sink

    path = str(tmp_path / "t")
    seed = _write_files(tmp_path / "seed", [[json.dumps(EVENTS[0])]])
    run_ingest_once(read_json_lines_stream(spark, seed), path,
                    checkpoint_dir=str(tmp_path / "ckpt0"))
    publish_snapshot(spark, path)
    files = [[json.dumps(ev) for ev in EVENTS[i * 5:(i + 1) * 5]]
             for i in range(4)]
    files[2].append("NOT JSON")
    src = _write_files(tmp_path / "raw", files)
    m = IngestMetrics()
    run_ingest_once(read_json_lines_stream(spark, src),
                    upsert_logs_sink(path, key_cols=["timestamp"]),
                    checkpoint_dir=str(tmp_path / "ckpt1"), metrics=m)
    assert m.input_records_total == 21
    assert m.batch_sizes == [20.0]
    assert read_logs_at(spark, path).count() == 20


def test_clickhouse_sink_metrics_decode_msgpack_once(spark, tmp_path):
    """ClickHouseSink writes through foreachPartition on the RDD, which
    fires no Observation. With metrics on the batch is still decoded
    once: the counts read the caches, and no count sends rows to
    Python."""
    from klogs_spark.metrics import IngestMetrics
    from klogs_spark.msgpack_lite import pack
    from klogs_spark.sink_clickhouse import ClickHouseSink
    from klogs_spark.stream import read_msgpack_chunk_stream

    spool = tmp_path / "spool"
    spool.mkdir()
    spool_dir = str(spool)

    def factory():
        import os
        import uuid

        class Cursor:
            def __init__(self, rows):
                self.rows = rows

            def executemany(self, sql, rows):
                self.rows.extend(rows)

        class Connection:
            def __init__(self):
                self.rows = []

            def cursor(self):
                return Cursor(self.rows)

            def commit(self):
                name = os.path.join(spool_dir, uuid.uuid4().hex)
                with open(name, "w") as f:
                    f.write(str(len(self.rows)))
                self.rows = []

            def rollback(self):
                self.rows = []

            def close(self):
                pass

        return Connection()

    d = tmp_path / "chunks"
    d.mkdir()
    for c in range(3):
        (d / f"chunk-{c}.msgpack").write_bytes(b"".join(
            pack([1755043200 + c * 10 + i, {"log": f"l{c}-{i}"}])
            for i in range(4)))
    m = IngestMetrics()
    last = _last_execution_id(spark)
    run_ingest_once(read_msgpack_chunk_stream(spark, str(d)),
                    ClickHouseSink(EngineConfig(), factory),
                    checkpoint_dir=str(tmp_path / "ckpt"),
                    input_format="msgpack", metrics=m)
    assert _python_execs_since(spark, last) == []
    assert sum(int(p.read_text()) for p in spool.iterdir()) == 12
    assert m.input_records_total == 3  # chunks: raw rows of the batch
    assert m.batch_sizes == [12.0]


@pytest.mark.parametrize("dead_letter, from_cache", [
    (True, False), (False, True), (True, True)])
def test_no_cache_leak_when_sink_fails_after_reading(
        spark, raw_dir, tmp_path, dead_letter, from_cache):
    """The frames a batch persists (the decode output for dead-letter, the
    raw and decoded frames for a counts_from_cache sink) are released
    when the sink fails after its read materialized them."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from klogs_spark.metrics import IngestMetrics

    def fail_after_read(batch_df, batch_id):
        batch_df.count()
        raise RuntimeError("injected sink failure")

    if from_cache:
        fail_after_read.counts_from_cache = True
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    m = IngestMetrics()
    with pytest.raises(StreamingQueryException):
        run_ingest_once(
            read_json_lines_stream(spark, raw_dir), fail_after_read,
            checkpoint_dir=str(tmp_path / "ckpt"), metrics=m,
            dead_letter_dir=str(tmp_path / "dead") if dead_letter else None)
    assert m.errors_total == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
