"""Structured Streaming ingest — the engine's FLBPluginFlushCtx equivalent.

Reference hot path (main.go:237-377): msgpack chunk -> per-record decode ->
buffer -> size-or-time flush -> batched INSERT. Spark mapping (SURVEY §3.2):

    readStream (json-lines files / any streaming source)        <- S1/S7
      -> foreachBatch:
           decode_dataframe (flatten+dispatch, Arrow batches)   <- P1,P2,S2
             rejects leave the same pass, nothing is persisted
           sink.write(batch)                                    <- S3
             ingest metrics and the reject lines ride the sink's
             job as Observations; the driver then writes the
             lines to the dead-letter dir as one file per batch
      trigger(processingTime=flush_interval)                    <- T1
      checkpointLocation=...                                    <- T2/T4

A msgpack batch (``input_format="msgpack"``) goes through
``decode_msgpack_dataframe`` instead. Handed to ``ClickHouseSink`` as
decoded (no metrics, so nothing observes or persists it), it is decoded
inside the sink's own ``foreachPartition``: each event becomes its INSERT
tuple in the Python worker that unpacked it, the reference's one loop
(main.go:237-377), in one Spark job per batch. With metrics on, the
decoded frame is persisted or observed for the counts, and the sink reads
it as Rows.

Delivery semantics: at-least-once, same as the reference (flush failure ->
FLB_ERROR -> Fluent Bit redelivers the chunk, main.go:364-369). Structured
Streaming's checkpoint replays an uncommitted micro-batch after failure; the
parquet sink appends (duplicates possible on replay, exactly like the
reference), while a transactional sink could consume ``batch_id`` for
idempotence.

Trigger duality (T1): the reference flushes on size OR time
(main.go:357-361). The time half is the processing-time trigger
(flush_interval); the size half is exact in the sink — ClickHouseSink's
per-partition buffer force-flushes every ``batch_size`` rows, so no INSERT
exceeds the cap and the interval only ever flushes a sub-batch_size
remainder (sink_clickhouse.ClickHouseSink.write_batch). Source rate caps
(maxFilesPerTrigger / maxOffsetsPerTrigger) additionally bound micro-batch
size at the source.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .config import EngineConfig
from .decode import (
    REJECT, REJECT_ATTEMPT, REJECT_PARTITION, REJECT_SPILLED, decode_dataframe,
)
from .table import write_logs


def read_json_lines_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S7: file-source stream of raw JSON-lines events (one event per
    line). ``maxFilesPerTrigger`` is the size-half of the reference's
    size-or-time flush policy."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_msgpack_chunk_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    glob: str = "*.msgpack",
) -> DataFrame:
    """S1 true-to-reference variant: Fluent Bit msgpack chunk files.

    The reference's real input is a msgpack chunk per flush
    (main.go:238-247), not JSON lines; ``binaryFile`` streams each chunk
    whole as a ``content`` blob, and ``decode.decode_msgpack_dataframe``
    (pure-Python msgpack_lite, incl. FLBTime ext) replaces the JSON decode.
    Pass the result to :func:`start_ingest`/:func:`run_ingest_once` with
    ``input_format="msgpack"``.
    """
    reader = (
        spark.readStream.format("binaryFile")
        # binaryFile's schema is fixed, but the streaming source still
        # requires it to be declared explicitly
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).select("content")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1 alternative: Kafka source of raw JSON events (value = one event).

    ``maxOffsetsPerTrigger`` is the Batch_Size half of the reference's
    size-or-time flush duality (main.go:357-361) — it caps each micro-batch
    like the 10k-row buffer cap. Requires the spark-sql-kafka package on the
    classpath; not exercised in this repo's tests (no broker in the
    environment) — the decode/sink pipeline downstream is source-agnostic.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    from pyspark.sql import functions as F

    return reader.load().select(
        F.col("value").cast("string").alias("value")
    )


def start_ingest(
    raw_stream: DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    config: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
    query_name: str = "klogs-ingest",
    dead_letter_dir: str | None = None,
    metrics: "IngestMetrics | None" = None,
    input_format: str = "json",
) -> StreamingQuery:
    """Wire decode -> sink inside foreachBatch and start the query.

    ``sink`` is either a path (parquet logs table via table.write_logs) or a
    callable ``(decoded_batch_df, batch_id) -> None`` (e.g.
    sink_clickhouse.ClickHouseSink.write_batch).

    The trigger honors the reference's Flush_Interval default (60 s,
    main.go:38) via config.flush_interval_s; checkpointing gives T2
    (final drain — restart resumes the uncommitted batch) and T4
    (at-least-once redelivery). ``dead_letter_dir`` quarantines undecodable
    lines for replay instead of dropping them.

    A callable sink whose first Dataset action reads only part of its
    batch (``isEmpty()``, ``limit``) must set a true ``counts_from_cache``
    attribute: the metrics and the dead-letter lines are collected on that
    action, and without the attribute the rejects of the unread part are
    not written (:func:`_make_batch_processor`).
    """
    cfg = config or EngineConfig()
    ckpt = checkpoint_dir or cfg.checkpoint_dir
    if not ckpt:
        raise ValueError("checkpoint_dir is required (T2/T4 delivery semantics)")

    sink_fn = _resolve_sink(sink)
    process_batch = _make_batch_processor(
        cfg, sink_fn, dead_letter_dir, metrics, input_format
    )

    return (
        raw_stream.writeStream.queryName(query_name)
        .foreachBatch(process_batch)
        .trigger(processingTime=f"{cfg.flush_interval_s} seconds")
        .option("checkpointLocation", ckpt)
        .start()
    )


def exactly_once_sink(path: str) -> Callable[[DataFrame, int], None]:
    """Idempotent parquet sink: exactly-once table contents across replays.

    The reference is at-least-once (redelivered chunks insert twice,
    main.go:364-369). Structured Streaming hands foreachBatch a stable
    ``batch_id`` per epoch; the publication protocol makes any replay
    converge to exactly one copy, with NO duplication window:

    1. marker exists -> batch fully published on an earlier attempt; no-op.
    2. purge ``b<id>-*`` files from the table — leftovers of a previous
       attempt that crashed mid-publish (batch-id-prefixed names make the
       partial attempt identifiable without a manifest).
    3. write the batch to ``<path>/_staging/batch-<id>`` (overwrite: a
       crashed STAGING attempt is simply rewritten).
    4. publish: rename each staged file into its day partition under the
       ``b<id>-`` prefix, then create the marker under ``<path>/_commits/``.

    A crash after step 4's renames but before the marker re-runs 2-4 — the
    purge removes exactly what the dead attempt published. All paths go
    through the Hadoop FileSystem API (object-store-safe; on S3A the rename
    is a server-side copy). Readers never see a duplicate row; they can see
    a batch's rows appear slightly before its marker — same visibility as
    any non-transactional parquet append. ``_staging``/``_commits`` start
    with ``_`` so Spark's partition discovery ignores them.

    Hadoop ``FileSystem.rename/delete/mkdirs`` report failure by returning
    **false**, not raising (the classic S3A copy-rename hazard). Every
    boolean here is checked and failure raises, so the micro-batch fails
    and Structured Streaming replays it — a silently dropped staged file
    can never be committed under the marker.
    """
    from .manifest import _must
    from .table import _hadoop_fs, _write_in_layout, read_layout

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fs, hpath_cls, root = _hadoop_fs(spark, path)
        marker = hpath_cls(root, f"_commits/batch-{batch_id}")
        if fs.exists(marker):
            return  # replayed epoch: already fully published
        prefix = f"b{batch_id}-"
        if fs.exists(root):  # purge a crashed attempt's partial publication
            for part in fs.listStatus(root):
                if not (part.isDirectory()
                        and part.getPath().getName().startswith("date=")):
                    continue
                for f in fs.listStatus(part.getPath()):
                    if f.getPath().getName().startswith(prefix):
                        _must(fs.delete(f.getPath(), False),
                              "exactly_once_sink purge-delete", f.getPath())
        staging = hpath_cls(root, f"_staging/batch-{batch_id}")
        # staged in the table's own layout, so the published files are
        # the ones write_logs would have appended; staging gets no marker
        _write_in_layout(batch, f"{path}/_staging/batch-{batch_id}",
                         read_layout(spark, path), "overwrite")
        for part in fs.listStatus(staging):
            if not (part.isDirectory()
                    and part.getPath().getName().startswith("date=")):
                continue
            target_dir = hpath_cls(root, part.getPath().getName())
            _must(fs.mkdirs(target_dir), "exactly_once_sink mkdirs",
                  target_dir)
            for f in fs.listStatus(part.getPath()):
                name = f.getPath().getName()
                if name.endswith(".parquet"):
                    _must(fs.rename(f.getPath(),
                                    hpath_cls(target_dir, prefix + name)),
                          "exactly_once_sink publish-rename", f.getPath())
        # create makes the missing _commits directory and raises on failure
        fs.create(marker, True).close()
        # staging cleanup is best-effort: the marker is already durable, so a
        # false here must NOT fail (and replay) an already-published batch —
        # leftover staging files are overwritten by any later attempt.
        fs.delete(staging, True)

    return sink_fn


def _resolve_sink(
    sink: Callable[[DataFrame, int], None] | str,
) -> Callable[[DataFrame, int], None]:
    if isinstance(sink, str):
        sink_path = sink

        def sink_fn(batch: DataFrame, batch_id: int) -> None:
            write_logs(batch, sink_path, mode="append")

        return sink_fn
    return sink


def _observed(obs, spark: SparkSession) -> dict | None:
    """What ``obs`` observed, or None when no Dataset action over its
    frame ran (a sink that takes no action, such as a replayed batch that
    is already published). Observations complete on the listener bus
    after the action returns; once the bus is drained an incomplete one
    will not complete, so ``get`` never blocks. A bus that does not drain
    within its 10 s bound also answers None."""
    from py4j.protocol import Py4JError

    if obs is None:
        return None
    done = obs._jo.future().isCompleted
    if not done():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # TimeoutException
            pass
    return obs.get if done() else None


def _observed_rows(obs, df: DataFrame) -> int:
    """The row count ``obs`` observed on ``df``, or ``df.count()`` when it
    observed nothing."""
    seen = _observed(obs, df.sparkSession)
    return int(seen["n"]) if seen is not None else df.count()


def _write_dead_letters(dead: DataFrame, path: str, batch_id: int,
                        seen: dict | None) -> None:
    """Append a batch's reject lines to the dead-letter directory ``path``.

    ``seen`` is what the batch's Observation collected on the sink's job:
    each reject line with the partition and the task attempt that decoded
    it. A stage retry can re-run a finished decode task, and the
    Observation then merges both attempts' lines; every attempt of a
    partition decodes the same input rows, so the lines of one attempt
    per partition are the batch's lines exactly once. When ``seen`` holds
    every reject line, the driver writes them as one ``part-`` text file:
    to a dot-prefixed temporary name first, then a checked rename, so no
    reader sees a partial ``part-`` file. A batch without rejects writes
    no file, but the directory exists after every batch. When the
    Observation did not complete, or some line came past its task's
    budget, the lines are written from ``dead`` by a Spark text write
    instead."""
    if seen is None or seen["spilled"]:
        dead.write.mode("append").text(path)
        return
    import uuid

    from .manifest import _must
    from .table import _hadoop_fs, _write_in_layout, read_layout

    fs, hpath_cls, root = _hadoop_fs(dead.sparkSession, path)
    _must(fs.mkdirs(root), "dead-letter mkdirs", root)
    first: dict[int, int] = {}  # partition -> the attempt whose lines count
    for r in seen["dead"]:
        first[r.p] = min(r.a, first.get(r.p, r.a))
    lines = [r.line for r in seen["dead"] if r.a == first[r.p]]
    if not lines:
        return
    name = f"part-{batch_id:05d}-{uuid.uuid4()}.txt"
    tmp, final = hpath_cls(root, f".{name}.tmp"), hpath_cls(root, name)
    try:
        out = fs.create(tmp, False)
        try:
            out.write("".join(line + "\n" for line in lines)
                      .encode("utf-8", "replace"))
        finally:
            out.close()
        _must(fs.rename(tmp, final), "dead-letter rename", final)
    except Exception:
        fs.delete(tmp, False)
        raise


def _make_batch_processor(
    cfg: EngineConfig,
    sink_fn: Callable[[DataFrame, int], None],
    dead_letter_dir: str | None,
    metrics: "IngestMetrics | None" = None,
    input_format: str = "json",
) -> Callable[[DataFrame, int], None]:
    """decode -> sink, with undecodable lines quarantined as text.

    The reference only warns-and-drops bad records (main.go:251-254); a
    dead-letter directory makes them replayable instead — each micro-batch
    appends its reject lines so nothing is silently lost.

    A JSON batch is parsed once and nothing is persisted: the decode pass
    emits each rejected line in a nullable reject column, and the sink
    gets the rows whose reject column is null, without the column. One
    Observation on the decode output rides the sink's own job: it counts
    the decoded rows and collects the reject lines, which the driver then
    writes to the dead-letter directory (:func:`_write_dead_letters`). The
    decode flags the reject lines past a per-task byte budget
    (``decode.OBSERVED_REJECT_BYTES``); a batch with a flagged line, or
    whose Observation did not complete, writes its rejects with a Spark
    text write over the batch instead, which decodes it again.

    ``metrics`` hooks the flush path inline, exactly where the reference
    instruments (main.go:246, 371-373) — ``input_records_total`` counts the
    RAW received lines before decode (reference semantics: rejects/blanks
    are received records too), ``batch_size`` summarizes the decoded rows
    actually flushed, and ``flush_time_seconds`` times decode+sink. Both
    counts are Observations on the sink's own job (raw lines below the
    decode, decoded rows above it), so they add no Spark job. The first
    Dataset action over the batch completes them, which is exact when that
    action reads the whole batch. The dead-letter lines ride the same
    Observation, so a sink whose first action reads only part of its batch
    would leave the rejects of the unread part unwritten. A sink for which
    that does not hold MUST set a true ``counts_from_cache`` attribute: one
    whose first action reads only part of its batch (an ``isEmpty()`` or
    ``limit`` early return), or one that leaves the Dataset API
    (``foreachPartition`` runs on the RDD and fires no Observation). For
    such a sink, and under ``spark.speculation``
    (where Observations double-count), no Observation is used: the raw
    and decoded frames are persisted, both counts read the caches after
    the sink, and the dead-letter lines are written from the cache, so
    the batch is still decoded once. (A StreamingQueryListener would need
    the py4j callback server, which headless drivers may not run.)

    ``input_format``: "json" (one JSON event per ``value`` line) or
    "msgpack" (one Fluent Bit chunk per ``content`` blob, the reference's
    true wire shape). The dead-letter channel is line-granular and only
    meaningful for json; msgpack chunk failures are warn-and-drop like the
    reference (main.go:251-254). Note the raw input count is per DataFrame
    row, i.e. per CHUNK for msgpack (the reference counts per record,
    main.go:246) — batch_size still reports decoded records.
    """
    if input_format not in ("json", "msgpack"):
        raise ValueError(f"unknown input_format: {input_format!r}")
    if input_format == "msgpack" and dead_letter_dir:
        raise ValueError("dead_letter_dir is json-only (msgpack chunks are "
                         "warn-and-drop, reference main.go:251-254)")

    # set on a sink function, or on the object behind a callable instance
    # or bound method (ClickHouseSink)
    counts_from_cache = getattr(
        getattr(sink_fn, "__self__", sink_fn), "counts_from_cache", False)
    observe = metrics is not None or bool(dead_letter_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import time as _time

        from pyspark.sql import functions as F

        from .decode import decode_msgpack_dataframe
        from .manifest import _retry_safe_observation

        t0 = _time.perf_counter()
        spark = batch_df.sparkSession
        raw_obs = rows_obs = None
        if observe and not counts_from_cache:
            try:
                rows_obs = _retry_safe_observation(spark)
            except ValueError:  # spark.speculation
                pass
            else:
                if metrics is not None:
                    raw_obs = _retry_safe_observation(spark)
        from_cache = observe and rows_obs is None
        persisted: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            persisted.append(df.persist())
            return persisted[-1]

        raw = batch_df
        if from_cache and metrics is not None:
            raw = cache(raw)
        if raw_obs is not None:
            raw = raw.observe(raw_obs, F.count(F.lit(1)).alias("n"))
        dead = None
        if input_format == "msgpack":
            decoded = decode_msgpack_dataframe(raw, cfg)
            if from_cache:
                decoded = cache(decoded)
            if rows_obs is not None:
                decoded = decoded.observe(
                    rows_obs, F.count(F.lit(1)).alias("n"))
        else:
            split = decode_dataframe(raw, cfg, rejects=True)
            if from_cache:
                split = cache(split)
            if rows_obs is not None:
                aggs = [F.count(F.when(F.col(REJECT).isNull(), 1))
                        .alias("n")]
                if dead_letter_dir:
                    observable = (F.col(REJECT).isNotNull()
                                  & ~F.col(REJECT_SPILLED))
                    aggs += [
                        F.collect_list(F.when(observable, F.struct(
                            F.col(REJECT_PARTITION).alias("p"),
                            F.col(REJECT_ATTEMPT).alias("a"),
                            F.col(REJECT).alias("line"),
                        ))).alias("dead"),
                        F.count(F.when(F.col(REJECT_SPILLED), 1))
                        .alias("spilled"),
                    ]
                split = split.observe(rows_obs, *aggs)
            decoded = split.filter(F.col(REJECT).isNull()).drop(
                REJECT, REJECT_SPILLED, REJECT_PARTITION, REJECT_ATTEMPT)
            if dead_letter_dir:
                dead = split.filter(F.col(REJECT).isNotNull()).select(
                    F.col(REJECT).alias("value"))
        try:
            try:
                sink_fn(decoded, batch_id)
            except Exception:
                if metrics is not None:
                    metrics.observe_error()
                raise
            elapsed = _time.perf_counter() - t0
            if dead is not None:
                _write_dead_letters(dead, dead_letter_dir, batch_id,
                                    _observed(rows_obs, spark))
            if metrics is not None:
                metrics.observe_batch(
                    _observed_rows(raw_obs, batch_df), elapsed,
                    decoded_rows=_observed_rows(rows_obs, decoded),
                )
        finally:
            # unpersist even when the sink raises — a long-running stream
            # must not leak one cached DataFrame per failed micro-batch
            for df in persisted:
                df.unpersist()

    return process_batch


def run_ingest_once(
    raw_stream: DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    config: EngineConfig | None = None,
    checkpoint_dir: str | None = None,
    dead_letter_dir: str | None = None,
    metrics: "IngestMetrics | None" = None,
    input_format: str = "json",
) -> None:
    """Drain everything currently available, then stop (availableNow).

    The batch-mode twin of :func:`start_ingest`, with the same contract
    for callable sinks (a partial first action needs
    ``counts_from_cache``); also the shutdown-drain path — the
    reference's FLBPluginExitCtx final BufferWrite (main.go:386-396) is
    this plus checkpoint bookkeeping.
    """
    cfg = config or EngineConfig()
    ckpt = checkpoint_dir or cfg.checkpoint_dir
    if not ckpt:
        raise ValueError("checkpoint_dir is required")

    process_batch = _make_batch_processor(
        cfg, _resolve_sink(sink), dead_letter_dir, metrics, input_format
    )
    q = (
        raw_stream.writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
