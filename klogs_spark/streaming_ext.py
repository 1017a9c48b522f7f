"""EXT streaming operators — windowed/session aggregations and custom state.

The reference has NO event-time windowing or watermarks (SURVEY §1.4, §2.10
T5: order/lateness handled only by storing event-time and sorting at rest) —
these are driver-mandated extensions, built on Structured Streaming's native
stateful operators:

- tumbling/sliding window counts with watermark-bounded state
- session windows (native ``session_window``)
- a custom stateful operator (per-key running anomaly counter) via
  ``applyInPandasWithState`` — the pattern slot for operators Spark lacks

All functions accept either a streaming or batch DataFrame (Spark's unified
semantics); tests exercise both plus watermark-driven late-data drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def windowed_counts(
    logs: DataFrame,
    bucket: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    dims: tuple[str, ...] = ("namespace",),
) -> DataFrame:
    """Tumbling (or sliding) event-time counts per dimension.

    Watermark bounds state: buckets older than max(event_time) - watermark
    finalize and evict — state size is O(dims x active windows) regardless of
    stream length. Returns (window_start, window_end, *dims, cnt).
    """
    ts = F.col("timestamp")
    df = logs.withWatermark("timestamp", watermark) if logs.isStreaming else logs
    win = F.window(ts, bucket, slide) if slide else F.window(ts, bucket)
    return (
        df.groupBy(win.alias("w"), *dims)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *dims,
            "cnt",
        )
    )


def session_counts(
    logs: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key: str = "pod_name",
) -> DataFrame:
    """Session windows per key: a session closes after ``gap`` of silence.

    Native ``session_window`` — state merges adjacent events server-side, the
    watermark finalizes sessions; this is the streaming twin of the batch
    gap-sessionization in queries/tpch.py (events_sessionize).
    """
    df = logs.withWatermark("timestamp", watermark) if logs.isStreaming else logs
    return (
        df.groupBy(F.session_window(F.col("timestamp"), gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
        )
    )


def dedup_events(
    logs: DataFrame,
    keys: tuple[str, ...] = ("timestamp", "pod_name", "log"),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication — the replay-dedupe extension noted in SURVEY
    §2.10 T4 (the reference is at-least-once and stores duplicates).

    ``dropDuplicates`` keyed on event identity with watermark-bounded state:
    a redelivered record inside the watermark horizon is dropped; state for
    horizons past the watermark is evicted, so memory is bounded by the
    duplicate window, not the stream length. Works identically in batch mode
    (plain distinct-on-keys).
    """
    df = logs.withWatermark("timestamp", watermark) if logs.isStreaming else logs
    return df.dropDuplicates(list(keys))


ANOMALY_STATE_SCHEMA = StructType(
    [StructField("error_run", LongType(), False)]
)
ANOMALY_OUTPUT_SCHEMA = StructType(
    [
        StructField("namespace", StringType(), True),
        StructField("timestamp", TimestampType(), True),
        StructField("error_run", LongType(), True),
    ]
)


def error_run_tracker(logs: DataFrame, threshold: int = 3) -> DataFrame:
    """Custom stateful operator: per-namespace running count of consecutive
    error-level records; emits a row whenever the run reaches ``threshold``.

    Demonstrates the ``applyInPandasWithState`` pattern (SURVEY §2.10 T5) for
    semantics no built-in operator has — per-key ordered state machines. In
    batch mode falls back to an equivalent window-function computation.
    """
    level = F.element_at(F.col("fields_string"), "level")

    if not logs.isStreaming:
        from pyspark.sql.window import Window

        w = Window.partitionBy("namespace").orderBy("timestamp")
        is_err = F.when(level == "error", 1).otherwise(0)
        # run length: rows since last non-error, via difference of counters
        grp = (
            F.count(F.lit(1)).over(w)
            - F.sum(is_err).over(w)
        )
        run = F.row_number().over(
            Window.partitionBy("namespace", grp).orderBy("timestamp")
        )
        return (
            logs.withColumn("_is_err", is_err)
            .withColumn("_grp", grp)
            .withColumn("error_run", run)
            .filter((F.col("_is_err") == 1) & (F.col("error_run") >= threshold))
            .select("namespace", "timestamp", "error_run")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (namespace,) = key
        run = state.get[0] if state.exists else 0
        out_ns, out_ts, out_run = [], [], []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("timestamp")
            levels = pdf["fields_string"].map(
                lambda m: (m or {}).get("level")
            )
            for ts, lv in zip(pdf["timestamp"], levels):
                run = run + 1 if lv == "error" else 0
                if run >= threshold:
                    out_ns.append(namespace)
                    out_ts.append(ts)
                    out_run.append(run)
        state.update((run,))
        if out_ns:
            yield pd.DataFrame(
                {"namespace": out_ns, "timestamp": out_ts, "error_run": out_run}
            )

    return (
        logs.select("namespace", "timestamp", "fields_string")
        .groupBy("namespace")
        .applyInPandasWithState(
            track,
            outputStructType=ANOMALY_OUTPUT_SCHEMA,
            stateStructType=ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def upsert_logs_sink(path: str, key_cols: list[str]):
    """Streaming UPSERT sink — the canonical Delta ``foreachBatch + MERGE``
    pattern on the engine's native COW table: each micro-batch merges into
    ``path`` via :func:`klogs_spark.manifest.cow_merge_upsert` (matched
    keys replace, new keys insert, touched days rewritten as NEW files
    under the journaled crash protocol, manifest published per batch).
    Because batches apply sequentially, a key updated in several batches
    ends at its LAST version (last-writer-wins across batches — the
    streaming-CDC-apply semantics); pinned readers keep their snapshot
    and :func:`snapshot_changes` yields per-batch merge feeds.

    At-least-once like the data path: a replayed batch re-merges the same
    keys to the same values (idempotent by construction when the batch is
    deterministic). Cost per batch = the touched days' data, never the
    table."""
    from .manifest import cow_merge_upsert

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cow_merge_upsert(batch.sparkSession, path, batch, key_cols)

    # the isEmpty() probe is a partial read of the batch: ingest metrics
    # count it from a cache (stream._make_batch_processor)
    sink_fn.counts_from_cache = True
    return sink_fn


def decontaminating_docs_sink(
    table_dir: str,
    probes: DataFrame,
    quarantine_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Ingest-time benchmark decontamination — the gate that keeps
    eval-set fragments from ever ENTERING the training store, instead of
    scrubbing them later (the batch forms are
    ext.text.contamination_check / ext.dedup.contamination_ngram_join;
    this is their streaming composition, shaped like
    expectations.validated_logs_sink one level up).

    Each micro-batch is scanned once against the broadcast probe set;
    documents containing any probe substring append to the QUARANTINE
    store (auditable — deletion would hide the contamination signal),
    clean documents append to the table. At-least-once like every
    foreachBatch sink here: a replayed batch re-routes the same rows to
    the same stores. Cost per batch = one codegen'd substring pass over
    the batch; the probe set rides along as a broadcast."""
    from .ext.text import contamination_check

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # two destinations, ONE scan: the clean and quarantine writes are
        # separate actions, so without a persist each would recompute the
        # batch source AND the probe pass
        batch = batch.persist()
        hits = (
            contamination_check(batch, probes, text_col, id_col)
            .select("doc_id")
            .distinct()
            .withColumnRenamed("doc_id", "_hit_id")
        ).persist()
        try:
            cond = batch[id_col] == F.col("_hit_id")
            batch.join(hits, cond, "left_anti").write.mode(
                "append"
            ).parquet(table_dir)
            batch.join(hits, cond, "left_semi").write.mode(
                "append"
            ).parquet(quarantine_dir)
        finally:
            # blocking: no async-unpersist churn leaks past the batch
            hits.unpersist(True)
            batch.unpersist(True)

    # the isEmpty() probe is a partial read of the batch: ingest metrics
    # count it from a cache (stream._make_batch_processor)
    sink_fn.counts_from_cache = True
    return sink_fn


def warc_decode_sink(store_dir: str):
    """foreachBatch sink for a BINARY web-archive stream: each
    micro-batch's ``.warc.gz`` payloads are parsed by the real record
    reader (warc_lite.iter_warc_records + split_http_payload) inside an
    Arrow-batched mapInPandas, and the per-record rows are appended —
    the streaming form of the WARC ingest pass, so crawl archives are
    decoded AS THEY ARRIVE instead of by a nightly batch scan. One write
    action per batch; with availableNow + checkpointing each archive
    decodes exactly once."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        def decode(batches):
            import pandas as pd

            # absolute import: this closure executes inside Arrow worker
            # processes, where a relative import has no package context
            from klogs_spark.warc_lite import decode_response_rows

            for pdf in batches:
                out = {"doc_id": [], "source": [], "text": [],
                       "payload_len": []}
                for blob in pdf["payload"]:
                    for row in decode_response_rows(bytes(blob)):
                        host = row["uri"].split("//", 1)[1].split("/", 1)[0]
                        out["doc_id"].append(
                            int(row["uri"].rsplit("/", 1)[1])
                        )
                        out["source"].append(host.split(".", 1)[0])
                        out["text"].append(row["body"].decode("utf-8"))
                        out["payload_len"].append(row["content_length"])
                yield pd.DataFrame(out)

        batch_df.mapInPandas(
            decode,
            "doc_id long, source string, text string, payload_len long",
        ).write.mode("append").parquet(store_dir)

    return _sink


def media_frame_stats_sink(stats_dir: str):
    """foreachBatch sink for a BINARY media stream: run the real
    demux+decode kernel (ext.multimodal.video_frame_pixel_stats) over
    each micro-batch's payloads and append the per-frame stats — the
    streaming form of the multimodal decode pass, so frame features are
    extracted AS ASSETS ARRIVE instead of by a nightly batch scan.
    One write action per batch (nothing recomputes); with availableNow +
    checkpointing each batch's payloads decode exactly once."""
    from .ext import multimodal as mm

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        mm.video_frame_pixel_stats(batch_df).write.mode("append").parquet(
            stats_dir
        )

    return _sink


def cdc_rollup_sink(path: str, rollup_path: str):
    """foreachBatch sink: append the micro-batch to the MANIFEST-governed
    logs table (publish per batch) and advance the incremental rollup
    (:func:`klogs_spark.table.incremental_rollup`) from the change feed
    — the streaming-CDF consumer loop. Against
    :func:`klogs_spark.table.rollup_logs_sink` (which recomputes every
    TOUCHED DAY from the table), the per-batch maintenance bill here is
    O(the batch's net churn) regardless of how much history the touched
    days hold — the difference between re-aggregating a hot day's 1 TB
    and diffing a 10 MB batch at 100 TB.

    At-least-once composition: a REPLAYED batch re-appends rows
    (at-least-once append, the same contract as rollup_logs_sink) and
    the rollup follows the table's published state either way — the
    rollup never drifts from the table because its input is the
    manifest diff, not the batch."""
    from .manifest import publish_snapshot
    from .table import incremental_rollup, write_logs

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        write_logs(batch, path, mode="append")
        publish_snapshot(spark=batch.sparkSession, path=path)
        # stable owner identity: foreachBatch batches are serial, so a
        # live lock with this owner can only be a dead predecessor's
        # (a crashed driver must not wedge every replayed batch behind
        # a manual release_rollup_lock — review r19)
        incremental_rollup(
            batch.sparkSession, path, rollup_path,
            owner=f"cdc_rollup_sink:{path}",
        )

    # the isEmpty() probe is a partial read of the batch: ingest metrics
    # count it from a cache (stream._make_batch_processor)
    sink_fn.counts_from_cache = True
    return sink_fn


def gdpr_delete_sink(path: str, key_col: str = "pod_name"):
    """Streaming right-to-be-forgotten propagation — deletion REQUESTS
    arrive as a stream and each micro-batch applies them to the table as
    ONE merge-on-read delete (:func:`klogs_spark.manifest.mor_delete_where`):
    the batch's keys collect driver-side (bounded by the batch's request
    count, never table data) and fold into a single vector delete, so a
    batch of GDPR requests costs one predicate scan plus an
    O(deleted rows) positions write — ZERO data files rewritten, however
    large the files holding the subjects' rows. A later
    :func:`klogs_spark.manifest.dv_compact` / ``maintain`` folds the
    accumulated vector into a physical rewrite on the operator's
    schedule (the erasure deadline), decoupling request latency from
    rewrite cost.

    At-least-once like every foreachBatch sink here: a REPLAYED batch's
    keys match no vector-applied rows, so the delete no-ops without even
    publishing a version — idempotent by construction.

    A NULL request key is a malformed request and raises LOUDLY: isin()
    can never match NULL, so accepting it would silently swallow the
    erasure (the batch would scan and delete nothing) — the one failure
    mode a right-to-be-forgotten pipeline must never have."""
    from .manifest import mor_delete_where

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        keys = [
            r[0] for r in batch.select(key_col).distinct().collect()
        ]  # bounded by the batch's distinct request keys
        if any(k is None for k in keys):
            raise ValueError(
                f"gdpr_delete_sink(batch {batch_id}): NULL {key_col} in "
                "the request batch — a null key matches nothing, so the "
                "erasure would be silently dropped; fix the request "
                "producer"
            )
        mor_delete_where(
            batch.sparkSession, path, F.col(key_col).isin(keys)
        )

    # the isEmpty() probe is a partial read of the batch: ingest metrics
    # count it from a cache (stream._make_batch_processor)
    sink_fn.counts_from_cache = True
    return sink_fn
