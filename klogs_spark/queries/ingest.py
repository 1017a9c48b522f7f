"""Ingest-pipeline parity check — the decode hot path against the oracle.

Builds raw Fluent-Bit-shaped JSON events from the ``events`` table (nested
kubernetes metadata, typed content fields, arrays, bools, dotted keys, nulls),
pushes them through the REAL decode stage (mapInPandas flatten + type dispatch
+ timestamp extraction + envelope routing, klogs_spark.decode), and aggregates
the decoded logs. The DuckDB oracle computes the expected aggregate directly
from ``events`` — equality proves the whole P1-P8 pipeline (SURVEY §2.2)
produces exactly the rows the reference's Go hot path (main.go:240-355) would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..decode import decode_dataframe
from ..manifest import (  # hash_also surfaces: the r21-rewritten verbs
    cow_merge_upsert as _h_cow_merge,
    dv_coalesce as _h_dv_coalesce,
    mor_delete_where as _h_mor_delete,
    mor_update_where as _h_mor_update,
)
from ..transform import field_number, field_string, has_field
from ..views import load_table
from .ext import SQL_MULTIMODAL_VIDEO_MJPEG as _SQL_STREAM_MEDIA_DECODE
from . import QuerySpec
from .logs import LOGS_CTE


def _raw_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> one JSON line per record, F-RAW shape (FIXTURES.md).

    The events table arrives as few large files; repartition the NARROW
    columnar rows to cluster width BEFORE building JSON strings, so the
    to_json CPU runs parallel and the downstream mapInPandas decode reuses
    the same partitioning (decode_dataframe skips its own repartition —
    shuffling slim event columns beats shuffling fat JSON strings).
    Best-of-5 at sf0.1: 1.85s -> 1.29s from this change alone.
    """
    ev = load_table(spark, sf_dir, "events")
    parallelism = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < parallelism:
        ev = ev.repartition(parallelism)
    level = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("event_type") == "signup", "warn")
        .otherwise("info")
    )
    record = F.struct(
        F.lit("prod").alias("cluster"),
        F.struct(
            F.concat(F.lit("ns-"), (F.col("user_id") % 5).cast("string")).alias(
                "namespace_name"
            ),
            F.concat(F.lit("pod-"), (F.col("user_id") % 50).cast("string")).alias(
                "pod_name"
            ),
            F.lit("c").alias("container_name"),
            F.concat(F.lit("node-"), (F.col("user_id") % 8).cast("string")).alias(
                "host"
            ),
            F.struct(F.col("event_type").alias("k8s-app")).alias("labels"),
        ).alias("kubernetes"),
        F.concat(F.lit("type="), F.col("event_type")).alias("log"),
        F.struct(
            level.alias("level"),
            F.col("value").alias("value"),
            F.get_json_object(F.col("props"), "$.k").alias("k"),
            F.array(F.lit("x"), F.lit("y")).alias("tags"),
            (F.col("user_id") % 4 == 0).alias("flag"),
        ).alias("content"),
        F.lit("v").alias("dotted.key"),
    )
    return ev.select(
        F.to_json(
            F.struct(
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
                record.alias("record"),
            )
        ).alias("value")
    )


def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw JSON -> decode_dataframe -> per-app aggregate over decoded rows.

    Exercises: ISO event-time extraction (S2), recursive flatten with nested
    maps + arrays (P1), bool/number/string dispatch (P2), envelope routing
    with k8s-app aliasing (P3), Force_Underscores on a dotted key (P4),
    Force_Number_Fields coercion of the stringly 'k' (P5), null-drop via
    to_json's null omission (P6), map-key projections on the result (P9).
    """
    raw = _raw_json_events(spark, sf_dir)
    cfg = EngineConfig(force_number_fields=["content_k"], force_underscores=True)
    # _raw_json_events already repartitioned to cluster width, so skip the
    # decode-side width probe (a redundant ~0.3 s physical plan per call)
    decoded = decode_dataframe(raw, cfg, ensure_width=False)
    return (
        decoded.groupBy("app")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("timestamp").alias("min_ts"),
            F.max("timestamp").alias("max_ts"),
            F.round(F.sum(field_number("content_value")), 2).alias("sum_value"),
            F.round(F.sum(field_number("content_k")), 2).alias("sum_k"),
            F.sum(
                F.when(field_string("content_level") == "error", 1).otherwise(0)
            ).alias("n_error"),
            F.sum(
                F.when(field_string("content_flag") == "true", 1).otherwise(0)
            ).alias("n_flag"),
            F.sum(
                F.when(field_string("content_tags_1") == "y", 1).otherwise(0)
            ).alias("n_tag1"),
            F.sum(F.when(has_field("fields_string", "dotted_key"), 1).otherwise(0))
            .alias("n_dotted"),
            F.count_distinct(F.col("namespace")).alias("n_namespaces"),
        )
    )


SQL_INGEST_PIPELINE = """
SELECT event_type AS app,
       count(*) AS cnt,
       min(ts) AS min_ts,
       max(ts) AS max_ts,
       round(sum(value), 2) AS sum_value,
       round(sum(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2)
         AS sum_k,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_error,
       CAST(sum(CASE WHEN user_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flag,
       count(*) AS n_tag1,
       count(*) AS n_dotted,
       count(DISTINCT 'ns-' || CAST(user_id % 5 AS VARCHAR)) AS n_namespaces
FROM events
GROUP BY event_type
"""


WM_DAY = "2024-01-10"          # a day with both on-time and late traffic
WM_SPLIT = f"{WM_DAY} 06:00:00"
WM_END = f"{WM_DAY} 12:00:00"
WM_SENTINEL = "2024-01-11 12:00:00"


def _drive_three_batch_stream(spark: SparkSession, sf_dir: str, build_agg,
                              batches_fn=None):
    """Shared watermark test-bench: run ``build_agg(stream_df)`` through a
    REAL Structured Streaming query over three deterministic micro-batches
    (append mode, parquet sink), and return the emitted rows' path.
    ``batches_fn(on_time, late, sentinel) -> [DataFrame, ...]`` overrides the
    default batch composition (used by the dedup query to inject replays).

    1. on-time rows  [06:00, 12:00) of WM_DAY  -> watermark advances to
       max(ts)-10min (~11:46, no boundary ties on this data);
    2. late rows     [00:00, 06:00)            -> ALL below the watermark,
       dropped by the engine — oracles simply exclude them;
    3. a sentinel row a day ahead              -> pushes the watermark past
       every real window/session so append mode finalizes and emits them;
       the sentinel's own state stays open forever and never emits.

    Each drain is an ``availableNow`` run over a file-source directory grown
    by exactly one write, so batch boundaries (and therefore watermark
    advancement) are fully deterministic.
    """
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    logs = ev.select(
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("ns-"), (F.col("user_id") % 5).cast("string")).alias(
            "namespace"
        ),
    )
    on_time = logs.filter(
        (F.col("timestamp") >= WM_SPLIT) & (F.col("timestamp") < WM_END)
    )
    late = logs.filter(
        (F.col("timestamp") >= f"{WM_DAY} 00:00:00")
        & (F.col("timestamp") < WM_SPLIT)
    )
    sentinel = spark.sql(
        f"SELECT TIMESTAMP '{WM_SENTINEL}' AS timestamp, "
        "'zz-sentinel' AS namespace"
    )

    base = tempfile.mkdtemp(prefix="klogs-wm-")
    src, ckpt, outp = f"{base}/src", f"{base}/ckpt", f"{base}/out"

    def drain() -> None:
        stream = spark.readStream.schema(
            "timestamp timestamp, namespace string"
        ).parquet(src)
        q = (
            build_agg(stream).writeStream.outputMode("append")
            .format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batches = (
        batches_fn(on_time, late, sentinel)
        if batches_fn
        else (on_time, late, sentinel)
    )
    for batch in batches:
        batch.coalesce(1).write.mode("append").parquet(src)
        drain()
    return outp


def q_stream_windowed_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 watermark semantics under a REAL Structured Streaming run: 1h
    tumbling-window counts, 10 min watermark, append mode, three
    deterministic batches (see _drive_three_batch_stream). The oracle is the
    plain hourly GROUP BY over the on-time rows only — equality proves
    late-drop, window finalization, and no-sentinel-leak in one hash."""
    from ..streaming_ext import windowed_counts

    outp = _drive_three_batch_stream(
        spark, sf_dir,
        lambda s: windowed_counts(
            s, bucket="1 hour", watermark="10 minutes", dims=("namespace",)
        ),
    )
    return spark.read.parquet(outp).select(
        "window_start", "window_end", "namespace", "cnt"
    )


SQL_STREAM_WINDOWED_WATERMARK = f"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace,
       CAST(count(*) AS BIGINT) AS cnt
FROM events
WHERE ts >= TIMESTAMP '{WM_SPLIT}' AND ts < TIMESTAMP '{WM_END}'
GROUP BY 1, 2, 3
"""


SESSION_GAP_S = 900  # 15 minutes


def q_stream_session_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 session windows under a real watermarked stream: per-namespace
    ``session_window`` sessions (15 min gap) over the same three-batch bench.
    The oracle is batch gap-sessionization over the on-time rows — new
    session when the gap >= 15 min, exactly Spark's merge rule (windows
    merge only while next.start < prev.end). Proves session merging, late
    drop, and watermark finalization externally, not just in unit tests."""
    from ..streaming_ext import session_counts

    outp = _drive_three_batch_stream(
        spark, sf_dir,
        lambda s: session_counts(
            s, gap="15 minutes", watermark="10 minutes", key="namespace"
        ),
    )
    return spark.read.parquet(outp).select(
        "session_start", "session_end", "namespace", "n_events"
    )


SQL_STREAM_SESSION_WATERMARK = f"""
WITH ontime AS (
  SELECT ts, 'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace
  FROM events
  WHERE ts >= TIMESTAMP '{WM_SPLIT}' AND ts < TIMESTAMP '{WM_END}'
),
flagged AS (
  SELECT namespace, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) >= {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM ontime WINDOW w AS (PARTITION BY namespace ORDER BY ts)
),
sess AS (
  SELECT namespace, ts,
         SUM(new_s) OVER (PARTITION BY namespace ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_S} SECOND AS session_end,
       namespace,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY namespace, session_id
"""


def q_sources_cri_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 externally checked: synthesize CRI container-runtime log lines from
    events (every 4th user's message split into a P partial + F final line
    1 ms apart), run the REAL parse_cri_lines + reassemble_multiline stages,
    and aggregate per stream. The oracle rebuilds the identical lines in SQL
    and reassembles with the same next-F-line window rule — equality proves
    the parser regex and the multiline merge end-to-end. (Event timestamps
    at sf0.01 are tie-free, incl. under the 1 ms shift, so the line order is
    total on both engines.)"""
    from ..sources import parse_cri_lines, reassemble_multiline

    ev = load_table(spark, sf_dir, "events")
    msg = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(" user="), F.col("user_id").cast("string"),
    )
    stream = F.when(F.col("event_type") == "error", "stderr").otherwise(
        "stdout"
    )
    tfmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    t0 = F.date_format("ts", tfmt)
    t1 = F.date_format(
        F.col("ts") + F.expr("INTERVAL 1 MILLISECOND"), tfmt
    )
    head, tail = F.substring(msg, 1, 10), F.substring(msg, 11, 1_000_000)
    lines = ev.select(
        F.explode(
            F.when(
                F.col("user_id") % 4 == 0,
                F.array(
                    F.concat_ws(" ", t0, stream, F.lit("P"), head),
                    F.concat_ws(" ", t1, stream, F.lit("F"), tail),
                ),
            ).otherwise(
                F.array(F.concat_ws(" ", t0, stream, F.lit("F"), msg))
            )
        ).alias("value")
    )
    merged = reassemble_multiline(parse_cri_lines(lines))
    return merged.groupBy("stream").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("log")).alias("total_chars"),
        F.min("log_time").alias("first_time"),
        F.max("log_time").alias("last_time"),
    )


_CRI_RE = r"^(\S+) (stdout|stderr) ([FP]) (.*)$"

SQL_SOURCES_CRI_PIPELINE = f"""
WITH ev AS (
  SELECT user_id,
         'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR) AS msg,
         CASE WHEN event_type = 'error' THEN 'stderr'
              ELSE 'stdout' END AS stream,
         strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS t0,
         strftime(ts + INTERVAL 1 MILLISECOND,
                  '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS t1
  FROM events
),
lines AS (
  SELECT unnest(CASE WHEN user_id % 4 = 0
    THEN [t0 || ' ' || stream || ' P ' || substr(msg, 1, 10),
          t1 || ' ' || stream || ' F ' || substr(msg, 11)]
    ELSE [t0 || ' ' || stream || ' F ' || msg] END) AS value
  FROM ev
),
parsed AS (
  SELECT regexp_extract(value, '{_CRI_RE}', 1) AS log_time,
         regexp_extract(value, '{_CRI_RE}', 2) AS stream,
         regexp_extract(value, '{_CRI_RE}', 3) AS flag,
         regexp_extract(value, '{_CRI_RE}', 4) AS content
  FROM lines WHERE regexp_extract(value, '{_CRI_RE}', 1) <> ''
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY stream ORDER BY log_time) AS rn
  FROM parsed
),
gid AS (
  SELECT *, MIN(CASE WHEN flag = 'F' THEN rn END)
              OVER (PARTITION BY stream ORDER BY rn
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS g
  FROM rn
),
merged AS (
  SELECT stream, g, min(log_time) AS log_time,
         string_agg(content, '' ORDER BY rn) AS log
  FROM gid WHERE g IS NOT NULL GROUP BY stream, g
)
SELECT stream, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(log)) AS BIGINT) AS total_chars,
       min(log_time) AS first_time, max(log_time) AS last_time
FROM merged GROUP BY stream
"""


def q_sources_docker_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7's second parser, externally checked: synthesize docker json-file
    log lines (every 4th user's message split into a no-trailing-newline
    partial + a newline-terminated final line 1 ms apart), run the REAL
    parse_docker_json_lines + reassemble_multiline, aggregate per stream.
    The oracle computes the expected aggregate DIRECTLY from events — a
    stronger check than rebuilding the JSON: it proves the whole
    to_json -> from_json -> flag-by-trailing-newline -> merge round trip."""
    from ..sources import parse_docker_json_lines, reassemble_multiline

    ev = load_table(spark, sf_dir, "events")
    msg = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(" user="), F.col("user_id").cast("string"),
    )
    stream = F.when(F.col("event_type") == "error", "stderr").otherwise(
        "stdout"
    )
    tfmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    t0 = F.date_format("ts", tfmt)
    t1 = F.date_format(F.col("ts") + F.expr("INTERVAL 1 MILLISECOND"), tfmt)

    def jline(time_col, log_col):
        return F.to_json(
            F.struct(
                log_col.alias("log"), stream.alias("stream"),
                time_col.alias("time"),
            )
        )

    head = F.substring(msg, 1, 10)  # partial: NO trailing newline
    tail = F.concat(F.substring(msg, 11, 1_000_000), F.lit("\n"))
    full = F.concat(msg, F.lit("\n"))
    lines = ev.select(
        F.explode(
            F.when(
                F.col("user_id") % 4 == 0,
                F.array(jline(t0, head), jline(t1, tail)),
            ).otherwise(F.array(jline(t0, full)))
        ).alias("value")
    )
    merged = reassemble_multiline(parse_docker_json_lines(lines))
    return merged.groupBy("stream").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("log")).alias("total_chars"),
        F.min("log_time").alias("first_time"),
        F.max("log_time").alias("last_time"),
    )


SQL_SOURCES_DOCKER_PIPELINE = """
WITH ev AS (
  SELECT 'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR) AS msg,
         CASE WHEN event_type = 'error' THEN 'stderr'
              ELSE 'stdout' END AS stream,
         strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS t0
  FROM events
)
SELECT stream, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(length(msg)) AS BIGINT) AS total_chars,
       min(t0) AS first_time, max(t0) AS last_time
FROM ev GROUP BY stream
"""


def q_sources_k8s_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 externally checked: broadcast-join pod metadata (labels, node)
    onto the log stream via the real enrich_with_pod_metadata, inject a
    static cluster field (inject_static_fields), aggregate per team label.
    The pod dim derives deterministically from the corpus' own pod ids."""
    from ..sources import enrich_with_pod_metadata, inject_static_fields

    ev = load_table(spark, sf_dir, "events")
    logs = ev.select(
        F.concat(F.lit("pod-"), (F.col("user_id") % 50).cast("string")).alias(
            "pod_name"
        ),
        F.col("value"),
    )
    pod_ids = spark.range(0, 50)
    dim = pod_ids.select(
        F.concat(F.lit("pod-"), F.col("id").cast("string")).alias("pod_name"),
        F.concat(F.lit("team-"), (F.col("id") % 3).cast("string")).alias(
            "team"
        ),
        F.concat(F.lit("node-"), (F.col("id") % 8).cast("string")).alias(
            "node"
        ),
    )
    enriched = inject_static_fields(
        enrich_with_pod_metadata(logs, dim), cluster="prod"
    )
    return enriched.groupBy("cluster", "team").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("node").alias("n_nodes"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_SOURCES_K8S_ENRICH = """
WITH dim AS (
  SELECT 'pod-' || CAST(i AS VARCHAR) AS pod_name,
         'team-' || CAST(i % 3 AS VARCHAR) AS team,
         'node-' || CAST(i % 8 AS VARCHAR) AS node
  FROM (SELECT unnest(generate_series(0, 49)) AS i)
)
SELECT 'prod' AS cluster, d.team,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT d.node) AS BIGINT) AS n_nodes,
       round(sum(e.value), 2) AS sum_value
FROM events e
JOIN dim d ON d.pod_name = 'pod-' || CAST(e.user_id % 50 AS VARCHAR)
GROUP BY d.team
"""


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4's replay-dedupe extension under a REAL watermarked stream:
    ``dedup_events`` (dropDuplicates on (timestamp, namespace) with a 10 min
    watermark) over three deterministic batches —

    1. on-time rows with every ns-0 row DUPLICATED in-batch (state dedup);
    2. a FULL replay of batch 1 plus the late rows: replayed rows below the
       watermark are late-dropped, those at/above it hit state — dropped
       either way, which is exactly the at-least-once-redelivery story;
    3. the sentinel (emitted by the stateless-append path; excluded on read).

    The oracle is SELECT DISTINCT over the on-time rows — equality proves
    in-batch dedup, cross-batch state dedup, and late-drop in one hash."""
    from ..streaming_ext import dedup_events

    def batches(on_time, late, sentinel):
        dup_half = on_time.filter(F.col("namespace") == "ns-0")
        return (
            on_time.union(dup_half),
            on_time.union(late),
            sentinel,
        )

    outp = _drive_three_batch_stream(
        spark, sf_dir,
        lambda s: dedup_events(
            s, keys=("timestamp", "namespace"), watermark="10 minutes"
        ),
        batches_fn=batches,
    )
    return (
        spark.read.parquet(outp)
        .filter(F.col("namespace") != "zz-sentinel")
        .groupBy("namespace")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("timestamp").alias("min_ts"),
            F.max("timestamp").alias("max_ts"),
        )
    )


SQL_STREAM_DEDUP_WATERMARK = f"""
WITH ontime AS (
  SELECT DISTINCT ts, 'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace
  FROM events
  WHERE ts >= TIMESTAMP '{WM_SPLIT}' AND ts < TIMESTAMP '{WM_END}'
)
SELECT namespace, CAST(count(*) AS BIGINT) AS cnt,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM ontime GROUP BY namespace
"""


def q_stream_k8s_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 under Structured Streaming: the SAME enrich_with_pod_metadata
    broadcast join + inject_static_fields, but applied to a readStream —
    Spark's stream-static join path (stateless, per-batch broadcast) instead
    of the batch planner. One availableNow drain to a parquet sink, then the
    per-team aggregate; the oracle is the identical direct join in SQL, so
    equality proves the streaming plan enriches byte-for-byte like batch."""
    import tempfile

    from ..sources import enrich_with_pod_metadata, inject_static_fields

    ev = load_table(spark, sf_dir, "events")
    logs = ev.select(
        F.concat(F.lit("pod-"), (F.col("user_id") % 50).cast("string")).alias(
            "pod_name"
        ),
        F.col("value"),
    )
    dim = spark.range(0, 50).select(
        F.concat(F.lit("pod-"), F.col("id").cast("string")).alias("pod_name"),
        F.concat(F.lit("team-"), (F.col("id") % 3).cast("string")).alias(
            "team"
        ),
        F.concat(F.lit("node-"), (F.col("id") % 8).cast("string")).alias(
            "node"
        ),
    )
    base = tempfile.mkdtemp(prefix="klogs-senrich-")
    src, ckpt, outp = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    logs.write.parquet(src)
    stream = spark.readStream.schema("pod_name string, value double").parquet(
        src
    )
    enriched = inject_static_fields(
        enrich_with_pod_metadata(stream, dim), cluster="prod"
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(outp)
        .groupBy("cluster", "team")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("node").alias("n_nodes"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


SQL_STREAM_K8S_ENRICH = SQL_SOURCES_K8S_ENRICH


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 stream-STREAM join (the one streaming shape stream_k8s_enrich's
    stream-static path does not cover): errors joined to each user's clicks
    from the preceding 30 minutes, as a watermarked event-time interval join
    between two readStreams. Both sides carry 10-minute watermarks and the
    join predicate bounds click_ts to [err_ts - 30min, err_ts], which is
    exactly what lets Spark evict join state at scale — unbounded-state
    stream joins don't survive a 100 TB day. One availableNow drain, so the
    emitted matches equal the batch join; the oracle is that batch join in
    SQL, proving the streaming plan pairs rows byte-for-byte like batch."""
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="klogs-ssjoin-")
    err_src, clk_src = f"{base}/errors", f"{base}/clicks"
    ckpt, outp = f"{base}/ckpt", f"{base}/out"
    ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("err_ts"), F.col("user_id")
    ).write.parquet(err_src)
    ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), F.col("user_id").alias("click_user")
    ).write.parquet(clk_src)

    errors = (
        spark.readStream.schema("err_ts timestamp, user_id long")
        .parquet(err_src)
        .withWatermark("err_ts", "10 minutes")
    )
    clicks = (
        spark.readStream.schema("click_ts timestamp, click_user long")
        .parquet(clk_src)
        .withWatermark("click_ts", "10 minutes")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "inner",
    ).select("user_id", "err_ts", "click_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(outp)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("click_ts").alias("first_click_ts"),
            F.max("err_ts").alias("last_err_ts"),
        )
    )


SQL_STREAM_INTERVAL_JOIN = """
SELECT er.user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       min(c.ts) AS first_click_ts,
       max(er.ts) AS last_err_ts
FROM (SELECT * FROM events WHERE event_type = 'error') er
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON er.user_id = c.user_id
 AND c.ts >= er.ts - INTERVAL 30 MINUTE AND c.ts <= er.ts
GROUP BY er.user_id
"""


def q_stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 stream-stream LEFT OUTER interval join with state-timeout
    emission — the completion of q_stream_interval_join's inner shape: an
    error with no click in its preceding 30 minutes must still emit, with
    null click columns, once the watermark passes its match window and the
    join state expires (Spark's outer-join null emission is exactly the
    reference-free 'state timeout' semantics a 100 TB stream needs — state
    is evicted, not leaked, AND the unmatched row is observable).

    Batch choreography (deterministic, one availableNow drain per source
    growth, same bench as _drive_three_batch_stream):

    1. real errors + clicks            -> matches emit; unmatched errors
                                          wait in state (watermark still
                                          behind their windows);
    2. sentinel rows a day ahead, BOTH  -> advances the global watermark
       sources (user_id -1)               past every real match window;
    3. sentinel rows two days ahead    -> runs one more batch UNDER the
                                          day-ahead watermark, which evicts
                                          and emits every real unmatched
                                          error with nulls.

    Sentinels never emit (the watermark never passes their own windows) and
    are excluded on read. The oracle is the identical batch LEFT JOIN —
    equality proves matched rows pair like batch AND every unmatched error
    surfaces exactly once."""
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="klogs-ssljoin-")
    err_src, clk_src = f"{base}/errors", f"{base}/clicks"
    ckpt, outp = f"{base}/ckpt", f"{base}/out"

    errors_b1 = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("err_ts"), F.col("user_id")
    )
    clicks_b1 = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts"), F.col("user_id").alias("click_user")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def sentinels(days_ahead: int):
        ts = F.lit(max_ts) + F.expr(f"INTERVAL {days_ahead} DAYS")
        return (
            spark.range(1).select(ts.alias("err_ts"),
                                  F.lit(-1).cast("long").alias("user_id")),
            spark.range(1).select(ts.alias("click_ts"),
                                  F.lit(-1).cast("long").alias("click_user")),
        )

    def drain() -> None:
        errors = (
            spark.readStream.schema("err_ts timestamp, user_id long")
            .parquet(err_src)
            .withWatermark("err_ts", "10 minutes")
        )
        clicks = (
            spark.readStream.schema("click_ts timestamp, click_user long")
            .parquet(clk_src)
            .withWatermark("click_ts", "10 minutes")
        )
        joined = errors.join(
            clicks,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts")
               >= F.col("err_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("click_ts") <= F.col("err_ts")),
            "leftOuter",
        ).select("user_id", "err_ts", "click_ts")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for err_b, clk_b in (
        (errors_b1, clicks_b1), sentinels(1), sentinels(2),
    ):
        err_b.coalesce(1).write.mode("append").parquet(err_src)
        clk_b.coalesce(1).write.mode("append").parquet(clk_src)
        drain()

    return (
        spark.read.parquet(outp)
        .filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("click_ts").alias("n_matched"),
            F.sum(
                F.when(F.col("click_ts").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
            F.min("click_ts").alias("first_click_ts"),
            F.max("err_ts").alias("last_err_ts"),
        )
    )


SQL_STREAM_INTERVAL_JOIN_LEFT = """
SELECT er.user_id,
       CAST(count(c.ts) AS BIGINT) AS n_matched,
       CAST(coalesce(sum(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_unmatched,
       min(c.ts) AS first_click_ts,
       max(er.ts) AS last_err_ts
FROM (SELECT * FROM events WHERE event_type = 'error') er
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON er.user_id = c.user_id
 AND c.ts >= er.ts - INTERVAL 30 MINUTE AND c.ts <= er.ts
GROUP BY er.user_id
"""


def q_logs_error_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's custom stateful operator on its batch twin, externally checked:
    error_run_tracker emits a row whenever a namespace's consecutive-error
    run reaches 3. Batch mode plans the same semantics as the
    applyInPandasWithState streaming path (difference-of-counters run ids +
    row_number — see streaming_ext.error_run_tracker); the oracle replays
    the window algebra in SQL. Event timestamps are tie-free on this corpus,
    so run ordering is total on both engines."""
    from ..streaming_ext import error_run_tracker

    ev = load_table(spark, sf_dir, "events")
    level = F.when(F.col("event_type") == "error", "error").otherwise("info")
    logs = ev.select(
        F.col("ts").alias("timestamp"),
        F.concat(F.lit("ns-"), (F.col("user_id") % 5).cast("string")).alias(
            "namespace"
        ),
        F.create_map(F.lit("level"), level).alias("fields_string"),
    )
    return error_run_tracker(logs, threshold=3)


SQL_LOGS_ERROR_RUNS = """
WITH logs AS (
  SELECT ts, 'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
),
g AS (
  SELECT namespace, ts, is_err,
         count(*) OVER w - sum(is_err) OVER w AS grp
  FROM logs WINDOW w AS (PARTITION BY namespace ORDER BY ts)
),
runs AS (
  SELECT namespace, ts, is_err,
         ROW_NUMBER() OVER (PARTITION BY namespace, grp ORDER BY ts)
           AS error_run
  FROM g
)
SELECT namespace, ts AS timestamp, CAST(error_run AS BIGINT) AS error_run
FROM runs WHERE is_err = 1 AND error_run >= 3
"""


def q_ingest_msgpack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1's true-to-reference wire shape, externally checked end-to-end:
    events are ENCODED into Fluent Bit msgpack chunks (FLBTime fixext8
    timestamps — msgpack_lite.pack_event), then the chunk BYTES are
    decoded by the real binary decode core (msgpack_lite decoder ->
    record_to_row, the same functions decode_msgpack_dataframe drives)
    and aggregated per namespace. The oracle computes the same aggregate
    directly from events — equality proves encoder, decoder, FLBTime
    handling, envelope routing, and numeric dispatch in one hash.
    Timestamps are whole seconds (nsec=0): float-epoch FLBTime keeps
    second precision exact, micro precision is the JSON path's job.

    Perf shape (r13, closing ADVICE r12's docstring note the structural
    way): encode and decode share ONE mapInPandas worker — each Arrow
    batch is packed into one wire-exact chunk and immediately decoded
    from those bytes. The earlier two-stage form (encode mapInPandas ->
    binary column -> decode mapInPandas) paid a second JVM<->Python
    Arrow crossing that production ingest never pays: real chunks arrive
    ONCE in a binary column (stream.read_msgpack_chunk_stream) and cross
    into Python exactly once. Measured at sf0.1 the extra crossing was
    ~0.3 s of pure plumbing — a third of the query — while every byte
    still round-trips pack_event -> decoder here. The production
    binary-column path itself stays pinned by
    tests/test_msgpack.py::test_msgpack_ingest_end_to_end (binaryFile
    stream -> decode_msgpack_dataframe -> logs table). The keyless
    round-robin repartition (r12) stays: it fans the rows across the
    cluster width and chunk boundaries are semantically arbitrary (the
    decoder never depends on which events share a chunk); at real scale
    the scan arrives already-parallel and the exchange is skippable."""
    from ..config import EngineConfig

    ev = load_table(spark, sf_dir, "events")
    shards = ev.select(
        F.col("ts").cast("long").alias("sec"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )

    def encode_decode(batches):
        import pandas as pd

        from klogs_spark.decode import LOG_SCHEMA, decode_msgpack_events
        from klogs_spark.msgpack_lite import pack_event

        cfg = EngineConfig()
        names = LOG_SCHEMA.fieldNames()
        for pdf in batches:
            if not len(pdf):
                continue
            evs = []
            for sec, uid, et, val in zip(
                pdf["sec"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                uid = int(uid)
                rec = {
                    "cluster": "prod",
                    "kubernetes": {
                        "namespace_name": f"ns-{uid % 5}",
                        "pod_name": f"pod-{uid % 50}",
                        "container_name": "c",
                        "host": f"node-{uid % 8}",
                    },
                    "log": f"type={et}",
                    "content": {"value": float(val)},
                }
                evs.append(pack_event(int(sec), rec))
            # one wire-exact chunk per Arrow batch, decoded from bytes —
            # the decoder sees exactly what a Fluent Bit chunk looks like
            rows = list(decode_msgpack_events([b"".join(evs)], cfg))
            if rows:
                yield pd.DataFrame(
                    {name: [r[name] for r in rows] for name in names}
                )

    from ..decode import LOG_SCHEMA

    n_slices = spark.sparkContext.defaultParallelism
    decoded = shards.repartition(n_slices).mapInPandas(
        encode_decode, LOG_SCHEMA
    )
    return decoded.groupBy("namespace").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(field_number("content_value")), 2).alias("sum_value"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
        F.count_distinct("pod_name").alias("n_pods"),
    )


SQL_INGEST_MSGPACK_PIPELINE = """
SELECT 'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS sum_value,
       min(date_trunc('second', ts)) AS min_ts,
       max(date_trunc('second', ts)) AS max_ts,
       CAST(count(DISTINCT user_id % 50) AS BIGINT) AS n_pods
FROM events GROUP BY 1
"""


def q_table_field_range_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILE-granular zone map externally checked: same construction as
    table_field_range_skip but the sidecar records per-(day, file, key)
    stats (``per_file=True``) and the scan excludes individual files whose
    [vmin, vmax] cannot overlap — the skipping granularity parquet
    footers provide for plain columns but cannot for Map values. The
    answer must be identical to the day-granular form's oracle (pruning
    can only skip what cannot match); file-level pruning effectiveness is
    pinned with a two-append skewed fixture in tests/test_table_ops.py."""
    import tempfile

    from ..table import field_range_scan, write_field_minmax_index, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-15"
    )
    base = tempfile.mkdtemp(prefix="klogs-minmax-pf-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    write_field_minmax_index(
        spark, tdir, keys=["latency_ms", "value"], per_file=True
    )
    hits = field_range_scan(spark, tdir, "latency_ms", lo=RANGE_SKIP_LO)
    lat = F.element_at(F.col("fields_number"), "latency_ms")
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(lat * 100).cast("bigint")).alias("lat_cents"),
    )


RETENTION_TODAY = "2024-01-31"
RETENTION_DAYS = 15  # cutoff 2024-01-16: drops Jan 1-15, keeps Jan 16-30


def q_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole table lifecycle externally checked: two interleaved
    write_logs appends (split by namespace, so every day-partition holds two
    file sets), targeted cow_compact_partition on two days (file-count
    hygiene, MergeTree background-merge parity), then the TTL retention job
    with a pinned 'today' — and finally a per-day aggregate of what survives.

    The oracle computes the same aggregate directly from events restricted
    to the retention window: equality proves the partitioned write, the
    single-partition compaction rewrite, and the copy-on-write TTL delete
    lose or duplicate NOTHING outside the expired window."""
    import tempfile
    from datetime import date

    from ..manifest import apply_retention, cow_compact_partition
    from ..table import read_logs, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-lifecycle-")
    tdir = f"{base}/logs"
    first = F.col("namespace").isin("ns-0", "ns-1", "ns-2")
    write_logs(logs.filter(first), tdir)
    write_logs(logs.filter(~first), tdir)
    for day in ("2024-01-20", "2024-01-21"):
        cow_compact_partition(spark, tdir, f"date={day}")
    apply_retention(
        spark, tdir, RETENTION_DAYS,
        today=date.fromisoformat(RETENTION_TODAY),
    )
    return (
        read_logs(spark, tdir)
        .groupBy("date")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("namespace").alias("n_namespaces"),
            F.min("timestamp").alias("min_ts"),
            F.max("timestamp").alias("max_ts"),
        )
    )


SQL_TABLE_LIFECYCLE = f"""
SELECT CAST(ts AS DATE) AS date,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT user_id % 5) AS BIGINT) AS n_namespaces,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM events
WHERE CAST(ts AS DATE) >= DATE '{RETENTION_TODAY}' - {RETENTION_DAYS}
GROUP BY 1
"""


DELETE_FULL_DAY = "2024-01-05"     # every row of this day matches -> dir drop
DELETE_NS_FROM, DELETE_NS_TO = "2024-01-10", "2024-01-15"  # partial rewrites


def q_table_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete externally checked: write January's logs, then
    cow_delete_where with a predicate that fully empties one day AND
    partially matches six others, then aggregate what survives per day.
    The oracle recomputes the aggregate from events with the deletions
    excluded — equality proves the rewrite lost/duplicated nothing outside
    the predicate and the emptied day is gone, not stale."""
    import tempfile

    from ..manifest import cow_delete_where
    from ..table import read_logs, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-02-01"
    )
    base = tempfile.mkdtemp(prefix="klogs-delete-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    cow_delete_where(
        spark, tdir,
        f"(date = DATE '{DELETE_FULL_DAY}') OR "
        f"(namespace = 'ns-1' AND date BETWEEN DATE '{DELETE_NS_FROM}' "
        f"AND DATE '{DELETE_NS_TO}')",
    )
    return (
        read_logs(spark, tdir)
        .groupBy("date")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("namespace").alias("n_namespaces"),
            F.max("timestamp").alias("max_ts"),
        )
    )


def q_table_promoted_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promoted-column rewrite end-to-end (reference README.md:69-91 —
    ``ADD COLUMN content_level String DEFAULT fields_string['content.level']``
    + MATERIALIZE; SURVEY §4's one genuine optimizer candidate, option (b)
    completed): write_logs_promoted materializes the hot map key AND
    records the promotion in the layout marker; table.logs_query reads the
    marker and TRANSPARENTLY rewrites the caller's map-key predicate
    (``where_field_eq('level', ...)``) onto the physical column — the plan
    scans the dictionary-encoded column with the filter pushed down and
    never touches the map (asserted map-free in tests/test_plans.py). The
    oracle recomputes the same aggregate from events directly, proving the
    rewrite changes the plan, not the answer."""
    import tempfile

    from ..table import logs_query, write_logs_promoted
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-15"
    )
    base = tempfile.mkdtemp(prefix="klogs-promoted-")
    tdir = f"{base}/logs"
    write_logs_promoted(logs, tdir, {"level": "content_level"})
    # the caller asks about the MAP key; the engine serves the column
    return logs_query(spark, tdir).where_field_eq("level", "error").count_by(
        "namespace"
    )


SQL_TABLE_PROMOTED_VIEW = """
SELECT concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS namespace,
       count(*) AS cnt
FROM events
WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
"""


def q_stream_rollup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED ROLLUP maintenance (ClickHouse's
    materialized-view-into-SummingMergeTree pattern, re-expressed
    Spark-first): a real 3-micro-batch stream appends to the logs table
    while table.rollup_logs_sink recomputes the per-(day, namespace)
    rollup for exactly the touched days (dynamic partition overwrite).
    Whole-day recompute from the source of truth makes maintenance
    idempotent under replay AND keeps non-distributive aggregates
    (distinct apps) exact without merge state. The final rollup must
    hash-equal the direct batch aggregate — the materialized view is
    indistinguishable from the query it stands for.

    At 100 TB dashboards hit the |days| x |namespaces|-row rollup instead
    of re-aggregating the corpus; per-batch maintenance cost is the
    touched days' data, not the table."""
    import tempfile

    from ..schema import LOG_SCHEMA
    from ..table import rollup_logs_sink
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-22"
    )
    base = tempfile.mkdtemp(prefix="klogs-rollup-")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    tbl, roll = f"{base}/logs", f"{base}/rollup"
    sink = rollup_logs_sink(tbl, roll)
    weeks = (
        ("2024-01-01", "2024-01-08"),
        ("2024-01-08", "2024-01-15"),
        ("2024-01-15", "2024-01-22"),
    )
    for lo, hi in weeks:
        (
            logs.filter(
                (F.col("timestamp") >= lo) & (F.col("timestamp") < hi)
            )
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(roll).select(
        "date", "namespace", "n_rows", "n_errors", "n_apps"
    )


SQL_STREAM_ROLLUP = """
SELECT CAST(ts AS DATE) AS date,
       concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS namespace,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_apps
FROM events
WHERE ts < TIMESTAMP '2024-01-22 00:00:00'
GROUP BY 1, 2
"""


RANGE_SKIP_LO = 300.0  # latency_ms threshold for the zone-map range query


def q_table_field_range_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 at scale: a numeric range query over the DYNAMIC number map
    served by the zone-map sidecar (table.write_field_minmax_index /
    field_range_scan). Parquet footers carry no min/max for map values,
    so without the sidecar this query scans every day; with it, the
    per-(day, key) stats turn the range into a partition IN-filter at
    plan time (pruning effectiveness pinned with a skewed fixture in
    tests/test_table_ops.py — the driver fixture's uniform values keep
    all days, which is the correct conservative answer). The oracle
    recomputes the range aggregate directly from events."""
    import tempfile

    from ..table import field_range_scan, write_field_minmax_index, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-15"
    )
    base = tempfile.mkdtemp(prefix="klogs-minmax-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    write_field_minmax_index(spark, tdir, keys=["latency_ms", "value"])
    hits = field_range_scan(spark, tdir, "latency_ms", lo=RANGE_SKIP_LO)
    lat = F.element_at(F.col("fields_number"), "latency_ms")
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(lat * 100).cast("bigint")).alias("lat_cents"),
    )


SQL_TABLE_FIELD_RANGE_SKIP = f"""
SELECT CAST(ts AS DATE) AS date,
       count(*) AS n,
       CAST(sum(CAST(round(value * 10 * 100) AS BIGINT)) AS BIGINT)
         AS lat_cents
FROM events
WHERE event_type IN ('click', 'view')
  AND value * 10 >= {RANGE_SKIP_LO}
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
"""


def q_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4's exactly-once upgrade externally checked — replay AND
    crash-recovery: two real micro-batches ingest through
    stream.exactly_once_sink; both epochs then REPLAY (the redelivery a
    checkpoint rollback produces — the committed-marker no-op path); and
    a third batch publishes OVER a planted stray file carrying its
    batch-id prefix (the leftovers of a crashed mid-publish attempt — the
    purge path). The final per-day counts must equal the single-copy
    oracle: the reference's at-least-once contract would double the
    replayed weeks and count the stray file's rows, so hash equality IS
    the exactly-once proof for both failure modes."""
    import glob
    import shutil
    import tempfile

    from ..schema import LOG_SCHEMA
    from ..stream import exactly_once_sink
    from ..table import read_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-12"
    )
    base = tempfile.mkdtemp(prefix="klogs-eo-")
    src, ckpt, tdir = f"{base}/src", f"{base}/ckpt", f"{base}/logs"
    sink = exactly_once_sink(tdir)
    chunks = [
        logs.filter((F.col("timestamp") >= lo) & (F.col("timestamp") < hi))
        for lo, hi in (
            ("2024-01-01", "2024-01-04"),
            ("2024-01-04", "2024-01-08"),
        )
    ]
    for chunk in chunks:
        chunk.write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # redelivery: the same epochs arrive again (checkpoint rollback) —
    # the commit markers must make both no-ops
    sink(chunks[0], 0)
    sink(chunks[1], 1)
    # crashed-attempt recovery: plant a stray data file carrying epoch 2's
    # prefix (as if a previous attempt died between rename and marker),
    # then publish epoch 2 for real — the purge must remove the stray
    some_day = sorted(glob.glob(f"{tdir}/date=*/b0-*.parquet"))[0]
    shutil.copy(some_day, f"{tdir}/date=2024-01-02/b2-dead.parquet")
    sink(
        logs.filter(
            (F.col("timestamp") >= "2024-01-08")
            & (F.col("timestamp") < "2024-01-12")
        ),
        2,
    )
    return (
        read_logs(spark, tdir)
        .groupBy("date", "namespace")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_STREAM_EXACTLY_ONCE = """
SELECT CAST(ts AS DATE) AS date,
       concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS namespace,
       count(*) AS cnt
FROM events
WHERE ts < TIMESTAMP '2024-01-12 00:00:00'
GROUP BY 1, 2
"""


def q_stream_validated_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DATA-CONTRACT enforcement externally checked
    (expectations.validated_logs_sink): the stream carries deterministic
    corruptions — every pod-7 row's level is rewritten out of domain, and
    pod-21 click rows lose their latency field — and the per-batch sink
    routes rows violating ANY expectation to the quarantine store (with
    the _failed_checks triage column) while clean rows append to the
    table. The per-day clean/quarantined counts must equal the oracle's
    direct computation of the corruption rules: a row leaked past the
    gate, double-written, or wrongly quarantined breaks the hash. This is
    the decode dead-letter pattern one level up — semantic validity, not
    parseability."""
    import tempfile

    from ..expectations import validated_logs_sink
    from ..schema import LOG_SCHEMA
    from ..table import read_logs
    from ..transform import field_number, field_string
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-08"
    )
    pod = F.regexp_extract("pod_name", "pod-(\\d+)", 1).cast("int")
    fs, fn = F.col("fields_string"), F.col("fields_number")
    corrupted = logs.withColumn(
        "fields_string",
        F.when(
            pod == 7,
            F.map_concat(
                F.map_filter(fs, lambda k, v: k != "level"),
                F.create_map(F.lit("level"), F.lit("bogus")),
            ),
        ).otherwise(fs),
    ).withColumn(
        "fields_number",
        F.when(
            (pod == 21) & (F.col("app") == "click"),
            F.map_filter(fn, lambda k, v: k != "latency_ms"),
        ).otherwise(fn),
    )
    checks = [
        (
            "level_in_domain",
            field_string("level").isin("info", "warn", "error"),
        ),
        (
            "latency_present_for_clicks",
            F.when(
                F.col("app").isin("click", "view"),
                field_number("latency_ms").isNotNull(),
            ).otherwise(F.lit(True)),
        ),
    ]
    base = tempfile.mkdtemp(prefix="klogs-validated-")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    tdir, qdir = f"{base}/logs", f"{base}/quarantine"
    sink = validated_logs_sink(tdir, checks, qdir)
    for lo, hi in (("2024-01-01", "2024-01-04"), ("2024-01-04", "2024-01-08")):
        (
            corrupted.filter(
                (F.col("timestamp") >= lo) & (F.col("timestamp") < hi)
            )
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    clean = (
        read_logs(spark, tdir)
        .groupBy(F.col("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bucket", F.lit("clean"))
    )
    quar = (
        spark.read.parquet(qdir)
        .groupBy(F.to_date("timestamp").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bucket", F.lit("quarantined"))
    )
    return clean.unionByName(quar).select("bucket", "day", "cnt")


SQL_STREAM_VALIDATED_SINK = """
WITH fl AS (
  SELECT CAST(ts AS DATE) AS day,
         (user_id % 50 = 7
          OR (user_id % 50 = 21 AND event_type = 'click')) AS bad
  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
)
SELECT 'clean' AS bucket, day, count(*) AS cnt
FROM fl WHERE NOT bad GROUP BY 2
UNION ALL
SELECT 'quarantined', day, count(*) FROM fl WHERE bad GROUP BY 2
"""


def q_quarantine_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine TRIAGE report — what an on-call reviews after the
    validated sink fires: per (failed check, day) violation counts read
    from the quarantine store's ``_failed_checks`` column. Exercises the
    same corrupted 2-batch stream as stream_validated_sink and then
    explodes the triage arrays; the oracle recomputes each corruption
    rule's footprint directly, so a row quarantined under the wrong
    check name (not just the wrong bucket) breaks the hash. Rows failing
    BOTH checks would count once per check — the fixture's rules are
    disjoint, which the oracle's arithmetic would expose if they ever
    overlapped."""
    import tempfile

    from ..expectations import validated_logs_sink
    from ..schema import LOG_SCHEMA
    from ..transform import field_number, field_string
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-08"
    )
    pod = F.regexp_extract("pod_name", "pod-(\\d+)", 1).cast("int")
    fs, fn = F.col("fields_string"), F.col("fields_number")
    corrupted = logs.withColumn(
        "fields_string",
        F.when(
            pod == 7,
            F.map_concat(
                F.map_filter(fs, lambda k, v: k != "level"),
                F.create_map(F.lit("level"), F.lit("bogus")),
            ),
        ).otherwise(fs),
    ).withColumn(
        "fields_number",
        F.when(
            (pod == 21) & (F.col("app") == "click"),
            F.map_filter(fn, lambda k, v: k != "latency_ms"),
        ).otherwise(fn),
    )
    checks = [
        (
            "level_in_domain",
            field_string("level").isin("info", "warn", "error"),
        ),
        (
            "latency_present_for_clicks",
            F.when(
                F.col("app").isin("click", "view"),
                field_number("latency_ms").isNotNull(),
            ).otherwise(F.lit(True)),
        ),
    ]
    base = tempfile.mkdtemp(prefix="klogs-triage-")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    tdir, qdir = f"{base}/logs", f"{base}/quarantine"
    sink = validated_logs_sink(tdir, checks, qdir)
    for lo, hi in (("2024-01-01", "2024-01-04"), ("2024-01-04", "2024-01-08")):
        (
            corrupted.filter(
                (F.col("timestamp") >= lo) & (F.col("timestamp") < hi)
            )
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    quar = spark.read.parquet(qdir)
    return (
        quar.select(
            F.to_date("timestamp").alias("day"),
            F.explode(
                F.from_json("_failed_checks", "array<string>")
            ).alias("failed_check"),
        )
        .groupBy("failed_check", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_QUARANTINE_TRIAGE = """
SELECT 'level_in_domain' AS failed_check, CAST(ts AS DATE) AS day,
       count(*) AS n
FROM events
WHERE user_id % 50 = 7 AND ts < TIMESTAMP '2024-01-08 00:00:00'
GROUP BY 2
UNION ALL
SELECT 'latency_present_for_clicks', CAST(ts AS DATE), count(*)
FROM events
WHERE user_id % 50 = 21 AND event_type = 'click'
  AND ts < TIMESTAMP '2024-01-08 00:00:00'
GROUP BY 2
"""


def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time benchmark decontamination externally checked
    (streaming_ext.decontaminating_docs_sink): the document corpus
    arrives as a REAL 2-micro-batch stream; each batch is scanned once
    against the broadcast probe set (first-5-token fragments of every
    doc_id % 50 == 0 document — the 'benchmark' sample) and routed —
    probe-containing docs to the auditable quarantine store, clean docs
    to the training table. Per-(source, bucket) counts must equal the
    oracle's direct substring computation: a contaminated doc leaking
    into the table, a clean doc wrongly quarantined, or a double-write
    on the batch boundary all break the hash. This is the guard that
    keeps eval fragments from ever ENTERING the corpus, instead of
    scrubbing them later (pipeline_pretrain_prep's batch stage)."""
    import tempfile

    from ..streaming_ext import decontaminating_docs_sink

    docs = load_table(spark, sf_dir, "documents")
    probes = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 5)
        ).alias("probe"),
    )
    base = tempfile.mkdtemp(prefix="klogs-decon-")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    tdir, qdir = f"{base}/clean", f"{base}/quarantine"
    sink = decontaminating_docs_sink(tdir, probes, qdir)
    for lo, hi in ((0, 250), (250, 1 << 62)):
        (
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(
                "doc_id bigint, text string, lang string, "
                "source string, n_chars bigint"
            )
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    clean = (
        spark.read.parquet(tdir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket", F.lit("clean"))
    )
    quar = (
        spark.read.parquet(qdir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bucket", F.lit("quarantined"))
    )
    return clean.unionByName(quar).select("bucket", "source", "n")


SQL_STREAM_DECONTAMINATE = """
WITH probes AS (
  SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS probe
  FROM documents WHERE doc_id % 50 = 0
),
flagged AS (
  SELECT d.doc_id, d.source,
         EXISTS (SELECT 1 FROM probes p
                 WHERE contains(d.text, p.probe)) AS dirty
  FROM documents d
)
SELECT 'clean' AS bucket, source, CAST(count(*) AS BIGINT) AS n
FROM flagged WHERE NOT dirty GROUP BY 2
UNION ALL
SELECT 'quarantined', source, CAST(count(*) AS BIGINT)
FROM flagged WHERE dirty GROUP BY 2
"""


def q_ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange round-trip externally checked: the full log
    corpus (timestamps, map<string,string> / map<string,double> dynamic
    fields, text) is written to date-partitioned ORC — the other
    columnar lake format a 100 TB estate actually holds — read back,
    and aggregated per (day, level) with an integer-micro latency sum
    and a map-key census. The oracle computes the same aggregate
    directly from events (DuckDB cannot read ORC, which is the point:
    equality proves the ORC round-trip preserved every timestamp, map
    entry, and double bit-faithfully — the msgpack-pipeline pattern
    applied to the lake format). Spark's ORC support is native
    whole-stage-codegen I/O; no extra connector."""
    import tempfile

    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="klogs-orc-")
    (
        logs.withColumn("date", F.to_date("timestamp"))
        .write.mode("overwrite")
        .partitionBy("date")
        .orc(d)
    )
    back = spark.read.orc(d)
    lat = F.element_at("fields_number", "latency_ms")
    return (
        back.groupBy(
            F.col("date").alias("day"),
            F.element_at("fields_string", "level").alias("level"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.floor(F.coalesce(lat, F.lit(0.0)) * 1000000)
            ).cast("bigint").alias("latency_sum_micros"),
            # when() instead of a nullable-boolean cast: a group with no
            # 'flag' keys must sum to 0, not NULL (the oracle's ELSE 0)
            F.sum(
                F.when(
                    F.element_at("fields_string", "flag") == "on", 1
                ).otherwise(0)
            ).cast("bigint").alias("n_flag_on"),
        )
    )


SQL_INGEST_ORC_ROUNDTRIP = (
    LOGS_CTE
    + """
SELECT CAST("timestamp" AS DATE) AS day, f_level AS level,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(COALESCE(f_latency_ms, 0) * 1000000)
                     AS BIGINT)) AS BIGINT) AS latency_sum_micros,
       CAST(SUM(CASE WHEN f_flag = 'on' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flag_on
FROM logs GROUP BY 1, 2
"""
)


def q_ingest_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl container ingestion externally checked: the document
    corpus is ENCODED into real ``.warc.gz`` archives (WARC/1.0 response
    records carrying HTTP/1.1 payloads, one gzip member per record — the
    Common Crawl wire shape, see warc_lite) and immediately DECODED back
    through the same binary reader (iter_warc_records +
    split_http_payload), then aggregated per source with a per-text md5
    fingerprint sum and the exact WARC Content-Length sum. The oracle
    computes the identical aggregate directly from documents — equality
    proves the record serializer, the multi-member gzip framing, the
    header parser, and the HTTP envelope split preserved every byte
    (the ingest_orc_roundtrip / msgpack pattern applied to the web-
    archive format every pretraining pipeline starts from).

    Perf shape: encode and decode share ONE mapInPandas worker — each
    Arrow batch becomes one self-contained archive whose bytes are
    parsed right back (single JVM<->Python crossing, the fused msgpack
    lesson). Archives are record-independent by construction (one gzip
    member each), so at 100 TB the real read path is: split archive by
    member offsets -> decode members in parallel — no cross-record
    state anywhere in warc_lite."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def encode_decode(batches):
        import pandas as pd

        from klogs_spark.warc_lite import (
            build_record, build_warc_gz, decode_response_rows,
            http_response,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for did, src, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                did = int(did)
                body = str(text).encode("utf-8")
                recs.append(build_record(
                    "response",
                    f"{did:012d}-0000-4000-8000-000000000000",
                    f"2026-01-{did % 28 + 1:02d}T00:00:00Z",
                    http_response(body, content_type="text/plain"),
                    target_uri=(
                        f"http://{src}.example.com/doc/{did}"
                    ),
                ))
            archive = build_warc_gz(recs)
            out = {"doc_id": [], "source": [], "text": [],
                   "payload_len": []}
            for row in decode_response_rows(archive):
                host = row["uri"].split("//", 1)[1].split("/", 1)[0]
                out["doc_id"].append(int(row["uri"].rsplit("/", 1)[1]))
                out["source"].append(host.split(".", 1)[0])
                out["text"].append(row["body"].decode("utf-8"))
                out["payload_len"].append(row["content_length"])
            yield pd.DataFrame(out)

    from ..ext.hashing import md5_long

    n_slices = spark.sparkContext.defaultParallelism
    decoded = docs.repartition(n_slices).mapInPandas(
        encode_decode,
        "doc_id long, source string, text string, payload_len long",
    )
    return decoded.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        F.sum("payload_len").cast("bigint").alias("sum_payload_len"),
        F.sum(md5_long(F.col("text"))).cast("bigint").alias("sum_text_md5"),
    )


# the WARC payload is a fixed HTTP/1.1 envelope around the utf-8 body:
# "HTTP/1.1 200 OK\r\n" (17) + "Content-Type: text/plain\r\n" (26)
# + "Content-Length: {n}\r\n" (18 + digits of n) + "\r\n" (2) = 63 + digits,
# with n = octet_length of the body — closed form in both engines
SQL_INGEST_WARC_ROUNDTRIP = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       CAST(max(doc_id) AS BIGINT) AS max_id,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(sum(63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text))
            AS BIGINT) AS sum_payload_len,
       CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
            AS BIGINT) AS sum_text_md5
FROM documents GROUP BY source
"""


def q_ingest_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ``revisit`` resolution — how Common Crawl recrawls store an
    unchanged page: a body-less record carrying only the payload's
    sha1-base32 ``WARC-Payload-Digest`` (identical-payload-digest
    profile). Every doc ships a response record; docs with
    doc_id%4==1 (and a same-source predecessor doc_id-20) ALSO ship a
    revisit record whose digest references that predecessor's content.
    Decoding re-derives each response's digest from its BODY
    (warc_lite.payload_digest — reader-side, not trusted from headers)
    and resolves revisits DISTRIBUTEDLY: a digest-keyed equi-join
    against the distinct (digest -> text) map, because the referenced
    response usually lives in a DIFFERENT archive — archive-local
    resolution cannot work, which is exactly the Spark-shaped part.
    Oracle: the reference relation is closed-form (predecessor =
    doc_id-20), so resolved-text md5 sums are stated directly."""
    from ..ext.hashing import md5_long

    # NULL-text docs (none in this corpus, but the closed-form oracle
    # must share every data-shape assumption) carry no payload to hash
    # or reference — excluded identically on both sides
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    refs = docs.select(
        (F.col("doc_id") + 20).alias("rev_id"),
        F.col("text").alias("ref_text"),
    )
    corpus = docs.join(refs, F.col("doc_id") == F.col("rev_id"), "left")
    corpus = corpus.select(
        "doc_id", "source", "text",
        F.when(F.col("doc_id") % 4 == 1, F.col("ref_text")).alias(
            "ref_text"
        ),
    )

    def encode_decode(batches):
        import pandas as pd

        from klogs_spark.warc_lite import (
            build_record, build_revisit, build_warc_gz, http_response,
            iter_warc_records, payload_digest, split_http_payload,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            for did, src, text, ref in zip(
                pdf["doc_id"], pdf["source"], pdf["text"],
                pdf["ref_text"],
            ):
                did = int(did)
                uri = f"http://{src}.example.com/doc/{did}"
                recs.append(build_record(
                    "response",
                    f"{did:012d}-0000-4000-8000-000000000000",
                    f"2026-04-{did % 28 + 1:02d}T00:00:00Z",
                    http_response(str(text).encode("utf-8"),
                                  content_type="text/plain"),
                    target_uri=uri,
                ))
                # missing ref_text arrives as None or NaN from pandas —
                # only a real string means "emit a revisit"
                if isinstance(ref, str):
                    recs.append(build_revisit(
                        f"{did:012d}-0000-4000-8000-000000000002",
                        f"2026-05-{did % 28 + 1:02d}T00:00:00Z",
                        uri + "/recrawl",
                        payload_digest(str(ref).encode("utf-8")),
                        f"http://{src}.example.com/doc/{did - 20}",
                    ))
            out = {"kind": [], "doc_id": [], "source": [], "text": [],
                   "digest": []}
            for rec in iter_warc_records(build_warc_gz(recs)):
                h = rec["headers"]
                uri = h["WARC-Target-URI"]
                host = uri.split("//", 1)[1].split("/", 1)[0]
                src = host.split(".", 1)[0]
                did = int(uri.split("/doc/")[1].split("/")[0])
                if h["WARC-Type"] == "response":
                    _http, body = split_http_payload(rec["content"])
                    out["kind"].append("resp")
                    out["doc_id"].append(did)
                    out["source"].append(src)
                    out["text"].append(body.decode("utf-8"))
                    # reader-side digest, re-derived from the body
                    out["digest"].append(payload_digest(body))
                elif h["WARC-Type"] == "revisit":
                    out["kind"].append("rev")
                    out["doc_id"].append(did)
                    out["source"].append(src)
                    out["text"].append(None)
                    out["digest"].append(h["WARC-Payload-Digest"])
            yield pd.DataFrame(out)

    from ..ext.caching import cache_tracked

    n_slices = spark.sparkContext.defaultParallelism
    # the decoded rows feed THREE consumers of the returned plan (the
    # digest map, the revisit probe, the response census) — without
    # materialization Spark re-runs the gzip+sha1+parse lineage once
    # per consumer
    rows = cache_tracked(
        corpus.repartition(n_slices).mapInPandas(
            encode_decode,
            "kind string, doc_id long, source string, text string, "
            "digest string",
        )
    )
    resp = rows.filter(F.col("kind") == "resp")
    rev = rows.filter(F.col("kind") == "rev")
    digest_map = resp.select("digest", "text").distinct()
    resolved = rev.select("doc_id", "source", "digest").join(
        digest_map, "digest"
    )
    rev_agg = resolved.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_revisits"),
        F.sum(md5_long(F.col("text"))).cast("bigint")
        .alias("sum_resolved_md5"),
    )
    resp_agg = resp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_responses")
    )
    return resp_agg.join(rev_agg, "source", "left").select(
        "source",
        "n_responses",
        F.coalesce("n_revisits", F.lit(0)).cast("bigint")
        .alias("n_revisits"),
        F.coalesce("sum_resolved_md5", F.lit(0)).cast("bigint")
        .alias("sum_resolved_md5"),
    )


# the reference relation is closed-form: a revisit exists for doc_id%4==1
# with a same-source predecessor (doc_id-20), and resolves to that
# predecessor's text
SQL_INGEST_WARC_REVISIT = """
WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
rev AS (
  SELECT d.doc_id, d.source, o.text AS rtext
  FROM docs d JOIN docs o ON o.doc_id = d.doc_id - 20
  WHERE d.doc_id % 4 = 1
),
r AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_revisits,
         CAST(sum(CAST('0x' || substr(md5(rtext), 1, 8) AS BIGINT))
              AS BIGINT) AS sum_resolved_md5
  FROM rev GROUP BY source
),
t AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_responses
  FROM docs GROUP BY source
)
SELECT t.source, t.n_responses,
       CAST(coalesce(r.n_revisits, 0) AS BIGINT) AS n_revisits,
       CAST(coalesce(r.sum_resolved_md5, 0) AS BIGINT)
         AS sum_resolved_md5
FROM t LEFT JOIN r ON t.source = r.source
"""


def q_ingest_warc_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX indexing + random-access decode — the property that makes a
    100 TB archive estate cluster-splittable: documents are packed into
    real ``.warc.gz`` archives (25 archive buckets keyed doc_id % 25;
    archive size scales with the corpus, bucket count stays fixed) with
    warc_lite.build_warc_gz_indexed, which records each record's gzip
    member (offset, length) — exactly what a Common Crawl CDX(J) row
    holds, alongside the SURT url key (warc_lite.surt). Every record is
    then decoded ONLY via read_record_at(archive, offset, length) —
    never a sequential scan from byte 0 — so a broken span, a wrong
    member boundary, or a SURT mismatch breaks the md5 sums. The oracle
    states the SURT keys closed-form ('com,example,SRC)/doc/ID') and
    the per-source text census directly from documents."""
    from ..ext.hashing import md5_long

    # NULL-text docs excluded identically on both sides (the oracle's
    # sum(md5(text)) silently drops NULLs while str(None) would hash)
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    n_buckets = 25

    def _pack_index_fetch(key, pdf):
        import pandas as pd

        from klogs_spark.warc_lite import (
            build_record, build_warc_gz_indexed, cdx_fetch_rows,
            http_response,
        )

        rows = sorted(
            zip(pdf["doc_id"], pdf["source"], pdf["text"]),
            key=lambda r: int(r[0]),
        )
        recs = [
            build_record(
                "response",
                f"{int(d):012d}-0000-4000-8000-000000000000",
                f"2026-06-{int(d) % 28 + 1:02d}T00:00:00Z",
                http_response(str(t).encode("utf-8"),
                              content_type="text/plain"),
                target_uri=f"http://www.{s}.example.com/doc/{int(d)}",
            )
            for d, s, t in rows
        ]
        archive, spans = build_warc_gz_indexed(recs)
        out = {"urlkey": [], "doc_id": [], "source": [], "text": []}
        for row in cdx_fetch_rows(archive, spans):
            host = row["uri"].split("//", 1)[1].split("/", 1)[0]
            out["urlkey"].append(row["urlkey"])
            out["doc_id"].append(int(row["uri"].rsplit("/", 1)[1]))
            out["source"].append(host.split(".")[1])
            out["text"].append(row["body"].decode("utf-8"))
        return pd.DataFrame(out)

    indexed = (
        docs.withColumn("bucket", F.col("doc_id") % n_buckets)
        .groupBy("bucket")
        .applyInPandas(
            _pack_index_fetch,
            "urlkey string, doc_id long, source string, text string",
        )
    )
    return indexed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct("urlkey").cast("bigint").alias("n_urlkeys"),
        F.min("urlkey").alias("min_urlkey"),
        F.sum(md5_long(F.col("text"))).cast("bigint").alias("sum_text_md5"),
    )


SQL_INGEST_WARC_CDX = """
WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL)
SELECT source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT 'com,example,' || source || ')/doc/'
                  || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_urlkeys,
       min('com,example,' || source || ')/doc/'
           || CAST(doc_id AS VARCHAR)) AS min_urlkey,
       CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
            AS BIGINT) AS sum_text_md5
FROM docs GROUP BY source
"""


def q_ingest_cdx_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-crawl CDX diffing — what drives INCREMENTAL processing over
    monthly crawls: two crawl snapshots are packed through the real
    archive+index path (crawl A = every doc; crawl B = docs with
    doc_id%7==0 dropped, even-doc_id texts changed by a recrawl suffix,
    and a /new/{id} page added for doc_id%5==3), each archive decodes
    via its CDX spans only, and the two CDX tables FULL-OUTER-join on
    the SURT url key comparing reader-side payload digests: added
    (B only), removed (A only), changed (both, digest differs),
    unchanged (both, digest equal). The oracle states each class
    closed-form from the id rules. Scale shape: the diff is one
    urlkey-keyed outer join over index rows (tiny next to payloads) —
    archives are never re-read to compare content, the digests already
    carry it."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    n_buckets = 25

    def _cdx_rows(crawl: str):
        def fn(key, pdf):
            import pandas as pd

            from klogs_spark.warc_lite import (
                build_record, build_warc_gz_indexed, cdx_fetch_rows,
                http_response,
            )

            rows = sorted(
                zip(pdf["doc_id"], pdf["source"], pdf["text"],
                    pdf["uri_suffix"]),
                key=lambda r: (int(r[0]), str(r[3])),
            )
            recs = [
                build_record(
                    "response",
                    # record ids must be unique WITHIN the crawl too: a
                    # doc can contribute both its /doc and /new pages
                    f"{int(d):012d}-0000-4000-8000-"
                    f"{'1' if str(sfx).startswith('/new/') else '0'}"
                    f"0000000000{crawl}",
                    f"2026-{int(crawl) + 6:02d}-01T00:00:00Z",
                    http_response(str(t).encode("utf-8"),
                                  content_type="text/plain"),
                    target_uri=(
                        f"http://www.{s}.example.com{sfx}"
                    ),
                )
                for d, s, t, sfx in rows
            ]
            archive, spans = build_warc_gz_indexed(recs)
            out = {"urlkey": [], "source": [], "digest": []}
            for row in cdx_fetch_rows(archive, spans):
                host = row["uri"].split("//", 1)[1].split("/", 1)[0]
                out["urlkey"].append(row["urlkey"])
                out["source"].append(host.split(".")[1])
                out["digest"].append(row["digest"])
            return pd.DataFrame(out)

        return fn

    def crawl_cdx(rows_df, crawl: str):
        return (
            rows_df.withColumn("bucket", F.col("doc_id") % n_buckets)
            .groupBy("bucket")
            .applyInPandas(
                _cdx_rows(crawl),
                "urlkey string, source string, digest string",
            )
        )

    did = F.col("doc_id")
    page = F.concat(F.lit("/doc/"), did.cast("string"))
    crawl_a = docs.select(
        "doc_id", "source", "text", page.alias("uri_suffix")
    )
    b_kept = docs.filter(did % 7 != 0).select(
        "doc_id", "source",
        F.when(
            did % 2 == 0, F.concat(F.col("text"), F.lit(" [recrawled]"))
        ).otherwise(F.col("text")).alias("text"),
        page.alias("uri_suffix"),
    )
    b_new = docs.filter(did % 5 == 3).select(
        "doc_id", "source",
        F.concat(F.lit("fresh page "), did.cast("string")).alias("text"),
        F.concat(F.lit("/new/"), did.cast("string")).alias("uri_suffix"),
    )
    cdx_a = crawl_cdx(crawl_a, "3")
    cdx_b = crawl_cdx(b_kept.unionByName(b_new), "4")
    joined = cdx_a.alias("a").join(
        cdx_b.alias("b"), "urlkey", "full_outer"
    ).select(
        "urlkey",
        F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
        F.col("a.digest").alias("da"),
        F.col("b.digest").alias("db"),
    )
    return joined.groupBy("source").agg(
        F.sum(F.when(F.col("da").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_added"),
        F.sum(F.when(F.col("db").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_removed"),
        F.sum(
            F.when(
                F.col("da").isNotNull() & F.col("db").isNotNull()
                & (F.col("da") != F.col("db")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_changed"),
        F.sum(
            F.when(
                F.col("da").isNotNull() & (F.col("da") == F.col("db")), 1
            ).otherwise(0)
        ).cast("bigint").alias("n_unchanged"),
    )


# class rules, stated closed-form: removed iff id%7==0; of the kept,
# changed iff even id (recrawl suffix), unchanged iff odd; added iff
# id%5==3 (the /new/{id} page, disjoint urlkey namespace)
SQL_INGEST_CDX_CRAWL_DIFF = """
WITH d AS (
  SELECT doc_id, source FROM documents WHERE text IS NOT NULL
)
SELECT source,
       CAST(sum(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_added,
       CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 AND doc_id % 2 = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM d GROUP BY source
"""


def q_stream_warc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WARC ingestion end-to-end
    (streaming_ext.warc_decode_sink): the document corpus is packed into
    real ``.warc.gz`` archives (one archive per 25-doc bucket, gzip
    member per record — warc_lite) which arrive as a REAL 2-micro-batch
    binary stream; each batch parses its archives inside foreachBatch
    and appends per-record rows. The final per-source aggregate must
    equal the batch pass's answer (SAME oracle as
    ingest_warc_roundtrip), so an archive decoded twice across the
    batch boundary, a dropped record, or any parse fault in the
    streaming path breaks the md5-fingerprint sums."""
    import tempfile

    from ..ext.hashing import md5_long
    from ..streaming_ext import warc_decode_sink

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    n_buckets = 25

    def _pack(key, pdf):
        import pandas as pd

        from klogs_spark.warc_lite import (
            build_record, build_warc_gz, http_response,
        )

        recs = [
            build_record(
                "response",
                f"{int(d):012d}-0000-4000-8000-000000000000",
                f"2026-03-{int(d) % 28 + 1:02d}T00:00:00Z",
                http_response(str(t).encode("utf-8"),
                              content_type="text/plain"),
                target_uri=f"http://{s}.example.com/doc/{int(d)}",
            )
            for d, s, t in sorted(
                zip(pdf["doc_id"], pdf["source"], pdf["text"]),
                key=lambda r: int(r[0]),
            )
        ]
        return pd.DataFrame(
            {"archive_id": [int(key[0])], "payload": [build_warc_gz(recs)]}
        )

    bucketed = docs.withColumn("bucket", F.col("doc_id") % n_buckets)
    base = tempfile.mkdtemp(prefix="klogs-warcstream-")
    src, ckpt, store = f"{base}/src", f"{base}/ckpt", f"{base}/store"
    for lo, hi in ((0, 12), (12, 1 << 62)):
        # filter on the INPUT bucket column: applyInPandas blocks
        # predicate pushdown, so filtering the archive_id output would
        # gzip-pack the whole corpus per micro-batch and discard half
        (
            bucketed.filter(
                (F.col("bucket") >= lo) & (F.col("bucket") < hi)
            )
            .groupBy("bucket")
            .applyInPandas(_pack, "archive_id long, payload binary")
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema("archive_id long, payload binary")
            .parquet(src)
            .writeStream.foreachBatch(warc_decode_sink(store))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = spark.read.parquet(store)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        F.sum("payload_len").cast("bigint").alias("sum_payload_len"),
        F.sum(md5_long(F.col("text"))).cast("bigint").alias("sum_text_md5"),
    )


def q_stream_minmax_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming zone-map maintenance externally checked: two weeks of
    logs arrive as a REAL micro-batch stream through
    table.indexed_logs_sink(minmax_keys=['latency_ms']) — each batch
    appends its data AND refreshes exactly its days' (day, key) min/max
    stats — then field_range_scan answers the numeric range query from
    the STREAM-BUILT sidecar (plan-time day pruning, conservative on
    missing stats). Equality with the direct range oracle proves the
    incremental sidecar is complete: a day whose stats a batch failed to
    refresh would either mis-prune (missing rows) or never prune (extra
    rows can't happen — the scan re-filters)."""
    import tempfile

    from ..schema import LOG_SCHEMA
    from ..table import field_range_scan, indexed_logs_sink
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-01-15"
    )
    base = tempfile.mkdtemp(prefix="klogs-minmax-stream-")
    src, ckpt, tdir = f"{base}/src", f"{base}/ckpt", f"{base}/logs"
    sink = indexed_logs_sink(tdir, minmax_keys=["latency_ms", "value"])
    for lo, hi in (("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15")):
        (
            logs.filter(
                (F.col("timestamp") >= lo) & (F.col("timestamp") < hi)
            )
            .write.mode("append").parquet(src)
        )
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    hits = field_range_scan(spark, tdir, "latency_ms", lo=RANGE_SKIP_LO)
    lat = F.element_at(F.col("fields_number"), "latency_ms")
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(lat * 100).cast("bigint")).alias("lat_cents"),
    )


MERGE_UPD_FROM, MERGE_UPD_TO = "2024-01-03", "2024-01-05"
MERGE_INS_FROM, MERGE_INS_TO = "2024-01-08", "2024-01-10"


def q_table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE end-to-end (manifest.cow_merge_upsert — the
    Delta/Iceberg MERGE INTO equivalent): write week 1, then merge a batch
    that UPDATES two existing days (same keys, log line gains a ' [v2]'
    suffix) and INSERTS two brand-new days, rewriting only the touched
    partitions. The read-back counts every row once (no duplicate from a
    replace, no loss from an insert) and counts the '[v2]' rows — equality
    with the oracle's ts-range computation proves every matched row was
    replaced (not duplicated) and every new row landed exactly once."""
    import tempfile

    from ..manifest import cow_merge_upsert
    from ..table import read_logs, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-merge-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("timestamp") < MERGE_INS_FROM), tdir)
    updates = (
        logs.filter(
            (F.col("timestamp") >= MERGE_UPD_FROM)
            & (F.col("timestamp") < MERGE_UPD_TO)
        )
        .withColumn("log", F.concat(F.col("log"), F.lit(" [v2]")))
        .unionByName(
            logs.filter(
                (F.col("timestamp") >= MERGE_INS_FROM)
                & (F.col("timestamp") < MERGE_INS_TO)
            )
        )
    )
    cow_merge_upsert(spark, tdir, updates, key_cols=["timestamp"])
    return (
        read_logs(spark, tdir)
        .groupBy("date", "namespace")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("log").endswith(" [v2]").cast("int"))
            .cast("bigint")
            .alias("n_updated"),
        )
    )


SQL_TABLE_MERGE_UPSERT = f"""
SELECT CAST(ts AS DATE) AS date,
       concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS namespace,
       count(*) AS cnt,
       CAST(sum(CASE WHEN ts >= TIMESTAMP '{MERGE_UPD_FROM} 00:00:00'
                      AND ts < TIMESTAMP '{MERGE_UPD_TO} 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
FROM events
WHERE ts < TIMESTAMP '{MERGE_INS_TO} 00:00:00'
GROUP BY 1, 2
"""


# COW merge windows: a HALF day updates (so the rewritten day carries
# unchanged rows whose CDC cancellation is part of the check), one new day
# inserts beyond the base week
COWM_UPD_FROM, COWM_UPD_TO = "2024-01-03 00:00:00", "2024-01-03 12:00:00"
COWM_BASE_TO, COWM_INS_TO = "2024-01-08 00:00:00", "2024-01-09 00:00:00"


def q_table_cow_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE end-to-end (manifest.cow_merge_upsert): write
    week 1, snapshot v1, then MERGE a batch that updates HALF of Jan 3
    (same keys, log gains ' [v2]') and inserts Jan 8 — survivors written
    as new files, replaced files retained, manifest swapped. Three facts
    ship in one result, each recomputed independently by the oracle:

      * kind='state': per-(day, namespace) counts at the merged version —
        every matched row replaced exactly once, every insert landed;
      * kind='cdc': the v1→v2 row-level merge feed — deletes are exactly
        the old versions of updated rows, inserts the new versions plus
        the brand-new day, and CRUCIALLY the unchanged second half of
        Jan 3 (carried through the rewrite) cancels to nothing;
      * kind='pin': the v1 reader still sees the pre-merge table (time
        travel across a MERGE)."""
    import tempfile

    from ..manifest import (
        cow_merge_upsert,
        publish_snapshot,
        read_logs_at,
        snapshot_changes,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-cowmerge-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("timestamp") < COWM_BASE_TO), tdir)
    v1 = publish_snapshot(spark, tdir)
    n_v1 = read_logs_at(spark, tdir, v1).count()
    updates = (
        logs.filter(
            (F.col("timestamp") >= COWM_UPD_FROM)
            & (F.col("timestamp") < COWM_UPD_TO)
        )
        .withColumn("log", F.concat(F.col("log"), F.lit(" [v2]")))
        .unionByName(
            logs.filter(
                (F.col("timestamp") >= COWM_BASE_TO)
                & (F.col("timestamp") < COWM_INS_TO)
            )
        )
    )
    res = cow_merge_upsert(spark, tdir, updates, key_cols=["timestamp"])
    feed = snapshot_changes(spark, tdir, v1, res["version"])
    cdc = feed.groupBy(
        F.lit("cdc").alias("kind"),
        F.col("date").cast("string").alias("day"),
        F.col("_change_type").alias("dim"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    state = (
        read_logs_at(spark, tdir, res["version"])
        .groupBy(
            F.lit("state").alias("kind"),
            F.col("date").cast("string").alias("day"),
            F.col("namespace").alias("dim"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pin = spark.createDataFrame(
        [("pin", "total", "v1", n_v1)], "kind string, day string, dim string, cnt long"
    )
    return cdc.select("kind", "day", "dim", "cnt").unionByName(
        state.select("kind", "day", "dim", "cnt")
    ).unionByName(pin)


SQL_TABLE_COW_MERGE = f"""
WITH ev AS (
  SELECT ts, CAST(ts AS DATE) AS d,
         concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS ns
  FROM events
)
SELECT 'cdc' AS kind, CAST(d AS VARCHAR) AS day, 'delete' AS dim,
       count(*) AS cnt
FROM ev WHERE ts >= TIMESTAMP '{COWM_UPD_FROM}'
         AND ts < TIMESTAMP '{COWM_UPD_TO}'
GROUP BY 2
UNION ALL
SELECT 'cdc', CAST(d AS VARCHAR), 'insert', count(*)
FROM ev WHERE (ts >= TIMESTAMP '{COWM_UPD_FROM}'
                AND ts < TIMESTAMP '{COWM_UPD_TO}')
           OR (ts >= TIMESTAMP '{COWM_BASE_TO}'
                AND ts < TIMESTAMP '{COWM_INS_TO}')
GROUP BY 2
UNION ALL
SELECT 'state', CAST(d AS VARCHAR), ns, count(*)
FROM ev WHERE ts < TIMESTAMP '{COWM_INS_TO}'
GROUP BY 2, 3
UNION ALL
SELECT 'pin', 'total', 'v1', count(*)
FROM ev WHERE ts < TIMESTAMP '{COWM_BASE_TO}'
"""


POLICY_TODAY = "2024-01-25"  # pinned "today" for the policy job
POLICY_RETENTION = {"ns-1": 5, "ns-3": 12}
POLICY_DEFAULT_DAYS = 18


def q_table_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentiated TTL end-to-end (manifest.apply_retention_policy):
    per-namespace retention windows composed into ONE cow_delete_where
    pass — days holding expired rows rewrite once, newer days untouched. The read-back
    per-(day, namespace) counts must equal the oracle's exclusion
    computation; any row kept past its category's window (the GDPR
    failure) or dropped early breaks the hash."""
    import tempfile

    from datetime import date as _date

    from ..manifest import apply_retention_policy
    from ..table import read_logs, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-retpol-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    apply_retention_policy(
        spark, tdir, POLICY_RETENTION, POLICY_DEFAULT_DAYS,
        today=_date.fromisoformat(POLICY_TODAY),
    )
    return (
        read_logs(spark, tdir)
        .groupBy("date", "namespace")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_TABLE_RETENTION_POLICY = f"""
SELECT CAST(ts AS DATE) AS date,
       concat('ns-', CAST(user_id % 5 AS VARCHAR)) AS namespace,
       count(*) AS cnt
FROM events
WHERE NOT (
  (user_id % 5 = 1 AND CAST(ts AS DATE) < DATE '{POLICY_TODAY}'
     - INTERVAL {POLICY_RETENTION["ns-1"]} DAY)
  OR (user_id % 5 = 3 AND CAST(ts AS DATE) < DATE '{POLICY_TODAY}'
     - INTERVAL {POLICY_RETENTION["ns-3"]} DAY)
  OR (user_id % 5 NOT IN (1, 3) AND CAST(ts AS DATE) < DATE '{POLICY_TODAY}'
     - INTERVAL {POLICY_DEFAULT_DAYS} DAY)
)
GROUP BY 1, 2
"""


TT_CUT_V1 = "2024-01-08"  # snapshot v1 holds rows strictly before this
TT_CUT_V2 = "2024-01-15"  # v2 adds the second week


def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on snapshot manifests: write week 1, publish v1, APPEND
    week 2, publish v2 — then read BOTH versions through
    manifest.read_logs_at and aggregate each. The v1 read runs after the
    append exists on disk, so equality with the per-cutoff oracle proves a
    pinned reader keeps seeing the pre-append corpus (consistent reads
    across appends — the manifest layer's contract, same idea as
    Delta/Iceberg versioned reads without the format dependency)."""
    import tempfile

    from ..manifest import publish_snapshot, read_logs_at
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-timetravel-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("timestamp") < TT_CUT_V1), tdir)
    v1 = publish_snapshot(spark, tdir)
    write_logs(
        logs.filter(
            (F.col("timestamp") >= TT_CUT_V1)
            & (F.col("timestamp") < TT_CUT_V2)
        ),
        tdir,
        mode="append",
    )
    v2 = publish_snapshot(spark, tdir)

    def agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy(F.lit(version).alias("version")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("date").alias("n_days"),
            F.max("timestamp").alias("max_ts"),
        )

    return agg(read_logs_at(spark, tdir, v1), 1).unionByName(
        agg(read_logs_at(spark, tdir, v2), 2)
    )


def q_table_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshots (manifest.snapshot_changes —
    Delta's Change Data Feed recovered from the manifest layer alone):
    write week 1, publish v1, APPEND week 2 (v2), then COW-DELETE pod-7
    rows table-wide — manifest.cow_delete_where rewrites every affected
    day into NEW files while RETAINING the replaced ones on disk, so the
    v1→v3 feed can still read v1's side of the diff. The feed must show
    exactly the net effect — inserts = week-2 survivors, deletes =
    week-1 pod-7 rows — with every unchanged row carried through the
    rewrite CANCELLED by the multiset exceptAll, and week-2 pod-7 rows
    (inserted AND deleted inside the window) absent entirely. The oracle
    recomputes both sides from events, so a missed cancellation or a
    leaked rewrite row breaks the hash."""
    import tempfile

    from ..manifest import (
        cow_delete_where,
        publish_snapshot,
        snapshot_changes,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-cdc-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("timestamp") < TT_CUT_V1), tdir)
    v1 = publish_snapshot(spark, tdir)
    write_logs(
        logs.filter(
            (F.col("timestamp") >= TT_CUT_V1)
            & (F.col("timestamp") < TT_CUT_V2)
        ),
        tdir,
        mode="append",
    )
    publish_snapshot(spark, tdir)  # v2: the append, base for the COW
    res = cow_delete_where(spark, tdir, F.col("pod_name") == "pod-7")
    feed = snapshot_changes(spark, tdir, v1, res["version"])
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "date"
    ).agg(F.count(F.lit(1)).alias("n"))


SQL_TABLE_SNAPSHOT_CHANGES = f"""
WITH base AS (
  SELECT CAST(ts AS DATE) AS date, user_id % 50 AS pod, ts FROM events
)
SELECT 'insert' AS change_type, date, count(*) AS n
FROM base
WHERE ts >= TIMESTAMP '{TT_CUT_V1} 00:00:00'
  AND ts < TIMESTAMP '{TT_CUT_V2} 00:00:00' AND pod <> 7
GROUP BY 2
UNION ALL
SELECT 'delete', date, count(*)
FROM base
WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00' AND pod = 7
GROUP BY 2
"""


def q_stream_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot publishing composed into the streaming sink: a REAL
    2-micro-batch stream appends each batch through write_logs and
    publishes a manifest version per batch (the foreachBatch pattern every
    maintenance sidecar here uses), then the CDC feed between the two
    stream-published versions must equal exactly the second batch — pure
    inserts, counted per day against the from-events oracle. This is the
    consume side of exactly-once: a downstream incremental job reading
    snapshot_changes(v_N-1, v_N) sees each micro-batch once, by
    construction file-pruned to that batch's files."""
    import tempfile

    from ..manifest import publish_snapshot, snapshot_changes
    from ..schema import LOG_SCHEMA
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V2
    )
    base = tempfile.mkdtemp(prefix="klogs-streamcdc-")
    src, ckpt, tdir = f"{base}/src", f"{base}/ckpt", f"{base}/logs"
    versions = []

    def sink(batch_df, batch_id):
        write_logs(batch_df, tdir, mode="append")
        versions.append(publish_snapshot(batch_df.sparkSession, tdir))

    for lo, hi in ((None, TT_CUT_V1), (TT_CUT_V1, TT_CUT_V2)):
        part = logs.filter(F.col("timestamp") < hi)
        if lo is not None:
            part = part.filter(F.col("timestamp") >= lo)
        part.write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    feed = snapshot_changes(spark, tdir, versions[0], versions[-1])
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "date"
    ).agg(F.count(F.lit(1)).alias("n"))


def q_table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style RESTORE end-to-end (manifest.restore_snapshot): write
    week 1 → snapshot v1 → COW-delete pod-7 (v2) → RESTORE v1 (v3, one
    manifest write, zero data movement). Three externally recomputed
    facts: the restored head equals the original per-day counts, the CDC
    feed across the restore is the exact NET REVERSAL of the delete
    (pod-7's rows come back as pure inserts), and the bad version is
    still pinnable in between (its per-day counts exclude pod-7). A
    restore that copied data, missed a file, or failed to reverse the
    feed breaks the hash."""
    import tempfile

    from ..manifest import (
        cow_delete_where,
        publish_snapshot,
        read_logs_at,
        restore_snapshot,
        snapshot_changes,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-restore-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    v1 = publish_snapshot(spark, tdir)
    v2 = cow_delete_where(spark, tdir, F.col("pod_name") == "pod-7")[
        "version"
    ]
    v3 = restore_snapshot(spark, tdir, v1)
    feed = snapshot_changes(spark, tdir, v2, v3)
    undo = feed.groupBy(
        F.lit("undo_feed").alias("kind"),
        F.col("_change_type").alias("dim"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    restored = (
        read_logs_at(spark, tdir, v3)
        .groupBy(
            F.lit("restored").alias("kind"),
            F.col("date").cast("string").alias("dim"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pinned_bad = (
        read_logs_at(spark, tdir, v2)
        .groupBy(
            F.lit("pinned_v2").alias("kind"),
            F.col("date").cast("string").alias("dim"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return undo.unionByName(restored).unionByName(pinned_bad)


SQL_TABLE_RESTORE = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
         'pod-' || CAST(user_id % 50 AS VARCHAR) AS pod
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'undo_feed' AS kind, 'insert' AS dim, count(*) AS cnt
FROM ev WHERE pod = 'pod-7'
UNION ALL
SELECT 'restored', CAST(d AS VARCHAR), count(*) FROM ev GROUP BY 2
UNION ALL
SELECT 'pinned_v2', CAST(d AS VARCHAR), count(*)
FROM ev WHERE pod <> 'pod-7' GROUP BY 2
"""


def q_table_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style SHALLOW CLONE end-to-end (manifest.shallow_clone):
    write week 1 → snapshot v1 → clone by absolute reference (ZERO data
    files under the clone root — the externally checked invariant row
    pins local-file count 0) → COW-delete pod-7 ON THE CLONE. Four
    recomputed facts: the clone head excludes pod-7 per day, the clone's
    pinned v1 still serves the FULL source state through the absolute
    references, the SOURCE head still holds every row (the rewrite never
    touched source bytes), and the pre-rewrite clone directory held no
    data files at all. A clone that copied data, a rewrite that leaked
    into the source, or a reference lost anywhere breaks the hash."""
    import tempfile

    from ..manifest import (
        _list_data_files,
        cow_delete_where,
        publish_snapshot,
        read_logs_at,
        shallow_clone,
    )
    from ..table import _hadoop_fs, write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-clone-")
    src, dst = f"{base}/src", f"{base}/clone"
    write_logs(logs, src)
    v1 = publish_snapshot(spark, src)
    cres = shallow_clone(spark, src, dst)
    fs, hp, root = _hadoop_fs(spark, dst)
    n_local_before = len(_list_data_files(fs, root, hp))
    dres = cow_delete_where(spark, dst, F.col("pod_name") == "pod-7")

    def per_day(df, kind):
        return df.groupBy(
            F.lit(kind).alias("kind"),
            F.col("date").cast("string").alias("dim"),
        ).agg(F.count(F.lit(1)).alias("cnt"))

    head = per_day(read_logs_at(spark, dst, dres["version"]), "clone_head")
    pinned = per_day(
        read_logs_at(spark, dst, cres["version"]), "clone_pinned_v1"
    )
    source = per_day(read_logs_at(spark, src, v1), "source_head")
    invariant = spark.createDataFrame(
        [("invariant", "clone_local_files_before", n_local_before)],
        "kind string, dim string, cnt long",
    )
    return head.unionByName(pinned).unionByName(source).unionByName(invariant)


SQL_TABLE_SHALLOW_CLONE = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
         'pod-' || CAST(user_id % 50 AS VARCHAR) AS pod
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'clone_head' AS kind, CAST(d AS VARCHAR) AS dim,
       CAST(count(*) AS BIGINT) AS cnt
FROM ev WHERE pod <> 'pod-7' GROUP BY 2
UNION ALL
SELECT 'clone_pinned_v1', CAST(d AS VARCHAR), CAST(count(*) AS BIGINT)
FROM ev GROUP BY 2
UNION ALL
SELECT 'source_head', CAST(d AS VARCHAR), CAST(count(*) AS BIGINT)
FROM ev GROUP BY 2
UNION ALL
SELECT 'invariant', 'clone_local_files_before', CAST(0 AS BIGINT)
"""


def q_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming media decode end-to-end
    (streaming_ext.media_frame_stats_sink): the MJPEG-AVI corpus of
    multimodal_video_mjpeg arrives as a REAL 2-micro-batch binary
    stream; each batch demuxes + JPEG-decodes inside foreachBatch and
    appends per-frame stats. The final store must equal the batch
    pass's answer frame-for-frame (same closed-form oracle), so a
    payload decoded twice across the batch boundary, a dropped batch,
    or any decode fault in the streaming path breaks per-frame rows."""
    import tempfile

    from ..ext import multimodal as mm
    from ..streaming_ext import media_frame_stats_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def _synth(batches):
        import pandas as pd

        for b in batches:
            payloads = []
            for i in (int(x) for x in b["doc_id"]):
                frames = [
                    mm.synth_jpeg_gray_blocks(i % 6 + 6 * f)
                    for f in range(i % 3 + 1)
                ]
                base = i % 6
                w, h = (base % 3 + 1) * 8, (base % 2 + 1) * 8
                payloads.append(mm.synth_avi_mjpeg(frames, w, h))
            yield pd.DataFrame({"media_id": b["doc_id"], "payload": payloads})

    from ..ext.caching import key_parallel

    media = key_parallel(docs, "doc_id").mapInPandas(
        _synth, schema="media_id long, payload binary"
    )
    base = tempfile.mkdtemp(prefix="klogs-mediastream-")
    src, ckpt, stats = f"{base}/src", f"{base}/ckpt", f"{base}/stats"
    for lo, hi in ((0, 250), (250, 1 << 62)):
        media.filter(
            (F.col("media_id") >= lo) & (F.col("media_id") < hi)
        ).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("media_id long, payload binary")
            .parquet(src)
            .writeStream.foreachBatch(media_frame_stats_sink(stats))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(stats).select(
        "media_id", "frame_idx", "width", "height", "n_vals", "sum_vals"
    )


def q_table_clone_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-data feed ACROSS a shallow clone's first own rewrite:
    clone week 1 by absolute reference, COW-delete pod-7 on the clone,
    then snapshot_changes(clone, v1, v2). The from-side files are the
    SOURCE's (absolute entries), the to-side files are clone-local
    survivors — so this externally pins the grouped absolute-entry read
    path inside exceptAll: the feed must be EXACTLY pod-7's rows as
    deletes (per-day counts) with zero inserts, and the clone's pinned
    v1 must still serve the full source state afterwards. A reference
    resolved against the wrong base, a partition column lost in the
    grouped read, or carried rows failing to cancel all break rows."""
    import tempfile

    from ..manifest import (
        cow_delete_where,
        publish_snapshot,
        read_logs_at,
        shallow_clone,
        snapshot_changes,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-clonecdc-")
    src, dst = f"{base}/src", f"{base}/clone"
    write_logs(logs, src)
    publish_snapshot(spark, src)
    v1 = shallow_clone(spark, src, dst)["version"]
    v2 = cow_delete_where(spark, dst, F.col("pod_name") == "pod-7")[
        "version"
    ]
    feed = snapshot_changes(spark, dst, v1, v2)
    deletes = feed.filter(F.col("_change_type") == "delete").groupBy(
        F.lit("cdc_delete").alias("kind"),
        F.to_date("timestamp").cast("string").alias("dim"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    inserts = feed.filter(F.col("_change_type") == "insert").agg(
        F.lit("cdc").alias("kind"),
        F.lit("insert_total").alias("dim"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    pinned = (
        read_logs_at(spark, dst, v1)
        .groupBy(
            F.lit("clone_pinned_v1").alias("kind"),
            F.col("date").cast("string").alias("dim"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return deletes.unionByName(inserts).unionByName(pinned)


SQL_TABLE_CLONE_CDC = f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d,
         'pod-' || CAST(user_id % 50 AS VARCHAR) AS pod
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'cdc_delete' AS kind, CAST(d AS VARCHAR) AS dim,
       CAST(count(*) AS BIGINT) AS cnt
FROM ev WHERE pod = 'pod-7' GROUP BY 2
UNION ALL
SELECT 'cdc', 'insert_total', CAST(0 AS BIGINT)
UNION ALL
SELECT 'clone_pinned_v1', CAST(d AS VARCHAR), CAST(count(*) AS BIGINT)
FROM ev GROUP BY 2
"""


# streaming-upsert windows: batch 2's update range OVERLAPS batch 1's, so
# last-writer-wins across micro-batches is part of the external check
SUP_V2_FROM, SUP_V2_TO = "2024-01-03 00:00:00", "2024-01-03 06:00:00"
SUP_V3_FROM, SUP_V3_TO = "2024-01-03 03:00:00", "2024-01-03 09:00:00"
SUP_BASE_TO = "2024-01-08 00:00:00"
SUP_INS1_TO, SUP_INS2_TO = "2024-01-09 00:00:00", "2024-01-10 00:00:00"


def q_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT end-to-end — the Delta ``foreachBatch + MERGE``
    pattern (streaming_ext.upsert_logs_sink over manifest.cow_merge_upsert):
    a REAL 3-micro-batch stream merges into a COW table seeded with week 1.
    Batch 1 updates Jan 3 00-06 (' [v2]') and inserts Jan 8; batch 2
    RE-updates the overlapping Jan 3 03-09 (' [v3]'); batch 3 inserts
    Jan 9. The final per-day state proves: matched keys replaced exactly
    once per batch, LAST-writer-wins where batches overlap (03-06 must
    end at [v3], 00-03 stay [v2]), inserts landed once, untouched days
    untouched — every count recomputed by the oracle from events
    arithmetic. Each batch's rewrite cost is its touched days, and every
    batch publishes a pinnable snapshot version."""
    import tempfile

    from ..manifest import publish_snapshot, read_logs_at
    from ..schema import LOG_SCHEMA
    from ..streaming_ext import upsert_logs_sink
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-supsert-")
    src, ckpt, tdir = f"{base}/src", f"{base}/ckpt", f"{base}/logs"
    write_logs(logs.filter(F.col("timestamp") < SUP_BASE_TO), tdir)
    publish_snapshot(spark, tdir)

    def tagged(lo, hi, tag=None):
        part = logs.filter(
            (F.col("timestamp") >= lo) & (F.col("timestamp") < hi)
        )
        if tag:
            part = part.withColumn("log", F.concat(F.col("log"), F.lit(tag)))
        return part

    batches = [
        tagged(SUP_V2_FROM, SUP_V2_TO, " [v2]").unionByName(
            tagged(SUP_BASE_TO, SUP_INS1_TO)
        ),
        tagged(SUP_V3_FROM, SUP_V3_TO, " [v3]"),
        tagged(SUP_INS1_TO, SUP_INS2_TO),
    ]
    sink = upsert_logs_sink(tdir, key_cols=["timestamp"])
    for part in batches:
        part.write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(LOG_SCHEMA)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = read_logs_at(spark, tdir)
    return final.groupBy(
        F.col("date").cast("string").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("log").endswith(" [v2]").cast("int"))
        .cast("bigint")
        .alias("n_v2"),
        F.sum(F.col("log").endswith(" [v3]").cast("int"))
        .cast("bigint")
        .alias("n_v3"),
    )


SQL_STREAM_UPSERT_SINK = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS cnt,
       CAST(sum(CASE WHEN ts >= TIMESTAMP '{SUP_V2_FROM}'
                      AND ts < TIMESTAMP '{SUP_V3_FROM}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
       CAST(sum(CASE WHEN ts >= TIMESTAMP '{SUP_V3_FROM}'
                      AND ts < TIMESTAMP '{SUP_V3_TO}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_v3
FROM events
WHERE ts < TIMESTAMP '{SUP_INS2_TO}'
GROUP BY 1
"""


def q_table_cow_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole copy-on-write lifecycle externally hash-checked in one
    pass: fragment a week by 4 appends → snapshot v1 → COW-COMPACT the
    first day (CDC feed v1→v2 must be EMPTY — every carried row cancels)
    → COW-DELETE pod-7 (feed v2→v3 must be pure deletes) → VACUUM to one
    manifest → read the surviving table per day. Emits one row per stage
    plus the per-day post-vacuum counts; the oracle recomputes each
    number from events arithmetic, so a leaked fragment row, a
    non-cancelling rewrite, or an over-eager vacuum all break the hash."""
    import tempfile

    from ..manifest import (
        cow_compact_partition,
        cow_delete_where,
        publish_snapshot,
        read_logs_at,
        snapshot_changes,
        vacuum,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-cowlife-")
    tdir = f"{base}/logs"
    for i in range(4):
        write_logs(logs.filter(F.minute("timestamp") % 4 == i), tdir)
    v1 = publish_snapshot(spark, tdir)
    v2 = cow_compact_partition(spark, tdir, "date=2024-01-01")["version"]
    compact_feed = snapshot_changes(spark, tdir, v1, v2)
    v3 = cow_delete_where(spark, tdir, F.col("pod_name") == "pod-7")[
        "version"
    ]
    delete_feed = snapshot_changes(spark, tdir, v2, v3)
    # feeds read the RETAINED fragments, so they must materialize BEFORE
    # vacuum reclaims those files — the same consume-before-vacuum rule as
    # Delta's change feed; counts are driver-bounded (2 ints)
    stage_counts = [
        ("compact_feed", compact_feed.count()),
        ("delete_feed", delete_feed.filter("_change_type = 'delete'").count()),
    ]
    vacuum(spark, tdir, keep_versions=1)
    final = read_logs_at(spark, tdir, v3)

    stages = spark.createDataFrame(
        [(s, "total", n) for s, n in stage_counts if n > 0],
        "stage string, day string, n long",
    )
    per_day = final.groupBy(
        F.lit("post_vacuum").alias("stage"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return stages.unionByName(per_day)


SQL_TABLE_COW_LIFECYCLE = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'delete_feed' AS stage, 'total' AS day, count(*) AS n
FROM wk WHERE pod = 7
UNION ALL
SELECT 'post_vacuum', CAST(day AS VARCHAR), count(*)
FROM wk WHERE pod <> 7 GROUP BY 2
"""
# note: the oracle has no 'compact_feed' row — an empty groupBy aggregate
# emits nothing, which IS the assertion (a non-cancelling compaction would
# emit a count row and break the row-count match).


CTX_ANCHOR_TS = "2024-01-15 12:00:00"
CTX_ANCHOR_POD = "pod-7"
CTX_N = 5


def q_table_context_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interactive log-viewer context fetch (query.fetch_context),
    externally hash-checked over the real table layout: write a month of
    logs, then — given a (pod, timestamp) anchor — return the CTX_N lines
    at-or-before and the CTX_N lines after the anchor from that pod's
    stream. The ±12h horizon turns the anchor into two literal date
    bounds, so the scan partition-prunes to AT MOST TWO day directories
    (asserted file-level in tests/test_table_ops.py) and each side is a
    TakeOrderedAndProject top-n, never a day sort. The oracle recomputes
    both sides from events with identical (ts, log) tie-breaks; a pruning
    bug that widens or narrows the window, a wrong tie-break, or an
    off-by-one at the anchor boundary all break the hash."""
    import tempfile

    from ..query import fetch_context
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-02-01"
    )
    base = tempfile.mkdtemp(prefix="klogs-ctxanchor-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    return fetch_context(
        spark, tdir, CTX_ANCHOR_POD, CTX_ANCHOR_TS, n=CTX_N
    )


SQL_TABLE_CONTEXT_ANCHOR = f"""
WITH pod_stream AS (
  SELECT ts,
         'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
           || ' k=' || json_extract_string(props, '$.k')
           || CASE WHEN event_type = 'error' THEN ' error occurred'
              ELSE ' ok' END AS log
  FROM events
  WHERE user_id % 50 = 7
    AND ts < TIMESTAMP '2024-02-01 00:00:00'
    AND ts >= TIMESTAMP '{CTX_ANCHOR_TS}' - INTERVAL 12 HOUR
    AND ts <= TIMESTAMP '{CTX_ANCHOR_TS}' + INTERVAL 12 HOUR
),
b AS (
  SELECT 'before' AS direction, ts AS "timestamp",
         '{CTX_ANCHOR_POD}' AS pod_name, log
  FROM pod_stream WHERE ts <= TIMESTAMP '{CTX_ANCHOR_TS}'
  ORDER BY ts DESC, log DESC LIMIT {CTX_N}
),
a AS (
  SELECT 'after' AS direction, ts AS "timestamp",
         '{CTX_ANCHOR_POD}' AS pod_name, log
  FROM pod_stream WHERE ts > TIMESTAMP '{CTX_ANCHOR_TS}'
  ORDER BY ts ASC, log ASC LIMIT {CTX_N}
)
SELECT * FROM b UNION ALL SELECT * FROM a
"""


def q_table_cow_promoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COW rewrites × promoted columns, externally hash-checked (the r11
    ``manifest._restore_promotions`` fix): every COW verb must re-derive
    the promoted physical column from the row's map for every carried row
    — the r10 bug dropped it entirely, so promoted reads silently lost
    data after any rewrite.

    Build: plain history (pods 3/13, no physical column) + promoted
    appends for the rest ({'level': 'level_p'}) — every day holds MIXED
    schemas and the table is promotions_deficient. Then snapshot →
    COW-DELETE second<30 (rewrites every day, so even the plain-history
    rows gain the physical column) → COW-MERGE replacing pod-5 survivors
    with a NEW map level 'merged' (the restored column must follow the
    new map, not any stale copy) → COW-COMPACT day 1 → vacuum. The final
    read groups by the PHYSICAL ``level_p`` column — if any rewrite
    dropped, nulled, or staled it, rows land in a NULL/wrong bucket and
    the hash breaks against the oracle's closed-form re-derivation."""
    import tempfile

    from ..manifest import (
        cow_compact_partition,
        cow_delete_where,
        cow_merge_upsert,
        publish_snapshot,
        vacuum,
    )
    from ..table import write_logs, write_logs_promoted
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-cowpromo-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("pod_name").isin("pod-3", "pod-13")), tdir)
    write_logs_promoted(
        logs.filter(~F.col("pod_name").isin("pod-3", "pod-13")),
        tdir,
        {"level": "level_p"},
    )
    publish_snapshot(spark, tdir)
    cow_delete_where(spark, tdir, F.second("timestamp") < 30)
    updates = (
        logs.filter(
            (F.col("pod_name") == "pod-5") & (F.second("timestamp") >= 30)
        )
        .withColumn(
            "fields_string",
            F.map_from_arrays(
                F.array(F.lit("level")), F.array(F.lit("merged"))
            ),
        )
    )
    cow_merge_upsert(spark, tdir, updates, key_cols=["timestamp", "pod_name"])
    cow_compact_partition(spark, tdir, "date=2024-01-01")
    vacuum(spark, tdir, keep_versions=1)
    # group by the PHYSICAL promoted column — no map fallback, no coalesce
    return (
        spark.read.parquet(tdir)
        .groupBy(
            F.col("date").cast("string").alias("day"),
            F.col("level_p").alias("level"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_TABLE_COW_PROMOTED_ROUNDTRIP = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod,
         CASE WHEN event_type = 'error' THEN 'error'
              WHEN event_type = 'signup' THEN 'warn'
              ELSE 'info' END AS lvl
  FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
    AND EXTRACT(SECOND FROM ts) >= 30
)
SELECT CAST(day AS VARCHAR) AS day,
       CASE WHEN pod = 5 THEN 'merged' ELSE lvl END AS level,
       CAST(count(*) AS BIGINT) AS n
FROM wk
GROUP BY 1, 2
"""


def q_table_cow_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COW UPDATE ... SET, externally hash-checked (manifest.
    cow_update_where — the last verb of the Delta rewrite family): write
    a promoted table, snapshot, then update every second<30 row —
    ``log`` gains a suffix recording the PRE-update level (simultaneous-
    assignment semantics: the SET expression must see the old map) while
    ``fields_string`` rewrites the level to 'audited' (whose promoted
    physical column must follow the NEW map via the rewrite's promotion
    restore). The final read groups day × physical level and sums log
    lengths — a chained-withColumn implementation (log would see the new
    map), a dropped promotion, a carried-row mutation, or an unmatched-
    day rewrite all break the hash against the oracle's closed-form
    reconstruction from events."""
    import tempfile

    from ..manifest import cow_update_where, publish_snapshot, read_snapshot
    from ..table import write_logs_promoted
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-cowupd-")
    tdir = f"{base}/logs"
    write_logs_promoted(logs, tdir, {"level": "level_p"})
    publish_snapshot(spark, tdir)
    res = cow_update_where(
        spark, tdir, F.second("timestamp") < 30,
        {
            "log": F.concat(
                F.col("log"),
                F.lit(" [was:"),
                F.element_at(F.col("fields_string"), "level"),
                F.lit("]"),
            ),
            "fields_string": F.map_from_arrays(
                F.array(F.lit("level")), F.array(F.lit("audited"))
            ),
        },
    )
    return (
        read_snapshot(spark, tdir, res["version"])
        .groupBy(
            F.col("date").cast("string").alias("day"),
            F.col("level_p").alias("level"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("log")).cast("bigint").alias("log_chars"),
        )
    )


SQL_TABLE_COW_UPDATE = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day,
         EXTRACT(SECOND FROM ts) < 30 AS hit,
         CASE WHEN event_type = 'error' THEN 'error'
              WHEN event_type = 'signup' THEN 'warn'
              ELSE 'info' END AS lvl,
         'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
           || ' k=' || json_extract_string(props, '$.k')
           || CASE WHEN event_type = 'error' THEN ' error occurred'
              ELSE ' ok' END AS log
  FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT CAST(day AS VARCHAR) AS day,
       CASE WHEN hit THEN 'audited' ELSE lvl END AS level,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(log) + CASE WHEN hit
              THEN 6 + length(lvl) + 1 ELSE 0 END) AS BIGINT) AS log_chars
FROM wk
GROUP BY 1, 2
"""


def q_table_snapshot_mixed_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-schema time travel, externally hash-checked (the r12 VERDICT
    hole): a snapshot whose manifest pins BOTH plain-history files (no
    promoted physical column) and promoted files must read with the
    promoted column resolved — NULL on plain rows, real values on promoted
    rows. Pre-fix, read_snapshot's non-mergeSchema read let schema
    inference land on a plain file and silently DROP the column from the
    whole snapshot, so the grouped read below would collapse every level
    into one bucket (or fail) and break the hash.

    Build: pods 3/13 written plain, the rest via write_logs_promoted
    ({'level': 'level_p'}) — every day mixes schemas. Snapshot, then
    group the SNAPSHOT read by day × the physical column (NULL → 'absent'
    sentinel so the bucket is hash-stable). The oracle re-derives the
    promoted value from the row recipe and routes plain pods to 'absent'."""
    import tempfile

    from ..manifest import publish_snapshot, read_snapshot
    from ..table import write_logs, write_logs_promoted
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-snapmix-")
    tdir = f"{base}/logs"
    write_logs(logs.filter(F.col("pod_name").isin("pod-3", "pod-13")), tdir)
    write_logs_promoted(
        logs.filter(~F.col("pod_name").isin("pod-3", "pod-13")),
        tdir,
        {"level": "level_p"},
    )
    v1 = publish_snapshot(spark, tdir)
    return (
        read_snapshot(spark, tdir, v1)
        .groupBy(
            F.col("date").cast("string").alias("day"),
            F.coalesce(F.col("level_p"), F.lit("absent")).alias("level"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_TABLE_SNAPSHOT_MIXED_SCHEMA = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod,
         CASE WHEN event_type = 'error' THEN 'error'
              WHEN event_type = 'signup' THEN 'warn'
              ELSE 'info' END AS lvl
  FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT CAST(day AS VARCHAR) AS day,
       CASE WHEN pod IN (3, 13) THEN 'absent' ELSE lvl END AS level,
       CAST(count(*) AS BIGINT) AS n
FROM wk
GROUP BY 1, 2
"""


SQL_STREAM_SNAPSHOT_CDC = f"""
SELECT 'insert' AS change_type, CAST(ts AS DATE) AS date, count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '{TT_CUT_V1} 00:00:00'
  AND ts < TIMESTAMP '{TT_CUT_V2} 00:00:00'
GROUP BY 2
"""


SQL_TABLE_TIME_TRAVEL = f"""
SELECT 1 AS version, count(*) AS n_rows,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       max(ts) AS max_ts
FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
UNION ALL
SELECT 2 AS version, count(*) AS n_rows,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       max(ts) AS max_ts
FROM events WHERE ts < TIMESTAMP '{TT_CUT_V2} 00:00:00'
"""


SQL_TABLE_DELETE_WHERE = f"""
SELECT CAST(ts AS DATE) AS date,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT user_id % 5) AS BIGINT) AS n_namespaces,
       max(ts) AS max_ts
FROM events
WHERE ts < TIMESTAMP '2024-02-01 00:00:00'
  AND NOT (
    CAST(ts AS DATE) = DATE '{DELETE_FULL_DAY}'
    OR (user_id % 5 = 1 AND CAST(ts AS DATE) BETWEEN
        DATE '{DELETE_NS_FROM}' AND DATE '{DELETE_NS_TO}')
  )
GROUP BY 1
"""


def q_table_zorder_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-ordered table through the same lifecycle as table_delete_where
    — write (Morton layout), compact one day, predicate-delete another —
    then a per-day aggregate of what survives. Equality against the
    exclusion oracle proves the LAYOUT-AWARE maintenance path (compaction
    and deletes re-sorting by the recorded z-order marker, not the
    lexicographic default) loses and duplicates nothing; the physical
    z-sortedness itself is pinned by tests/test_table_ops.py."""
    import tempfile

    from ..manifest import cow_compact_partition, cow_delete_where
    from ..table import read_logs, write_logs_zordered
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < "2024-02-01"
    )
    base = tempfile.mkdtemp(prefix="klogs-zlife-")
    tdir = f"{base}/logs"
    write_logs_zordered(logs, tdir)
    cow_compact_partition(spark, tdir, "date=2024-01-02")
    cow_delete_where(
        spark, tdir,
        f"(date = DATE '{DELETE_FULL_DAY}') OR "
        f"(namespace = 'ns-1' AND date BETWEEN DATE '{DELETE_NS_FROM}' "
        f"AND DATE '{DELETE_NS_TO}')",
    )
    return (
        read_logs(spark, tdir)
        .groupBy("date")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("namespace").alias("n_namespaces"),
            F.max("timestamp").alias("max_ts"),
        )
    )


SKIPINDEX_NEEDLE = "user=42"


def q_table_fulltext_skipindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token-Bloom data-skipping read path end-to-end (the Spark
    equivalent of a ClickHouse tokenbf_v1 index, beyond the reference DDL):
    write the derived logs table, build the per-day Bloom sidecar, then run
    a whole-token full-text search that consults the sidecar at plan time
    and scans only candidate day partitions. The needle token
    '{SKIPINDEX_NEEDLE}' appears exactly on lines of user 42, so the oracle
    is the direct user_id = 42 aggregate over events — equality proves the
    index build, the driver-side membership test, and the partition-pruned
    read lose nothing (Bloom false negatives are impossible)."""
    import tempfile

    from ..table import fulltext_token_search, write_logs, write_token_bloom_index
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="klogs-skipidx-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    write_token_bloom_index(spark, tdir)
    hits = fulltext_token_search(spark, tdir, [SKIPINDEX_NEEDLE])
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )


SQL_TABLE_FULLTEXT_SKIPINDEX = """
SELECT CAST(ts AS DATE) AS date,
       CAST(count(*) AS BIGINT) AS cnt,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM events
WHERE user_id = 42
GROUP BY 1
"""


_SKIPIDX_TABLES: dict = {}


def _indexed_logs_table(spark: SparkSession, sf_dir: str) -> str:
    """Shared build for the skip-index search queries: one derived-logs
    table + token-Bloom sidecar per (session, sf_dir) — the index is
    corpus-level state, not per-query work."""
    import os
    import tempfile

    from ..table import write_logs, write_token_bloom_index
    from ..views import derive_logs_from_events

    tdir = _SKIPIDX_TABLES.get(sf_dir)
    if tdir and os.path.exists(f"{tdir}/_token_bloom"):
        return tdir
    tdir = tempfile.mkdtemp(prefix="klogs-skipidx-") + "/logs"
    write_logs(derive_logs_from_events(spark, sf_dir), tdir)
    write_token_bloom_index(spark, tdir)
    _SKIPIDX_TABLES[sf_dir] = tdir
    return tdir


SKIPINDEX_OR_NEEDLES = ["user=42", "user=43"]


def q_table_fulltext_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-tokens over the token-Bloom skip index (match='any'): the
    candidate-day set is the UNION of each needle's qualifying days, and
    the row filter keeps lines containing at least one whole token. The
    oracle is the direct user_id IN (42, 43) aggregate — equality proves
    the any-mode pruning loses nothing."""
    from ..table import fulltext_token_search

    tdir = _indexed_logs_table(spark, sf_dir)
    hits = fulltext_token_search(
        spark, tdir, SKIPINDEX_OR_NEEDLES, match="any"
    )
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("pod_name").alias("n_pods"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )


SQL_TABLE_FULLTEXT_OR = """
SELECT CAST(ts AS DATE) AS date,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT 'pod-' || CAST(user_id % 50 AS VARCHAR))
            AS BIGINT) AS n_pods,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM events
WHERE user_id IN (42, 43)
GROUP BY 1
"""


SKIPINDEX_PHRASE = "type=error user=42"


def q_table_fulltext_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase search over the SAME sidecar: days are pruned by
    requiring ALL of the phrase's tokens (a phrase can only live where each
    token lives), then the exact contiguous phrase is verified by substring
    containment on the pruned scan. The oracle rebuilds the log line in SQL
    and applies the identical LIKE — equality proves the token-level prune
    never loses a phrase match."""
    from ..table import fulltext_phrase_search

    tdir = _indexed_logs_table(spark, sf_dir)
    hits = fulltext_phrase_search(spark, tdir, SKIPINDEX_PHRASE)
    return hits.groupBy("date").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("timestamp").alias("min_ts"),
        F.max("timestamp").alias("max_ts"),
    )


SQL_TABLE_FULLTEXT_PHRASE = f"""
WITH lg AS (
  SELECT ts,
         'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
           || ' k=' || json_extract_string(props, '$.k')
           || CASE WHEN event_type = 'error' THEN ' error occurred'
              ELSE ' ok' END AS log
  FROM events
)
SELECT CAST(ts AS DATE) AS date,
       CAST(count(*) AS BIGINT) AS cnt,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM lg
WHERE log LIKE '%{SKIPINDEX_PHRASE}%'
GROUP BY 1
"""


def q_sources_syslog_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7's third parser family, externally checked: synthesize a MIXED
    syslog stream from events (every 3rd user emits RFC 3164 BSD lines, the
    rest RFC 5424), run the REAL parse_syslog_lines (dual-regex dispatch +
    PRI facility/severity decomposition), aggregate per (format, facility,
    severity). The oracle computes the expected aggregate DIRECTLY from
    events — equality proves both regexes, the format dispatch, and the
    PRI arithmetic end-to-end."""
    from ..sources import parse_syslog_lines

    ev = load_table(spark, sf_dir, "events")
    severity = (
        F.when(F.col("event_type") == "error", 3)
        .when(F.col("event_type") == "signup", 4)
        .otherwise(6)
    )
    pri = (F.lit(16 * 8) + severity).cast("string")  # facility 16 = local0
    host = F.concat(F.lit("node-"), (F.col("user_id") % 8).cast("string"))
    app = F.col("event_type")
    pid = F.col("user_id").cast("string")
    msg = F.concat(
        F.lit("type="), F.col("event_type"),
        F.lit(" user="), F.col("user_id").cast("string"),
    )
    line_5424 = F.concat(
        F.lit("<"), pri, F.lit(">1 "),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.lit(" "), host, F.lit(" "), app, F.lit(" "), pid,
        F.lit(" - - "), msg,
    )
    line_3164 = F.concat(
        F.lit("<"), pri, F.lit(">"),
        F.date_format("ts", "MMM dd HH:mm:ss"),
        F.lit(" "), host, F.lit(" "), app, F.lit("["), pid, F.lit("]: "), msg,
    )
    raw = ev.select(
        F.when(F.col("user_id") % 3 == 0, line_3164)
        .otherwise(line_5424)
        .alias("value")
    )
    parsed = parse_syslog_lines(raw)
    return parsed.groupBy("format", "facility", "severity").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("host").alias("n_hosts"),
        F.count_distinct("procid").alias("n_procs"),
        F.sum(F.length("content")).alias("total_chars"),
        F.min("log_time").alias("first_time"),
        F.max("log_time").alias("last_time"),
    )


SQL_SOURCES_SYSLOG_PIPELINE = """
WITH ev AS (
  SELECT CASE WHEN user_id % 3 = 0 THEN 'rfc3164' ELSE 'rfc5424' END
           AS format,
         CASE WHEN event_type = 'error' THEN 3
              WHEN event_type = 'signup' THEN 4 ELSE 6 END AS severity,
         'node-' || CAST(user_id % 8 AS VARCHAR) AS host,
         CAST(user_id AS VARCHAR) AS procid,
         'type=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
           AS msg,
         CASE WHEN user_id % 3 = 0 THEN strftime(ts, '%b %d %H:%M:%S')
              ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' END AS t
  FROM events
)
SELECT format, 16 AS facility, severity,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT procid) AS BIGINT) AS n_procs,
       CAST(sum(length(msg)) AS BIGINT) AS total_chars,
       min(t) AS first_time, max(t) AS last_time
FROM ev GROUP BY format, severity
"""


def q_sources_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key rate limiting (Fluent Bit `throttle` filter),
    externally checked: keep the first 2 records per (namespace, hour) in
    (ts, user_id) order — a total order on this corpus — then audit
    kept/dropped per namespace. One window shuffle; the oracle replays the
    same ROW_NUMBER rule in SQL."""
    from ..sources import throttle_per_key

    ev = load_table(spark, sf_dir, "events")
    logs = ev.select(
        F.concat(F.lit("ns-"), (F.col("user_id") % 5).cast("string")).alias(
            "namespace"
        ),
        F.col("ts"),
        F.col("user_id"),
    )
    audited = throttle_per_key(
        logs, keys=("namespace",), time_col="ts", bucket="1 hour",
        limit=2, tiebreak=("user_id",),
    )
    return audited.groupBy("namespace").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).alias("n_dropped"),
        F.max(F.when(F.col("kept"), F.col("ts"))).alias("last_kept_ts"),
    )


SQL_SOURCES_THROTTLE = """
WITH r AS (
  SELECT 'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id % 5, date_trunc('hour', ts)
           ORDER BY ts, user_id) AS rn
  FROM events
)
SELECT namespace,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rn <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       max(CASE WHEN rn <= 2 THEN ts END) AS last_kept_ts
FROM r GROUP BY namespace
"""


def _sql_stream_cms_merge() -> str:
    # merge-by-sum makes the streamed store equal the batch sketch, so the
    # oracle is the batch CMS heavy-hitters SQL verbatim
    from .ext import SQL_TEXT_CMS_HEAVY_HITTERS

    return SQL_TEXT_CMS_HEAVY_HITTERS


_SQL_STREAM_CMS_MERGE = _sql_stream_cms_merge()


def q_stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch streaming: each micro-batch builds its OWN count-min
    counter grid and parquet-appends it to a sketch store — at most
    depth x width rows per batch no matter how many tokens the batch held —
    and merge is SUM over cells at read time, the defining CMS property.
    Two availableNow drains split the corpus by doc_id; the merged
    estimate hash-equals the single batch sketch over the full corpus
    (the oracle), which is exactly the losslessly-distributes claim.

    At 100 TB this is the sketch-per-partition pattern: per-day (or
    per-executor) grids appended independently, heavy-hitter queries read
    kilobytes of counters and never rescan the corpus."""
    import tempfile

    from ..ext import dedup as dd
    from ..ext import text as tx

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="klogs-cms-stream-")
    src, ckpt, store = f"{base}/src", f"{base}/ckpt", f"{base}/store"

    def drain() -> None:
        stream = spark.readStream.schema(
            "doc_id bigint, text string"
        ).parquet(src)

        def sink(batch: DataFrame, batch_id: int) -> None:
            toks = batch.select(
                F.explode(dd.tokens_col(F.col("text"))).alias("tok")
            )
            tx.cms_counters(toks).write.mode("append").parquet(store)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    docs.filter(F.col("doc_id") < 250).write.mode("append").parquet(src)
    drain()
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    drain()

    merged = (
        spark.read.parquet(store)
        .groupBy("d", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    toks = docs.select(F.explode(dd.tokens_col(F.col("text"))).alias("tok"))
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "tok")
        .limit(20)
    )
    return (
        tx.cms_estimate(top, merged)
        .join(top, "tok")
        .select(
            "tok", "exact_cnt", "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


def q_table_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE ... SET (manifest.mor_update_where — old
    rows join the deletion vector, updated copies append as new files;
    the Iceberg-v3 update model) externally hash-checked: write a week →
    snapshot v1 → MOR-UPDATE pod-7's log lines with a ' [v2]' suffix.
    The checks: NO original file leaves the manifest (removed-files
    count emitted, oracle expects it absent — the delete side is pure
    vector, never a day rewrite), the head serves every pod-7 row
    tagged and every other row untagged with the total unchanged, and a
    pinned v1 read still serves ZERO tagged rows (vector + appended
    files are both invisible to the old snapshot). Every number is
    events arithmetic in the oracle."""
    import tempfile

    from ..manifest import (
        _manifest_files,
        mor_update_where,
        publish_snapshot,
        read_logs_at,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-morupd-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    v1 = publish_snapshot(spark, tdir)
    r = mor_update_where(
        spark, tdir, F.col("pod_name") == "pod-7",
        {"log": F.concat(F.col("log"), F.lit(" [v2]"))},
    )
    removed = set(_manifest_files(spark, tdir, v1)) - set(
        _manifest_files(spark, tdir, r["version"])
    )
    pinned_tagged = (
        read_logs_at(spark, tdir, v1)
        .filter(F.col("log").endswith(" [v2]"))
        .count()
    )
    stage_counts = [
        ("files_removed", len(removed)),
        ("pinned_v1_tagged", pinned_tagged),
        ("rows_updated", r["rows_updated"]),
    ]
    stages = spark.createDataFrame(
        [(s, "total", n) for s, n in stage_counts if n > 0],
        "stage string, day string, n long",
    )
    per_day = read_logs_at(spark, tdir).groupBy(
        F.lit("post_update").alias("stage"),
        F.col("date").cast("string").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("log").endswith(" [v2]").cast("long")).alias("n_tagged"),
    )
    return stages.unionByName(per_day, allowMissingColumns=True).select(
        "stage", "day", "n", F.coalesce("n_tagged", F.lit(-1)).alias("n_tagged")
    )


SQL_TABLE_MOR_UPDATE = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'rows_updated' AS stage, 'total' AS day, count(*) AS n,
       CAST(-1 AS BIGINT) AS n_tagged
FROM wk WHERE pod = 7
UNION ALL
SELECT 'post_update', CAST(day AS VARCHAR), count(*),
       CAST(sum(CASE WHEN pod = 7 THEN 1 ELSE 0 END) AS BIGINT)
FROM wk GROUP BY 2
"""
# note: the oracle has no 'files_removed' row (an update that dropped
# any original file from the manifest would emit one) and no
# 'pinned_v1_tagged' row (an old snapshot that can see the update —
# through the vector or the appended files — would).


def q_stream_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR propagation end-to-end
    (streaming_ext.gdpr_delete_sink over manifest.mor_delete_where): a
    COW table seeded with week 1, then a REAL 2-micro-batch stream of
    deletion requests — batch 1 requests pod-7, batch 2 requests pod-8
    PLUS a replayed pod-7 (the at-least-once duplicate). Each batch
    applies as one merge-on-read delete: positions recorded in the
    vector, ZERO data files rewritten (the v1-vs-head manifest file
    lists must be identical — emitted as a files_churned count the
    oracle expects absent), the replayed request must find nothing (its
    rows are already vector-deleted, so re-deleting double-counts
    nothing), and a pinned v1 read still serves every requested-away
    row. The final per-day census is recomputed by the oracle from
    events arithmetic."""
    import tempfile

    from ..manifest import (
        _manifest_files,
        publish_snapshot,
        read_logs_at,
        snapshot_versions,
    )
    from ..streaming_ext import gdpr_delete_sink
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-sgdpr-")
    src, ckpt, tdir = f"{base}/src", f"{base}/ckpt", f"{base}/logs"
    write_logs(logs, tdir)
    v1 = publish_snapshot(spark, tdir)
    sink = gdpr_delete_sink(tdir, key_col="pod_name")
    for keys in (["pod-7"], ["pod-8", "pod-7"]):
        spark.createDataFrame(
            [(k,) for k in keys], "pod_name string"
        ).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema("pod_name string")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    head_v = snapshot_versions(spark, tdir)[-1]
    churned = set(_manifest_files(spark, tdir, v1)) ^ set(
        _manifest_files(spark, tdir, head_v)
    )
    stage_counts = [
        ("files_churned", len(churned)),
        ("pinned_v1", read_logs_at(spark, tdir, v1).count()),
    ]
    stages = spark.createDataFrame(
        [(s, "total", n) for s, n in stage_counts if n > 0],
        "stage string, day string, n long",
    )
    per_day = read_logs_at(spark, tdir).groupBy(
        F.lit("post_delete").alias("stage"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return stages.unionByName(per_day)


SQL_STREAM_GDPR_DELETE = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'pinned_v1' AS stage, 'total' AS day, count(*) AS n FROM wk
UNION ALL
SELECT 'post_delete', CAST(day AS VARCHAR), count(*)
FROM wk WHERE pod NOT IN (7, 8) GROUP BY 2
"""
# note: the oracle has no 'files_churned' row — a streaming delete that
# rewrote or dropped ANY data file would emit one and break the match.


def q_table_mor_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read delete lifecycle (deletion vectors — the
    delete tier next to copy-on-write) externally
    hash-checked in one pass: write a week → snapshot v1 → MOR-DELETE
    pod-7 (manifest.mor_delete_where: positions recorded in a `_dv/`
    generation, ZERO data files written — the v1→v2 manifest file lists
    must be IDENTICAL, emitted as a files_churned count the oracle
    expects absent) → the v1→v2 CDC feed must be pure deletes (the
    position-diff path of snapshot_changes) → a pinned v1 read still
    serves everything (historical vector resolution) → RESTORE v1 (the
    v2→v3 feed is the pure-insert reversal, the restore re-points the
    vector sidecar) → MOR-DELETE again → DV_COMPACT folds the vector
    into a COW rewrite and clears it → the final per-day read. Every
    number is recomputed by the oracle from events arithmetic; a
    resurrected row, a wrong vector resolution, a non-reversing
    restore, or a lossy fold all break the hash."""
    import tempfile

    from ..manifest import (
        _manifest_files,
        dv_compact,
        mor_delete_where,
        publish_snapshot,
        read_logs_at,
        snapshot_changes,
    )
    from ..manifest import restore_snapshot as _restore
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-morlife-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    v1 = publish_snapshot(spark, tdir)
    r = mor_delete_where(spark, tdir, F.col("pod_name") == "pod-7")
    v2 = r["version"]
    churned = set(_manifest_files(spark, tdir, v1)) ^ set(
        _manifest_files(spark, tdir, v2)
    )
    delete_feed = snapshot_changes(spark, tdir, v1, v2)
    n_pinned = read_logs_at(spark, tdir, v1).count()
    v3 = _restore(spark, tdir, v1)
    undelete_feed = snapshot_changes(spark, tdir, v2, v3)
    stage_counts = [
        ("files_churned", len(churned)),
        ("delete_feed",
         delete_feed.filter("_change_type = 'delete'").count()),
        ("nondelete_feed",
         delete_feed.filter("_change_type <> 'delete'").count()),
        ("pinned_v1", n_pinned),
        ("undelete_feed",
         undelete_feed.filter("_change_type = 'insert'").count()),
        # a restore feed polluted with spurious deletes would keep the
        # insert count intact — pin the other side to zero too
        ("undelete_nondelete",
         undelete_feed.filter("_change_type <> 'insert'").count()),
    ]
    mor_delete_where(spark, tdir, F.col("pod_name") == "pod-7")
    folded = dv_compact(spark, tdir)["positions_folded"]
    stage_counts.append(("folded", folded))
    stages = spark.createDataFrame(
        [(s, "total", n) for s, n in stage_counts if n > 0],
        "stage string, day string, n long",
    )
    per_day = read_logs_at(spark, tdir).groupBy(
        F.lit("post_compact").alias("stage"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return stages.unionByName(per_day)


SQL_TABLE_MOR_LIFECYCLE = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, user_id % 50 AS pod FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'delete_feed' AS stage, 'total' AS day, count(*) AS n
FROM wk WHERE pod = 7
UNION ALL
SELECT 'pinned_v1', 'total', count(*) FROM wk
UNION ALL
SELECT 'undelete_feed', 'total', count(*) FROM wk WHERE pod = 7
UNION ALL
SELECT 'folded', 'total', count(*) FROM wk WHERE pod = 7
UNION ALL
SELECT 'post_compact', CAST(day AS VARCHAR), count(*)
FROM wk WHERE pod <> 7 GROUP BY 2
"""
# note: the oracle has no 'files_churned' row (a MOR delete that rewrote
# or dropped ANY data file would emit one and break the row match), no
# 'nondelete_feed' row (a delete feed polluted with spurious inserts
# would emit one), and no 'undelete_nondelete' row (a restore feed
# polluted with spurious deletes would).


def q_table_dv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded deletion-vector maintenance externally hash-checked
    (VERDICT r17 #3/#7): a 3-day GDPR drip of tiny MOR deletes (the
    minute-7 rows of each day, one day per delete) builds a
    3-generation chain. dv_compact at maintain's default threshold must
    KEEP every position live — positions_kept equals the full drip and
    the oracle carries no 'folded'/'days_rewritten' rows, so folding
    ANYTHING breaks the row match (the unconditional-fold regression
    this tier exists to prevent). dv_coalesce must then collapse the
    chain to exactly ONE generation dropping nothing, with zero
    data-file churn across the whole sequence (no 'files_churned' row),
    and the final per-day read serves the survivors merge-on-read.

    The delete key is deliberately NOT cluster-key-aligned (review
    r18): write_logs cluster-sorts by pod_name, so a per-pod delete
    concentrates in one file and can cross the per-FILE fold ratio once
    a day spans several files — minute-of-hour rows disperse uniformly
    through every file (~1.7% each), keeping the no-fold guarantee
    layout- and scale-independent."""
    import tempfile

    from ..manifest import (
        _manifest_files,
        dv_coalesce,
        dv_compact,
        mor_delete_where,
        publish_snapshot,
        read_logs_at,
    )
    from ..table import write_logs
    from ..views import derive_logs_from_events

    logs = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-dvmaint-")
    tdir = f"{base}/logs"
    write_logs(logs, tdir)
    v1 = publish_snapshot(spark, tdir)
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    for d in days:
        mor_delete_where(
            spark, tdir,
            (F.minute("timestamp") == 7) & (F.col("date") == d),
        )
    resc = dv_compact(spark, tdir, min_deleted_ratio=0.1)
    resl = dv_coalesce(spark, tdir)
    churned = set(_manifest_files(spark, tdir, v1)) ^ set(
        _manifest_files(spark, tdir, resl["version"])
    )
    stage_counts = [
        ("kept_live", resc["positions_kept"]),
        ("folded", resc["positions_folded"]),
        ("days_rewritten", len(resc["partitions_rewritten"])),
        ("generations", resl["generations_after"]),
        ("dropped", resl["positions_dropped"]),
        ("files_churned", len(churned)),
    ]
    stages = spark.createDataFrame(
        [(s, "total", n) for s, n in stage_counts if n > 0],
        "stage string, day string, n long",
    )
    per_day = read_logs_at(spark, tdir).groupBy(
        F.lit("post_maintain").alias("stage"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return stages.unionByName(per_day)


_DV_MAINT_DAYS = "DATE '2024-01-01', DATE '2024-01-02', DATE '2024-01-03'"

SQL_TABLE_DV_MAINTAIN = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, date_part('minute', ts) AS mi
  FROM events
  WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
)
SELECT 'kept_live' AS stage, 'total' AS day, CAST(count(*) AS BIGINT) AS n
FROM wk WHERE mi = 7 AND day IN ({_DV_MAINT_DAYS})
UNION ALL
SELECT 'generations', 'total', CAST(1 AS BIGINT)
UNION ALL
SELECT 'post_maintain', CAST(day AS VARCHAR), CAST(count(*) AS BIGINT)
FROM wk
WHERE NOT (mi = 7 AND day IN ({_DV_MAINT_DAYS}))
GROUP BY 2
"""
# note: no 'folded' / 'days_rewritten' row (the thresholded compact must
# keep the tiny vector live — an unconditional fold emits both and
# breaks the match), no 'dropped' row (coalesce must not lose live
# positions), no 'files_churned' row (the whole sequence is metadata
# + positions writes only).


def q_stream_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-CDF consumer loop end-to-end
    (streaming_ext.cdc_rollup_sink): a REAL 2-micro-batch stream of log
    rows appends-and-publishes per batch and advances the incremental
    rollup from the manifest diff — with a GDPR merge-on-read delete of
    every minute-7 row LANDING BETWEEN THE BATCHES, so the second
    advance's version range spans a delete it never saw as a batch. The
    rollup follows the TABLE's published state, not the stream: the
    oracle recomputes the final per-(day, namespace) census from events
    arithmetic with the deletion applied only to days published before
    it (days 1-5); a rollup that applied batch arithmetic instead of
    the change feed would keep the deleted rows and break every day-1-5
    row."""
    import tempfile

    from ..manifest import mor_delete_where
    from ..streaming_ext import cdc_rollup_sink
    from ..table import read_rollup
    from ..views import derive_logs_from_events

    week = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-scdcroll-")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    tdir, rdir = f"{base}/logs", f"{base}/rollup"
    sink = cdc_rollup_sink(tdir, rdir)
    batches = [
        week.filter(F.col("timestamp") < "2024-01-06"),
        week.filter(F.col("timestamp") >= "2024-01-06"),
    ]
    for i, b in enumerate(batches):
        b.write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(week.schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if i == 0:  # the out-of-band delete between the two batches
            mor_delete_where(spark, tdir, F.minute("timestamp") == 7)
    return read_rollup(spark, rdir).select(
        F.col("date").cast("string").alias("day"),
        "namespace",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
    )


SQL_STREAM_CDC_ROLLUP = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, date_part('minute', ts) AS mi,
         'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace, event_type
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
),
served AS (
  SELECT * FROM wk WHERE NOT (mi = 7 AND day < DATE '2024-01-06')
)
SELECT CAST(day AS VARCHAR) AS day, namespace,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors
FROM served GROUP BY 1, 2
"""


def q_table_cdc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the CDC feed
    (table.incremental_rollup — the consumer side of Delta's streaming
    CDF) externally hash-checked: seed six days -> full materialization
    -> a mixed-churn interlude (tiny MOR delete of every minute-7 row,
    a rollup-NEUTRAL merge-on-read update of pod-3's log lines, an
    unpublished-then-published day-7 append, a one-day COW delete of
    pod-9 on 2024-01-02) -> ONE incremental advance applying only the
    net churn. The final state must equal the from-scratch aggregate
    (asserted in-process — a drift raises rather than hash-mismatching)
    AND the oracle's events arithmetic; the update netting to zero, the
    MOR position-diff, and the COW file-diff all feed the same delta
    join. The advance must report mode='incremental' — a silent fall
    back to full recompute raises."""
    import tempfile

    from ..manifest import (
        cow_delete_where,
        mor_delete_where,
        mor_update_where,
        publish_snapshot,
        read_snapshot,
    )
    from ..table import incremental_rollup, read_rollup, write_logs
    from ..transform import field_string
    from ..views import derive_logs_from_events

    week = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    base = tempfile.mkdtemp(prefix="klogs-cdcroll-")
    tdir, rdir = f"{base}/logs", f"{base}/rollup"
    write_logs(week.filter(F.col("timestamp") < "2024-01-07"), tdir)
    publish_snapshot(spark, tdir)
    r1 = incremental_rollup(spark, tdir, rdir)
    assert r1["mode"] == "full", r1
    # mixed churn between advances
    mor_delete_where(spark, tdir, F.minute("timestamp") == 7)
    mor_update_where(
        spark, tdir, F.col("pod_name") == "pod-3",
        {"log": F.concat(F.col("log"), F.lit(" [u]"))},
    )
    write_logs(
        week.filter(F.col("timestamp") >= "2024-01-07"), tdir,
        mode="append",
    )
    publish_snapshot(spark, tdir)
    cow_delete_where(
        spark, tdir,
        (F.col("pod_name") == "pod-9") & (F.col("date") == "2024-01-02"),
    )
    r2 = incremental_rollup(spark, tdir, rdir)
    assert r2["mode"] == "incremental", r2
    state = read_rollup(spark, rdir)
    direct = read_snapshot(spark, tdir).groupBy(
        F.col("date"), F.col("namespace")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((field_string("level") == "error").cast("long"))
        .alias("n_errors"),
    )
    drift = (
        state.exceptAll(direct).count() + direct.exceptAll(state).count()
    )
    if drift:
        raise AssertionError(
            f"incremental rollup drifted from scratch aggregate by "
            f"{drift} rows"
        )
    return state.select(
        F.col("date").cast("string").alias("day"),
        "namespace",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
    )


SQL_TABLE_CDC_ROLLUP = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, date_part('minute', ts) AS mi,
         'ns-' || CAST(user_id % 5 AS VARCHAR) AS namespace,
         user_id % 50 AS pod, event_type
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
),
served AS (
  SELECT * FROM wk
  WHERE NOT (mi = 7 AND day < DATE '2024-01-07')
    AND NOT (pod = 9 AND day = DATE '2024-01-02')
)
SELECT CAST(day AS VARCHAR) AS day, namespace,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_errors
FROM served GROUP BY 1, 2
"""


def q_table_read_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-safe PLAIN reads externally hash-checked (VERDICT r17 #2): on
    a deletion-vector-governed table, `table.read_logs`, the SQL view
    (`register_view`), and the fluent `logs_query` path must all serve
    the CURRENT LOGICAL STATE — MOR-deleted rows gone, a committed but
    UNPUBLISHED append still visible (the current state is what a
    listing publish would capture, not just the head manifest). Setup:
    publish six days -> MOR-delete every minute-7 row -> append day 7
    WITHOUT publishing. The oracle recomputes all three surfaces from
    events arithmetic; a raw directory read (the pre-fix behavior)
    resurrects the deleted rows and breaks every per-day row, while a
    head-manifest-only read drops day 7."""
    import tempfile

    from ..table import logs_query, read_logs, register_view, write_logs
    from ..manifest import mor_delete_where, publish_snapshot
    from ..views import derive_logs_from_events

    week = derive_logs_from_events(spark, sf_dir).filter(
        F.col("timestamp") < TT_CUT_V1
    )
    published = week.filter(F.col("timestamp") < "2024-01-07")
    appended = week.filter(F.col("timestamp") >= "2024-01-07")
    base = tempfile.mkdtemp(prefix="klogs-readcur-")
    tdir = f"{base}/logs"
    write_logs(published, tdir)
    publish_snapshot(spark, tdir)
    mor_delete_where(spark, tdir, F.minute("timestamp") == 7)
    write_logs(appended, tdir, mode="append")  # committed, unpublished

    plain = read_logs(spark, tdir).groupBy(
        F.lit("read_logs").alias("surface"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    register_view(spark, tdir, name="readcur_logs")
    via_sql = spark.sql(
        "SELECT 'sql_view' AS surface, CAST(date AS STRING) AS day, "
        "count(*) AS n FROM readcur_logs GROUP BY 1, 2"
    )
    fluent = logs_query(spark, tdir).where_field_eq(
        "level", "error"
    ).df.groupBy(
        F.lit("fluent_errors").alias("surface"),
        F.col("date").cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return plain.unionByName(via_sql).unionByName(fluent)


SQL_TABLE_READ_CURRENT = f"""
WITH wk AS (
  SELECT CAST(ts AS DATE) AS day, date_part('minute', ts) AS mi,
         event_type
  FROM events WHERE ts < TIMESTAMP '{TT_CUT_V1} 00:00:00'
),
served AS (  -- deletes hit only rows PUBLISHED before the append
  SELECT * FROM wk
  WHERE NOT (mi = 7 AND day < DATE '2024-01-07')
)
SELECT 'read_logs' AS surface, CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n
FROM served GROUP BY 2
UNION ALL
SELECT 'sql_view', CAST(day AS VARCHAR), CAST(count(*) AS BIGINT)
FROM served GROUP BY 2
UNION ALL
SELECT 'fluent_errors', CAST(day AS VARCHAR), CAST(count(*) AS BIGINT)
FROM served WHERE event_type = 'error' GROUP BY 2
"""


SPECS = {
    "ingest_decode_pipeline": QuerySpec(
        q_ingest_pipeline,
        SQL_INGEST_PIPELINE,
        "full decode hot path (flatten/dispatch/routing) vs direct oracle",
    ),
    "stream_windowed_watermark": QuerySpec(
        q_stream_windowed_watermark,
        SQL_STREAM_WINDOWED_WATERMARK,
        "watermarked tumbling-window counts: late-drop + append finalization "
        "under a real 3-batch stream vs batch oracle",
    ),
    "stream_session_watermark": QuerySpec(
        q_stream_session_watermark,
        SQL_STREAM_SESSION_WATERMARK,
        "watermarked session windows (15 min gap): merge + late-drop + "
        "finalization under a real 3-batch stream vs gap-sessionize oracle",
    ),
    "sources_cri_pipeline": QuerySpec(
        q_sources_cri_pipeline,
        SQL_SOURCES_CRI_PIPELINE,
        "CRI parse + multiline reassembly (S7) over synthesized split "
        "lines vs SQL reimplementation",
    ),
    "sources_k8s_enrich": QuerySpec(
        q_sources_k8s_enrich,
        SQL_SOURCES_K8S_ENRICH,
        "broadcast pod-metadata enrichment + static field (S8/S9) vs "
        "direct join oracle",
    ),
    "sources_docker_pipeline": QuerySpec(
        q_sources_docker_pipeline,
        SQL_SOURCES_DOCKER_PIPELINE,
        "docker json-file parse + multiline reassembly (S7) vs "
        "direct-from-events oracle",
    ),
    "stream_dedup_watermark": QuerySpec(
        q_stream_dedup_watermark,
        SQL_STREAM_DEDUP_WATERMARK,
        "streaming dropDuplicates with watermark: in-batch + cross-batch "
        "replay dedup + late-drop under a real 3-batch stream vs DISTINCT "
        "oracle",
    ),
    "stream_k8s_enrich": QuerySpec(
        q_stream_k8s_enrich,
        SQL_STREAM_K8S_ENRICH,
        "stream-static broadcast enrichment (S8/S9) under a real "
        "readStream/writeStream vs direct join oracle",
    ),
    "stream_interval_join": QuerySpec(
        q_stream_interval_join,
        SQL_STREAM_INTERVAL_JOIN,
        "watermarked stream-stream event-time interval join (errors x "
        "preceding clicks) vs batch join oracle",
    ),
    "stream_interval_join_left": QuerySpec(
        q_stream_interval_join_left,
        SQL_STREAM_INTERVAL_JOIN_LEFT,
        "stream-stream LEFT OUTER interval join: watermark-expired "
        "unmatched errors emit with nulls vs batch LEFT JOIN oracle",
    ),
    "sources_syslog_pipeline": QuerySpec(
        q_sources_syslog_pipeline,
        SQL_SOURCES_SYSLOG_PIPELINE,
        "mixed RFC5424/RFC3164 syslog parse + PRI decomposition (S7) vs "
        "direct-from-events oracle",
    ),
    "sources_throttle": QuerySpec(
        q_sources_throttle,
        SQL_SOURCES_THROTTLE,
        "deterministic per-key/bucket rate limiting (throttle filter) vs "
        "ROW_NUMBER oracle",
    ),
    "logs_error_runs": QuerySpec(
        q_logs_error_runs,
        SQL_LOGS_ERROR_RUNS,
        "custom stateful operator (consecutive-error runs >= 3), batch "
        "twin vs window-algebra oracle",
    ),
    "ingest_msgpack_pipeline": QuerySpec(
        q_ingest_msgpack_pipeline,
        SQL_INGEST_MSGPACK_PIPELINE,
        "Fluent Bit msgpack chunk encode -> real binary decode path -> "
        "aggregate, vs direct-from-events oracle",
    ),
    "table_lifecycle": QuerySpec(
        q_table_lifecycle,
        SQL_TABLE_LIFECYCLE,
        "write -> compact -> TTL retention -> read-back per-day aggregate "
        "vs direct-from-events oracle",
    ),
    "table_fulltext_or": QuerySpec(
        q_table_fulltext_or,
        SQL_TABLE_FULLTEXT_OR,
        "OR-of-tokens full-text search via the token-Bloom skip index "
        "(union of per-needle candidate days) vs direct aggregate oracle",
    ),
    "table_fulltext_phrase": QuerySpec(
        q_table_fulltext_phrase,
        SQL_TABLE_FULLTEXT_PHRASE,
        "quoted-phrase search: all-token Bloom prune + exact contiguous "
        "phrase verify vs LIKE oracle on the rebuilt log line",
    ),
    "table_fulltext_skipindex": QuerySpec(
        q_table_fulltext_skipindex,
        SQL_TABLE_FULLTEXT_SKIPINDEX,
        "token-Bloom partition skip index: build sidecar -> plan-time "
        "pruning -> whole-token search vs direct oracle",
    ),
    "stream_cms_merge": QuerySpec(
        q_stream_cms_merge,
        _SQL_STREAM_CMS_MERGE,
        "per-micro-batch CMS grids appended by a real foreachBatch stream, "
        "merged by cell-sum at read — equals the full-corpus batch sketch",
    ),
    "table_delete_where": QuerySpec(
        q_table_delete_where,
        SQL_TABLE_DELETE_WHERE,
        "row-level predicate delete: copy-on-write rewrite of the matched "
        "days (one fully emptied), vs exclusion oracle",
    ),
    "table_promoted_view": QuerySpec(
        q_table_promoted_view,
        SQL_TABLE_PROMOTED_VIEW,
        "promoted-column rewrite: map-key predicate transparently served "
        "by the materialized physical column (marker-driven, plan-asserted "
        "map-free)",
    ),
    "table_mor_update": QuerySpec(
        q_table_mor_update, SQL_TABLE_MOR_UPDATE,
        "merge-on-read UPDATE...SET: old rows vector-deleted, updated "
        "copies appended — no original file leaves the manifest, pinned "
        "v1 sees zero updates; per-day tagged census vs events "
        "arithmetic",
        hash_also=(_h_mor_update,),
    ),
    "stream_gdpr_delete": QuerySpec(
        q_stream_gdpr_delete, SQL_STREAM_GDPR_DELETE,
        "streaming right-to-be-forgotten: 2 real micro-batches of "
        "delete requests apply as merge-on-read vector deletes (zero "
        "file churn, idempotent replay, pinned v1 intact); per-day "
        "census vs events arithmetic",
    ),
    "stream_cdc_rollup": QuerySpec(
        q_stream_cdc_rollup, SQL_STREAM_CDC_ROLLUP,
        "streaming-CDF consumer: real 2-batch stream appends+publishes, "
        "rollup advances from the manifest diff, an out-of-band MOR "
        "delete between batches lands in the feed; census vs events",
    ),
    "table_cdc_rollup": QuerySpec(
        q_table_cdc_rollup, SQL_TABLE_CDC_ROLLUP,
        "incremental materialized-view maintenance from the CDC feed: "
        "full materialize -> mixed MOR/COW churn -> one net-delta "
        "advance; state equals scratch aggregate and events arithmetic",
    ),
    "table_read_current": QuerySpec(
        q_table_read_current, SQL_TABLE_READ_CURRENT,
        "DV-safe plain reads: read_logs / SQL view / fluent query serve "
        "current logical state (MOR deletes gone, unpublished append "
        "visible); per-day counts vs events arithmetic",
    ),
    "table_dv_maintain": QuerySpec(
        q_table_dv_maintain, SQL_TABLE_DV_MAINTAIN,
        "thresholded DV maintenance: tiny GDPR drip stays live under "
        "the fold ratio (zero rewrites), chain coalesces to one "
        "generation, zero file churn; stage counts vs events arithmetic",
        hash_also=(_h_dv_coalesce,),
    ),
    "table_mor_lifecycle": QuerySpec(
        q_table_mor_lifecycle, SQL_TABLE_MOR_LIFECYCLE,
        "deletion-vector (merge-on-read) lifecycle: MOR delete with "
        "zero file churn, pure-delete CDC via the position diff, "
        "historical vector pinning, restore reversal, dv_compact fold; "
        "every stage count vs events arithmetic",
        hash_also=(_h_mor_delete,),
    ),
    "table_cow_lifecycle": QuerySpec(
        q_table_cow_lifecycle, SQL_TABLE_COW_LIFECYCLE,
        "full COW lifecycle: compact (empty feed), delete (pure-delete "
        "feed), vacuum, per-day survivors vs events arithmetic"),
    "table_cow_merge": QuerySpec(
        q_table_cow_merge, SQL_TABLE_COW_MERGE,
        "copy-on-write MERGE: merged state + row-level CDC feed (carried "
        "half-day cancels) + pinned pre-merge reader, all hash-checked",
        hash_also=(_h_cow_merge,)),
    "table_context_anchor": QuerySpec(
        q_table_context_anchor, SQL_TABLE_CONTEXT_ANCHOR,
        "anchor-form context fetch: ±N pod-stream lines around a "
        "(pod, ts) anchor, partition-pruned to <=2 day dirs, top-n "
        "TakeOrdered per side, vs tie-break-exact oracle"),
    "table_cow_promoted_roundtrip": QuerySpec(
        q_table_cow_promoted_roundtrip, SQL_TABLE_COW_PROMOTED_ROUNDTRIP,
        "COW delete/merge/compact on a promotions_deficient table: every "
        "rewrite re-derives the promoted physical column from the map; "
        "final read groups by the physical column vs closed-form oracle"),
    "table_cow_update": QuerySpec(
        q_table_cow_update, SQL_TABLE_COW_UPDATE,
        "COW UPDATE...SET: simultaneous-assignment SET expressions (log "
        "records the PRE-update level, map gets the new one), promoted "
        "column follows the updated map; grouped read vs closed-form "
        "oracle"),
    "table_snapshot_mixed_schema": QuerySpec(
        q_table_snapshot_mixed_schema, SQL_TABLE_SNAPSHOT_MIXED_SCHEMA,
        "time travel over a mixed promoted/plain snapshot: read_snapshot "
        "mergeSchemas so the promoted column resolves (NULL on plain "
        "history) instead of silently dropping; grouped read vs oracle"),
    "stream_upsert_sink": QuerySpec(
        q_stream_upsert_sink, SQL_STREAM_UPSERT_SINK,
        "streaming UPSERT (foreachBatch + COW merge): 3 real micro-"
        "batches, overlapping updates end last-writer-wins, per-day "
        "state vs events arithmetic"),
    "table_restore": QuerySpec(
        q_table_restore, SQL_TABLE_RESTORE,
        "Delta-style RESTORE: old snapshot republished as head (one "
        "manifest write); undo feed = net reversal, bad version still "
        "pinnable"),
    "stream_media_decode": QuerySpec(
        q_stream_media_decode, _SQL_STREAM_MEDIA_DECODE,
        "streaming multimodal decode: binary AVIs arrive as a real "
        "2-micro-batch stream, demux + JPEG decode inside foreachBatch "
        "— final per-frame stats equal the batch pass's closed form"),
    "table_clone_cdc": QuerySpec(
        q_table_clone_cdc, SQL_TABLE_CLONE_CDC,
        "CDC across a clone's first own rewrite: source-absolute "
        "from-side vs clone-local to-side inside exceptAll — pure "
        "pod-7 deletes, zero inserts, pinned clone v1 intact"),
    "table_shallow_clone": QuerySpec(
        q_table_shallow_clone, SQL_TABLE_SHALLOW_CLONE,
        "Delta-style shallow clone: absolute-reference manifest (zero "
        "local data files — invariant row), COW delete on the clone "
        "leaves the source byte-identical, pinned clone v1 serves the "
        "full source state"),
    "stream_snapshot_cdc": QuerySpec(
        q_stream_snapshot_cdc, SQL_STREAM_SNAPSHOT_CDC,
        "per-micro-batch snapshot publish in foreachBatch; CDC between "
        "stream-published versions equals the batch (pure inserts)"),
    "table_snapshot_changes": QuerySpec(
        q_table_snapshot_changes, SQL_TABLE_SNAPSHOT_CHANGES,
        "CDC feed between snapshots: file-pruned insert/delete diff with "
        "copy-on-write rewrite rows cancelled, vs from-events oracle"),
    "table_time_travel": QuerySpec(
        q_table_time_travel,
        SQL_TABLE_TIME_TRAVEL,
        "snapshot-manifest time travel: a v1-pinned read after a later "
        "append still returns the pre-append corpus, vs per-cutoff oracle",
    ),
    "stream_rollup_maintain": QuerySpec(
        q_stream_rollup_maintain,
        SQL_STREAM_ROLLUP,
        "streaming materialized rollup: 3-batch foreachBatch maintenance "
        "(idempotent whole-day recompute) hash-equals the batch aggregate",
    ),
    "table_field_range_skip": QuerySpec(
        q_table_field_range_skip,
        SQL_TABLE_FIELD_RANGE_SKIP,
        "numeric zone-map sidecar over dynamic map fields: range query "
        "with plan-time day pruning, vs direct range oracle",
    ),
    "stream_exactly_once": QuerySpec(
        q_stream_exactly_once,
        SQL_STREAM_EXACTLY_ONCE,
        "exactly-once sink under epoch replay AND crashed-attempt "
        "recovery (marker no-op + prefix purge), vs single-copy oracle",
    ),
    "stream_validated_sink": QuerySpec(
        q_stream_validated_sink,
        SQL_STREAM_VALIDATED_SINK,
        "streaming data-contract enforcement: per-batch expectation gate "
        "routes violating rows to quarantine with triage; clean/"
        "quarantined day counts vs corruption-rule oracle",
    ),
    "stream_quarantine_triage": QuerySpec(
        q_quarantine_triage,
        SQL_QUARANTINE_TRIAGE,
        "quarantine triage report: per-(failed check, day) counts from "
        "the _failed_checks column, vs per-rule oracle",
    ),
    "stream_decontaminate": QuerySpec(
        q_stream_decontaminate,
        SQL_STREAM_DECONTAMINATE,
        "ingest-time benchmark decontamination: per-batch broadcast "
        "probe scan routes eval-fragment docs to quarantine, clean docs "
        "to the table; per-(source, bucket) counts vs direct substring "
        "oracle",
    ),
    "ingest_orc_roundtrip": QuerySpec(
        q_ingest_orc_roundtrip,
        SQL_INGEST_ORC_ROUNDTRIP,
        "ORC interchange round-trip: full log corpus (timestamps, both "
        "dynamic-field maps) through date-partitioned ORC and back; "
        "per-(day, level) counts + integer-micro latency sum + map-key "
        "census vs direct-from-events oracle",
    ),
    "ingest_warc_roundtrip": QuerySpec(
        q_ingest_warc_roundtrip,
        SQL_INGEST_WARC_ROUNDTRIP,
        "Common Crawl WARC round-trip: documents encoded into real "
        ".warc.gz archives (gzip member per record, HTTP/1.1 response "
        "payloads) and decoded back by the same binary reader; per-source "
        "md5-fingerprint sum + exact Content-Length sum vs "
        "direct-from-documents oracle",
    ),
    "ingest_warc_revisit": QuerySpec(
        q_ingest_warc_revisit,
        SQL_INGEST_WARC_REVISIT,
        "WARC revisit resolution: body-less recrawl records resolve by "
        "sha1-base32 payload digest via a distributed digest-keyed join "
        "(reader re-derives response digests from bodies); per-source "
        "census + resolved-text md5 sums vs closed-form reference oracle",
    ),
    "ingest_cdx_crawl_diff": QuerySpec(
        q_ingest_cdx_crawl_diff,
        SQL_INGEST_CDX_CRAWL_DIFF,
        "cross-crawl CDX diff: two crawl snapshots through the real "
        "archive+index path, full-outer join on SURT urlkey comparing "
        "reader-side digests -> added/removed/changed/unchanged census "
        "vs closed-form class-rule oracle",
    ),
    "ingest_warc_cdx": QuerySpec(
        q_ingest_warc_cdx,
        SQL_INGEST_WARC_CDX,
        "CDX indexing + random-access decode: per-record gzip-member "
        "(offset,length) spans + SURT url keys; every record fetched "
        "via read_record_at only (never a sequential scan) — the "
        "splittable-archive property; per-source census vs closed-form "
        "SURT oracle",
    ),
    "stream_warc_decode": QuerySpec(
        q_stream_warc_decode,
        SQL_INGEST_WARC_ROUNDTRIP,
        "streaming WARC ingestion: 25 real .warc.gz archives arrive as a "
        "2-micro-batch binary stream, foreachBatch parses + appends "
        "per-record rows; final per-source aggregate vs the SAME "
        "direct-from-documents oracle as the batch round-trip",
    ),
    "stream_minmax_sidecar": QuerySpec(
        q_stream_minmax_sidecar,
        SQL_TABLE_FIELD_RANGE_SKIP,
        "zone-map sidecar maintained by a real micro-batch stream "
        "(indexed_logs_sink minmax refresh); range scan off the "
        "stream-built stats hash-equals the direct oracle",
    ),
    "table_field_range_files": QuerySpec(
        q_table_field_range_files,
        SQL_TABLE_FIELD_RANGE_SKIP,
        "FILE-granular zone map (per_file=True): individual non-"
        "overlapping files excluded from an explicit file-list read, "
        "same direct-range oracle",
    ),
    "table_retention_policy": QuerySpec(
        q_table_retention_policy,
        SQL_TABLE_RETENTION_POLICY,
        "differentiated per-namespace TTL in one cow_delete_where pass: "
        "days holding expired rows rewrite once, vs exclusion oracle",
    ),
    "table_merge_upsert": QuerySpec(
        q_table_merge_upsert,
        SQL_TABLE_MERGE_UPSERT,
        "copy-on-write MERGE: matched keys replaced, new keys inserted, "
        "only touched days rewritten, vs ts-range oracle",
    ),
    "table_zorder_lifecycle": QuerySpec(
        q_table_zorder_lifecycle,
        SQL_TABLE_DELETE_WHERE,
        "z-ordered write -> layout-aware compaction + delete -> read-back "
        "aggregate, same exclusion oracle as the cluster-layout path",
    ),
}
