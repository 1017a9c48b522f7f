"""Decode stage — flatten, type dispatch, timestamp extraction, row assembly.

This is the one place Python executes in the engine (SURVEY §2.11): the
reference's per-record hot path (main.go:237-377) works on dynamically-shaped
records, which cannot be a static Column expression. Everything downstream of
this module is Catalyst-native.

Semantics ported (with file:line citations into /root/reference):

- ``flatten``            — pkg/flatten/flatten.go:11-66
- ``dispatch_value``     — main.go:262-310 (Go type-switch)
- ``extract_timestamp``  — main.go:85-103
- ``record_to_row``      — main.go:312-351 (envelope routing, forced numbers,
                           key normalization) + main.go:256-260 (row assembly)

Vectorization: ``decode_dataframe`` applies the per-record pipeline over Arrow
batches via ``mapInPandas`` so the Python boundary is batch-at-a-time, not
row-at-a-time (the reference loops row-at-a-time in Go, main.go:240-355 — on
Spark the Arrow batch transfer is the scale-path equivalent).
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timedelta, timezone, tzinfo
from functools import partial
from itertools import accumulate
from operator import itemgetter
from typing import AbstractSet, Any, Callable, Iterable, Iterator
from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

# naive-UTC epoch anchor for the hot timestamp conversion (extract_timestamp)
_EPOCH = datetime(1970, 1, 1)

try:  # orjson (Rust) parses ~5x faster; decode is the 100 TB cost center
    import orjson as _fastjson
except ImportError:  # pragma: no cover - env without orjson
    _fastjson = None


# Lines nested deeper than this are rejected before any parser sees them.
# orjson's parser recurses on the C stack: a line of ~150k open brackets
# (300 KB) overflows the worker's 8 MB stack and the process dies with
# SIGSEGV, failing the whole micro-batch on every replay. Deep but sane
# nesting (thousands of levels) still decodes on the fast path.
MAX_JSON_DEPTH = 10_000
# One match per string, never a backtrack: the closing quote is optional,
# so an unterminated string runs to the end of the line in the same match
# (with a required quote, every escaped quote of such a line would start
# a failing scan to the end: quadratic time on one malformed line).
_JSON_STRING = re.compile(r'"[^"\\]*(?:\\.[^"\\]*)*"?', re.S)
_BRACKET = re.compile(r"[\[\]{}]")
_BRACKET_STEP = {"[": 1, "{": 1, "]": -1, "}": -1}


def _too_deep(line: str) -> bool:
    """Whether ``line`` nests past :data:`MAX_JSON_DEPTH`. Lines shorter
    than the bound (nearly all) cannot, and are answered by ``len``."""
    if len(line) <= MAX_JSON_DEPTH or (
        line.count("[") + line.count("{") <= MAX_JSON_DEPTH
    ):
        return False
    steps = map(_BRACKET_STEP.__getitem__,
                _BRACKET.findall(_JSON_STRING.sub("", line)))
    return max(accumulate(steps), default=0) > MAX_JSON_DEPTH


def _loads(line: str) -> Any:
    """json.loads with an orjson fast path.

    orjson rejects a few inputs stdlib json accepts (>64-bit integers,
    NaN/Infinity literals, deep nesting beyond its fixed limit) — on ANY
    orjson failure, fall back to stdlib so accepted-input semantics are
    byte-identical with or without the fast path; only genuinely bad lines
    pay the double parse. Lines past :data:`MAX_JSON_DEPTH` raise
    ``JSONDecodeError`` without being parsed.
    """
    if _too_deep(line):
        raise json.JSONDecodeError(
            f"nested deeper than {MAX_JSON_DEPTH} levels", line, 0)
    if _fastjson is not None:
        try:
            return _fastjson.loads(line)
        except ValueError:
            pass
    return json.loads(line)

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

from .config import EngineConfig
from .schema import (
    APP_KEY_FALLBACK,
    APP_KEY_PRIMARY,
    ENVELOPE_KEYS,
    LOG_COLUMNS,
    LOG_SCHEMA,
)


class FlattenError(ValueError):
    """Raised for non-map/slice top-level input (flatten.go:47-51)."""


# Exact leaf types json.loads can produce — the flatten fast path tests with
# `type(v) in` (no subclass dispatch); subclass instances fall through to the
# isinstance-based stack walk and still land correctly.
_SCALARS = frozenset({str, int, float, bool, type(None), bytes})


def flatten(value: Any) -> dict[str, Any]:
    """Flatten nested maps/slices to a flat dict with ``_``-joined keys.

    Same semantics as pkg/flatten/flatten.go:11-66: top-level keys get no
    prefix (flatten.go:59-63), array elements use the index as a key segment
    (flatten.go:42-46), scalar top-level input is an error (flatten.go:47-51).

    Implementation is ITERATIVE (hot path: runs once per ingested record;
    the recursive form was ~35% of the decode profile). Scalar children —
    the overwhelmingly common case — are assigned directly; only container
    children touch the explicit stack. Leaf order can differ from a strict
    DFS when a node mixes scalar and container children, which is observable
    ONLY when two distinct paths join to the same flattened key; the
    reference gives no guarantee there either (Go map iteration order is
    randomized, flatten.go:36-46), so any overwrite winner is conformant.
    """
    if not isinstance(value, (dict, list, tuple)):
        raise FlattenError(f"cannot flatten input of type {type(value).__name__}")
    out: dict[str, Any] = {}
    stack: list[tuple[str, Any]] = []
    push = stack.append
    if isinstance(value, dict):
        for k, v in value.items():
            if type(v) in _SCALARS:
                out[str(k)] = v
            else:
                push((str(k), v))
    else:
        for i, v in enumerate(value):
            if type(v) in _SCALARS:
                out[str(i)] = v
            else:
                push((str(i), v))
    if not stack:
        return out
    stack.reverse()
    while stack:
        prefix, node = stack.pop()
        if isinstance(node, dict):
            for ck, child in node.items():
                key = f"{prefix}_{ck}"
                if type(child) in _SCALARS:
                    out[key] = child
                else:
                    push((key, child))
        elif isinstance(node, (list, tuple)):
            for i, child in enumerate(node):
                key = f"{prefix}_{i}"
                if type(child) in _SCALARS:
                    out[key] = child
                else:
                    push((key, child))
        else:
            out[prefix] = node
    return out


def dispatch_value(value: Any) -> tuple[str, float, bool, bool]:
    """Classify a flattened leaf -> (string_value, number_value, is_number, is_nil).

    Port of the Go type-switch main.go:268-310:
    nil -> dropped (main.go:269-270); string/bytes -> string; every numeric
    width -> float64; anything else -> ``%v`` stringification (main.go:308-309).
    Python note: bool is an int subclass but Go's switch treats bool as
    "other" -> fmt.Sprintf("%v") i.e. "true"/"false" — replicated here.
    """
    if value is None:
        return "", 0.0, False, True
    if isinstance(value, bool):
        return ("true" if value else "false"), 0.0, False, False
    if isinstance(value, str):
        return value, 0.0, False, False
    if isinstance(value, (bytes, bytearray)):
        return value.decode("utf-8", errors="replace"), 0.0, False, False
    if isinstance(value, int):
        # JSON permits integer literals beyond float64 range (Go's decoder
        # would map them to ±Inf); float() raising would kill a whole Arrow
        # batch, so stringify like any other undispatchable value.
        try:
            return "", float(value), True, False
        except OverflowError:
            return str(value), 0.0, False, False
    if isinstance(value, float):
        if math.isnan(value) or math.isinf(value):
            # JSON can't carry these anyway; Go would pass them through as
            # float64 — normalize to stringified form to keep maps hashable.
            return str(value), 0.0, False, False
        return "", value, True, False
    return str(value), 0.0, False, False


def extract_timestamp(ts: Any, now: datetime | None = None) -> datetime:
    """Event-time extraction with fallback-to-now, main.go:85-103.

    Accepts epoch seconds as int/float (uint64 branch main.go:89-91 and
    FLBTime branch :87-88 collapse to this in the JSON-lines model), an ISO
    string, or a [seconds, ...] pair (FB >=2.1 nested form main.go:92-97).
    Unparseable -> now() with no drop (main.go:99-102).

    Epoch conversion is ``_EPOCH + timedelta(seconds=ts)`` — bit-identical
    to ``fromtimestamp(ts, tz=utc).replace(tzinfo=None)`` (both round the
    fractional part to microseconds half-even) but ~2x faster, and this
    runs once per ingested event. Out-of-range values overflow timedelta
    exactly where fromtimestamp would raise, landing in the same
    fallback-to-now handler.
    """
    if now is None:
        now = datetime.now(timezone.utc).replace(tzinfo=None)
    try:
        if isinstance(ts, bool) or ts is None:
            return now
        if isinstance(ts, (int, float)):
            return _EPOCH + timedelta(seconds=ts)
        if isinstance(ts, (list, tuple)) and ts:
            return extract_timestamp(ts[0], now)
        if isinstance(ts, str):
            try:
                return _EPOCH + timedelta(seconds=float(ts))
            except ValueError:
                parsed = datetime.fromisoformat(ts.replace("Z", "+00:00"))
                if parsed.tzinfo is None:
                    return parsed  # naive ISO strings are UTC by convention
                return parsed.astimezone(timezone.utc).replace(tzinfo=None)
    except (ValueError, OverflowError, OSError):
        pass
    return now


def record_to_row(
    ts: Any,
    record: dict[str, Any],
    config: EngineConfig | None = None,
    now: datetime | None = None,
    force: AbstractSet[str] | None = None,
) -> dict[str, Any]:
    """Flattened-record -> logs row. Port of main.go:246-354.

    Envelope routing by exact key match (main.go:313-328); `app` aliasing with
    deterministic k8s-app precedence (main.go:318-321, SURVEY §7); nil values
    never stored (main.go:269-270, 312); Force_Number_Fields membership is
    checked on the RAW key while storage uses the underscore-formatted key —
    the reference's quirk at main.go:339 vs :331-334, replicated exactly.

    ``force`` is ``config.force_number_fields`` as a set; the decode loops
    build it once per call and pass it here, one record at a time.
    """
    config = config or _DEFAULT_CONFIG
    if force is None:
        force = frozenset(config.force_number_fields)
    flat = flatten(record)
    row: dict[str, Any] = {
        "timestamp": extract_timestamp(ts, now),
        "cluster": None,
        "namespace": None,
        "app": None,
        "pod_name": None,
        "container_name": None,
        "host": None,
        "fields_string": {},
        "fields_number": {},
        "log": None,
    }
    app_from_fallback: str | None = None
    for k, v in flat.items():
        # Inline fast paths for the exact types json.loads emits (one call
        # per leaf adds up: dispatch_value was ~15% of the decode profile).
        # MUST mirror dispatch_value, which remains the canonical, tested
        # form (P2 parity with the Go type-switch) and handles odd types.
        tv = type(v)
        if tv is str:
            string_value, number_value, is_number = v, 0.0, False
        elif tv is float:
            if math.isnan(v) or math.isinf(v):
                string_value, number_value, is_number = str(v), 0.0, False
            else:
                string_value, number_value, is_number = "", v, True
        elif tv is bool:
            string_value = "true" if v else "false"
            number_value, is_number = 0.0, False
        elif tv is int:
            try:
                string_value, number_value, is_number = "", float(v), True
            except OverflowError:  # beyond float64 — mirror dispatch_value
                string_value, number_value, is_number = str(v), 0.0, False
        else:
            string_value, number_value, is_number, is_nil = dispatch_value(v)
            if is_nil:  # main.go:312 — nil fields are never stored
                continue
        col = ENVELOPE_KEYS.get(k)
        if col is not None:
            row[col] = string_value if not is_number else _num_to_str(number_value)
            continue
        if k == APP_KEY_PRIMARY:
            row["app"] = string_value if not is_number else _num_to_str(number_value)
            continue
        if k == APP_KEY_FALLBACK:
            app_from_fallback = (
                string_value if not is_number else _num_to_str(number_value)
            )
            continue
        # key normalization: Force_Underscores rewrites '.' -> '_'
        # (main.go:331-334); note membership check below uses raw k.
        key = k.replace(".", "_") if config.force_underscores else k
        if is_number:
            row["fields_number"][key] = number_value
        elif k in force:  # raw-key quirk, main.go:339
            try:
                row["fields_number"][key] = float(string_value)
            except ValueError:  # fallback path main.go:342-345
                row["fields_string"][key] = string_value
        else:
            row["fields_string"][key] = string_value
    if row["app"] is None and app_from_fallback is not None:
        row["app"] = app_from_fallback
    return row


def _num_to_str(x: float) -> str:
    # An envelope key that arrived numeric is stringified (the reference
    # routes envelope keys through the same switch, main.go:313-328).
    return str(int(x)) if x == int(x) else str(x)


_DEFAULT_CONFIG = EngineConfig()


def decode_json_lines(
    lines: Iterable[str],
    config: EngineConfig | None = None,
    now: datetime | None = None,
    rejects: list[str] | None = None,
) -> Iterator[dict[str, Any]]:
    """Decode raw JSON-lines events into logs rows.

    Each line is ``{"ts": ..., "record": {...}}`` (FIXTURES.md F-RAW) or a bare
    record object. Flatten failure on one record skips that record only — a
    deliberate deviation from the reference, which aborts the whole chunk
    (main.go:251-254); documented in SURVEY §7 step 1. Undecodable lines are
    appended to ``rejects`` when provided (the dead-letter channel).
    """
    config = config or _DEFAULT_CONFIG
    # the force-number set as the config reads now, once per call
    force = frozenset(config.force_number_fields)
    if now is None:
        # one clock read per decode call, not per event — the reference's
        # fallback granularity is the flush anyway (main.go:99-102), and
        # extract_timestamp re-reading the clock per record was measurable
        now = datetime.now(timezone.utc).replace(tzinfo=None)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            obj = _loads(line)
        except (json.JSONDecodeError, RecursionError):
            # RecursionError: pathologically deep nesting overflows the
            # stdlib parser stack; treat like any other undecodable line
            # (dead-letter, not batch death) — the Go reference would hit
            # msgpack depth limits the same way (main.go:251-254
            # warn-and-drop)
            if rejects is not None:
                rejects.append(line)
            continue
        if isinstance(obj, dict) and "record" in obj:
            ts, record = obj.get("ts"), obj["record"]
        else:
            ts, record = None, obj
        if not isinstance(record, dict):
            if rejects is not None:
                rejects.append(line)
            continue
        try:
            yield record_to_row(ts, record, config, now, force)
        except FlattenError:
            if rejects is not None:
                rejects.append(line)
            continue


def decode_msgpack_events(
    chunks: Iterable[bytes],
    config: EngineConfig | None = None,
    now: datetime | None = None,
    bad_chunks: list[bytes] | None = None,
) -> Iterator[dict[str, Any]]:
    """Decode Fluent Bit msgpack chunks into logs rows.

    Each chunk is back-to-back ``[timestamp, record]`` events
    (main.go:240-247); the timestamp may be an FLBTime ext (decoded to float
    epoch by msgpack_lite), a plain uint, or the v2.1 nested
    ``[[ts, metadata], record]`` form — all already handled by
    ``extract_timestamp`` (main.go:85-103). A malformed chunk stops at the
    failure point and keeps the events decoded so far (the reference
    warn-and-drops the remainder the same way, main.go:251-254); fully
    undecodable chunks land in ``bad_chunks`` when provided.
    """
    from .msgpack_lite import MsgpackError, unpack_stream

    config = config or _DEFAULT_CONFIG
    force = frozenset(config.force_number_fields)  # as in decode_json_lines
    if now is None:
        # one clock read per decode call, not per event (see
        # decode_json_lines — same flush-granularity rationale)
        now = datetime.now(timezone.utc).replace(tzinfo=None)
    for chunk in chunks:
        yielded = False
        try:
            for event in unpack_stream(chunk):
                if (
                    not isinstance(event, (list, tuple))
                    or len(event) != 2
                    or not isinstance(event[1], dict)
                ):
                    continue  # not a [ts, record] event — skip, keep reading
                ts, record = event
                try:
                    yield record_to_row(ts, record, config, now, force)
                    yielded = True
                except FlattenError:
                    continue
        except (MsgpackError, RecursionError):
            # RecursionError: pathologically deep nesting overflows the
            # decoder stack — treat like any malformed chunk (the JSON path
            # guards decode_json_lines the same way)
            if not yielded and bad_chunks is not None:
                bad_chunks.append(chunk)
            continue


def decode_msgpack_dataframe(
    raw: DataFrame,
    config: EngineConfig | None = None,
    content_column: str = "content",
) -> DataFrame:
    """Vectorized msgpack decode: DataFrame[content: binary] -> LOG_SCHEMA.

    The binary twin of :func:`decode_dataframe` — one Arrow batch of chunk
    blobs in, decoded rows out; pairs with ``stream.read_msgpack_chunk_stream``
    (binaryFile source) for the reference's true ingest shape (S1).

    A batch input is first spread across the cluster width. The returned
    frame also records how its rows are produced in Python: the widened
    chunk input and a per-partition generator over
    :func:`decode_msgpack_events` that yields ``LOG_COLUMNS``-ordered
    tuples (:func:`python_rows`). A sink that writes from a Python worker
    anyway (``sink_clickhouse.ClickHouseSink``) decodes each chunk there
    and skips the pandas frame, the Arrow batch and the JVM rows.
    """
    cfg = config or _DEFAULT_CONFIG

    rdd = None
    if not raw.isStreaming:
        parallelism = raw.sparkSession.sparkContext.defaultParallelism
        # DataFrame.rdd plans anew on every access: keep the probe's RDD
        # for python_rows unless the widening makes a new frame
        rdd = raw.rdd
        if rdd.getNumPartitions() < parallelism:
            raw = raw.repartition(parallelism)
            rdd = None

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            rows = list(decode_msgpack_events(
                batch[content_column].tolist(), cfg))
            if not rows:
                continue
            yield pd.DataFrame(
                {name: [r[name] for r in rows] for name in LOG_SCHEMA.fieldNames()}
            )

    decoded = raw.mapInPandas(_decode, schema=LOG_SCHEMA)
    if not raw.isStreaming and content_column in raw.columns:
        decoded._python_rows = (
            raw, rdd, raw.columns.index(content_column), cfg)
    return decoded


def python_rows(
    df: DataFrame,
) -> tuple["RDD", Callable[[Iterator[Any]], Iterator[tuple]]] | None:
    """How ``df``'s rows are produced in Python, when ``df`` is a frame
    :func:`decode_msgpack_dataframe` returned, untouched: ``(rdd,
    rows_of)``. ``rdd`` holds the widened chunk input as Rows, and
    ``rows_of(partition)`` yields one ``LOG_COLUMNS``-ordered tuple per
    event of that partition's chunks. Over the same partitions these are
    the tuples of ``df.select(*LOG_COLUMNS)``'s Rows, field by field.

    ``None`` for every other frame: any transformation returns a new
    frame, which carries nothing; a persisted frame's cache is the cheaper
    source; and a session time zone that is not an IANA key (a bare
    offset such as ``+02:00``) is left to Spark's own conversion.
    """
    made = getattr(df, "_python_rows", None)
    if made is None or df.is_cached:
        return None
    zone = _session_zone(
        df.sparkSession.conf.get("spark.sql.session.timeZone"))
    if zone is None:
        return None
    raw, rdd, index, cfg = made
    if rdd is None:
        rdd = raw.rdd
    return rdd, partial(_log_tuples, index=index, cfg=cfg, zone=zone)


def _session_zone(name: str) -> tzinfo | None:
    if name in ("UTC", "Etc/UTC"):
        return timezone.utc
    try:
        return ZoneInfo(name)
    except (ValueError, ZoneInfoNotFoundError):
        return None


_EPOCH_UTC = _EPOCH.replace(tzinfo=timezone.utc)
_US = timedelta(microseconds=1)


def _log_tuples(
    rows: Iterator[Any],
    index: int,
    cfg: EngineConfig,
    zone: tzinfo,
) -> Iterator[tuple]:
    """INSERT tuples of the msgpack chunks in ``rows`` (``rows[i][index]``).

    A chunk is read as ``bytes``: a Row may carry a binary value as
    ``bytearray`` (``spark.sql.execution.pyspark.binaryAsBytes=false``),
    which the decoder's string cache cannot hash.

    The timestamp is what the Row path delivers. ``mapInPandas`` reads the
    decode's naive datetime in the session time zone, choosing standard
    time for an ambiguous wall clock (pandas ``tz_localize(...,
    ambiguous=False)``; ``fold=1`` here), and a Python worker renders the
    stored instant with ``TimestampType.fromInternal``. Where that wall
    clock does not exist (a DST gap) the Row path fails its batch.
    """
    from pyspark.sql.types import TimestampType

    render = TimestampType().fromInternal
    values = itemgetter(*LOG_COLUMNS)
    utc = zone is timezone.utc
    for row in decode_msgpack_events(
            (bytes(r[index]) for r in rows), cfg):
        ts = row["timestamp"]
        if utc:
            us = (ts - _EPOCH) // _US
        else:
            us = (ts.replace(tzinfo=zone, fold=1) - _EPOCH_UTC) // _US
        row["timestamp"] = render(us)
        yield values(row)


# Reject bytes per decode task that a caller may collect to the driver:
# reject rows past it are flagged spilled (decode_dataframe)
OBSERVED_REJECT_BYTES = 1 << 20


def decode_dataframe(
    raw: DataFrame,
    config: EngineConfig | None = None,
    value_column: str = "value",
    ensure_width: bool = True,
    reject_column: str | None = None,
) -> DataFrame:
    """Vectorized decode: DataFrame[value: string] -> DataFrame[LOG_SCHEMA].

    The Spark-native equivalent of the plugin flush loop (main.go:240-355):
    ``mapInPandas`` moves whole Arrow batches across the Python boundary, the
    per-record work happens in plain Python dicts, and the result lands back
    as Arrow. Works identically for batch and Structured Streaming inputs.

    ``ensure_width=False`` skips the partition-width probe for callers that
    already repartitioned upstream: ``raw.rdd.getNumPartitions()`` forces a
    full physical plan of the input (measured 33-51 ms of driver time per
    warm call on a 4-core VM, out of 46-107 ms for the whole warm
    ``decode_dataframe`` call over a one-file text frame), pure waste when
    the width is known.

    ``reject_column`` keeps the lines :func:`decode_json_lines` rejects
    (non-JSON, non-object, nested past :data:`MAX_JSON_DEPTH`) from the same
    pass: the output gains that nullable string column, null on decoded
    rows and the raw line on reject rows, whose other columns are
    placeholders (null, and the batch clock as ``timestamp``). Callers
    split the two row kinds on it (``stream``'s dead-letter channel).

    Three more columns, named after ``reject_column``, let a caller
    collect the reject lines to the driver with bounded memory and
    without double-counting a decode task that Spark ran twice:

    - ``<reject_column>_spilled`` (boolean) is true on the reject rows
      that come after the first :data:`OBSERVED_REJECT_BYTES` bytes
      (UTF-8) of their task's rejects, false on every other row. A
      collected list is whole only while no row is flagged, so driver
      memory stays within the budget times the number of tasks.
    - ``<reject_column>_partition`` (int) and ``<reject_column>_attempt``
      (long) are the decode task's partition and attempt id
      (``TaskContext.partitionId``/``taskAttemptId``), the same on every
      row of a task. A stage retry re-runs a finished task over the same
      input rows under a new attempt id, so a caller keeps one attempt
      per partition.
    """
    cfg = config or _DEFAULT_CONFIG
    names = LOG_SCHEMA.fieldNames()
    schema = LOG_SCHEMA
    if reject_column is not None:
        spill_column = f"{reject_column}_spilled"
        partition_column = f"{reject_column}_partition"
        attempt_column = f"{reject_column}_attempt"
        schema = StructType(LOG_SCHEMA.fields + [
            StructField(reject_column, StringType()),
            StructField(spill_column, BooleanType(), False),
            StructField(partition_column, IntegerType(), False),
            StructField(attempt_column, LongType(), False),
        ])
    budget = OBSERVED_REJECT_BYTES

    if not raw.isStreaming and ensure_width:
        # batch inputs often arrive as a handful of large files; the decode
        # is CPU-bound Python, so spread it across the cluster width first
        # (streaming inputs are partitioned by the source rate instead)
        parallelism = raw.sparkSession.sparkContext.defaultParallelism
        if raw.rdd.getNumPartitions() < parallelism:
            raw = raw.repartition(parallelism)

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd
        from pyspark import TaskContext

        task = TaskContext.get()
        partition, attempt = task.partitionId(), task.taskAttemptId()
        spent = 0  # reject bytes of this task so far
        for batch in batches:
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            rejects: list[str] | None = [] if reject_column else None
            rows = list(decode_json_lines(
                batch[value_column].tolist(), cfg, now, rejects))
            if not rows and not rejects:
                continue
            out = {name: [r[name] for r in rows] for name in names}
            if rejects is not None:
                for name in names:
                    fill = now if name == "timestamp" else None
                    out[name] += [fill] * len(rejects)
                out[reject_column] = [None] * len(rows) + rejects
                spilled = []
                for line in rejects:
                    spent += len(line.encode("utf-8", "replace"))
                    spilled.append(spent > budget)
                out[spill_column] = [False] * len(rows) + spilled
                n = len(rows) + len(rejects)
                out[partition_column] = [partition] * n
                out[attempt_column] = [attempt] * n
            yield pd.DataFrame(out)

    return raw.mapInPandas(_decode, schema=schema)
