"""Seeded input generators for the traffic benchmark.

Everything here is a pure function of the seed: the same seed yields the
same bytes. The engine never sees the seed, only the files and rows made
here.

Event shape follows FIXTURES.md F-RAW: a Fluent Bit record with the
kubernetes envelope, nesting three and four levels deep, arrays, a dotted
top-level key, a string-typed number for Force_Number_Fields, and pods
drawn from a Zipf-skewed population.
"""

from __future__ import annotations

import hashlib
import json
import random
from datetime import datetime, timedelta

NAMESPACES = ["kube-system", "default", "payments", "checkout", "search",
              "auth", "ingest", "monitoring"]
LEVELS = ["info"] * 12 + ["debug"] * 4 + ["warn"] * 3 + ["error"]
WORDS = ["request", "served", "timeout", "retry", "cache", "miss", "upstream",
         "connect", "refused", "token", "expired", "flush", "commit", "shard",
         "lease", "renewed", "probe", "ready", "alive", "throttled"]
FORCE_NUMBER_FIELDS = ["content_duration"]
# fixed epoch anchor: 2025-03-01 00:00:00 UTC (inputs must not depend on
# the clock)
T0_MS = 1_740_787_200_000
DAY_MS = 86_400_000
EPOCH = datetime(1970, 1, 1)
# past the recursion limit of the stdlib JSON parser (1000): such a line
# is dead-lettered by the stdlib parser, while the orjson fast path
# (iterative) decodes it to a row
TOO_DEEP = 1500


def pods(rng: random.Random, n: int = 120) -> list[dict]:
    """The pod population; index order is popularity order (Zipf)."""
    out = []
    for i in range(n):
        ns = NAMESPACES[rng.randrange(len(NAMESPACES))]
        app = f"{ns}-svc{rng.randrange(6)}"
        out.append({
            "namespace": ns,
            "app": app,
            "pod": f"{app}-{i:03d}-{rng.getrandbits(20):05x}",
            "container": "main" if rng.random() < 0.8 else "sidecar",
            "host": f"node-{rng.randrange(6)}",
            "k8s_app": rng.random() < 0.3,
        })
    return out


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    acc, cum = 0.0, []
    for k in range(n):
        acc += 1.0 / (k + 1) ** s
        cum.append(acc)
    return cum


def unique_ts_ms(rng: random.Random, n: int, days: int, day0: int = 0) -> list[int]:
    """``n`` distinct millisecond timestamps spread over ``days`` days
    starting ``day0`` days after T0 (distinct, so newest-first and
    context fetches have no ties)."""
    return sorted(T0_MS + day0 * DAY_MS + x
                  for x in rng.sample(range(days * DAY_MS), n))


def record(rng: random.Random, pod: dict) -> dict:
    """One F-RAW record (pre-flatten)."""
    level = LEVELS[rng.randrange(len(LEVELS))]
    w1, w2 = WORDS[rng.randrange(len(WORDS))], WORDS[rng.randrange(len(WORDS))]
    code = 200 if rng.random() < 0.9 else rng.choice((404, 500, 503))
    duration = "n/a" if rng.random() < 0.02 else f"{rng.randrange(1, 5000) / 10}"
    labels = {"app": pod["app"]}
    if pod["k8s_app"]:
        labels["k8s-app"] = pod["app"] + "-k"
    rec = {
        "cluster": "kind",
        "kubernetes": {
            "namespace_name": pod["namespace"],
            "pod_name": pod["pod"],
            "container_name": pod["container"],
            "host": pod["host"],
            "labels": labels,
        },
        "log": f'level={level} msg="{w1} {w2}" code={code} rid={rng.getrandbits(32):08x}',
        "content": {
            "level": level,
            "duration": duration,
            "response_code": code,
            "upstream": {
                "service_time": f"0.{rng.randrange(1000):03d}",
                "hosts": [f"10.0.{rng.randrange(4)}.{rng.randrange(250)}"
                          for _ in range(rng.randrange(1, 3))],
            },
        },
        "http.method": "GET" if rng.random() < 0.7 else "POST",
        "tags": [w1, w2],
        "stream": "stdout" if rng.random() < 0.9 else "stderr",
    }
    if rng.random() < 0.1:
        rec["trace"] = {"span": {"attrs": {"retries": rng.randrange(4),
                                           "sampled": rng.random() < 0.5}}}
    return rec


def events(seed: int, n: int, days: int, n_pods: int = 120,
           day0: int = 0) -> list[tuple[int, dict]]:
    """``n`` (ts_ms, record) pairs over ``days`` days, pods Zipf-skewed."""
    rng = random.Random(seed)
    population = pods(rng)[:n_pods]
    cum = zipf_weights(len(population))
    chosen = rng.choices(population, cum_weights=cum, k=n)
    return [(ts, record(rng, p))
            for ts, p in zip(unique_ts_ms(rng, n, days, day0), chosen)]


def odd_line(rng: random.Random, kind: int) -> str:
    """One line of class ``kind``: 0 non-JSON, 1 non-object, 2 nested too
    deep for a recursive parser."""
    if kind == 0:
        return '{"ts": 1740787200.5, "record": {"log": "truncated'
    if kind == 1:
        return rng.choice(('{"ts": 1740787200.5, "record": [1, 2, 3]}',
                           '["not", "an", "object"]', '"bare string"', "42"))
    return ('{"ts":1740787200.5,"record":' + '{"a":' * TOO_DEEP + "1"
            + "}" * TOO_DEEP + "}")


def json_backlog(seed: int, n_lines: int, days: int = 3,
                 odd_share: float = 0.005) -> dict:
    """Fluent-Bit-shaped JSON lines with odd lines of all three classes
    mixed in. Returns the lines, the well-formed events and the odd lines
    by class."""
    rng = random.Random(seed ^ 0x5EED)
    n_odd = max(3, round(n_lines * odd_share))
    evs = events(seed, n_lines - n_odd, days)
    lines = [json.dumps({"ts": ts / 1000, "record": rec}, separators=(",", ":"))
             for ts, rec in evs]
    odd: dict[int, list[str]] = {0: [], 1: [], 2: []}
    for i in range(n_odd):
        line = odd_line(rng, i % 3)
        odd[i % 3].append(line)
        lines.insert(rng.randrange(len(lines) + 1), line)
    return {"lines": lines, "events": evs, "odd": odd}


def msgpack_chunks(evs: list[tuple[int, dict]], per_chunk: int) -> list[bytes]:
    """Fluent Bit msgpack chunks of ``per_chunk`` [FLBTime, record] events."""
    from klogs_spark.msgpack_lite import pack_event

    return [b"".join(pack_event(ts // 1000, rec, (ts % 1000) * 1_000_000)
                     for ts, rec in evs[i:i + per_chunk])
            for i in range(0, len(evs), per_chunk)]


def row_digest(ts_us: int, pod_name, log) -> int:
    """Order-free per-row digest the ClickHouse stub sums (mod 2**64)."""
    h = hashlib.blake2b(f"{ts_us}|{pod_name}|{log}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def events_checksum(evs: list[tuple[int, dict]]) -> int:
    total = 0
    for ts, rec in evs:
        total += row_digest(ts * 1000, rec["kubernetes"]["pod_name"], rec["log"])
    return total % (1 << 64)


def _flat(prefix: str, value, out: dict) -> None:
    if isinstance(value, dict):
        for k, v in value.items():
            _flat(f"{prefix}_{k}" if prefix else k, v, out)
    elif isinstance(value, list):
        for i, v in enumerate(value):
            _flat(f"{prefix}_{i}", v, out)
    else:
        out[prefix] = value


def log_rows(evs: list[tuple[int, dict]]) -> dict:
    """Columnar logs-table rows for ``evs`` (the decoded form), built
    independently of the engine's decoder: envelope keys to columns,
    numbers and force-number strings to ``fields_number``, the rest to
    ``fields_string``."""
    cols = {c: [] for c in ("timestamp", "cluster", "namespace", "app",
                            "pod_name", "container_name", "host",
                            "fields_string", "fields_number", "log")}
    for ts, rec in evs:
        flat: dict = {}
        _flat("", rec, flat)
        k8s = rec["kubernetes"]
        labels = k8s["labels"]
        cols["timestamp"].append(EPOCH + timedelta(milliseconds=ts))
        cols["cluster"].append(rec["cluster"])
        cols["namespace"].append(k8s["namespace_name"])
        cols["app"].append(labels.get("k8s-app", labels["app"]))
        cols["pod_name"].append(k8s["pod_name"])
        cols["container_name"].append(k8s["container_name"])
        cols["host"].append(k8s["host"])
        cols["log"].append(rec["log"])
        strings, numbers = [], []
        for k, v in flat.items():
            if k.startswith("kubernetes_") or k in ("cluster", "log"):
                continue
            if isinstance(v, bool):
                strings.append((k, "true" if v else "false"))
            elif isinstance(v, (int, float)):
                numbers.append((k, float(v)))
            elif k in FORCE_NUMBER_FIELDS and _is_float(v):
                numbers.append((k, float(v)))
            else:
                strings.append((k, v))
        cols["fields_string"].append(strings)
        cols["fields_number"].append(numbers)
    return cols


def _is_float(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return True


def _map_array(entries: list, value_type):
    import pyarrow as pa

    offsets, keys, values = [0], [], []
    for row in entries:
        for k, v in row:
            keys.append(k)
            values.append(v)
        offsets.append(len(keys))
    return pa.MapArray.from_arrays(pa.array(offsets, pa.int32()),
                                   pa.array(keys, pa.string()),
                                   pa.array(values, value_type))


def write_rows_parquet(cols: dict, path: str) -> None:
    """Write ``log_rows`` output as one parquet file Spark reads back as
    the logs schema (UTC-adjusted timestamps, string/double maps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    micros = [(t - EPOCH) // timedelta(microseconds=1) for t in cols["timestamp"]]
    arrays = {
        "timestamp": pa.array(micros, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        **{c: pa.array(cols[c], pa.string())
           for c in ("cluster", "namespace", "app", "pod_name",
                     "container_name", "host")},
        "fields_string": _map_array(cols["fields_string"], pa.string()),
        "fields_number": _map_array(cols["fields_number"], pa.float64()),
        "log": pa.array(cols["log"], pa.string()),
    }
    pq.write_table(pa.table(arrays), path)
