"""In-memory spans around the benchmark's calls into the engine, the
steal-free stopwatch every metric's time comes from, and the summary
statistics the report uses.

A span records name, start, end, parent span and operation id. Spans are
opened only in the benchmark's own code, around calls into a layer's public
function (``stream.run_ingest_once``, the sink callable handed to it,
``table.logs_query``, ``manifest.cow_delete_where``, ...). The layer is
the part of the span name before the first dot. Nothing is written until
``dump`` at exit.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._active = False
        self._stack: list[int] = []

    def start_op(self, op: int, traced: bool) -> None:
        """Spans that follow belong to operation ``op``; they are recorded
        only when the run is traced and this operation is."""
        self.op = op
        self._active = self.enabled and traced

    @contextmanager
    def span(self, name: str):
        if not self._active:
            yield
            return
        sid = len(self.spans)
        # one client thread: while a sink callback runs on Spark's callback
        # thread the client is blocked in the enclosing span, so the stack
        # top is the right parent for both threads
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "op": self.op, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_ms(self) -> dict[str, float]:
        """Total self time per layer: each span's duration minus the part
        its child spans cover."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) * 1000 - child_ms[s["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans
                if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def cpu_ticks() -> tuple[int, int]:
    """Busy and stolen ticks of all the machine's CPUs since boot, from
    ``/proc/stat``. Steal is time the hypervisor gave a CPU this virtual
    machine wanted to another tenant."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of one stretch of work, also with the hypervisor's steal
    taken out.

    A CPU is stolen only while it has work to run, so of the CPU time the
    machine wanted in the stretch (busy plus stolen ticks), the stolen
    share delayed the work. ``steal_free`` scales the wall time by the
    share that was not stolen: the time the work would have taken had no
    other tenant been scheduled on this machine's CPUs."""

    def __init__(self):
        self.ticks = cpu_ticks()
        self.start = time.perf_counter()

    def elapsed(self) -> tuple[float, float]:
        """(wall, steal-free) seconds since the stopwatch was made."""
        wall = time.perf_counter() - self.start
        busy1, steal1 = cpu_ticks()
        busy, steal = busy1 - self.ticks[0], steal1 - self.ticks[1]
        return wall, wall * busy / (busy + steal) if busy + steal else wall

    def steal_free(self) -> float:
        return self.elapsed()[1]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int] | None:
    """(percentile, value, sample count) for the highest percentile that
    has at least ten samples beyond it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return 100.0 * (n - 10) / n, ordered[n - 11], n


def describe_tail(values, unit: str = "ms") -> str:
    t = tail(values)
    if t is None:
        return f"n/a (n={len(values)}, needs >=11 samples)"
    pct, value, n = t
    return f"{value:.1f} {unit} (p{pct:.0f}, n={n})"
