"""In-process stand-in for a ClickHouse DBAPI connection.

``sink_clickhouse.ClickHouseSink`` ships its connection factory to the
Python workers and calls it once per partition. The stub there counts the
rows of every ``executemany`` and sums a per-row digest; each connection
appends one ``rows digest`` line per commit to its own ledger file, which
the benchmark totals after a drain. Must be importable by the workers,
so it lives in a module, not in the script.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timedelta

from trafficbench.gen import row_digest

_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)


class StubConnection:
    def __init__(self, ledger_dir: str):
        self._path = os.path.join(ledger_dir, f"{uuid.uuid4().hex}.txt")
        self._pending: list[tuple[int, int]] = []
        self._lines: list[str] = []

    def cursor(self) -> "StubConnection":
        return self

    def executemany(self, sql: str, rows) -> None:
        # row order is LOG_COLUMNS: timestamp first, pod_name fifth, log last
        digest = 0
        for r in rows:
            digest += row_digest((r[0] - _EPOCH) // _US, r[4], r[9])
        self._pending.append((len(rows), digest % (1 << 64)))

    def commit(self) -> None:
        self._lines.extend(f"{n} {d}\n" for n, d in self._pending)
        self._pending.clear()

    def rollback(self) -> None:
        self._pending.clear()

    def close(self) -> None:
        if self._lines:
            with open(self._path, "a") as f:
                f.writelines(self._lines)
            self._lines.clear()


class StubFactory:
    """Picklable connection factory for ``ClickHouseSink``."""

    def __init__(self, ledger_dir: str):
        self.ledger_dir = ledger_dir

    def __call__(self) -> StubConnection:
        return StubConnection(self.ledger_dir)


def read_ledger(ledger_dir: str) -> tuple[int, int, int]:
    """(rows, digest sum mod 2**64, INSERT count) committed so far."""
    rows = digest = inserts = 0
    for name in os.listdir(ledger_dir):
        with open(os.path.join(ledger_dir, name)) as f:
            for line in f:
                n, d = line.split()
                rows += int(n)
                digest += int(d)
                inserts += 1
    return rows, digest % (1 << 64), inserts
