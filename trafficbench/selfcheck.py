"""Self-checks of the benchmark's own machinery; needs no Spark session.

    python3 trafficbench/selfcheck.py

1. The generators are deterministic for a seed and differ across seeds.
2. The tail rule reports a percentile only with ten samples beyond it.
3. A wrong result injected into a workload's check is counted as a failed
   operation, makes the run incorrect and moves the error rate.
"""

from __future__ import annotations

import os
import sys
import tempfile
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_generators() -> None:
    from trafficbench import gen

    a, b = gen.json_backlog(7, 2000), gen.json_backlog(7, 2000)
    assert a["lines"] == b["lines"] and a["odd"] == b["odd"]
    assert gen.json_backlog(8, 2000)["lines"] != a["lines"]
    assert all(a["odd"][k] for k in (0, 1, 2)), "every odd-line class present"
    evs = gen.events(7, 3000, 3)
    assert gen.msgpack_chunks(evs, 1000) == gen.msgpack_chunks(
        gen.events(7, 3000, 3), 1000)
    assert gen.events_checksum(evs) != gen.events_checksum(gen.events(8, 3000, 3))
    assert gen.log_rows(gen.events(7, 500, 7)) == gen.log_rows(gen.events(7, 500, 7))


def check_tail_rule() -> None:
    from trafficbench.trace import tail

    assert tail([float(i) for i in range(10)]) is None
    for n in (11, 20, 57, 400):
        values = [float(i) for i in range(n)]
        pct, value, count = tail(values)
        assert count == n
        assert sum(v > value for v in values) == 10, (n, value)
        assert abs(pct - 100.0 * (n - 10) / n) < 1e-9


def check_error_counting() -> None:
    from trafficbench import chstub, gen, run
    from trafficbench.trace import Tracer
    from trafficbench.workloads import Ingest

    # a stand-in session: the check never starts a stream
    spark = SimpleNamespace(streams=SimpleNamespace(addListener=lambda _: None))
    evs = gen.events(3, 100, 1)
    rows = gen.log_rows(evs)
    batches = [(50, {"triggerExecution": 5})] * 2
    with tempfile.TemporaryDirectory() as d:
        wl = Ingest(spark, d, 1, Tracer(False), None)
        path = wl.paths[1]  # msgpack into the ClickHouse stub
        path.src = d
        path.expect = {"lines": 100, "batches": 2, "input_bytes": 1,
                       "checksum": gen.events_checksum(evs)}

        def drain(logs: list[str]) -> None:
            """Land ``logs`` in a fresh stub ledger and record the drain."""
            path.ledger = tempfile.mkdtemp(dir=d)
            conn = chstub.StubFactory(path.ledger)()
            conn.executemany("", [(t, None, None, None, p, None, None, None,
                                   None, g) for t, p, g in
                                  zip(rows["timestamp"], rows["pod_name"], logs)])
            conn.commit()
            conn.close()
            wl.record(path, d, "run", batches, (1.0, 1.0), None, traced=False)

        drain(list(rows["log"]))
        assert wl.failed == 0 and wl.attempted == 2, wl.errors
        # one row's log line is wrong: same count, different checksum
        wrong = list(rows["log"])
        wrong[5] += "!"
        drain(wrong)
        assert wl.failed == 2 and wl.errors, wl.errors
        line = run.result_line(wl, {})
        assert line["correct"] is False and line["attempted"] == 4
        assert line["failed"] / line["attempted"] == 0.5


def main() -> int:
    sys.path.insert(0, ROOT)
    for check in (check_generators, check_tail_rule, check_error_counting):
        check()
        print(f"ok {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
