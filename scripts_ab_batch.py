#!/usr/bin/env python
"""In-process interleaved A/B of ``klogs_spark/stream.py``: a base commit's
copy against the working tree, in one Spark session.

    python scripts_ab_batch.py --base HEAD~1 --pairs 10 --seed 1

Loads ``stream.py`` as it is at BASE (``git show``) as a second module
beside the working tree's ``klogs_spark.stream``; every other engine module
is the working tree's. Builds the traffic benchmark's ``ingest`` inputs
once, then drains its JSON backlog (dead-letter channel and IngestMetrics
on, into ``exactly_once_sink``) and its msgpack backlog (into
``ClickHouseSink``) through each side in turn. The side that goes first
alternates from one pair to the next. Every drain is checked by the
benchmark's own ``verify``. At the end, per path: each side's median and
quartiles of the batches' ``triggerExecution`` milliseconds, the Spark
jobs per drain, and how many pairs the working tree won.

Both sides share the JVM, the Python workers and the host's load at the
same moment, so this separates changes of a tenth of a batch that
separate benchmark processes on a busy host cannot. It imports
``trafficbench`` and changes none of its files; the base side is swapped
in through the ``stream`` name the workloads module looks up. Exits
non-zero if any drain failed its check.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import types

ROOT = os.path.dirname(os.path.abspath(__file__))


def load_base_stream(base: str) -> types.ModuleType:
    """``klogs_spark/stream.py`` at ``base``, as the module
    ``klogs_spark._ab_base_stream`` (its relative imports resolve to the
    working tree's package)."""
    src = subprocess.run(["git", "show", f"{base}:klogs_spark/stream.py"],
                         cwd=ROOT, capture_output=True, text=True,
                         check=True).stdout
    name = "klogs_spark._ab_base_stream"
    mod = types.ModuleType(name)
    mod.__package__ = "klogs_spark"
    mod.__file__ = f"{base}:klogs_spark/stream.py"
    sys.modules[name] = mod
    exec(compile(src, mod.__file__, "exec"), mod.__dict__)
    return mod


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True,
                    help="commit whose stream.py is compared (git rev)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from trafficbench.run import prepare_env

    work = tempfile.mkdtemp(prefix="ab-batch-")
    try:
        prepare_env(work)
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import klogs_spark.stream as head_stream
    from klogs_spark.session import get_spark
    from trafficbench import workloads
    from trafficbench.trace import Tracer

    sides = {"base": load_base_stream(args.base), "head": head_stream}
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("ab-batch", f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    wl = workloads.Ingest(spark, work, args.seed, Tracer(False), None)
    # (path, side) -> per-drain lists
    trig: dict[tuple[str, str], list[float]] = {}
    jobs: dict[tuple[str, str], list[int]] = {}
    bad = 0
    try:
        wl.generate()
        wl.paths[0].oracle()

        def drain(p, side: str, keep: bool) -> None:
            nonlocal bad
            workloads.stream = sides[side]
            d = workloads.fresh_dir(f"{work}/drain")
            error = None
            try:
                p.run_drain(d)
            except Exception as exc:  # counted and reported below
                error = exc
            finally:
                workloads.stream = head_stream
            run_id, batches = wl.progress.last_run()
            why = f"drain failed: {error!r}" if error else p.verify(d)
            if why is not None:
                bad += 1
                print(f"  {p.name} {side}: {why}", flush=True)
            if keep:
                key = (p.name, side)
                trig.setdefault(key, []).extend(
                    dur["triggerExecution"] for _, dur in batches)
                jobs.setdefault(key, []).append(
                    len(tracker.getJobIdsForGroup(run_id)))

        for side in sides:  # unmeasured: first query, workers, classes
            for p in wl.paths:
                drain(p, side, keep=False)
        for i in range(args.pairs):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            for p in wl.paths:
                for side in order:
                    drain(p, side, keep=True)
            print(f"pair {i + 1}/{args.pairs} done", flush=True)
    finally:
        wl.close()
        spark.stop()

    print(f"\n{args.pairs} pairs, base {args.base} vs working tree; "
          "triggerExecution ms median [q1, q3]; wins = pairs where the "
          "working tree's drain was faster")
    for p in wl.paths:
        base, head = trig.get((p.name, "base")), trig.get((p.name, "head"))
        if not base or not head:
            continue
        # one batch per drain: pairs line up drain by drain
        wins = sum(h < b for b, h in zip(base, head))
        bq1, bmed, bq3 = quartiles(base)
        hq1, hmed, hq3 = quartiles(head)
        change = (hmed - bmed) / bmed * 100 if bmed else float("nan")
        clear = abs(hmed - bmed) > bq3 - bq1
        print(f"{p.name}: base {bmed:.0f} [{bq1:.0f}, {bq3:.0f}] -> "
              f"{hmed:.0f} [{hq1:.0f}, {hq3:.0f}] ({change:+.1f}%), "
              f"wins {wins}/{min(len(base), len(head))}, "
              f"{'beyond' if clear else 'within'} base IQR; Spark jobs per "
              f"drain {statistics.median(jobs[(p.name, 'base')]):g} -> "
              f"{statistics.median(jobs[(p.name, 'head')]):g}")
    if bad:
        print(f"\n{bad} drain(s) failed their check")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
