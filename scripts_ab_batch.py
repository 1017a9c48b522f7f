#!/usr/bin/env python
"""Interleaved A/B of the ``ingest`` workload's drains: a base commit
against the working tree.

    python scripts_ab_batch.py --base HEAD~1 --pairs 10 --seed 1
    python scripts_ab_batch.py --base HEAD~1 --trees --pairs 8 --drains 6

Both modes build the traffic benchmark's ``ingest`` inputs, then drain its
JSON backlog (dead-letter channel and IngestMetrics on, into
``exactly_once_sink``) and its msgpack backlog (into ``ClickHouseSink``).
Every drain is checked by the benchmark's own ``verify``. At the end, per
path: each side's median and quartiles of the batches' ``triggerExecution``
milliseconds, the Spark jobs per drain, and how many pairs the working tree
won. Exits non-zero if any drain failed its check.

Default mode, ``klogs_spark/stream.py`` only: loads ``stream.py`` as it is
at BASE (``git show``) as a second module beside the working tree's
``klogs_spark.stream``, in ONE Spark session; every other engine module is
the working tree's. The side that goes first alternates from one pair to
the next, and a pair is one drain of each side. Both sides share the JVM,
the Python workers and the host's load at the same moment, so this
separates changes of a tenth of a batch that separate benchmark processes
on a busy host cannot. The base side is swapped in through the ``stream``
name the workloads module looks up.

``--trees``: whole trees, for a change anywhere in the engine.
``git archive``s BASE into a temporary directory and alternates processes:
each runs ``--drains`` checked drains of both paths in its own Spark
session (after one unmeasured drain of each), in the base copy or in the
working tree; the side that goes first alternates from one pair to the
next. A pair is one process of each side, and it is won on the median of
its process's drains.

Neither mode changes a file of ``trafficbench``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
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


def archive(base: str, dest: str) -> None:
    """Extract the committed files of ``base`` into ``dest``."""
    tar = subprocess.run(["git", "archive", base], cwd=ROOT,
                         capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Drains:
    """The ``ingest`` workload in one Spark session, drained path by path.
    ``trig``/``jobs`` collect, per (path, side), each kept drain's batch
    times and Spark jobs; ``bad`` counts the drains that failed."""

    def __init__(self, seed: int, work: str):
        from klogs_spark.session import get_spark
        from trafficbench import workloads
        from trafficbench.trace import Tracer

        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("ab-batch", f"local[{cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracker = self.spark.sparkContext.statusTracker()
        self.work = work
        self.workloads = workloads
        self.wl = workloads.Ingest(self.spark, work, seed, Tracer(False),
                                   None)
        self.trig: dict[tuple[str, str], list[float]] = {}
        self.jobs: dict[tuple[str, str], list[int]] = {}
        self.bad = 0
        self.wl.generate()
        self.wl.paths[0].oracle()

    def drain(self, p, side: str, keep: bool) -> None:
        d = self.workloads.fresh_dir(f"{self.work}/drain")
        error = None
        try:
            p.run_drain(d)
        except Exception as exc:  # counted and reported below
            error = exc
        run_id, batches = self.wl.progress.last_run()
        why = f"drain failed: {error!r}" if error else p.verify(d)
        if why is not None:
            self.bad += 1
            print(f"  {p.name} {side}: {why}", file=sys.stderr, flush=True)
        if keep:
            key = (p.name, side)
            self.trig.setdefault(key, []).extend(
                dur["triggerExecution"] for _, dur in batches)
            self.jobs.setdefault(key, []).append(
                len(self.tracker.getJobIdsForGroup(run_id)))

    def close(self) -> None:
        self.wl.close()
        self.spark.stop()


def report(paths, trig, jobs, wins, label: str) -> None:
    """Per path: each side's triggerExecution median [q1, q3], the
    working tree's wins out of ``wins[path]`` pairs, Spark jobs per drain."""
    print(f"\n{label}; triggerExecution ms median [q1, q3]; wins = pairs "
          "the working tree won")
    for name in paths:
        base, head = trig.get((name, "base")), trig.get((name, "head"))
        if not base or not head:
            continue
        won, of = wins[name]
        bq1, bmed, bq3 = quartiles(base)
        hq1, hmed, hq3 = quartiles(head)
        change = (hmed - bmed) / bmed * 100 if bmed else float("nan")
        clear = abs(hmed - bmed) > bq3 - bq1
        print(f"{name}: base {bmed:.0f} [{bq1:.0f}, {bq3:.0f}] -> "
              f"{hmed:.0f} [{hq1:.0f}, {hq3:.0f}] ({change:+.1f}%), "
              f"wins {won}/{of}, "
              f"{'beyond' if clear else 'within'} base IQR; Spark jobs per "
              f"drain {statistics.median(jobs[(name, 'base')]):g} -> "
              f"{statistics.median(jobs[(name, 'head')]):g}")


def in_process(args, work: str) -> int:
    import klogs_spark.stream as head_stream

    sides = {"base": load_base_stream(args.base), "head": head_stream}
    run = Drains(args.seed, work)
    try:
        def drain(p, side: str, keep: bool) -> None:
            run.workloads.stream = sides[side]
            try:
                run.drain(p, side, keep)
            finally:
                run.workloads.stream = head_stream

        for side in sides:  # unmeasured: first query, workers, classes
            for p in run.wl.paths:
                drain(p, side, keep=False)
        for i in range(args.pairs):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            for p in run.wl.paths:
                for side in order:
                    drain(p, side, keep=True)
            print(f"pair {i + 1}/{args.pairs} done", flush=True)
    finally:
        run.close()
    names = [p.name for p in run.wl.paths]
    wins = {}
    for name in names:
        base = run.trig.get((name, "base"), [])
        head = run.trig.get((name, "head"), [])
        # one batch per drain: pairs line up drain by drain
        wins[name] = (sum(h < b for b, h in zip(base, head)),
                      min(len(base), len(head)))
    report(names, run.trig, run.jobs, wins,
           f"{args.pairs} pairs in one session, stream.py at {args.base} "
           "vs the working tree")
    if run.bad:
        print(f"\n{run.bad} drain(s) failed their check")
    return 1 if run.bad else 0


def child(args, work: str) -> int:
    """One process of ``--trees``: the drains of both paths in the tree it
    runs in; prints one JSON line of their batch times and jobs."""
    run = Drains(args.seed, work)
    try:
        for p in run.wl.paths:  # unmeasured: first query, workers, classes
            run.drain(p, "tree", keep=False)
        for _ in range(args.drains):
            for p in run.wl.paths:
                run.drain(p, "tree", keep=True)
    finally:
        run.close()
    print(json.dumps({
        "trig": {name: v for (name, _), v in run.trig.items()},
        "jobs": {name: v for (name, _), v in run.jobs.items()},
        "bad": run.bad}))
    return 0


def run_tree(tree: str, args) -> dict | None:
    """One ``child`` process in ``tree``; its result object, or None."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts_ab_batch.py"),
         "--child", "--drains", str(args.drains), "--seed", str(args.seed)],
        cwd=tree, capture_output=True, text=True)
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print(f"  process failed (exit {proc.returncode}):\n"
              + "\n".join(proc.stderr.strip().splitlines()[-15:]))
        return None


def trees(args) -> int:
    base_tree = tempfile.mkdtemp(prefix="ab-base-")
    trig: dict[tuple[str, str], list[float]] = {}
    jobs: dict[tuple[str, str], list[int]] = {}
    per_pair: list[dict[str, dict]] = []
    bad = 0
    try:
        archive(args.base, base_tree)
        for i in range(args.pairs):
            order = [("base", base_tree), ("head", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, tree in order:
                res = run_tree(tree, args)
                if res is None:
                    bad += 1
                    continue
                bad += res["bad"]
                got[side] = res
                for name, v in res["trig"].items():
                    trig.setdefault((name, side), []).extend(v)
                for name, v in res["jobs"].items():
                    jobs.setdefault((name, side), []).extend(v)
            print(f"pair {i + 1}/{args.pairs} done", flush=True)
            if len(got) == 2:
                per_pair.append(got)
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)
    names = sorted({name for name, _ in trig})
    wins = {}
    for name in names:
        won = sum(statistics.median(p["head"]["trig"][name])
                  < statistics.median(p["base"]["trig"][name])
                  for p in per_pair)
        wins[name] = (won, len(per_pair))
    report(names, trig, jobs, wins,
           f"{len(per_pair)} process pairs of {args.drains} drains each, "
           f"{args.base} vs the working tree")
    if bad:
        print(f"\n{bad} drain(s) or process(es) failed")
    return 1 if bad or not per_pair else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="commit to compare against (git rev)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trees", action="store_true",
                    help="alternate processes over whole trees")
    ap.add_argument("--drains", type=int, default=6,
                    help="checked drains of each path per process (--trees)")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.child and not args.base:
        ap.error("--base is required")
    if args.trees:
        return trees(args)

    # the child runs in the tree it measures (its working directory)
    sys.path.insert(0, os.getcwd() if args.child else ROOT)
    from trafficbench.run import prepare_env

    work = tempfile.mkdtemp(prefix="ab-batch-")
    try:
        prepare_env(work)
        return child(args, work) if args.child else in_process(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
