"""klogs traffic benchmark: one workload, one seed, one result line.

    python3 trafficbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is a JSON
object: with ``--trace 0`` it carries the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` the per-layer ones; the lines before it
are a readable report. See trafficbench/NOTE.md for what each workload is
for and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".trafficbench_work")
OUT_ROOT = os.path.join(ROOT, ".trafficbench_out")
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (BENCHMARK.json's per_layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    make the Python workers able to import the engine and the benchmark;
    pin the time zone so timestamps round-trip as UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the launcher JVM spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.local.dir={work}/local",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            # keep every job/stage/execution of a run in the status stores
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms1g -XX:-UsePerfData"',
            "pyspark-shell",
        ]),
    })
    time.tzset()


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak RSS (VmHWM) of the Spark JVM and of its Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    kb, todo = {}, [jvm_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb[pid] = int(line.split()[1])
        except OSError:
            continue
    jvm = kb.pop(jvm_pid, 0)
    return jvm / 1024, sum(kb.values()) / 1024


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def run(args, work: str) -> int:
    from trafficbench.trace import Stopwatch, Tracer, describe_tail, median

    watch = Stopwatch()
    from klogs_spark.session import get_spark

    from trafficbench.counters import SparkCounters
    from trafficbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    layer_units = per_layer_units() if args.trace else {}
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("trafficbench", f"local[{cores}]")
    jvm = spark.sparkContext._gateway.proc
    spark.sparkContext.setLogLevel("ERROR")
    session_s = watch.steal_free()
    tracer = Tracer(bool(args.trace))
    counters = SparkCounters(spark) if args.trace else None
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, counters)
    try:
        watch = Stopwatch()
        wl.generate()
        gen_s = watch.steal_free()
        builds = []
        for k in range(wl.builds):
            watch = Stopwatch()
            wl.build(k)
            builds.append(watch.steal_free())
        watch = Stopwatch()
        wl.warmup()
        warm_s = watch.steal_free()
        if counters is not None:
            counters.skip()
        watch = Stopwatch()
        wl.measure(args.seconds)
        measured_wall, measured_s = watch.elapsed()
        rss_jvm, rss_py = peak_rss_mb(jvm.pid)
        rss = rss_jvm + rss_py
        e2e = {"setup_s": session_s + gen_s + median(builds), **wl.e2e()}
        layers = wl.layers() if args.trace else {}
    finally:
        if hasattr(wl, "close"):
            wl.close()
        spark.stop()
        # the gateway JVM exits when its stdin closes; wait for it, so a
        # run leaves no process behind
        jvm.stdin.close()
        jvm.wait(timeout=60)

    print(f"# phases: session {session_s:.1f} s, inputs {gen_s:.1f} s, "
          f"builds {sum(builds):.1f} s, warm-up {warm_s:.1f} s (oracles "
          f"{wl.oracle_s:.1f} s), measured {measured_s:.1f} s; all "
          f"steal-free (the measured phase took {measured_wall:.1f} s of "
          "wall time)")
    print(f"# workload {args.workload} seed {args.seed}: {wl.attempted} "
          f"operations checked (warm-up included), {wl.failed} failed, "
          f"error_rate {wl.failed / max(wl.attempted, 1):.4f}; one client, "
          "closed loop")
    print(f"# setup_s {e2e['setup_s']:.3f} s = session start {session_s:.3f} s "
          f"+ inputs {gen_s:.3f} s + median of {len(builds)} builds "
          f"({', '.join(f'{s:.3f}' for s in builds) or '-'} s)")
    rep = wl.report()
    for key, value in rep.items():
        if isinstance(value, tuple):
            print(f"# {key} {value[0]:.4g} {value[1]}")
        else:
            print(f"# {key}_p50_ms {median(value):.1f} ms, {key}_tail_ms "
                  f"{describe_tail(value)}")
    print("# per-kind latencies, ms: " + "; ".join(
        f"{name} " + " ".join(f"{ms:.0f}" for ms in values)
        for name, values in sorted(wl.lat.items()) if "." in name))
    print(f"# peak_rss_mb {rss:.1f} MB = Spark JVM {rss_jvm:.1f} + Python "
          f"workers {rss_py:.1f}")
    for err in wl.errors[:10]:
        print(f"# FAILED: {err}")

    if args.trace:
        traced_ops = wl.traced_ops()
        self_ms = tracer.self_ms()
        for layer in sorted(self_ms):
            layers[f"{layer}.self_ms"] = self_ms[layer] / max(traced_ops, 1)
        overhead = wl.overhead_ms()
        layers["trace.overhead_ms"] = overhead or 0.0
        layers["trace.read_ms"] = median(wl.read_ms)
        print("# tracing overhead (traced minus untraced latency of warm "
              "operations, see NOTE.md): "
              + ("n/a" if overhead is None else f"{overhead:+.1f} ms")
              + f"; counter read {median(wl.read_ms):.1f} ms per traced "
              "operation, outside the timed region")
        for layer in sorted(self_ms):
            print(f"# self time {layer}: {self_ms[layer]:.1f} ms over "
                  f"{traced_ops} traced operations")
        os.makedirs(OUT_ROOT, exist_ok=True)
        spans = os.path.join(
            OUT_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans)
        print(f"# spans: {os.path.relpath(spans, ROOT)}")
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in layer_units.items()}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in E2E_UNITS.items()}
    print(json.dumps(result_line(wl, metrics)))
    return 0


def result_line(wl, metrics: dict) -> dict:
    """The final JSON object. A run that attempted nothing counts as one
    failed operation."""
    attempted = max(wl.attempted, 1)
    failed = wl.failed if wl.attempted else 1
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
