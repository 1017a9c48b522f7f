#!/usr/bin/env python
"""Interleaved A/B of the traffic benchmark: a base commit against this tree.

    python scripts_ab_pairs.py --base HEAD~1 --workload logs_table --seeds 11-20

``git archive``s BASE into a temporary directory, then for every seed (and
``--repeat`` times each) runs ``trafficbench/run.py`` once in the base copy
and once in this checkout's working tree. The side that goes first
alternates from one pair to the next, so host drift lands on both sides
alike. Each run's result prints as it finishes. At the end, per metric:
each side's median and quartiles, how many pairs this tree won (the
direction comes from BENCHMARK.json), and whether the medians differ by
more than the base's interquartile range. Each run's peak RSS (the Spark
JVM plus its Python workers) is compared too, as ``peak_rss_mb``. Exits
non-zero if any run failed or reported an incorrect operation.
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

ROOT = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    """``11-20`` or ``3,5,8`` (or a mix) to a list of seeds."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def directions() -> dict[str, str]:
    """metric name -> "lower" or "higher" is better, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def archive(base: str, dest: str) -> None:
    """Extract the committed files of ``base`` into ``dest``."""
    tar = subprocess.run(["git", "archive", base], cwd=ROOT,
                         capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest)


def run_once(tree: str, args, seed: int) -> dict | None:
    """One benchmark run in ``tree``; its result object, or None."""
    proc = subprocess.run(
        [sys.executable, "trafficbench/run.py", "--workload", args.workload,
         "--seed", str(seed), "--seconds", str(args.seconds),
         "--trace", str(args.trace)],
        cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or result is None:
        print(f"  run failed (exit {proc.returncode}):\n"
              + "\n".join(proc.stderr.strip().splitlines()[-15:]))
        return None
    # the report line "# peak_rss_mb <MB> MB = ...": memory is compared
    # next to the end-to-end metrics, so work moved into memory shows
    for line in lines:
        if line.startswith("# peak_rss_mb "):
            result["metrics"]["peak_rss_mb"] = {
                "value": float(line.split()[2]), "unit": "MB"}
    return result


def summarize(result: dict | None) -> str:
    if result is None:
        return "failed"
    if not result["correct"]:
        return f"{result['failed']} of {result['attempted']} operations failed"
    metrics = result["metrics"]
    if "setup_s" not in metrics:  # traced: the per-layer set
        return f"correct, {len(metrics)} metrics"
    return " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(metrics.items()))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    names = sorted({m for base, _ in pairs for m in base["metrics"]})
    print(f"\n{len(pairs)} pairs; median [q1, q3]; wins = pairs where this "
          "tree is better")
    for name in names:
        base = [b["metrics"][name]["value"] for b, _ in pairs]
        head = [h["metrics"][name]["value"] for _, h in pairs]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (h - b) > 0 for b, h in zip(base, head))
        bq1, bmed, bq3 = quartiles(base)
        hq1, hmed, hq3 = quartiles(head)
        change = (hmed - bmed) / bmed * 100 if bmed else float("nan")
        clear = abs(hmed - bmed) > bq3 - bq1
        print(f"{name}: base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] -> "
              f"{hmed:.4g} [{hq1:.4g}, {hq3:.4g}] ({change:+.1f}%), "
              f"wins {wins}/{len(pairs)}, "
              f"{'beyond' if clear else 'within'} base IQR {bq3 - bq1:.4g}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True,
                    help="commit to compare against (git rev)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="e.g. 11-20 or 3,5,8")
    ap.add_argument("--repeat", type=int, default=1,
                    help="pairs per seed")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base_tree = tempfile.mkdtemp(prefix="ab-base-")
    pairs: list[tuple[dict, dict]] = []
    bad = 0
    try:
        archive(args.base, base_tree)
        plan = [s for s in args.seeds for _ in range(args.repeat)]
        for i, seed in enumerate(plan):
            order = [("base", base_tree), ("head", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, tree in order:
                got[side] = res = run_once(tree, args, seed)
                print(f"pair {i + 1}/{len(plan)} seed {seed} {side}: "
                      f"{summarize(res)}", flush=True)
            if None in got.values():
                bad += 1
                continue
            bad += not (got["base"]["correct"] and got["head"]["correct"])
            pairs.append((got["base"], got["head"]))
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)
    if pairs:
        report(pairs, directions())
    if bad:
        print(f"\n{bad} pair(s) had a failed run or an incorrect operation")
    return 1 if bad or not pairs else 0


if __name__ == "__main__":
    sys.exit(main())
