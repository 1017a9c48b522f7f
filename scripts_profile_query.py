#!/usr/bin/env python
"""Per-query isolation harness for optimization rounds (guide §1).

Usage: python scripts_profile_query.py <query> [<query> ...] [--plan DIR] \
           [--trials N] [--noop]

Times each named registry query in its own clean state (release_tracked +
clearCache between trials), best-of-N, using the SAME action the bench uses
(df.count()) by default, or the noop sink with --noop. With --plan DIR the
query's .explain(\"formatted\") output is written to DIR/<query>.txt.

Each trial also prints how many classes whole-stage codegen compiled and
the milliseconds Janino spent on them, from Spark's ``CodegenMetrics``
compilation-time histogram — a count that host load cannot move, so a
trial that recompiles (an evicted or first-seen plan shape) shows without
a JFR capture. The milliseconds are exact while the histogram's reservoir
still holds every sample of the session, and print as ``?`` after that.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def codegen_totals(spark) -> tuple[int, int | None]:
    """(classes compiled, total Janino ms or None) so far in this JVM."""
    jvm = spark._jvm
    hist = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    count = int(hist.getCount())
    snap = hist.getSnapshot()
    if snap.size() != count:  # the reservoir dropped samples
        return count, None
    return count, int(jvm.java.util.Arrays.stream(snap.getValues()).sum())


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plan_dir = None
    trials = 5
    use_noop = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--plan":
            plan_dir = args[i + 1]
            i += 2
        elif a == "--trials":
            trials = int(args[i + 1])
            i += 2
        elif a == "--noop":
            use_noop = True
            i += 1
        else:
            names.append(a)
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from klogs_spark.ext.caching import release_tracked
    from klogs_spark.queries import registry
    from klogs_spark.session import get_spark

    spark = get_spark("klogs-spark-profile")
    specs = registry()
    # same warm-up as bench.py: JVM/codegen, shuffle path, Python workers
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1_000).repartition(64, "id").count()
    spark.range(64, numPartitions=64).mapInPandas(
        lambda it: it, "id long"
    ).count()

    def reset() -> None:
        release_tracked()
        try:
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    for name in names:
        fn = specs[name].fn
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            reset()
        best = float("inf")
        n = -1
        spark.sparkContext.setJobDescription(f"profile:{name}")
        for trial in range(trials):
            classes0, ms0 = codegen_totals(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                n = df.count()
            secs = time.perf_counter() - t0
            best = min(best, secs)
            classes1, ms1 = codegen_totals(spark)
            janino = "?" if ms0 is None or ms1 is None else ms1 - ms0
            print(f"  {name} trial {trial}: {secs:.3f}s, "
                  f"{classes1 - classes0} classes compiled, "
                  f"{janino} ms in Janino")
        reset()
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {best:.3f}s ({n} rows)")


if __name__ == "__main__":
    main()
