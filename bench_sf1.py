#!/usr/bin/env python
"""sf1 (10x) spot-bench — MEASURES the scale claims instead of arguing them.

The per-round bench (bench.py) runs at sf0.1; every "survives 100x" verdict
so far rested on plan shape. This harness deterministically replicates the
sf0.1 inputs 10x (content-shifted, see below), runs the most expensive
operators at BOTH scales, and prints ONE JSON line with sec, sec/input-row,
and the 10x scaling ratio per operator — sub-linear-or-linear is the pass.

Replication is content-SHIFTED, not copy-pasted, so each operator's work
scales the way a genuinely 10x corpus would:

* documents: replica k suffixes every token with ``_k`` — within-replica
  structure (bag sizes, co-occurrence, quality stats) is preserved exactly,
  while cross-replica token hashes are fresh, so simhash/minhash pair
  density stays corpus-like instead of every replica near-dup-matching its
  9 copies (which would measure an artificial 100x pair blowup, not
  scaling). Vocabulary grows 10x with the corpus (Heaps-ish).
* customer: keys shift by 1M per replica and ``c_name`` is re-derived from
  the shifted key with the generator's own Customer#%09d format — the
  digit-dense distance-1 neighborhood structure is that of a real 150k
  table (cross-replica pairs arise exactly where single-digit differences
  do).
* events: event_id/user_id shift per replica, timestamps unchanged — same
  day-partition count, 10x rows per day (a bigger deployment, same window).
* orders: keys shift aligned with customer.

Run: ``python bench_sf1.py`` (env: BENCH_SF1_TRIALS, default 2;
SPARK_GRAFT_SF1_DIR, default /tmp/klogs_sf1, rebuilt when row counts
mismatch). Output is committed per-round as BENCH_SF1.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _timed_week_delete(spark, src, delete_fn, prefix, trials):
    """Shared scaffold for the delete-tier 10x rows: fresh table per
    trial (untimed), one week-scoped predicate delete timed."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from klogs_spark.manifest import publish_snapshot
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events

    best = float("inf")
    for _ in range(max(trials, 1)):
        d = tempfile.mkdtemp(prefix=prefix)
        write_logs(
            derive_logs_from_events(spark, src), d, mode="overwrite"
        )
        publish_snapshot(spark, d)
        t0 = time.perf_counter()
        delete_fn(
            spark, d,
            F.expr("pod_name = 'pod-7' AND date < '2024-01-08'"),
        )
        best = min(best, time.perf_counter() - t0)
        shutil.rmtree(d, ignore_errors=True)
    return best


REPLICAS = 10
SF01 = "/root/testdata/sf0.1"

# (table, expected sf0.1 rows) — the tables the measured operators read
TABLES = ("documents", "customer", "events", "orders")


def _build_sf1(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from klogs_spark.views import load_table

    def replicate(name: str):
        base = load_table(spark, SF01, name)
        outs = []
        for k in range(REPLICAS):
            r = base
            if name == "documents":
                r = r.withColumn(
                    "doc_id", F.col("doc_id") + k * 1_000_000
                )
                if k:
                    r = r.withColumn(
                        "text",
                        F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{k}"),
                    )
            elif name == "customer":
                r = r.withColumn(
                    "c_custkey", F.col("c_custkey") + k * 1_000_000
                ).withColumn(
                    "c_name",
                    F.format_string("Customer#%09d", F.col("c_custkey")),
                )
            elif name == "events":
                r = r.withColumn(
                    "event_id", F.col("event_id") + k * 10_000_000
                ).withColumn("user_id", F.col("user_id") + k * 10_000)
            elif name == "orders":
                r = r.withColumn(
                    "o_orderkey", F.col("o_orderkey") + k * 100_000_000
                ).withColumn("o_custkey", F.col("o_custkey") + k * 1_000_000)
            outs.append(r)
        merged = outs[0]
        for r in outs[1:]:
            merged = merged.unionByName(r)
        merged.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    for t in TABLES:
        replicate(t)


def _ensure_sf1(spark, out_dir: str) -> dict:
    """Build (or reuse) the replicated dir; returns per-table row counts."""
    from klogs_spark.views import load_table

    counts = {}
    need = False
    for t in TABLES:
        try:
            n01 = load_table(spark, SF01, t).count()
            n1 = load_table(spark, out_dir, t).count()
            counts[t] = n1
            if n1 != REPLICAS * n01:
                need = True
        except Exception:  # noqa: BLE001 — missing/corrupt => rebuild
            need = True
    if need:
        print(f"# building sf1 replica dir at {out_dir}", file=sys.stderr)
        _build_sf1(spark, out_dir)
        counts = {
            t: load_table(spark, out_dir, t).count() for t in TABLES
        }
    return counts


def _sf1only_main() -> None:
    """Child mode for the cpu-scaling pair (VERDICT r21 #8): time ONLY
    the MEASURED registry queries at sf1 with the session's core count
    (the parent sets SPARK_GRAFT_CPUS) and print one JSON line
    {name: sec}. The sf1 replica dir must already exist — the parent
    built it."""
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/klogs_sf1")
    trials = int(os.environ.get("BENCH_SF1_TRIALS", "2"))

    from klogs_spark.ext.caching import release_tracked
    from klogs_spark.queries import registry
    from klogs_spark.session import get_spark

    spark = get_spark("klogs-spark-bench-sf1-lowcpu")
    specs = registry()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64, numPartitions=64).mapInPandas(
        lambda it: it, "id long"
    ).count()
    out: dict = {}
    for name, _ in MEASURED:
        try:
            fn = specs[name].fn
            best = float("inf")
            for _ in range(max(trials, 1)):
                t0 = time.perf_counter()
                fn(spark, sf1_dir).count()
                best = min(best, time.perf_counter() - t0)
                release_tracked()
            out[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            out[name] = f"FAILED {type(exc).__name__}"[:80]
    print(json.dumps(out))


def _cpu_scaling_pass(sf1_results: dict) -> dict | None:
    """Re-run the MEASURED sf1 timings in a SUBPROCESS at
    BENCH_SF1_LOW_CPUS cores (local[n] is fixed per JVM, so a second
    process is the only way to change the master) and return the
    per-query low/main second pair + ratio. The sf0.1 bench's 8-vs-32
    block reads ~1 everywhere because fixed per-job overhead dominates
    at that scale (VERDICT r21 scaling note); sf1 is where serial
    operators separate from parallel ones."""
    low = os.environ.get("BENCH_SF1_LOW_CPUS")
    if not low:
        return None
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = low
    env["BENCH_SF1_MODE"] = "sf1only"
    print(f"# cpu-scaling pass at {low} cores ...", file=sys.stderr)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=3600,
    )
    if proc.returncode != 0:
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        print(f"# cpu-scaling pass exited {proc.returncode}; stderr tail:\n"
              f"{tail}", file=sys.stderr)
        return None
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    try:
        low_secs = json.loads(line)
    except ValueError:
        print(f"# cpu-scaling pass unparsable: {line[:200]}", file=sys.stderr)
        return None
    main_cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    per_query = {}
    for name, lsec in low_secs.items():
        msec = (sf1_results.get(name) or {}).get("sf1_sec")
        if isinstance(lsec, (int, float)) and isinstance(msec, (int, float)) \
                and msec > 0:
            per_query[name] = {
                f"c{low}_sec": lsec,
                f"c{main_cpus}_sec": msec,
                "ratio_low_over_main": round(lsec / msec, 2),
            }
        else:
            per_query[name] = {"err": str(lsec)}
    return {"cpus_main": int(main_cpus), "cpus_low": int(low),
            "per_query": per_query}


# registry queries measured at both scales, with the table whose row
# count is the operator's input size (for sec/row) — module-level so the
# sf1only child mode times the same list
MEASURED = [
    ("text_edit_distance_join", "customer"),
    ("dedup_simhash_pairs", "documents"),
    ("ingest_msgpack_pipeline", "events"),
    ("pipeline_pretrain_prep", "documents"),
    ("tpch_rfm_segments", "orders"),
    ("tpch_rfm_segments_scaled", "orders"),
    # r10 additions: the posting-list BM25 plan and the
    # fingerprint-keyed repeated-span chain (gram df table is
    # corpus-sized — the measurement proves it stays linear)
    ("text_bm25_topk", "documents"),
    ("dedup_repeated_substrings", "documents"),
    # r13: span REMOVAL was the one new heavy dedup operator without a
    # 10x measurement (fingerprint equi-joins + anti-join + row-local
    # array_sort rebuild — the claim is corpus-linear, prove it)
    ("dedup_remove_repeated_spans", "documents"),
    # r13: BPE training claims ONE corpus-sized pass (the word count)
    # + vocab-scale merge rounds; the replicas suffix tokens so the
    # vocabulary genuinely grows 10x with the corpus — the ratio
    # measures both the pass and the vocab-side scaling
    ("text_bpe_merges", "documents"),
    # r14: per-document tokenization = one corpus word count (train)
    # + one keyed equi-join of doc-word counts vs the vocab — expect
    # ~linear even with the 10x vocabulary
    ("text_bpe_tokenize", "documents"),
    # r13: the typed PII scrub claims pure JVM regex work
    # (whole-stage codegen, no Python crossing) — corpus-linear
    ("text_pii_redact_typed", "documents"),
    # r13: the LM scorer is two corpus-sized bigram explodes joined
    # through vocab-sized count tables — should scale ~linearly even
    # as the suffixed replicas grow the vocabulary 10x
    ("text_lm_bigram_score", "documents"),
    # r13: scale-path decontamination claims work ∝ grams + candidate
    # density, never docs x probes — both sides grow 10x here (10x
    # corpus, 10x probe set from the same modulus)
    ("dedup_contamination_scaled", "documents"),
    # r14: MOSS winnowing pair generation — keyed fingerprint
    # equi-join; output pairs grow ~10x with content-shifted
    # replicas (within-replica structure preserved), so expect a
    # modest ratio (measured 1.56 at 10x output growth)
    ("dedup_winnowing_pairs", "documents"),
    # r15: the trigram backoff LM triples the n-gram explode count of
    # the bigram scorer and adds two more vocab-table joins — the
    # claim is still corpus-linear through vocab-sized reductions
    ("text_lm_trigram_backoff", "documents"),
    # r15: the Gopher battery IS the text-scan floor (row-local,
    # zero shuffles) — its ratio calibrates the corpus read path
    ("text_gopher_rules", "documents"),
    # r15: full AVI demux + per-frame JPEG decode + per-video window;
    # the explicit fan-out (AQE-coalesce fix) is exactly what this
    # measures at 10x
    ("multimodal_video_scene_cuts", "documents"),
    # r19: the pair-alignment carriers are scale-sensitive on two
    # axes — the Arrow clip/image tower (corpus-linear) and the
    # broadcast caption join (whose small side grows with the
    # corpus) — measure both rather than assert them
    ("multimodal_pair_alignment", "documents"),
    ("multimodal_audio_pair_alignment", "documents"),
    # r20 (VERDICT r19 #4): the two carriers added late in r19 were
    # shipped without a measured ratio — the video carrier's AVI
    # demux + frame decode is the heaviest Arrow tower, and the
    # retrieval eval's docstring claims eval x plane-occupancy
    # (linear in corpus at fixed plane count); measure both
    ("multimodal_video_pair_alignment", "documents"),
    ("multimodal_pair_retrieval", "documents"),
    # r20: the bidirectional eval doubles the candidate joins over
    # the same cached tower — its own ratio proves the second
    # direction stays inside the eval x occupancy budget
    ("multimodal_pair_retrieval_bidir", "documents"),
]


def main() -> None:
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/klogs_sf1")
    trials = int(os.environ.get("BENCH_SF1_TRIALS", "2"))

    from klogs_spark.queries import registry
    from klogs_spark.session import get_spark

    spark = get_spark("klogs-spark-bench-sf1")
    specs = registry()

    # same warm-up as bench.py: JVM/codegen + Python worker pool
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64, numPartitions=64).mapInPandas(
        lambda it: it, "id long"
    ).count()

    counts = _ensure_sf1(spark, sf1_dir)
    print(f"# sf1 rows: {counts}", file=sys.stderr)

    from klogs_spark.ext.caching import release_tracked


    results: dict = {}
    errors: dict = {}

    def timed(fn, n_trials):
        best, rows = float("inf"), -1
        for _ in range(max(n_trials, 1)):
            t0 = time.perf_counter()
            rows = fn()
            best = min(best, time.perf_counter() - t0)
            release_tracked()
        return best, rows

    from klogs_spark.views import load_table

    for name, in_table in MEASURED:
        fn = specs[name].fn
        try:
            n01 = load_table(spark, SF01, in_table).count()
            n1 = counts[in_table]
            b01, r01 = timed(lambda: fn(spark, SF01).count(), trials + 1)
            b1, r1 = timed(lambda: fn(spark, sf1_dir).count(), trials)
            results[name] = {
                "sf0.1_sec": round(b01, 3),
                "sf1_sec": round(b1, 3),
                "ratio_10x": round(b1 / b01, 2) if b01 > 0 else None,
                "in_rows": {"sf0.1": n01, "sf1": n1},
                "out_rows": {"sf0.1": r01, "sf1": r1},
                "us_per_in_row": {
                    "sf0.1": round(b01 / n01 * 1e6, 3),
                    "sf1": round(b1 / n1 * 1e6, 3),
                },
            }
            print(
                f"# {name}: {b01:.3f}s -> {b1:.3f}s at 10x "
                f"(ratio {b1 / b01:.2f}, out {r01}->{r1})",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001 — per-slot isolation
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)

    # the z-order write path (not a registry query): same form bench.py
    # times, at both scales
    try:
        import tempfile

        from klogs_spark.table import write_logs_zordered
        from klogs_spark.views import derive_logs_from_events

        def zwrite(src):
            def run():
                with tempfile.TemporaryDirectory(prefix="bsf1-z-") as d:
                    write_logs_zordered(
                        derive_logs_from_events(spark, src), d + "/z",
                        mode="overwrite",
                    )
                return -1

            return run

        b01, _ = timed(zwrite(SF01), trials)
        b1, _ = timed(zwrite(sf1_dir), trials)
        n01 = load_table(spark, SF01, "events").count()
        results["table_write_zordered"] = {
            "sf0.1_sec": round(b01, 3),
            "sf1_sec": round(b1, 3),
            "ratio_10x": round(b1 / b01, 2),
            "in_rows": {"sf0.1": n01, "sf1": counts["events"]},
            "us_per_in_row": {
                "sf0.1": round(b01 / n01 * 1e6, 3),
                "sf1": round(b1 / counts["events"] * 1e6, 3),
            },
        }
        print(
            f"# table_write_zordered: {b01:.3f}s -> {b1:.3f}s "
            f"(ratio {b1 / b01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_write_zordered"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_write_zordered: FAILED {errors['table_write_zordered']}",
            file=sys.stderr,
        )

    # the COW delete rewrite (benched per-round since r10): fresh table
    # per scale (untimed setup), one week-scoped predicate delete timed —
    # measures the survivor-write + manifest-algebra path at 10x
    try:
        import tempfile

        from klogs_spark.manifest import cow_delete_where, publish_snapshot
        from klogs_spark.table import write_logs
        from klogs_spark.views import derive_logs_from_events

        from pyspark.sql import functions as F

        b01 = _timed_week_delete(
            spark, SF01, cow_delete_where, "bsf1-cow-", trials
        )
        b1 = _timed_week_delete(
            spark, sf1_dir, cow_delete_where, "bsf1-cow-", trials
        )
        results["table_cow_delete"] = {
            "sf0.1_sec": round(b01, 3),
            "sf1_sec": round(b1, 3),
            "ratio_10x": round(b1 / b01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
        }
        print(
            f"# table_cow_delete: {b01:.3f}s -> {b1:.3f}s "
            f"(ratio {b1 / b01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_cow_delete"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_cow_delete: FAILED {errors['table_cow_delete']}",
            file=sys.stderr,
        )

    # MERGE-ON-READ delete at 10x (r17): same predicate as the COW row —
    # the contrast being measured is the ABSOLUTE cost (one predicate
    # scan + an O(deleted rows) positions write, zero survivor files) vs
    # table_cow_delete's survivor rewrite; the ratio itself tracks the
    # scan (near-linear)
    try:
        import tempfile

        from klogs_spark.manifest import mor_delete_where, publish_snapshot
        from klogs_spark.table import write_logs
        from klogs_spark.views import derive_logs_from_events

        from pyspark.sql import functions as F

        b01 = _timed_week_delete(
            spark, SF01, mor_delete_where, "bsf1-mor-", trials
        )
        b1 = _timed_week_delete(
            spark, sf1_dir, mor_delete_where, "bsf1-mor-", trials
        )
        results["table_mor_delete"] = {
            "sf0.1_sec": round(b01, 3),
            "sf1_sec": round(b1, 3),
            "ratio_10x": round(b1 / b01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
        }
        print(
            f"# table_mor_delete: {b01:.3f}s -> {b1:.3f}s "
            f"(ratio {b1 / b01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_mor_delete"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_mor_delete: FAILED {errors['table_mor_delete']}",
            file=sys.stderr,
        )

    # MERGE-ON-READ update at 10x (r17): same week-scoped predicate — the
    # write is O(matched rows) (positions + updated copies), never the
    # affected days' survivor rewrite, so the expected contrast mirrors
    # the delete tiers'
    try:
        from klogs_spark.manifest import mor_update_where

        from pyspark.sql import functions as F

        def _mor_upd(s, d, p):
            return mor_update_where(
                s, d, p, {"log": F.expr("concat(log, ' [u]')")}
            )

        b01 = _timed_week_delete(
            spark, SF01, _mor_upd, "bsf1-moru-", trials
        )
        b1 = _timed_week_delete(
            spark, sf1_dir, _mor_upd, "bsf1-moru-", trials
        )
        results["table_mor_update"] = {
            "sf0.1_sec": round(b01, 3),
            "sf1_sec": round(b1, 3),
            "ratio_10x": round(b1 / b01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
        }
        print(
            f"# table_mor_update: {b01:.3f}s -> {b1:.3f}s "
            f"(ratio {b1 / b01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_mor_update"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_mor_update: FAILED {errors['table_mor_update']}",
            file=sys.stderr,
        )

    # Thresholded DV maintenance at 10x (r18, VERDICT r17 #3/#7): after a
    # 3-generation tiny drip (minute-7 rows, dispersed through every
    # cluster-sorted file), dv_compact's ratio probe must keep the
    # vector live (cost = one zero-data-column scan of affected files)
    # and dv_coalesce collapses the chain (cost O(live positions)).
    # Neither writes a survivor file, so the claim under test is the
    # MAINTENANCE cost staying decoupled from the COW rewrite bill.
    try:
        import shutil
        import tempfile

        from klogs_spark.manifest import (
            dv_coalesce,
            dv_compact,
            mor_delete_where,
            publish_snapshot,
        )
        from klogs_spark.table import write_logs
        from klogs_spark.views import derive_logs_from_events

        from pyspark.sql import functions as F

        def _timed_dv_maintain(src):
            best = float("inf")
            for _ in range(max(trials, 1)):
                d = tempfile.mkdtemp(prefix="bsf1-dvm-")
                try:
                    write_logs(
                        derive_logs_from_events(spark, src), d,
                        mode="overwrite",
                    )
                    publish_snapshot(spark, d)
                    for day in (
                        "2024-01-01", "2024-01-02", "2024-01-03"
                    ):
                        mor_delete_where(
                            spark, d,
                            F.expr(
                                "minute(timestamp) = 7 AND date = "
                                f"'{day}'"
                            ),
                        )
                    t0 = time.perf_counter()
                    resc = dv_compact(spark, d, min_deleted_ratio=0.1)
                    dv_coalesce(spark, d)
                    best = min(best, time.perf_counter() - t0)
                    assert resc["partitions_rewritten"] == [], resc
                finally:
                    shutil.rmtree(d, ignore_errors=True)
            return best

        b01 = _timed_dv_maintain(SF01)
        b1 = _timed_dv_maintain(sf1_dir)
        results["table_dv_threshold_maintain"] = {
            "sf0.1_sec": round(b01, 3),
            "sf1_sec": round(b1, 3),
            "ratio_10x": round(b1 / b01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
        }
        print(
            f"# table_dv_threshold_maintain: {b01:.3f}s -> {b1:.3f}s "
            f"(ratio {b1 / b01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_dv_threshold_maintain"] = (
            f"{type(exc).__name__}: {exc}"[:300]
        )
        print(
            "# table_dv_threshold_maintain: FAILED "
            f"{errors['table_dv_threshold_maintain']}",
            file=sys.stderr,
        )

    # CDC rollup loop at 10x (VERDICT r18 #7): the O(churn) claim of
    # incremental_rollup vs the corpus-sized full recompute. The churn is
    # a FIXED-SIZE append (the last sf0.1 hour, identical batch at both
    # scales), so the incremental advance must be ~FLAT across the 10x —
    # it reads only the appended files via the manifest change feed —
    # while the first materialization (mode=full, the same code path a
    # vacuumed-base fail-open takes) grows with the corpus. A flat
    # advance next to a ~10x full is the measured form of "maintenance
    # cost ∝ churn, not table size" at 100 TB.
    try:
        import shutil
        import tempfile

        from klogs_spark.manifest import publish_snapshot
        from klogs_spark.table import incremental_rollup, write_logs
        from klogs_spark.views import derive_logs_from_events

        # the last two hours of the 31-day window (events end Jan 30
        # 23:59) — a small FIXED batch regardless of scale
        churn_batch = derive_logs_from_events(spark, SF01).filter(
            "timestamp >= '2024-01-30 22:00:00'"
        )
        n_churn = churn_batch.count()

        def cdc_costs(src):
            best_full, best_adv = float("inf"), float("inf")
            for _ in range(max(trials, 1)):
                d = tempfile.mkdtemp(prefix="bsf1-cdc-")
                try:
                    write_logs(
                        derive_logs_from_events(spark, src), d,
                        mode="overwrite",
                    )
                    publish_snapshot(spark, d)
                    rdir = d + "/_rollup"
                    t0 = time.perf_counter()
                    rep = incremental_rollup(spark, d, rdir)
                    best_full = min(
                        best_full, time.perf_counter() - t0
                    )
                    assert rep["mode"] == "full", rep
                    write_logs(churn_batch, d, mode="append")
                    publish_snapshot(spark, d)
                    t0 = time.perf_counter()
                    rep = incremental_rollup(spark, d, rdir)
                    best_adv = min(best_adv, time.perf_counter() - t0)
                    assert rep["mode"] == "incremental", rep
                finally:
                    shutil.rmtree(d, ignore_errors=True)
            return best_full, best_adv

        f01, a01 = cdc_costs(SF01)
        f1, a1 = cdc_costs(sf1_dir)
        results["table_cdc_rollup_full"] = {
            "sf0.1_sec": round(f01, 3),
            "sf1_sec": round(f1, 3),
            "ratio_10x": round(f1 / f01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
            "note": "one whole-corpus aggregate: the scan term grows "
                    "linearly with in_rows but is still small against "
                    "fixed job overhead at 1M rows on 32 cores — the "
                    "structural contrast with the advance is what it "
                    "READS (the whole table vs only the appended churn "
                    "files), visible in in_rows vs churn_rows",
        }
        results["table_cdc_rollup_advance"] = {
            "sf0.1_sec": round(a01, 3),
            "sf1_sec": round(a1, 3),
            "ratio_10x": round(a1 / a01, 2),
            "churn_rows": n_churn,
            "note": "fixed-size append at both scales -> expected flat; "
                    "contrast with table_cdc_rollup_full's ~10x",
        }
        print(
            f"# table_cdc_rollup_full: {f01:.3f}s -> {f1:.3f}s "
            f"(ratio {f1 / f01:.2f}); advance: {a01:.3f}s -> "
            f"{a1:.3f}s (ratio {a1 / a01:.2f}, churn {n_churn} rows)",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_cdc_rollup"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_cdc_rollup: FAILED {errors['table_cdc_rollup']}",
            file=sys.stderr,
        )

    # COW MERGE at 10x (VERDICT r10 #8): update half of Jan 3 — rewrite
    # scope is ONE day regardless of corpus size, so the expected ratio is
    # driven by that day's 10x row count (near-linear), not the table
    try:
        import tempfile

        from klogs_spark.manifest import cow_merge_upsert, publish_snapshot
        from klogs_spark.table import write_logs
        from klogs_spark.views import derive_logs_from_events

        from pyspark.sql import functions as F

        def cow_merge_cost(src):
            best = float("inf")
            for _ in range(max(trials, 1)):
                d = tempfile.mkdtemp(prefix="bsf1-cowm-")
                write_logs(
                    derive_logs_from_events(spark, src), d, mode="overwrite"
                )
                publish_snapshot(spark, d)
                upd = (
                    derive_logs_from_events(spark, src)
                    .filter(
                        "timestamp >= '2024-01-03' "
                        "AND timestamp < '2024-01-03 12:00:00'"
                    )
                    .withColumn(
                        "log", F.concat(F.col("log"), F.lit(" [v2]"))
                    )
                )
                t0 = time.perf_counter()
                cow_merge_upsert(spark, d, upd, key_cols=["timestamp"])
                best = min(best, time.perf_counter() - t0)
                import shutil

                shutil.rmtree(d, ignore_errors=True)
            return best

        m01 = cow_merge_cost(SF01)
        m1 = cow_merge_cost(sf1_dir)
        results["table_cow_merge"] = {
            "sf0.1_sec": round(m01, 3),
            "sf1_sec": round(m1, 3),
            "ratio_10x": round(m1 / m01, 2),
            "in_rows": {"sf0.1": load_table(spark, SF01, "events").count(),
                        "sf1": counts["events"]},
        }
        print(
            f"# table_cow_merge: {m01:.3f}s -> {m1:.3f}s "
            f"(ratio {m1 / m01:.2f})",
            file=sys.stderr,
        )
    except Exception as exc:  # noqa: BLE001
        errors["table_cow_merge"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"# table_cow_merge: FAILED {errors['table_cow_merge']}",
            file=sys.stderr,
        )

    cpu_scaling = _cpu_scaling_pass(results)
    print(
        json.dumps(
            {
                "metric": "sf1_10x_scaling",
                "unit": "sec",
                "replicas": REPLICAS,
                "trials": trials,
                "results": results,
                "errors": errors,
                "cpu_scaling": cpu_scaling,
                "reading": "ratio_10x ~ 10 is linear scaling on a fixed "
                           "32-core box (ideal would be <10 when sf0.1 "
                           "underutilizes cores); >>10 flags superlinear "
                           "work (the scale-killer signature). Pair-mining "
                           "operators also report out_rows — output growth "
                           "explains part of any superlinear time.",
            }
        )
    )


if __name__ == "__main__":
    if os.environ.get("BENCH_SF1_MODE") == "sf1only":
        _sf1only_main()
    else:
        main()
