"""Physical-plan regression tests — the scale properties README promises.

These assert the *plan shape*, not timing: predicate pushdown reaching the
scan, column pruning, broadcast (never sort-merge) dimension joins, top-k via
TakeOrderedAndProject, and partial aggregation. A regression here is a 100 TB
performance bug even if sf0.01 timings look fine.
"""

from __future__ import annotations

import pytest

from klogs_spark.queries import registry
from tests.conftest import SF_ORACLE

SPECS = registry()


def _plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_ORACLE)
    jvm = spark._sc._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: only the 4 referenced columns reach the scan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 == 4, read


def test_join_queries_broadcast_dimensions(spark):
    for name in ("tpch_q3_shipping_priority", "tpch_q5_local_supplier",
                 "tpch_q10_returned_items", "tpch_q8_market_share"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_topk_plans_as_take_ordered(spark):
    for name in ("logs_newest", "tpch_q3_shipping_priority"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_aggregations_are_partial(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    # partial + final HashAggregate pair around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_bucketed_candidate_paths_never_cross_join(spark):
    """The scale dedup paths (LSH bands, simhash blocks, embedding LSH) must
    plan as bucket EQUI-joins — a CartesianProduct/BroadcastNestedLoopJoin
    here is the O(n²) bug the bucketing exists to prevent."""
    for name in ("dedup_minhash_lsh", "dedup_simhash_pairs",
                 "dedup_embedding_lsh", "join_events_asof_orders",
                 "join_events_range_pairs", "dedup_paragraph_minhash",
                 "dedup_containment_lsh"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q15_scalar_max_is_broadcast_not_subquery(spark):
    """Q15's max(total_revenue) threshold must join as a broadcast of the
    1-row aggregate (and the supplier dim must broadcast) — never a
    sort-merge join or a re-evaluated correlated subquery."""
    plan = _plan(spark, "tpch_q15_top_supplier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_joins_stay_equi(spark):
    """The composite filter composes three per-id feature tables; all joins
    are id-keyed equi joins (hash or broadcast), never nested-loop."""
    plan = _plan(spark, "text_quality_filter")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_logs_table_partition_filter_prunes(spark, tmp_path):
    """End-to-end: written table + date predicate -> scan reads only the
    matching partition (the F1 pruning contract on real storage)."""
    from pyspark.sql import functions as F

    from klogs_spark.table import read_logs, write_logs
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(
        derive_logs_from_events(spark, "/root/testdata/sf0.001"), path
    )
    df = read_logs(spark, path).filter("date = DATE'2024-01-10'")
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("date=2024-01-10" in f for f in files)


def test_retention_cohorts_broadcasts_cohort_map(spark):
    """The cohort map is |users|-sized; the event stream must never
    sort-merge against it."""
    plan = _plan(spark, "events_retention_cohorts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_no_event_level_self_join(spark):
    """Funnel stages are user-keyed min-aggregates; the only joins are on
    user_id (hash or broadcast) — never a nested-loop over events."""
    plan = _plan(spark, "events_funnel")
    assert "CartesianProduct" not in plan
    # the final 1-row stage-count combination is the only nested-loop join
    # (2 joins, each listed twice in formatted output: tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 4


def test_boilerplate_windows_equi_joins_only(spark):
    plan = _plan(spark, "text_boilerplate_windows")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_throttle_single_window_shuffle(spark):
    """throttle_per_key is one window over (keys, bucket): exactly one
    shuffle exchange feeding the row_number sort."""
    plan = _plan(spark, "sources_throttle")
    import re
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 2, plan  # window + final aggregate
    assert "CartesianProduct" not in plan


def test_lsh_knn_join_is_bucket_equi_join(spark):
    """The approximate side of the recall eval must candidate-generate via
    the bucket equi-join, not a crossJoin (that is the exact side's job)."""
    from klogs_spark.ext import similarity as sim
    from klogs_spark.views import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    q = emb.filter("vec_id < 5")
    plan = sim.lsh_knn_join(emb, q, k=5)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The 100 TB co-located-join recipe: both sides written bucketed on the
    join key join WITHOUT a shuffle exchange — the storage layout the engine
    prescribes for repeated orders-lineitem joins (bucketing docs in
    README). Guard: the same join on plain parquet DOES exchange."""
    from klogs_spark.views import load_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o = load_table(spark, SF_ORACLE, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, SF_ORACLE, "lineitem").select("l_orderkey", "l_quantity")
    (o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("b_orders"))
    (l.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    joined = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        spark.table("b_orders").o_orderkey
        == spark.table("b_lineitem").l_orderkey,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # sanity: result is right
    expect = o.join(l, o.o_orderkey == l.l_orderkey).count()
    assert joined.count() == expect
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_burn_rate_broadcasts_daily_baseline(spark):
    plan = _plan(spark, "logs_burn_rate_alert")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiprobe_lsh_stays_equi_join(spark):
    """Probing must explode only the broadcast query side; candidate
    generation stays a bucket equi-join, never a nested loop."""
    plan = _plan(spark, "ann_multiprobe_recall")
    assert "CartesianProduct" not in plan


def test_semantic_dedup_equi_join_within_cells(spark):
    """SemDeDup's pair scan must be an equi-join on centroid_id (the
    within-cluster bound IS the algorithm's scale property), and centroid
    assignment must broadcast the centroid table."""
    plan = _plan(spark, "dedup_semantic")
    # no unbroadcast cartesian anywhere; the only Cross joins are the
    # broadcast argmin scans against the 16-row centroid table
    assert "CartesianProduct" not in plan
    # the pair scan itself is a (shuffle) EQUI-join keyed on centroid_id
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_dsir_scoring_broadcasts_logratio_table(spark):
    """DSIR scoring must broadcast the <=1024-row log-ratio table — a
    shuffle join here would shuffle the whole corpus at score time."""
    plan = _plan(spark, "sample_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_is_narrow(spark):
    """The Bloom probe ships the m-bit filter as a literal and tests
    positions in-place: the probe must plan with NO join and no KEYED
    shuffle — the only allowed exchange is the round-robin spread to
    cluster width. That narrow-map shape is the whole point of the
    Bloom variant."""
    plan = _plan(spark, "text_bloom_decontaminate")
    for op in ("Join", "CartesianProduct", "hashpartitioning"):
        assert op not in plan, op


def test_pq_adc_broadcasts_distance_table(spark):
    """PQ ADC must broadcast the (subspace, centroid) distance lookup table
    and plan the final top-k as TakeOrderedAndProject."""
    plan = _plan(spark, "ann_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ann_prebuilt_search_plan_has_no_training(spark):
    """ann_ivfpq_prebuilt's returned plan must be a pure index READ: only
    the persisted sidecar (codes partition-pruned to the probed cells,
    codebooks broadcast as the ADC table) — no k-means refinement, no
    codebook training, and no scan of the embeddings table. This is the
    query-time contract of the build/search split."""
    plan = _plan(spark, "ann_ivfpq_prebuilt")
    assert "klogs_ann_index" in plan                      # reads the sidecar
    assert "embeddings" not in plan                       # never the corpus
    assert "PartitionFilters: [centroid_id" in plan       # probed cells only
    assert "BroadcastHashJoin" in plan                    # ADC dist table
    assert "TakeOrderedAndProject" in plan
    # Lloyd/codebook machinery (posexplode + keyed means) must be absent
    assert "posexplode" not in plan.lower()
    # exactly two scans (codes + codebooks); formatted explain prints each
    # scan node once in the tree and once in the detail section
    assert plan.count("Location: InMemoryFileIndex") == 2, plan


def test_cms_estimate_broadcasts_counters(spark):
    """CMS point estimates must broadcast the counter grid (<= depth*width
    rows regardless of corpus size)."""
    plan = _plan(spark, "text_cms_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_token_bloom_skipindex_prunes_partitions(spark, tmp_path):
    """The Bloom sidecar must turn a rare-token search into a
    partition-pruned scan (PartitionFilters with an IN-list smaller than
    the table's day count) AND return exactly what the unindexed filter
    returns — skipping may never lose rows."""
    from pyspark.sql import functions as F

    from klogs_spark.table import (
        fulltext_token_search, read_logs, write_logs, write_token_bloom_index,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(derive_logs_from_events(spark, "/root/testdata/sf0.001"), path)
    write_token_bloom_index(spark, path)
    all_days = read_logs(spark, path).select("date").distinct().count()

    needle = "user=7"
    hits = fulltext_token_search(spark, path, [needle])
    jvm = spark._sc._jvm
    plan = jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted"
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "date" in pf_line and "IN" in pf_line.upper()

    expected = sorted(
        tuple(r)
        for r in read_logs(spark, path)
        .filter(F.array_contains(F.split("log", " "), needle))
        .collect()
    )
    got = sorted(tuple(r) for r in hits.collect())
    assert got == expected and got
    # the candidate set must actually be smaller than the table
    n_candidates = (
        read_logs(spark, path)
        .filter(F.array_contains(F.split("log", " "), needle))
        .select("date").distinct().count()
    )
    assert n_candidates < all_days


def test_token_bloom_skipindex_absent_needle_empty(spark, tmp_path):
    """A needle whose token appears nowhere must prune EVERY partition and
    return an empty (but correctly-schemed) result."""
    from klogs_spark.table import (
        fulltext_token_search, write_logs, write_token_bloom_index,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(derive_logs_from_events(spark, "/root/testdata/sf0.001"), path)
    write_token_bloom_index(spark, path)
    hits = fulltext_token_search(spark, path, ["user=nosuchuser"])
    assert hits.count() == 0
    assert "log" in hits.columns and "date" in hits.columns


def test_token_bloom_index_incremental_refresh(spark, tmp_path):
    """Appending a day and refreshing ONLY that day's sidecar partition must
    leave other days' sidecar files untouched (dynamic partition overwrite)
    while the search sees tokens from both old and new days."""
    import os

    from pyspark.sql import functions as F

    from klogs_spark.table import (
        TOKEN_BLOOM_DIR, fulltext_token_search, write_logs,
        write_token_bloom_index,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001")
    write_logs(logs, path)
    write_token_bloom_index(spark, path)

    def sidecar_files():
        out = {}
        root = f"{path}/{TOKEN_BLOOM_DIR}"
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = sidecar_files()
    # append a synthetic far-future day carrying a unique token
    new_day = logs.limit(5).withColumn(
        "timestamp", F.lit("2031-06-01 12:00:00").cast("timestamp")
    ).withColumn("log", F.lit("uniquetoken31 appended line"))
    write_logs(new_day, path)
    write_token_bloom_index(spark, path, days=["2031-06-01"])

    after = sidecar_files()
    unchanged = {p: t for p, t in before.items() if "date=2031-06-01" not in p}
    for p, t in unchanged.items():
        assert p in after and after[p] == t, f"sidecar rewritten: {p}"
    assert any("date=2031-06-01" in p for p in after)

    hits = fulltext_token_search(spark, path, ["uniquetoken31"])
    assert hits.count() == 5
    # old-day tokens still found through the untouched sidecar partitions
    assert fulltext_token_search(spark, path, ["user=7"]).count() > 0


def test_token_bloom_or_and_phrase_prune_partitions(spark, tmp_path):
    """match='any' and phrase search must both prune via the sidecar
    (PartitionFilters IN-list) and agree with the unindexed filters —
    pruning may never lose a row in either mode."""
    from pyspark.sql import functions as F

    from klogs_spark.table import (
        fulltext_phrase_search, fulltext_token_search, read_logs,
        write_logs, write_token_bloom_index,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(derive_logs_from_events(spark, "/root/testdata/sf0.001"), path)
    write_token_bloom_index(spark, path)
    jvm = spark._sc._jvm

    def plan_of(df):
        return jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    base = read_logs(spark, path)
    toks = F.split(F.col("log"), " ")

    or_hits = fulltext_token_search(
        spark, path, ["user=7", "user=8"], match="any"
    )
    pf = next(l for l in plan_of(or_hits).splitlines()
              if "PartitionFilters" in l)
    assert "date" in pf and "IN" in pf.upper()
    expected_or = sorted(
        tuple(r) for r in base.filter(
            F.array_contains(toks, "user=7") | F.array_contains(toks, "user=8")
        ).collect()
    )
    assert sorted(tuple(r) for r in or_hits.collect()) == expected_or
    assert expected_or

    phrase = "type=error user=7"
    ph_hits = fulltext_phrase_search(spark, path, phrase)
    pf = next(l for l in plan_of(ph_hits).splitlines()
              if "PartitionFilters" in l)
    assert "date" in pf and "IN" in pf.upper()
    expected_ph = sorted(
        tuple(r) for r in base.filter(F.col("log").contains(phrase)).collect()
    )
    assert sorted(tuple(r) for r in ph_hits.collect()) == expected_ph


def test_retention_drops_token_bloom_sidecar_days(spark, tmp_path):
    """apply_retention must delete the expired day's _token_bloom sidecar
    partition along with the day's rows, and the search must still work
    over the surviving days."""
    import os
    from datetime import timedelta

    from pyspark.sql import functions as F

    from klogs_spark.manifest import apply_retention
    from klogs_spark.table import (
        TOKEN_BLOOM_DIR, fulltext_token_search, read_logs, write_logs,
        write_token_bloom_index,
    )
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(derive_logs_from_events(spark, "/root/testdata/sf0.001"), path)
    write_token_bloom_index(spark, path)
    days = sorted(
        r.date for r in read_logs(spark, path).select("date").distinct()
        .collect()
    )
    assert len(days) >= 2
    # retain everything except the oldest day
    oldest = days[0]
    today = oldest + timedelta(days=3)
    res = apply_retention(spark, path, retention_days=2, today=today)
    assert res["partitions_rewritten"] == [str(oldest)]
    assert read_logs(spark, path).filter(
        F.col("date") == oldest
    ).count() == 0
    assert not os.path.exists(f"{path}/{TOKEN_BLOOM_DIR}/date={oldest}")
    # surviving days' sidecar intact and searchable
    assert os.path.exists(f"{path}/{TOKEN_BLOOM_DIR}/date={days[1]}")
    assert fulltext_token_search(spark, path, ["user=7"]).count() > 0


def test_global_prefix_sum_never_single_partition(spark):
    # the point of the two-phase prefix sum: the EXACT global packing plan
    # must not serialize the corpus through one reducer. The only windows
    # allowed are bucket-partitioned (corpus) and the bounded <=buckets-row
    # offset window, which Spark plans over the aggregate, not the corpus.
    plan = _plan(spark, "sample_pack_global_prefix")
    corpus_scan = [l for l in plan.splitlines() if "documents.parquet" in l]
    assert corpus_scan, "expected a documents scan"
    # the offset table (<=buckets rows, output of a groupBy) does go through
    # a SinglePartition exchange for its own tiny window — assert the
    # corpus-side window is partitioned instead: every Window node that
    # orders by doc_id must carry a partition spec
    import re

    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        args = m.group(1)
        if "doc_id" in args:
            assert "_psb" in args, f"corpus window unpartitioned: {args}"
    # and the single-partition exchanges (if any) must feed from the bounded
    # aggregate, never carry the documents text column
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "SinglePartition" in l:
            ctx = "\n".join(lines[max(0, i - 3): i + 1])
            assert "n_tokens" not in ctx or "_ptot" in ctx or "sum" in ctx.lower()


def test_winnowing_pairs_joins_on_fingerprint_key_only(spark):
    """MOSS pair generation must bucket by the fingerprint hash (keyed
    equi-join; the id_a < id_b ordering is a post-join condition) —
    never a cartesian/nested-loop over docs x docs, never Python."""
    plan = _plan(spark, "dedup_winnowing_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_budget_threshold_never_single_partition(spark):
    # the budget cut rides the same two-phase prefix sum: the corpus-side
    # cumulative window must be bucket-partitioned (ordered by the unique
    # key k), never an unpartitioned corpus sort through one reducer
    import re

    plan = _plan(spark, "pipeline_budget_threshold")
    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        args = m.group(1)
        if re.search(r"\bk\b|k#", args):
            assert "_psb" in args, f"corpus window unpartitioned: {args}"
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_exact_decontaminate_broadcasts_benchmark(spark):
    # benchmark n-grams must reach the probe as broadcasts: a sort-merge
    # join here would shuffle the full corpus n-gram table at 100 TB
    plan = _plan(spark, "text_exact_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_rank_tables_broadcast(spark):
    # small dimensions rank through broadcast literal maps — the corpus
    # never joins OR shuffles for rank lookup; only the final groupBy
    # exchanges. (Over-cap dimensions would fall back to broadcast joins —
    # still never a SortMergeJoin.)
    plan = _plan(spark, "table_zorder_values")
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan, "literal-map rank path should plan no joins"


def test_bucketed_join_has_no_input_exchange(spark):
    # the point of bucketed co-location: both scans read hash-bucketed
    # layouts that already satisfy the join's required distribution, so
    # the merge join sees ZERO exchange over its inputs — the only
    # shuffle left in the plan is the final aggregate's
    plan = _plan(spark, "tpch_bucketed_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, "both sides must scan bucketed"
    assert "hashpartitioning(o_custkey" not in plan
    assert "hashpartitioning(c_custkey" not in plan


def test_promoted_view_eliminates_map_scan(spark):
    # the promoted-column rewrite's whole point: the caller filters on the
    # MAP key (where_field_eq), but the plan must scan only the physical
    # promoted column — pushed filter on content_level, fields_string
    # absent from the parquet ReadSchema
    plan = _plan(spark, "table_promoted_view")
    assert "content_level" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("content_level" in l for l in pushed), pushed
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("fields_string" not in l for l in reads), reads


def test_scaled_ntile_queries_have_no_unpartitioned_corpus_sort(spark):
    # the scale-safe quartile forms exist to retire the r8 scale-killer
    # (three unpartitioned ntile windows over all customers): every window
    # that orders by a per-customer column must be partitioned by the
    # range bucket; the only SinglePartition exchanges allowed are the
    # bounded <=buckets-row offset aggregates (they never carry customer
    # keys)
    import re

    for qname, keycol in (
        ("tpch_rfm_segments_scaled", "o_custkey"),
        ("window_balance_quartiles_scaled", "c_custkey"),
        ("events_equidepth_histogram", "event_id"),
        ("tpch_revenue_concentration", "o_custkey"),
    ):
        plan = _plan(spark, qname)
        for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
            args = m.group(1)
            if keycol in args:
                assert "_grb" in args, (
                    f"{qname}: corpus window unpartitioned: {args}"
                )
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            if "SinglePartition" in l:
                ctx = "\n".join(lines[max(0, i - 3): i + 1])
                assert keycol not in ctx, (
                    f"{qname}: customer rows cross a SinglePartition "
                    f"exchange:\n{ctx}"
                )


def test_timeseries_ops_windows_are_series_or_day_partitioned(spark):
    # gap-fill's LOCF window must partition per series and the
    # peak-concurrency running sum per day — neither ever plans a global
    # sort over the fact rows (the midnight baseline makes per-day
    # partitioning exact for intervals that cross days)
    import re

    for qname, part in (
        ("events_gapfill_locf", "event_type"),
        ("events_peak_concurrency", "day"),
    ):
        plan = _plan(spark, qname)
        for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
            args = m.group(1)
            assert part in args or "user_id" in args, (
                f"{qname}: window not partitioned: {args}"
            )


def test_deterministic_shuffle_windows_are_shard_partitioned(spark):
    # the training-order shuffle must never plan a global sort: its only
    # window partitions by shard
    import re

    plan = _plan(spark, "sample_global_shuffle")
    assert "SinglePartition" not in plan
    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        assert "shard" in m.group(1)


def test_edit_distance_join_is_keyed_never_quadratic(spark):
    # the SymSpell claim: candidates come from hash-keyed equi-joins on
    # (variant) / (variant, position) — a quadratic fallback would plan a
    # cartesian or broadcast-nested-loop join
    plan = _plan(spark, "text_edit_distance_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r20: the shuffle_hash hints must hold — the static planner was
    # observed broadcasting the corpus-sized VARIANT side (driver OOM at
    # scale); a compile-time BroadcastHashJoin here is that regression.
    # (AQE may still downgrade at runtime from measured stats — that is
    # scale-safe and not visible in this compile-time plan.)
    assert "ShuffledHashJoin" in plan, plan[:500]
    assert "BroadcastHashJoin" not in plan, plan[:500]
    # the per-anchor cap plans as a rank-limited window, never a global
    # sort of the pair set
    assert "WindowGroupLimit" in plan


def test_bm25_plans_as_posting_list_topk(spark):
    """BM25's scale contract: top-k via TakeOrdered (no global sort), the
    query-term filter pushed into the scan side of the postings explode,
    and no shuffle join for the tiny df/stats tables (broadcast only —
    the sole nested-loop is the deliberate 1-row stats broadcast)."""
    plan = _plan(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_context_window_is_pod_partitioned(spark):
    """The log-viewer context fetch must never plan a global window: the
    lag/lead spec is PARTITIONED BY pod, so each pod's stream sorts
    independently at any scale."""
    plan = _plan(spark, "logs_context_window")
    assert "Window" in plan, "expected a Window operator"
    # formatted explain details the spec as windowspecdefinition(
    # partition keys..., order...) — the pod key must be in there
    assert "windowspecdefinition(pod_name" in plan, plan[:2000]


def test_repeated_substrings_never_cartesian(spark):
    """The repeated-span chain is fingerprint-keyed equi-joins only — a
    cartesian/nested-loop here would be the O(n^2) document self-join the
    fingerprint design exists to avoid."""
    plan = _plan(spark, "dedup_repeated_substrings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repeated_substrings_self_never_cartesian(spark):
    """The within-doc half keeps the same fingerprint discipline: the
    per-(doc, gram) qualifier joins back on (id, hash) — equi-keys only,
    no cartesian/nested-loop anywhere."""
    plan = _plan(spark, "dedup_repeated_substrings_self")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_remove_repeated_spans_never_cartesian(spark):
    """Span REMOVAL keeps the fingerprint discipline end to end: covered
    positions come from equi-joins on (id, hash), the token anti-join is
    keyed (id, position), and the text rebuild is a row-local array_sort
    — no cartesian, no nested-loop, no window."""
    plan = _plan(spark, "dedup_remove_repeated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_read_snapshot_mergeschema_still_partition_prunes(spark, tmp_path):
    """The r13 mergeSchema snapshot read must not cost the F1 pruning
    contract: a date predicate over a pinned snapshot still scans only the
    matching day directory (mergeSchema is a footer-union concern; the
    partition column comes from basePath discovery and prunes as before)."""
    from pyspark.sql import functions as F

    from klogs_spark.manifest import publish_snapshot, read_snapshot
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events

    path = str(tmp_path / "logs")
    write_logs(
        derive_logs_from_events(spark, "/root/testdata/sf0.001"), path
    )
    v = publish_snapshot(spark, path)
    df = read_snapshot(spark, path, v).filter("date = DATE'2024-01-10'")
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("date=2024-01-10" in f for f in files)


def test_pii_redact_stays_whole_stage_codegen(spark):
    """The typed PII scrub is a JVM-side regexp pass — no Python runner
    may appear in its plan (the corpus-linear claim at 100 TB)."""
    plan = _plan(spark, "text_pii_redact_typed")
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython = Python UDF
    # (WholeStageCodegen spans are not printed in AQE's pre-execution
    # formatted plan — the no-Python-runner assertion is the contract)


def test_bpe_encode_no_python_and_single_corpus_pass(spark):
    """BPE stats plans as pure JVM work (splits/replaces/aggregates) —
    no Python runner; the corpus-sized input appears once per aggregate,
    never a join back against the raw documents."""
    plan = _plan(spark, "text_bpe_encode")
    assert "EvalPython" not in plan


def test_lm_bigram_score_plans_as_keyed_joins_only(spark):
    """The LM scorer is two bigram explodes joined through vocab-sized
    count tables on bigram keys — never a Python runner, never a
    cartesian product (V is a collected scalar literal, not a join)."""
    plan = _plan(spark, "text_lm_bigram_score")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_classifier_score_broadcasts_model_and_never_cross_joins(spark):
    """fastText-style inference must join the bucket-scale weight table
    by BROADCAST hash on the bucket key — never a shuffle of the corpus
    against the model, never a cartesian/nested-loop, never a Python
    runner (features hash JVM-side via md5/conv)."""
    plan = _plan(spark, "text_classifier_score")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_contamination_scaled_never_cross_joins(spark):
    """The scale decontamination path must candidate-generate via the
    fingerprint equi-join — a CartesianProduct/nested-loop over docs x
    probes is exactly the O(corpus x eval-set) scan it replaces."""
    plan = _plan(spark, "dedup_contamination_scaled")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_intersection_sketches_plan_as_takeordered(spark):
    # every KMV sketch is a k-min: TakeOrderedAndProject (per-partition
    # top-k, O(k) to the driver merge), never a global Sort of the
    # distinct-hash table
    plan = _plan(spark, "events_kmv_intersection")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the only Sort nodes allowed are inside TakeOrdered's local top-k;
    # a standalone global Sort Exchange on h would be the wrong plan
    import re

    for m in re.finditer(r"\(\d+\) Sort\b[\s\S]*?Arguments: (.*)", plan):
        assert "global=false" in m.group(1) or "false" in m.group(1), m.group(1)


def test_cusum_windows_partition_per_series(spark):
    # both cumulative windows (running sum, running min) must partition
    # BY SERIES (event_type) — an unpartitioned window here would funnel
    # the whole calendar grid through one reducer
    import re

    plan = _plan(spark, "events_cusum_changepoint")
    n_windows = 0
    for m in re.finditer(r"\(\d+\) Window\b[\s\S]*?Arguments: (.*)", plan):
        n_windows += 1
        assert "event_type" in m.group(1), f"unpartitioned window: {m.group(1)}"
    assert n_windows >= 1


def test_html_extract_is_row_local_zero_shuffle(spark):
    # the extractor is a pure projection (split/transform/filter inside
    # codegen) — any Exchange here would shuffle the whole corpus for a
    # per-row computation
    plan = _plan(spark, "text_html_extract")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_fix_encoding_native_and_single_aggregate(spark):
    # detect/repair are native encode/decode expressions; the only
    # shuffle is the per-source aggregate's exchange pair
    import re

    plan = _plan(spark, "text_fix_encoding")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_url_normalize_arrow_batched_single_aggregate(spark):
    # the normalizer must run as ONE Arrow-batched pandas UDF stage (not
    # row-at-a-time); the distinct-census aggregate adds its Expand +
    # two-phase exchanges, but never a second Python crossing
    import re

    plan = _plan(spark, "text_url_normalize")
    assert "BatchEvalPython" not in plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_warc_roundtrip_single_python_crossing(spark):
    # encode+decode are FUSED in one mapInPandas (one JVM<->Python Arrow
    # crossing — the msgpack lesson); a second crossing is ~0.3s/batch of
    # pure plumbing at sf0.1
    import re

    plan = _plan(spark, "ingest_warc_roundtrip")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "BatchEvalPython" not in plan


def test_warc_to_wet_pipeline_two_crossings_native_extraction(spark):
    # two Python crossings, each a REAL container round-trip (WARC in,
    # WET out), with the extraction between them in native codegen —
    # never a third crossing, never row-at-a-time Python
    import re

    plan = _plan(spark, "pipeline_warc_to_wet")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_domain_blocklist_broadcasts_and_never_suffix_scans(spark):
    # subdomain matching must be a suffix-explode + broadcast EQUI-join:
    # a sort-merge join or nested-loop LIKE scan here dies at a
    # multi-million-entry blocklist
    plan = _plan(spark, "text_domain_blocklist")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_robots_gate_broadcasts_rules_no_corpus_window(spark):
    # robots metadata joins broadcast; the verdict is a max_by aggregate
    # on (domain, path) — never a window over the corpus, never a
    # cartesian
    plan = _plan(spark, "text_robots_gate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_ngram_uniqueness_two_keyed_shuffles_no_window(spark):
    # gram-df aggregate + doc rollup: keyed exchanges only — never a
    # corpus window, never a cartesian
    plan = _plan(spark, "text_ngram_uniqueness")
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_warc_revisit_single_crossing_and_digest_equijoin(spark):
    # one fused encode+decode crossing; revisits resolve via a digest
    # EQUI-join (hash join), never a nested-loop scan
    import re

    plan = _plan(spark, "ingest_warc_revisit")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_warc_cdx_single_group_stage(spark):
    # pack+index+span-fetch is ONE FlatMapGroupsInPandas stage
    import re

    plan = _plan(spark, "ingest_warc_cdx")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_cdx_crawl_diff_outer_join_on_index_rows(spark):
    # the diff is a urlkey-keyed join over INDEX rows: two group stages
    # (one per crawl), a join, no cartesian, no per-row Python
    import re

    plan = _plan(spark, "ingest_cdx_crawl_diff")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_c4_filters_row_local_zero_shuffle(spark):
    # page synthesis + line rules are pure native array expressions:
    # no exchange, no window, no Python crossing anywhere
    plan = _plan(spark, "text_c4_filters")
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_normalize_typography_native_single_aggregate(spark):
    # one translate+regexp projection, one grouped aggregate — native
    # end-to-end (zero Python), partial+final agg around one exchange
    plan = _plan(spark, "text_normalize_typography")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_ccnet_buckets_window_partitioned_by_language(spark):
    # the tercile window must be PARTITIONED (per-language sort, the
    # CCNet shape) — a global unpartitioned window is the 100 TB bug;
    # the unigram total is a broadcast 1-row aggregate, never a shuffle
    # cartesian
    plan = _plan(spark, "pipeline_ccnet_buckets")
    assert "Window" in plan
    wline = next(
        l for l in plan.splitlines()
        if "ntile" in l and "windowspecdefinition" in l
    )
    assert "predicted_lang" in wline, wline
    assert "CartesianProduct" not in plan


def test_bpe_fertility_keyed_joins_only(spark):
    # the BPE chain's keyed aggregates + one id equi-join + one grouped
    # aggregate: never a cartesian, never a corpus window, no Python
    plan = _plan(spark, "text_bpe_fertility")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_pairs_joins_on_block_key_only(spark):
    """The bucketed SimHash pair scan (a top-5 bench row) must equi-join
    on the (block_id, block_val) pigeonhole key with the id ordering as
    a post-join condition — a silent regression to the all-pairs
    a.id < b.id form plans as a nested loop, the O(n^2) bug the blocks
    exist to prevent (VERDICT r17 #6)."""
    plan = _plan(spark, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    key_lines = [
        l for l in plan.splitlines()
        if "keys" in l.lower() and "block_val" in l
    ]
    assert key_lines, plan  # the equi-join keys carry the block key
    assert any("block_id" in l for l in key_lines), key_lines


def test_pair_alignment_one_arrow_pass_broadcast_captions(spark):
    """Image-text pair curation: exactly ONE Arrow crossing (the image
    tower mapInPandas), caption tower stays native, captions broadcast
    onto the image side, no cartesian, no row-at-a-time Python."""
    import re

    plan = _plan(spark, "multimodal_pair_alignment")
    # count PHYSICAL nodes: the cached kept-subtree prints its plan text
    # once per InMemoryRelation mention, but a node id is unique
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    assert len(nodes) == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_audio_pair_alignment_one_arrow_pass_broadcast_captions(spark):
    """Audio-text pair curation (VERDICT r18 #4): exactly ONE Arrow
    crossing (the synth+decode+feature clip tower), caption tower stays
    native, captions broadcast onto the clip side, no cartesian, no
    row-at-a-time Python — the same guard as the image carrier's."""
    import re

    plan = _plan(spark, "multimodal_audio_pair_alignment")
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    assert len(nodes) == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_video_pair_alignment_one_arrow_pass_broadcast_captions(spark):
    """Video-text pair curation: exactly ONE Arrow crossing (the AVI
    demux + JPEG frame decode clip tower), caption tower native,
    captions broadcast, no cartesian, no row-at-a-time Python."""
    import re

    plan = _plan(spark, "multimodal_video_pair_alignment")
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    assert len(nodes) == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pair_retrieval_bucket_equi_join_zero_python(spark):
    """Cross-modal recall@1 eval: ZERO Python crossings (r21 — the image
    tower's sha-formula is native SQL), candidates from a bucket
    EQUI-join (never captions x images)."""
    plan = _plan(spark, "multimodal_pair_retrieval")
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    key_lines = [
        l for l in plan.splitlines()
        if "keys" in l.lower() and "bucket" in l
    ]
    assert key_lines, plan  # the join keys carry the LSH bucket


def test_pair_retrieval_bidir_zero_python_bucket_joins(spark):
    """Bidirectional recall@k eval (r21: zero Python crossings — the
    native image tower feeds both directions), candidates come from
    bucket equi-joins in each direction, the rank window is
    group-limited, and nothing plans a cartesian."""
    plan = _plan(spark, "multimodal_pair_retrieval_bidir")
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    key_lines = [
        l for l in plan.splitlines()
        if "keys" in l.lower() and "bucket" in l
    ]
    assert key_lines, plan
    assert "WindowGroupLimit" in plan


def test_key_parallel_skips_fanout_on_wide_inputs(spark, tmp_path):
    """Scale-adaptive key_parallel (VERDICT r21 #9): when the optimizer's
    size estimate already implies >= target-width scan splits, the
    fan-out exchange is skipped (plan has no Exchange); tiny inputs (the
    bench-scale default) keep it. The probe must not force .rdd
    planning."""
    from klogs_spark.ext.caching import key_parallel

    path = str(tmp_path / "wide.parquet")
    spark.range(0, 20_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).write.parquet(path)
    df = spark.read.parquet(path)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        # tiny splits -> estimated width far above the cluster: no exchange
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        wide_plan = key_parallel(
            spark.read.parquet(path), "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in wide_plan, wide_plan
        # default splits -> tiny input estimates 0 splits: fan-out kept
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        narrow_plan = key_parallel(
            spark.read.parquet(path), "id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in narrow_plan, narrow_plan
        # results unchanged either way
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        assert key_parallel(df, "id").count() == 20_000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_key_parallel_keeps_fanout_on_untrusted_estimates(spark, tmp_path):
    """The skip trusts only file scans of splittable formats (ADVICE r22):
    a ``createDataFrame`` input estimates the defaultSizeInBytes
    placeholder, and a gzip file is one partition however large its
    bytes look against maxPartitionBytes — both keep repartition(n)."""
    import gzip

    from klogs_spark.ext.caching import key_parallel

    gz = tmp_path / "lines.json.gz"
    with gzip.open(gz, "wt") as f:
        for i in range(5_000):
            f.write(f'{{"id": {i}, "pad": "{"x" * 64}"}}\n')
    inputs = {
        "createDataFrame": spark.createDataFrame(
            [(i, "x" * 64) for i in range(2_000)], "id long, pad string"
        ),
        "gzip": spark.read.json(str(gz)),
    }
    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        # ~14 KB of gzip estimates 54 splits, far above any test width
        spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
        for name, df in inputs.items():
            plan = key_parallel(
                df, "id"
            )._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" in plan, (name, plan)
        assert key_parallel(inputs["gzip"], "id").count() == 5_000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
