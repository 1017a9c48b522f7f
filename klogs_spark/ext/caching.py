"""Tracked DataFrame caches — bounded lifetime for operator-internal caching.

Several EXT operators cache small intermediates (shingle tables, MinHash
signatures, k-means centroids, PQ codebooks) because each feeds two or more
join sides of the SAME returned plan: without materialization Spark re-runs
the whole derivation lineage once per consumer. The frames are tiny, but a
long-lived session that runs many such queries accumulates one cached frame
per call site per call — unbounded growth (and "already cached" warnings on
repeated calls).

The operators cannot unpersist these themselves: the returned DataFrame is
lazy, so the cache must outlive the operator function and survive until the
CALLER materializes the result. This registry closes the loop:

* operators register every long-lived cache via :func:`cache_tracked`;
* hosts (bench loops, test fixtures, services) call
  :func:`release_tracked` once a query's results are materialized.

Plan-equality reuse is preserved between registration and release: repeated
calls with identical lineage (bench best-of-N trials) hit the same cached
frame, because Spark's cache lookup is by analyzed plan and
``cache_tracked`` of an already-cached plan is a no-op registration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def cache_tracked(df: DataFrame) -> DataFrame:
    """Cache ``df`` and register it for a later :func:`release_tracked`.
    An already-cached plan (bench best-of-N re-invoking the same query
    between releases) is only re-registered — re-invoking cache() would
    log a spurious already-cached warning per trial. The check goes
    through ``storageLevel`` (a cacheManager lookup by ANALYZED PLAN, so
    a fresh DataFrame object over a cached plan is recognized) —
    ``is_cached`` only remembers whether cache() was called on this very
    object."""
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df = df.cache()
    _TRACKED.append(df)
    return df


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-cached frame without re-invoking cache() (which
    would log a spurious already-cached warning)."""
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every tracked cache; returns how many were released.

    Safe to call at any time: unpersisting only drops materialized blocks —
    any still-live downstream plan simply recomputes from source.
    """
    n = 0
    for df in _TRACKED:
        try:
            # blocking: the default async unpersist leaves blocks draining in
            # the background, so a subsequent getPersistentRDDs() snapshot
            # (tests, monitoring) races against the release — synchronous
            # removal costs microseconds on these small frames and makes
            # "released means gone" actually true
            df.unpersist(blocking=True)
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    _TRACKED.clear()
    return n


# file formats whose files always split at maxPartitionBytes; text-based
# formats split only when uncompressed (a gzip file is one partition)
_SPLITTABLE_FORMATS = {"ParquetFileFormat", "OrcFileFormat"}


def _scan_splits(df) -> int:
    """A lower bound on the scan splits ``df``'s input arrives in, or 0
    when the plan's size estimate cannot be trusted. Trusted only when
    every leaf of the optimized plan is a file scan of a splittable
    format and the plan's ``sizeInBytes`` is not the
    ``spark.sql.defaultSizeInBytes`` placeholder (the estimate of an
    RDD, ``createDataFrame`` or other non-file leaf). The bound is the
    leaves' total file bytes over ``maxPartitionBytes``: the plan root's
    own estimate multiplies through joins, and the real split count
    additionally charges ``openCostInBytes`` per file."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    plan = df._jdf.queryExecution().optimizedPlan()
    if int(str(plan.stats().sizeInBytes())) >= conf.defaultSizeInBytes():
        return 0
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            return 0
        rel = leaf.relation()
        if (
            rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName()
            not in _SPLITTABLE_FORMATS
        ):
            return 0
        total += rel.sizeInBytes()
    split = conf.filesMaxPartitionBytes()
    return total // split if split > 0 else 0


def key_parallel(df, *cols):
    """Repartition by key columns at an EXPLICIT width
    (defaultParallelism = executor cores on a real cluster).

    The bare ``repartition(col)`` form is an AQE trap for CPU-bound
    downstream work: when the shuffled bytes are small (an id list, or
    even full documents at test scale), size-based coalescing folds the
    exchange to one partition and the expensive explode/hash/decode
    stage above it runs serially. AQE never coalesces user-NUMBERED
    exchanges, so naming the width preserves the intent — "parallelize
    past the input file count" — at every data size.

    Scale-adaptive skip (r22, guide §2.4 / VERDICT r21 #9): when the
    input's scans already imply at least the target width in splits, the
    fan-out exchange only moves bytes the scan already distributes, so
    it is skipped outright (:func:`_scan_splits`). The probe reads
    plan-side statistics on the driver — no job, no ``.rdd`` plan-force.
    Downstream keyed operators add their own exchange where they need
    one; at that point it carries their (usually partial-aggregated)
    rows instead of this helper's raw input. Tiny inputs estimate 0
    splits and always keep the fan-out, so bench-scale plans are
    unchanged."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    try:
        configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        configured = 0
    # FLOOR at core width, but never BELOW the configured shuffle width:
    # a cluster sized with shuffle.partitions=2000 for its data volume
    # must not have this helper cap the exchange at executor-core count
    # (per-partition bytes would grow unboundedly with the corpus).
    n = max(spark.sparkContext.defaultParallelism, configured)
    try:
        if _scan_splits(df) >= n:
            return df
    except Exception:  # probe is best-effort: any failure keeps the fan-out
        pass
    return df.repartition(n, *[F.col(c) if isinstance(c, str) else c
                               for c in cols])
