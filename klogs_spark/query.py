"""The read surface — filters F1-F6, aggregations A1-A7, sorts O1-O3.

The reference ships no query executor; its query surface is what the
ClickHouse DDL makes fast plus the README's demonstrated queries (SURVEY
§2.3/2.5/2.7). This module exposes that surface as a small fluent API over
any logs-shaped DataFrame. Every method is a pure Column expression —
predicates push down to the parquet scan, partition pruning applies to
time ranges, aggregates get map-side partial aggregation from Catalyst.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .transform import field_number, field_string, has_field


class LogsQuery:
    """Fluent builder over a logs DataFrame.

    ``LogsQuery(df).time_range(a, b).where_env(namespace="x").where_field_eq
    ("content.level", "error").count_all()`` — the canonical klogs question
    (SURVEY §7 step 2).

    ``promotions`` (map-key -> physical column, normally supplied by
    ``table.logs_query`` from the table's layout marker) transparently
    rewrites dynamic-field predicates onto promoted materialized columns:
    the caller keeps asking about ``fields_string['content.level']`` and
    the plan scans the dictionary-encoded physical column with the filter
    pushed down, the map column pruned away entirely — the engine-side
    completion of the reference's promoted-column recipe (README.md:69-91,
    SURVEY §4 option b).
    """

    def __init__(
        self,
        df: DataFrame,
        promotions: dict | None = None,
        promoted_exists_ok: bool = True,
    ):
        self.df = df
        self.promotions = dict(promotions or {})
        # False when the table holds files predating a promotion (layout
        # marker "promotions_deficient", set by write_logs_promoted and
        # cleared by materialize_promotions): those rows read the physical
        # column as NULL (their files lack it), so the promoted existence
        # fast path would flip F5 answers — fall back to the map instead
        self.promoted_exists_ok = promoted_exists_ok

    def _wrap(self, df: DataFrame) -> "LogsQuery":
        return LogsQuery(df, self.promotions, self.promoted_exists_ok)

    def _field_string(self, key: str) -> Column:
        if key in self.promotions:
            return F.col(self.promotions[key])
        return field_string(key)

    # --- filters -----------------------------------------------------------
    def time_range(self, start: datetime | str, end: datetime | str) -> "LogsQuery":
        """F1 — prunes daily partitions (schema.sql:17)."""
        return self._wrap(self.df.filter(F.col("timestamp").between(start, end)))

    def where_env(self, **eq: str) -> "LogsQuery":
        """F2 — envelope equality, served by the cluster-key sort (schema.sql:18)."""
        out = self.df
        for col, val in eq.items():
            out = out.filter(F.col(col) == val)
        return self._wrap(out)

    def where_field_eq(self, key: str, value: str) -> "LogsQuery":
        """F3 — ``fields_string['k'] = 'v'`` (README.md:69-70)."""
        return self._wrap(self.df.filter(self._field_string(key) == value))

    def where_field_like(self, key: str, pattern: str) -> "LogsQuery":
        """F3 — LIKE on a dynamic string field."""
        return self._wrap(self.df.filter(self._field_string(key).like(pattern)))

    def where_field_rlike(self, key: str, pattern: str) -> "LogsQuery":
        """F3 — regex on a dynamic string field."""
        return self._wrap(self.df.filter(self._field_string(key).rlike(pattern)))

    def where_number(self, key: str, op: str, value: float) -> "LogsQuery":
        """F4 — ``fields_number['k'] <op> n`` (README.md:72-73)."""
        col = field_number(key)
        ops = {
            ">": col > value, ">=": col >= value,
            "<": col < value, "<=": col <= value,
            "=": col == value, "!=": col != value,
        }
        return self._wrap(self.df.filter(ops[op]))

    def where_exists(self, key: str, in_numbers: bool = False) -> "LogsQuery":
        """F5 — ``mapContains(fields_string|fields_number, 'k')``. A
        promoted string key serves existence from the physical column
        (NULL iff the key was absent — promote_string_field materializes
        the map lookup, and map values are never NULL by the P6 null-
        elimination contract). The fast path is taken only while the
        table has no deficient (pre-promotion) files — those read the
        physical column as NULL (their files lack it) even when the map HAS
        the key, which would flip the answer."""
        if not in_numbers and key in self.promotions and self.promoted_exists_ok:
            return self._wrap(
                self.df.filter(F.col(self.promotions[key]).isNotNull())
            )
        col = "fields_number" if in_numbers else "fields_string"
        return self._wrap(self.df.filter(has_field(col, key)))

    def where_log_contains(self, needle: str) -> "LogsQuery":
        """F6 — full-text substring on the raw line (``log LIKE '%…%'``)."""
        return self._wrap(self.df.filter(F.col("log").contains(needle)))

    def where_log_rlike(self, pattern: str) -> "LogsQuery":
        """F6 — regex over the raw line."""
        return self._wrap(self.df.filter(F.col("log").rlike(pattern)))

    def where(self, cond: Column) -> "LogsQuery":
        return self._wrap(self.df.filter(cond))

    # --- aggregations ------------------------------------------------------
    def count_all(self) -> DataFrame:
        """A1 — count(*) (README.md:146,149)."""
        return self.df.agg(F.count(F.lit(1)).alias("cnt"))

    def histogram(self, bucket: str = "1 hour") -> DataFrame:
        """A2 — time-bucketed counts, the canonical log-volume chart
        (enabled by schema.sql:17-18). Returns (bucket_start, cnt)."""
        return (
            self.df.groupBy(
                F.window(F.col("timestamp"), bucket).start.alias("bucket_start")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def count_by(self, *dims: str) -> DataFrame:
        """A3 — group-by envelope dims (LowCardinality dims, schema.sql:6-11)."""
        return self.df.groupBy(*dims).agg(F.count(F.lit(1)).alias("cnt"))

    def number_stats(self, key: str, *dims: str) -> DataFrame:
        """A4 — avg/min/max/sum over ``fields_number['k']`` — the reason the
        number map exists (schema.sql:13, main.go:336-345)."""
        v = field_number(key)
        grouped = self.df.filter(v.isNotNull()).groupBy(*dims) if dims else \
            self.df.filter(v.isNotNull()).groupBy()
        return grouped.agg(
            F.count(v).alias("cnt"),
            F.avg(v).alias("avg_v"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            F.sum(v).alias("sum_v"),
        )

    def distinct_field_values(self, key: str, approx: bool = False) -> DataFrame:
        """A5 — (approx_)count_distinct of a dynamic field (EXT)."""
        v = self._field_string(key)
        agg = (
            F.approx_count_distinct(v) if approx else F.count_distinct(v)
        ).alias("distinct_cnt")
        return self.df.agg(agg)

    def percentiles(self, key: str, qs: list[float] | None = None) -> DataFrame:
        """A7 — p50/p90/p95/p99 summaries (parity with the reference's
        self-instrumentation quantiles, main.go:62-73)."""
        qs = qs or [0.5, 0.9, 0.95, 0.99]
        v = field_number(key)
        return self.df.filter(v.isNotNull()).agg(
            *[
                F.percentile_approx(v, q).alias(f"p{int(q * 100)}")
                for q in qs
            ]
        )

    # --- sorts / limits ----------------------------------------------------
    def preview(self, n: int = 10) -> DataFrame:
        """O1 — LIMIT n (README.md:147,150)."""
        return self.df.limit(n)

    def newest(self, n: int = 100) -> DataFrame:
        """O3 — ORDER BY timestamp DESC LIMIT n: the canonical log-view query.
        Spark plans this as TakeOrderedAndProject (distributed top-k per
        partition + driver-side merge of n rows — no full sort at any scale).
        """
        return self.df.orderBy(F.col("timestamp").desc()).limit(n)


def fetch_context(
    spark,
    path: str,
    pod_name: str,
    anchor_ts,
    n: int = 5,
    horizon_hours: int = 12,
) -> DataFrame:
    """Interactive log-viewer context fetch, anchor form: given a
    (pod, timestamp) anchor, return the ``n`` lines at-or-before the
    anchor and the ``n`` lines after it from that pod's stream — the
    click-a-line-see-its-surroundings operation every log UI ships
    (the windowed batch form is queries/logs.py logs_context_window).

    Bounded by construction: the search horizon is ±``horizon_hours``
    around the anchor (default 12h, so the scan touches AT MOST TWO
    day-partitions — asserted by tests/test_table_ops.py), the date
    bounds are literals so Catalyst partition-prunes the directory
    listing, the pod/time predicates push into the parquet scan (the
    cluster-key sort makes the pod filter a row-group skip), and each
    side is an ORDER BY + LIMIT n that plans as TakeOrderedAndProject —
    per-partition top-n plus an n-row driver merge, never a sort of the
    scanned day. At 100 TB the fetch reads two partitions' pruned row
    groups and moves 2n rows, independent of corpus size.

    Ties on timestamp break by the log line (descending before the
    anchor, ascending after) so the returned context is deterministic.
    Returns (direction, timestamp, pod_name, log) in stream order.
    """
    from datetime import datetime, timedelta

    from .schema import PARTITION_COLUMN
    from .table import read_logs

    anchor = (
        anchor_ts
        if isinstance(anchor_ts, datetime)
        else datetime.fromisoformat(str(anchor_ts))
    )
    lo = anchor - timedelta(hours=horizon_hours)
    hi = anchor + timedelta(hours=horizon_hours)
    stream = (
        read_logs(spark, path)
        .filter(
            (F.col(PARTITION_COLUMN) >= F.lit(lo.date()))
            & (F.col(PARTITION_COLUMN) <= F.lit(hi.date()))
        )
        .filter(
            (F.col("timestamp") >= F.lit(lo))
            & (F.col("timestamp") <= F.lit(hi))
            & (F.col("pod_name") == pod_name)
        )
    )
    before = (
        stream.filter(F.col("timestamp") <= F.lit(anchor))
        .orderBy(F.col("timestamp").desc(), F.col("log").desc())
        .limit(n)
        .withColumn("direction", F.lit("before"))
    )
    after = (
        stream.filter(F.col("timestamp") > F.lit(anchor))
        .orderBy(F.col("timestamp").asc(), F.col("log").asc())
        .limit(n)
        .withColumn("direction", F.lit("after"))
    )
    return (
        before.unionByName(after)
        .select("direction", "timestamp", "pod_name", "log")
        .orderBy("timestamp", "log")
    )
