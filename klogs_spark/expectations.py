"""Declarative data-quality expectations — the Deequ / Great Expectations
pattern (public pattern, original implementation) as ONE Spark aggregate.

A pipeline gate declares what must hold (not-null, domain membership,
ranges over dynamic fields, key uniqueness); the engine verifies every
expectation in a single pass and emits a per-check report the scheduler
can fail on. Nothing here is corpus-sized beyond that one scan:

* each boolean expectation contributes two partial-aggregatable terms
  (violation count = rows where the condition is NOT TRUE — three-valued
  logic collapsed exactly like ``manifest.cow_delete_where``, so a NULL check
  result counts as a violation, the Great Expectations contract);
* uniqueness rides the same aggregate as an exact ``count_distinct``
  (swap to approx upstream if ±2% suffices at 100 TB);
* the single stats row unpivots via ``stack`` — constant-size output,
  one row per check.

At 100 TB this is the nightly quality gate: one table pass, map-side
combined, no matter how many expectations are registered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_report(
    df: DataFrame,
    checks: list[tuple[str, Column]],
    unique_keys: list[tuple[str, Column]] | None = None,
) -> DataFrame:
    """Run every expectation in one aggregate.

    ``checks``: (name, boolean Column) — a row VIOLATES the check when
    the condition is not TRUE (NULL counts as a violation).
    ``unique_keys``: (name, key Column) — violated rows = duplicates
    beyond the first occurrence of each key value; every NULL-keyed row
    violates too (a key that is missing cannot be unique — without this,
    any number of NULL keys would pass unnoticed).

    Returns one row per check: (check_name, n_rows, n_violations,
    passed)."""
    unique_keys = unique_keys or []
    if not checks and not unique_keys:
        raise ValueError("check_report needs at least one expectation")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in checks:
        aggs.append(
            F.sum((~F.coalesce(cond, F.lit(False))).cast("int"))
            .cast("bigint")
            .alias(f"{name}__v")
        )
    for name, key in unique_keys:
        # count(key)/count_distinct both skip NULLs, so add the NULL-key
        # rows (count(*) - count(key)) as violations explicitly
        aggs.append(
            (
                F.count(key)
                - F.count_distinct(key)
                + (F.count(F.lit(1)) - F.count(key))
            )
            .cast("bigint")
            .alias(f"{name}__v")
        )
    row = df.agg(*aggs)
    names = [n for n, _ in checks] + [n for n, _ in unique_keys]
    stack_args = ", ".join(f"'{n}', __n, {n}__v" for n in names)
    return row.selectExpr(
        f"stack({len(names)}, {stack_args}) AS "
        "(check_name, n_rows, n_violations)"
    ).withColumn("passed", F.col("n_violations") == 0)


def split_by_expectations(
    df: DataFrame, checks: list[tuple[str, Column]]
) -> tuple[DataFrame, DataFrame]:
    """Row-level enforcement: (clean, quarantined) — a row is quarantined
    when ANY check's condition is not TRUE (same three-valued collapse as
    :func:`check_report`). The quarantine frame carries a
    ``_failed_checks`` array naming every violated expectation, the
    triage column a dead-letter reviewer needs. Pure Column expressions —
    both frames share one scan lineage; Catalyst pushes the clean-side
    filter to the source."""
    if not checks:
        raise ValueError("split_by_expectations needs at least one check")
    conds = [
        (name, F.coalesce(cond, F.lit(False))) for name, cond in checks
    ]
    all_ok = conds[0][1]
    for _, c in conds[1:]:
        all_ok = all_ok & c
    failed = F.filter(
        F.array(
            *[
                F.when(~c, F.lit(name)).otherwise(F.lit(None))
                for name, c in conds
            ]
        ),
        lambda x: x.isNotNull(),
    )
    clean = df.filter(all_ok)
    quarantined = df.filter(~all_ok).withColumn("_failed_checks", failed)
    return clean, quarantined


def validated_logs_sink(
    path: str,
    checks: list[tuple[str, Column]],
    quarantine_path: str,
):
    """foreachBatch sink enforcing the data contract per micro-batch: rows
    passing every expectation append to the table; violating rows land in
    the quarantine store WITH their ``_failed_checks`` triage column —
    the streaming twin of the decode stage's dead-letter dir, one level
    up (semantic validity instead of parseability). At-least-once like
    the data path; both writes are plain appends over one shared batch
    scan."""
    from .table import write_logs

    def sink_fn(batch: DataFrame, batch_id: int) -> None:
        # two writes over one batch: persist so the streaming source is
        # read once (foreachBatch idiom)
        batch.persist()
        try:
            clean, quarantined = split_by_expectations(batch, checks)
            write_logs(clean, path, mode="append")
            (
                quarantined.withColumn(
                    "_failed_checks", F.to_json(F.col("_failed_checks"))
                )
                .write.mode("append")
                .parquet(quarantine_path)
            )
        finally:
            batch.unpersist()

    return sink_fn
