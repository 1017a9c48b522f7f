"""Logs table layout tests — partitioning, in-file sort, TTL retention."""

from __future__ import annotations

from collections import Counter
from datetime import date, datetime
from pathlib import Path

import pytest

from klogs_spark.manifest import apply_retention
from klogs_spark.schema import CLUSTER_KEY
from klogs_spark.table import read_logs, register_view, write_logs
from tests.conftest import job_count


@pytest.fixture()
def logs_df(spark):
    rows = [
        (datetime(2026, 1, d, h, 0, 0), "prod", f"ns-{d % 2}", "app",
         f"pod-{h}", "c", "host", {"level": "info"}, {"v": float(h)}, "line")
        for d in (1, 2, 3)
        for h in (0, 6, 12)
    ]
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )


def test_write_creates_daily_partitions(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    parts = sorted(p.name for p in Path(path).glob("date=*"))
    assert parts == ["date=2026-01-01", "date=2026-01-02", "date=2026-01-03"]
    back = read_logs(spark, path)
    assert back.count() == 9
    assert back.select("date").distinct().count() == 3


def test_rows_sorted_by_cluster_key_within_files(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    # every parquet file must be sorted by the cluster key (schema.sql:18)
    for f in Path(path).glob("date=*/*.parquet"):
        pdf = spark.read.parquet(str(f)).select(*CLUSTER_KEY).toPandas()
        key = list(map(tuple, pdf.itertuples(index=False)))
        assert key == sorted(key)


def test_partition_pruning_in_plan(spark, logs_df, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    df = read_logs(spark, path).filter("date = DATE'2026-01-02'")
    assert df.count() == 3
    # runtime truth: only files under the matching partition dir were read
    touched = [
        r[0] for r in df.select(F.input_file_name()).distinct().collect()
    ]
    assert touched and all("date=2026-01-02" in f for f in touched)


def test_register_view_sql_roundtrip(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    register_view(spark, path, "logs_t")
    got = spark.sql(
        "SELECT count(*) AS c FROM logs_t WHERE namespace = 'ns-1'"
    ).collect()[0].c
    assert got == 6  # days 1 and 3 route to ns-1, 3 rows each


def test_retention_drops_old_partitions(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    res = apply_retention(spark, path, retention_days=30,
                          today=date(2026, 2, 2))
    assert res["partitions_rewritten"] == ["2026-01-01", "2026-01-02"]
    assert res["rows_deleted"] == 6
    back = read_logs(spark, path)
    assert back.count() == 3
    assert back.filter("date < DATE '2026-01-03'").count() == 0
    # idempotent
    again = apply_retention(spark, path, 30, date(2026, 2, 2))
    assert again["rows_deleted"] == 0 and again["version"] == res["version"]


def test_zorder_null_rows_survive_both_rank_paths(spark):
    """NULL z-column values rank 0 and are NEVER dropped — in the
    literal-map path AND the >cap join fallback (which previously
    inner-joined a NULL-free rank table, losing the rows)."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.zorder import add_zorder

    n = 2000  # over the 1024 literal cap for `big`, under it for `small`
    df = spark.range(n).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.format_string("%06d", "id")))
        .alias("big"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 10).cast("string"))
        .alias("small"),
        F.col("id"),
    )
    z = add_zorder(df, ["big", "small"]).cache()
    try:
        assert z.count() == n  # no row loss on either path
        # NULLs rank 0 => their z contribution equals the minimum
        null_both = z.filter("big IS NULL AND small IS NULL")
        assert null_both.count() > 0
        assert null_both.filter("_z != 0").count() == 0
    finally:
        z.unpersist()


def test_zorder_write_roundtrips_and_narrows_trailing_dim(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from klogs_spark.ext.zorder import add_zorder
    from klogs_spark.table import write_logs_zordered
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.01")

    # 1) the z-ordered table write preserves every row and the daily layout
    path = str(tmp_path / "ztable")
    write_logs_zordered(logs, path, mode="overwrite")
    back = spark.read.parquet(path)
    assert back.count() == logs.count()
    assert back.select("namespace").distinct().count() == 5

    # 2) layout property, isolated from day-partition sizes: one file per
    # layout, tiny row groups, admission counted from parquet min/max stats.
    # Lexicographic (namespace, app, host) leaves `host` (trailing) with no
    # skipping at all; rank-interleave z-order must narrow it materially
    # while staying bounded on the other dims.
    dims = logs.select("namespace", "app", "host")

    def admitted(path: str, col: str, val: str) -> tuple[int, int]:
        admit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                total += 1
                if st is None or st.min is None or st.min <= val <= st.max:
                    admit += 1
        return admit, total

    lex = str(tmp_path / "lex")
    zed = str(tmp_path / "zed")
    (
        dims.coalesce(1)
        .sortWithinPartitions("namespace", "app", "host")
        .write.option("parquet.block.size", 32 * 1024)
        .parquet(lex)
    )
    (
        add_zorder(dims, ["namespace", "app", "host"])
        .coalesce(1)
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.option("parquet.block.size", 32 * 1024)
        .parquet(zed)
    )
    def dim_totals(path: str, col: str) -> tuple[int, int]:
        vals = [r[0] for r in dims.select(col).distinct().collect()]
        hits = total = 0
        for v in vals:
            a, t = admitted(path, col, v)
            hits, total = hits + a, total + t
        return hits, total

    lex_host = dim_totals(lex, "host")
    z_host = dim_totals(zed, "host")
    lex_app = dim_totals(lex, "app")
    z_app = dim_totals(zed, "app")
    assert lex_host[1] >= 8 * 8, "need several row groups x 8 hosts"
    # trailing dim gets ZERO skipping from the lexicographic sort...
    assert lex_host[0] == lex_host[1]
    # ...and z-order must strictly narrow BOTH non-leading dims, plus the
    # all-dims total (leading-dim loss is the accepted z-order trade)
    assert z_host[0] < lex_host[0]
    assert z_app[0] < lex_app[0]
    lex_ns = dim_totals(lex, "namespace")
    z_ns = dim_totals(zed, "namespace")
    lex_sum = lex_host[0] + lex_app[0] + lex_ns[0]
    z_sum = z_host[0] + z_app[0] + z_ns[0]
    assert z_sum < lex_sum, f"z-order total admission {z_sum} vs lex {lex_sum}"


# --- known read schema: no inference job on marker tables ----------------


@pytest.mark.parametrize("published", [False, True])
def test_marker_table_opens_without_a_spark_job(
    spark, logs_df, tmp_path, published
):
    from klogs_spark import manifest
    from klogs_spark.table import logs_query

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    if published:
        manifest.publish_snapshot(spark, path)
    assert job_count(spark, lambda: logs_query(spark, path)) == 0
    assert job_count(spark, lambda: read_logs(spark, path)) == 0
    if published:  # a plain table has no current state to read
        assert job_count(
            spark, lambda: manifest.read_current_state(spark, path)
        ) == 0
    rows = []
    assert job_count(
        spark,
        lambda: rows.extend(logs_query(spark, path).newest(100).collect()),
    ) == 1
    assert len(rows) == 9


def test_deficient_table_reads_promoted_column_null_on_old_files(
    spark, logs_df, tmp_path
):
    from pyspark.sql import functions as F

    from klogs_spark.table import logs_query, read_layout, write_logs_promoted

    # plain history, then a promoted append: the first files lack the
    # ``level`` column while the marker records it
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    extra = logs_df.filter("day(timestamp) = 3").withColumn(
        "fields_string", F.create_map(F.lit("level"), F.lit("warn"))
    )
    write_logs_promoted(extra, path, {"level": "level"})
    assert read_layout(spark, path)["promotions_deficient"] is True
    q = logs_query(spark, path)
    got = Counter(
        (r.level, r.fields_string["level"])
        for r in q.df.select("level", "fields_string").collect()
    )
    # the nine plain rows read NULL, as under mergeSchema; the three
    # promoted rows carry the physical value
    assert got == {(None, "info"): 9, ("warn", "warn"): 3}
    # existence falls back to the map, so plain rows still match
    assert not q.promoted_exists_ok
    assert q.where_exists("level").df.count() == 12


def test_mor_deleted_rows_stay_hidden_under_known_schema(
    spark, logs_df, tmp_path
):
    from pyspark.sql import functions as F

    from klogs_spark import manifest
    from klogs_spark.table import logs_query

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    manifest.publish_snapshot(spark, path)
    manifest.mor_delete_where(spark, path, F.col("pod_name") == "pod-6")
    assert logs_query(spark, path).df.count() == 6
    assert logs_query(spark, path).df.filter("pod_name = 'pod-6'").count() == 0
    state = manifest.read_current_state(spark, path)
    assert state.count() == 6
    assert state.filter("pod_name = 'pod-6'").count() == 0


def test_marker_table_file_with_wrong_column_type_raises(
    spark, logs_df, tmp_path
):
    """A data file whose column type disagrees with LOG_SCHEMA fails the
    read; it never returns values under the declared type."""
    from klogs_spark.table import logs_query

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    spark.createDataFrame(
        [(datetime(2026, 1, 4), 7)], "timestamp timestamp, namespace int"
    ).write.parquet(f"{path}/date=2026-01-04")
    with pytest.raises(Exception, match="(?i)namespace|convert|schema"):
        logs_query(spark, path).df.select("namespace").collect()
    with pytest.raises(Exception, match="(?i)namespace|convert|schema"):
        read_logs(spark, path).select("namespace").collect()


def test_table_without_marker_reads_its_own_columns(spark, logs_df, tmp_path):
    from klogs_spark import manifest
    from klogs_spark.table import LAYOUT_MARKER

    path = str(tmp_path / "logs")
    logs_df.withColumn("date", logs_df.timestamp.cast("date")).withColumn(
        "extra", logs_df.pod_name
    ).write.partitionBy("date").parquet(path)
    assert not (Path(path) / LAYOUT_MARKER).exists()
    assert read_logs(spark, path).count() == 9
    manifest.publish_snapshot(spark, path)
    state = manifest.read_current_state(spark, path)
    assert "extra" in state.columns  # inferred from the files
    assert state.filter("extra = pod_name").count() == 9


def test_empty_table_directory(spark, logs_df, tmp_path):
    """An empty directory without a marker declares no schema and raises
    UNABLE_TO_INFER_SCHEMA; a marker table with every day dropped reads
    as zero rows with its declared schema."""
    from pyspark.errors import AnalysisException

    from klogs_spark.table import logs_query

    bare = tmp_path / "bare"
    bare.mkdir()
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_logs(spark, str(bare))

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    res = apply_retention(spark, path, 1, date(2026, 3, 1))
    assert res["partitions_rewritten"] == [
        "2026-01-01", "2026-01-02", "2026-01-03"
    ]
    assert read_logs(spark, path).count() == 0
    assert logs_query(spark, path).df.count() == 0


def test_emptied_table_reads_zero_rows(spark, logs_df, tmp_path):
    """A marker table whose every row was deleted copy-on-write reads as
    zero rows with its declared columns through every reader; a table
    without a marker has no declared schema and keeps raising."""
    from pyspark.sql import functions as F

    from klogs_spark.manifest import cow_delete_where, read_current_state
    from klogs_spark.table import logs_query

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    want = read_logs(spark, path).columns
    cow_delete_where(spark, path, "true")
    for df in (
        read_logs(spark, path),
        logs_query(spark, path).df,
        read_current_state(spark, path),
    ):
        assert df.count() == 0
        assert set(want) <= set(df.columns)

    bare = str(tmp_path / "bare")
    logs_df.withColumn("date", F.to_date("timestamp")).write.partitionBy(
        "date"
    ).parquet(bare)
    cow_delete_where(spark, bare, "true")
    with pytest.raises(FileNotFoundError, match="no data files"):
        read_current_state(spark, bare)


_FS_LIFETIME_SCRIPT = r"""
import sys

from pyspark.sql import SparkSession

from klogs_spark.session import get_spark
from klogs_spark.table import _hadoop_fs

base = sys.argv[1]


def use(spark, name):
    # a fresh context starts without a cached handle
    assert not hasattr(spark.sparkContext, "_klogs_hadoop_fs"), name
    fs, hpath_cls, root = _hadoop_fs(spark, f"{base}/{name}")
    fs.mkdirs(root)
    out = fs.create(hpath_cls(f"{base}/{name}/part"), True)
    out.write(name.encode())
    out.close()
    again, _, _ = _hadoop_fs(spark, f"{base}/{name}/part")
    assert again is fs  # one handle per context and authority
    names = sorted(s.getPath().getName() for s in fs.listStatus(root))
    assert names == ["part"], names
    print(name, "ok")


spark = get_spark("fs-lifetime-1")
use(spark, "first")
spark.stop()
spark = get_spark("fs-lifetime-2")
use(spark, "second")
spark.stop()
spark = SparkSession.builder.master("local[1]").getOrCreate()
use(spark, "vanilla")
spark.stop()
"""


def test_hadoop_fs_handle_never_outlives_its_session(tmp_path):
    """``_hadoop_fs`` caches its handle on the SparkContext: after
    ``spark.stop()`` a new engine session, and a vanilla one without the
    engine's configs, each get a handle of their own that lists and
    writes files."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _FS_LIFETIME_SCRIPT, str(tmp_path)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    assert proc.stdout.split() == [
        "first", "ok", "second", "ok", "vanilla", "ok"
    ]
    assert (tmp_path / "vanilla" / "part").read_text() == "vanilla"
