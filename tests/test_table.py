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


# --- one writer: every write follows the layout marker -------------------

_ZCOLS = ["app", "host"]
_PROMOTED = {"level": "level_p"}
_KINDS = {
    "cluster": {"layout": "cluster"},
    "promoted": {"layout": "cluster", "promotions": _PROMOTED,
                 "promotions_deficient": False},
    "zorder": {"layout": "zorder", "cols": _ZCOLS},
}


def _grid(spark, days, hour):
    """Every (app, host, pod) combination once per day: each day and
    every write or rewrite of whole days holds the same distinct z-order
    values, so a file's own values rank its rows as its write did. The
    z-order and the cluster-key order of these rows differ."""
    rows = [
        (datetime(2026, 1, d, hour, i // 8, i % 8), "prod", "ns", f"a{a}",
         f"pod-{p}", "c", f"h{h}",
         {"level": f"l{(a + h + p) % 3}", "src": f"s{i}"},
         {"v": float(i)}, f"d{d} line {i}")
        for d in days
        for i, (a, h, p) in enumerate(
            (a, h, p) for a in range(4) for h in range(4) for p in range(2)
        )
    ]
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )


def _live_files(spark, path) -> set:
    from klogs_spark import manifest

    versions = manifest.snapshot_versions(spark, path)
    head = (
        manifest._manifest_files(spark, path, versions[-1]) if versions
        else []
    )
    return set(head) | manifest._unmanifested_files(spark, path)


def _zvalues(table) -> list:
    """ext.zorder.add_zorder's Morton value of each row, ranked over the
    file's own distinct values."""
    from klogs_spark.ext.zorder import ZORDER_BITS

    n, width = len(_ZCOLS), 1 << ZORDER_BITS
    ranks = []
    for c in _ZCOLS:
        values = table.column(c).to_pylist()
        distinct = sorted(set(values))
        rank = {v: i * width // len(distinct) for i, v in enumerate(distinct)}
        ranks.append([rank[v] for v in values])
    return [
        sum(
            ((r[j] >> i) & 1) << (i * n + (n - 1 - j))
            for i in range(ZORDER_BITS) for j in range(n)
        )
        for r in zip(*ranks)
    ]


def _assert_in_layout(path, f, marker, check_sort):
    """Data file ``f`` carries every promoted column of ``marker`` equal
    to its map value and, when ``check_sort``, follows its sort."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{path}/{f}")
    maps = [dict(m) for m in t.column("fields_string").to_pylist()]
    for key, column in (marker.get("promotions") or {}).items():
        assert column in t.column_names, f"{f} lacks {column}"
        assert t.column(column).to_pylist() == [m.get(key) for m in maps]
    if not check_sort:
        return
    ts = t.column("timestamp").to_pylist()
    if marker["layout"] == "zorder":
        order = list(zip(_zvalues(t), ts))
    else:
        order = list(zip(*(t.column(c).to_pylist() for c in CLUSTER_KEY)))
    assert order == sorted(order), f"{f} is not in {marker['layout']} order"


@pytest.mark.parametrize("kind", sorted(_KINDS))
@pytest.mark.parametrize("write", [
    "write_logs", "write_logs_overwrite", "write_logs_promoted",
    "write_logs_zordered", "exactly_once_sink", "cow_delete_where",
    "cow_merge_upsert",
])
def test_every_write_follows_the_layout_marker(spark, tmp_path, kind, write):
    """After any write into a cluster, promoted or z-ordered table, the
    marker keeps its promotions (and takes the layout or promotion the
    write asked for), every file the write added follows the marker's
    sort, and every live file carries the promoted columns; a table left
    ``promotions_deficient`` has them in the files just written."""
    from pyspark.sql import functions as F

    from klogs_spark import manifest, stream
    from klogs_spark.table import (
        read_layout, write_logs_promoted, write_logs_zordered,
    )

    path = str(tmp_path / "t")
    base = _grid(spark, (1, 2), 0)
    if kind == "cluster":
        write_logs(base, path)
    elif kind == "promoted":
        write_logs_promoted(base, path, _PROMOTED)
    else:
        write_logs_zordered(base, path, tuple(_ZCOLS))
    manifest.publish_snapshot(spark, path)
    expected = dict(_KINDS[kind])
    assert read_layout(spark, path) == expected
    before = _live_files(spark, path)
    batch = _grid(spark, (2, 3), 1)

    if write == "write_logs":
        write_logs(batch, path)
    elif write == "write_logs_overwrite":
        write_logs(batch, path, mode="overwrite")
    elif write == "write_logs_promoted":
        write_logs_promoted(batch, path, _PROMOTED)
        if kind != "promoted":
            expected.update(promotions=_PROMOTED, promotions_deficient=True)
    elif write == "write_logs_zordered":
        write_logs_zordered(batch, path, tuple(_ZCOLS))
        expected.update(layout="zorder", cols=_ZCOLS)
    elif write == "exactly_once_sink":
        stream.exactly_once_sink(path)(batch, 0)
    elif write == "cow_delete_where":
        manifest.cow_delete_where(spark, path, F.col("pod_name") == "pod-1")
    else:
        day1 = read_logs(spark, path).filter("date = DATE'2026-01-01'")
        updates = day1.filter("app = 'a0'").drop("date").withColumn(
            "fields_string", F.create_map(
                F.lit("level"), F.lit("changed"),
                F.lit("src"), F.col("fields_string")["src"],
            ),
        )
        manifest.cow_merge_upsert(
            spark, path, updates, ["timestamp", "pod_name"]
        )

    marker = read_layout(spark, path)
    assert marker == expected
    live = _live_files(spark, path)
    added = live - before
    assert added
    for f in live if not marker.get("promotions_deficient") else added:
        _assert_in_layout(path, f, marker, check_sort=f in added)


# --- driver-side FileSystem calls per verb ------------------------------


def test_write_verbs_filesystem_calls(spark, logs_df, tmp_path):
    """Hadoop FileSystem calls the driver makes per write, pinned so a
    change cannot add round trips to an object store unseen. An append
    reads the marker with one ``open``; an exactly-once batch reads the
    table's marker and lets ``create`` make its ``_commits`` directory; a
    rewrite reads the marker once."""
    from pyspark.sql import functions as F

    from klogs_spark import manifest, stream
    from klogs_spark.views import derive_logs_from_events
    from tests.conftest import SF_SMOKE, fs_calls

    logs = derive_logs_from_events(spark, SF_SMOKE)
    path = str(tmp_path / "t")
    write_logs(logs.filter("pod_name != 'pod-7'"), path)

    def total(action):
        return sum(fs_calls(spark, action).values())

    assert total(lambda: write_logs(logs.filter("pod_name = 'pod-7'"),
                                    path)) == 1
    sink = stream.exactly_once_sink(path)
    assert total(lambda: sink(logs.filter("pod_name = 'pod-3'"), 0)) == 118
    manifest.publish_snapshot(spark, path)
    assert total(lambda: manifest.cow_delete_where(
        spark, path, F.col("pod_name") == "pod-5"
    )) == 179
