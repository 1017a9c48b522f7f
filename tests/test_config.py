"""EngineConfig parsing — warn-and-default behavior (main.go:168-172)."""

from klogs_spark.config import EngineConfig


def test_defaults_match_reference():
    cfg = EngineConfig()
    assert cfg.batch_size == 10_000          # main.go:37
    assert cfg.flush_interval_s == 60        # main.go:38
    assert cfg.max_idle_conns == 1           # main.go:35
    assert cfg.max_open_conns == 1           # main.go:36
    assert cfg.dial_timeout_s == 10          # main.go:33
    assert cfg.conn_max_lifetime_s == 3600   # main.go:34
    assert cfg.retention_days == 30          # schema.sql:19
    assert not cfg.async_insert and not cfg.wait_for_async_insert


def test_from_dict_parses_and_splits():
    cfg = EngineConfig.from_dict(
        {
            "batch_size": "500",
            "flush_interval": "5",
            "force_number_fields": "a,b.c,d",
            "force_underscores": "TRUE",
            "async_insert": "true",
            "database": "mydb",
        }
    )
    assert cfg.batch_size == 500
    assert cfg.flush_interval_s == 5
    assert cfg.force_number_fields == ["a", "b.c", "d"]  # comma split, main.go:208
    assert cfg.force_underscores and cfg.async_insert
    assert cfg.database == "mydb"


def test_invalid_values_fall_back_to_defaults():
    # warn-and-default, main.go:168-172
    cfg = EngineConfig.from_dict({"batch_size": "not-a-number",
                                  "flush_interval": ""})
    assert cfg.batch_size == 10_000
    assert cfg.flush_interval_s == 60
    # empty force list -> no phantom empty-string key
    assert EngineConfig.from_dict({"force_number_fields": ""}).force_number_fields == []


def test_version_info_renders():
    from klogs_spark.version import info, print_info

    i = info()
    assert i["version"] and i["pyspark_version"]
    text = print_info("klogs_spark")
    assert "klogs_spark, version" in text and "pyspark version" in text


def test_cli_maintenance_commands_round_trip(spark, tmp_path, capsys):
    """The operator surface: delete, stats, snapshot/versions, and
    retention-policy drive the real table jobs end-to-end."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.table import read_logs, write_logs
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-05"
    )
    path = str(tmp_path / "t")
    write_logs(logs, path)
    total = read_logs(spark, path).count()

    assert main(["snapshot", path]) == 0
    assert main(["versions", path]) == 0
    out = capsys.readouterr().out
    assert "published v1" in out
    assert "v1\tcommitted_at_ms=" in out  # TIMESTAMP AS OF metadata

    n_err = read_logs(spark, path).filter(
        "element_at(fields_string, 'level') = 'error'"
    ).count()
    assert main(
        ["delete", path, "element_at(fields_string, 'level') = 'error'"]
    ) == 0
    assert f"deleted {n_err} row(s)" in capsys.readouterr().out
    assert read_logs(spark, path).count() == total - n_err

    assert main(["stats", path, "--columns", "namespace,app"]) == 0
    out = capsys.readouterr().out
    assert "namespace" in out and "n_nulls" in out

    assert main(
        ["retention-policy", path, "--policy", "ns-1=0", "--default-days",
         "3650"]
    ) == 0
    out = capsys.readouterr().out
    assert "deleted" in out
    assert read_logs(spark, path).filter("namespace = 'ns-1'").count() == 0


def test_cli_delete_on_plain_table_and_retention_dry_run(
    spark, tmp_path, capsys
):
    """`delete` and its `cow-delete` alias rewrite a never-published
    table copy-on-write and print the version they published; `compact`
    and `cow-compact` share one handler; `retention --dry-run` lists the
    expired days and writes nothing, not even a first manifest."""
    import re
    from pathlib import Path

    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.manifest import snapshot_versions
    from klogs_spark.table import read_logs, write_logs
    from klogs_spark.views import derive_logs_from_events
    from tests.conftest import SF_SMOKE

    logs = derive_logs_from_events(spark, SF_SMOKE).filter(
        F.col("timestamp") < "2024-01-04"
    )
    path = str(tmp_path / "t")
    write_logs(logs, path)
    n7 = logs.filter("pod_name = 'pod-7'").count()
    assert main(["delete", path, "pod_name = 'pod-7'"]) == 0
    out = capsys.readouterr().out
    assert re.search(rf"^v2: deleted {n7} row\(s\)", out, re.M), out
    assert main(["cow-delete", path, "pod_name = 'pod-8'"]) == 0
    assert capsys.readouterr().out.startswith("v3: deleted")
    assert snapshot_versions(spark, path) == [1, 2, 3]
    write_logs(logs.filter("pod_name = 'pod-9'"), path)  # 2nd file per day
    for verb in ("compact", "cow-compact"):
        assert main([verb, path, "date=2024-01-02"]) == 0
        assert "compacted" in capsys.readouterr().out
    assert read_logs(spark, path).filter(
        "pod_name IN ('pod-7', 'pod-8')"
    ).count() == 0

    plain = str(tmp_path / "plain")
    write_logs(logs, plain)
    before = {
        str(p): p.stat().st_mtime_ns
        for p in Path(plain).rglob("*") if p.is_file()
    }
    assert main(["retention", plain, "--days", "0", "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert "would delete 3 day(s)" in out and "2024-01-01" in out
    assert before == {
        str(p): p.stat().st_mtime_ns
        for p in Path(plain).rglob("*") if p.is_file()
    }
    assert snapshot_versions(spark, plain) == []


def test_version_flag_writes_stdout_not_stderr(capsys):
    """`klogs_spark --version | ...` scripting needs stdout (the original
    parser.exit(message=...) wrote stderr)."""
    import pytest

    from klogs_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["--version"])
    assert exc.value.code in (0, None)
    captured = capsys.readouterr()
    assert "version" in captured.out
    assert captured.err == ""


def test_cli_cow_merge_and_ann_commands(spark, tmp_path, capsys):
    """Round-10 operator surface: cow-merge from a parquet batch, and the
    ann-drift / ann-rebuild gate."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.manifest import publish_snapshot, read_logs_at
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events, load_table

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "t")
    write_logs(logs.filter(F.col("timestamp") < "2024-01-03"), path)
    publish_snapshot(spark, path)
    upd_dir = str(tmp_path / "upd")
    upd = logs.filter(
        (F.col("timestamp") >= "2024-01-02")
        & (F.col("timestamp") < "2024-01-04")
    ).withColumn("log", F.concat(F.col("log"), F.lit(" [v2]")))
    upd.write.parquet(upd_dir)

    assert main(["cow-merge", path, upd_dir, "--keys", "timestamp"]) == 0
    out = capsys.readouterr().out
    assert "updated" in out and "inserted" in out
    final = read_logs_at(spark, path)
    assert final.filter("log LIKE '% [v2]'").count() == upd.count()

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    root = str(tmp_path / "ann")
    from klogs_spark.ext import ann_index

    ann_index.commit_index_build(
        emb.filter(F.col("vec_id") < 80), root, ivf_k=4, refine_iters=1
    )
    ann_index.refresh_ivfpq_index(
        emb.filter(F.col("vec_id") >= 80),
        ann_index.current_index_path(root),
    )
    emb_dir = str(tmp_path / "emb")
    emb.write.parquet(emb_dir)

    assert main(["ann-drift", root]) == 0
    assert "ppm post-training" in capsys.readouterr().out
    assert main(
        ["ann-rebuild", root, emb_dir, "--threshold-ppm", "1"]
    ) == 0
    out = capsys.readouterr().out
    assert "rebuilt into" in out and "b2" in out
    # second run: serving build has no drift -> no-op
    assert main(
        ["ann-rebuild", root, emb_dir, "--threshold-ppm", "1"]
    ) == 0
    assert "below threshold" in capsys.readouterr().out


def test_cli_cow_update_fsck_and_ann_remove(spark, tmp_path, capsys):
    """Round-13 operator surface: cow-update with SQL SET expressions,
    fsck's report + exit code, and ann-remove by id list."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.ext import ann_index
    from klogs_spark.manifest import publish_snapshot, read_logs_at
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events, load_table

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-03"
    )
    path = str(tmp_path / "t")
    write_logs(logs, path)
    publish_snapshot(spark, path)

    assert main([
        "cow-update", path, "pod_name = 'pod-7'",
        "--set", "log=concat(log, ' [cli]')",
    ]) == 0
    out = capsys.readouterr().out
    assert "updated" in out and "retained" in out
    after = read_logs_at(spark, path)
    assert after.filter("log LIKE '%[cli]'").count() == logs.filter(
        "pod_name = 'pod-7'"
    ).count()

    assert main(["fsck", path]) == 0
    rep = capsys.readouterr().out
    assert '"ok": true' in rep and '"tombstoned"' in rep

    idx = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(
        load_table(spark, "/root/testdata/sf0.001", "embeddings"), idx
    )
    assert main(["ann-remove", idx, "1,2,3"]) == 0
    assert "cell(s)" in capsys.readouterr().out
    codes = spark.read.parquet(f"{idx}/codes")
    assert codes.filter("id IN (1, 2, 3)").count() == 0


def test_cli_mor_delete_and_dv_compact(spark, tmp_path, capsys):
    """The merge-on-read operator surface: mor-delete records the vector
    (zero files rewritten), dv-compact folds and clears it."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.manifest import has_live_dv, read_logs_at
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-03"
    )
    path = str(tmp_path / "t")
    write_logs(logs, path)
    assert main(["snapshot", path]) == 0
    capsys.readouterr()
    total = read_logs_at(spark, path).count()
    n7 = logs.filter("pod_name = 'pod-7'").count()

    assert main(["mor-delete", path, "pod_name = 'pod-7'"]) == 0
    out = capsys.readouterr().out
    assert f"deleted {n7} row(s) merge-on-read" in out
    assert read_logs_at(spark, path).count() == total - n7
    assert has_live_dv(spark, path)

    assert main(["dv-compact", path]) == 0
    out = capsys.readouterr().out
    assert f"folded {n7} position(s)" in out
    assert not has_live_dv(spark, path)
    assert read_logs_at(spark, path).count() == total - n7


def test_cli_mor_update_set_parsing_and_apply(spark, tmp_path, capsys):
    """mor-update drives the merge-on-read UPDATE end-to-end; malformed
    --set values exit cleanly instead of raising a Spark parse error."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.manifest import read_logs_at
    from klogs_spark.table import write_logs
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-03"
    )
    path = str(tmp_path / "t")
    write_logs(logs, path)
    assert main(["snapshot", path]) == 0
    capsys.readouterr()
    n7 = logs.filter("pod_name = 'pod-7'").count()

    assert main([
        "mor-update", path, "pod_name = 'pod-7'",
        "--set", "log=concat(log, ' [fixed]')",
    ]) == 0
    out = capsys.readouterr().out
    assert f"updated {n7} row(s) merge-on-read" in out
    head = read_logs_at(spark, path)
    assert head.filter("log LIKE '% [fixed]'").count() == n7
    assert head.count() == logs.count()

    import pytest

    for bad in ("log", "log=", "=x", "  =x"):
        with pytest.raises(SystemExit, match="COL=EXPR"):
            main(["mor-update", path, "true", "--set", bad])


def test_cli_rollup_advance_and_release_lock(spark, tmp_path, capsys):
    """Operator surface for the CDC rollup loop: rollup-advance drives
    incremental_rollup (full on first call, incremental after churn),
    and rollup-release-lock reclaims a crashed advance's lock so the
    next nightly isn't wedged."""
    from pyspark.sql import functions as F

    from klogs_spark.__main__ import main
    from klogs_spark.table import ROLLUP_LOCK, write_logs
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.001").filter(
        F.col("timestamp") < "2024-01-03"
    )
    path, rdir = str(tmp_path / "t"), str(tmp_path / "r")
    write_logs(logs, path)
    assert main(["snapshot", path]) == 0
    capsys.readouterr()

    assert main(["rollup-advance", path, rdir]) == 0
    assert "mode full" in capsys.readouterr().out

    # crashed holder: a stale lock wedges the next advance...
    (tmp_path / "r" / ROLLUP_LOCK).write_text('{"owner": "dead"}')
    assert main(["mor-delete", path, "pod_name = 'pod-7'"]) == 0
    capsys.readouterr()
    import pytest

    from klogs_spark.table import ConcurrentRollupError

    with pytest.raises(ConcurrentRollupError):
        main(["rollup-advance", path, rdir])
    # ...until the operator releases it
    assert main(["rollup-release-lock", rdir]) == 0
    assert "lock released" in capsys.readouterr().out
    assert main(["rollup-advance", path, rdir]) == 0
    assert "mode incremental" in capsys.readouterr().out
    assert main(["rollup-release-lock", rdir]) == 0
    assert "nothing to release" in capsys.readouterr().out
