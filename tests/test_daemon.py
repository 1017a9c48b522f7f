"""The engine's Python worker daemon (klogs_spark.daemon): zip archives
are re-read on import-cache invalidation only when they changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from klogs_spark import daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimport already defers the re-read; nothing installed")


def _write_zip(path: str, value: str, pad: str = "") -> None:
    # a package, so two zipimporters share the archive (its root and the
    # package directory); ``pad`` moves sub.py's offset in the archive
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("klogs_zip_probe/__init__.py", f"# {pad}\n")
        z.writestr("klogs_zip_probe/sub.py", f"VALUE = {value!r}\n")


def _import_value() -> str:
    for name in ("klogs_zip_probe.sub", "klogs_zip_probe"):
        sys.modules.pop(name, None)
    return importlib.import_module("klogs_zip_probe.sub").VALUE


def test_unchanged_zip_is_not_reread_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "old")
    monkeypatch.setattr(daemon, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches)
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for name in ("klogs_zip_probe.sub", "klogs_zip_probe"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(archive)
    assert _import_value() == "old"

    importlib.invalidate_caches()  # first sight: read, (mtime, size) kept
    seen = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == seen  # unchanged: never re-read

    _write_zip(archive, "rewritten", pad="x" * 500)
    importlib.invalidate_caches()
    # one read; the package's importer adopts the new directory, so the
    # moved sub.py imports with its new content
    assert reads.count(archive) == seen + 1
    assert _import_value() == "rewritten"


def test_get_spark_workers_run_the_engine_daemon(spark):
    """A Python UDF in a get_spark session runs in a worker forked from
    klogs_spark.daemon, so its zip invalidation is the engine's."""
    from pyspark.sql import functions as F

    @F.udf("string")
    def invalidator(_):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return f"{fn.__module__}.{fn.__qualname__}"

    got = {r[0] for r in spark.range(4).select(invalidator("id")).collect()}
    assert got == {"klogs_spark.daemon.invalidate_caches"}
