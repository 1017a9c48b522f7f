"""The engine session's codegen cache holds a working set wider than
Spark's default of 100 classes."""

from __future__ import annotations

from tests.conftest import compiled_classes


def test_codegen_cache_keeps_a_shape_compiled_across_100_others(spark):
    """A query shape compiled once is not compiled again after more than
    100 other generated shapes — with Spark's default cache it is evicted
    and Janino compiles it again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def first():
        return spark.range(10).selectExpr("id * 7 + 3 AS x").collect()

    assert [r.x for r in first()] == [i * 7 + 3 for i in range(10)]
    for i in range(120):  # the literal makes each a distinct class
        spark.range(10).selectExpr(f"id + {i}").collect()
    before = compiled_classes(spark)
    first()
    assert compiled_classes(spark) == before
