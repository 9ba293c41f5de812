"""A warm mixed query session compiles no generated code again.

``spark.sql.codegen.cache.maxEntries`` defaults to 100 classes, and
rotating the six relational ``query_mix`` queries needs about 100: at
the default, every rotation after the first recompiled about 30 classes
the one before had evicted. ``session.DEFAULT_CONFS`` sizes the cache so
the second rotation compiles nothing."""

from __future__ import annotations

from dumpty_spark import session
from dumpty_spark.queries import REGISTRY

RELATIONAL = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q21_waiting_suppliers",
    "q_window_rank_per_segment",
    "q_session_windows",
)


def _rotation(spark, sf_dir) -> int:
    c0, _ = session.codegen_compiles(spark)
    for q in RELATIONAL:
        REGISTRY[q].fn(spark, sf_dir).toPandas()
    return session.codegen_compiles(spark)[0] - c0


def test_cache_size_is_set_on_the_session(spark):
    conf = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(conf) == session.DEFAULT_CONFS[conf]


def test_codegen_compiles_counts_a_new_class(spark):
    n0, ms0 = session.codegen_compiles(spark)
    # an expression no other test builds, so its class is not cached
    spark.range(7).selectExpr("id * 7919 + 104729 AS codegen_probe").collect()
    n1, ms1 = session.codegen_compiles(spark)
    assert n1 > n0 and ms1 > ms0


def test_second_rotation_compiles_nothing(spark, sf_smoke):
    _rotation(spark, sf_smoke)  # compiles whatever is not cached yet
    assert _rotation(spark, sf_smoke) == 0
