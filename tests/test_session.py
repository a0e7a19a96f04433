"""Session defaults that set a repeated query's fixed cost.

Spark Janino-compiles the classes it generates for whole-stage stages and
projections, and `CodeGenerator` keeps them in an LRU of
`spark.sql.codegen.cache.maxEntries`. If one pass over a workload needs more
classes than that, every repeat recompiles everything; `get_spark` sizes the
cache above the batch workload's working set.
"""

from __future__ import annotations

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import all_queries
from hyrise_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from tests.conftest import SF_DIR
from tools.codegen_probe import batch_ops, codegen_totals, run_pass

# Spark's own default; a first pass that compiles fewer classes than this
# would fit even the default cache and could not catch a regression.
_SPARK_DEFAULT_ENTRIES = 100


def _clear_codegen_cache(spark) -> None:
    """Empty CodeGenerator's compiled-class cache, so the next pass compiles
    its whole working set whatever earlier tests left cached."""
    jvm = spark.sparkContext._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    module = cls.getField("MODULE$").get(None)
    fields = [f for f in cls.getDeclaredFields() if f.getName().endswith("cache")]
    assert len(fields) == 1, [f.getName() for f in fields]
    fields[0].setAccessible(True)
    fields[0].get(module).invalidateAll()


def test_session_reports_codegen_cache_size(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_MAX_ENTRIES > _SPARK_DEFAULT_ENTRIES


def test_repeated_batch_pass_compiles_nothing(spark):
    """A second pass of perfbench's 11 batch ops reuses every class the first
    pass compiled; at Spark's default cache size it recompiled ~180."""
    names = batch_ops()
    assert len(names) == 11
    queries = all_queries()
    load_tables(spark, SF_DIR)
    _clear_codegen_cache(spark)

    c0, _ = codegen_totals(spark)
    run_pass(spark, SF_DIR, names, queries)
    c1, _ = codegen_totals(spark)
    run_pass(spark, SF_DIR, names, queries)
    c2, _ = codegen_totals(spark)

    assert c1 - c0 > _SPARK_DEFAULT_ENTRIES, f"first pass compiled only {c1 - c0} classes"
    assert c2 - c1 == 0, f"second pass recompiled {c2 - c1} of {c1 - c0} classes"
