"""Session-factory contract: SPARK_DRIVER_MEM must survive a wrapper that
pre-sets PYSPARK_SUBMIT_ARGS (r2's setdefault silently dropped it), and
the session's generated-code cache must hold more than Spark's default
100 classes, so a warm pass recompiles nothing."""

from __future__ import annotations

from openmrs_patient_migration_script_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compilations,
    merged_submit_args,
)


def test_unset_env_gets_driver_memory():
    assert merged_submit_args("8g", None) == "--driver-memory 8g pyspark-shell"


def test_wrapper_args_without_memory_get_memory_prepended():
    out = merged_submit_args("12g", "--conf spark.foo=1 pyspark-shell")
    assert out == "--driver-memory 12g --conf spark.foo=1 pyspark-shell"


def test_wrapper_pinned_memory_wins():
    pre = "--driver-memory 4g pyspark-shell"
    assert merged_submit_args("8g", pre) == pre


def test_codegen_cache_keeps_more_than_default_working_set(spark):
    """150 distinct shapes, run twice: primitive literals are inlined into
    the generated code, so every shape is its own class. With Spark's
    default 100-entry cache the second sweep recompiles them all; with
    the builder's cache it compiles none."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def sweep() -> int:
        before = codegen_compilations(spark)
        for i in range(150):
            spark.range(4).selectExpr(f"id * {7919 + i} + {i} AS x").collect()
        return codegen_compilations(spark) - before

    assert sweep() >= 150
    assert sweep() == 0
