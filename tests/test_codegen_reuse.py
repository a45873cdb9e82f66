"""Generated code is compiled once per session.

The engine serves recurring passes from one long-lived session, so a
pass after the first must find every generated class in Spark's codegen
cache: no Janino compile on the driver, no cold (not yet JIT-ed) class
in the executors. That needs a cache larger than one pass's classes
(``engine/session.get_spark``) and operators whose generated code does
not embed process-global ids (the convergence probe in
``operators/dedup.neardup_clusters``).
"""

from __future__ import annotations

import os

from conftest import SF_SMOKE

WARM_KEYS = ("graph_components", "vec_ivf_index_refresh", "text_exact_dedup")


def _compile_count(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_codegen_cache_size(spark):
    from lakehouse_automation_spark.engine.session import CODEGEN_CACHE_ENTRIES

    got = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert got == str(CODEGEN_CACHE_ENTRIES)


def test_warm_run_compiles_nothing(spark):
    import __spark_entry__ as e
    from lakehouse_automation_spark.operators.cache import release_persisted

    qs = e.queries()
    # cold: every key's classes enter the cache together
    for key in WARM_KEYS:
        qs[key](spark, SF_SMOKE).count()
        release_persisted()
    compiled = {}
    for key in WARM_KEYS:
        before = _compile_count(spark)
        qs[key](spark, SF_SMOKE).count()
        release_persisted()
        compiled[key] = _compile_count(spark) - before
    offenders = {k: n for k, n in compiled.items() if n}
    assert not offenders, f"warm runs compiled new classes: {offenders}"


def test_runtime_confs_are_session_settable(spark):
    """tune_session swallows a failed set, so a static conf placed in
    RUNTIME_CONFS would be dropped without a word; static confs belong
    in get_spark's builder."""
    from lakehouse_automation_spark.engine.session import RUNTIME_CONFS

    static = [k for k in RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert not static, f"static confs in RUNTIME_CONFS: {static}"


def test_default_driver_mem_fits_host():
    from lakehouse_automation_spark.engine.session import (
        DRIVER_MEM_CAP_MB, default_driver_mem)

    mem = default_driver_mem()
    assert mem.endswith("m")
    ram_mb = (os.sysconf("SC_PAGE_SIZE")
              * os.sysconf("SC_PHYS_PAGES")) // (1024 * 1024)
    assert 0 < int(mem[:-1]) <= min(DRIVER_MEM_CAP_MB, ram_mb // 2)
