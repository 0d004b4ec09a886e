"""Spark's generated-class cache holds a re-run's working set.

The package re-runs the same plans (crawl, resume and append each round,
streaming rows re-plan every trigger). At Spark's default of 100 cached
classes per JVM, one pass over a few registry rows already overflows the
cache, so every re-run recompiles its classes with Janino. ``get_spark``
sizes the cache to the registry's working set; these rows' second pass
must then compile nothing.
"""

from __future__ import annotations

from collect_mobile_devices_datalake_spark.registry import all_queries
from collect_mobile_devices_datalake_spark.session import CODEGEN_CACHE_ENTRIES

from .conftest import SF_SMOKE, compilations

# Rows whose plans are the same on every run. curated_mix_manifest is
# left out: its whole-stage ids follow the order in which AQE finishes
# its shuffle stages, so a re-run can compile a class that differs only
# in that id.
ROWS = ("kcenter_coreset", "knn_lsh_probe", "decontam_bloom_report", "bpe_corpus_encoding")


def _run_rows(spark):
    queries = all_queries()
    for row in ROWS:
        queries[row](spark, SF_SMOKE).count()


def test_rerun_of_registry_rows_compiles_no_class(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    first = compilations(spark, lambda: _run_rows(spark))
    # more classes than Spark's default cache holds, so a default-sized
    # cache would evict them before the re-run; this bound needs these
    # rows not to have run earlier in the process (the suite's
    # registry-wide tests sort after this file)
    assert first > 100
    assert compilations(spark, lambda: _run_rows(spark)) == 0
