"""Generated-code cache sizing (`spark.sql.codegen.cache.maxEntries` in
session.get_spark).

With Spark's default of 100 entries, a workload whose pass compiles
more than 100 distinct classes evicts and recompiles them on every
pass (Janino, then HotSpot JIT again): CPU spent on fixed cost, not on
data.  The set below compiles ~140 distinct classes on a fresh JVM at
sf0.001, so a second pass compiles nothing only when the cache holds
more than that.  Left out: queries whose generated code is not the
same from pass to pass (dedup_connected_clusters' per-round plans;
text_lm_score, whose codegen stage ids, part of the class name, follow
AQE's stage completion order), so they may compile on any pass.
"""

from __future__ import annotations

from flink_1_20_spark.registry import get_queries

CACHE_SET = (
    "udx_pandas_scalar",
    "dedup_minhash_lsh",
    "dedup_semantic_cells",
    "cep_funnel_strict",
    "cogroup_custkey",
    "tpch_q2_min_cost_supplier",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q20_part_promotion",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pass_compiles_no_class(spark, sf_dir):
    queries = get_queries()

    def one_pass() -> int:
        before = _compiles(spark)
        for name in CACHE_SET:
            queries[name](spark, sf_dir).collect()
        return _compiles(spark) - before

    one_pass()
    assert one_pass() == 0
