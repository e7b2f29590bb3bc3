"""Query registry: the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers here as a named
query (a callable ``(spark, sf_dir) -> DataFrame``) plus — whenever the
semantics are ANSI-SQL-expressible — a DuckDB oracle SQL string. The
driver (and ``scripts/verify_local.py``) run both sides and hash-compare.

Column-name discipline: every computed column is aliased identically in
the Spark query and the oracle SQL (the driver sorts columns by name
before hashing). Floating-point aggregates are rounded identically on
both sides so cross-engine summation-order differences don't flip the
hash (mirrors the reference's tolerant numeric diff,
flink-end-to-end-tests/.../TpcdsResultComparator.java:35).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query (and optional DuckDB oracle) by name."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 registered queries,
# so iteration order is coverage policy: this curated prefix is a
# representative cross-section — the 5 bench headliners plus at least one
# oracle-backed query per operator family (joins incl. asof/lookup/banded
# range, set ops, aggs incl. approx, over/rank/dedup/sessionization,
# correlate/subquery, scalar fns, window TVFs, CEP, changelog/CDC,
# text+embedding dedup, similarity search, curation pipeline, UDx,
# TPC-DS shapes). Remaining queries follow in registration order and
# keep full local-oracle coverage via scripts/verify_local.py.
DRIVER_PRIORITY: tuple[str, ...] = (
    # ---- held back every round (8) ----
    # 5 bench headliners
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    # dtype-cast regression sentinel (red r6, green r7)
    "fn_math_basic",
    # the r7 hash-red, fixed in r8 (integer-units sum at the CTE sum
    # site — the lineage-resolved ROUND(SUM(double)) class): kept in
    # window to prove the fix
    "tpcds_q1_returns_above_avg",
    # decimal-output-ban regression sentinel (red r4-r5, green r6)
    "join_range_banded",
    # ---- r13 rotation (VERDICT r12 task 7): 3 slots go to this
    # round's new or changed-form queries — a first-time/changed-form
    # driver confirmation outranks a re-proof (r12 precedent):
    #   dedup_minhash_lsh_capped — NEW bucket-population cap (task 4)
    #   tpch_q21_waiting_suppliers — NEW shipped pre-agg form (task 2,
    #     accepted on the 100x A/B: identical rows, 28.6 -> 4.3 s)
    #   dedup_cluster_best_representative_collapsed — changed form
    #     (r12 ADVICE high: zero-shingle dups stay singletons)
    "dedup_minhash_lsh_capped",
    "tpch_q21_waiting_suppliers",
    "dedup_cluster_best_representative_collapsed",
    # ---- rewritten queries enter the window in the round they change
    # (10): the q16 EXISTS shape, q24b's scalar-subquery HAVING gate,
    # the Arrow cogroup, q44's floor form, the three CEP queries
    # whose matcher became the one branch enumerator (followedBy binds
    # the first matching row under every skip strategy), and the three
    # scalar batteries whose Flink built-ins now come from the SQL
    # rewrite table through compat.call_sql
    "tpcds_q16_exists_shape",
    "tpcds_q24b_netpaid_above_cte_avg",
    "cogroup_custkey",
    "tpcds_q44_best_worst",
    "cep_funnel_strict",
    "cep_followed_by_any",
    "cep_vshape_iterative",
    "fn_string_regex",
    "fn_math_misc",
    "fn_json_path",
    # ---- the remaining 29 re-proof slots take the next-oldest driver
    # confirmations (computed from CORRECTNESS_r01..r12: the r6 era —
    # the wtvf_*/setop_*/fn_* band the r12 verdict names; the five
    # r5-era rows, the two oldest r6 rows, and fn_map, subquery_in and
    # simsearch_lsh_buckets (3 confirmations each, r06/r13/r14; their
    # families keep fn_json, subquery_scalar and simsearch_hard_negatives
    # here) rotated out to make room for the block above).  Rotated-out
    # rows keep their local-oracle coverage in every verify_local sweep.
    "cep_error_burst",
    "changelog_normalize",
    "correlate_posexplode",
    "correlate_unnest_words",
    "count_window_slide",
    "dedup_simhash_collapsed",
    "fn_json",
    "fn_temporal_extract",
    "pipeline_temperature_mix",
    "simsearch_hard_negatives",
    "simsearch_recall_ivf",
    "subquery_correlated_agg",
    "subquery_scalar",
    "text_fingerprint",
    "text_repetition",
    "tpcds_q12_revenue_share_by_class",
    "tpcds_q20_discounted_share_by_type",
    "tpcds_q23b_best_customer_frequent_items",
    "tpcds_q29_sale_return_repurchase",
    "tpcds_q39b_cov_pair_gated",
    "tpcds_q62_latency_grid_three_dims",
    "tpcds_q6_state_over_avg_price",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "udx_pandas_scalar",
    "values_inline",
)


def _ordered(mapping: dict[str, Any]) -> dict[str, Any]:
    """Curated prefix first, then the rest in registration order."""
    head = {n: mapping[n] for n in DRIVER_PRIORITY if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def load_all() -> None:
    """Import every query module so registration side effects run."""
    import flink_1_20_spark.queries  # noqa: F401

    flink_1_20_spark.queries.load()


def get_queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def get_oracles() -> dict[str, str]:
    load_all()
    return _ordered(ORACLES)


def describe() -> dict[str, Any]:
    load_all()
    return {
        "n_queries": len(QUERIES),
        "n_oracles": len(ORACLES),
        "rows_only": sorted(set(QUERIES) - set(ORACLES)),
    }
