"""Audited BroadcastNestedLoopJoin users — the one allowlist that the
plan regression tests (`tests/test_plans.py`) and the plan audit
(`scripts/plan_audit.py`) both read, so the two cannot drift.

A query not named here must plan without BroadcastNestedLoopJoin: a new
shape that accidentally loses its equi key (the classic 100 TB cliff)
is caught even while its tiny-SF correctness stays green.
"""

from __future__ import annotations

# TPC-H / TPC-DS shapes: BNLJ of single-row scalar-aggregate sides is
# O(1) work — structurally fine.
SINGLE_ROW_BNLJ_OK = frozenset(
    {
        "tpcds_q88_count_grid",
        "tpcds_q90_am_pm_ratio",
        "tpcds_q61_promo_share_ratio",  # 1x1 scalar-aggregate ratio
    }
)

# Every other registered query: each one joins a BROADCAST side that is
# O(1) rows or a deliberately-small query/model set.
BNLJ_OK = frozenset(
    {
        "join_cross",  # the CROSS JOIN operator itself
        "join_nonequi_range",  # non-equi SQL form; banded variant is the scale path
        "pipeline_dsir_select",  # 64x1 totals attach
        "pipeline_temperature_mix",  # 1-row totals broadcast
        "simsearch_topk_bruteforce",  # documented all-pairs baseline, small query set
        "simsearch_hard_negatives",  # same candidate plan as brute-force top-k
        "simsearch_ivf_topk",  # centroid-distance attach (tiny broadcast)
        "simsearch_ivfpq_adc_topk",
        "simsearch_recall_lsh",  # recall gates join vs the brute-force baseline
        "simsearch_recall_ivf",
        "simsearch_recall_pq",
        "simsearch_recall_ivfpq",
        "text_lm_score",  # corpus-level stats broadcast attach
    }
)


def is_tpc(name: str) -> bool:
    """TPC-H / TPC-DS shapes, swept against SINGLE_ROW_BNLJ_OK."""
    return name.startswith(("tpch_", "tpcds_"))


def bnlj_allowed(name: str) -> bool:
    """True iff the query may plan a BroadcastNestedLoopJoin."""
    return name in (SINGLE_ROW_BNLJ_OK if is_tpc(name) else BNLJ_OK)
