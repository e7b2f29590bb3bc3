"""Plan-quality regression tests — the 100 TB guardrails.

Correctness tests prove the operators right at small SF; these prove the
*physical plans* stay scale-appropriate: filters reach the parquet scan,
projections prune the read schema, small dimensions broadcast instead of
shuffling, and aggregates keep their partial (map-side) phase. A change
that silently flips tpch_q5 to a sort-merge join of nation×region would
still pass correctness — this file is what catches it.
"""

from __future__ import annotations

import re

import pytest

from flink_1_20_spark.plan_allowlist import bnlj_allowed, is_tpc
from flink_1_20_spark.registry import get_queries


def _final_plan(df) -> str:
    # run the query first so AQE settles on its final physical plan
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return get_queries()


def test_q6_filter_pushdown_and_column_pruning(spark, sf_dir, queries):
    plan = _final_plan(queries["tpch_q6_forecast_revenue"](spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(l_shipda" in m.group(1), plan
    s = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in s.group(1).split(",")}
    # 4 of lineitem's 16 columns — projection reached the scan
    assert read_cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q5_broadcasts_all_dimensions(spark, sf_dir, queries):
    plan = _final_plan(queries["tpch_q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # at sf0.001 every join side under the threshold broadcasts: a
    # sort-merge join here would shuffle the fact table 5x at scale
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q1_keeps_partial_aggregation(spark, sf_dir, queries):
    plan = _final_plan(queries["tpch_q1_pricing_summary"](spark, sf_dir))
    # partial (map-side) + final HashAggregate pairs; losing the partial
    # phase means shuffling raw lineitem rows instead of one row per
    # (returnflag, linestatus) per partition
    assert plan.count("HashAggregate") >= 2


def test_dedup_exact_single_shuffle(spark, sf_dir, queries):
    # window-based annotate-duplicates: exactly ONE exchange (hash on
    # fingerprint) in the final plan — a second shuffle would double the
    # network cost of the 100 TB dedup pass
    plan = _final_plan(queries["dedup_exact"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final


def test_lookup_join_no_shuffle_of_fact(spark, sf_dir, queries):
    plan = _final_plan(queries["lookup_join_dims"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioning_family_exchanges(spark):
    """Each keyBy-family helper must produce exactly the Exchange it
    documents (DataStream.java:321-512 mapping)."""
    from flink_1_20_spark.operators.partitioning import (
        global_single,
        key_by,
        partition_custom,
        rebalance,
        rescale,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("k", F.col("id") % 7)

    plan = key_by(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan

    plan = rebalance(df, 8)._jdf.queryExecution().executedPlan().toString()
    assert "roundrobinpartitioning(8" in plan.lower() or "RoundRobinPartitioning(8" in plan

    # rescale/global: coalesce — a narrow dependency, NO Exchange
    plan = rescale(df, 2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    plan = global_single(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    plan = (
        partition_custom(df, F.pmod(F.hash("k"), F.lit(16)), 16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(__pc" in plan


def test_asof_join_single_shuffle(spark, sf_dir, queries):
    # the as-of join's core claim: union + window = ONE keyed exchange,
    # not the sort-merge-join + re-sort a naive formulation costs
    plan = _final_plan(queries["asof_join_backward"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final


def test_embedding_dedup_no_driver_collect(spark, sf_dir, queries):
    """The registered embedding-dedup query must be lazily plannable: no
    .collect()/.first() of the corpus on the driver at build time (the
    round-1 scale-killer). Building the DataFrame with collect patched to
    raise proves the plan is fully distributed; the result must equal the
    broadcast fast path's pair set."""
    from unittest import mock

    from pyspark.sql import DataFrame

    with mock.patch.object(
        DataFrame, "collect", side_effect=AssertionError("driver collect in plan build")
    ), mock.patch.object(
        DataFrame, "first", side_effect=AssertionError("driver first in plan build")
    ):
        df = queries["dedup_embedding_cosine"](spark, sf_dir)

    got = {(r.id_a, r.id_b, r.cos) for r in df.collect()}

    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators.simsearch import cosine_pairs_blocked

    e = read_table(spark, sf_dir, "embeddings")
    want = {
        (r.id_a, r.id_b, r.cos)
        for r in cosine_pairs_blocked(e, "vec_id", "embedding", threshold=0.35).collect()
    }
    assert got == want and len(got) > 0


def test_tpcds_correlated_subqueries_decorrelate(spark, sf_dir, queries):
    """The TPC-DS-shape correlated scalar subqueries (q1/q32/q23) must
    decorrelate into aggregate + join — NO per-row subquery execution,
    no cartesian/nested-loop joins. At 100 TB a surviving correlated
    subquery re-scans the inner table per outer row."""
    for name in (
        "tpcds_q1_returns_above_avg",
        "tpcds_q32_excess_revenue",
        "tpcds_q23_frequent_keys",
    ):
        plan = _final_plan(queries[name](spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name
        assert "BroadcastNestedLoopJoin" not in final, name
        assert "SortMergeJoin" not in final, name  # dims/aggs broadcast


def test_approx_count_distinct_no_expand(spark, sf_dir):
    """An approx-only distinct count must plan as a plain two-phase
    aggregate: NO Expand (the exact-distinct rewrite that doubles the
    shuffled rows) and a partial phase before the exchange — HLL's whole
    point at 100 TB is one pass with per-group sketch state."""
    from pyspark.sql import functions as F

    from flink_1_20_spark.catalog import read_table

    l = read_table(spark, sf_dir, "lineitem")
    df = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("nd")
    )
    plan = _final_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "Expand" not in final, final
    # partial + final aggregate pair (ObjectHashAggregate carries HLL)
    assert len(re.findall(r"(?:ObjectHash|Hash|Sort)Aggregate", final)) >= 2, final


def test_pipeline_corpus_curation_scale_plan(spark, sf_dir, queries):
    """The end-to-end curation funnel must stay join-shaped everywhere:
    no cartesian/nested-loop in the staged joins, and the MinHash pair
    generation it embeds is an equi-join on the banded key."""
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators.textdedup import minhash_lsh_pairs

    pairs_plan = (
        minhash_lsh_pairs(
            read_table(spark, sf_dir, "documents"), "doc_id", "text",
            jaccard_threshold=0.5,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in pairs_plan
    assert "BroadcastNestedLoopJoin" not in pairs_plan

    plan = _final_plan(queries["pipeline_corpus_curation"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final


def test_tpc_suite_no_accidental_nested_loops(spark, sf_dir, queries):
    """Sweep EVERY TPC-H and TPC-DS-shape query: no CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only where it joins single-row
    scalar-aggregate sides (q88/q90's 1×1 grid assembly — the right
    plan; `plan_allowlist.SINGLE_ROW_BNLJ_OK`). A new shape that accidentally loses its equi key gets caught
    here before it ships."""
    for name, fn in sorted(queries.items()):
        if not is_tpc(name):
            continue
        plan = _final_plan(fn(spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name
        if not bnlj_allowed(name):
            assert "BroadcastNestedLoopJoin" not in final, name


def test_full_registry_no_accidental_nested_loops(spark, queries):
    """r9: extend the no-NLJ net from the TPC suite to EVERY registered
    query (at sf0.001 — this is a plan audit, not a perf run): no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin only in the
    audited allowlist (`plan_allowlist.BNLJ_OK`). A new operator that accidentally loses its
    equi key — the classic 100 TB cliff — gets caught here even if its
    tiny-SF correctness stays green."""
    for name, fn in sorted(queries.items()):
        if is_tpc(name):
            continue  # covered (with its own allowlist) by the TPC sweep
        plan = _final_plan(fn(spark, "/root/testdata/sf0.001"))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name
        if not bnlj_allowed(name):
            assert "BroadcastNestedLoopJoin" not in final, name


def test_banded_range_join_no_nested_loop(spark, sf_dir, queries):
    """The keyless range join must plan as a hash/broadcast EQUI join on
    the band index — never BroadcastNestedLoopJoin/CartesianProduct
    (O(n·m) compare at 100 TB)."""
    for name in ("join_range_banded", "join_interval_overlap"):
        plan = _final_plan(queries[name](spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "BroadcastNestedLoopJoin" not in final, (name, final)
        assert "CartesianProduct" not in final, (name, final)
        assert "Join" in final  # it IS still a join, on the band key


def test_embedding_block_join_single_shuffle(spark, sf_dir, queries):
    """The block-pair GEMM join's distributed claim: exactly ONE hash
    exchange (on the block-pair key) — the replicate-explode is narrow,
    and no second shuffle or broadcast of the corpus exists."""
    plan = _final_plan(queries["dedup_embedding_cosine"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "BroadcastExchange" not in final, final


def test_contamination_probe_broadcasts_benchmark(spark, sf_dir, queries):
    """The benchmark gram set must BROADCAST; the corpus side must not
    shuffle its exploded grams for the join (a 100 TB corpus cannot
    afford a gram-shuffle — the probe is map-side)."""
    plan = _final_plan(queries["text_contamination_ngram"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final


def test_q30_q81_single_fact_scan(spark, sf_dir, queries):
    """The reused-CTE correlated-average gates must scan the fact table
    ONCE (window-over-aggregate formulation) — the SQL CTE inlining that
    doubled the lineitem scan stays dead."""
    for name in (
        "tpcds_q30_returns_above_nation_avg",
        "tpcds_q81_returns_incl_tax_above_avg",
    ):
        plan = _final_plan(queries[name](spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        scans = [
            l for l in final.splitlines()
            if "Scan parquet" in l and "lineitem" in l
        ]
        assert len(scans) == 1, (name, len(scans))


def test_r6_training_ops_plans(spark, sf_dir, queries):
    """The r6 training-prep additions must keep the family's plan
    contract: no cartesian/nested-loop join anywhere (the cross-corpus
    contamination check joins ONLY through the shingle inverted index),
    and the deterministic split is a pure map — no per-document
    Exchange before its report aggregation."""
    for name in (
        "dedup_cross_corpus",
        "pipeline_train_val_test_split",
        "text_domain_mix_report",
    ):
        plan = _final_plan(queries[name](spark, sf_dir))
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name
        assert "BroadcastNestedLoopJoin" not in final, name


def test_r7_ops_plans(spark, sf_dir, queries):
    """r7 additions: the decontamination REMOVAL keeps the benchmark
    side broadcast (map-side probe, no shuffle of raw text), and the
    IVFADC composition's only nested-loop joins are the broadcast
    centroid crossings (16-row side, by contract) — candidates reach
    the ADC scoring through equi joins on cell/(query, m, code)."""
    plan = _final_plan(queries["pipeline_decontaminated_corpus"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final  # the gram probe broadcasts

    plan = _final_plan(queries["simsearch_ivfpq_adc_topk"](spark, sf_dir))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    # two broadcast centroid crossings (corpus assignment + query probes)
    assert final.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in final  # LUT / cell equi joins


def test_dsir_broadcasts_bucket_model(spark, sf_dir, queries):
    """DSIR (r8): the 64-row bucket model must BROADCAST into the
    occurrence-level n-gram stream (a shuffle of the corpus onto 64
    bucket keys would be the 100 TB bottleneck), and the only cartesian
    is the 64x1 totals attach."""
    df = queries["pipeline_dsir_select"](spark, sf_dir)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the 64x1 totals crossJoin is a broadcast nested loop over one row;
    # a CartesianProduct would mean the corpus side got in there
    assert "CartesianProduct" not in plan
    # r9 (VERDICT r8 "What's wrong" #1): the top-50 must be a
    # TakeOrderedAndProject (per-partition heaps), and any Window node
    # may only run ABOVE the limit — i.e. over the 50 survivors, never
    # over the full per-doc weight table. In the optimized logical plan
    # (root printed first) every Window line must precede the
    # GlobalLimit line.
    assert "TakeOrderedAndProject" in plan, plan
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    lines = logical.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window [" in ln]
    lim_idx = [i for i, ln in enumerate(lines) if "GlobalLimit" in ln]
    # BOTH nodes must be present: the rnk column IS a row_number window
    # (over the 50 survivors) and the top-K IS a limit — an empty match
    # would mean the plan rendering changed and this guard went blind,
    # not that the hazard disappeared
    assert win_idx and lim_idx, logical
    assert all(w < min(lim_idx) for w in win_idx), logical


def test_exact_substring_dedup_no_nlj_and_partitioned_windows(spark, sf_dir, queries):
    """r9: the exact-substring dedup must stay equi-join-only (the dup
    marking is a hash join on the chunk md5, never a nested loop) and
    every window must carry a partition spec (the run windows key on
    the document — an unpartitioned window would be the 100 TB killer
    the DSIR fix just removed)."""
    df = queries["dedup_exact_substring"](spark, sf_dir)
    plan = _final_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    specs = [
        ln for ln in logical.splitlines() if "windowspecdefinition(" in ln
    ]
    assert specs, logical  # the run rule IS window-based
    for ln in specs:
        # both run windows must partition by the document id: a spec
        # whose partition list lost `doc` would sort corpus-wide
        assert "doc#" in ln.split("windowspecdefinition(", 1)[1], ln


@pytest.mark.parametrize(
    "pair_fn, n_stored",
    [("minhash_lsh_pairs", 2), ("ngram_jaccard_pairs", 1)],
    ids=["minhash_lsh_pairs", "ngram_jaccard_pairs"],
)
def test_minhash_shingles_once(spark, sf_dir, pair_fn, n_stored):
    """The pair operators tokenize and shingle the corpus ONCE: `base`
    is checkpointed before anything derives from it, so of all the
    plans that execute (each checkpointed subtree plus the final join)
    exactly one computes the shingle arrays, once; the others read
    stored blocks.  MinHash deriving its signatures from the
    un-checkpointed `base` put a second shingle pass into `long`'s
    plan, and a `size(shingles) > 0` filter, which Catalyst pushes
    below the projection, a third (ngram: a second)."""
    from unittest import mock

    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators import textdedup

    docs = read_table(spark, sf_dir, "documents")
    stored = []
    checkpoint = type(docs).localCheckpoint

    def spy(self, *args, **kwargs):
        stored.append(self)
        return checkpoint(self, *args, **kwargs)

    with mock.patch.object(type(docs), "localCheckpoint", spy):
        pairs = getattr(textdedup, pair_fn)(docs, "doc_id", "text")
    pairs.collect()
    # word_shingles' array_distinct(transform(...)) is the derivation;
    # FileScan's DataFilters would repeat a pushed-down shingle filter
    derivations = [
        d._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0].count("array_distinct(transform(")
        for d in stored + [pairs]
    ]
    assert len(stored) == n_stored and sum(derivations) == 1, derivations
