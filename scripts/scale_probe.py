"""Scale probe: replicate the sf0.1 fixtures K× with key-shifted ids
(cardinalities scale with the data, not just row duplication), then
time the headline queries and the heavy beyond-reference operators on
the result — the local evidence that plans scale sublinearly in wall
clock rather than degrading super-linearly.

Usage:
    python scripts/scale_probe.py [--rep 10] [--dst /tmp/sfX1] [--gen]
    python scripts/scale_probe.py --run     # time the operator battery

Each mode flag (--hundred, --tpch-full, ...) picks a fixture and a
battery; --gen / --run do only one half, neither does both.  Timed
lines read `fastest (cold first-run) rows label`; lines of the A/B
modes, which wait for a quiet host first, add the steal share over the
runs and the pre-wait sample (scripts/measure.py).

Writes only under --dst (default /tmp/sfX1); never touches
/root/testdata.
"""

from __future__ import annotations

import argparse
import os
import sys
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_1_20_spark import get_spark
from flink_1_20_spark.operators.util import ensure_scan_parallelism
from scripts.measure import timed, wait_quiet

SRC = "/root/testdata/sf0.1"
OFF = 10_000_000  # per-replica key offset — far above any fixture key

# key columns shifted per replica so joins stay consistent WITHIN a
# replica and cardinality grows ACROSS replicas
SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation", "supplier", "part"]  # dims stay as-is

HEAVY = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_boilerplate_chunks",
    "text_contamination_ngram",
    "text_pii_scrub",
    "sample_stratified_exact",
    "sessionization_gap",
    "dedup_embedding_cosine",
    "simsearch_lsh_topk",
    "pipeline_corpus_curation",
    "cep_funnel_strict",
    # training-prep family (r5)
    "pipeline_sequence_pack",
    "text_chunk_sliding",
    "dedup_semantic_cells",
    "simsearch_recall_lsh",
    "multimodal_resize_nearest",
    "text_lm_score",
    # r6 additions
    "dedup_cross_corpus",
    "pipeline_train_val_test_split",
    "text_domain_mix_report",
    "embed_pq_encode",
    "simsearch_pq_adc_topk",
    "simsearch_recall_pq",
    # r7 additions
    "simsearch_ivfpq_adc_topk",
    "simsearch_recall_ivfpq",
    "dedup_cluster_best_representative",
    "dedup_cluster_best_representative_collapsed",  # r12 second half
    "pipeline_decontaminated_corpus",
    # r8 addition
    "pipeline_dsir_select",
    # r9 additions
    "dedup_exact_substring",
    "dedup_exact_substring_keep_first",
    "decontaminate_exact_substring",
    # r10 addition
    "dedup_exact_substring_tokens",
]


def replicate(spark, dst, tables, rep, copy=(), derive=None,
              fmt="generated {t} x{rep}: {n} rows") -> None:
    """Copy the `copy` tables as-is, then write each of `tables` (name
    -> key columns) `rep` times with its keys shifted by OFF per
    replica; `derive(name, df)` rewrites columns after the shift.  Each
    table is counted back and reported with `fmt` (None: not at all)."""
    for t in copy:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    for t, keys in tables.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        r = df.crossJoin(spark.range(rep).withColumnRenamed("id", "__rep"))
        for k in keys:
            r = r.withColumn(k, F.col(k) + F.col("__rep") * OFF)
        if derive is not None:
            r = derive(t, r)
        # realistic multi-file layout (r11): the crossJoin inherits the
        # compact source's 1-2 partitions, so an un-repartitioned write
        # produced 1-2 giant files whose few splits serialized every
        # scan (the same compact-input hazard the r9/r10 text-op guard
        # fixed, here throttling the join headliners) — a real corpus
        # at this scale is thousands of files
        r.drop("__rep").repartition(64).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
        if fmt:
            n = spark.read.parquet(f"{dst}/{t}.parquet").count()
            print(fmt.format(t=t, rep=rep, n=n))


def line(best: float, cold: float, rows: int, label: str, runs: int = 2) -> str:
    cold_part = f" (cold {cold:7.2f}s)" if runs > 1 else ""
    return f"{best:7.2f}s{cold_part} {rows:9d} rows  {label}"


def probe(label: str, count, runs: int = 2, quiet: bool = False) -> None:
    """Time `count()` (a thunk returning a row count) min-of-`runs`
    in-session — the JIT-retime discipline that adjudicated the r8
    watch item: the first run pays per-query JIT, the minimum reports
    steady state; both are printed.  quiet=True first waits (up to
    10 min) for a 5 s sample with steal under 20%: this host shows
    steal GUSTS exceeding user time, and timings taken inside one are
    meaningless, so the A/B probes gate on a quiet window and annotate
    the share they ran under."""
    pre = wait_quiet(0.20, 600.0, 5.0) if quiet else 0.0
    best, cold, steal, rows = timed(count, runs)
    tail = f"  steal={100 * steal:.0f}% prewait={pre:.2f}" if quiet else ""
    print(line(best, cold, rows, label, runs) + tail, flush=True)


def _uniq_text():
    """40 md5 words per doc: no 3-shingle in common with any other doc."""
    return F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda i: F.md5(
                F.concat_ws("-", F.col("doc_id").cast("string"), i.cast("string"))
            ),
        ),
    )


# ---- 100x subset (r10): one decade more evidence for the 100 TB
# design claims. Only the tables the subset battery reads are
# replicated (lineitem 60M rows, documents 500k docs; r11 adds orders
# 15M + customer 1.5M so the JOIN headliners get a second decade —
# q10's 2.6x/decade customer-side shuffle had no 100x data point); ops
# chosen per VERDICT r9 task 4 — the headliners q1/q6 plus the heaviest
# LLM ops that are not output-bound by contract (+ the r10 token-space
# form), r11 adding q3/q5/q10 per VERDICT r10 task 2.
HUNDRED_TABLES = {
    "lineitem": ["l_orderkey"],
    "documents": ["doc_id"],
    # r11: the join headliners' shuffle sides
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
}
HUNDRED_OPS = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "text_contamination_ngram",
    "pipeline_dsir_select",
    "dedup_exact_substring",
    "dedup_exact_substring_tokens",
]


def generate_hundred(spark, dst: str, rep: int) -> None:
    # dims copy as-is (q3/q5/q10 read nation/region/supplier from dst)
    replicate(spark, dst, HUNDRED_TABLES, rep, COPY)


def run_hundred(spark, dst: str) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in HUNDRED_OPS:
        probe(name, lambda: qs[name](spark, dst).count())


# ---- full-TPC-H 100x battery (r12 second half): the 100x subset
# covered 5 of 22 TPC-H queries; this mode runs ALL 22 at 100x on a
# fixture where EVERY join partner scales with the fact table — part
# is shifted to 2M rows (the real TPC-H sf10 part cardinality) and
# supplier to 100k, with lineitem's l_partkey/l_suppkey shifted per
# replica so within-replica join integrity holds (the same key-shift
# discipline as the subset fixture).  This is the evidence class the
# r11 verdict called out: "the 100x subset still covers only 9
# queries".  Nation/region stay true fixed dims (25/5 rows at every
# TPC-H scale factor).
TPCH_FULL_TABLES = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
}
TPCH_FULL_COPY = ["region", "nation"]


def generate_tpch_full(spark, dst: str, rep: int) -> None:
    replicate(spark, dst, TPCH_FULL_TABLES, rep, TPCH_FULL_COPY)


def run_q21_ab(spark, dst: str) -> None:
    """q21 A/B at the 100x battery fixture (r12 verdict task 2): the
    spec form (two 60M-row self semi/anti joins, tpch_full._Q21_SPEC)
    vs the shipped Expand-free collapse-first pre-agg (accepted r13:
    identical results, 28.6 -> 4.3 s warm / 83.6 -> 7.1 s cold).
    Results are compared row-for-row before timing is trusted; each
    side is timed min-of-3 warm behind wait_quiet with the steal
    bracket printed."""
    from flink_1_20_spark.queries._util import V
    from flink_1_20_spark.queries.tpch_full import _Q21_SPEC, _QUERIES

    V(spark, dst, "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem")
    spec_sql = _Q21_SPEC
    preagg_sql = _QUERIES["tpch_q21_waiting_suppliers"]

    spec_rows = sorted(map(tuple, spark.sql(spec_sql).collect()))
    cand_rows = sorted(map(tuple, spark.sql(preagg_sql).collect()))
    assert spec_rows == cand_rows, (
        f"q21 pre-agg DIVERGES at 100x: spec {len(spec_rows)} rows, "
        f"candidate {len(cand_rows)} rows"
    )
    print(f"q21 A/B: results identical ({len(spec_rows)} rows)", flush=True)

    for name, sql in (("spec", spec_sql), ("preagg", preagg_sql)):
        probe(f"q21_{name}", lambda: spark.sql(sql).count(), runs=3, quiet=True)


def run_tpch_full(spark, dst: str) -> None:
    """All 22 TPC-H queries at 100x, warm min-of-2 (the JIT-retime
    discipline from the subset battery)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    names = sorted(
        (n for n in qs if n.startswith("tpch_q")),
        key=lambda n: int(n.split("_")[1][1:]),
    )
    for name in names:
        probe(name, lambda: qs[name](spark, dst).count())


# ---- flagship decade (r12, VERDICT r11 task 1): second-decade (100x
# more than the 10x battery) evidence for the dedup/similarity
# flagships whose 100 TB claims rested on 10x data + design reasoning.
# documents and embeddings are replicated 1000x (5k -> 5M docs, 2k ->
# 2M embeddings, 64-file layout) — the scale where the collapse-first
# and cell-restriction claims must actually carry the cost.  Text is
# byte-equal across replicas (the key-shift touches ids only), which is
# exactly the dup-heavy structure the collapse-first ops claim to eat:
# the linear scan + one collapse shuffle is the 1000x part, the
# quadratic core runs on distinct content.  The probe reports both the
# wall clock and that adjudication.
FLAGSHIP_TABLES = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FLAGSHIP_REP = 1000


def generate_flagship(spark, dst: str, rep: int) -> None:
    replicate(spark, dst, FLAGSHIP_TABLES, rep)


def run_flagship(spark, dst: str) -> None:
    """Warm min-of-2 over the four flagships (the JIT-retime discipline
    from the 100x subset).  dedup_semantic_cells is probed through
    semantic_dedup directly with n_centroids scaled to the corpus (its
    own docstring prescription — SemDeDup runs 10^4-10^5 cells at web
    scale; the registered 16-cell form is the sf0.01 oracle shape, and
    16 cells over 2M vectors would put ~125k rows in one cell's
    quadratic verdict).  minhash-LSH collapsed is probed through the
    operator (it has no registered query — the raw registered form is
    the oracle shape)."""
    import __spark_entry__ as entry

    from flink_1_20_spark.operators.simsearch import semantic_dedup
    from flink_1_20_spark.operators.textdedup import (
        minhash_lsh_pairs_collapsed,
    )

    qs = entry.queries()
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    emb = spark.read.parquet(f"{dst}/embeddings.parquet")
    probe(
        "minhash_lsh_pairs_collapsed",
        lambda: minhash_lsh_pairs_collapsed(docs, "doc_id", "text").count(),
    )
    probe(
        "dedup_semantic_cells(n_centroids=1024)",
        lambda: semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.35, n_centroids=1024
        ).count(),
    )
    for name in ("pipeline_corpus_curation", "dedup_cross_corpus"):
        probe(name, lambda: qs[name](spark, dst).count())


# ---- skew probe (r12, VERDICT r11 task 2): every scale replica to
# date is key-shifted UNIFORM; real 100 TB corpora are Zipfian.  One
# hot customer carries ~20% of ALL orders (o_orderkey % 5 == 0 after
# replication → the SAME hot key across replicas), at 100x so the hot
# side is big enough to cross AQE's skew thresholds (15M orders, 3M on
# the hot key; at 10x the hot partition is ~60MB and never crosses the
# 256MB skewedPartitionThresholdInBytes default).
SKEW_HOT_KEY = 1  # c_custkey 1 — exists at every sf


def generate_skew(spark, dst: str, rep: int) -> None:
    def hot_orders(t, r):
        if t != "orders":
            return r
        return r.withColumn(
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.lit(SKEW_HOT_KEY)
            ).otherwise(F.col("o_custkey")),
        )

    tables = {t: SHIFT[t] for t in ("lineitem", "orders", "customer")}
    replicate(spark, dst, tables, rep, COPY, derive=hot_orders)


def run_skew(spark, dst: str) -> None:
    """Three-way A/B on the hot-key shuffle join + the headline queries
    on the skewed fixture.

    The headline queries run at session defaults: customer is
    AQE-broadcast at this scale, so the hot key never meets a shuffle —
    record that plan fact.  The dedicated A/B then FORCES the shuffle
    (broadcast thresholds -1, simulating a dim too big to broadcast at
    1000 executors) and compares (a) AQE skew-split ON — the engine
    default, (b) skew-split OFF — the serialized-hot-task baseline,
    (c) operators/skew.py salted_skew_join — the explicit mitigation
    for engines/runs without AQE."""
    import __spark_entry__ as entry

    from flink_1_20_spark.operators.skew import salted_skew_join

    qs = entry.queries()
    for name in ("tpch_q3_shipping_priority", "tpch_q10_returned_items"):
        probe(f"{name} [session defaults]", lambda: qs[name](spark, dst).count())

    orders = spark.read.parquet(f"{dst}/orders.parquet")
    customer = spark.read.parquet(f"{dst}/customer.parquet")

    def hot_join():
        # carry PAYLOAD through the join: a bare count() lets Catalyst
        # prune both sides to the join keys, shrinking the hot shuffle
        # partition below the skew threshold — real queries carry
        # columns, so the probe must too
        j = orders.join(customer, orders.o_custkey == customer.c_custkey)
        return j.groupBy().agg(
            F.sum("o_totalprice").alias("sum_price"),
            F.sum(F.length("c_name")).alias("sum_name"),
        )

    def forced(label, build, grep_plan: str | None = None):
        def once():
            df = build()
            # collect() executes THIS DataFrame's plan — count() builds
            # a separate aggregation plan, leaving df's own
            # AdaptiveSparkPlan at isFinalPlan=false so the skew check
            # would read the pre-runtime plan (r12 probe fix); the A/B
            # arms all end in a global aggregate, so collect is tiny
            return len(df.collect()), df

        best, cold, _, (rows, df) = timed(once)
        note = ""
        if grep_plan is not None:
            plan = df._jdf.queryExecution().executedPlan().toString()
            note = f"  [{grep_plan} in final plan: {grep_plan.lower() in plan.lower()}]"
        print(line(best, cold, rows, label) + note, flush=True)

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # the hot partition is ~25MB COMPRESSED at 100x (3M rows of
        # custkey+totalprice after pruning) — set the skew threshold the
        # way a real deployment tunes it for its partition sizing (the
        # 256MB default targets multi-GB shuffles); 4MB advisory splits
        # the hot key ~6 ways
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8MB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4MB")

        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        forced(
            "hot join+agg, shuffle-forced, AQE skew-split ON",
            hot_join,
            grep_plan="skew",
        )
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        forced(
            "hot join+agg, shuffle-forced, skew-split OFF (serialized baseline)",
            hot_join,
        )
        forced(
            "hot join+agg, salted_skew_join(16) (explicit mitigation)",
            lambda: salted_skew_join(
                orders, customer, "o_custkey", "c_custkey", num_salts=16
            ).groupBy().agg(
                F.sum("o_totalprice").alias("sum_price"),
                F.sum(F.length("c_name")).alias("sum_name"),
            ),
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


# ---- hot-cluster probe (r12 second half): the skew probe covered the
# JOIN side (one hot customer); real corpora are also Zipfian in
# CONTENT — one viral text carries a macroscopic fraction of the
# corpus.  Fixture: 1M documents (5k x 200 replicas) where 20% of rows
# share ONE hot text (a 200k-member exact-dup cluster) and the rest
# are mutually dissimilar 40-word pseudo-texts (zero cross-doc
# 3-shingle similarity, so the LSH core sees no accidental near-dups).
# The hazard class: (a) a hot md5/content-hash GROUP BY key in
# dedup_exact / the curation funnel — absorbed by map-side partials;
# (b) the raw LSH pair graph, where a K-member exact cluster
# contributes K(K-1)/2 pairs (2e10 at K=200k) — the collapse-first
# forms contract it to ONE node; (c) the keep-decision, where a
# row_number window serializes the hot cluster onto one task while
# max_by merges it in partials (A/B below).
HOT_REP = 200
HOT_MOD = 5  # doc_id % 5 == 0 -> hot text: 20% of the corpus


def _is_hot():
    return F.pmod(F.col("doc_id"), F.lit(HOT_MOD)) == 0


def _hot_counts(spark, dst: str) -> tuple[int, int]:
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    return docs.count(), docs.filter(_is_hot()).count()


def generate_hotcluster(spark, dst: str, rep: int) -> None:
    hot = F.lit(" ".join(f"hotword{i:02d} filler{i:02d}" for i in range(20)))
    replicate(
        spark, dst, {"documents": ["doc_id"]}, rep, fmt=None,
        derive=lambda t, r: r.withColumn(
            "text", F.when(_is_hot(), hot).otherwise(_uniq_text())
        ),
    )
    n, nh = _hot_counts(spark, dst)
    print(f"generated documents x{rep}: {n} rows, hot cluster {nh}")


def run_hotcluster(spark, dst: str) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    # (a) hot GROUP BY keys: exact dedup + the curation funnel
    probe(
        "dedup_exact [hot md5 key]",
        lambda: qs["dedup_exact"](spark, dst).count(),
        quiet=True,
    )
    probe(
        "pipeline_corpus_curation [hot content hash]",
        lambda: qs["pipeline_corpus_curation"](spark, dst).count(),
        quiet=True,
    )
    # (b) collapse-first clustering: the hot cluster is ONE node; print
    # the pair-graph accounting that makes the raw form infeasible
    k = docs.filter(_is_hot()).count()
    print(
        f"raw LSH pair graph would carry K(K-1)/2 = {k * (k - 1) // 2:,} "
        f"exact-dup pairs for the hot cluster alone (K={k:,}) — not "
        "enumerated; the collapsed form contracts it to one node:",
        flush=True,
    )
    probe(
        "dedup_cluster_best_representative_collapsed [1M docs, 200k hot]",
        lambda: qs["dedup_cluster_best_representative_collapsed"](
            spark, dst
        ).count(),
        quiet=True,
    )
    # (c) keep-decision A/B on a synthetic labeled membership with the
    # same Zipfian shape: window row_number serializes the hot
    # cluster's shuffle partition onto one sort task; max_by merges it
    # map-side.  (Isolates the operator decision from the pair graph.)
    from pyspark.sql import Window

    member = (
        spark.range(1_000_000)
        .withColumn(
            "cluster",
            F.when(F.col("id") % HOT_MOD == 0, F.lit(0)).otherwise(
                F.col("id")
            ),
        )
        .withColumn("n_words", (F.col("id") % 997).cast("int"))
        .withColumn("doc_id", F.col("id"))
        .repartition(64)
        .localCheckpoint()
    )

    def keep_window():
        w = Window.partitionBy("cluster").orderBy(
            F.desc("n_words"), F.asc("doc_id")
        )
        sizes = member.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_members")
        )
        return (
            member.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .join(sizes, "cluster")
        )

    def keep_maxby():
        return member.groupBy("cluster").agg(
            F.max_by(
                F.struct(F.col("doc_id"), F.col("n_words")),
                F.struct(F.col("n_words"), (-F.col("doc_id")).alias("n")),
            ).alias("best"),
            F.count(F.lit(1)).alias("n_members"),
        )

    probe(
        "keep-decision: row_number window + sizes join",
        lambda: keep_window().count(),
        quiet=True,
    )
    probe("keep-decision: max_by single agg", lambda: keep_maxby().count(), quiet=True)


# ---- near-dup hot bucket (r13, VERDICT r12 task 4): the residual
# 100 TB hazard collapse-first CANNOT eat — a templated hot cluster of
# DISTINCT texts (shared 60-word boilerplate + one unique tail word)
# whose minhash band values mostly coincide (each band's minima come
# from the shared shingles with prob (20/21)^4 ~ 0.82, so ~82% of the
# hot docs share ONE mega-bucket per band).  The candidate pair set is
# quadratic in that bucket's population; the max_bucket cap drops such
# buckets before the join.  Two fixtures: a small one (<dst>s, rep 2)
# where the uncapped pair set is still enumerable (the recall ledger),
# and the 1M-doc one where only the capped form is feasible (the
# wall-clock evidence).
HOTNEAR_CYCLE = " ".join(f"boiler{i:02d}" for i in range(20))


def _hotnear_text(t, r):
    hot = F.concat_ws(
        " ",
        F.lit(HOTNEAR_CYCLE),
        F.lit(HOTNEAR_CYCLE),
        F.lit(HOTNEAR_CYCLE),
        F.concat(F.lit("uniqtail"), F.col("doc_id").cast("string")),
    )
    # COLD near-dup pairs (the recall ledger's non-vacuous side): ids
    # with doc_id%10 in {1, 6} pair up per decade g=doc_id//10 — a
    # 3-word cycle keyed by g repeated 2 (for %10==1) or 3 (for %10==6)
    # times gives the pair identical shingle sets (guaranteed band
    # collision, bucket population exactly 2) but distinct texts and
    # distinct buckets across decades.
    g = (F.col("doc_id") / F.lit(10)).cast("long").cast("string")
    cold_cycle = F.concat_ws(
        " ",
        F.concat(F.lit("cw"), g, F.lit("a")),
        F.concat(F.lit("cw"), g, F.lit("b")),
        F.concat(F.lit("cw"), g, F.lit("c")),
    )
    cold2 = F.concat_ws(" ", cold_cycle, cold_cycle)
    cold3 = F.concat_ws(" ", cold_cycle, cold_cycle, cold_cycle)
    m10 = F.pmod(F.col("doc_id"), F.lit(10))
    return r.withColumn(
        "text",
        F.when(_is_hot(), hot)
        .when(m10 == 1, cold2)
        .when(m10 == 6, cold3)
        .otherwise(_uniq_text()),
    )


def generate_hotnear(spark, dst: str, rep: int) -> None:
    for d, k in ((dst + "s", 2), (dst, rep)):
        replicate(spark, d, {"documents": ["doc_id"]}, k, derive=_hotnear_text, fmt=None)
        n, nh = _hot_counts(spark, d)
        print(f"generated near-dup documents x{k}: {n} rows, hot {nh}")


def run_hotnear(spark, big_dst: str, cap: int = 1000) -> None:
    from flink_1_20_spark.operators.textdedup import minhash_lsh_pairs

    # (a) recall ledger on the small fixture: uncapped still enumerable
    docs_s = spark.read.parquet(f"{big_dst}s/documents.parquet")
    raw = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs_s, "doc_id", "text").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs_s, "doc_id", "text", max_bucket=cap
        ).collect()
    }
    is_hot = lambda d: d % HOT_MOD == 0  # noqa: E731
    hot_raw = {p for p in raw if is_hot(p[0]) and is_hot(p[1])}
    cold_raw = raw - hot_raw
    cold_capped = capped - hot_raw
    missing_cold = cold_raw - capped
    cold_recall = (
        len(cold_capped & cold_raw) / len(cold_raw) if cold_raw else float("nan")
    )
    print(
        f"recall ledger (cap={cap}): raw={len(raw)} "
        f"(hot {len(hot_raw)}, cold {len(cold_raw)}), "
        f"capped={len(capped)} (hot kept "
        f"{len(capped & hot_raw)}), cold recall={cold_recall:.4f} "
        f"(missing {len(missing_cold)})",
        flush=True,
    )
    assert cold_raw, "fixture must contain cold pairs or the ledger is vacuous"
    assert not missing_cold, "cap must not lose pairs outside hot buckets"

    # (b) wall clock on the 1M-doc fixture: only the capped form is
    # feasible — print the accounting that makes the uncapped one not
    docs_b = spark.read.parquet(f"{big_dst}/documents.parquet")
    nh = docs_b.filter(_is_hot()).count()
    mega = int(nh * (20 / 21) ** 4)
    print(
        f"big fixture: hot cluster {nh} DISTINCT texts; expected "
        f"mega-bucket ~{mega}/band -> ~{mega * (mega - 1) // 2:.2e} "
        "candidate pairs/band uncapped (not run)",
        flush=True,
    )
    probe(
        f"minhash_lsh_pairs capped={cap} [1M docs, {nh} near-dup hot]",
        lambda: minhash_lsh_pairs(docs_b, "doc_id", "text", max_bucket=cap).count(),
        quiet=True,
    )


# ---- uncapped multi-consumer A/B (r14, VERDICT r13 task 3): the
# UNCAPPED minhash/ngram/simhash pair paths re-derived the CPU-bound
# tokenize+shingle(+signature) pass once per consumer subtree (the
# capped paths gained lazy localCheckpoints in r13: 449 -> 140 s at
# the 1M-doc hotnear fixture).  Fixture here: 1M UNIQUE 40-word docs —
# the candidate pair set is ~empty, so wall clock isolates exactly the
# redundant derivations the checkpoints remove.  The OLD forms are
# reproduced inline (checkpoint-free) so the A/B runs on one tree.
def generate_uniqdocs(spark, dst: str, rep=None, n: int = 1_000_000) -> None:
    (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", _uniq_text())
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{dst}/documents.parquet")
    )
    print(f"generated {n} unique docs at {dst}")


def _minhash_pairs_old(docs, id_col, text_col):
    """The pre-r14 UNCAPPED minhash_lsh_pairs body: no localCheckpoint —
    base/long re-derived per consumer (kept verbatim for the A/B)."""
    from flink_1_20_spark.operators.textdedup import (
        band_keys, jaccard, minhash_signatures, normalized_words,
        word_shingles,
    )

    docs = ensure_scan_parallelism(docs)
    words = normalized_words(F.col(text_col))
    sh = word_shingles(words, 3).alias("shingles")
    base = docs.select(F.col(id_col).alias("doc"), sh)
    base = base.filter(F.size("shingles") > 0)
    sigs = minhash_signatures(base, "doc", "shingles", 16)
    banded = sigs.select("doc", *band_keys("mh", 16, 4))
    band_struct = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash"))
            for b in range(4)
        ]
    )
    long = banded.select("doc", F.explode(band_struct).alias("bk")).select(
        "doc", "bk.band_idx", "bk.band_hash"
    )
    pairs = (
        long.select(F.col("doc").alias("id_a"), "band_idx", "band_hash")
        .join(long.select(F.col("doc").alias("id_b"), "band_idx", "band_hash"),
              ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jac", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jac") >= 0.5)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def _ngram_pairs_old(docs, id_col, text_col):
    """The pre-r14 ngram_jaccard_pairs body (checkpoint-free)."""
    from flink_1_20_spark.operators.textdedup import (
        normalized_words, word_shingles,
    )

    docs = ensure_scan_parallelism(docs)
    words = normalized_words(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc"), word_shingles(words, 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    sizes = base.select("doc", F.size("shingles").alias("n_sh"))
    inv = base.select("doc", F.explode("shingles").alias("sh"))
    a = inv.select(F.col("doc").alias("id_a"), "sh")
    b = inv.select(F.col("doc").alias("id_b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .withColumn("jac", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jac") >= 0.4)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def run_uncapped_ab(spark, dst: str) -> None:
    from flink_1_20_spark.operators.textdedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{dst}/documents.parquet")
    battery = [
        ("minhash_old", lambda: _minhash_pairs_old(docs, "doc_id", "text")),
        ("minhash_new", lambda: minhash_lsh_pairs(docs, "doc_id", "text")),
        ("ngram_old", lambda: _ngram_pairs_old(docs, "doc_id", "text")),
        ("ngram_new", lambda: ngram_jaccard_pairs(docs, "doc_id", "text")),
    ]
    for tag, mk in battery:
        probe(f"{tag} [1M unique docs]", lambda: mk().count(), quiet=True)


def generate(spark, dst: str, rep: int) -> None:
    # multi-file layout, same rationale as generate_hundred (r11)
    replicate(spark, dst, SHIFT, rep, COPY, fmt="generated {t}: {n} rows")


def run(spark, dst: str) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in HEAVY:
        probe(name, lambda: qs[name](spark, dst).count(), runs=1)
    # r8: trained-centroid IVFADC gate — unregistered (k-means is not
    # SQL-expressible, so it has no oracle), probed here for scale and
    # for the recall/balance numbers at 10x
    from flink_1_20_spark.queries.training_prep import ivfpq_trained_gate

    dt, _, _, row = timed(lambda: ivfpq_trained_gate(spark, dst).collect()[0], 1)
    label = (
        f"ivfpq_trained_gate (recall_vs_flat={row['recall_vs_flat']}, "
        f"balance_ratio={row['balance_ratio']})"
    )
    print(line(dt, dt, 1, label, runs=1), flush=True)


class Mode(NamedTuple):
    rep: int | None  # default --rep
    dst: str  # default --dst
    gen: Callable | None  # gen(spark, dst, rep); None: the mode only runs
    run: Callable  # run(spark, dst)
    help: str | None


# Mode flags in --help order (the first one given wins); defaults
# resolve per mode — an EXPLICIT --rep 10 with --hundred must stay 10,
# not silently become 100.
MODES = {
    "hundred": Mode(
        100, "/tmp/sfX2", generate_hundred, run_hundred,
        "100x subset mode: lineitem+documents only, subset battery "
        "(default --rep 100, --dst /tmp/sfX2)",
    ),
    "tpch_full": Mode(
        100, "/tmp/sfX6", generate_tpch_full, run_tpch_full,
        "full-TPC-H 100x mode: all 22 queries on a fixture where "
        "part/supplier scale too (default --rep 100, --dst /tmp/sfX6)",
    ),
    "flagship": Mode(
        FLAGSHIP_REP, "/tmp/sfX3", generate_flagship, run_flagship,
        "flagship-decade mode: documents+embeddings at 1000x "
        "(5M docs / 2M embeddings), the four dedup/similarity flagships "
        "(default --dst /tmp/sfX3)",
    ),
    "hotcluster": Mode(
        HOT_REP, "/tmp/sfX7", generate_hotcluster, run_hotcluster,
        "Zipfian duplicate-content mode: 1M docs, 20%% share one "
        "hot text; hot GROUP BY keys, collapse-first clustering, "
        "keep-decision A/B (default --rep 200, --dst /tmp/sfX7)",
    ),
    "skew": Mode(
        100, "/tmp/sfX5", generate_skew, run_skew,
        "Zipfian hot-key mode: one customer carries 20%% of orders "
        "at 100x; AQE skew-split vs salted join A/B "
        "(default --dst /tmp/sfX5)",
    ),
    "hotnear": Mode(
        HOT_REP, "/tmp/sfX8", generate_hotnear, run_hotnear,
        "near-dup templated hot bucket: small recall-ledger "
        "fixture (/tmp/sfX8s, rep 2) + 1M-doc capped wall clock "
        "(/tmp/sfX8, rep 200)",
    ),
    "q21ab": Mode(
        None, "/tmp/sfX6", None, run_q21_ab,
        "q21 spec-vs-preagg A/B on the --tpch-full fixture "
        "(default --dst /tmp/sfX6; generate it with --tpch-full --gen)",
    ),
    "uncappedab": Mode(
        None, "/tmp/sfX9", generate_uniqdocs, run_uncapped_ab,
        "uncapped minhash/ngram multi-consumer checkpoint A/B on "
        "a 1M-unique-doc fixture (default --dst /tmp/sfX9)",
    ),
}
DEFAULT = Mode(10, "/tmp/sfX1", generate, run, None)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=None)
    ap.add_argument("--dst", default=None)
    ap.add_argument("--gen", action="store_true")
    ap.add_argument("--run", action="store_true")
    for flag, mode in MODES.items():
        ap.add_argument(f"--{flag.replace('_', '-')}", action="store_true", help=mode.help)
    args = ap.parse_args()
    mode = next((m for flag, m in MODES.items() if getattr(args, flag)), DEFAULT)
    rep = mode.rep if args.rep is None else args.rep
    dst = mode.dst if args.dst is None else args.dst
    both = not (args.gen or args.run)
    spark = get_spark("scale-probe")
    if mode.gen is not None and (args.gen or both):
        mode.gen(spark, dst, rep)
    if mode.gen is None or args.run or both:
        mode.run(spark, dst)


if __name__ == "__main__":
    main()
