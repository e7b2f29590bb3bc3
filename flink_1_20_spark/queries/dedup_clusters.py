"""Dedup clustering query: MinHash pairs → connected components →
per-doc canonical cluster assignment (SURVEY.md §7 M4).

Oracle: DuckDB recursive CTE computes the transitive closure of the
same pair graph (tiny at verify scale) and labels each node with the
min reachable id — the exact definition the iterative Spark version
converges to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_20_spark.operators.components import (
    connected_components,
    dedup_assignment,
)
from flink_1_20_spark.operators.textdedup import minhash_lsh_pairs
from flink_1_20_spark.queries.dedup_docs import _MINHASH_ORACLE

from flink_1_20_spark.registry import register

from ._util import T

# reuse the minhash pair derivation, then close over the pair graph
_CLUSTER_ORACLE = (
    "WITH RECURSIVE pairs_base AS (" + _MINHASH_ORACLE.replace("\n", " ") + "),\n"
    "edges AS (SELECT id_a AS u, id_b AS v FROM pairs_base\n"
    "          UNION SELECT id_b, id_a FROM pairs_base\n"
    "          UNION SELECT id_a, id_a FROM pairs_base\n"
    "          UNION SELECT id_b, id_b FROM pairs_base),\n"
    "reach AS (\n"
    "    SELECT u AS src, v AS dst FROM edges\n"
    "    UNION\n"
    "    SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u\n"
    "),\n"
    "labels AS (SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY src)\n"
    "SELECT d.doc_id AS doc,\n"
    "       coalesce(l.cluster, d.doc_id) AS cluster,\n"
    "       coalesce(l.cluster, d.doc_id) <> d.doc_id AS is_duplicate\n"
    "FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc"
)


@register("dedup_connected_clusters", oracle=_CLUSTER_ORACLE)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → min-label connected components → every doc labeled
    (doc, cluster, is_duplicate). The keep-one-per-cluster filter is then
    `WHERE NOT is_duplicate` — the end-to-end corpus-dedup shape."""
    docs = T(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)
    return dedup_assignment(docs, pairs, "doc_id")


# Best-representative selection: real pipelines keep the HIGHEST-QUALITY
# member of each near-dup cluster, not the lowest id. Quality proxy here:
# most words, then doc_id as the deterministic tiebreak. Oracle reuses
# the transitive-closure CTE plus the shared word-split convention.
_BEST_REP_ORACLE = (
    "WITH RECURSIVE pairs_base AS (" + _MINHASH_ORACLE.replace("\n", " ") + "),\n"
    "edges AS (SELECT id_a AS u, id_b AS v FROM pairs_base\n"
    "          UNION SELECT id_b, id_a FROM pairs_base\n"
    "          UNION SELECT id_a, id_a FROM pairs_base\n"
    "          UNION SELECT id_b, id_b FROM pairs_base),\n"
    "reach AS (\n"
    "    SELECT u AS src, v AS dst FROM edges\n"
    "    UNION\n"
    "    SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u\n"
    "),\n"
    "labels AS (SELECT src AS doc, min(dst) AS cluster FROM reach GROUP BY src),\n"
    "member AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster,\n"
    "                  len(list_filter(string_split_regex(\n"
    "                        regexp_replace(lower(d.text), '[^a-z0-9 ]', ' ', 'g'),\n"
    "                        '\\s+'), x -> x <> '')) AS n_words\n"
    "           FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),\n"
    "ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster\n"
    "                       ORDER BY n_words DESC, doc_id ASC) AS rn\n"
    "           FROM member)\n"
    "SELECT cluster, doc_id AS kept_doc,\n"
    "       CAST(n_words AS BIGINT) AS kept_n_words,\n"
    "       (SELECT CAST(count(*) AS BIGINT) FROM member m\n"
    "        WHERE m.cluster = ranked.cluster) AS n_members\n"
    "FROM ranked WHERE rn = 1"
)


@register("dedup_cluster_best_representative", oracle=_BEST_REP_ORACLE)
def dedup_cluster_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the best member per near-dup cluster — most words, then
    lowest doc_id (deterministic) — instead of the arbitrary lowest id:
    the curation pipeline's production keep-rule (near-dups often differ
    by truncation, and dropping the longer copy loses data).

    Plan: cluster labels come from the checkpointed min-label component
    loop (one assignment per doc), the quality proxy is a pure column
    expression, and the keep decision is ONE max_by aggregation over
    cluster (argmax on (n_words, -doc_id) — a declarative aggregate
    with map-side partial merge, so a Zipfian hot cluster is absorbed
    in partials instead of serializing a row_number window's
    shuffle+sort onto one task; the member count rides in the same
    agg, removing the former sizes join).  Scale-invariant: at 100 TB
    the argmax is per-cluster state, never corpus-global."""
    return best_representative_raw(T(spark, sf_dir, "documents"))


def best_representative_raw(docs: DataFrame) -> DataFrame:
    """Raw-form best-representative over any (doc_id, text) frame —
    the body of dedup_cluster_best_representative, factored out so the
    equivalence test can feed adversarial corpora (duplicated
    zero-shingle texts) to both forms."""
    from flink_1_20_spark.operators.textdedup import normalized_words

    pairs = minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.5)
    labeled = dedup_assignment(docs, pairs, "doc_id").select(
        F.col("doc").alias("doc_id"), "cluster"
    )
    member = labeled.join(
        docs.select("doc_id", F.size(normalized_words(F.col("text"))).alias("n_words")),
        "doc_id",
    )
    best = member.groupBy("cluster").agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("n_words")),
            F.struct(F.col("n_words"), (-F.col("doc_id")).alias("nid")),
        ).alias("best"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "cluster",
        F.col("best.doc_id").alias("kept_doc"),
        F.col("best.n_words").cast("long").alias("kept_n_words"),
        "n_members",
    )


@register("dedup_cluster_best_representative_collapsed", oracle=_BEST_REP_ORACLE)
def dedup_cluster_best_representative_collapsed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collapse-first best-representative: identical OUTPUT to the raw
    form (same oracle), but the pair graph and the component loop run
    over one node per DISTINCT text.  This is the production path on
    dup-heavy corpora: a Zipfian hot cluster of K identical documents
    contributes K(K-1)/2 pairs to the raw LSH pair graph (identical
    text → identical signature → same buckets, jaccard 1.0) — quadratic
    in the hot-key weight — while here it is ONE node with
    group_size=K.

    Correctness of the collapse (why the same oracle holds):
    - exact-dup groups are cliques in the raw pair graph (jaccard 1.0
      ≥ any threshold), so contracting each group to one node
      preserves component structure; inter-group near-dup edges
      depend only on the distinct texts.
    - the raw cluster label is the min doc_id of the component; the
      component's min doc_id is the min of ITS exact group, i.e. a
      group representative (collapse_exact's rep = min id) — so
      min-label propagation over rep nodes yields the identical label.
    - the raw argmax (n_words DESC, doc_id ASC) restricted to an exact
      group is the group's min doc_id = its rep (identical text ⇒
      identical n_words), so the argmax over reps equals the argmax
      over members; n_members = sum of group sizes.
    - zero-shingle texts (< shingle_n normalized words, including
      empty/whitespace) NEVER enter the raw pair graph —
      in minhash_lsh_pairs a doc with no shingles yields no signature
      row, and the oracle filters len(sh) > 0 — so K identical short
      docs are K singleton clusters in the raw form.  Collapsing them
      would merge what the raw graph keeps apart (r12 ADVICE, high),
      so the collapse is restricted to texts with at least one shingle
      and zero-shingle docs bypass it as per-doc singletons
      (cluster = kept_doc = doc_id, n_members = 1).  The word-count
      gate is the exact shingle-existence condition (word_shingles
      emits the empty array iff len(words) < n), evaluated once per
      input row on the scan — no re-shingling of pre-collapse rows."""
    return best_representative_collapsed(T(spark, sf_dir, "documents"))


def best_representative_collapsed(docs: DataFrame) -> DataFrame:
    """Collapse-first body over any (doc_id, text) frame (see the
    registered wrapper's docstring for the equivalence argument)."""
    from flink_1_20_spark.operators.textdedup import (
        _SHINGLE_N,
        collapse_exact,
        normalized_words,
    )

    docs = docs.withColumn(
        "__nw", F.size(normalized_words(F.col("text")))
    )
    singletons = docs.filter(F.col("__nw") < _SHINGLE_N).select(
        F.col("doc_id").alias("cluster"),
        F.col("doc_id").alias("kept_doc"),
        F.col("__nw").cast("long").alias("kept_n_words"),
        F.lit(1).cast("long").alias("n_members"),
    )
    docs = docs.filter(F.col("__nw") >= _SHINGLE_N).drop("__nw")
    reps, sizes = collapse_exact(docs, "doc_id", "text")
    pairs = minhash_lsh_pairs(reps, "doc_id", "text", jaccard_threshold=0.5)
    cc = connected_components(pairs)
    groups = (
        sizes.join(cc.withColumnRenamed("node", "rep"), "rep", "left")
        .withColumn("cluster", F.coalesce(F.col("component"), F.col("rep")))
        .join(
            reps.select(
                F.col("doc_id").alias("rep"),
                F.size(normalized_words(F.col("text"))).alias("n_words"),
            ),
            "rep",
        )
    )
    best = groups.groupBy("cluster").agg(
        F.max_by(
            F.struct(F.col("rep"), F.col("n_words")),
            F.struct(F.col("n_words"), (-F.col("rep")).alias("nid")),
        ).alias("best"),
        F.sum("group_size").alias("n_members"),
    )
    return best.select(
        "cluster",
        F.col("best.rep").alias("kept_doc"),
        F.col("best.n_words").cast("long").alias("kept_n_words"),
        F.col("n_members").cast("long").alias("n_members"),
    ).unionByName(singletons)
