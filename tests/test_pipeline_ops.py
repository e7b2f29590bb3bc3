"""Tests for training-data pipeline operators: dedup semantics on
constructed duplicates, LSH recall vs brute force, multimodal plumbing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_1_20_spark.operators.multimodal import attach_fake_blob, extract_features, sample_frame_offsets
from flink_1_20_spark.operators.simsearch import cosine_topk, lsh_topk
from flink_1_20_spark.operators.textdedup import exact_dedup, minhash_lsh_pairs, simhash_pairs


def test_exact_dedup_constructed(spark):
    docs = spark.createDataFrame(
        [(1, "the same text"), (2, "the same text"), (3, "different"), (4, "the same text")],
        "doc_id bigint, text string",
    )
    got = {r["doc"]: (r["canonical_doc"], r["is_duplicate"]) for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert got == {1: (1, False), 2: (1, True), 3: (3, False), 4: (1, True)}


def test_minhash_finds_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every single day"
    near = base + " extra tail"  # high overlap (jaccard ≈ 0.87 on 3-shingles)
    far = "completely unrelated content about database query optimization and join ordering"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id bigint, text string"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(docs, "doc_id", "text", jaccard_threshold=0.3).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_and_disjoint(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zx qy wv ut sr")],
        "doc_id bigint, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert got.get((1, 2)) == 0
    assert all(3 not in k for k in got)


def test_lsh_topk_recall(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, "vec_id", "embedding", k=5)
    approx = lsh_topk(q, e, "vec_id", "embedding", k=5, n_planes=2)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # deterministic given fixed hyperplanes + data: measured 0.30 at
    # sf0.001 with 2 planes (random-chance baseline ≈ 0.10)
    assert recall >= 0.25, f"LSH recall regressed: {recall}"


def test_ivf_topk_recall(spark, sf_dir):
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators.simsearch import ivf_topk

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, "vec_id", "embedding", k=5)
    approx = ivf_topk(q, e, "vec_id", "embedding", k=5, n_centroids=8, n_probe=4)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # probing half the cells (4 of 8): deterministic given the fixed
    # lowest-id centroids; measured 0.86 at sf0.001
    assert recall >= 0.5, f"IVF recall regressed: {recall}"


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame([(1, "abc"), (2, "defgh")], "doc_id bigint, text string")
    out = extract_features(attach_fake_blob(docs, "doc_id", "text")).collect()
    got = {r["item_id"]: r for r in out}
    assert got[1]["n_bytes"] == 3 and got[2]["n_bytes"] == 5
    assert got[1]["content_md5"] == "900150983cd24fb0d6963f7d28e17f72"  # md5('abc')
    assert len(got[1]["features"]) == 16
    assert all(0.0 <= f <= 1.0 for f in got[1]["features"])


def test_frame_sampling():
    assert sample_frame_offsets(10.0, 30.0, 2.5) == [0, 75, 150, 225]
    import pytest

    with pytest.raises(ValueError):
        sample_frame_offsets(10.0, 0, 1)


def test_ivf_topk_kmeans_centroids_recall_and_balance(spark, sf_dir):
    """Trained k-means centroids drop into the same IVF plan (same
    shuffle key, same probe logic) and deliver meaningful recall, with
    every cell non-degenerate. (Relative balance/recall vs the lowest-id
    stand-in is data-dependent on these synthetic embeddings, so the
    assertions stick to the properties that must always hold.)"""
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators.simsearch import (
        cosine_topk,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )
    from pyspark.sql import functions as F

    e = read_table(spark, sf_dir, "embeddings")
    q = e.limit(10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(q, e, "vec_id", "embedding", k=5).collect()}

    cents = kmeans_centroids(e, "vec_id", "embedding", n_centroids=8)
    assert cents.count() == 8
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              ivf_topk(q, e, "vec_id", "embedding", k=5,
                       n_centroids=8, n_probe=4, centroids=cents).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall > 0.6

    sizes = (ivf_assign(e, cents, "vec_id", "embedding")
             .groupBy("cell").agg(F.count("*").alias("n")).collect())
    total = sum(r["n"] for r in sizes)
    # all 8 trained cells are populated and none swallowed the corpus
    assert len(sizes) == 8
    assert max(r["n"] for r in sizes) < 0.8 * total


def test_scrub_pii_redacts_all_kinds(spark):
    from flink_1_20_spark.queries.governance import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.co.uk today"),
            (2, "call +1-555-0199 or ping 10.12.0.255 now"),
            (3, "clean row with no contact info"),
        ],
        "id long, text string",
    )
    out = {r.id: r.text for r in scrub_pii(df).collect()}
    assert out[1] == "mail me at <EMAIL> today"
    assert out[2] == "call <PHONE> or ping <IP> now"
    assert out[3] == "clean row with no contact info"


def test_scrub_pii_idempotent(spark):
    """Scrubbing twice equals scrubbing once (redaction tokens contain
    no PII-shaped substrings)."""
    from flink_1_20_spark.queries.governance import scrub_pii

    df = spark.createDataFrame(
        [(1, "a@b.com then +1-555-1234 then 10.0.0.1 mixed a@b.com")],
        "id long, text string",
    )
    once = scrub_pii(df).collect()[0].text
    twice = scrub_pii(scrub_pii(df)).collect()[0].text
    assert once == twice
    assert "<EMAIL>" in once and "<PHONE>" in once and "<IP>" in once


def test_stratified_sample_invariants(spark, sf_dir):
    """Per-stratum size == min(k, stratum size); selection is a subset
    of the stratum; rerun is identical (determinism)."""
    from flink_1_20_spark.queries.governance import sample_stratified_exact

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stratum_sizes = {
        r.lang: r.n for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    out1 = {r.lang: (r.n_sampled, r.id_checksum)
            for r in sample_stratified_exact(spark, sf_dir).collect()}
    out2 = {r.lang: (r.n_sampled, r.id_checksum)
            for r in sample_stratified_exact(spark, sf_dir).collect()}
    assert out1 == out2  # deterministic across runs
    for lang, (n, _) in out1.items():
        assert n == min(20, stratum_sizes[lang])


def test_simhash_collapsed_matches_raw_expansion(spark):
    """Collapse-first SimHash pairs expand exactly to the raw pair set:
    rep-pair (a,b) x size_a*size_b cross pairs + per-group internal
    exact-dup pairs reproduce simhash_pairs over the full corpus."""
    from flink_1_20_spark.operators.textdedup import (
        simhash_pairs,
        simhash_pairs_collapsed,
    )

    base = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zetb",  # near-dup of the first
        "completely different words entirely here now",
    ]
    rows = []
    did = 0
    for txt, copies in zip(base, (3, 2, 2)):  # duplicate groups
        for _ in range(copies):
            rows.append((did, txt))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    raw = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    collapsed = simhash_pairs_collapsed(
        docs, "doc_id", "text", max_hamming=3
    ).collect()
    # expand: internal exact-dup pairs per group
    by_text: dict[str, list[int]] = {}
    for i, (d, t) in enumerate(rows):
        by_text.setdefault(t, []).append(d)
    expanded = set()
    for ids in by_text.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expanded.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    # cross pairs between near-dup groups
    for r in collapsed:
        ga = [d for d in by_text[rows[r.id_a][1]]]
        gb = [d for d in by_text[rows[r.id_b][1]]]
        assert (len(ga), len(gb)) == (r.size_a, r.size_b)
        for a in ga:
            for b in gb:
                expanded.add((min(a, b), max(a, b)))
    assert expanded == raw


def test_minhash_collapsed_matches_raw_expansion(spark):
    from flink_1_20_spark.operators.textdedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_collapsed,
    )

    base = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",  # near-dup
        "entirely different content with no overlap at all whatsoever",
    ]
    rows = []
    did = 0
    for txt, copies in zip(base, (3, 2, 2)):
        for _ in range(copies):
            rows.append((did, txt))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    raw = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    collapsed = minhash_lsh_pairs_collapsed(docs, "doc_id", "text").collect()
    by_text: dict[str, list[int]] = {}
    for d, t in rows:
        by_text.setdefault(t, []).append(d)
    expanded = set()
    for ids in by_text.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expanded.add((ids[i], ids[j]))
    for r in collapsed:
        ga = by_text[rows[r.id_a][1]]
        gb = by_text[rows[r.id_b][1]]
        assert (len(ga), len(gb)) == (r.size_a, r.size_b)
        for a in ga:
            for b in gb:
                expanded.add((min(a, b), max(a, b)))
    assert expanded == raw


def test_resize_nearest_identity_and_downsample(spark):
    from flink_1_20_spark.operators.multimodal import luminance_plane, resize_nearest

    # "AAAA" decodes to a 2x2 plane of 65s; resizing to 8x8 replicates
    # the same pixel everywhere → mean 65, checksum 65*64
    df = spark.createDataFrame([(1, "AAAA")], "doc_id long, text string")
    out = resize_nearest(luminance_plane(df, "doc_id", "text"), 8, 8).collect()[0]
    assert (out["out_w"], out["out_h"]) == (8, 8)
    assert out["mean_px"] == 65.0
    assert out["px_checksum"] == 65 * 64


def test_resize_nearest_padding_reads_zero(spark):
    from flink_1_20_spark.operators.multimodal import luminance_plane, resize_nearest

    # 5 chars → w=3, h=2: buffer has one padded slot; the 8x8 gather
    # must see 0 there, never an out-of-bounds read
    df = spark.createDataFrame([(1, "ABCDE")], "doc_id long, text string")
    out = resize_nearest(luminance_plane(df, "doc_id", "text"), 8, 8).collect()[0]
    assert 0 < out["mean_px"] < 69  # zeros pull the mean below max(px)
    assert out["px_checksum"] > 0


def test_audio_chunk_offsets():
    from flink_1_20_spark.operators.multimodal import audio_chunk_offsets

    # 10 s at 16 kHz, 4 s chunks, 2 s hop: starts every 32000 samples,
    # last chunk short but present — every sample covered
    chunks = audio_chunk_offsets(160000, 16000, 4.0, 2.0)
    assert chunks[0] == (0, 64000)
    assert chunks[1] == (32000, 96000)
    assert chunks[-1][1] == 160000
    covered = set()
    for a, b in chunks:
        covered.update(range(a, b, 1000))
    assert max(b for _, b in chunks) == 160000
    import pytest

    with pytest.raises(ValueError):
        audio_chunk_offsets(100, 0, 1.0, 1.0)
    # positive durations that truncate below one sample must raise, not
    # hop by zero forever
    with pytest.raises(ValueError):
        audio_chunk_offsets(100, 2.0, 1.0, 0.4)


def test_bigram_lm_score_flags_garbled_text(spark):
    from flink_1_20_spark.operators.lm_score import bigram_lm_scores

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the rug"),
        (3, "the dog sat on the mat"),
        (4, "zq xv qzk vxw kjq zzq"),  # garbled: every bigram unseen elsewhere
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["n_bigrams"] == 5
    # the garbled doc scores strictly below every natural doc
    assert got[4]["lm_score"] < min(got[i]["lm_score"] for i in (1, 2, 3))


def test_bigram_lm_score_min_count_prunes(spark):
    from flink_1_20_spark.operators.lm_score import bigram_lm_scores

    rows = [(i, "a b a b a b") for i in range(3)] + [(9, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    cut = {r["doc_id"]: r["lm_score"] for r in bigram_lm_scores(
        df, "doc_id", "text", min_count=2
    ).collect()}
    # pruning only lowers scores (pruned bigrams fall back to count 0)
    assert all(cut[k] <= full[k] for k in full)
    # the common "a b" bigram survives the cut: repeated docs keep most mass
    assert cut[0] > cut[9]


def test_bigram_lm_score_short_docs_omitted(spark):
    from flink_1_20_spark.operators.lm_score import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    assert got == {3}


def test_temperature_mix_upweights_small_sources(spark, sf_dir):
    """Alpha=0.5 sampling: smaller sources get a HIGHER keep rate than
    larger ones (the whole point of temperature mixing), and every rate
    stays in (0, 1]."""
    from flink_1_20_spark.queries.pipeline import pipeline_temperature_mix

    rows = pipeline_temperature_mix(spark, sf_dir).collect()
    assert rows, "no sources sampled"
    assert all(0 < r["rate"] <= 1.0 for r in rows)
    # rates ordered opposite to sampled mass wherever uncapped: compare
    # the extremes via the deterministic relation rate ∝ 1/sqrt(total)
    uncapped = [r for r in rows if r["rate"] < 1.0]
    if len(uncapped) >= 2:
        lo = min(uncapped, key=lambda r: r["sampled_tokens"])
        hi = max(uncapped, key=lambda r: r["sampled_tokens"])
        assert lo["rate"] >= hi["rate"]


def test_cross_corpus_df_cut_counts_documents(spark):
    """The cross-corpus df-cut must count DOCUMENTS, not distinct texts
    (review fix): replicated boilerplate still trips the cut after the
    exact-duplicate collapse, so the collapsed plan emits exactly what
    the uncollapsed formulation would."""
    from flink_1_20_spark.operators.textdedup import cross_corpus_contaminated

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    unique = "zebras quietly ponder umbrellas beneath vermilion skies today"
    train = spark.createDataFrame(
        # 5 byte-identical boilerplate docs + 1 unique doc
        [(i, boiler) for i in range(5)] + [(10, unique)],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, boiler), (101, unique)], "doc_id long, text string"
    )
    # no cut: every boilerplate copy pairs with the boilerplate eval doc
    full = cross_corpus_contaminated(
        train, eval_docs, "doc_id", "text", shingle_n=3, threshold=0.9
    ).collect()
    assert {(r["train_id"], r["eval_id"]) for r in full} == {
        (0, 100), (1, 100), (2, 100), (3, 100), (4, 100), (10, 101),
    }
    # df-cut at 4: boilerplate shingles live in 6 DOCUMENTS (5 train
    # copies + 1 eval) even though only 2 DISTINCT texts — they must be
    # cut, leaving only the unique-doc pair
    cut = cross_corpus_contaminated(
        train, eval_docs, "doc_id", "text",
        shingle_n=3, threshold=0.9, max_doc_freq=4,
    ).collect()
    assert {(r["train_id"], r["eval_id"]) for r in cut} == {(10, 101)}


def test_ivfpq_candidates_restricted_to_probed_cells(spark, sf_dir):
    """IVFADC's scale contract: every returned candidate lies in one of
    the query's probed cells (corpus-side score rows ∝ probed-cell
    population, never N), and the ADC distance for a shared candidate
    equals the flat-ADC distance (the restriction changes the candidate
    SET, never the scores)."""
    from flink_1_20_spark.catalog import read_table
    from flink_1_20_spark.operators.simsearch import (
        ivf_assign,
        ivfpq_adc_topk,
        pq_adc_topk,
    )
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    got = ivfpq_adc_topk(
        q, e, "vec_id", "embedding", topk=5, m=8, k=16, dim=64,
        n_centroids=8, n_probe=3,
    ).collect()
    assert got, "ivfpq returned nothing"

    cents = e.orderBy(F.col("vec_id").asc()).limit(8)
    cells = {
        r["vid"]: r["cell"]
        for r in ivf_assign(e, cents, "vec_id", "embedding").collect()
    }
    # replicate the probe top-3 per query (same rounding/tiebreak)
    cos = F.round(
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("qn") * F.col("cnrm")),
        6,
    )
    cv = cents.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).withColumn(
        "cnrm",
        F.sqrt(F.aggregate(F.zip_with("cv", "cv", lambda a, b: a * b),
                           F.lit(0.0), lambda acc, x: acc + x)),
    )
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).withColumn(
        "qn",
        F.sqrt(F.aggregate(F.zip_with("qv", "qv", lambda a, b: a * b),
                           F.lit(0.0), lambda acc, x: acc + x)),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("cid"))
    probed = {}
    for r in (
        qv.crossJoin(F.broadcast(cv))
        .withColumn("c", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    ):
        probed.setdefault(r["query_id"], set()).add(r["cid"])
    for r in got:
        assert cells[r["cand_id"]] in probed[r["query_id"]], (
            r["query_id"], r["cand_id"])

    # score identity vs flat ADC on the overlap
    flat = {
        (r["query_id"], r["cand_id"]): r["adc_d2"]
        for r in pq_adc_topk(
            q, e, "vec_id", "embedding", topk=100, m=8, k=16, dim=64
        ).collect()
    }
    shared = [r for r in got if (r["query_id"], r["cand_id"]) in flat]
    assert shared, "no overlap between ivfpq and flat ADC top lists"
    for r in shared:
        assert abs(flat[(r["query_id"], r["cand_id"])] - r["adc_d2"]) < 1e-9


def test_ivfpq_trained_gate_recall_and_cell_balance(spark, sf_dir):
    """IVFADC over TRAINED k-means centroids (r8 gate): the recall-vs-
    flat-ADC number isolates the cell-restriction loss with balanced
    cells, and the max/mean cell-population ratio bounds per-query
    probe cost — the scale risk the stand-in centroids (first-N corpus
    rows) cannot bound. Non-oracle by design: pyspark.ml KMeans is not
    SQL-expressible, so this gate lives in pytest + the scale probe."""
    from flink_1_20_spark.queries.training_prep import ivfpq_trained_gate

    row = ivfpq_trained_gate(spark, sf_dir).collect()[0]
    assert row["n_queries"] > 0
    assert row["n_cells"] == 16  # every trained cell is populated
    # probing 4 of 16 balanced cells must beat the uniform-cell floor
    assert row["recall_vs_flat"] >= 0.25
    # bounded probe cost: no cell swallows the corpus
    assert row["balance_ratio"] < 4.0
    assert row["max_cell"] < 0.5 * row["n_cells"] * row["mean_cell"]


def test_exact_substring_dedup_alignment_invariant(spark):
    """The content-defined-chunking property that justifies the design
    (Lee et al. 2022 needs unaligned spans): a long span shared by two
    documents at DIFFERENT offsets must still be detected and removed
    from both, and the surviving text must keep its original order."""
    from flink_1_20_spark.operators.textdedup import exact_substring_dedup

    # long enough that the span's INTERIOR chunks (boundary windows
    # fully inside the span) clear min_span — CDC loses up to
    # window + one chunk at each edge, the documented approximation
    span = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [
            (1, "AAAA unique prefix one %s unique suffix one BBBB" % span),
            (2, "a totally different and much longer leading text %s zz" % span),
            (3, "no shared content here at all, just original words only"),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_dedup(docs, min_span=24, min_occurrences=2)
    rows = {r.doc: r for r in out.collect()}
    assert rows[1].removed_chars > 0 and rows[2].removed_chars > 0, rows
    # the shared interior chunks are gone from both clean texts
    assert span not in rows[1].clean_text
    assert span not in rows[2].clean_text
    # unshared content survives, in order
    assert rows[1].clean_text.startswith("AAAA unique prefix one")
    assert rows[1].clean_text.endswith("BBBB")
    assert rows[3].removed_chars == 0
    assert rows[3].clean_text == "no shared content here at all, just original words only"
    # idempotence: running again on the cleaned corpus removes nothing
    again = exact_substring_dedup(
        out.select(F.col("doc").alias("doc_id"), F.col("clean_text").alias("text")),
        min_span=24,
        min_occurrences=2,
    )
    assert all(r.removed_chars == 0 for r in again.collect())


def test_exact_substring_dedup_token_alignment_invariant(spark):
    """r10 token mode: the CDC boundary contract holds in TOKEN space —
    a long token span shared at different TOKEN offsets (and different
    char offsets, so char-aligned windows could never line up) is
    detected and removed from both documents; unshared tokens survive
    in order; the span unit is tokens (Lee et al. 2022's 50-token
    threshold lives in this space)."""
    from flink_1_20_spark.operators.textdedup import exact_substring_dedup

    # 60 distinct tokens: enough interior 8-token boundary windows that
    # ≥ 2 cuts land fully inside the span with overwhelming probability
    span = " ".join(f"w{i}x{(i * 7) % 13}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + span + " omega"),
            (2, "one two three four five six seven " + span + " end"),
            (3, "totally unshared words only nothing repeated here"),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_dedup(
        docs, min_span=10, min_occurrences=2, unit="token"
    )
    rows = {r.doc: r for r in out.collect()}
    assert rows[1].removed_tokens > 0 and rows[2].removed_tokens > 0, rows
    assert span not in rows[1].clean_text
    assert span not in rows[2].clean_text
    # unshared tokens survive, in order, in the normalized token stream
    assert rows[1].clean_text.startswith("alpha beta")
    assert rows[1].clean_text.endswith("omega")
    assert rows[2].clean_text.startswith("one two three")
    assert rows[3].removed_tokens == 0
    # tokenization is the canonical normalizer: punctuation/case folds
    punct = spark.createDataFrame(
        [(10, "Hello, World! " + span), (11, "hello world " + span)],
        "doc_id long, text string",
    )
    p = {r.doc: r for r in exact_substring_dedup(
        punct, min_span=10, min_occurrences=2, unit="token"
    ).collect()}
    # the span repeats across both docs regardless of the punctuated
    # prefix; both lose it
    assert p[10].removed_tokens > 0 and p[11].removed_tokens > 0


def test_exact_substring_decontaminate_token_mode(spark):
    """r10 review finding: the decontaminate side of the token-space
    machinery was untested — only the dedup side covered unit='token'.
    A benchmark token span quoted inside a training doc is removed in
    token space; clean docs are untouched; bench docs never appear."""
    from flink_1_20_spark.operators.textdedup import (
        exact_substring_decontaminate,
    )

    span = " ".join(f"b{i}q{(i * 5) % 11}" for i in range(60))
    bench = spark.createDataFrame(
        [(100, "benchmark preamble " + span + " benchmark coda")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "training text quoting " + span + " and moving on"),
            (2, "completely original training words nothing shared"),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_decontaminate(
        docs, bench, min_span=10, unit="token"
    )
    rows = {r.doc: r for r in out.collect()}
    assert set(rows) == {1, 2}  # bench side is reference-only
    assert rows[1].removed_tokens > 0
    assert span not in rows[1].clean_text
    assert rows[1].clean_text.startswith("training text quoting")
    assert rows[2].removed_tokens == 0
    assert rows[2].clean_text == (
        "completely original training words nothing shared"
    )


def test_exact_substring_dedup_keep_first(spark):
    """keep_first=True (the paper's leave-one-copy rule): the globally
    first occurrence (min doc_id, then idx) of a repeated span survives;
    later occurrences are removed. The remove-all form removes both."""
    from flink_1_20_spark.operators.textdedup import exact_substring_dedup

    # long but NON-repeating span (a tripled sentence would repeat
    # WITHIN doc 1, and keep-first would rightly trim doc 1's own
    # later copies)
    span = " ".join(
        f"w{i}token{i * 7 % 13}" for i in range(40)
    )  # ~400 chars, all words distinct
    docs = spark.createDataFrame(
        [
            (1, "AAAA unique prefix one %s unique suffix one BBBB" % span),
            (2, "a totally different and much longer leading text %s zz" % span),
        ],
        "doc_id long, text string",
    )
    both = {r.doc: r for r in exact_substring_dedup(docs).collect()}
    first = {
        r.doc: r for r in exact_substring_dedup(docs, keep_first=True).collect()
    }
    # remove-all: both docs lose the span's interior
    assert both[1].removed_chars > 0 and both[2].removed_chars > 0
    # keep-first: doc 1 (the first occurrence) keeps everything, doc 2
    # still loses the repeated interior
    assert first[1].removed_chars == 0, first[1]
    assert first[2].removed_chars > 0
    assert first[2].removed_chars == both[2].removed_chars


def test_ensure_scan_parallelism_guard(spark, tmp_path):
    """r9: the compact-input guard must repartition a few-split file
    scan to core count (the CPU-bound boundary scan is otherwise
    serialized onto one core), stay a NO-OP at healthy split counts,
    and skip non-file inputs — all decided from metadata only (no jobs
    at build time).  The compact inputs are above SMALL_SCAN_BYTES
    (hex text barely compresses); tiny inputs are the no-fire case of
    test_ensure_scan_parallelism_small_bound."""
    from flink_1_20_spark.operators.util import SMALL_SCAN_BYTES, ensure_scan_parallelism

    cores = spark.sparkContext.defaultParallelism
    rows = spark.range(6000).selectExpr(
        "id AS doc_id", "concat(sha2(string(id), 256), sha2(string(-id), 256)) AS text"
    )
    # one compact file -> guard fires, scan parallelism = cores
    one = str(tmp_path / "one")
    rows.coalesce(1).write.parquet(one)
    compact = spark.read.parquet(one)
    assert len(compact.inputFiles()) == 1
    import glob
    import os as _os

    fsize = _os.path.getsize(glob.glob(f"{one}/*.parquet")[0])
    assert fsize >= SMALL_SCAN_BYTES, "premise: the fixture is above the bound"
    assert ensure_scan_parallelism(compact).rdd.getNumPartitions() == cores
    # a few files but < cores -> guard still fires (r10: the old
    # cores//2 bar left a 3-file scan at 3-way parallelism, and was
    # unsatisfiable outright at defaultParallelism <= 2). Skipped when
    # the machine is too small for a strictly-between file count to
    # exist (review finding: the assertion must not depend on shape).
    if cores > 3:
        few = str(tmp_path / "few")
        rows.repartition(3).write.parquet(few)
        assert 0 < len(spark.read.parquet(few).inputFiles()) < cores
        assert sum(
            _os.path.getsize(f) for f in glob.glob(f"{few}/*.parquet")
        ) >= SMALL_SCAN_BYTES
        assert (
            ensure_scan_parallelism(spark.read.parquet(few)).rdd.getNumPartitions()
            == cores
        )
    # many files -> no-op (the SAME plan object back, no extra exchange)
    many = str(tmp_path / "many")
    rows.repartition(cores).write.parquet(many)
    healthy = spark.read.parquet(many)
    assert len(healthy.inputFiles()) >= cores
    assert ensure_scan_parallelism(healthy) is healthy
    # non-file input (no listing) -> no-op
    mem = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    assert ensure_scan_parallelism(mem) is mem
    # few LARGE splittable files -> no-op (r11 ADVICE: files are not
    # splits; the guard estimates splits as ceil(size/maxPartitionBytes)
    # per file and skips when the scan is already wide). Simulated by
    # shrinking maxPartitionBytes below the compact file's size so ONE
    # file estimates >= cores splits.
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(max(1, fsize // cores))
        )
        assert ensure_scan_parallelism(compact) is compact
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
    # derived (post-shuffle) input over a compact FILE source -> FIRES
    # (r10, adjudicated across two review passes: AQE partition
    # coalescing collapses the post-shuffle output of a compact source
    # to ~1 partition — verified here — so the downstream CPU-bound
    # scan would serialize again one exchange later; the bounded
    # repartition is correct, and inputFiles() reporting the leaf
    # source is the right trigger)
    reps = compact.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert len(reps.inputFiles()) == 1
    assert reps.rdd.getNumPartitions() <= 2, (
        "premise: AQE coalesces the compact post-shuffle output"
    )
    assert ensure_scan_parallelism(reps).rdd.getNumPartitions() == cores
    # broadcast-JOINED but unshuffled frame fires too (a broadcast join
    # keeps the probe side's scan partitioning)
    joined = compact.join(
        F.broadcast(spark.createDataFrame([(1,)], "doc_id long")),
        "doc_id",
        "left",
    )
    assert ensure_scan_parallelism(joined) is not joined


def test_ensure_scan_parallelism_small_bound(spark, tmp_path, monkeypatch):
    """Inputs whose files total less than SMALL_SCAN_BYTES are not
    repartitioned (the extra exchange costs more than the one-core scan
    saves): a tiny compact file is a no-op at the shipped bound, and
    the bound is strict — the same file fires when the bound equals
    its size and is skipped one byte above it."""
    import glob
    import os as _os

    from flink_1_20_spark.operators import util

    cores = spark.sparkContext.defaultParallelism
    tiny = str(tmp_path / "tiny")
    spark.range(1000).selectExpr("id AS doc_id", "repeat('x', 50) AS text") \
        .coalesce(1).write.parquet(tiny)
    df = spark.read.parquet(tiny)
    size = _os.path.getsize(glob.glob(f"{tiny}/*.parquet")[0])
    assert size < util.SMALL_SCAN_BYTES
    assert util.ensure_scan_parallelism(df) is df
    monkeypatch.setattr(util, "SMALL_SCAN_BYTES", size + 1)
    assert util.ensure_scan_parallelism(df) is df
    monkeypatch.setattr(util, "SMALL_SCAN_BYTES", size)
    assert util.ensure_scan_parallelism(df).rdd.getNumPartitions() == cores


def test_exact_substring_decontaminate(spark):
    """Span-level decontamination: a benchmark sentence quoted inside a
    training doc is removed (the doc survives, minus the quote); clean
    docs and within-training repeats are untouched (only BENCH spans
    mark chunks); bench docs never appear in the output."""
    from flink_1_20_spark.operators.textdedup import (
        exact_substring_decontaminate,
    )

    quote = " ".join(f"b{i}mark{i * 11 % 17}" for i in range(40))
    bench = spark.createDataFrame(
        [(100, "benchmark preamble %s benchmark postamble" % quote)],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "training doc one quoting %s right in the middle" % quote),
            (2, "a completely clean training document with original words"),
            # within-training duplication must NOT mark anything here
            (3, "dup dup dup dup dup dup dup dup dup dup dup dup dup dup"),
            (4, "dup dup dup dup dup dup dup dup dup dup dup dup dup dup"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc: r
        for r in exact_substring_decontaminate(train, bench).collect()
    }
    assert rows[1].removed_chars > 0
    assert quote not in rows[1].clean_text
    assert rows[1].clean_text.startswith("training doc one quoting")
    assert rows[2].removed_chars == 0
    # cross-training duplication is the DEDUP op's job, not this one's
    assert rows[3].removed_chars == 0 and rows[4].removed_chars == 0
    assert 100 not in rows  # bench side is reference-only
    assert set(rows) == {1, 2, 3, 4}


def test_exact_substring_oracles_share_boundary_rule():
    """The pinned CDC constants (window 8, md5 nibbles {0,8}) must stay
    textually identical across every exact-substring oracle AND the
    Spark operator — a drifted copy would be a driver-hash red that
    costs a round to diagnose."""
    import inspect

    from flink_1_20_spark.operators import textdedup
    from flink_1_20_spark.queries.governance import (
        _EXACT_SUBSTR_DECON_ORACLE,
        _EXACT_SUBSTR_KEEP_FIRST_ORACLE,
        _EXACT_SUBSTR_ORACLE,
    )

    frag = "substr(md5(substr(text, i-7, 8)), 32, 1)\n                  IN ('0','8')"
    for sql in (
        _EXACT_SUBSTR_ORACLE,
        _EXACT_SUBSTR_KEEP_FIRST_ORACLE,
        _EXACT_SUBSTR_DECON_ORACLE,
    ):
        assert frag in sql
    # decon oracle chunks BOTH sides with the same rule
    assert _EXACT_SUBSTR_DECON_ORACLE.count(frag) == 2
    # the Spark side builds the same rule from the same constants
    src = inspect.getsource(textdedup._cdc_chunks)
    assert "substring(md5(substring({text_col}, i - {w - 1}, {w})), 32, 1)" in src
    # run-rule threshold identical everywhere
    for sql in (
        _EXACT_SUBSTR_ORACLE,
        _EXACT_SUBSTR_KEEP_FIRST_ORACLE,
        _EXACT_SUBSTR_DECON_ORACLE,
    ):
        assert "rl < 24" in sql
    # r10 token-space oracle: same window-8 / nibbles-{0,8} contract
    # over space-joined 8-token grams, and the Spark token branch
    # builds the identical gram string
    from flink_1_20_spark.queries.governance import _EXACT_SUBSTR_TOK_ORACLE

    tok_frag = (
        "substr(md5(array_to_string(t[i-7:i], ' ')), 32, 1)\n"
        "                  IN ('0','8')"
    )
    assert tok_frag in _EXACT_SUBSTR_TOK_ORACLE
    assert "rl < 12" in _EXACT_SUBSTR_TOK_ORACLE
    # (the expression spans two source lines — pin each piece)
    assert "substring(md5(concat_ws(' ', " in src
    assert "slice(__t, i - {w - 1}, {w}))), 32, 1) " in src
    # both engines tokenize with the ONE canonical normalizer
    assert "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')" in (
        _EXACT_SUBSTR_TOK_ORACLE
    )
    assert "regexp_replace(lower({text_col}), " in src


def test_best_rep_collapsed_keeps_zero_shingle_dups_apart(spark):
    """r12 ADVICE (high): duplicated texts with < shingle_n (3)
    normalized words never enter the raw pair graph (minhash filters
    size(shingles) > 0), so K identical short docs are K singleton
    clusters in the raw form — the collapsed form must NOT merge them.
    Corpus mixes: an empty-text dup group, a 2-word dup group, a
    3-word dup group (collapsible: shingleable), and a near-dup pair."""
    from flink_1_20_spark.queries.dedup_clusters import (
        best_representative_collapsed,
        best_representative_raw,
    )

    rows = [
        (0, ""),
        (1, ""),
        (2, "   "),                      # whitespace == zero words
        (3, "hello world"),              # 2 words: zero shingles
        (4, "hello world"),
        (5, "hello world"),
        (6, "alpha beta gamma"),         # exactly 3 words: 1 shingle
        (7, "alpha beta gamma"),
        (8, "the quick brown fox jumps over the lazy dog today"),
        (9, "the quick brown fox jumps over the lazy cat today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    raw = {
        (r.cluster, r.kept_doc, r.kept_n_words, r.n_members)
        for r in best_representative_raw(docs).collect()
    }
    collapsed = {
        (r.cluster, r.kept_doc, r.kept_n_words, r.n_members)
        for r in best_representative_collapsed(docs).collect()
    }
    assert collapsed == raw
    # the divergence the fix closes: docs 0-5 are six singletons
    for d in range(6):
        assert (d, d, len(rows[d][1].split()), 1) in raw
    # and shingleable exact dups DID collapse (6,7 one cluster of 2)
    assert any(c == 6 and n == 2 for c, _k, _w, n in raw)


def _hot_near_dup_corpus(spark):
    """Templated NEAR-dup hot bucket: distinct texts with IDENTICAL
    shingle sets (the same 3-word cycle repeated k times yields the
    same distinct-shingle set at every k), so every band hash collides
    but collapse_exact cannot contract them (texts differ).  Plus one
    ordinary near-dup pair and isolated texts."""
    rows = []
    for k in range(2, 12):  # 10 distinct texts, one shared bucket
        rows.append((k - 2, "alpha beta gamma " * k))
    # a COLD near-dup pair via the same cycle trick on different words:
    # identical shingle sets -> identical signatures -> guaranteed band
    # collision, bucket population 2 (under any sane cap)
    rows.append((100, "delta epsilon zeta " * 2))
    rows.append((101, "delta epsilon zeta " * 3))
    rows.append((102, "entirely different content with no overlap at all whatsoever"))
    return spark.createDataFrame(rows, "doc_id long, text string"), set(
        range(10)
    )


def test_minhash_bucket_cap_drops_hot_keeps_rest(spark):
    """r12 verdict task 4: a templated near-dup hot bucket produces a
    candidate set quadratic in its population; max_bucket drops those
    buckets before the join while pairs outside the hot bucket keep
    recall 1.0 (their buckets are under the cap)."""
    from flink_1_20_spark.operators.textdedup import minhash_lsh_pairs

    docs, hot_ids = _hot_near_dup_corpus(spark)
    raw = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", max_bucket=5
        ).collect()
    }
    hot_pairs = {p for p in raw if p[0] in hot_ids and p[1] in hot_ids}
    # the hot cluster is a clique in the raw pair set (identical
    # shingle sets -> jaccard 1.0, identical bands)
    assert len(hot_pairs) == 10 * 9 // 2
    # cap=5 < bucket population 10: every hot bucket dropped
    assert capped & hot_pairs == set()
    # recall 1.0 outside the hot bucket
    assert capped == raw - hot_pairs
    assert (100, 101) in capped


def test_simhash_bucket_cap_drops_hot_keeps_rest(spark):
    from flink_1_20_spark.operators.textdedup import simhash_pairs

    docs, hot_ids = _hot_near_dup_corpus(spark)
    raw = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=3, max_bucket=5
        ).collect()
    }
    hot_pairs = {p for p in raw if p[0] in hot_ids and p[1] in hot_ids}
    assert len(hot_pairs) == 10 * 9 // 2  # same word-sign profile -> fp equal
    assert capped & hot_pairs == set()
    assert capped == raw - hot_pairs
