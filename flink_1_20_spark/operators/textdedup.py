"""Text deduplication primitives: shingling, MinHash+LSH, SimHash,
n-gram Jaccard — the operators a 100 TB training-data pipeline runs
before anything else.

Beyond-reference surface (SURVEY.md §7 M4; the reference engine stops at
relational/CEP operators — these extend the same DataFrame algebra).

Design rules:
- Everything is a built-in-function expression (md5 / conv / transform /
  aggregate / array_*) — zero Python UDFs, full whole-stage codegen.
- Hash = first 15 hex chars of md5 → 60-bit positive int. md5 is the one
  hash both Spark and DuckDB expose identically, which makes every
  operator oracle-checkable cross-engine (registry contract).
- Per-document signatures (minhash/simhash) are pure projections — no
  shuffle, no explode; the only shuffles are the final candidate-pair
  joins, which are the algorithmically-required ones (LSH bucket join /
  inverted index join).

Scale notes (100 TB):
- MinHash LSH: candidate generation is an equi-join on (band_idx,
  band_hash) — shuffle keyed by band hash, parallel across buckets. A
  hot bucket (boilerplate shingle sets) is AQE-skew-join territory;
  bucket width (rows_per_band) tunes precision vs bucket size.
- SimHash: pairs must share one of 4 signature bytes when hamming ≤ 3
  (pigeonhole) — the band join is exact, not approximate.
- n-gram Jaccard: inverted-index join on shingle; frequency-capped
  shingles (drop shingles in > F docs) bound worst-case fanout — the
  standard df-cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_1_20_spark.operators.util import ensure_scan_parallelism


def hash60(col: Column) -> Column:
    """60-bit positive hash reproducible in ANSI SQL:
    Spark  conv(substring(md5(x), 1, 15), 16, 10)::bigint
    DuckDB ('0x' || substring(md5(x), 1, 15))::bigint
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def hash32(col: Column) -> Column:
    """32-bit variant (first 8 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# Canonical shingle width shared by the minhash operators and the
# queries that must reason about shingle EXISTENCE (a text enters the
# pair graph iff it has >= _SHINGLE_N normalized words — word_shingles
# emits the empty array below that, which yields no minhash signature).
_SHINGLE_N = 3


def normalized_words(text: Column) -> Column:
    """lowercase, strip non-alnum, split — the canonical tokenizer shared
    by every operator here (and its SQL oracles).

    Implemented as ONE regex split on the complement class rather than
    regexp_replace(non-alnum → space) + split-on-whitespace: the two
    forms produce identical arrays for every input (separator runs
    collapse either way; verified row-for-row over a 5M-doc probe), but
    RegExpReplace rebuilds the string match-by-match and measured 22×
    slower (167 s → 7.4 s for one 5M×300-char corpus pass) — it was the
    dominant cost of every text operator's tokenize stage."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda w: w != ""
    )


def word_shingles(words: Column, n: int) -> Column:
    """Distinct n-word shingles (space-joined). Empty array if < n words.

    Perf-critical shape: `words` is itself an expression (regexp + split)
    and Catalyst's CollapseProject inlines it into every reference —
    inside a transform() lambda that means re-tokenizing the document per
    shingle (O(len²), measured 20-60× slower). The single-element
    `transform(array(words), w -> ...)` wrapper is a let-binding: the
    lambda variable `w` is evaluated once per row, and all inner
    references are O(1) lambda-variable reads."""

    def build(w: Column) -> Column:
        # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — gate
        # the < n case explicitly or element_at faults on short texts.
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        return F.when(
            F.size(w) >= n,
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(w, i + k) for k in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(words), build), 1)


def minhash_mix_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash family (a_i, b_i): one strong base
    hash per shingle, then cheap integer mixes per signature slot —
    16× fewer md5 calls than hashing per (seed, shingle). a is odd
    (~21 bits), b ~32 bits; (a*h + b) stays under 2^53, no overflow in
    either engine."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:5], 16) * 2 + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16)
        out.append((a, b))
    return out


_MASK32 = 0xFFFFFFFF


def minhash_signatures(
    docs_shingles: DataFrame, id_col: str, shingles_col: str, num_hashes: int = 16
) -> DataFrame:
    """Per-doc MinHash signatures via explode → base-hash → min-agg.

    Plan shape: generate (doc, shingle) rows (no array recompute), ONE
    md5 per shingle, then `num_hashes` cheap (a*h+b)&mask mixes reduced
    by partial min-aggregation — shuffled bytes ≈ one signature row per
    doc (rows from the same doc are co-located, so map-side combine
    collapses them before the exchange)."""
    params = minhash_mix_params(num_hashes)
    ex = docs_shingles.select(
        F.col(id_col).alias("doc"), F.explode(F.col(shingles_col)).alias("sh")
    ).withColumn("h", hash32(F.col("sh")))
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)).bitwiseAND(F.lit(_MASK32))).alias(f"mh{i}")
        for i, (a, b) in enumerate(params)
    ]
    return ex.groupBy("doc").agg(*mins)


def band_keys(sig_prefix: str, num_hashes: int, rows_per_band: int) -> list[Column]:
    """LSH band hashes: concat rows_per_band consecutive minhashes and
    rehash. Two docs collide on a band iff that slice of their signatures
    is identical."""
    bands = num_hashes // rows_per_band
    out = []
    for b in range(bands):
        cols = [F.col(f"{sig_prefix}{b * rows_per_band + r}") for r in range(rows_per_band)]
        joined = F.concat_ws(",", *[c.cast("string") for c in cols])
        out.append(hash60(joined).alias(f"band{b}"))
    return out


def simhash_fingerprints(
    docs: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Per-doc SimHash: bit b set iff sum over tokens of
    (bit b of hash32(token) ? +1 : -1) > 0. Token multiplicity counts
    (classic Charikar weighting by term frequency). Returns (doc, fp).

    Plan shape: explode tokens → ONE md5 per token → `bits` signed bit
    sums as built-in aggregates (map-side partials collapse to one row
    per doc before the shuffle). The earlier array-aggregate formulation
    re-hashed every token once per bit — 32× the md5 work."""
    words = normalized_words(F.col(text_col))
    ex = docs.select(F.col(id_col).alias("doc"), F.explode(words).alias("w")).withColumn(
        "h", hash32(F.col("w"))
    )
    sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = ex.groupBy("doc").agg(*sums)
    fp = F.lit(0).cast("bigint")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0))
    return agg.select("doc", fp.alias("fp"))


def simhash_bands(fp: Column, n_bands: int = 4, bits: int = 32) -> list[Column]:
    """Split the fingerprint into n_bands equal bit-blocks. Pigeonhole:
    hamming(a, b) < n_bands ⇒ a and b agree on ≥ 1 block — so a join on
    any-block-equal finds EVERY pair with distance ≤ n_bands - 1 (exact
    candidate generation, not approximate)."""
    width = bits // n_bands
    mask = (1 << width) - 1
    return [
        F.shiftright(fp, b * width).bitwiseAND(F.lit(mask)).alias(f"blk{b}")
        for b in range(n_bands)
    ]


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified with exact Jaccard.

    Plan shape: scan → project signatures (codegen) → explode bands →
    shuffle on band hash → pair join → exact-Jaccard filter. Output:
    (id_a, id_b, jaccard) with id_a < id_b, deduped across bands.

    The signature projection is CPU-bound per row (shingle + 16 hashes),
    so scan parallelism is its wall clock — the compact-input guard
    repartitions when splits < cores (r10; metadata-only, no-op on
    real multi-file corpora and on derived inputs like the collapsed
    variant's representatives).

    `max_bucket` (r13, VERDICT r12 task 4): drop band buckets whose
    population exceeds the cap BEFORE the self-join — the df-cut analog
    for the band index.  collapse-first eats exact-dup hot clusters,
    but a templated NEAR-dup hot cluster (distinct texts, identical
    band hashes) still makes the candidate pair set itself quadratic in
    the bucket population, a cost no AQE setting can re-plan away at
    100 TB.  A pair survives if ANY of its shared buckets is under the
    cap (bucket-wise drop, like dropping an over-frequent shingle from
    the inverted index), so recall loss is confined to pairs ALL of
    whose collisions are boilerplate-hot — measured by the
    hot-cluster probe's recall gate.  None = exact LSH (default)."""
    docs = ensure_scan_parallelism(docs)
    words = normalized_words(F.col(text_col))
    sh = word_shingles(words, shingle_n).alias("shingles")
    # No `size(shingles) > 0` filter: Catalyst would push it below the
    # projection and shingle every row twice (Filter, then Project).  A
    # doc with no shingles explodes to no signature rows, so it never
    # reaches a band, a pair or a join-back anyway.
    base = docs.select(F.col(id_col).alias("doc"), sh)
    # Multi-consumer subtrees — materialize ONCE (lazy: building the
    # DataFrame must not run a job; the first action stores the blocks
    # and every branch of that same job reuses them).  `base` feeds the
    # signature aggregation AND the two shingle join-backs (sh_a/sh_b),
    # so it is checkpointed BEFORE the signatures derive from it: were
    # `sigs` built from the un-checkpointed `base`, `long`'s lineage
    # would carry its own tokenize+shingle pass next to the one `base`
    # stores, and the corpus would be shingled twice.  `long` feeds both
    # sides of the pair self-join (plus the bucket population cut when
    # capped).  Without these, every consumer re-runs the CPU-bound
    # tokenize+shingle(+signature) pass over the whole corpus —
    # measured on the 1M-doc --hotnear fixture: 449 s before the capped
    # path gained them in r13; the uncapped path shares the cost
    # structure.  Storage is bounded: `long` is n_bands small rows per
    # doc, `base` is the shingle arrays (about the input text size),
    # both spill-to-disk RDD blocks.  On a cluster this would be
    # .checkpoint() to reliable storage.
    base = base.localCheckpoint(eager=False)
    sigs = minhash_signatures(base, "doc", "shingles", num_hashes)
    banded = sigs.select("doc", *band_keys("mh", num_hashes, rows_per_band))
    n_bands = num_hashes // rows_per_band
    # long-form (doc, band_idx, band_hash) — signatures only; the shingle
    # arrays are joined back per candidate pair (cheaper than shipping
    # the arrays through the band shuffle)
    band_struct = F.array(
        *[
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash"))
            for b in range(n_bands)
        ]
    )
    long = banded.select("doc", F.explode(band_struct).alias("bk")).select(
        "doc", "bk.band_idx", "bk.band_hash"
    )
    long = long.localCheckpoint(eager=False)
    if max_bucket is not None:
        # bucket-population cut: one aggregate on the SAME key as the
        # pair join (shuffle reused), buckets above the cap removed
        # before the quadratic step ever sees them.
        pop = (
            long.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("__pop"))
            .filter(F.col("__pop") <= max_bucket)
            .drop("__pop")
        )
        long = long.join(pop, ["band_idx", "band_hash"])
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
        .filter(F.col("jac") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) <= max_hamming.

    Requires max_hamming < n_bands (=4) so the block join is exhaustive
    (see simhash_bands pigeonhole note).

    `max_bucket` (r13): drop pigeonhole blocks with population above
    the cap before the block self-join — same templated-hot-bucket
    rationale as minhash_lsh_pairs' cap.  With a dropped block the
    pigeonhole guarantee weakens to "some OTHER block pair must
    collide", so recall loss concentrates on near-dup pairs whose
    every agreeing block is boilerplate-hot.  None = exhaustive."""
    n_bands = 4
    if max_hamming >= n_bands:
        raise ValueError("max_hamming must be < 4 for exact 4-block LSH")
    # fingerprinting is CPU-bound per row — compact-input guard (r10)
    docs = ensure_scan_parallelism(docs)
    fp = simhash_fingerprints(docs, id_col, text_col, bits)
    blk = fp.select("doc", "fp", *simhash_bands(F.col("fp"), n_bands, bits))
    block_struct = F.array(
        *[
            F.struct(F.lit(b).alias("blk_idx"), F.col(f"blk{b}").alias("blk_val"))
            for b in range(n_bands)
        ]
    )
    long = blk.select("doc", "fp", F.explode(block_struct).alias("b")).select(
        "doc", "fp", "b.blk_idx", "b.blk_val"
    )
    # two-consumer subtree (both sides of the block self-join, plus the
    # population cut when capped): materialize once so the per-token
    # md5 + fingerprint aggregation runs a single time (see
    # minhash_lsh_pairs' multi-consumer note)
    long = long.localCheckpoint(eager=False)
    if max_bucket is not None:
        pop = (
            long.groupBy("blk_idx", "blk_val")
            .agg(F.count(F.lit(1)).alias("__pop"))
            .filter(F.col("__pop") <= max_bucket)
            .drop("__pop")
        )
        long = long.join(pop, ["blk_idx", "blk_val"])
    left = long.select(F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "blk_idx", "blk_val")
    right = long.select(F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "blk_idx", "blk_val")
    # merge hint (r11): the band join has ~1024 distinct keys with huge
    # equal-key blocks (the pigeonhole cross product IS the output), and
    # sort-merge enumerates an equal-key block from two sorted runs
    # while a shuffled-hash build holds the whole block's hash bucket —
    # measured fresh-session at 10x: SMJ 291.7s vs SHJ 355.7s. The
    # engine default is hash-first (session.py), so pin SMJ here where
    # it is measurably right.
    #
    # hamming filter BEFORE dropDuplicates (r12): both fingerprints are
    # already on the joined row, and the 8-bit block values make the
    # candidate cross product far larger than the true pair set —
    # deduplicating first shuffled EVERY candidate pair and only then
    # discarded the far ones.  Filtering first cuts the dedup shuffle
    # to rows that can appear in the output (identical result: hamming
    # is a function of the pair, so filter and dedup commute).
    return (
        left.hint("merge").join(right, ["blk_idx", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via inverted-index join (no approximation).

    shuffle 1: explode distinct shingles → join on shingle (the inverted
    index); shuffle 2: count shared shingles per pair. `max_doc_freq`
    drops shingles appearing in more docs (df-cut) to bound fanout on
    boilerplate — at 100 TB this is mandatory."""
    # shingling is CPU-bound per row — compact-input guard (r10)
    docs = ensure_scan_parallelism(docs)
    words = normalized_words(F.col(text_col))
    # No `size(shingles) > 0` filter (same reason as minhash_lsh_pairs):
    # a doc with no shingles explodes to no posting, so it never reaches
    # the join on `sh`.
    base = docs.select(
        F.col(id_col).alias("doc"), word_shingles(words, shingle_n).alias("shingles")
    )
    # multi-consumer subtree (r13 verdict task 3, same rationale as
    # minhash_lsh_pairs): `base` feeds the sizes lookup and every
    # consumer of the inverted index (both self-join sides, plus the
    # df-cut count when enabled) — one lazy materialization instead of
    # re-running the tokenize+shingle pass per consumer.  `inv` itself
    # is deliberately NOT checkpointed: the probe A/B (1M unique docs,
    # scripts/scale_probe.py --uncappedab) measured storing the ~38
    # exploded posting rows per doc SLOWER than re-running the explode
    # from the materialized shingle arrays (21 -> 40 s warm) — the
    # explode is a narrow projection; the tokenize+shingle pass is the
    # expensive part.
    base = base.localCheckpoint(eager=False)
    inv = base.select("doc", F.explode("shingles").alias("sh"))
    sizes = base.select("doc", F.size("shingles").alias("n_sh"))
    if max_doc_freq is not None:
        freq = inv.groupBy("sh").count().filter(F.col("count") <= max_doc_freq)
        inv = inv.join(freq.select("sh"), "sh")
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
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
    )


def cross_corpus_contaminated(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Doc-level train/eval decontamination: exact n-gram Jaccard between
    TRAIN docs and EVAL docs (GPT-3-style benchmark decontamination, one
    level above the n-gram membership probe in queries/governance.py).

    Same inverted-index plan as ngram_jaccard_pairs, but the index join
    is strictly ACROSS corpora (train side × eval side) — no within-
    corpus pairs are generated, so the candidate fanout is |shared
    shingle postings| between the two sides only. `max_doc_freq` df-cuts
    boilerplate shingles; at 100 TB train × small eval the eval-side
    postings list is tiny and the join is effectively a semi-broadcast
    probe of the train index.

    Exact-duplicate collapse (pure plan optimization, identical output):
    real corpora — and replicated scale probes — carry many byte-equal
    texts, and every copy would re-shingle and re-join with identical
    results. Each side is collapsed to DISTINCT texts (keyed by md5),
    Jaccard runs between distinct texts only, and the verdict expands
    back to all (train_id, eval_id) pairs through the id↔hash maps.
    Identical text ⇒ identical shingles ⇒ identical jac, so the emitted
    rows are exactly those of the uncollapsed form (measured 36 s → 4 s
    at a 10× replication probe, quadratic in the replication factor)."""

    def shingled(df: DataFrame, side: str) -> tuple[DataFrame, DataFrame]:
        ids = df.select(
            F.col(id_col).alias(f"{side}_id"), F.md5(F.col(text_col)).alias(f"{side}_h")
        )
        distinct = (
            df.select(F.md5(F.col(text_col)).alias("h"), F.col(text_col).alias("t"))
            .dropDuplicates(["h"])
            .select(
                F.col("h").alias(f"{side}_h"),
                word_shingles(normalized_words(F.col("t")), shingle_n).alias(
                    "shingles"
                ),
            )
        )  # unfiltered: a shingle-count filter shingles twice (ngram_jaccard_pairs)
        return distinct, ids

    t, t_ids = shingled(train, "train")
    e, e_ids = shingled(eval_docs, "eval")
    t_sizes = t.select("train_h", F.size("shingles").alias("n_train"))
    e_sizes = e.select("eval_h", F.size("shingles").alias("n_eval"))
    t_inv = t.select("train_h", F.explode("shingles").alias("sh"))
    e_inv = e.select("eval_h", F.explode("shingles").alias("sh"))
    if max_doc_freq is not None:
        # the df-cut counts DOCUMENTS, not distinct texts: each distinct
        # text's postings are weighted by its copy count, so the cut
        # fires on exactly the same shingles as the uncollapsed form
        # (1000 byte-identical boilerplate docs still count as 1000)
        t_copies = t_ids.groupBy(F.col("train_h").alias("h")).agg(
            F.count("*").alias("copies")
        )
        e_copies = e_ids.groupBy(F.col("eval_h").alias("h")).agg(
            F.count("*").alias("copies")
        )
        freq = (
            t_inv.select(F.col("train_h").alias("h"), "sh")
            .join(t_copies, "h")
            .unionByName(
                e_inv.select(F.col("eval_h").alias("h"), "sh").join(e_copies, "h")
            )
            .groupBy("sh")
            .agg(F.sum("copies").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        t_inv = t_inv.join(freq, "sh")
        e_inv = e_inv.join(freq, "sh")
    shared = (
        t_inv.join(e_inv, "sh")
        .groupBy("train_h", "eval_h")
        .agg(F.count("*").alias("inter"))
    )
    verdict = (
        shared.join(t_sizes, "train_h")
        .join(e_sizes, "eval_h")
        .withColumn(
            "jac",
            F.col("inter") / (F.col("n_train") + F.col("n_eval") - F.col("inter")),
        )
        .filter(F.col("jac") >= threshold)
        .select("train_h", "eval_h", F.round("jac", 6).alias("jac"))
    )
    # expand the distinct-text verdict back to every concrete id pair
    return (
        verdict.join(t_ids, "train_h")
        .join(e_ids, "eval_h")
        .select("train_id", "eval_id", "jac")
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    boundary_nibbles: tuple[str, ...] = ("0", "8"),
    min_span: int = 24,
    min_occurrences: int = 2,
    keep_first: bool = False,
    unit: str = "char",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    character spans repeated verbatim anywhere in the corpus are
    removed IN PLACE and each document reassembled from its surviving
    spans — the within-corpus complement of the cross-document C4 rule
    in queries/governance.dedup_boilerplate_chunks.

    The paper's suffix array is inherently single-address-space; the
    distributed equivalent is CONTENT-DEFINED CHUNKING (the rsync/CDC
    boundary trick): position i ends a chunk when the hash of the
    trailing `window`-char gram lands in `boundary_nibbles` (last md5
    nibble; 2 of 16 nibbles → mean chunk ≈ window + 8 chars).
    Boundaries depend only on local content, so a long span shared by
    two documents produces IDENTICAL interior chunks regardless of
    where it sits in either document — alignment-invariance that
    fixed-stride windows cannot give.  A chunk is DUPLICATED when its
    exact text occurs ≥ `min_occurrences` times anywhere (any document,
    including within-document repeats); a MAXIMAL RUN of consecutive
    duplicated chunks whose total length ≥ `min_span` chars is removed
    — the run rule, not a per-chunk length bar, is what lets spans far
    longer than the mean chunk (≈ window + 8 chars) hit the paper's
    span threshold.  Default removes ALL copies (the C4-style rule);
    ``keep_first=True`` is the paper-faithful variant — the globally
    FIRST occurrence of each duplicated chunk (min doc id, then min
    chunk index: a deterministic total order) is exempt from removal,
    so one copy of every repeated span survives in the corpus.  Known
    approximation: adjacent chunks in one run may be duplicated
    against DIFFERENT sources, which over-removes slightly vs a true
    suffix-array match.

    ``unit`` picks the span space: ``"char"`` (the shipped r9 form —
    grams are character substrings, `min_span` in chars) or ``"token"``
    (the paper-faithful space: Lee et al. define their 50-token
    threshold over token sequences — grams are `window`-token slices of
    the canonical tokenizer's output, `min_span` in tokens, and
    clean_text is the normalized space-joined token stream).  The CDC
    boundary contract is identical in both spaces.

    Returns one row per document that produced at least one chunk:
    (doc, kept_chunks, removed_chunks, removed_chars|removed_tokens,
    clean_text).

    100 TB scale: boundary hashing is linear in corpus characters and
    chunking is a stateless projection (swap md5 for a rolling Rabin
    polynomial in production — the boundary CONTRACT, not the hash, is
    what the oracle checks); duplicate marking groups and joins on the
    32-char md5 of the chunk (never the chunk text) — a plain
    equi-join, broadcast when the duplicated-span table is small and a
    shuffled hash join otherwise (AQE's call); the run windows
    partition by document, and reassembly is ONE shuffle on doc id.
    No NLJ anywhere."""
    chunks = _cdc_chunks(
        docs, id_col, text_col, window, boundary_nibbles, unit=unit
    )
    dup = (
        chunks.groupBy(F.md5("chunk").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_occurrences)
        .select("h", F.lit(True).alias("__dup"))
    )
    marked = (
        chunks.withColumn("h", F.md5("chunk"))
        .join(dup, "h", "left")
        .withColumn("is_dup", F.coalesce("__dup", F.lit(False)))
    )
    if keep_first:
        # the paper's leave-one-copy rule: the globally first occurrence
        # of each duplicated chunk (min doc, then min idx — total order)
        # is exempt.  r12: argmin via groupBy+min(struct) joined back,
        # restricted to DUPLICATED chunks — the former
        # Window.partitionBy(h).row_number shuffled+sorted EVERY chunk
        # and would serialize a Zipfian-hot boilerplate chunk's whole
        # occurrence set onto one task (WindowExec has no skew
        # handling); the aggregate shrinks hot chunks map-side and
        # only dup chunks pay the extra shuffle.
        first_occ = (
            marked.filter(F.col("is_dup"))
            .groupBy("h")
            .agg(F.min(F.struct("doc", "idx")).alias("__first"))
        )
        marked = marked.join(first_occ, "h", "left").withColumn(
            "is_dup",
            F.col("is_dup")
            & (F.struct("doc", "idx") != F.col("__first")),
        ).drop("__first")
    marked = marked.drop("h", "__dup")
    return _remove_marked_runs(chunks, marked, min_span, unit=unit)


def exact_substring_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    boundary_nibbles: tuple[str, ...] = ("0", "8"),
    min_span: int = 24,
    unit: str = "char",
) -> DataFrame:
    """Span-level exact-substring DECONTAMINATION: verbatim character
    spans of ≥ `min_span` chars that also appear in the `bench`
    (evaluation-benchmark) corpus are surgically removed from every
    training document, which is reassembled from its surviving spans —
    the cross-corpus complement of exact_substring_dedup and the
    span-removal upgrade over document-level dropping
    (queries/governance.pipeline_decontaminated_corpus): a 500-token
    document that quotes one benchmark sentence loses the SENTENCE,
    not the document (Lee et al. 2022 §6 run their exact-substring
    machinery for decontamination exactly this way).

    Same CDC boundary contract as exact_substring_dedup (identical
    interior chunks at any alignment), with the duplicate set replaced
    by the benchmark's chunk hashes: a training chunk is contaminated
    when its md5 appears among the bench chunks, and maximal
    contaminated runs totalling ≥ `min_span` chars are removed.

    Returns the same per-document shape as exact_substring_dedup.

    100 TB scale: the bench side is small (benchmarks are ~10^5-10^6
    chunks) so its distinct hash set broadcasts; the training side is
    one linear chunking scan + the broadcast membership join + one
    doc-partitioned run window + one reassembly shuffle. No NLJ.
    ``unit="token"`` runs the same machinery in token space (see
    exact_substring_dedup)."""
    chunks = _cdc_chunks(
        docs, id_col, text_col, window, boundary_nibbles, unit=unit
    )
    # single consumer + tiny side: no persist (nothing reuses it) and
    # no parallelism guard (it collapses into a broadcast immediately)
    bench_h = (
        _cdc_chunks(
            bench, id_col, text_col, window, boundary_nibbles,
            multi_consumer=False, unit=unit,
        )
        .select(F.md5("chunk").alias("h"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    marked = (
        chunks.withColumn("h", F.md5("chunk"))
        .join(F.broadcast(bench_h), "h", "left")
        .withColumn("is_dup", F.coalesce("__dup", F.lit(False)))
        .drop("h", "__dup")
    )
    return _remove_marked_runs(chunks, marked, min_span, unit=unit)


def _cdc_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    boundary_nibbles: tuple[str, ...],
    multi_consumer: bool = True,
    unit: str = "char",
) -> DataFrame:
    """Content-defined chunking shared by the exact-substring family:
    (doc, idx, chunk, w) rows — `w` is the chunk's weight in the
    chosen unit — with boundaries where the md5 of the trailing
    `window`-gram ends in one of `boundary_nibbles`.

    ``unit="char"``: grams are character substrings, `w` = chars.
    ``unit="token"``: the document is first tokenized with the
    canonical tokenizer (normalized_words — the one every operator and
    oracle here shares), grams are space-joined `window`-token slices,
    chunks are space-joined token runs, `w` = tokens.  Same boundary
    CONTRACT either way: a shared span chunks identically at any
    offset, because the boundary depends only on the trailing gram.

    ``multi_consumer=False`` skips the persist and the parallelism
    guard — right for a small single-consumer side (e.g. the benchmark
    corpus that collapses straight into a broadcast hash set)."""
    if unit not in ("char", "token"):
        raise ValueError(f"unit must be 'char' or 'token', got {unit!r}")
    if multi_consumer:
        docs = ensure_scan_parallelism(docs)
    w = int(window)
    nibs = ", ".join(f"'{n}'" for n in boundary_nibbles)
    # the boundary scan (one md5 per position) MUST land in its own
    # projection step: inlined into the chunk lambda it would re-run
    # per chunk index — an O(len²) blowup Catalyst's subexpression
    # elimination does not reach across lambda scopes. (CollapseProject
    # keeps these steps separate because every produced column is
    # referenced more than once downstream — non-cheap multi-referenced
    # expressions don't collapse.)
    if unit == "char":
        cuts = (
            f"CASE WHEN length({text_col}) >= {w} THEN "
            f"filter(transform(sequence({w}, length({text_col})), "
            f"i -> CASE WHEN substring(md5(substring({text_col}, i - {w - 1}, {w})), 32, 1) "
            f"IN ({nibs}) THEN i END), x -> x IS NOT NULL) "
            f"ELSE CAST(array() AS ARRAY<INT>) END"
        )
        chunk_structs = (
            f"filter(transform(sequence(1, size(__b) - 1), "
            f"j -> struct(j AS idx, substring({text_col}, "
            f"element_at(__b, j) + 1, "
            f"element_at(__b, j + 1) - element_at(__b, j)) AS chunk, "
            f"element_at(__b, j + 1) - element_at(__b, j) AS w)), "
            f"s -> s.chunk <> '')"
        )
        out = (
            docs.selectExpr(f"{id_col} AS doc", text_col, f"{cuts} AS __cuts")
            .selectExpr(
                "doc",
                text_col,
                f"concat(array(0), __cuts, array(length({text_col}))) AS __b",
            )
            .selectExpr("doc", f"inline({chunk_structs})")
        )
    else:
        # token space (Lee et al. 2022 define spans in tokens): the
        # tokenizer lands in its own projection, then cuts over token
        # INDICES — the gram is the space-joined trailing window-slice,
        # so both engines hash the identical string
        tok = (
            f"filter(split(regexp_replace(lower({text_col}), "
            f"'[^a-z0-9 ]', ' '), '\\\\s+'), x -> x <> '')"
        )
        cuts = (
            f"filter(transform(sequence({w}, size(__t)), "
            f"i -> CASE WHEN substring(md5(concat_ws(' ', "
            f"slice(__t, i - {w - 1}, {w}))), 32, 1) "
            f"IN ({nibs}) THEN i END), x -> x IS NOT NULL)"
        )
        chunk_structs = (
            f"filter(transform(sequence(1, size(__b) - 1), "
            f"j -> struct(j AS idx, concat_ws(' ', slice(__t, "
            f"element_at(__b, j) + 1, "
            f"element_at(__b, j + 1) - element_at(__b, j))) AS chunk, "
            f"element_at(__b, j + 1) - element_at(__b, j) AS w)), "
            f"s -> s.w > 0)"
        )
        out = (
            docs.selectExpr(f"{id_col} AS doc", f"{tok} AS __t")
            .selectExpr(
                "doc",
                "__t",
                f"CASE WHEN size(__t) >= {w} THEN {cuts} "
                "ELSE CAST(array() AS ARRAY<INT>) END AS __cuts",
            )
            .selectExpr(
                "doc", "__t", "concat(array(0), __cuts, array(size(__t))) AS __b"
            )
            .selectExpr("doc", f"inline({chunk_structs})")
        )
    if not multi_consumer:
        return out
    # multiple consumers (dup/mark, totals) — persist so the
    # per-position md5 boundary scan runs ONCE, not once per branch.
    # LAZY: building the DataFrame must not run a Spark job (plan
    # inspection / sweep construction would pay the full corpus
    # scan up front); the first action materializes the blocks and
    # every branch of that same job reuses them. On a cluster this
    # would be .checkpoint() to reliable storage.
    return out.localCheckpoint(eager=False)


def _remove_marked_runs(
    chunks: DataFrame, marked: DataFrame, min_span: int, unit: str = "char"
) -> DataFrame:
    """Shared tail of the exact-substring family: drop maximal runs of
    consecutive `is_dup` chunks totalling ≥ `min_span` units (each
    chunk's `w` column carries its weight — chars or tokens), then
    reassemble each document in chunk order.  Token-mode chunks rejoin
    with a single space (they are space-joined token runs); the removed
    column is named for the unit (`removed_chars` / `removed_tokens`)."""
    from pyspark.sql import Window

    sep = "" if unit == "char" else " "
    removed = "removed_chars" if unit == "char" else "removed_tokens"
    # gaps-and-islands: consecutive same-flag chunks share an island id;
    # a dup island's total weight decides removal (the run rule)
    w_isl = Window.partitionBy("doc", "is_dup").orderBy("idx")
    w_run = Window.partitionBy("doc", "is_dup", "isl")
    runs = marked.withColumn(
        "isl", F.col("idx") - F.row_number().over(w_isl)
    ).withColumn("rl", F.sum("w").over(w_run))
    kept = runs.filter(~F.col("is_dup") | (F.col("rl") < min_span)).select(
        "doc", "idx", "chunk", "w"
    )
    totals = chunks.groupBy("doc").agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum("w").alias("total_w"),
    )
    reasm = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("kept_chunks"),
        F.sum("w").alias("kept_w"),
        F.concat_ws(
            sep,
            F.expr(
                "transform(array_sort(collect_list(struct(idx, chunk))),"
                " s -> s.chunk)"
            ),
        ).alias("clean_text"),
    )
    return totals.join(reasm, "doc", "left").select(
        "doc",
        F.coalesce("kept_chunks", F.lit(0)).cast("long").alias("kept_chunks"),
        (F.col("total_chunks") - F.coalesce("kept_chunks", F.lit(0)))
        .cast("long")
        .alias("removed_chunks"),
        (F.col("total_w") - F.coalesce("kept_w", F.lit(0)))
        .cast("long")
        .alias(removed),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate assignment by content hash: every row gets its
    cluster's canonical (min) id.

    Plan (r12): groupBy(fingerprint).agg(min) joined back, NOT a
    Window.partitionBy(fingerprint) min — WindowExec has no skew
    handling, so a Zipfian hot content (one viral text = millions of
    identical rows) would place its whole partition on ONE task; the
    aggregate shrinks the hot group map-side and the join-back is a
    plain equi-join AQE's skew-split can divide (the same
    hot-key-robust shape as the skew probe's adjudication)."""
    h = docs.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("fingerprint")
    )
    canon = h.groupBy("fingerprint").agg(F.min("doc").alias("canonical_doc"))
    return h.join(canon, "fingerprint").select(
        "doc",
        "fingerprint",
        "canonical_doc",
        (F.col("doc") != F.col("canonical_doc")).alias("is_duplicate"),
    )


def simhash_pairs_collapsed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Exact-collapse-first SimHash pairs — the dup-heavy-corpus form.

    Raw pair emission is OUTPUT-quadratic in duplicate-group size: a
    content repeated g times contributes g*(g-1)/2 identical-fingerprint
    pairs before any near-dup is found (measured: a 10x-replicated
    corpus inflated pairs 102x, scripts/scale_probe.py). Real corpora
    are 30-60% duplicated, so at 100 TB the raw form drowns in
    exact-dup pairs. This variant collapses identical content to one
    representative first (one hash + one groupBy), runs the pigeonhole
    block join over REPRESENTATIVES only, and carries group sizes so
    the caller can recover raw-pair counts: a rep pair (a, b) stands
    for size_a*size_b cross pairs, and each group additionally holds
    g*(g-1)/2 internal exact-dup pairs (hamming 0 by construction).

    Output: id_a, id_b, hamming, size_a, size_b.
    """
    reps, sizes = collapse_exact(docs, id_col, text_col)
    pairs = simhash_pairs(reps, id_col, text_col, max_hamming, bits)
    size_a = sizes.select(
        F.col("rep").alias("id_a"), F.col("group_size").alias("size_a")
    )
    size_b = sizes.select(
        F.col("rep").alias("id_b"), F.col("group_size").alias("size_b")
    )
    return pairs.join(size_a, "id_a").join(size_b, "id_b").select(
        "id_a", "id_b", "hamming", "size_a", "size_b"
    )


def collapse_exact(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse identical content to its min-id representative.

    Returns (reps, sizes): reps has the original (id_col, text_col)
    schema restricted to one row per distinct content; sizes maps
    representative id -> group_size. The pre-step every near-dup
    operator should run on dup-heavy corpora (see
    simhash_pairs_collapsed for the measured 20x).

    Plan shape (r12): grouped by md5(text) with the text carried as
    first() — NOT by the raw text as the group key.  Two reasons, both
    measured at the 5M-doc flagship probe: (a) the exchange and the
    aggregate hash table key on 16 bytes instead of the full document;
    (b) downstream predicates on the representative text (e.g.
    minhash_lsh_pairs' shingle-count filter) are deterministic
    functions of a GROUP KEY and Catalyst's PushPredicateThroughAggregate
    pushes them below the collapse — shingling all 5M pre-collapse rows
    once per plan branch (measured 158 s/branch; the whole collapsed
    minhash was 318 s).  first(text) makes the text an AGGREGATE OUTPUT,
    which is structurally unpushable — 5.3 s warm / 13 s cold after the
    change (with the normalized_words single-split rewrite).
    md5-collision risk is the same convention the exact-dedup operator
    and every cross-engine oracle already accept."""
    content = docs.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__txt")
    )
    groups = content.groupBy(F.md5("__txt").alias("__h")).agg(
        F.min("doc").alias("rep"),
        F.first("__txt").alias("__txt"),
        F.count("*").alias("group_size"),
    )
    reps = groups.select(
        F.col("rep").alias(id_col), F.col("__txt").alias(text_col)
    )
    sizes = groups.select("rep", "group_size")
    return reps, sizes


def minhash_lsh_pairs_collapsed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Exact-collapse-first MinHash LSH pairs (same rationale and
    output contract as simhash_pairs_collapsed: representative pairs
    with group sizes; raw pair set = size_a*size_b cross pairs + the
    per-group internal exact-dup pairs, which all have jaccard 1.0).

    Output: id_a, id_b, jac, size_a, size_b.
    """
    reps, sizes = collapse_exact(docs, id_col, text_col)
    pairs = minhash_lsh_pairs(
        reps, id_col, text_col, shingle_n, num_hashes, rows_per_band,
        jaccard_threshold,
    )
    size_a = sizes.select(
        F.col("rep").alias("id_a"), F.col("group_size").alias("size_a")
    )
    size_b = sizes.select(
        F.col("rep").alias("id_b"), F.col("group_size").alias("size_b")
    )
    return pairs.join(size_a, "id_a").join(size_b, "id_b").select(
        "id_a", "id_b", "jac", "size_a", "size_b"
    )
