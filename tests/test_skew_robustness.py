"""Skewed-corpus robustness of the dedup path (VERDICT r6 item 6).

The 10x scale section's evidence assumes roughly uniform shingle /
window frequencies. These tests inject the two real-world skew shapes
at sf0.1 and pin what the operators' plan shapes guarantee:

1. BOILERPLATE: one fixed 8-token window appended to 30% of documents
   (cookie banners, license headers). The window family groups by the
   window hash with map-side-combining aggregates, so the hot hash
   becomes ONE row with a source-set bounded by |sources| — and the
   MinHash band join is structurally immune: a band collides only when
   all 4 permutation minima agree, and 6 shared shingles out of ~100
   per doc put that at ~(6/100)^4 per band, so boilerplate adds
   (measured) ZERO candidate pairs.

2. HOT BUCKET: 5% of documents replaced with one identical text — the
   worst-case LSH band bucket (every member shares every band). The
   resulting candidate growth is exactly the true-duplicate clique
   m*(m-1)/2: OUTPUT-sized, not join noise — every extra pair is a
   genuine jaccard-1.0 duplicate the operator exists to find. The
   pairwise relation is inherently quadratic in clique size; the scale
   representation for such cliques is dedup_clusters' CC labels
   (linear in members), which is why the materialization operators
   (keep_one/keep_best) consume labels, not pairs.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
BOILER = "click here to accept all cookies and continue"  # 8 tokens


@pytest.fixture(scope="module")
def skew_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("skew")
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    boiler_dir = str(root / "boiler")
    (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 3,
                   F.concat_ws(" ", "text", F.lit(BOILER)))
            .otherwise(F.col("text")).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .write.parquet(f"{boiler_dir}/documents.parquet")
    )
    hot_dir = str(root / "hotdup")
    hot_text = "the same exact spam page body repeated verbatim " \
               "across the whole crawl again and again"
    (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") % 20 == 0, F.lit(hot_text))
            .otherwise(F.col("text")).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .write.parquet(f"{hot_dir}/documents.parquet")
    )
    n_hot = docs.where("doc_id % 20 = 0").count()
    return boiler_dir, hot_dir, n_hot


def _timed_count(fn, spark, d):
    from catalyst_spark.queries.pipeline import reset_session_caches

    reset_session_caches(spark)
    t0 = time.perf_counter()
    n = fn(spark, d).count()
    return n, time.perf_counter() - t0


def test_minhash_boilerplate_no_hot_bucket(spark, skew_dirs):
    """One 8-token window in 30% of docs must NOT hot-spot the band
    join: candidate pairs stay within noise of the clean corpus
    (measured: identical counts), and runtime stays the same order."""
    from catalyst_spark.queries.pipeline import dedup_minhash_pairs

    boiler_dir, _, _ = skew_dirs
    base_n, base_t = _timed_count(dedup_minhash_pairs, spark, SRC)
    skew_n, skew_t = _timed_count(dedup_minhash_pairs, spark, boiler_dir)
    n_boiler = spark.read.parquet(f"{boiler_dir}/documents.parquet") \
        .where("doc_id % 10 < 3").count()
    # the hot-key claim: growth stays LINEAR in boilerplated docs (short
    # docs, where 6 shared shingles are a big fraction of the set, do
    # collide occasionally — measured +70 pairs for 1 838 boilerplated
    # docs at sf0.1) and never approaches the ~1.7M-pair quadratic
    # clique an unbanded hot key would emit
    assert skew_n - base_n <= n_boiler, (skew_n, base_n, n_boiler)
    assert skew_n - base_n < n_boiler * (n_boiler - 1) // 2 * 0.001
    assert skew_t < base_t * 8 + 10  # generous: same order, no blowup


def test_minhash_hot_bucket_is_output_sized(spark, skew_dirs):
    """5% identical docs = the worst-case hot band bucket. Candidate
    growth must be exactly the true-dup clique (m*(m-1)/2 jaccard-1.0
    pairs) — output, not join noise — and every added pair verifies at
    jaccard 1.0."""
    from catalyst_spark.queries.pipeline import dedup_minhash_pairs

    _, hot_dir, n_hot = skew_dirs
    base_n, base_t = _timed_count(dedup_minhash_pairs, spark, SRC)
    df = dedup_minhash_pairs(spark, hot_dir)
    t0 = time.perf_counter()
    rows = df.collect()
    hot_t = time.perf_counter() - t0
    clique = n_hot * (n_hot - 1) // 2
    exact_dups = sum(1 for r in rows if r["jaccard"] == 1.0)
    # the clique is fully recovered (LSH recall 1.0 on identical docs)
    assert exact_dups >= clique
    # and the total is clique + base-order residue, nothing quadratic
    # beyond the genuine duplicate clique itself
    assert len(rows) <= clique + base_n * 1.1 + 10
    assert hot_t < base_t * 10 + 30


def test_overlap_matrix_boilerplate_bounded(spark, skew_dirs):
    """The hot window hash must collapse to ONE aggregation row whose
    state is the source set: each source pair's shared_windows gains
    the boilerplate window (+ a handful of append-boundary windows),
    never a per-document term; runtime stays the same order."""
    from catalyst_spark.queries.pipeline import window_overlap_source_matrix

    boiler_dir, _, _ = skew_dirs
    from catalyst_spark.queries.pipeline import reset_session_caches

    reset_session_caches(spark)
    t0 = time.perf_counter()
    base = {(r["source_a"], r["source_b"]): r["shared_windows"]
            for r in window_overlap_source_matrix(spark, SRC).collect()}
    base_t = time.perf_counter() - t0
    reset_session_caches(spark)
    t0 = time.perf_counter()
    skew = {(r["source_a"], r["source_b"]): r["shared_windows"]
            for r in window_overlap_source_matrix(spark, boiler_dir).collect()}
    skew_t = time.perf_counter() - t0
    # every source pair with boilerplate on both sides gains >= 1
    # shared window (the boilerplate h itself) plus append-boundary
    # windows (text||boiler straddles, shared only between docs whose
    # texts END identically — measured +88 for the synthetic corpus's
    # repeated suffixes). The claim under test is that the gain counts
    # DISTINCT WINDOWS (additive content), never per-document terms:
    # a per-doc term would add ~1 800 per pair at 30% boilerplate.
    gains = [skew.get(k, 0) - v for k, v in base.items()]
    assert all(-2 <= g <= 500 for g in gains), gains
    assert any(g >= 1 for g in gains)
    assert skew_t < base_t * 8 + 10


def test_incremental_shard_dedup_hot_clique_bounded(spark, skew_dirs):
    """The shard-vs-corpus band join under the worst-case hot bucket
    (5% identical docs): every clique member in the SHARD is a genuine
    exact duplicate of the corpus side (the clique spans both sides of
    the doc_id % 7 split), so candidate growth is output-relevant, and
    the audit must (a) keep n_new per source identical to the clean
    corpus (classification never drops arrivals), (b) classify every
    hot shard doc as exact, (c) stay the same runtime order — the
    shard x corpus equi-join on band buckets cannot blow past the
    clique it is supposed to find."""
    from catalyst_spark.queries.pipeline import (
        incremental_shard_dedup,
        reset_session_caches,
    )

    _, hot_dir, _ = skew_dirs
    reset_session_caches(spark)
    t0 = time.perf_counter()
    base = {r["source"]: r for r in
            incremental_shard_dedup(spark, SRC).collect()}
    base_t = time.perf_counter() - t0
    reset_session_caches(spark)
    t0 = time.perf_counter()
    skew = {r["source"]: r for r in
            incremental_shard_dedup(spark, hot_dir).collect()}
    skew_t = time.perf_counter() - t0

    assert set(skew) == set(base)
    for src in base:
        assert skew[src]["n_new"] == base[src]["n_new"], src
    hot_docs = spark.read.parquet(f"{hot_dir}/documents.parquet")
    n_hot_shard = hot_docs.where(
        "doc_id % 20 = 0 AND doc_id % 7 = 0").count()
    assert n_hot_shard > 0
    total_exact = sum(r["n_exact_dup"] for r in skew.values())
    base_exact = sum(r["n_exact_dup"] for r in base.values())
    # every hot shard doc matches the corpus-side clique fingerprint
    assert total_exact >= n_hot_shard
    assert total_exact <= base_exact + n_hot_shard
    assert skew_t < base_t * 8 + 10  # same order, no quadratic blowup


@pytest.fixture(scope="module")
def vec_skew_dir(spark, tmp_path_factory):
    """Embedding-side degenerate corpus (VERDICT r7 item 5): 30% of
    sf0.1's vectors replaced with ONE identical vector — the worst case
    for both embedding blockers at once (one hot coarse cell for
    semdedup_ivf, one hot bucket in every SRP table for
    dedup_embedding_lsh)."""
    root = tmp_path_factory.mktemp("vecskew")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    hot = emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    d = str(root / "hotvec")
    (
        emb.select(
            "vec_id",
            F.when(F.col("vec_id") % 10 < 3,
                   F.array(*[F.lit(float(x)).cast("float") for x in hot]))
            .otherwise(F.col("embedding")).alias("embedding"),
            "label",
        ).write.parquet(f"{d}/embeddings.parquet")
    )
    n_hot = emb.where("vec_id % 10 < 3").count()
    return d, n_hot


def test_embedding_hot_cell_is_output_sized(spark, vec_skew_dir):
    """semdedup_ivf under the hot vector clique: the in-cell scorer
    must recover the full cos-1.0 clique (m*(m-1)/2 pairs — genuine
    OUTPUT of a >= 0.4 semantic-dup operator, the pairwise relation is
    inherently quadratic in clique size), and candidate work must stay
    bounded by cells, never corpus x corpus; runtime stays the same
    order as the clean corpus despite the clique-sized output."""
    from catalyst_spark.queries.pipeline import (
        reset_session_caches,
        semdedup_ivf,
    )

    d, n_hot = vec_skew_dir
    reset_session_caches(spark)
    t0 = time.perf_counter()
    base_n = semdedup_ivf(spark, SRC).count()
    base_t = time.perf_counter() - t0
    reset_session_caches(spark)
    t0 = time.perf_counter()
    skew_n = semdedup_ivf(spark, d).count()
    skew_t = time.perf_counter() - t0
    clique = n_hot * (n_hot - 1) // 2
    assert skew_n >= clique  # full clique recovered (same cell, cos 1.0)
    # residue beyond the clique: hot-vs-cellmate and clean in-cell
    # pairs — bounded by the clean output plus a hot x cell-members
    # linear term, nothing corpus-quadratic beyond the genuine clique
    assert skew_n <= clique + base_n + n_hot * 2000
    assert skew_t < base_t * 10 + 60


def test_embedding_hot_srp_bucket_recovers_clique(spark, vec_skew_dir):
    """dedup_embedding_lsh under the same clique: identical vectors
    share EVERY table's bucket (the worst-case hot SRP bucket), so the
    16-table candidate join must recover the full clique exactly once
    per pair (distinct), verify it at cos 1.0, and stay output-sized;
    runtime stays the same order."""
    from catalyst_spark.queries.pipeline import (
        dedup_embedding_lsh,
        reset_session_caches,
    )

    d, n_hot = vec_skew_dir
    reset_session_caches(spark)
    t0 = time.perf_counter()
    base_n = dedup_embedding_lsh(spark, SRC).count()
    base_t = time.perf_counter() - t0
    reset_session_caches(spark)
    t0 = time.perf_counter()
    skew_n = dedup_embedding_lsh(spark, d).count()
    skew_t = time.perf_counter() - t0
    clique = n_hot * (n_hot - 1) // 2
    assert skew_n >= clique
    assert skew_n <= clique + base_n + n_hot * 2000
    assert skew_t < base_t * 10 + 60


def test_ivf_cell_stats_flags_hot_cell(spark, vec_skew_dir):
    """The index-health reports must FLAG the skew: ivf_cell_stats'
    max_cell/share jump to clique scale on the hot corpus (the
    operational signal that the quantizer needs retraining or the cell
    needs splitting), and the re-k report shows the hot cell PERSISTS
    across k=8 -> k=16 — identical vectors land in one cell at any k,
    which is exactly the data-skew (not quantizer-resolution) signature
    ivf_rek_cell_stats' docstring names."""
    from catalyst_spark.queries.pipeline import (
        ivf_cell_stats,
        ivf_rek_cell_stats,
        reset_session_caches,
    )

    d, n_hot = vec_skew_dir
    reset_session_caches(spark)
    base_max = max(r["n_vecs"] for r in ivf_cell_stats(spark, SRC).collect())
    reset_session_caches(spark)
    rows = ivf_cell_stats(spark, d).collect()
    hot_max = max(r["n_vecs"] for r in rows)
    hot_share = max(r["share_permille"] for r in rows)
    assert hot_max >= n_hot          # the clique concentrates in one cell
    assert hot_share >= 300          # >= 30% of the corpus in that cell
    assert hot_max > base_max
    rek = {r["k"]: r for r in ivf_rek_cell_stats(spark, d).collect()}
    # the hot cell persists across the re-k: max_cell stays >= clique
    # size at BOTH k values (data skew, not quantizer resolution)
    assert rek[8]["max_cell"] >= n_hot
    assert rek[16]["max_cell"] >= n_hot


def test_boilerplate_cut_under_hot_chunk(spark, skew_dirs):
    """boilerplate_line_cut under the hot-window corpus: appending one
    fixed 8-token line to 30% of docs creates (at most) one hot chunk
    hash — the boiler line lands on a chunk boundary only when the
    doc's token count is a multiple of 8 — plus per-doc straddle
    chunks. The plan claims: output stays one row per doc, cut growth
    stays LINEAR in boilerplated docs (each gains <= 2 chunks), every
    boundary-aligned boiler chunk is actually removed from the rebuilt
    text, and runtime stays the same order. A hash-keyed design that
    exploded the hot key would show quadratic growth here."""
    from catalyst_spark.queries.pipeline import (
        boilerplate_line_cut,
        reset_session_caches,
    )

    boiler_dir, _, _ = skew_dirs
    reset_session_caches(spark)
    t0 = time.perf_counter()
    base = boilerplate_line_cut(spark, SRC)
    base_rows = base.count()
    base_cut = base.agg(F.sum("n_cut")).first()[0]
    base_t = time.perf_counter() - t0
    reset_session_caches(spark)
    t0 = time.perf_counter()
    skew = boilerplate_line_cut(spark, boiler_dir)
    skew_rows = skew.count()
    skew_cut = skew.agg(F.sum("n_cut")).first()[0]
    skew_t = time.perf_counter() - t0

    docs = spark.read.parquet(f"{boiler_dir}/documents.parquet")
    n_docs = docs.count()
    n_boiler = docs.where("doc_id % 10 < 3").count()
    assert base_rows == skew_rows == n_docs  # keep-the-row convention
    # linear growth bound: <= 2 extra chunks per boilerplated doc (the
    # straddle + the aligned boiler line), never clique-quadratic
    assert abs(skew_cut - base_cut) <= 2 * n_boiler + 100, (
        base_cut, skew_cut, n_boiler)
    # boundary-aligned boiler docs (>= 2 of them make the hash hot):
    # the rebuilt text must NOT retain the boiler line
    aligned = docs.where(
        "doc_id % 10 < 3 AND size(split(text, ' ')) % 8 = 0")
    if aligned.count() >= 2:
        aligned_ids = {r["doc_id"] for r in aligned.select("doc_id").collect()}
        kept = {r["doc_id"]: r for r in skew.collect()
                if r["doc_id"] in aligned_ids}
        assert kept.keys() == aligned_ids
        texts = {r["doc_id"]: r["text"] for r in aligned.collect()}
        import hashlib
        for doc_id, r in kept.items():
            # the hot boiler chunk was genuinely removed: at least one
            # cut, and the rebuilt text is NOT the untouched original
            assert r["n_cut"] >= 1, doc_id
            full_h = hashlib.md5(texts[doc_id].encode()).hexdigest()
            assert r["kept_h"] != full_h, doc_id
    assert skew_t < base_t * 8 + 10


def test_dsir_hot_bucket_stays_model_sized(spark, skew_dirs):
    """dsir_importance_weights under the hot-dup corpus: 5% of docs
    collapse to one identical text, so a handful of hashed buckets
    absorb that text's entire token mass. The plan claims the count
    tables stay EXACTLY _DSIR_BUCKETS-bounded (model-sized broadcast
    LUTs — the hashed-feature trick is the scale argument) no matter
    how skewed the token distribution gets, the output stays top-N
    sized, and runtime stays the same order as the uniform corpus."""
    from catalyst_spark.queries.pipeline import (
        _DSIR_BUCKETS,
        _DSIR_TOPN,
        _CONTAM_EVAL_SOURCE,
        _h60,
        TOKENS,
        dsir_importance_weights,
        reset_session_caches,
    )

    _, hot_dir, _ = skew_dirs
    n_base, t_base = _timed_count(dsir_importance_weights, spark, SRC)
    n_hot, t_hot = _timed_count(dsir_importance_weights, spark, hot_dir)
    assert n_base == n_hot == _DSIR_TOPN
    # the bucket table is capped by construction — verify on the skewed
    # corpus, not the friendly one
    docs = spark.read.parquet(f"{hot_dir}/documents.parquet")
    n_buckets = (
        docs.select(F.explode(F.expr(TOKENS)).alias("w"))
        .select(F.expr(f"pmod({_h60('w')}, {_DSIR_BUCKETS})").alias("b"))
        .distinct().count()
    )
    assert n_buckets <= _DSIR_BUCKETS
    assert t_hot < 10 * t_base + 5  # same order, generous CI headroom
