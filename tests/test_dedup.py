"""Dedup suite on crafted corpora with known duplicate structure."""

import pandas as pd
import pytest

from cordon_spark import kernel
from cordon_spark.operators import dedup as D


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (3, "completely different content about spark shuffles"),
        (4, "totally unrelated text mentioning parquet files"),
        (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, corpus):
    got = {(r.doc_id, r.n_copies) for r in D.exact_dedup(corpus).collect()}
    assert (0, 2) in got  # doc 1 collapsed into doc 0
    assert len(got) == 5


def test_ngram_jaccard_pairs(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs
    # matches the kernel's jaccard on the same shingles
    a = kernel.token_shingles(kernel.tokenize("the quick brown fox jumps over the lazy dog"), 3)
    b = kernel.token_shingles(kernel.tokenize("the quick brown fox jumps over the sleepy dog"), 3)
    assert abs(pairs[(0, 2)] - kernel.jaccard(a, b)) < 1e-12


def test_minhash_lsh_finds_exact_and_near_dups(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(corpus, n=3, bands=8, rows=2, verify_threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # identical docs always share every band
    assert all(a < b for a, b in pairs)
    # verification step keeps candidates honest: no pair below tau
    verified = D.minhash_lsh_pairs(corpus, n=3, bands=8, rows=2, verify_threshold=0.99)
    assert {(r.doc_a, r.doc_b) for r in verified.collect()} == {(0, 1)}


def test_minhash_band_keys_match_kernel(spark, corpus):
    """Spark band signatures == kernel.minhash_band_keys (shared family)."""
    from pyspark.sql import functions as F

    sh_df = corpus.select(
        "doc_id", D.shingles_col(D.tokens_col("text"), 3).alias("sh")
    )
    row = sh_df.filter(F.col("doc_id") == 0).first()
    expected = kernel.minhash_band_keys(list(row.sh), bands=8, rows=2)
    # reproduce the band signature pipeline for doc 0 only
    exploded = sh_df.filter(F.col("doc_id") == 0).select(
        "doc_id", F.explode("sh").alias("s1")
    )
    spark_ = corpus.sparkSession
    hx = (
        exploded.crossJoin(F.broadcast(spark_.range(16).withColumnRenamed("id", "j")))
        .select(
            "doc_id",
            "j",
            F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("s1"))).alias("h"),
        )
        .groupBy("doc_id", "j")
        .agg(F.min("h").alias("mh"))
        .withColumn("band", (F.col("j") / 2).cast("long"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("j", "mh"))), lambda s: s["mh"]),
                "|",
            ).alias("sig")
        )
        .orderBy("band")
        .collect()
    )
    got = [f"{r.band}|{r.sig}" for r in hx]
    assert got == expected


def test_simhash_pairs(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_pairs(corpus, max_hamming=12).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical text -> identical fingerprint
    assert (0, 2) in pairs  # near dup within hamming budget


def test_embedding_cosine_pairs(spark):
    vecs = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "v": [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
            }
        )
    )
    got = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_cosine_pairs(vecs, 0.9).collect()}
    assert set(got) == {(0, 1)} and abs(got[(0, 1)] - 1.0) < 1e-12


def test_embedding_lsh_recall_vs_exact(spark):
    """The bucketed scale path must recover (nearly) all exact cosine
    near-dup pairs at fixed deterministic planes — the exact all-pairs
    operator is its oracle."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = kernel.l2_normalize(rng.randn(40, 16))
    # plant 20 near-dup partners: tiny perturbations of the first 20
    near = kernel.l2_normalize(base[:20] + 0.05 * rng.randn(20, 16))
    mat = np.vstack([base, near])
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(mat)), "v": [list(r) for r in mat]})
    )
    exact = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_cosine_pairs(vecs, threshold=0.9, vec_col="v").collect()
    }
    assert len(exact) >= 20  # the planted pairs are found by the oracle
    approx = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_lsh_pairs(
            vecs, threshold=0.9, n_planes=8, n_probes=9, vec_col="v"
        ).collect()
    }
    assert approx <= exact  # verification step: no false positives ever
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9  # full hamming-1 probing at 8 planes, seed 7
    # single-bucket recall is strictly harder; probing must not hurt
    single = {
        (r.vec_a, r.vec_b)
        for r in D.embedding_lsh_pairs(
            vecs, threshold=0.9, n_planes=8, n_probes=1, vec_col="v"
        ).collect()
    }
    assert single <= approx


def test_empty_docs_emit_no_shingles_no_pairs(spark):
    """Two empty/whitespace docs must NOT pair as jaccard 1.0 (kernel
    token_shingles emits no shingles for them)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["", "   ", "real content here"]})
    )
    sh = docs.select(D.shingles_col(D.tokens_col("text"), 3).alias("sh")).collect()
    assert [len(r.sh) for r in sh] == [0, 0, 1]
    assert kernel.token_shingles(kernel.tokenize(""), 3) == []
    assert D.minhash_lsh_pairs(docs, n=3).collect() == []
    assert D.ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect() == []


def test_exact_dedup_digest_key_equivalent(spark, corpus):
    """key='digest' (md5 shuffle keys, the 100 TB spelling) groups
    identically to key='text'."""
    by_text = {(r.doc_id, r.n_copies) for r in D.exact_dedup(corpus).collect()}
    by_digest = {
        (r.doc_id, r.n_copies)
        for r in D.exact_dedup(corpus, key="digest").collect()
    }
    assert by_text == by_digest


def test_exact_dedup_digest_null_vs_empty(spark):
    """NULL text and empty-string text stay separate groups under BOTH
    keys (md5(NULL) is NULL; no NULL/'' collapse)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [None, "", ""]})
    )
    for key in ("text", "digest"):
        got = {(r.doc_id, r.n_copies) for r in D.exact_dedup(docs, key=key).collect()}
        assert got == {(0, 1), (1, 2)}, key


def test_dedup_clusters_components(spark):
    """Pairs -> connected components with min-id representative:
    chain merging two pair-sets, a separate 2-cycle, and transitive
    closure through shared endpoints."""
    from cordon_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21), (40, 41), (41, 42)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_rep for r in dedup_clusters(pairs).collect()}
    assert got == {
        3: 3, 5: 3, 7: 3, 9: 3,        # chain 5-3-9-7 -> rep 3
        20: 20, 21: 20,                # pair
        40: 40, 41: 40, 42: 40,        # chain
    }
    # partition invariance
    got2 = {
        r.doc_id: r.cluster_rep
        for r in dedup_clusters(pairs.repartition(7)).collect()
    }
    assert got == got2


def test_dedup_clusters_convergence_guard(spark):
    """A chain longer than max_iters rounds of propagation raises
    instead of returning a half-merged labeling."""
    import pytest as _pytest

    from cordon_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30, 10, -1)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=3)
    # and with enough rounds the same chain resolves to one component
    got = {r.doc_id: r.cluster_rep for r in dedup_clusters(chain).collect()}
    assert set(got.values()) == {11}


def test_apply_dedup_keeps_reps_and_unclustered(spark):
    from cordon_spark.operators.dedup import apply_dedup

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (3, 3), (4, 3)], "doc_id long, cluster_rep long"
    )
    kept = sorted(r.doc_id for r in apply_dedup(docs, clusters).collect())
    # reps 0 and 3 survive; members 1 and 4 drop; 2 and 5 never paired
    assert kept == [0, 2, 3, 5]


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """reliable_checkpoint=True routes iteration state through a
    reliable checkpoint dir (fault-tolerant at 100 TB) and produces the
    identical labeling; without setCheckpointDir it refuses up front."""
    import pytest as _pytest

    from cordon_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 7), (20, 21)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        with _pytest.raises(ValueError, match="setCheckpointDir"):
            dedup_clusters(pairs, reliable_checkpoint=True)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {
        r.doc_id: r.cluster_rep
        for r in dedup_clusters(pairs, reliable_checkpoint=True).collect()
    }
    assert got == {3: 3, 5: 3, 7: 3, 9: 3, 20: 20, 21: 20}


def test_minhash_collapsed_defuses_exact_dup_hot_bucket(spark):
    """50 identical docs: plain LSH emits their complete graph (1225
    pairs in one bucket — the O(m^2) skew LSH cannot salt away);
    the collapsed path emits 49 star edges and IDENTICAL connected
    components / kept corpus."""
    from cordon_spark.operators.dedup import (
        apply_dedup,
        dedup_clusters,
        minhash_lsh_pairs,
        minhash_lsh_pairs_collapsed,
    )

    boiler = "connection reset by peer retrying with exponential backoff now"
    rows = [(i, boiler) for i in range(50)]
    rows += [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    rows += [(101, "alpha beta gamma delta epsilon zeta eta theta iota mu")]
    rows += [(200, "totally unrelated content about completely different things"),
             (201, None)]
    # byte-identical EMPTY / whitespace-only dups: zero shingles, so the
    # oracle (uncollapsed) path emits no pairs — the collapse must not
    # star-edge them either (they share an md5 digest but fail the
    # size(tokens)==0 shingle guard)
    rows += [(300, ""), (301, ""), (302, " \t  "), (303, " \t  ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    plain = minhash_lsh_pairs(docs).persist()
    collapsed = minhash_lsh_pairs_collapsed(docs).persist()
    n_plain, n_collapsed = plain.count(), collapsed.count()
    assert n_plain >= 50 * 49 / 2          # the hot-bucket blowup
    assert n_collapsed == 49 + (n_plain - 50 * 49 / 2)  # star + near-dup pairs

    c_plain = {(r.doc_id, r.cluster_rep) for r in dedup_clusters(plain).collect()}
    c_coll = {(r.doc_id, r.cluster_rep) for r in dedup_clusters(collapsed).collect()}
    assert c_plain == c_coll               # identical components
    k_plain = sorted(r.doc_id for r in apply_dedup(docs, dedup_clusters(plain)).collect())
    k_coll = sorted(r.doc_id for r in apply_dedup(docs, dedup_clusters(collapsed)).collect())
    assert k_plain == k_coll               # identical kept corpus
    plain.unpersist(); collapsed.unpersist()


def _semdedup_reference(mat, centroids, tau):
    """Numpy oracle for semdedup: argmax-dot assignment (ties to the
    lowest cluster), dup iff a lower-id same-cluster row has
    cosine >= tau."""
    import numpy as np

    assign = np.argmax(mat @ centroids.T, axis=1)
    kept = []
    for i in range(mat.shape[0]):
        dup = any(
            assign[j] == assign[i] and float(mat[i] @ mat[j]) >= tau
            for j in range(i)
        )
        kept.append(not dup)
    return assign, kept


# the default row_block, and row_block=4, which splits every cluster
# into several similarity blocks (the cross-block witness case)
ROW_BLOCKS = [pytest.param({}, id="default"), pytest.param({"row_block": 4}, id="row_block4")]


@pytest.mark.parametrize("blocks", ROW_BLOCKS)
def test_semdedup_matches_numpy_reference(spark, blocks):
    """semdedup with a FRESH kmeans_fit quantizer (the non-baked path
    the entry query does not exercise) against a brute-force numpy
    oracle, including planted near-dup groups."""
    import numpy as np

    from cordon_spark.operators.similarity import kmeans_fit

    rng = np.random.RandomState(11)
    base = kernel.l2_normalize(rng.randn(30, 8))
    near = kernel.l2_normalize(base[:10] + 0.02 * rng.randn(10, 8))
    mat = np.vstack([base, near])
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(mat)), "v": [list(r) for r in mat]})
    )
    cen = kmeans_fit(vecs, k=4, iters=3)
    got = {
        r.vec_id: (r.cluster, r.kept)
        for r in D.semdedup(vecs, cen, tau=0.9, **blocks).collect()
    }
    assign, kept = _semdedup_reference(mat, cen, 0.9)
    assert len(got) == len(mat)
    for i in range(len(mat)):
        assert got[i] == (assign[i], kept[i]), i
    # the planted near-dups must actually prune something
    assert sum(1 for _, k in got.values() if not k) >= 5


@pytest.mark.parametrize("blocks", ROW_BLOCKS)
def test_semdedup_tau_extremes(spark, blocks):
    """tau > 1: nothing prunes. tau <= -1: exactly one survivor per
    cluster (the min id) — the degenerate bounds pin the comparison
    direction and the lower-id witness rule."""
    import numpy as np

    rng = np.random.RandomState(3)
    mat = kernel.l2_normalize(rng.randn(20, 6))
    vecs = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(mat)), "v": [list(r) for r in mat]})
    )
    from cordon_spark.operators.similarity import kmeans_fit

    cen = kmeans_fit(vecs, k=3, iters=2)
    all_kept = D.semdedup(vecs, cen, tau=1.5, **blocks).collect()
    assert all(r.kept for r in all_kept)
    one_per = D.semdedup(vecs, cen, tau=-1.5, **blocks).collect()
    by_cluster = {}
    for r in one_per:
        by_cluster.setdefault(r.cluster, []).append(r)
    for rows in by_cluster.values():
        kept_ids = sorted(r.vec_id for r in rows if r.kept)
        assert kept_ids == [min(r.vec_id for r in rows)]


def test_substring_dup_spans(spark):
    """Cross-doc shared phrase, within-doc repetition, and short docs:
    spans land at the right 0-based token positions, adjacent flagged
    windows merge into one maximal span, and docs with < k tokens or
    no repeated window emit nothing."""
    phrase = "alpha bravo charlie delta echo"  # 5 tokens, k=4 windows x2
    rows = [
        (0, f"intro words here {phrase} trailing unique zero"),
        (1, f"other opening text {phrase} closing unique one"),
        (2, f"{phrase} g1 g2 g3 g4 g5 g6 {phrase}"),  # within-doc
        (3, "nothing shared with anything else at all"),
        (4, "tiny doc"),  # < k tokens
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).repartition(3)
    got = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in D.substring_dup_spans(docs, k=4).collect()
    }
    # doc 0: phrase tokens at positions 3..7 -> windows start 3 and 4
    assert got[0] == (3, 7, 2)
    # doc 1: phrase at 3..7 as well
    assert got[1] == (3, 7, 2)
    assert 3 not in got and 4 not in got
    # doc 2: phrase at 0..4 and 11..15; gap of 6 tokens > k keeps the
    # two occurrences as separate islands -> grouped rows collapse to
    # one span each; the dict above keeps one row per doc, so check
    # the full row set instead
    spans2 = sorted(
        (r.span_start, r.span_end)
        for r in D.substring_dup_spans(docs, k=4).collect()
        if r.doc_id == 2
    )
    assert spans2 == [(0, 4), (11, 15)]


def test_substring_dup_spans_adjacent_merge(spark):
    """Two docs sharing a LONG run produce one merged span covering the
    run, not per-window fragments."""
    shared = " ".join(f"tok{i}" for i in range(12))
    rows = [(0, f"{shared} suffix zero"), (1, f"prefix one {shared}")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in D.substring_dup_spans(docs, k=5).collect()
    }
    assert got[0] == (0, 11, 8)  # 12-token run: windows 0..7 merge
    assert got[1] == (2, 13, 8)
