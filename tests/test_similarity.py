"""Similarity search: brute-force exactness vs numpy; LSH recall."""

import os
import pathlib
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from cordon_spark import kernel
from cordon_spark.operators import similarity as S


def _vec_df(spark, n=80, dim=16, seed=0):
    rng = np.random.RandomState(seed)
    mat = kernel.l2_normalize(rng.randn(n, dim))
    pdf = pd.DataFrame({"vec_id": range(n), "v": [list(r) for r in mat]})
    return spark.createDataFrame(pdf), mat


def test_brute_force_matches_numpy(spark):
    df, mat = _vec_df(spark)
    got = S.brute_force_topk(df.filter("vec_id < 5"), df, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.nid, r.dist))
    for q in range(5):
        dists = np.clip(1.0 - mat @ mat[q], 0.0, 2.0)
        order = sorted((d, i) for i, d in enumerate(dists) if i != q)[:3]
        rows = sorted(by_q[q])
        for (rank, nid, dist), (ed, ei) in zip(rows, order):
            assert nid == ei
            assert abs(dist - ed) < 1e-9


def test_lsh_recall_vs_brute_force(spark):
    df, _ = _vec_df(spark, n=200, dim=16, seed=1)
    queries = df.filter("vec_id < 20")
    exact = {
        (r.qid, r.nid) for r in S.brute_force_topk(queries, df, k=5).collect()
    }
    approx = {
        (r.qid, r.nid)
        for r in S.lsh_ann(queries, df, k=5, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.15  # 4 planes / 16 buckets: sanity floor, not a tuning claim
    # every approx neighbor must share the query's bucket -> subset check
    assert approx  # produces results at all


def test_lsh_planes_follow_vector_width(spark):
    """lsh_ann sizes its planes from the input (no dim argument): on
    16-d vectors the sign-bit keys spread over many buckets instead of
    collapsing into one (64-d planes against 16-d vectors null every
    plane dot), and recall clears the same floor as above."""
    from pyspark.sql import functions as F

    df, _ = _vec_df(spark, n=200, dim=16, seed=1)
    planes = S._lsh_planes(df, "v", 4)
    assert planes.shape == (4, 16)
    buckets = (
        S.with_lsh_dots(df, "v", planes)
        .select(S.bucket_from_dots_col("_dots", 4).alias("b"))
        .agg(F.countDistinct("b"))
        .first()[0]
    )
    assert buckets > 1
    queries = df.filter("vec_id < 20")
    exact = {
        (r.qid, r.nid) for r in S.brute_force_topk(queries, df, k=5).collect()
    }
    approx = {
        (r.qid, r.nid) for r in S.lsh_ann(queries, df, k=5, n_planes=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.15


def test_lsh_multiprobe_recall_floor(spark):
    """Multi-probe (bit-flip probes, least-confident planes first) must
    dominate single-bucket recall and clear a real floor at fixed
    planes — the worst-case-bucket mitigation for 100 TB corpora."""
    df, _ = _vec_df(spark, n=200, dim=16, seed=1)
    queries = df.filter("vec_id < 20")
    exact = {
        (r.qid, r.nid) for r in S.brute_force_topk(queries, df, k=5).collect()
    }

    def recall(n_probes):
        approx = {
            (r.qid, r.nid)
            for r in S.lsh_ann(
                queries, df, k=5, n_planes=4, n_probes=n_probes
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5  # probes only ever widen the candidate set
    assert r5 >= 0.5  # 5 of 16 buckets probed: deterministic floor at seed 1
    # full probing of all hamming<=1 buckets: still approximate but high
    assert recall(5) > r1


def test_ivf_ann_recall_and_probe_monotonicity(spark):
    """IVF scale path: deterministic k-means inverted lists + n_probe
    nearest clusters per query. Recall floor at fixed seed; more probes
    never lose candidates; full probing == brute force."""
    df, _ = _vec_df(spark, n=200, dim=16, seed=2)
    queries = df.filter("vec_id < 15")
    exact = {
        (r.qid, r.nid) for r in S.brute_force_topk(queries, df, k=5).collect()
    }

    def recall(n_probe, n_clusters=8):
        approx = {
            (r.qid, r.nid)
            for r in S.ivf_ann(
                queries, df, k=5, n_clusters=n_clusters, n_probe=n_probe, iters=3
            ).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r1 <= r2
    assert r2 >= 0.5  # 2 of 8 clusters probed: deterministic floor at seed 2
    assert recall(8) == 1.0  # probing every cluster IS brute force


def test_kmeans_fit_deterministic_and_partition_invariant(spark):
    df, _ = _vec_df(spark, n=120, dim=8, seed=4)
    c1 = S.kmeans_fit(df.repartition(2), k=6, iters=3)
    c2 = S.kmeans_fit(df.repartition(16), k=6, iters=3)
    assert c1.shape == (6, 8)
    assert np.allclose(c1, c2, atol=1e-9)  # partial-merge order only moves ulps
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)  # unit sphere


def test_probe_buckets_structure(spark):
    """probe list: own bucket first, then distinct hamming-1 flips."""
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "v": [[1.0, 0.2, -0.3, 0.05]]})
    )
    planes = S._hyperplanes(4, 4)
    out = S.with_lsh_dots(df, "v", planes).select(
        S.bucket_from_dots_col("_dots", 4).alias("base"),
        S.probes_from_dots_col("_dots", 4, 5).alias("probes"),
    ).first()
    probes = list(out.probes)
    assert probes[0] == out.base
    assert len(set(probes)) == 5
    for p in probes[1:]:
        assert bin(p ^ out.base).count("1") == 1  # exactly one flipped plane


def test_normalize_zero_vector_passthrough(spark):
    df = spark.createDataFrame(pd.DataFrame({"vec_id": [0], "v": [[0.0, 0.0]]}))
    got = S.normalize(df, "v").first()
    assert list(got.v) == [0.0, 0.0]


def test_ivf_ann_empty_candidates(spark):
    import pandas as pd

    empty = spark.createDataFrame(pd.DataFrame({"vec_id": [], "v": []}),
                                  "vec_id long, v array<double>")
    df, _ = _vec_df(spark, n=5, dim=4, seed=0)
    out = S.ivf_ann(df, empty, k=3, n_clusters=4)
    assert out.count() == 0
    assert S.kmeans_fit(empty, k=4).shape == (0, 0)


def test_baked_ivf_centroids_match_fresh_fit(spark):
    """The ivf_ann oracle bakes the sf0.01 k-means centroids as SQL
    literals (scripts/gen_ivf_centroids.py); this guards the bake
    against drift: a fresh fit on the same data must reproduce the
    constants BIT-FOR-BIT (the fit is deterministic by design — if this
    fails, rerun the generator and check why determinism broke)."""
    import numpy as np
    from pyspark.sql import functions as F

    from cordon_spark.entry_queries import _normalized_vectors
    from cordon_spark.ivf_centroids_sf001 import IVF_CENTROIDS_SF001
    from cordon_spark.operators.similarity import kmeans_fit

    vecs = _normalized_vectors(spark, "/root/testdata/sf0.01")
    cands = vecs.select(F.col("vec_id").alias("nid"), F.col("v").alias("nv"))
    cen = kmeans_fit(cands, k=16, iters=3, id_col="nid", vec_col="nv")
    baked = np.array(IVF_CENTROIDS_SF001, dtype=np.float64)
    assert cen.shape == baked.shape
    assert np.array_equal(cen, baked)


def test_quantized_ann_recall(spark):
    """int8 quantize -> dequantize preserves neighbor structure: top-5
    recall vs the float baseline >= 0.9, and reconstruction error is
    bounded by scale/2 per element."""
    import numpy as np
    from pyspark.sql import functions as F

    from cordon_spark.entry_queries import _normalized_vectors
    from cordon_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    vecs = _normalized_vectors(spark, "/root/testdata/sf0.001")
    deq = dequantize_embeddings(quantize_embeddings(vecs)).select("vec_id", "v")
    queries = vecs.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, vecs, k=5).collect()
    approx = brute_force_topk(
        dequantize_embeddings(quantize_embeddings(queries)).select("vec_id", "v"),
        deq, k=5,
    ).collect()
    e = {(r.qid, r.nid) for r in exact}
    a = {(r.qid, r.nid) for r in approx}
    assert len(e & a) / len(e) >= 0.9
    # per-element reconstruction error <= scale/2 (+ float eps)
    row = quantize_embeddings(vecs).filter(F.col("vec_id") == 0).collect()[0]
    orig = np.array(vecs.filter(F.col("vec_id") == 0).collect()[0].v)
    rec = np.array(row.qv, dtype=np.float64) * row.q_scale
    assert np.max(np.abs(rec - orig)) <= row.q_scale / 2 + 1e-12
    # zero vector edge: scale 0, all-zero codes
    z = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, v array<double>")
    zr = quantize_embeddings(z).collect()[0]
    assert zr.q_scale == 0.0 and list(zr.qv) == [0, 0]


def _centroid_sums(df):
    """template_centroids over 7 signatures, as one array."""
    from pyspark.sql import functions as F

    from cordon_spark.operators.scoring import template_centroids

    sums, cnts = template_centroids(
        df.select(
            F.concat(F.lit("s"), (F.col("vec_id") % 7).cast("string")).alias("signature"),
            F.col("v").alias("embedding"),
        )
    )
    return np.stack([np.append(sums[sig], cnts[sig]) for sig in sorted(sums)])


def _pca(df):
    from cordon_spark.plans.visualize import pca_fit

    model = pca_fit(df, vec_col="v", k=2)
    return np.array([model["mean"], *model["components"]])


@pytest.mark.parametrize(
    "fit",
    [
        lambda df: S.kmeans_fit(df, k=6, iters=3),
        lambda df: S.pq_fit(df, m=4, n_codes=6, iters=3),
        _centroid_sums,
        _pca,
    ],
    ids=["kmeans_fit", "pq_fit", "template_centroids", "pca_fit"],
)
def test_kmeans_fit_tree_reduce_bit_reproducible(spark, fit):
    """With >_TREE_FANIN partitions the two-level tree reduce of
    scoring._partial_sums engages for every caller; partials carry
    their source partition id and every merge sums in pid order, so
    repeated fits are BIT-identical (not just allclose) even though the
    shuffle arrival order varies run to run."""
    df, _ = _vec_df(spark, n=400, dim=8, seed=11)
    wide = df.repartition(80)  # > _TREE_FANIN=64 -> tree path
    assert np.array_equal(fit(wide), fit(wide))


_THREADED_PARTIALS = """
import sys
import numpy as np
sys.path.insert(0, sys.argv[1])
from cordon_spark import kernel
from cordon_spark.operators.similarity import _lloyd_accumulate
rng = np.random.RandomState(26)
out = {}
# (dim, m, k, cosine): kmeans_fit's one cosine subspace, pq_fit's m L2 ones
for dim, m, k, cosine in ((64, 1, 16, True), (384, 1, 64, True), (64, 8, 16, False), (384, 4, 256, False)):
    for n in (500, 1203, 2999):
        mat = kernel.l2_normalize(rng.randn(n, dim))
        books = rng.randn(m, k, dim // m)
        sums = np.zeros_like(books)
        cnts = np.zeros(books.shape[:2], dtype=np.int64)
        _lloyd_accumulate(mat, books, cosine, sums, cnts)
        out[f"s{dim}-{m}-{k}-{n}"] = sums
        out[f"c{dim}-{m}-{k}-{n}"] = cnts
np.savez(sys.argv[2], **out)
"""


def test_lloyd_partials_independent_of_blas_threads(tmp_path):
    """A Python worker's BLAS thread count must not move a Lloyd
    partial: the IVF and PQ bake guards compare fits bit for bit."""
    root = str(pathlib.Path(__file__).resolve().parent.parent)
    got = {}
    for threads in ("1", "2"):
        env = dict(os.environ, OPENBLAS_NUM_THREADS=threads, OMP_NUM_THREADS=threads)
        out = tmp_path / f"partials_{threads}.npz"
        subprocess.run(
            [sys.executable, "-c", _THREADED_PARTIALS, root, str(out)], env=env, check=True
        )
        got[threads] = np.load(out)
    assert len(got["1"].files) == 24
    for key in got["1"].files:
        assert np.array_equal(got["1"][key], got["2"][key]), key


def test_ivf_index_build_query_matches_inline(spark, tmp_path):
    """Persisted IVF index (build once / query many): querying the
    on-disk index returns EXACTLY what the inline ivf_ann computes
    (same deterministic fit, same probe policy), and the scan prunes
    to the probed cluster partitions."""
    from pyspark.sql import functions as F

    df, _ = _vec_df(spark, n=200, dim=8, seed=13)
    queries = df.filter(F.col("vec_id") < 10)
    inline = {
        (r.qid, r.rank): (r.nid, round(r.dist, 9))
        for r in S.ivf_ann(queries, df, k=3, n_clusters=8, n_probe=2).collect()
    }
    path = str(tmp_path / "ivf_index")
    meta = S.ivf_build_index(df, path, n_clusters=8)
    assert meta["n_clusters"] == 8 and meta["n_vectors"] == 200
    out = S.ivf_query_index(spark, path, queries, k=3, n_probe=2)
    got = {
        (r.qid, r.rank): (r.nid, round(r.dist, 9)) for r in out.collect()
    }
    assert got == inline
    # partition pruning: the parquet scan must carry a cluster filter
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


def test_ivf_index_empty_corpus_refuses(spark, tmp_path):
    import pytest as _pytest

    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    with _pytest.raises(ValueError, match="empty corpus"):
        S.ivf_build_index(empty, str(tmp_path / "x"))


def test_pq_fit_encode_decode_roundtrip(spark):
    """Codebook shapes, deterministic encode, and reconstruction error:
    decoded vectors must beat a random-codeword baseline by a wide
    margin (the codebooks actually learned the subspace structure)."""
    df, mat = _vec_df(spark, n=120, dim=16)
    books = S.pq_fit(df, m=4, n_codes=8, iters=3)
    assert books.shape == (4, 8, 5)  # rows are [*codeword, half_cc]
    cw, half_cc = books[..., :-1], books[..., -1]
    assert np.allclose(half_cc, 0.5 * np.sum(cw**2, axis=2), rtol=0, atol=1e-15)
    enc1 = {r.vec_id: list(r.codes) for r in S.pq_encode(df, books).collect()}
    enc2 = {
        r.vec_id: list(r.codes)
        for r in S.pq_encode(df.repartition(7), books).collect()
    }
    assert enc1 == enc2  # encode is a pure projection of the row
    assert all(0 <= c < 8 for codes in enc1.values() for c in codes)
    dec = {
        r.vec_id: np.array(r.v)
        for r in S.pq_encode(df, books)
        .select("vec_id", S.pq_decode_col(S.F.col("codes"), books).alias("v"))
        .collect()
    }
    err = np.mean([np.sum((dec[i] - mat[i]) ** 2) for i in range(120)])
    rng = np.random.RandomState(1)
    rand_err = np.mean(
        [
            np.sum(
                (
                    np.concatenate(
                        [cw[j, rng.randint(8)] for j in range(4)]
                    )
                    - mat[i]
                )
                ** 2
            )
            for i in range(120)
        ]
    )
    assert err < 0.5 * rand_err
    # python-side encode parity: same argmin rule, same codes
    for i in range(0, 120, 17):
        for j in range(4):
            sub = mat[i, j * 4 : (j + 1) * 4]
            scores = cw[j] @ sub - half_cc[j]
            assert enc1[i][j] == int(np.argmax(scores))


def test_pq_ann_recall_vs_brute(spark):
    """Asymmetric-distance PQ ANN: recall@5 vs brute force must clear
    0.6 at (m=4, n_codes=16) on LOW-INTRINSIC-DIMENSION 16-dim vectors
    (rank-4 latent + noise — the regime embeddings actually live in;
    this fixture is also the one that exposed the renormalization bug:
    raw decoded-dot ranking scored 0.18 here)."""
    rng = np.random.RandomState(3)
    lat = rng.randn(150, 4) @ rng.randn(4, 16)
    mat = kernel.l2_normalize(lat + 0.05 * rng.randn(150, 16))
    pdf = pd.DataFrame(
        {"vec_id": range(150), "v": [list(r) for r in mat]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter("vec_id < 10")
    exact = S.brute_force_topk(queries, df, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.nid)

    def recall(n_codes):
        books = S.pq_fit(df, m=4, n_codes=n_codes, iters=3)
        got = S.pq_ann(queries, df, books, k=5).collect()
        sets = {}
        for r in got:
            sets.setdefault(r.qid, set()).add(r.nid)
        hits = sum(len(sets[q] & exact_sets[q]) for q in exact_sets)
        return hits / sum(len(s) for s in exact_sets.values())

    r16 = recall(16)
    assert r16 >= 0.6, r16
    # ranks are dense 1..k and deterministic
    books = S.pq_fit(df, m=4, n_codes=16, iters=3)
    rows = S.pq_ann(queries, df, books, k=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_baked_pq_codebooks_match_fresh_fit(spark):
    """Same drift guard as the IVF bake: a fresh deterministic pq_fit
    on sf0.01 must reproduce the codewords of
    cordon_spark/pq_codebooks_sf001.py bit-for-bit, and the half_cc
    constants Spark scores with must be the baked column the DuckDB
    oracle reads (not a host-recomputed dot product)."""
    from cordon_spark.entry_queries import _normalized_vectors, _pq_books
    from cordon_spark.pq_codebooks_sf001 import PQ_CODEBOOKS_SF001

    vecs = _normalized_vectors(spark, "/root/testdata/sf0.01")
    books = S.pq_fit(vecs, m=8, n_codes=16, iters=3)
    baked = np.asarray(PQ_CODEBOOKS_SF001, dtype=np.float64)
    assert np.array_equal(books[..., :-1], baked[..., :-1])
    # scored against the zero vector, each Spark score literal is
    # exactly -half_cc
    zero = S.F.array(*[S.F.lit(0.0)] * 64)
    row = spark.range(1).select(
        *[S._pq_lit_scores(_pq_books(), j, zero).alias(f"s{j}") for j in range(8)]
    ).first()
    spark_half_cc = -np.array([row[f"s{j}"] for j in range(8)])
    assert np.array_equal(spark_half_cc, baked[..., -1])


def test_ivfpq_index_full_probe_equals_pq_ann(spark, tmp_path):
    """IVF-PQ composition (FAISS shape): pq_m switches the persisted
    inverted lists to (nid, codes) storage with codebooks in meta.
    With n_probe = n_clusters the query must equal pq_ann on the SAME
    codebooks exactly (probe pruning off -> pure PQ ranking), and a
    pruned probe keeps a recall floor vs exact."""
    df, _ = _vec_df(spark, n=150, dim=16, seed=5)
    path = str(tmp_path / "ivfpq")
    meta = S.ivf_build_index(df, path, n_clusters=4, iters=3, pq_m=4)
    assert "pq_codebooks" in meta
    books = np.asarray(meta["pq_codebooks"])
    queries = df.filter("vec_id < 8")
    full = {
        (r.qid, r.rank, r.nid, round(r.dist, 12))
        for r in S.ivf_query_index(
            spark, path, queries, k=5, n_probe=4
        ).collect()
    }
    ref = {
        (r.qid, r.rank, r.nid, round(r.dist, 12))
        for r in S.pq_ann(queries, df, books, k=5).collect()
    }
    assert full == ref
    # pruned probing still finds most exact neighbors
    exact = {
        (r.qid, r.nid)
        for r in S.brute_force_topk(queries, df, k=5).collect()
    }
    pruned = {
        (r.qid, r.nid)
        for r in S.ivf_query_index(
            spark, path, queries, k=5, n_probe=2
        ).collect()
    }
    assert len(exact & pruned) / len(exact) >= 0.4
    # compressed storage really is codes, not vectors
    cols = spark.read.parquet(f"{path}/lists").columns
    assert "codes" in cols and "nv" not in cols


def test_ivfpq_refine_rerank_recovers_exact(spark, tmp_path):
    """The PQ shortlist + exact re-rank serving pattern: with a
    shortlist covering the whole corpus, refined results EQUAL exact
    brute force (quantization decides membership only, order comes
    from raw vectors); with a pruned shortlist, refined recall
    dominates unrefined PQ recall."""
    df, _ = _vec_df(spark, n=150, dim=16, seed=6)
    path = str(tmp_path / "ivfpq_r")
    S.ivf_build_index(df, path, n_clusters=4, iters=3, pq_m=4)
    queries = df.filter("vec_id < 8")
    exact = {
        (r.qid, r.rank, r.nid)
        for r in S.brute_force_topk(queries, df, k=5).collect()
    }
    full_refined = {
        (r.qid, r.rank, r.nid)
        for r in S.ivf_query_index(
            spark, path, queries, k=5, n_probe=4,
            refine_with=df, shortlist=150,
        ).collect()
    }
    assert full_refined == exact
    exact_sets = {}
    for q, _, n in exact:
        exact_sets.setdefault(q, set()).add(n)

    def recall(res):
        sets = {}
        for r in res:
            sets.setdefault(r.qid, set()).add(r.nid)
        return sum(
            len(sets.get(q, set()) & s) for q, s in exact_sets.items()
        ) / sum(len(s) for s in exact_sets.values())

    unrefined = S.ivf_query_index(
        spark, path, queries, k=5, n_probe=4
    ).collect()
    refined = S.ivf_query_index(
        spark, path, queries, k=5, n_probe=4, refine_with=df, shortlist=25
    ).collect()
    assert recall(refined) >= recall(unrefined)
    assert recall(refined) >= 0.8
