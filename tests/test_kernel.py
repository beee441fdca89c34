"""Kernel behavioral parity with the reference's unit assertions
(tests/test_analysis.py, tests/test_postprocess.py semantics)."""

import numpy as np
import pytest

from cordon_spark import kernel
from cordon_spark.config import AnalysisConfig


def test_embed_deterministic_and_normalized():
    a = kernel.embed_texts(["hello world foo", "", "hello world foo"], dim=32)
    assert a.shape == (3, 32)
    assert np.allclose(a[0], a[2])
    assert np.isclose(np.linalg.norm(a[0]), 1.0)
    assert np.allclose(a[1], 0.0)  # empty text -> zero vector


def test_single_window_scores_zero():
    # reference scorer.py:344-346
    e = kernel.embed_texts(["only one"], dim=16)
    assert kernel.knn_scores(e, e, 5).tolist() == [0.0]


def test_empty_scores():
    e = np.zeros((0, 8))
    assert kernel.knn_scores(e, e, 5).shape == (0,)


def test_outlier_gets_highest_score():
    # reference tests/test_analysis.py:56-74
    rng = np.random.RandomState(0)
    base = kernel.l2_normalize(rng.randn(20, 16) * 0.01 + np.ones(16))
    outlier = kernel.l2_normalize(-np.ones((1, 16)))
    emb = np.vstack([base, outlier])
    scores = kernel.knn_scores(emb, emb, 5)
    assert scores.argmax() == 20


def test_chunk_size_invariance():
    # the batch-size invariance property, tests/test_analysis.py:76-100
    rng = np.random.RandomState(1)
    emb = kernel.l2_normalize(rng.randn(100, 24))
    s1 = kernel.knn_scores(emb, emb, 7, chunk_size=100)
    s2 = kernel.knn_scores(emb, emb, 7, chunk_size=13)
    s3 = kernel.knn_scores(emb, emb, 7, chunk_size=1)
    assert np.allclose(s1, s2, atol=1e-9)
    assert np.allclose(s1, s3, atol=1e-9)


def test_query_partition_invariance():
    rng = np.random.RandomState(2)
    emb = kernel.l2_normalize(rng.randn(50, 8))
    full = kernel.knn_scores(emb, emb, 5)
    parts = np.concatenate(
        [kernel.knn_scores(emb[i : i + 7], emb, 5) for i in range(0, 50, 7)]
    )
    assert np.array_equal(full, parts)


def test_k_capped_at_n():
    # min(k+1, n), scorer.py:76-87
    emb = kernel.l2_normalize(np.eye(3))
    scores = kernel.knn_scores(emb, emb, 10)
    assert np.allclose(scores, 1.0)  # orthogonal: all distances 1.0


def test_duplicate_embeddings_tie():
    # duplicate rows: self slot and duplicate are interchangeable at 0
    emb = kernel.l2_normalize(np.array([[1.0, 0], [1.0, 0], [0, 1.0]]))
    scores = kernel.knn_scores(emb, emb, 1)
    assert np.isclose(scores[0], 0.0)
    assert np.isclose(scores[1], 0.0)
    assert np.isclose(scores[2], 1.0)


def test_threshold_top10_of_100_ties():
    # 10-11 of 100 at p=0.1 (reference tests/test_analysis.py:222-240)
    scores = np.arange(100, dtype=float)
    cfg = AnalysisConfig(anomaly_percentile=0.1)
    mask = kernel.select_mask(scores, cfg)
    assert 10 <= mask.sum() <= 11


def test_threshold_shortcuts():
    scores = np.arange(10, dtype=float)
    assert kernel.select_mask(scores, AnalysisConfig(anomaly_percentile=1.0)).all()
    assert not kernel.select_mask(scores, AnalysisConfig(anomaly_percentile=0.0)).any()


def test_threshold_range_mode_bounds():
    # lower-inclusive, upper-exclusive (thresholder.py:51-53)
    scores = np.arange(100, dtype=float)
    cfg = AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.15)
    lower, upper = kernel.percentile_thresholds(scores, cfg)
    mask = kernel.select_mask(scores, cfg)
    kept = scores[mask]
    assert kept.min() >= lower and kept.max() < upper


def test_merge_overlap_and_adjacency():
    # overlap -> one block with ids (0,1,2); adjacency end=5,start=6 merges
    # (reference tests/test_postprocess.py:35-74)
    blocks = kernel.merge_intervals(
        [(1, 4, 0, 0.5), (3, 6, 1, 0.9), (5, 8, 2, 0.2)]
    )
    assert blocks == [(1, 8, (0, 1, 2), 0.9)]
    blocks = kernel.merge_intervals([(1, 5, 0, 0.1), (6, 9, 1, 0.3)])
    assert blocks == [(1, 9, (0, 1), 0.3)]
    blocks = kernel.merge_intervals([(1, 5, 0, 0.1), (7, 9, 1, 0.3)])
    assert len(blocks) == 2


def test_format_block_golden():
    # golden substring style, tests/test_postprocess.py:139-142
    s = kernel.format_block(1, 2, 0.8, ["line a", "line b"])
    assert s.startswith('<block lines="1-2" score="0.8000">')
    assert s.endswith("</block>")
    assert "line a\nline b" in s


def test_score_distribution_empty():
    d = kernel.score_distribution(np.zeros(0))
    assert d == {"min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0}


def test_rstrip_matches_python():
    for s in ["abc  ", "abc\t\n", "  abc", "", "x \t \n\r\f\v"]:
        assert kernel.rstrip_text(s) == s.rstrip()


def _rowwise(q, v):
    """einsum("ij,ij->i") of one row pair, so the per-row references
    below sum in the same order as the batched kernel."""
    return np.einsum("ij,ij->i", q[None, :], v[None, :])[0]


def _loo_per_row(queries, sigs, sum_map, count_map, global_sum, global_count):
    out = np.zeros(len(queries))
    if global_count <= 1:
        return out
    for i, (x, sig) in enumerate(zip(queries, sigs)):
        base = sum_map[sig] if count_map.get(sig, 0) > 1 else global_sum
        loo = base - x
        nrm = np.sqrt(_rowwise(loo, loo))
        dot = _rowwise(x, loo) / (nrm if nrm != 0.0 else 1.0)
        out[i] = min(max(1.0 - dot, 0.0), 2.0)
    return out


def _signature_case(seed):
    """Queries over seen, singleton and unseen signatures, plus the sum
    state the batch built from the seen rows."""
    rng = np.random.RandomState(seed)
    queries = kernel.l2_normalize(rng.randn(300, 16))
    pool = [f"s{i}" for i in range(6)] + ["single", "unseen_a", "unseen_b"]
    sigs = list(rng.choice(pool, size=len(queries)))
    sigs[:3] = ["single", "unseen_a", "s0"]
    seen = [s for s in pool if not s.startswith("unseen")]
    sum_map, count_map = {}, {}
    for x, sig in zip(queries, sigs):
        if sig in seen and not (sig == "single" and sig in count_map):
            sum_map[sig] = sum_map.get(sig, 0.0) + x
            count_map[sig] = count_map.get(sig, 0) + 1
    return queries, sigs, sum_map, count_map


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_centroid_scores_loo_matches_per_row_loop(seed):
    queries, sigs, sum_map, count_map = _signature_case(seed)
    assert count_map["single"] == 1 and "unseen_a" not in count_map
    global_sum = np.sum(np.stack(list(sum_map.values())), axis=0)
    for global_count in (sum(count_map.values()), 1, 0):
        got = kernel.centroid_scores_loo(
            queries, sigs, sum_map, count_map, global_sum, global_count
        )
        want = _loo_per_row(queries, sigs, sum_map, count_map, global_sum, global_count)
        assert np.array_equal(got, want), global_count
    assert kernel.centroid_scores_loo(
        queries[:0], [], sum_map, count_map, global_sum, 10
    ).shape == (0,)


@pytest.mark.parametrize("seed", [0, 1])
def test_centroid_scores_matches_per_row_loop(seed):
    queries, sigs, sum_map, _ = _signature_case(seed)
    cmap = {sig: kernel.l2_normalize(v[None, :])[0] for sig, v in sum_map.items()}
    default = kernel.l2_normalize(np.ones((1, queries.shape[1])))[0]
    got = kernel.centroid_scores(queries, sigs, cmap, default)
    want = [
        min(max(1.0 - _rowwise(x, cmap.get(sig, default)), 0.0), 2.0)
        for x, sig in zip(queries, sigs)
    ]
    assert np.array_equal(got, np.asarray(want))
