"""Centroid-sketch scorer (the 10^12-scale path, SURVEY.md §7.5):
anomalies still surface, broadcast state is tiny, scores are
partition-invariant (within float tolerance of the partial-sum order)."""

import numpy as np
import pytest

from cordon_spark.config import AnalysisConfig
from cordon_spark.datagen import TEMPLATES, generate_transcripts
from cordon_spark.plans.pipeline import analyze_transcripts


def _structured_corpus():
    """Centroid-scorer regime: conversations with REPEATED template
    structure (template = turn_idx % n, like real service logs), so
    window signatures have high support; anomaly bursts both break the
    signature and sit far from every centroid. Random-template corpora
    make every 4-gram signature a singleton — that regime belongs to the
    exact k-NN scorer, not the sketch."""
    import numpy as np
    import pandas as pd

    from cordon_spark.datagen import ANOMALY_TEXTS, _template_text

    rng = np.random.RandomState(17)
    rows = []
    truth = {}
    for c in range(8):
        conv = f"conv_{c:03d}"
        anom_at = 20 + 4 * c if c % 2 == 0 else None
        if anom_at is not None:
            truth[conv] = [(anom_at, anom_at + 2)]
        for t in range(80):
            if anom_at is not None and anom_at <= t <= anom_at + 2:
                text = ANOMALY_TEXTS[(c + t) % len(ANOMALY_TEXTS)]
            else:
                text = _template_text(rng, t % len(TEMPLATES))
            rows.append((conv, t, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf, truth


def test_centroid_pipeline_finds_planted_anomalies(spark):
    pdf, truth = _structured_corpus()
    df = spark.createDataFrame(pdf)
    cfg = AnalysisConfig(scorer="centroid", anomaly_percentile=0.1)
    res = analyze_transcripts(spark, df, cfg, templates=TEMPLATES)
    blocks = res.blocks.toPandas()
    assert len(blocks) > 0
    hits = 0
    total = 0
    for conv, spans in truth.items():
        for s, e in spans:
            total += 1
            found = blocks[
                (blocks.conv_id == conv) & (blocks.start_idx <= e) & (blocks.end_idx >= s)
            ]
            hits += 1 if len(found) else 0
    assert hits == total
    res.unpersist()


def test_centroid_scores_partition_invariant(spark):
    pdf, _ = generate_transcripts(n_convs=4, mean_turns=40, seed=5, with_edge_cases=False)
    cfg = AnalysisConfig(scorer="centroid")
    outs = []
    for n in (2, 16):
        df = spark.createDataFrame(pdf).repartition(n)
        res = analyze_transcripts(spark, df, cfg, templates=TEMPLATES)
        got = (
            res.scored_windows.orderBy("conv_id", "window_id")
            .select("score")
            .toPandas()["score"]
            .to_numpy()
        )
        outs.append(got)
        res.unpersist()
    assert np.allclose(outs[0], outs[1], atol=1e-9)


def test_centroid_tree_reduce_matches_flat_merge(spark):
    """Above _TREE_FANIN input partitions the partial sums reduce
    executor-side first (two-level treeAggregate shape); the resulting
    sum/count maps must match the driver-only merge to float ulp."""
    import pandas as pd

    from cordon_spark.operators.scoring import _TREE_FANIN, template_centroids

    rng = np.random.RandomState(3)
    n = 4000
    pdf = pd.DataFrame(
        {
            "signature": [f"s{i % 7}" for i in range(n)],
            "embedding": [list(v) for v in rng.randn(n, 8)],
        }
    )
    base = spark.createDataFrame(pdf)
    flat_sums, flat_cnts = template_centroids(base.repartition(4), "signature")
    tree_sums, tree_cnts = template_centroids(
        base.repartition(_TREE_FANIN + 36), "signature"
    )
    assert flat_cnts == tree_cnts
    assert set(flat_sums) == set(tree_sums)
    for sig in flat_sums:
        assert np.allclose(flat_sums[sig], tree_sums[sig], atol=1e-9), sig


def _knn_windows(spark, form, values):
    """(conv_id, window_id, <form>) rows: `embedding` vectors, or
    `content` texts the scorer embeds with the hash kernel."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"conv_id": "c", "window_id": np.arange(len(values)), form: list(values)}
    )
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize("form", ["embedding", "content"])
def test_knn_scorer_guard_refuses_above_limit(spark, form):
    """score_windows_knn collects the full matrix to the driver — it must
    refuse above cfg.knn_max_windows with a message pointing at the
    centroid scale path, so defaults can't OOM a driver at 10^12 turns.
    The guard is the matrix collect itself, for both input forms."""
    from cordon_spark.operators.scoring import score_windows_knn

    windows = _knn_windows(
        spark, form, [[1.0, 0.0]] * 8 if form == "embedding" else ["disk full"] * 8
    )
    with pytest.raises(ValueError, match="centroid"):
        score_windows_knn(spark, windows, AnalysisConfig(knn_max_windows=5))
    # at or below the limit it scores normally
    ok = score_windows_knn(spark, windows, AnalysisConfig(knn_max_windows=8))
    assert ok.count() == 8


@pytest.mark.parametrize("form", ["embedding", "content"])
def test_knn_scores_partition_invariant(spark, form):
    """Exact kNN scores are bit-identical on 1 input partition and on
    defaultParallelism partitions, and equal the kernel run over the
    whole matrix at once (the oracle's call) — for windows carrying an
    `embedding` column and for content-only windows, which the scorer
    embeds with the hash kernel on the driver and in each batch."""
    from cordon_spark import kernel
    from cordon_spark.operators.scoring import score_windows_knn

    cfg = AnalysisConfig(k_neighbors=5)
    rng = np.random.RandomState(26)
    if form == "embedding":
        emb = values = kernel.l2_normalize(rng.randn(1203, 64))
    else:
        values = [" ".join(f"w{t}" for t in rng.randint(0, 400, 12)) for _ in range(1203)]
        emb = kernel.embed_texts(values, cfg.embedding_dim)
    windows = _knn_windows(spark, form, values)
    want = kernel.knn_scores(emb, emb, cfg.k_neighbors)

    def scores(df):
        out = score_windows_knn(spark, df, cfg).select("window_id", "score").toPandas()
        return out.sort_values("window_id")["score"].to_numpy()

    one = scores(windows.coalesce(1))
    wide = scores(windows.repartition(spark.sparkContext.defaultParallelism))
    assert np.array_equal(one, wide)
    assert np.array_equal(one, want)


def test_centroid_without_templates_uses_global(spark, tiny_df):
    cfg = AnalysisConfig(scorer="centroid")
    res = analyze_transcripts(spark, tiny_df, cfg)  # no templates
    assert res.scored_windows.count() > 0
    assert (res.scored_windows.selectExpr("min(score)").first()[0] or 0.0) >= 0.0
    res.unpersist()


def _numpy_reference(wpdf, dim):
    """kernel.centroid_scores_loo over numpy-side embed_texts(content),
    with the per-signature sums built in numpy."""
    import pandas as pd

    from cordon_spark import kernel

    vecs = kernel.embed_texts(wpdf["content"].fillna("").tolist(), dim)
    codes, sigs = pd.factorize(wpdf["signature"])
    sums = np.zeros((len(sigs), dim))
    np.add.at(sums, codes, vecs)
    return kernel.centroid_scores_loo(
        vecs,
        list(wpdf["signature"]),
        dict(zip(sigs, sums)),
        dict(zip(sigs, np.bincount(codes).tolist())),
        sums.sum(axis=0),
        len(vecs),
    )


def _e4(x):
    return np.floor(np.asarray(x) * 1e4 + 0.5)


@pytest.fixture(scope="module")
def parity_windows(spark):
    """Template-parsed windows of the structured corpus, their numpy
    reference scores keyed by (conv_id, window_id)."""
    from cordon_spark.operators.parse import extract_templates
    from cordon_spark.operators.windowing import segment_windows

    pdf, _ = _structured_corpus()
    cfg = AnalysisConfig(scorer="centroid")
    turns = extract_templates(spark.createDataFrame(pdf), TEMPLATES)
    windows = segment_windows(turns, cfg, template_col="template_id").persist()
    wpdf = windows.toPandas().sort_values(["conv_id", "window_id"], ignore_index=True)
    assert wpdf["signature"].value_counts().max() > 1  # real LOO centroids
    wpdf["ref"] = _numpy_reference(wpdf, cfg.embedding_dim)
    yield windows, wpdf.set_index(["conv_id", "window_id"])["ref"]
    windows.unpersist()


def _assert_matches_reference(scored, ref):
    got = (
        scored.select("conv_id", "window_id", "score")
        .toPandas()
        .set_index(["conv_id", "window_id"])["score"]
        .reindex(ref.index)
    )
    assert got.notna().all() and len(got) == len(ref)
    assert np.max(np.abs(got.to_numpy() - ref.to_numpy())) <= 1e-12
    assert np.array_equal(_e4(got), _e4(ref))


@pytest.mark.parametrize("n_parts", [2, 16])
@pytest.mark.parametrize("form", ["content", "embedding"])
def test_centroid_scorer_matches_numpy_kernel(spark, parity_windows, form, n_parts):
    """Both input forms score like kernel.centroid_scores_loo on numpy
    vectors: content-only windows (the scorer re-embeds with the hash
    kernel) and windows carrying an `embedding` column."""
    from cordon_spark.functions.embeddings import create_embedder
    from cordon_spark.operators.scoring import score_windows_centroid

    windows, ref = parity_windows
    cfg = AnalysisConfig(scorer="centroid")
    if form == "embedding":
        windows = create_embedder(cfg)(windows, "content").drop("content")
    scored = score_windows_centroid(spark, windows.repartition(n_parts), cfg)
    _assert_matches_reference(scored, ref)


@pytest.mark.parametrize("n_parts", [2, 16])
def test_centroid_pipeline_scores_match_numpy_kernel(spark, parity_windows, n_parts):
    _, ref = parity_windows
    pdf, _ = _structured_corpus()
    df = spark.createDataFrame(pdf).repartition(n_parts)
    res = analyze_transcripts(
        spark, df, AnalysisConfig(scorer="centroid"), templates=TEMPLATES
    )
    assert "content" not in res.scored_windows.columns
    _assert_matches_reference(res.scored_windows, ref)
    res.unpersist()


def test_centroid_scorer_edges(spark):
    from cordon_spark.operators.scoring import score_windows_centroid, score_windows_knn

    cfg = AnalysisConfig(scorer="centroid")
    schema = "conv_id string, window_id long, signature string, content string"
    empty = score_windows_centroid(spark, spark.createDataFrame([], schema), cfg)
    assert "score" in empty.columns and empty.count() == 0
    one = spark.createDataFrame([("c", 0, "a", "disk full on node 7")], schema)
    assert [r.score for r in score_windows_centroid(spark, one, cfg).collect()] == [0.0]
    # content-only rows are re-embedded with the hash kernel, so both
    # scorers refuse them for any other backend
    model_cfg = AnalysisConfig(scorer="centroid", backend="sentence-transformers")
    with pytest.raises(ValueError, match="embedding"):
        score_windows_centroid(spark, one, model_cfg)
    with pytest.raises(ValueError, match="embedding"):
        score_windows_knn(spark, one, model_cfg)


def test_centroid_null_signature_scores_as_question_mark(spark):
    """A window without a signature belongs to "?", the windower's key
    for a turn without a template, in both passes: it scores exactly
    like the same window with "?" (a null used to crash the sums)."""
    from cordon_spark.operators.scoring import score_windows_centroid

    cfg = AnalysisConfig(scorer="centroid")
    texts = ["disk full on node 7", "disk full on node 9", "user login ok",
             "user login ok again", "kernel panic xyzzy", "disk full on node 3"]
    sigs = ["a", "a", "?", "?", "b", None]
    schema = "conv_id string, window_id long, signature string, content string"

    def scores(signatures):
        rows = [("c", i, s, t) for i, (s, t) in enumerate(zip(signatures, texts))]
        scored = score_windows_centroid(spark, spark.createDataFrame(rows, schema), cfg)
        return [r.score for r in scored.orderBy("window_id").collect()]

    assert scores(sigs) == scores([s if s is not None else "?" for s in sigs])
