"""The correctness gate (SURVEY.md §7.4): Spark pipeline vs numpy oracle.

Exact anomaly-set equality, per-sink counts, routed-row / per-turn text
equality under (conv_id, turn_idx) ordering, partition invariance, and
golden formatted blocks — on the deterministic synthetic fixture."""

import numpy as np
import pandas as pd
import pytest

from cordon_spark.config import AnalysisConfig
from cordon_spark.operators.routing import render_blocks
from cordon_spark.oracle import run_oracle
from cordon_spark.plans.pipeline import analyze_transcripts

CFGS = [
    AnalysisConfig(),  # defaults: w4 k5 p0.1
    AnalysisConfig(window_size=5, k_neighbors=10, anomaly_percentile=0.02),
    AnalysisConfig(window_size=2, k_neighbors=3, anomaly_percentile=0.5),
    AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.15),  # band mode
]


def _block_set(blocks_pdf):
    return {
        (r.conv_id, int(r.start_idx), int(r.end_idx), round(float(r.max_score), 4))
        for r in blocks_pdf.itertuples()
    }


@pytest.mark.parametrize("cfg", CFGS, ids=["default", "w5k10p02", "w2k3p50", "band"])
def test_exact_parity(spark, tiny_transcripts, tiny_df, cfg):
    pdf, _ = tiny_transcripts
    oracle = run_oracle(pdf, cfg)
    res = analyze_transcripts(spark, tiny_df, cfg)

    # scores: exact per-window equality
    got = (
        res.scored_windows.orderBy("conv_id", "window_id")
        .select("conv_id", "window_id", "score")
        .toPandas()
    )
    exp = oracle.windows[["conv_id", "window_id", "score"]].reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got.conv_id == exp.conv_id).all()
    assert np.allclose(got.score.to_numpy(), exp.score.to_numpy(), atol=1e-12)

    # thresholds
    if oracle.threshold_lower is not None:
        assert np.isclose(res.threshold_lower, oracle.threshold_lower, atol=1e-12)
    if oracle.threshold_upper is not None:
        assert np.isclose(res.threshold_upper, oracle.threshold_upper, atol=1e-12)

    # anomaly set: exact block equality
    got_blocks = res.blocks.toPandas()
    assert _block_set(got_blocks) == _block_set(oracle.blocks)

    # per-sink counts + routed-row text equality under stable ordering
    assert res.counts["anomalous"] == oracle.stats["anomalous_turns"]
    assert res.counts["routine"] == oracle.stats["routine_turns"]
    got_routed = (
        res.routed.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text", "sink")
        .toPandas()
        .reset_index(drop=True)
    )
    exp_routed = oracle.routing.reset_index(drop=True)
    pd.testing.assert_frame_equal(got_routed, exp_routed, check_dtype=False)

    # score distribution stats
    for key in ("min", "max", "mean", "median", "p90"):
        assert np.isclose(res.stats[key], oracle.stats[key], atol=1e-12), key


@pytest.mark.parametrize(
    "scorer, with_catalog", [("knn", True), ("knn", False), ("centroid", False)]
)
def test_counts_from_data_in_hand(spark, tiny_transcripts, tiny_df, tmp_path, scorer, with_catalog):
    """The kept count (from the threshold's own data) and the sink counts
    (from the sink manifests with a catalog) equal recounts of the
    result's DataFrames, and the oracle's counts for kNN."""
    from cordon_spark.datagen import TEMPLATES
    from cordon_spark.operators.routing import sink_counts
    from cordon_spark.sources.catalog import SnapshotCatalog

    pdf, _ = tiny_transcripts
    cfg = AnalysisConfig(scorer=scorer)
    catalog = SnapshotCatalog(tmp_path / "wh") if with_catalog else None
    templates = TEMPLATES if scorer == "centroid" else None
    res = analyze_transcripts(spark, tiny_df, cfg, templates=templates, catalog=catalog)
    assert res.stats["significant_windows"] == res.significant.count() > 0
    assert res.counts == sink_counts(res.routed)
    if scorer == "knn":
        oracle = run_oracle(pdf, cfg)
        assert res.stats["significant_windows"] == oracle.stats["significant_windows"]
        assert res.counts == {
            "anomalous": oracle.stats["anomalous_turns"],
            "routine": oracle.stats["routine_turns"],
        }
    res.unpersist()


def test_formatted_blocks_golden(spark, tiny_transcripts, tiny_df):
    pdf, _ = tiny_transcripts
    cfg = AnalysisConfig()
    oracle = run_oracle(pdf, cfg)
    res = analyze_transcripts(spark, tiny_df, cfg)
    rendered = (
        render_blocks(tiny_df, res.blocks)
        .orderBy("conv_id", "start_idx")
        .select("conv_id", "block_text")
        .collect()
    )
    exp = sorted(oracle.formatted)
    got = sorted((r.conv_id, r.block_text) for r in rendered)
    assert got == exp  # byte-identical reference-format rendering
    for _, text in got:
        assert text.startswith("<block lines=")


def test_partition_count_invariance(spark, tiny_transcripts):
    pdf, _ = tiny_transcripts
    cfg = AnalysisConfig()
    results = []
    for n in (2, 16):
        df = spark.createDataFrame(pdf).repartition(n)
        res = analyze_transcripts(spark, df, cfg)
        results.append(_block_set(res.blocks.toPandas()))
    assert results[0] == results[1]


def test_empty_input(spark):
    cfg = AnalysisConfig()
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    empty = spark.createDataFrame([], schema)
    res = analyze_transcripts(spark, empty, cfg)
    assert res.scored_windows.count() == 0
    assert res.blocks.count() == 0
    assert res.stats["min"] == 0.0


def test_percentile_monotonicity(spark, tiny_transcripts, tiny_df):
    # higher percentile keeps >= windows (reference test_integration.py:80-101)
    pdf, _ = tiny_transcripts
    kept = []
    for p in (0.05, 0.1, 0.3):
        res = analyze_transcripts(spark, tiny_df, AnalysisConfig(anomaly_percentile=p))
        kept.append(res.significant.count())
    assert kept[0] <= kept[1] <= kept[2]


def test_planted_anomalies_found(spark):
    # integration semantics (reference tests/test_integration.py:12-44):
    # repetitive turns + unique error burst -> burst flagged
    from cordon_spark.datagen import generate_transcripts

    pdf, truth = generate_transcripts(
        n_convs=4, mean_turns=60, seed=3, anomaly_conv_frac=0.9, with_edge_cases=False
    )
    assert truth.anomalies  # at least one planted burst
    spark_df = spark.createDataFrame(pdf)
    res = analyze_transcripts(spark, spark_df, AnalysisConfig(anomaly_percentile=0.1))
    blocks = res.blocks.toPandas()
    found = 0
    for conv, spans in truth.anomalies.items():
        for s, e in spans:
            hit = blocks[
                (blocks.conv_id == conv)
                & (blocks.start_idx <= e)
                & (blocks.end_idx >= s)
            ]
            found += 1 if len(hit) else 0
    total = sum(len(v) for v in truth.anomalies.values())
    assert found == total  # every planted burst overlapped by a block


def test_one_conversation_routes_and_renders_by_turn(spark):
    """A log file is ONE conversation: 2,000 lines, 100+ disjoint
    blocks whose bounds ignore window edges (a one-line block, blocks on
    the first and last line). Routed sinks equal a pandas interval
    lookup; rendered strings equal kernel.format_block on the raw
    lines."""
    from cordon_spark import kernel
    from cordon_spark.operators.routing import route_turns

    n, rng = 2000, np.random.default_rng(11)
    bounds, s = [], 0
    while s < n - 20:
        e = s + int(rng.integers(0, 9))
        bounds.append((s, e))
        s = e + 2 + int(rng.integers(0, 15))
    bounds.append((n - 3, n - 1))
    assert len(bounds) >= 100 and any(a == b for a, b in bounds)
    scores = rng.random(len(bounds))
    lines = [f"line {i}" + " " * (i % 3) for i in range(n)]
    turns = spark.createDataFrame(
        pd.DataFrame({"conv_id": "file", "turn_idx": range(n), "text": lines}),
        "conv_id string, turn_idx int, text string",
    )
    blocks = spark.createDataFrame(
        [("file", a, b, float(x)) for (a, b), x in zip(bounds, scores)],
        "conv_id string, start_idx int, end_idx int, max_score double",
    )

    inside = pd.IntervalIndex.from_tuples(bounds, closed="both").get_indexer(range(n))
    sink = np.where(inside >= 0, "anomalous", "routine")
    want = {(i, lines[i], sink[i]) for i in range(n)}
    got = {(r.turn_idx, r.text, r.sink) for r in route_turns(turns, blocks).collect()}
    assert got == want

    rendered = {
        r.start_idx: r.block_text
        for r in render_blocks(turns, blocks, index_base=1).collect()
    }
    assert rendered == {
        a: kernel.format_block(a + 1, b + 1, float(x), lines[a : b + 1])
        for (a, b), x in zip(bounds, scores)
    }
