"""OP-1 text source, OP-12 CLI, OP-13 eval metrics, streaming router."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cordon_spark.sources.textfile import log_lines_as_transcript, read_log_lines


def test_read_log_lines_one_indexed_raw(spark, tmp_path):
    p = tmp_path / "x.log"
    p.write_text("alpha  \nbeta\n\ngamma\n")
    got = read_log_lines(spark, str(p)).orderBy("line_no").collect()
    assert [(r.line_no, r.text) for r in got] == [
        (1, "alpha  "),  # raw text preserved (rstrip happens at window time)
        (2, "beta"),
        (3, ""),
        (4, "gamma"),
    ]


def test_latin1_fallback_matches_reference_decode(spark, tmp_path):
    """A file with invalid-UTF-8 bytes decodes the reference way: the
    WHOLE file falls back to latin-1 (reader.py:41-45) — no U+FFFD
    substitution (what spark.read.text would silently do)."""
    p = tmp_path / "binary.log"
    raw = b"clean ascii line\ncaf\xe9 latin-1 byte\nanother line\x80tail\n"
    p.write_bytes(raw)

    # the reference oracle: whole-file latin-1 decode, text-mode lines
    expected = [
        (i, line.decode("latin-1"))
        for i, line in enumerate(raw.rstrip(b"\n").split(b"\n"), start=1)
    ]
    got = read_log_lines(spark, str(p)).orderBy("line_no").collect()
    assert [(r.line_no, r.text) for r in got] == expected
    assert got[1].text == "caf\xe9 latin-1 byte"  # é, not U+FFFD
    assert "�" not in "".join(r.text for r in got)


def test_utf8_file_not_latinized(spark, tmp_path):
    """Valid UTF-8 (incl. multibyte) must decode as UTF-8, not latin-1."""
    p = tmp_path / "utf8.log"
    p.write_text("ascii line\nδοκιμή ユニコード\n", encoding="utf-8")
    got = read_log_lines(spark, str(p)).orderBy("line_no").collect()
    assert [r.text for r in got] == ["ascii line", "δοκιμή ユニコード"]


def test_log_file_through_pipeline(spark, tmp_path):
    from cordon_spark.config import AnalysisConfig
    from cordon_spark.plans.pipeline import analyze_transcripts

    lines = ["normal line alpha beta"] * 20 + [
        "FATAL segfault core dumped",
        "unhandled panic queue overflow",
        "disk quota exceeded rollback",
    ] + ["normal line alpha beta"] * 20
    p = tmp_path / "app.log"
    p.write_text("\n".join(lines) + "\n")
    t = log_lines_as_transcript(spark, str(p))
    res = analyze_transcripts(spark, t, AnalysisConfig(window_size=4, anomaly_percentile=0.1))
    blocks = res.blocks.collect()
    assert blocks, "anomaly burst must be flagged"
    # burst lives at turn_idx 20..22
    assert any(b.start_idx <= 22 and b.end_idx >= 20 for b in blocks)
    res.unpersist()


def test_cli_end_to_end(spark, tmp_path, capsys):
    # reuse the test session (same JVM); CLI's get_spark returns it
    from cordon_spark.cli import main

    lines = ["repeat this exact line"] * 30 + ["TOTALLY UNIQUE CRASH xyzzy"] + [
        "repeat this exact line"
    ] * 30
    p = tmp_path / "in.log"
    p.write_text("\n".join(lines) + "\n")
    out = tmp_path / "blocks.txt"
    rc = main([str(p), "--output", str(out), "--anomaly-percentile", "0.1", "--json"])
    assert rc == 0
    text = out.read_text()
    assert "<block lines=" in text and "</block>" in text


def test_cli_enrichment_dims(spark, tmp_path):
    """--tool-registry/--role-taxonomy parquet dims enrich the routed
    sinks written through the warehouse."""
    from cordon_spark.cli import main
    from cordon_spark.datagen import (
        generate_transcripts,
        role_taxonomy_pdf,
        tool_registry_pdf,
        write_parquet,
    )
    from cordon_spark.sources.catalog import SnapshotCatalog

    pdf, _ = generate_transcripts(n_convs=3, mean_turns=25, seed=8, with_edge_cases=False)
    tpath = tmp_path / "t.parquet"
    write_parquet(pdf, str(tpath))
    write_parquet(tool_registry_pdf(), str(tmp_path / "tools.parquet"))
    write_parquet(role_taxonomy_pdf(), str(tmp_path / "roles.parquet"))
    wh = tmp_path / "wh"
    rc = main([
        str(tpath), "--output", str(tmp_path / "o.txt"), "--warehouse", str(wh),
        "--tool-registry", str(tmp_path / "tools.parquet"),
        "--role-taxonomy", str(tmp_path / "roles.parquet"),
    ])
    assert rc == 0
    routed = SnapshotCatalog(wh).read(spark, "routed_turns")
    assert {"tool_category", "risk_level", "role_group", "sink"} <= set(routed.columns)
    assert routed.count() == len(pdf)


def test_cli_invalid_config(tmp_path):
    from cordon_spark.cli import main

    assert main([str(tmp_path / "nope.log"), "--window-size", "0"]) == 2


def test_eval_metrics(spark):
    from cordon_spark.plans.evaluate import template_metrics, turn_level_metrics

    turns = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 10,
                "turn_idx": pd.Series(range(10), dtype="int32"),
                "is_anomaly": [False] * 4 + [True, True] + [False] * 4,
                "template_id": ["T1", "T1", "T2", "T2", None, None, "T1", "T3", "T3", "T1"],
            }
        )
    )
    blocks = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c"], "start_idx": [4], "end_idx": [6]})
    )
    m = turn_level_metrics(turns, blocks)
    assert m["tp"] == 2 and m["fp"] == 1 and m["fn"] == 0
    assert m["recall"] == 1.0 and 0 < m["precision"] < 1
    tm = template_metrics(turns, blocks, rare_threshold=3)
    # flagged turns 4,5,6 -> templates {T1}; T2/T3 unflagged
    assert tm["n_templates"] == 3
    assert tm["template_coverage"] == pytest.approx(1 / 3)
    assert 0 < tm["weighted_recall"] < 1


def test_flagged_turn_metrics_count_duplicate_keys_once(spark):
    """A (conv_id, turn_idx) key that occurs twice in the turns is two
    turns, each counted once: the block turns hold every key at most
    once, so the join does not square a repeated key."""
    from cordon_spark.plans.evaluate import template_metrics, turn_level_metrics
    from cordon_spark.plans.visualize import template_coverage_data

    turns = spark.createDataFrame(
        [
            ("c0", 0, True, "T1"),
            ("c0", 0, True, "T1"),
            ("c0", 1, False, "T3"),
            ("c0", 5, True, "T2"),
        ],
        "conv_id string, turn_idx int, is_anomaly boolean, template_id string",
    )
    blocks = spark.createDataFrame([("c0", 0, 1)], "conv_id string, start_idx int, end_idx int")
    m = turn_level_metrics(turns, blocks)
    assert (m["tp"], m["fp"], m["fn"]) == (2, 1, 1)
    cov = {c["template_id"]: c for c in template_coverage_data(turns, blocks)}
    assert cov["T1"] == {"template_id": "T1", "count": 2, "detected": True}
    assert cov["T2"] == {"template_id": "T2", "count": 1, "detected": False}
    tm = template_metrics(turns, blocks, rare_threshold=3)
    assert tm["n_templates"] == 3 and tm["template_coverage"] == pytest.approx(2 / 3)


def test_contiguous_sample_seeded(spark):
    """Reference read_log_sample semantics (evaluate.py:46-74): N
    CONSECUTIVE turns from a seeded random offset; same seed -> same
    slice; different seed -> (generally) different slice."""
    from cordon_spark.plans.evaluate import contiguous_sample

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:02d}" for i in range(10) for _ in range(20)],
            "turn_idx": pd.Series(list(range(20)) * 10, dtype="int32"),
            "text": [f"t{i}" for i in range(200)],
        }
    )
    turns = spark.createDataFrame(pdf)
    s1 = contiguous_sample(turns, 50, seed=7).orderBy("conv_id", "turn_idx").collect()
    s2 = contiguous_sample(turns, 50, seed=7).orderBy("conv_id", "turn_idx").collect()
    assert len(s1) == 50 and s1 == s2
    # contiguity in the global (conv_id, turn_idx) order: positions form
    # one unbroken run of the full ordering
    full = [
        (r.conv_id, r.turn_idx)
        for r in turns.orderBy("conv_id", "turn_idx").collect()
    ]
    got = [(r.conv_id, r.turn_idx) for r in s1]
    start = full.index(got[0])
    assert full[start : start + 50] == got
    # sample_size=None -> identity
    assert contiguous_sample(turns, None, seed=7) is turns


def test_evaluate_runs_aggregation(spark):
    """Multi-run harness: reference aggregate_results keys, mean/std;
    with no sampling every run is identical -> std == 0."""
    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import generate_transcripts
    from cordon_spark.plans.evaluate import evaluate_runs

    pdf, truth = generate_transcripts(n_convs=6, mean_turns=30, seed=3, with_edge_cases=False)
    pdf["is_anomaly"] = False
    for conv, spans in truth.anomalies.items():
        for lo, hi in spans:
            m = (pdf.conv_id == conv) & (pdf.turn_idx >= lo) & (pdf.turn_idx <= hi)
            pdf.loc[m, "is_anomaly"] = True
    pdf["template_id"] = pdf["text"].str.split().str[0]
    turns = spark.createDataFrame(pdf)
    cfg = AnalysisConfig(window_size=4, anomaly_percentile=0.15)
    agg = evaluate_runs(spark, turns, cfg, n_runs=2, sample_size=None, seed=1,
                        rare_threshold=10)
    for key in (
        "template_recall_mean", "template_recall_std", "rare_recall_mean",
        "freq_weighted_mean", "traditional_f1_mean", "traditional_precision_std",
        "traditional_recall_mean", "num_runs",
    ):
        assert key in agg, key
    assert agg["num_runs"] == 2
    assert agg["template_recall_std"] == 0.0  # identical runs, no sampling
    assert 0.0 <= agg["traditional_f1_mean"] <= 1.0
    # sampled runs actually vary the slice
    agg_s = evaluate_runs(spark, turns, cfg, n_runs=2, sample_size=80, seed=1,
                          rare_threshold=10)
    assert agg_s["num_runs"] == 2


def test_cli_llama_backend_mocked_e2e(spark, tmp_path):
    """--backend llama-cpp end-to-end with a fake llama_cpp module
    shipped to executor workers via addPyFile (the reference mocks the
    same seam in tests/test_llama_cpp.py:13-47)."""
    from cordon_spark.cli import main

    fake_mod = tmp_path / "llama_cpp.py"
    fake_mod.write_text(
        "import hashlib\n"
        "class Llama:\n"
        "    def __init__(self, model_path, embedding, **kwargs):\n"
        "        pass\n"
        "    def create_embedding(self, text):\n"
        "        h = hashlib.md5(text.encode()).digest()\n"
        "        vec = [b / 255.0 for b in h[:8]]\n"
        "        return {'data': [{'embedding': vec}]}\n"
    )
    spark.sparkContext.addPyFile(str(fake_mod))

    lines = ["routine templated line ok"] * 30 + ["ANOMALY xyzzy"] + [
        "routine templated line ok"
    ] * 30
    p = tmp_path / "l.log"
    p.write_text("\n".join(lines) + "\n")
    out = tmp_path / "lb.txt"
    rc = main([str(p), "--backend", "llama-cpp", "--model-name", "fake.gguf",
               "--output", str(out)])
    assert rc == 0
    assert "<block lines=" in out.read_text()


def test_streaming_route_memory_sink(spark, tmp_path):
    """Turn-level stream scoring is window scoring with content = text;
    a turn without a template scores under "?"."""
    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import generate_transcripts, write_parquet
    from cordon_spark.operators.scoring import score_windows_frozen
    from cordon_spark.streaming.route import route_stream

    pdf, _ = generate_transcripts(n_convs=3, mean_turns=20, seed=9, with_edge_cases=False)
    src = tmp_path / "stream_src"
    src.mkdir()
    write_parquet(pdf, str(src / "part0.parquet"))

    cfg = AnalysisConfig(scorer="centroid")
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    scored = score_windows_frozen(
        stream.select(
            "conv_id",
            "turn_idx",
            F.col("text").alias("content"),
            F.lit(None).cast("string").alias("template_id"),
        ),
        {"?": np.ones(cfg.embedding_dim)},
        cfg,
        signature_col="template_id",
    )
    routed = route_stream(scored, threshold=0.5)
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("routed_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT sink, count(*) AS n FROM routed_stream GROUP BY sink"
        ).collect()
    finally:
        q.stop()
    counts = {r.sink: r.n for r in got}
    assert sum(counts.values()) == len(pdf)
    assert set(counts) <= {"anomalous", "routine"}


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState gap sessionization: closed sessions match
    the batch operators.events.sessionize on the same data (open tail
    sessions flush via event-time timeout as the watermark advances)."""
    import datetime as dt

    from cordon_spark.operators.events import sessionize
    from cordon_spark.streaming.route import sessionize_stream

    t0 = dt.datetime(2026, 1, 1)
    gap = 60  # 1 minute
    rows = []
    eid = 0
    for user in ("u1", "u2"):
        # session A: 3 events 10s apart; session B after a 10-min gap
        for k in range(3):
            rows.append((f"e{eid}", user, t0 + dt.timedelta(seconds=10 * k), 1.5))
            eid += 1
        for k in range(2):
            rows.append(
                (f"e{eid}", user, t0 + dt.timedelta(seconds=600 + 10 * k), 2.0)
            )
            eid += 1
    # sentinel far in the future advances the watermark so earlier
    # sessions' timeouts fire and flush
    rows.append(("sentinel", "u3", t0 + dt.timedelta(hours=6), 0.0))
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])

    src = tmp_path / "sess_src"
    src.mkdir()
    from cordon_spark.datagen import write_parquet

    # two batches: first the real events, then the watermark sentinel
    write_parquet(pdf.iloc[:-1], str(src / "b0.parquet"))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    out = sessionize_stream(stream, gap_seconds=gap, watermark="0 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_parquet(pdf.iloc[-1:], str(src / "b1.parquet"))
        q.processAllAvailable()
        got = spark.sql(
            "SELECT user_id, session_start_us, session_end_us, n_events, value_sum "
            "FROM sessions_stream"
        ).collect()
    finally:
        q.stop()

    batch = sessionize(
        spark.createDataFrame(pdf.iloc[:-1]), gap_seconds=gap
    ).collect()
    expect = {
        (r.user_id, r.start_us, r.end_us, r.n_events, float(r.value_sum))
        for r in batch
    }
    stream_set = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, float(r.value_sum))
        for r in got
    }
    assert expect <= stream_set  # all real sessions closed and emitted
    assert len(stream_set - expect) <= 1  # at most the u3 sentinel session


def test_streaming_window_assembly_matches_batch(spark, tmp_path):
    """window_stream (applyInPandasWithState) must reproduce the batch
    segment_windows output — full windows emit as soon as complete
    (any arrival order across micro-batches), partial tails flush via
    the event-time timeout."""
    import datetime as dt

    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import write_parquet
    from cordon_spark.operators.windowing import segment_windows
    from cordon_spark.streaming.route import window_stream

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for c, n_turns in (("ca", 10), ("cb", 7)):  # 7 -> partial tail window
        for i in range(n_turns):
            rows.append((c, i, f"turn {c} {i}  ", t0 + dt.timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")

    src = tmp_path / "w_src"
    src.mkdir()
    # batch 1: even turns; batch 2: odd turns (out of order); batch 3:
    # far-future sentinel advances the watermark to flush partials
    write_parquet(pdf[pdf.turn_idx % 2 == 0], str(src / "b0.parquet"))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    # watermark must cover the cross-batch out-of-orderness (odd turns
    # arrive a micro-batch after the evens); the far-future sentinel
    # still pushes it past every tail window's timeout
    out = window_stream(stream, window_size=4, watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("windows_stream")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_parquet(pdf[pdf.turn_idx % 2 == 1], str(src / "b1.parquet"))
        q.processAllAvailable()
        sentinel = pd.DataFrame(
            [("cz", 0, "x", t0 + dt.timedelta(hours=9))],
            columns=["conv_id", "turn_idx", "text", "ts"],
        )
        sentinel["turn_idx"] = sentinel["turn_idx"].astype("int32")
        write_parquet(sentinel, str(src / "b2.parquet"))
        q.processAllAvailable()
        got = spark.sql(
            "SELECT conv_id, window_id, start_idx, end_idx, n_turns, content "
            "FROM windows_stream WHERE conv_id != 'cz'"
        ).collect()
    finally:
        q.stop()

    batch = segment_windows(
        spark.createDataFrame(pdf), AnalysisConfig(window_size=4)
    ).collect()
    expect = {
        (r.conv_id, r.window_id, r.start_idx, r.end_idx, r.n_turns, r.content)
        for r in batch
    }
    stream_set = {
        (r.conv_id, r.window_id, r.start_idx, r.end_idx, r.n_turns, r.content)
        for r in got
    }
    assert stream_set == expect


def test_streaming_full_pipeline(spark, tmp_path):
    """pipeline_stream: window assembly + scoring against a batch run's
    template_centroids sums + route on a live stream; scores match the
    shared kernel on identical window contents."""
    import datetime as dt

    from cordon_spark import kernel
    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import write_parquet
    from cordon_spark.operators.scoring import template_centroids
    from cordon_spark.operators.windowing import segment_windows
    from cordon_spark.streaming.route import pipeline_stream

    t0 = dt.datetime(2026, 1, 1)
    rows = [("cv", i, f"steady line {i % 3}", t0 + dt.timedelta(seconds=i)) for i in range(16)]
    rows[8] = ("cv", 8, "TOTALLY anomalous xyzzy", rows[8][3])
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    sentinel = pd.DataFrame(
        [("zz", 0, "x", t0 + dt.timedelta(hours=9))],
        columns=["conv_id", "turn_idx", "text", "ts"],
    )
    sentinel["turn_idx"] = sentinel["turn_idx"].astype("int32")

    src = tmp_path / "p_src"
    src.mkdir()
    write_parquet(pdf, str(src / "b0.parquet"))

    # the frozen state: the per-signature sums the batch scorer's first
    # pass returns over a batch run's windows (no templates: "?")
    cfg = AnalysisConfig(scorer="centroid")
    batch = segment_windows(spark.createDataFrame(pdf.drop(columns="ts")), cfg)
    sum_map, _ = template_centroids(
        batch.withColumn("signature", F.lit("?")), embedding_dim=cfg.embedding_dim
    )
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    routed = pipeline_stream(stream, sum_map, cfg, threshold=0.9, watermark="1 hour")
    q = (
        routed.writeStream.outputMode("append")
        .format("memory")
        .queryName("pipe_stream")
        .option("checkpointLocation", str(tmp_path / "pckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_parquet(sentinel, str(src / "b1.parquet"))
        q.processAllAvailable()
        got = spark.sql(
            "SELECT conv_id, window_id, content, score, sink FROM pipe_stream "
            "WHERE conv_id = 'cv'"
        ).collect()
    finally:
        q.stop()

    assert len(got) == 4  # 16 turns / window_size 4
    # scores match the shared kernel against the normalized batch sums
    centroid = kernel.l2_normalize(sum_map["?"][None, :])[0]
    for r in got:
        emb = kernel.embed_texts([r.content], cfg.embedding_dim)
        exp = kernel.centroid_scores(emb, ["?"], {"?": centroid}, centroid)[0]
        assert abs(r.score - exp) < 1e-12
    # the window holding the planted turn 8 sits farthest from the state
    assert max(got, key=lambda r: r.score).window_id == 2
    assert {r.sink for r in got} <= {"anomalous", "routine"}


def test_streaming_sessionize_out_of_order_batches(spark, tmp_path):
    """Cross-batch out-of-order events (still within the watermark) must
    produce the same sessions as the batch operator on the globally
    sorted data: in-gap stragglers extend the open session's START;
    far-earlier stragglers form their own session."""
    import datetime as dt

    from cordon_spark.operators.events import sessionize
    from cordon_spark.datagen import write_parquet
    from cordon_spark.streaming.route import sessionize_stream

    t0 = dt.datetime(2026, 1, 1)
    gap = 60

    def ev(eid, user, sec, val):
        return (eid, user, t0 + dt.timedelta(seconds=sec), float(val))

    # batch 1 establishes open sessions; batch 2 delivers stragglers:
    #  u1: t=470 is within gap of its open session [500, 520] -> extends start
    #  u2: t=100 is > gap before its open session [700, 720] -> own session
    b1 = [ev("a1", "u1", 500, 1), ev("a2", "u1", 520, 1),
          ev("b1", "u2", 700, 2), ev("b2", "u2", 720, 2)]
    b2 = [ev("a3", "u1", 470, 1), ev("b3", "u2", 100, 2)]
    # b2b: ANOTHER straggler of u2's early session in a LATER batch —
    # must extend the held pre-chain, not fragment into a second session
    b2b = [ev("b4", "u2", 130, 2)]
    sentinel = [ev("zz", "u3", 36000, 0)]
    cols = ["event_id", "user_id", "ts", "value"]

    src = tmp_path / "ooo_src"
    src.mkdir()
    write_parquet(pd.DataFrame(b1, columns=cols), str(src / "b0.parquet"))
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    out = sessionize_stream(stream, gap_seconds=gap, watermark="2 hours")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("ooo_sessions")
        .option("checkpointLocation", str(tmp_path / "oock"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_parquet(pd.DataFrame(b2, columns=cols), str(src / "b1.parquet"))
        q.processAllAvailable()
        write_parquet(pd.DataFrame(b2b, columns=cols), str(src / "b1b.parquet"))
        q.processAllAvailable()
        write_parquet(pd.DataFrame(sentinel, columns=cols), str(src / "b2.parquet"))
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.value_sum)
            for r in spark.sql(
                "SELECT * FROM ooo_sessions WHERE user_id IN ('u1','u2')"
            ).collect()
        }
    finally:
        q.stop()

    batch = sessionize(
        spark.createDataFrame(pd.DataFrame(b1 + b2 + b2b, columns=cols)), gap_seconds=gap
    ).collect()
    expect = {
        (r.user_id, r.start_us, r.end_us, r.n_events, float(r.value_sum))
        for r in batch
    }
    assert got == expect


def test_cli_resume_across_processes(tmp_path):
    """--resume must work from a NEW process: run_id derives from a
    PYTHONHASHSEED-independent digest (kernel.stable_hash64), so the
    second process finds the first one's snapshots and SKIPS the stages
    (manifests untouched) instead of silently recomputing."""
    import json
    import os
    import subprocess
    import sys

    lines = ["steady state line"] * 24 + ["CATASTROPHIC novel failure qq"] + [
        "steady state line"
    ] * 24
    p = tmp_path / "w.log"
    p.write_text("\n".join(lines) + "\n")
    wh = tmp_path / "wh"
    out1, out2 = tmp_path / "b1.txt", tmp_path / "b2.txt"

    def run(out, resume, hashseed):
        env = dict(os.environ, PYTHONHASHSEED=hashseed)
        env.pop("SPARK_HOME", None)
        args = [
            sys.executable, "-m", "cordon_spark.cli", str(p),
            "--output", str(out), "--warehouse", str(wh),
            "--run-id", "xp", "--master", "local[2]",
        ] + (["--resume"] if resume else [])
        return subprocess.run(
            args, cwd="/root/repo", env=env, capture_output=True, text=True, timeout=600
        )

    r1 = run(out1, resume=False, hashseed="1")
    assert r1.returncode == 0, r1.stderr[-2000:]
    manifests = sorted(wh.glob("*/manifests/*.json"))
    assert manifests, "first run must commit snapshots"
    committed1 = {str(m): json.loads(m.read_text())["committed_at"] for m in manifests}

    r2 = run(out2, resume=True, hashseed="42")  # different hash seed on purpose
    assert r2.returncode == 0, r2.stderr[-2000:]
    committed2 = {
        str(m): json.loads(m.read_text())["committed_at"]
        for m in sorted(wh.glob("*/manifests/*.json"))
    }
    assert committed2 == committed1, "resume must reuse snapshots, not rewrite them"
    assert out1.read_text() == out2.read_text()


def test_cli_nonzero_exit_on_bad_input(spark, tmp_path):
    from cordon_spark.cli import main

    good = tmp_path / "g.log"
    good.write_text("\n".join(["fine line"] * 30) + "\n")
    rc = main([str(tmp_path / "missing.parquet"), str(good), "--output",
               str(tmp_path / "o.txt")])
    assert rc == 1  # failed file -> nonzero, good file still processed
    assert (tmp_path / "o.txt").exists()


def test_cli_warehouse_resume(spark, tmp_path):
    from cordon_spark.cli import main

    lines = ["steady state line"] * 24 + ["CATASTROPHIC novel failure qq"] + [
        "steady state line"
    ] * 24
    p = tmp_path / "w.log"
    p.write_text("\n".join(lines) + "\n")
    out1, out2 = tmp_path / "b1.txt", tmp_path / "b2.txt"
    wh = str(tmp_path / "wh")
    rc1 = main([str(p), "--output", str(out1), "--warehouse", wh, "--run-id", "rr"])
    rc2 = main([str(p), "--output", str(out2), "--warehouse", wh, "--run-id", "rr", "--resume"])
    assert rc1 == 0 and rc2 == 0
    assert out1.read_text() == out2.read_text()  # resume reproduces output


def test_cli_detailed_stats(spark, tmp_path, capsys):
    """--detailed prints the reference-format statistics block
    (cli.py:172-186)."""
    from cordon_spark.cli import main

    p = tmp_path / "d.log"
    p.write_text("\n".join(["plain line here"] * 30 + ["WEIRD spike zz"]) + "\n")
    rc = main([str(p), "--output", str(tmp_path / "o.txt"), "--detailed"])
    assert rc == 0
    err = capsys.readouterr().err
    assert "Analysis Statistics:" in err
    assert "Total windows created:" in err
    assert "Score Distribution:" in err
    assert "P90:" in err


def test_read_transcripts_formats_equivalent(spark, tmp_path):
    """parquet / JSON-lines / CSV serializations of the same transcripts
    read into identical canonical rows (schema enforced, not inferred)."""
    from cordon_spark.datagen import generate_transcripts, write_parquet
    from cordon_spark.sources.transcripts import read_transcripts

    pdf, _ = generate_transcripts(n_convs=2, mean_turns=15, seed=6, with_edge_cases=False)
    pq = tmp_path / "t.parquet"
    write_parquet(pdf, str(pq))
    jl = tmp_path / "t.jsonl"
    jpdf = pdf.copy()
    jpdf["ts"] = jpdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
    jl.write_text("\n".join(jpdf.to_json(orient="records", lines=True).splitlines()) + "\n")
    cv = tmp_path / "t.csv"
    cpdf = pdf.copy()
    cpdf["ts"] = cpdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
    cpdf.to_csv(cv, index=False)

    def rows(path):
        df = read_transcripts(spark, str(path))
        assert df.columns[:6] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        return sorted(
            (r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in df.collect()
        )

    base = rows(pq)
    assert rows(jl) == base
    assert rows(cv) == base


def test_read_transcripts_missing_required_column(spark, tmp_path):
    from cordon_spark.sources.transcripts import read_transcripts

    p = tmp_path / "bad.parquet"
    pd.DataFrame({"text": ["x"]}).to_parquet(p)
    with pytest.raises(ValueError, match="missing required column"):
        read_transcripts(spark, str(p))


def test_gzipped_log_reads_like_plain(spark, tmp_path):
    """.log.gz decompresses through spark.read.text — the latin-1 probe
    must NOT run on the compressed bytes."""
    import gzip

    lines = ["plain line one", "unicode café line", "third line"]
    plain = tmp_path / "a.log"
    plain.write_text("\n".join(lines) + "\n", encoding="utf-8")
    gz = tmp_path / "a.log.gz"
    gz.write_bytes(gzip.compress(("\n".join(lines) + "\n").encode("utf-8")))

    got_plain = [r.text for r in read_log_lines(spark, str(plain)).orderBy("line_no").collect()]
    got_gz = [r.text for r in read_log_lines(spark, str(gz)).orderBy("line_no").collect()]
    assert got_plain == got_gz == lines


def test_read_transcripts_csv_reordered_columns(spark, tmp_path):
    """CSV columns map by HEADER NAME, not position — a reordered file
    must read correctly (an imposed schema would bind positionally and
    silently mis-assign)."""
    from cordon_spark.sources.transcripts import read_transcripts

    p = tmp_path / "reordered.csv"
    p.write_text(
        "text,conv_id,turn_idx,role,tool,ts\n"
        "hello world,c0,0,user,bash,2026-01-01 00:00:00\n"
        "second turn,c0,1,assistant,,2026-01-01 00:00:07\n"
    )
    got = read_transcripts(spark, str(p)).orderBy("turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.role, r.text) for r in got] == [
        ("c0", 0, "user", "hello world"),
        ("c0", 1, "assistant", "second turn"),
    ]


def test_read_transcripts_jsonl_wrong_field_names_errors(spark, tmp_path):
    """JSON with wrong field names surfaces as a loud error, not silent
    all-null required columns."""
    from cordon_spark.sources.transcripts import read_transcripts

    p = tmp_path / "bad.jsonl"
    p.write_text('{"conversation": "c0", "idx": 0, "text": "x"}\n')
    with pytest.raises(ValueError, match="NULL conv_id/turn_idx"):
        read_transcripts(spark, str(p))


def test_read_transcripts_bz2_jsonl_and_csv(spark, tmp_path):
    """Compression suffixes are uniform across formats: .jsonl.bz2 and
    .csv.bz2 route through the same schema-enforced readers as their
    uncompressed twins (Hadoop codecs decompress transparently)."""
    import bz2

    from cordon_spark.sources.transcripts import read_transcripts

    jl = '{"conv_id": "c0", "turn_idx": 0, "text": "hi there"}\n' \
         '{"conv_id": "c0", "turn_idx": 1, "text": "again"}\n'
    (tmp_path / "t.jsonl.bz2").write_bytes(bz2.compress(jl.encode()))
    got = read_transcripts(spark, str(tmp_path / "t.jsonl.bz2")).orderBy("turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in got] == [
        ("c0", 0, "hi there"), ("c0", 1, "again"),
    ]

    csv = "conv_id,turn_idx,text\nc1,0,alpha\nc1,1,beta\n"
    (tmp_path / "t.csv.bz2").write_bytes(bz2.compress(csv.encode()))
    got = read_transcripts(spark, str(tmp_path / "t.csv.bz2")).orderBy("turn_idx").collect()
    assert [(r.conv_id, r.turn_idx, r.text) for r in got] == [
        ("c1", 0, "alpha"), ("c1", 1, "beta"),
    ]


def test_cli_short_output_flag(spark, tmp_path):
    """-o is an alias for --output (reference cli.py:129-133)."""
    from cordon_spark.cli import main

    p = tmp_path / "s.log"
    p.write_text("\n".join(["routine line"] * 20 + ["ANOMALOUS blip xx"]) + "\n")
    out = tmp_path / "short.txt"
    assert main([str(p), "-o", str(out)]) == 0
    assert out.exists() and out.read_text() != ""


def test_cli_bad_dim_table_clean_error(spark, tmp_path, capsys):
    """A bad --tool-registry path gets the CLI's clean 'error: ...' +
    exit 2 treatment, not a raw traceback aborting the run."""
    from cordon_spark.cli import main

    p = tmp_path / "x.log"
    p.write_text("line one\nline two\n")
    rc = main([str(p), "--tool-registry", str(tmp_path / "missing.parquet")])
    assert rc == 2
    assert "error:" in capsys.readouterr().err


def test_cli_max_render_rows_guard(spark, tmp_path, capsys):
    """A block set bigger than --max-render-rows refuses the driver-side
    collect with a pointer to --output-table instead of OOMing."""
    from cordon_spark.cli import main

    p = tmp_path / "g.log"
    p.write_text("\n".join(["normal line"] * 24 + ["STRANGE event yy"] + ["normal line"] * 5) + "\n")
    rc = main([str(p), "--output", str(tmp_path / "o.txt"), "--max-render-rows", "0"])
    assert rc == 1
    assert "--output-table" in capsys.readouterr().err


def test_cli_output_table_distributed_sink(spark, tmp_path):
    """--output-table writes rendered blocks through the snapshot
    catalog (no driver collect); content matches the --output path."""
    from cordon_spark.cli import main
    from cordon_spark.sources.catalog import SnapshotCatalog

    p = tmp_path / "t.log"
    p.write_text("\n".join(["usual line"] * 24 + ["NOVEL failure zz"] + ["usual line"] * 5) + "\n")
    out = tmp_path / "o.txt"
    wh = str(tmp_path / "wh")
    assert main([str(p), "--output", str(out)]) == 0
    assert main([str(p), "--warehouse", wh, "--output-table", "blocks_out"]) == 0
    cat = SnapshotCatalog(wh)
    snap = cat.current_snapshot("blocks_out")
    rows = cat.read(spark, "blocks_out", snap).orderBy("conv_id", "start_idx").collect()
    assert "\n\n".join(r.block_text for r in rows) == out.read_text()
    # --output-table without --warehouse is a usage error
    assert main([str(p), "--output-table", "t2"]) == 2


def test_evaluate_runs_resume_skips_completed(spark, tmp_path):
    """Kill-and-rerun over a multi-run sweep recomputes ONLY the missing
    runs (reference evaluate.py:898-965), and the resumed aggregate is
    identical to an uninterrupted sweep."""
    import json

    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import generate_transcripts
    from cordon_spark.plans import evaluate as EV

    pdf, _ = generate_transcripts(n_convs=5, mean_turns=25, seed=5, with_edge_cases=False)
    pdf["is_anomaly"] = False
    pdf["template_id"] = pdf["text"].str.split().str[0]
    turns = spark.createDataFrame(pdf)
    cfg = AnalysisConfig(window_size=4, anomaly_percentile=0.15)
    kw = dict(n_runs=3, sample_size=60, seed=11, rare_threshold=10)

    full = EV.evaluate_runs(spark, turns, cfg, output_dir=str(tmp_path / "full"), **kw)

    # "killed" sweep: only run 0 completed
    part = tmp_path / "part"
    EV.evaluate_runs(spark, turns, cfg, output_dir=str(part), **{**kw, "n_runs": 1})
    assert (part / "run_000" / "results_run000.json").exists()
    calls = {"n": 0}
    orig = EV.evaluate_run

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    EV.evaluate_run, resumed = counting, None
    try:
        resumed = EV.evaluate_runs(spark, turns, cfg, output_dir=str(part), resume=True, **kw)
    finally:
        EV.evaluate_run = orig
    assert calls["n"] == 2  # runs 1 and 2 only — run 0 loaded from disk
    assert resumed == full  # bit-identical aggregate
    # per-run files match the uninterrupted sweep's
    for i in range(3):
        a = json.loads((part / f"run_{i:03d}" / f"results_run{i:03d}.json").read_text())
        b = json.loads((tmp_path / "full" / f"run_{i:03d}" / f"results_run{i:03d}.json").read_text())
        assert a == b


def test_load_dataset_config_manifest(tmp_path):
    """YAML dataset manifest: known id returns its config; unknown id
    raises listing the available ids (reference evaluate.py:29-38)."""
    from cordon_spark.plans.evaluate import load_dataset_config

    m = tmp_path / "datasets.yaml"
    m.write_text(
        "datasets:\n"
        "  hdfs_v1:\n"
        "    name: HDFS v1\n"
        "    log_file: HDFS.log\n"
        "    anomaly_rate: 0.0293\n"
        "  bgl:\n"
        "    name: BGL\n"
        "    log_file: BGL.log\n"
    )
    cfg = load_dataset_config("hdfs_v1", str(m))
    assert cfg["log_file"] == "HDFS.log" and cfg["anomaly_rate"] == 0.0293
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bgl, hdfs_v1"):
        load_dataset_config("nope", str(m))


def test_streaming_score_refuses_foreign_backend(spark):
    """The frozen-state scorer embeds window content with the hash
    kernel: state built by another backend lives in a different vector
    space, so a non-hash cfg.backend must refuse loudly instead of
    silently scoring garbage."""
    import numpy as np

    from cordon_spark.config import AnalysisConfig
    from cordon_spark.operators.scoring import score_windows_frozen

    windows = spark.createDataFrame(
        [("c0", 0, 3, "text", "sig")],
        "conv_id string, start_idx int, end_idx int, content string, signature string",
    )
    cfg = AnalysisConfig(backend="sentence-transformers", model_name="all-MiniLM-L6-v2")
    with pytest.raises(ValueError, match="backend"):
        score_windows_frozen(windows, {"sig": np.ones(64)}, cfg, signature_col="signature")


def test_evaluate_cli_end_to_end(spark, tmp_path, capsys):
    """The reference benchmark harness's CLI surface: manifest-resolved
    dataset, multi-run sweep with per-run persistence, resume contract
    (incl. the 'Nothing to do.' early exit), JSON aggregate output."""
    import json

    from cordon_spark.datagen import generate_transcripts, write_parquet
    from cordon_spark.evaluate_cli import main

    pdf, _ = generate_transcripts(n_convs=4, mean_turns=20, seed=4, with_edge_cases=False)
    pdf["is_anomaly"] = pdf.index % 13 == 0
    pdf["template_id"] = pdf["text"].str.split().str[0]
    data = tmp_path / "turns.parquet"
    write_parquet(pdf, str(data))
    manifest = tmp_path / "datasets.yaml"
    manifest.write_text(
        f"datasets:\n  toy:\n    name: Toy\n    log_file: {data}\n"
    )

    rc = main(["toy", "--manifest", str(manifest), "--runs", "2",
               "--sample-size", "full", "--output-dir", str(tmp_path / "runs"),
               "--run-name", "rA", "--rare-threshold", "10"])
    assert rc == 0
    agg = json.loads(capsys.readouterr().out)
    assert agg["num_runs"] == 2
    assert (tmp_path / "runs" / "rA" / "run_001" / "results_run001.json").exists()

    # resume with the target already met -> reference's early exit
    rc = main(["toy", "--manifest", str(manifest), "--runs", "2",
               "--sample-size", "full", "--output-dir", str(tmp_path / "runs"),
               "--run-name", "rA", "--resume", "--rare-threshold", "10"])
    assert rc == 0
    assert "Nothing to do." in capsys.readouterr().out

    # reference-pinned error contracts
    assert main(["toy", "--manifest", str(manifest), "--resume"]) == 2
    err = capsys.readouterr().err
    assert "--resume requires --run-name" in err
    assert main(["nope", "--manifest", str(manifest)]) == 2
    assert "Unknown dataset" in capsys.readouterr().err
    # missing label columns -> clean error
    bare = tmp_path / "bare.parquet"
    write_parquet(pdf.drop(columns=["is_anomaly", "template_id"]), str(bare))
    assert main(["--input", str(bare)]) == 2
    assert "missing required columns" in capsys.readouterr().err


def test_evaluate_cli_bad_sample_size(tmp_path, capsys):
    """Non-integer --sample-size gets the clean error + exit 2, not a
    traceback (no Spark session needed on this path)."""
    from cordon_spark.evaluate_cli import main

    assert main(["--input", str(tmp_path / "x.parquet"),
                 "--sample-size", "many"]) == 2
    assert "--sample-size must be an integer or 'full'" in capsys.readouterr().err


def test_cli_output_and_output_table_exclusive(tmp_path, capsys):
    from cordon_spark.cli import main

    p = tmp_path / "x.log"
    p.write_text("line\n")
    rc = main([str(p), "--warehouse", str(tmp_path / "wh"),
               "--output-table", "t", "-o", str(tmp_path / "o.txt")])
    assert rc == 2
    assert "mutually exclusive" in capsys.readouterr().err


def test_evaluate_cli_plots_require_output_dir(tmp_path, capsys):
    from cordon_spark.evaluate_cli import main

    rc = main(["--input", str(tmp_path / "x.parquet"), "--generate-plots"])
    assert rc == 2
    assert "--generate-plots requires" in capsys.readouterr().err


def test_evaluate_runs_fresh_sweep_rewrites_parameters(spark, tmp_path):
    """A fresh (non-resume) sweep into an existing output_dir must
    REWRITE parameters.yaml — a stale seed from an earlier sweep would
    poison a later --resume with mixed sample sequences."""
    import yaml

    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import generate_transcripts
    from cordon_spark.plans.evaluate import evaluate_runs

    pdf, _ = generate_transcripts(n_convs=3, mean_turns=15, seed=6, with_edge_cases=False)
    pdf["is_anomaly"] = False
    pdf["template_id"] = pdf["text"].str.split().str[0]
    turns = spark.createDataFrame(pdf)
    cfg = AnalysisConfig(window_size=4, anomaly_percentile=0.2)
    out = str(tmp_path / "d")
    kw = dict(n_runs=1, sample_size=30, rare_threshold=10)
    evaluate_runs(spark, turns, cfg, seed=42, output_dir=out, **kw)
    evaluate_runs(spark, turns, cfg, seed=99, output_dir=out, **kw)  # fresh rerun
    params = yaml.safe_load((tmp_path / "d" / "parameters.yaml").read_text())
    assert params["seed"] == 99  # rewritten, not stale 42
    # and resume now reloads the CURRENT seed
    agg99 = evaluate_runs(spark, turns, cfg, seed=99, output_dir=out, **kw)
    agg_res = evaluate_runs(spark, turns, cfg, seed=123, output_dir=out,
                            resume=True, **kw)
    assert agg_res == agg99  # run 0 loaded; seed from yaml wins over 123
