"""Template parse stage (evaluate.py:131-179 semantics) + broadcast
enrichment joins."""

import pandas as pd
import re

from cordon_spark.datagen import TEMPLATES, tool_registry_pdf, role_taxonomy_pdf
from cordon_spark.operators.enrich import enrich_roles, enrich_tools
from cordon_spark.operators.parse import compile_templates, extract_templates


def test_wildcard_compilation_matches_reference_semantics():
    # re.escape then [*] -> .*? (evaluate.py:144-151)
    compiled = dict(compile_templates([("T1", "tool [*] returned exit code 0 in [*] ms")]))
    pat = re.compile(compiled["T1"])
    assert pat.search("tool bash returned exit code 0 in 12 ms")
    assert pat.search("prefix tool a b c returned exit code 0 in 999 ms suffix")
    assert not pat.search("tool bash returned exit code 1 in 12 ms")
    # regex metacharacters in the template are literal
    c2 = dict(compile_templates([("T2", "cost ($) is [*]")]))
    assert re.compile(c2["T2"]).search("cost ($) is 44")


def test_extract_templates_first_match_wins(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": pd.Series([0, 1, 2], dtype="int32"),
            "text": [
                "user asks to run step 4 of plan 9",
                "FATAL segfault in tokenizer worker pid 4412 core dumped unexpectedly",
                "tool bash returned exit code 0 in 3 ms",
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {r.turn_idx: r.template_id for r in extract_templates(df, TEMPLATES).collect()}
    assert got[0] == "T01"
    assert got[1] is None  # anomaly text matches nothing
    assert got[2] == "T03"


def test_extract_templates_line_terminators_match_python(spark):
    """A `[*]` hole spans the characters Java's `.` stops at by default
    (\\r, \\x85, \\u2028, \\u2029) as Python's `re` does, and stops at
    \\n as `re` does."""
    templates = [("T1", "user [*] logged in")]
    ((_, rx),) = compile_templates(templates)
    texts = [f"user bo{ch}b logged in" for ch in ("\r", "\x85", "\u2028", "\u2029", "\n")]
    pdf = pd.DataFrame(
        {"conv_id": "c", "turn_idx": pd.Series(range(len(texts)), dtype="int32"), "text": texts}
    )
    got = {
        r.turn_idx: r.template_id
        for r in extract_templates(spark.createDataFrame(pdf), templates).collect()
    }
    want = {i: "T1" if re.search(rx, t) else None for i, t in enumerate(texts)}
    assert want == {0: "T1", 1: "T1", 2: "T1", 3: "T1", 4: None}
    assert got == want


def test_enrich_tools_broadcast_left_join(spark):
    turns = spark.createDataFrame(
        pd.DataFrame({"tool": ["bash", "fetch", None], "turn_idx": pd.Series([0, 1, 2], dtype="int32")})
    )
    dim = spark.createDataFrame(tool_registry_pdf())
    got = {r.turn_idx: r for r in enrich_tools(turns, dim).collect()}
    assert got[0].tool_category == "exec" and got[0].risk_level == 3
    assert got[1].tool_category == "unknown" and got[1].risk_level == 0  # missing key
    assert got[2].tool_category == "unknown"
    # plan check: must be a broadcast join, not a shuffle join
    plan = enrich_tools(turns, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_enrich_roles(spark):
    turns = spark.createDataFrame(pd.DataFrame({"role": ["user", "alien"]}))
    dim = spark.createDataFrame(role_taxonomy_pdf())
    got = {r.role: r.role_group for r in enrich_roles(turns, dim).collect()}
    assert got == {"user": "human", "alien": "unknown"}


def test_pipeline_routes_enriched_turns(spark):
    """north_star: enrichment dims ride through the router — routed rows
    carry tool_category/risk_level/role_group with missing-key defaults,
    and sink decisions are unchanged vs the unenriched run."""
    from cordon_spark.config import AnalysisConfig
    from cordon_spark.datagen import (
        generate_transcripts,
        role_taxonomy_pdf,
        tool_registry_pdf,
    )
    from cordon_spark.plans.pipeline import analyze_transcripts

    pdf, _ = generate_transcripts(n_convs=4, mean_turns=30, seed=11, with_edge_cases=False)
    df = spark.createDataFrame(pdf)
    cfg = AnalysisConfig()

    plain = analyze_transcripts(spark, df, cfg)
    enriched = analyze_transcripts(
        spark,
        df,
        cfg,
        tool_registry=spark.createDataFrame(tool_registry_pdf()),
        role_taxonomy=spark.createDataFrame(role_taxonomy_pdf()),
    )
    try:
        cols = set(enriched.routed.columns)
        assert {"tool_category", "risk_level", "role_group", "sink"} <= cols
        assert plain.counts == enriched.counts
        # missing-key defaults: 'fetch' is absent from the registry
        rows = enriched.routed.filter("tool = 'fetch'").select(
            "tool_category", "risk_level"
        ).distinct().collect()
        assert [(r.tool_category, r.risk_level) for r in rows] == [("unknown", 0)]
        # sink decision per turn identical
        p = {(r.conv_id, r.turn_idx): r.sink for r in plain.routed.collect()}
        e = {(r.conv_id, r.turn_idx): r.sink for r in enriched.routed.collect()}
        assert p == e
    finally:
        plain.unpersist()
        enriched.unpersist()
