"""OP-13: evaluation harness ops (reference benchmark/evaluate.py).

Given routed/flagged blocks and per-turn template ground truth, computes
the reference's metric set as DataFrame aggregations:

  precision / recall / F1 over flagged turn sets   (evaluate.py:272-303)
  template coverage                                 (evaluate.py:306-326)
  rare-template recall (< rare_threshold occurrences) (evaluate.py:329-351)
  inverse-frequency-weighted recall                 (evaluate.py:354-369)

Flagged turns = turns inside any merged block (the flagged-range
extraction of evaluate.py:255-261, relationally: the router's
turn-in-block equi-join on (conv_id, turn_idx)). All set algebra is
joins/aggregations — no driver-side sets."""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from cordon_spark.operators.routing import _block_turns


def turn_level_metrics(
    turns: DataFrame, blocks: DataFrame, label_col: str = "is_anomaly"
) -> dict:
    """Precision/recall/F1 of flagged turns vs boolean ground truth.
    Each turn row left-joins the turns the blocks cover; merged blocks
    are disjoint, so it matches at most one row and a turn key that
    repeats in `turns` counts once per row."""
    flagged = _block_turns(blocks).select("conv_id", "turn_idx", F.lit(True).alias("flagged"))
    joined = turns.join(flagged, on=["conv_id", "turn_idx"], how="left").select(
        F.coalesce("flagged", F.lit(False)).alias("flagged"), F.col(label_col)
    )
    row = joined.agg(
        F.sum(F.when(F.col("flagged") & F.col(label_col), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("flagged") & ~F.col(label_col), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("flagged") & F.col(label_col), 1).otherwise(0)).alias("fn"),
    ).first()
    tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def template_metrics(
    turns: DataFrame,
    blocks: DataFrame,
    template_col: str = "template_id",
    rare_threshold: int = 100,
) -> dict:
    """Template coverage + rare-template recall + inverse-frequency-
    weighted recall over turns carrying template attribution."""
    labeled = turns.filter(F.col(template_col).isNotNull())
    freq = labeled.groupBy(template_col).agg(F.count(F.lit(1)).alias("freq"))
    flagged_templates = (
        labeled.join(_block_turns(blocks), on=["conv_id", "turn_idx"], how="left_semi")
        .select(template_col)
        .distinct()
    )
    stats = (
        freq.join(
            flagged_templates.withColumn("hit", F.lit(True)), on=template_col, how="left"
        )
        .select(
            F.col("freq"),
            F.coalesce("hit", F.lit(False)).alias("hit"),
            (F.lit(1.0) / F.col("freq")).alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_templates"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_hit"),
            F.sum(F.when(F.col("freq") < rare_threshold, 1).otherwise(0)).alias("n_rare"),
            F.sum(
                F.when((F.col("freq") < rare_threshold) & F.col("hit"), 1).otherwise(0)
            ).alias("n_rare_hit"),
            F.sum("w").alias("w_total"),
            F.sum(F.when(F.col("hit"), F.col("w")).otherwise(0.0)).alias("w_hit"),
        )
        .first()
    )
    n_t = stats["n_templates"] or 0
    return {
        "n_templates": n_t,
        "template_coverage": (stats["n_hit"] / n_t) if n_t else 0.0,
        "rare_templates": stats["n_rare"] or 0,
        "rare_template_recall": (
            stats["n_rare_hit"] / stats["n_rare"] if stats["n_rare"] else 0.0
        ),
        "weighted_recall": (
            float(stats["w_hit"]) / float(stats["w_total"]) if stats["w_total"] else 0.0
        ),
    }


# ------------------------------------------------------------------ #
# Run harness: seeded random-offset contiguous sampling + multi-run
# mean/std aggregation (reference benchmark/evaluate.py:46-74,460-486).
# ------------------------------------------------------------------ #
def contiguous_sample(
    turns: DataFrame, sample_size: int | None, seed: int
) -> DataFrame:
    """`sample_size` CONSECUTIVE turns starting at a seeded random offset
    in the stable (conv_id, turn_idx) global order — the reference's
    read_log_sample (evaluate.py:46-74: random start offset, then read N
    contiguous lines).

    Distributed spelling: no global window/zipWithIndex. Per-conversation
    counts (a tiny aggregate: one row per conv) cumsum on the driver into
    global start offsets; each conversation's overlap with
    [offset, offset+N) becomes a local turn_idx range, applied as a
    broadcast range join. Scales as O(n_convs) driver state.
    """
    if sample_size is None:
        return turns
    counts = (
        turns.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("turn_idx").alias("lo"))
        .orderBy("conv_id")
        .collect()
    )
    total = sum(r["cnt"] for r in counts)
    max_start = max(0, total - sample_size)
    start = random.Random(seed).randint(0, max_start)
    end = start + sample_size  # exclusive, in global positions
    ranges = []
    cum = 0
    for r in counts:
        c_start, c_end = cum, cum + r["cnt"]  # this conv's global span
        cum = c_end
        o_start, o_end = max(start, c_start), min(end, c_end)
        if o_start < o_end:
            base = r["lo"]  # turn_idx is contiguous from lo within a conv
            ranges.append(
                (r["conv_id"], base + (o_start - c_start), base + (o_end - c_start) - 1)
            )
    if not ranges:
        return turns.filter(F.lit(False))
    spark = turns.sparkSession
    rdf = spark.createDataFrame(ranges, "conv_id string, r_lo long, r_hi long")
    return (
        turns.join(F.broadcast(rdf), on="conv_id", how="inner")
        .filter(F.col("turn_idx").between(F.col("r_lo"), F.col("r_hi")))
        .drop("r_lo", "r_hi")
    )


def evaluate_run(
    spark: SparkSession,
    turns: DataFrame,
    cfg,
    templates: list | None = None,
    label_col: str = "is_anomaly",
    template_col: str = "template_id",
    rare_threshold: int = 100,
    plots_dir: str | None = None,
) -> dict:
    """One evaluation run: pipeline over the (sampled) turns, then the
    full reference metric set (evaluate.py:272-369). With `plots_dir`,
    the run also emits its plot artifacts (score-distribution histogram
    + template-coverage bars, the reference's per-run plots/ layout —
    JSON always, figures when matplotlib imports)."""
    from cordon_spark.plans.pipeline import analyze_transcripts

    res = analyze_transcripts(spark, turns, cfg, templates=templates)
    try:
        out = dict(turn_level_metrics(turns, res.blocks, label_col=label_col))
        out.update(
            template_metrics(
                turns, res.blocks, template_col=template_col, rare_threshold=rare_threshold
            )
        )
        if plots_dir is not None:
            from cordon_spark.plans import visualize as V

            labeled = V.window_labels(res.scored_windows, turns, label_col=label_col)
            V.write_plot_artifacts(
                plots_dir,
                score_dist=V.score_distribution_data(labeled, label_col=label_col),
                coverage=V.template_coverage_data(
                    turns, res.blocks, template_col=template_col, label_col=label_col
                ),
            )
    finally:
        res.unpersist()
    return out


def evaluate_runs(
    spark: SparkSession,
    turns: DataFrame,
    cfg,
    n_runs: int = 3,
    sample_size: int | None = None,
    seed: int = 42,
    templates: list | None = None,
    output_dir: str | None = None,
    resume: bool = False,
    generate_plots: bool = False,
    **metric_kwargs,
) -> dict:
    """Multi-run harness: each run samples a fresh seeded contiguous
    slice, runs the pipeline, and the per-run metrics aggregate to
    mean/std (reference aggregate_results, evaluate.py:460-486).

    With `output_dir`, per-run results persist as
    `<output_dir>/run_NNN/results_runNNN.json` plus a `parameters.yaml`
    recording the seed — and `resume=True` restarts a killed sweep from
    the first MISSING run instead of run 1 (reference
    benchmark/evaluate.py:898-965: existing run_* dirs are counted, the
    original seed is reloaded from parameters.yaml so the remaining
    runs sample the exact slices the uninterrupted sweep would have).
    Run i's sample depends only on seed+i, so skip-and-continue is
    exact, not approximate."""
    import json
    from pathlib import Path

    out_dir = Path(output_dir) if output_dir else None
    if out_dir is not None:
        import yaml

        if resume and (out_dir / "parameters.yaml").exists():
            params = yaml.safe_load((out_dir / "parameters.yaml").read_text())
            seed = params.get("seed", seed)  # original seed wins
            # A resumed sweep must aggregate runs of ONE sample size —
            # silently mixing sizes would corrupt the mean/std.
            orig_n = params.get("sample_size", sample_size)
            if orig_n != sample_size:
                raise ValueError(
                    f"resume sample_size mismatch: sweep was started with "
                    f"sample_size={orig_n}, got {sample_size}; rerun with "
                    f"--sample-size {'full' if orig_n is None else orig_n}"
                )
        out_dir.mkdir(parents=True, exist_ok=True)
        # A FRESH sweep always rewrites parameters.yaml (a stale seed
        # from an earlier sweep into the same dir would poison a later
        # --resume with mixed sample sequences); only --resume reuses it.
        if not resume or not (out_dir / "parameters.yaml").exists():
            (out_dir / "parameters.yaml").write_text(
                yaml.safe_dump({"seed": seed, "sample_size": sample_size, "runs": n_runs})
            )
    results = []
    for i in range(n_runs):
        if out_dir is not None:
            run_file = out_dir / f"run_{i:03d}" / f"results_run{i:03d}.json"
            if resume and run_file.exists():
                results.append(json.loads(run_file.read_text()))
                continue
        sampled = contiguous_sample(turns, sample_size, seed + i)
        plots_dir = (
            str(out_dir / f"run_{i:03d}")
            if generate_plots and out_dir is not None
            else None
        )
        res = evaluate_run(
            spark, sampled, cfg, templates=templates, plots_dir=plots_dir,
            **metric_kwargs,
        )
        if out_dir is not None:
            run_file.parent.mkdir(parents=True, exist_ok=True)
            tmp = run_file.with_suffix(".json.tmp")
            tmp.write_text(json.dumps(res, indent=1))
            tmp.replace(run_file)  # atomic: a mid-write kill leaves no run_file
        results.append(res)
    agg = aggregate_results(results)
    if out_dir is not None:
        # the cross-run analysis layer (plans/analysis_graphs, reference
        # generate_analysis_graphs.py) reads this file per config dir
        (out_dir / "aggregated_results.json").write_text(json.dumps(agg, indent=1))
    return agg


def load_dataset_config(dataset_id: str, manifest_path: str) -> dict:
    """Load one dataset's config from a YAML manifest with the
    reference's shape (benchmark/datasets.yaml: a top-level `datasets`
    map of id -> {name, url, log_file, ...}); unknown ids raise with
    the available ids listed (reference evaluate.py:29-38)."""
    import yaml

    with open(manifest_path) as fh:
        manifest = yaml.safe_load(fh)
    datasets = manifest.get("datasets", {})
    if dataset_id not in datasets:
        available = ", ".join(sorted(datasets))
        raise ValueError(f"Unknown dataset '{dataset_id}'. Available: {available}")
    return datasets[dataset_id]


_AGG_KEYS = [
    ("template_recall", "template_coverage"),
    ("rare_recall", "rare_template_recall"),
    ("freq_weighted", "weighted_recall"),
    ("traditional_f1", "f1"),
    ("traditional_precision", "precision"),
    ("traditional_recall", "recall"),
]


def aggregate_results(all_results: list[dict]) -> dict:
    """Mean/std across runs, same output keys as the reference's
    aggregate_results (evaluate.py:460-486)."""
    out: dict = {"num_runs": len(all_results)}
    for out_name, key in _AGG_KEYS:
        vals = [float(r[key]) for r in all_results]
        out[f"{out_name}_mean"] = float(np.mean(vals))
        out[f"{out_name}_std"] = float(np.std(vals))
    return out
