"""Result visualization (reference benchmark/visualize.py:172-489).

Spark-first split: the DATA for every plot is computed distributed
(fixed-size aggregation outputs — histogram bins, per-template bars,
a bounded 2-D projection sample), and the figure RENDERING is an
import-gated thin layer (matplotlib is absent in this sandbox, like
the reference's own umap/cuml fallback chain, visualize.py:14-32).
The data artifacts always persist as JSON next to the figures, so a
run's plots can be re-rendered later on any machine with plot libs.

Projection note: the reference projects window embeddings with UMAP
(GPU cuML -> CPU umap-learn -> sklearn fallback). None of those ship
here, so the default projector is a DETERMINISTIC distributed PCA —
map-side (X^T X, sum, n) partials reduced to the driver, eigh on the
tiny dim x dim Gram matrix — with umap used instead when importable
(same fallback-chain spirit as the reference).
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, functions as F

from cordon_spark.operators.routing import _block_turns

DEFAULT_BINS = 50


def score_distribution_data(
    scored: DataFrame,
    label_col: str = "is_anomaly",
    score_col: str = "score",
    n_bins: int = DEFAULT_BINS,
) -> dict:
    """Histogram counts of scores for normal vs anomalous windows
    (reference plot_score_distributions, visualize.py:266-333) as ONE
    distributed aggregation: shared bin edges over [min, max], one
    hash-agg on (bin, label). Output is O(n_bins) regardless of input
    size."""
    # NULL scores (unscored windows) carry no histogram information and
    # would land in bin None — drop them before bucketing
    scored = scored.filter(F.col(score_col).isNotNull())
    bounds = scored.agg(
        F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:
        return {"bins": [], "normal": [], "anomaly": [], "normal_mean": None,
                "anomaly_mean": None}
    span = (hi - lo) or 1.0
    bin_idx = F.least(
        F.lit(n_bins - 1),
        F.floor((F.col(score_col) - F.lit(lo)) / F.lit(span) * n_bins).cast("int"),
    )
    rows = (
        scored.groupBy(bin_idx.alias("bin"), F.col(label_col).alias("lab"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(score_col).alias("s"))
        .collect()
    )
    normal = [0] * n_bins
    anomaly = [0] * n_bins
    sums = {True: [0.0, 0], False: [0.0, 0]}
    for r in rows:
        (anomaly if r["lab"] else normal)[r["bin"]] += r["n"]
        acc = sums[bool(r["lab"])]
        acc[0] += r["s"]
        acc[1] += r["n"]
    edges = [lo + span * i / n_bins for i in range(n_bins + 1)]
    return {
        "bins": edges,
        "normal": normal,
        "anomaly": anomaly,
        "normal_mean": sums[False][0] / sums[False][1] if sums[False][1] else None,
        "anomaly_mean": sums[True][0] / sums[True][1] if sums[True][1] else None,
    }


def template_coverage_data(
    turns: DataFrame,
    blocks: DataFrame,
    template_col: str = "template_id",
    label_col: str = "is_anomaly",
) -> list[dict]:
    """Per-template occurrence counts + detected/missed flags over the
    ANOMALY templates (reference plot_template_coverage,
    visualize.py:388-489): a template is `detected` when any of its
    anomalous turns falls inside a merged block. One turn-in-block
    join + one hash agg; output is O(#templates)."""
    flagged = _block_turns(blocks).select("conv_id", "turn_idx", F.lit(True).alias("_flag"))
    per_tpl = (
        turns.filter(F.col(label_col))
        .join(flagged, on=["conv_id", "turn_idx"], how="left")
        .groupBy(template_col)
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.max(F.coalesce("_flag", F.lit(False))).alias("detected"),
        )
        .orderBy(F.col("count").desc(), F.col(template_col))
        .collect()
    )
    return [
        {"template_id": r[template_col], "count": r["count"], "detected": bool(r["detected"])}
        for r in per_tpl
    ]


def window_labels(
    windows: DataFrame,
    turns: DataFrame,
    label_col: str = "is_anomaly",
) -> DataFrame:
    """Ground-truth label per window: anomalous iff ANY turn inside its
    span is labeled (reference get_window_labels, visualize.py:106-139).
    Left-semi join of windows against the labeled-turn minority on
    (conv_id, range) — no fan-out, scales with the label density."""
    t = (
        turns.filter(F.col(label_col))
        .select("conv_id", "turn_idx")
        .alias("t")
    )
    w = windows.alias("w")
    anom = (
        w.join(
            t,
            (F.col("w.conv_id") == F.col("t.conv_id"))
            & F.col("t.turn_idx").between(F.col("w.start_idx"), F.col("w.end_idx")),
            "left_semi",
        )
        .select("conv_id", "start_idx")
        .withColumn("_anom", F.lit(True))
    )
    return (
        windows.join(anom, on=["conv_id", "start_idx"], how="left")
        .withColumn(label_col, F.coalesce("_anom", F.lit(False)))
        .drop("_anom")
    )


def pca_fit(vectors: DataFrame, vec_col: str = "embedding", k: int = 2) -> dict:
    """Top-k principal axes from distributed (n, sum, X^T X) partials
    (scoring._partial_sums, one key: the O(dim^2)-per-partition shape
    that makes distributed PCA one pass at any corpus size) + a
    driver-side eigh on the dim x dim covariance. No RNG anywhere;
    sign fixed by forcing each component's largest-|.| entry positive,
    so runs reproduce exactly for a fixed partitioning and only at the
    float-ulp level across partitionings (partial-sum merge order)."""
    from cordon_spark.operators.scoring import _partial_sums

    first = vectors.select(vec_col).first()
    if first is None:
        return {"mean": [], "components": []}
    dim = len(first[0])

    def fold(batches):
        n = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            n += mat.shape[0]
            s += mat.sum(axis=0)
            g += mat.T @ mat
        if n:
            return ["pca"], np.concatenate([[n], s, g.ravel()])[None, :]

    total = _partial_sums(vectors.select(vec_col), fold)["pca"]
    n, s, g = total[0], total[1 : dim + 1], total[dim + 1 :].reshape(dim, dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k].T  # top-k rows
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {"mean": mean.tolist(), "components": comps.tolist()}


def projection_data(
    windows: DataFrame,
    score_col: str = "score",
    label_col: str = "is_anomaly",
    vec_col: str = "embedding",
    sample: int = 10_000,
    seed: int = 42,
) -> list[dict]:
    """2-D projection of window embeddings colored by score and label
    (reference plot_umap_embeddings, visualize.py:172-263). Projector:
    umap-learn when importable (reference parity), else the
    deterministic distributed PCA. The plotted point set is a bounded
    deterministic sample — the projection basis still comes from the
    FULL corpus, so the picture is representative at any input size."""
    model = pca_fit(windows, vec_col=vec_col, k=2)
    if not model["components"]:
        return []
    mean = np.asarray(model["mean"])
    comps = np.asarray(model["components"])
    frac = None
    total = windows.count()
    if total > sample:
        frac = min(1.0, sample / total * 1.2)
    pts = windows.select(vec_col, score_col, label_col)
    if frac is not None:
        pts = pts.sample(fraction=frac, seed=seed).limit(sample)
    rows = pts.collect()
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    try:  # pragma: no cover - umap absent in sandbox
        import umap

        proj = umap.UMAP(n_components=2, random_state=seed).fit_transform(mat)
        method = "umap"
    except ImportError:
        proj = (mat - mean) @ comps.T
        method = "pca"
    return [
        {
            "x": float(proj[i][0]),
            "y": float(proj[i][1]),
            "score": float(rows[i][score_col]),
            "label": bool(rows[i][label_col]),
            "method": method,
        }
        for i in range(len(rows))
    ]


def write_plot_artifacts(
    output_dir: str | Path,
    score_dist: dict | None = None,
    coverage: list[dict] | None = None,
    projection: list[dict] | None = None,
) -> list[Path]:
    """Persist the plot DATA as JSON under <output_dir>/plots/ (always),
    then render figures when matplotlib is importable (reference run
    layout: benchmark/results/<run>/plots/). Returns written paths."""
    plots = Path(output_dir) / "plots"
    plots.mkdir(parents=True, exist_ok=True)
    written: list[Path] = []
    for name, data in (
        ("score_distribution", score_dist),
        ("template_coverage", coverage),
        ("projection", projection),
    ):
        if data is None:
            continue
        p = plots / f"{name}.json"
        p.write_text(json.dumps(data, indent=1))
        written.append(p)
    try:  # pragma: no cover - matplotlib absent in sandbox
        import matplotlib

        matplotlib.use("Agg")
        written += _render_figures(plots, score_dist, coverage, projection)
    except ImportError:
        # the reference's own degrade path prints and skips
        # (visualize.py:188-191)
        print("WARNING: matplotlib not available; wrote plot data JSON only.")
    return written


def _render_figures(plots, score_dist, coverage, projection):  # pragma: no cover
    """matplotlib layer, reference styling (hist pair / barh coverage /
    side-by-side scatter). Only reachable when matplotlib imports."""
    import matplotlib.pyplot as plt

    written = []
    if score_dist and score_dist["bins"]:
        _, ax = plt.subplots(figsize=(10, 6))
        centers = [
            (score_dist["bins"][i] + score_dist["bins"][i + 1]) / 2
            for i in range(len(score_dist["bins"]) - 1)
        ]
        width = score_dist["bins"][1] - score_dist["bins"][0]
        ax.bar(centers, score_dist["normal"], width=width, alpha=0.6,
               color="green", label="Normal")
        ax.bar(centers, score_dist["anomaly"], width=width, alpha=0.6,
               color="red", label="Anomaly")
        for mean, color in ((score_dist["normal_mean"], "darkgreen"),
                            (score_dist["anomaly_mean"], "darkred")):
            if mean is not None:
                ax.axvline(mean, color=color, linestyle="--", linewidth=2)
        ax.set_xlabel("Score")
        ax.set_ylabel("Frequency")
        ax.legend()
        p = plots / "score_distribution.png"
        plt.savefig(p, dpi=150, bbox_inches="tight")
        plt.close()
        written.append(p)
    if coverage:
        _, ax = plt.subplots(figsize=(12, 8))
        ids = [c["template_id"] for c in coverage]
        ax.barh(
            range(len(ids)),
            [c["count"] for c in coverage],
            color=["#2ecc71" if c["detected"] else "#e74c3c" for c in coverage],
        )
        ax.set_yticks(range(len(ids)))
        ax.set_yticklabels(ids)
        ax.set_xscale("log")
        ax.set_xlabel("Occurrence Count (log scale)")
        p = plots / "template_coverage.png"
        plt.savefig(p, dpi=150, bbox_inches="tight")
        plt.close()
        written.append(p)
    if projection:
        _, axes = plt.subplots(1, 2, figsize=(16, 6))
        xs = [p_["x"] for p_ in projection]
        ys = [p_["y"] for p_ in projection]
        axes[0].scatter(xs, ys, c=[p_["score"] for p_ in projection], s=4)
        axes[1].scatter(xs, ys,
                        c=["red" if p_["label"] else "green" for p_ in projection], s=4)
        p = plots / "projection.png"
        plt.savefig(p, dpi=150, bbox_inches="tight")
        plt.close()
        written.append(p)
    return written
