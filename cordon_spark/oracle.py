"""Pure pandas/numpy oracle for the full pipeline (no Spark).

Implements exactly the reference dataflow (src/cordon/pipeline.py:45-98)
over a transcripts DataFrame, using the SAME numpy kernel as the Spark
operators — so Spark-vs-oracle equality is exact (SURVEY.md §7.4):

  window  windower.py:16-66   tumbling count windows per conversation,
                              final partial window kept
  embed   transformer.py:99-147  L2-normalized vectors (hash backend)
  score   scorer.py:129-321   k-NN mean cosine distance, global
  filter  thresholder.py:17-81  exact percentile / band, tie rules
  merge   merger.py:14-77     sweep-line with adjacency, max-score
  route   (graft)             anomalous vs routine turn sinks
  format  formatter.py:15-68  XML blocks over RAW (unstripped) text
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from cordon_spark import kernel
from cordon_spark.config import AnalysisConfig


@dataclass
class OracleResult:
    windows: pd.DataFrame  # conv_id, window_id, start_idx, end_idx, n_turns, content, score
    threshold_lower: float | None
    threshold_upper: float | None
    significant: pd.DataFrame  # windows kept by the threshold, score desc
    blocks: pd.DataFrame  # conv_id, start_idx, end_idx, original_windows, max_score
    routing: pd.DataFrame  # conv_id, turn_idx, text(raw), sink
    stats: dict = field(default_factory=dict)
    formatted: list = field(default_factory=list)  # per-conv rendered block strings


def oracle_windows(turns: pd.DataFrame, cfg: AnalysisConfig) -> pd.DataFrame:
    """Tumbling count windows: window_id = turn_idx // window_size within
    each conversation; content = '\n'-joined rstripped texts
    (windower.py:38-48, join at :41; rstrip at reader.py:25); the final
    partial window is emitted (windower.py:56-66)."""
    t = turns[["conv_id", "turn_idx", "text"]].copy()
    t["text_stripped"] = t["text"].map(kernel.rstrip_text)
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    t["window_id"] = (t["turn_idx"] // cfg.window_size).astype("int64")
    grp = t.groupby(["conv_id", "window_id"], sort=True)
    out = grp.agg(
        start_idx=("turn_idx", "min"),
        end_idx=("turn_idx", "max"),
        n_turns=("turn_idx", "size"),
        content=("text_stripped", lambda s: "\n".join(s.tolist())),
    ).reset_index()
    out["start_idx"] = out["start_idx"].astype("int32")
    out["end_idx"] = out["end_idx"].astype("int32")
    out["n_turns"] = out["n_turns"].astype("int64")
    return out


def oracle_scores(
    windows: pd.DataFrame, cfg: AnalysisConfig, embeddings: np.ndarray | None = None
) -> pd.DataFrame:
    """Global k-NN density scores over all windows (scorer.py:129-321).
    `embeddings` overrides the hash backend (e.g. precomputed vectors)."""
    win = windows.sort_values(["conv_id", "window_id"], kind="mergesort").reset_index(
        drop=True
    )
    if embeddings is None:
        embeddings = kernel.embed_texts(win["content"].tolist(), cfg.embedding_dim)
    scores = kernel.knn_scores(
        embeddings, embeddings, cfg.k_neighbors, kernel.KNN_CHUNK_SIZE
    )
    win = win.copy()
    win["score"] = scores
    return win


def oracle_select(win: pd.DataFrame, cfg: AnalysisConfig):
    scores = win["score"].to_numpy()
    lower, upper = (None, None)
    if len(scores):
        lower, upper = kernel.percentile_thresholds(scores, cfg)
    mask = kernel.select_mask(scores, cfg) if len(scores) else np.zeros(0, bool)
    sig = win[mask].sort_values("score", ascending=False, kind="mergesort")
    return lower, upper, sig.reset_index(drop=True)


def oracle_blocks(significant: pd.DataFrame) -> pd.DataFrame:
    """Per-conversation sweep-line merge (merger.py:14-77)."""
    rows = []
    for conv_id, grp in significant.groupby("conv_id", sort=True):
        ivs = list(
            zip(
                grp["start_idx"].astype(int),
                grp["end_idx"].astype(int),
                grp["window_id"].astype(int),
                grp["score"].astype(float),
            )
        )
        for start, end, wids, max_score in kernel.merge_intervals(ivs):
            rows.append((conv_id, start, end, list(wids), max_score))
    out = pd.DataFrame(
        rows, columns=["conv_id", "start_idx", "end_idx", "original_windows", "max_score"]
    )
    if len(out):
        out["original_windows"] = out["original_windows"].map(sorted)
        out = out.sort_values(["conv_id", "start_idx"], kind="mergesort").reset_index(
            drop=True
        )
    return out


def oracle_route(turns: pd.DataFrame, blocks: pd.DataFrame) -> pd.DataFrame:
    """Turn-level router: a turn inside any merged block -> 'anomalous',
    else 'routine'. Routed rows carry the RAW text (formatter.py:49-59
    reads unstripped lines; OP-9 parity note in SURVEY.md §2)."""
    t = turns[["conv_id", "turn_idx", "text"]].copy()
    t["sink"] = "routine"
    for _, b in blocks.iterrows():
        sel = (
            (t["conv_id"] == b["conv_id"])
            & (t["turn_idx"] >= b["start_idx"])
            & (t["turn_idx"] <= b["end_idx"])
        )
        t.loc[sel, "sink"] = "anomalous"
    return t.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def oracle_format(turns: pd.DataFrame, blocks: pd.DataFrame) -> list:
    """Rendered block strings per formatter.py:55-68 (raw text)."""
    out = []
    turn_map = {
        (c, i): tx
        for c, i, tx in zip(turns["conv_id"], turns["turn_idx"], turns["text"])
    }
    for _, b in blocks.iterrows():
        lines = [
            turn_map.get((b["conv_id"], i), "")
            for i in range(int(b["start_idx"]), int(b["end_idx"]) + 1)
            if (b["conv_id"], i) in turn_map
        ]
        out.append(
            (
                b["conv_id"],
                kernel.format_block(
                    int(b["start_idx"]), int(b["end_idx"]), float(b["max_score"]), lines
                ),
            )
        )
    return out


def run_oracle(
    turns: pd.DataFrame,
    cfg: AnalysisConfig | None = None,
    embeddings: np.ndarray | None = None,
) -> OracleResult:
    cfg = cfg or AnalysisConfig()
    windows = oracle_windows(turns, cfg)
    win = oracle_scores(windows, cfg, embeddings)
    lower, upper, sig = oracle_select(win, cfg)
    blocks = oracle_blocks(sig)
    routing = oracle_route(turns, blocks)
    formatted = oracle_format(turns, blocks)
    stats = kernel.score_distribution(win["score"].to_numpy())
    stats.update(
        total_windows=int(len(win)),
        significant_windows=int(len(sig)),
        merged_blocks=int(len(blocks)),
        anomalous_turns=int((routing["sink"] == "anomalous").sum()),
        routine_turns=int((routing["sink"] == "routine").sum()),
    )
    return OracleResult(
        windows=win,
        threshold_lower=lower,
        threshold_upper=upper,
        significant=sig,
        blocks=blocks,
        routing=routing,
        stats=stats,
        formatted=formatted,
    )
