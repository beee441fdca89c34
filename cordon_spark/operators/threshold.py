"""OP-6: percentile threshold filter (thresholder.py:17-81).

Numeric contract: the threshold is an EXACT percentile with linear
interpolation — numpy's definition (thresholder.py:71-73). Spark's
exact `percentile` aggregate implements the same definition;
`percentile_approx` does not and is only used to BRACKET the threshold
on the scale path.

Tie rules copied verbatim (SURVEY.md §4), held only by
select_significant:
  percentile mode: keep score >= threshold (ties included, :76)
  range mode:      keep lower <= score < upper (:51-53)
  isclose(p, 1.0) -> keep all; isclose(p, 0.0) -> keep none (:63-68)

One percentile plan, thresholds_and_stats: a fused job computes
count/min/max/avg plus percentile_approx brackets; up to
EXACT_PERCENTILE_DIRECT_LIMIT rows one exact `percentile` job follows,
above it the exact order statistics are refined from the bracketed band
(SURVEY.md §7.5: an exact global percentile at 10^12 rows needs a
global sort; the band is tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cordon_spark.config import AnalysisConfig

# above this many rows, bracket with approx before the exact pass —
# Spark's exact percentile merges a per-value count map on one reducer,
# which costs seconds by 2M distinct doubles; the bracketed path is
# exact (test_threshold_scale) and stays cheap at any n
EXACT_PERCENTILE_DIRECT_LIMIT = 500_000


def _refine_brackets(df, col, qs, n_rows, a_los, a_his):
    """Exact refinement given approx brackets: one aggregate for the
    global rank offsets + one collect of the union of (tiny) bands.

    percentile_approx(accuracy=A) guarantees rank error <= n/A, so the
    approx values at q -/+ margin bound the exact order statistics at
    ranks floor/ceil((n-1)q); rows strictly below the lower bound give
    the global rank offset and the band is interpolated exactly —
    identical result to the direct exact percentile."""
    # exact global rank offsets for ALL brackets in one aggregate
    below_row = df.select(
        *[
            F.sum(F.when(F.col(col) < F.lit(a_lo), 1).otherwise(0)).alias(f"b{i}")
            for i, a_lo in enumerate(a_los)
        ]
    ).first()
    # one collect of the UNION of all (tiny) bracketed bands
    band_pred = None
    for a_lo, a_hi in zip(a_los, a_his):
        pred = (F.col(col) >= F.lit(a_lo)) & (F.col(col) <= F.lit(a_hi))
        band_pred = pred if band_pred is None else (band_pred | pred)
    band = sorted(
        float(r[0]) for r in df.filter(band_pred).select(col).collect()
    )
    out = []
    for i, q in enumerate(qs):
        rank = (n_rows - 1) * q
        lo_idx, hi_idx = int(rank), min(int(rank) + 1, n_rows - 1)
        n_below = int(below_row[f"b{i}"] or 0)
        # this quantile's slice of the collected union band
        sub = [v for v in band if a_los[i] <= v <= a_his[i]]
        pos_lo, pos_hi = lo_idx - n_below, hi_idx - n_below
        if not sub or pos_lo < 0 or pos_hi >= len(sub):
            # bracket missed (shouldn't happen) — fall back to direct exact
            out.append(
                float(df.select(F.expr(f"percentile({col}, {q!r})")).first()[0])
            )
            continue
        frac = rank - lo_idx
        out.append(sub[pos_lo] + (sub[pos_hi] - sub[pos_lo]) * frac)
    return out


def thresholds_and_stats(
    scored: DataFrame, cfg: AnalysisConfig, score_col: str = "score"
) -> tuple[float | None, float | None, dict]:
    """Threshold(s) + the OP-10 score distribution, minimizing jobs:
    job 1 fuses count/min/max/avg WITH the approx percentile brackets;
    then either one direct exact-percentile job (small n) or the
    rank-offset + band-collect jobs (large n)."""
    pcts = [50.0, 90.0]
    if not (cfg.keep_all or cfg.keep_none):
        if cfg.range_mode:
            pcts += [(1.0 - cfg.anomaly_range_max) * 100.0, (1.0 - cfg.anomaly_range_min) * 100.0]
        else:
            pcts += [(1.0 - cfg.anomaly_percentile) * 100.0]
    qs = [p / 100.0 for p in pcts]
    accuracy = 10_000
    margin = 3.0 / accuracy  # > guaranteed rank error, with slack
    lo_qs = [max(q - margin, 0.0) for q in qs]
    hi_qs = [min(q + margin, 1.0) for q in qs]
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(score_col).alias("min"),
        F.max(score_col).alias("max"),
        F.avg(score_col).alias("mean"),
        F.percentile_approx(score_col, lo_qs + hi_qs, accuracy).alias("bounds"),
    ).first()
    n = row["n"]
    if n == 0:
        return None, None, {"min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0, "n": 0}
    if n <= EXACT_PERCENTILE_DIRECT_LIMIT:
        exact = scored.select(
            F.expr(f"percentile({score_col}, array({','.join(repr(q) for q in qs)}))")
        ).first()[0]
        vals = [float(v) for v in exact]
    else:
        a_los = [float(row["bounds"][i]) for i in range(len(qs))]
        a_his = [float(row["bounds"][i + len(qs)]) for i in range(len(qs))]
        vals = _refine_brackets(scored, score_col, qs, n, a_los, a_his)
    stats = {
        "min": float(row["min"]),
        "max": float(row["max"]),
        "mean": float(row["mean"]),
        "median": vals[0],
        "p90": vals[1],
        "n": int(n),
    }
    if cfg.keep_all or cfg.keep_none:
        return None, None, stats
    if cfg.range_mode:
        return vals[2], vals[3], stats
    return vals[2], None, stats


def select_significant(
    scored: DataFrame, cfg: AnalysisConfig, score_col: str = "score"
) -> tuple[DataFrame, float | None, float | None, dict]:
    """Filter scored windows by the threshold; returns (df, lower,
    upper, stats) with stats the thresholds_and_stats distribution.
    Sorting score-desc (thresholder.py:79) is left to consumers — a
    global orderBy is only warranted at output time."""
    lower, upper, stats = thresholds_and_stats(scored, cfg, score_col)
    score = F.col(score_col)
    if cfg.keep_none:
        kept = scored.filter(F.lit(False))
    elif cfg.keep_all:
        kept = scored
    elif cfg.range_mode:
        kept = scored.filter((score >= F.lit(lower)) & (score < F.lit(upper)))
    else:
        kept = scored.filter(score >= F.lit(lower))
    return kept, lower, upper, stats
