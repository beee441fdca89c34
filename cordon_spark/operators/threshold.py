"""OP-6: percentile threshold filter (thresholder.py:17-81).

Numeric contract: the threshold is an EXACT percentile with linear
interpolation — numpy's definition (thresholder.py:71-73), bit for bit.
Spark's exact `percentile` aggregate implements the same definition
with other arithmetic and can land an ulp away, which flips a window
sitting on the cut, so it is not used: the exact order statistics are
interpolated on the driver with kernel.lerp (or, up to
EXACT_PERCENTILE_DIRECT_LIMIT rows, kernel.exact_percentile runs over
the collected column). `percentile_approx` does not implement the
definition and is only used to BRACKET the threshold on the scale path.

Tie rules copied verbatim (SURVEY.md §4), held by kept_predicate (the
filter of select_significant and of the pipeline's sink counts) and by
the kept count thresholds_and_stats reports:
  percentile mode: keep score >= threshold (ties included, :76)
  range mode:      keep lower <= score < upper (:51-53)
  isclose(p, 1.0) -> keep all; isclose(p, 0.0) -> keep none (:63-68)

One percentile plan, thresholds_and_stats, whose jobs depend on what
the caller knows:
  * row count given (`n_rows`, e.g. a snapshot manifest's `rows`) and
    at most EXACT_PERCENTILE_DIRECT_LIMIT: ONE job collects the score
    column, and kernel.score_distribution + kernel.exact_percentile —
    the oracle's own calls — give the stats and the cuts;
  * otherwise a fused job computes count/min/max/avg plus
    percentile_approx brackets; up to the limit the direct collect
    follows, above it ONE aggregate returns every bracket's rank offset
    and the union of the (tiny) bracketed bands, from which the exact
    order statistics are interpolated (SURVEY.md §7.5: an exact global
    percentile at 10^12 rows needs a global sort; the band is tiny).
Either way the kept count comes from the data already in hand, so a
caller needs no count job over the filtered rows.
"""

from __future__ import annotations

from bisect import bisect_left

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from cordon_spark import kernel
from cordon_spark.config import AnalysisConfig

# above this many rows, bracket with approx before the exact pass — the
# direct pass collects every score to the driver; the bracketed path is
# exact (test_threshold_scale) and stays cheap at any n
EXACT_PERCENTILE_DIRECT_LIMIT = 500_000

_EMPTY = {"min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0, "n": 0, "kept": 0}


def _cut_pcts(cfg: AnalysisConfig) -> list[float]:
    """Percentiles of the cut(s): [lower] or [lower, upper]; none for
    the keep-all / keep-none shortcuts."""
    if cfg.keep_all or cfg.keep_none:
        return []
    if cfg.range_mode:
        return [(1.0 - cfg.anomaly_range_max) * 100.0, (1.0 - cfg.anomaly_range_min) * 100.0]
    return [(1.0 - cfg.anomaly_percentile) * 100.0]


def _kept(cfg, n_rows, n_scores, below, cuts) -> int:
    """Rows select_significant keeps, from `below(c)` = #(score < c):
    keep-all keeps every row, the filters drop null scores."""
    if cfg.keep_none:
        return 0
    if cfg.keep_all:
        return n_rows
    if cfg.range_mode:
        return below(cuts[1]) - below(cuts[0])
    return n_scores - below(cuts[0])


def _direct(scored, col, cfg):
    """One collect of the score column: stats and cuts by the oracle's
    calls, the kept count by numpy. Nulls are ignored, as Spark's
    aggregates and filters ignore them."""
    column = scored.select(col).toPandas()[col]
    vals = column.dropna().to_numpy(dtype="float64")
    stats = kernel.score_distribution(vals)
    cuts = [kernel.exact_percentile(vals, p) for p in _cut_pcts(cfg)]
    stats["n"] = len(column)
    stats["kept"] = _kept(
        cfg, len(column), len(vals), lambda c: int(np.count_nonzero(vals < c)), cuts
    )
    return cuts, stats


def _refine(scored, col, cfg, row, qs):
    """Exact cuts, median and p90 from the approx brackets in ONE
    aggregate: per bracket the rank offset #(score < a_lo), plus the
    union of the bracketed bands. Returns (cuts, stats), or None when a
    bracket missed its order statistics (then the caller goes direct).

    percentile_approx(accuracy=A) guarantees rank error <= n/A, so the
    approx values at q -/+ margin bound the exact order statistics at
    ranks floor/ceil((n-1)q); rows strictly below the lower bound give
    the global rank offset and the band is interpolated exactly —
    identical result to the direct exact percentile. A cut inside its
    bracket has #(score < cut) = offset + #(band < cut)."""
    a_los = [float(row["bounds"][i]) for i in range(len(qs))]
    a_his = [float(row["bounds"][i + len(qs)]) for i in range(len(qs))]
    score = F.col(col)
    in_band = None
    for a_lo, a_hi in zip(a_los, a_his):
        pred = (score >= F.lit(a_lo)) & (score <= F.lit(a_hi))
        in_band = pred if in_band is None else (in_band | pred)
    refined = scored.agg(
        *[F.count(F.when(score < F.lit(a_lo), 1)).alias(f"b{i}") for i, a_lo in enumerate(a_los)],
        F.collect_list(F.when(in_band, score)).alias("band"),
    ).first()
    band = sorted(float(v) for v in refined["band"])
    n_scores = int(row["n_scores"])
    vals, below = [], {}
    for i, q in enumerate(qs):
        # np.percentile's virtual index and weight, from the same q
        rank = (n_scores - 1) * q
        lo_idx, hi_idx = int(rank), min(int(rank) + 1, n_scores - 1)
        n_below = int(refined[f"b{i}"])
        # this quantile's slice of the collected union band, sorted
        sub = [s for s in band if a_los[i] <= s <= a_his[i]]
        pos_lo, pos_hi = lo_idx - n_below, hi_idx - n_below
        if pos_lo < 0 or pos_hi >= len(sub):
            return None
        v = kernel.lerp(sub[pos_lo], sub[pos_hi], rank - lo_idx)
        if not a_los[i] <= v <= a_his[i]:
            return None
        vals.append(v)
        below[v] = n_below + bisect_left(sub, v)
    cuts = vals[2:]
    stats = {
        "min": float(row["min"]),
        "max": float(row["max"]),
        "mean": float(row["mean"]),
        "median": vals[0],
        "p90": vals[1],
        "n": int(row["n"]),
        "kept": _kept(cfg, int(row["n"]), n_scores, below.__getitem__, cuts),
    }
    return cuts, stats


def thresholds_and_stats(
    scored: DataFrame,
    cfg: AnalysisConfig,
    score_col: str = "score",
    n_rows: int | None = None,
) -> tuple[float | None, float | None, dict]:
    """Threshold(s) + the OP-10 score distribution + `kept`, the number
    of rows select_significant keeps. `n_rows`, when the caller already
    knows the row count, lets a run within the direct limit skip the
    fused count/approx job and run ONE job in all; otherwise one fused
    job, then one direct collect (small n) or one refining aggregate
    (large n)."""
    if n_rows == 0:
        return None, None, dict(_EMPTY)
    if n_rows is not None and n_rows <= EXACT_PERCENTILE_DIRECT_LIMIT:
        cuts, stats = _direct(scored, score_col, cfg)
    else:
        qs = [p / 100.0 for p in [50.0, 90.0] + _cut_pcts(cfg)]
        accuracy = 10_000
        margin = 3.0 / accuracy  # > guaranteed rank error, with slack
        lo_qs = [max(q - margin, 0.0) for q in qs]
        hi_qs = [min(q + margin, 1.0) for q in qs]
        row = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(score_col).alias("n_scores"),
            F.min(score_col).alias("min"),
            F.max(score_col).alias("max"),
            F.avg(score_col).alias("mean"),
            F.percentile_approx(score_col, lo_qs + hi_qs, accuracy).alias("bounds"),
        ).first()
        if row["n"] == 0:
            return None, None, dict(_EMPTY)
        refined = None
        if row["n"] > EXACT_PERCENTILE_DIRECT_LIMIT:
            refined = _refine(scored, score_col, cfg, row, qs)
        # within the limit, or a bracket missed (shouldn't happen): direct
        cuts, stats = refined or _direct(scored, score_col, cfg)
    if not cuts:
        return None, None, stats
    if cfg.range_mode:
        return cuts[0], cuts[1], stats
    return cuts[0], None, stats


def select_significant(
    scored: DataFrame,
    cfg: AnalysisConfig,
    score_col: str = "score",
    n_rows: int | None = None,
) -> tuple[DataFrame, float | None, float | None, dict]:
    """Filter scored windows by the threshold; returns (df, lower,
    upper, stats) with stats the thresholds_and_stats distribution and
    `stats["kept"]` the filtered row count, exact without a count job.
    Sorting score-desc (thresholder.py:79) is left to consumers — a
    global orderBy is only warranted at output time."""
    lower, upper, stats = thresholds_and_stats(scored, cfg, score_col, n_rows)
    return scored.filter(kept_predicate(cfg, lower, upper, score_col)), lower, upper, stats


def kept_predicate(
    cfg: AnalysisConfig, lower: float | None, upper: float | None, score_col: str = "score"
) -> Column:
    """The rows select_significant keeps, as one boolean Column over the
    cuts thresholds_and_stats returned: the tie rules above. A null
    score is kept only by keep-all (the comparisons yield null)."""
    score = F.col(score_col)
    if cfg.keep_none:
        return F.lit(False)
    if cfg.keep_all:
        return F.lit(True)
    if cfg.range_mode:
        return (score >= F.lit(lower)) & (score < F.lit(upper))
    return score >= F.lit(lower)
