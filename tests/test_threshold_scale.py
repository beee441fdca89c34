"""The one threshold plan, driven through select_significant: the
direct exact percentile and the approx-bracketed refinement (limit
forced to 1) must both reproduce np.percentile (linear interpolation)
and keep exactly kernel.select_mask's windows, in percentile and band
mode, and report that many as stats["kept"]; plus the stats contract
at n=0 / n=1 and keep-all / keep-none."""

import numpy as np
import pandas as pd
import pytest

from cordon_spark import kernel
from cordon_spark.config import AnalysisConfig
from cordon_spark.operators import threshold as TH

MODES = [
    AnalysisConfig(anomaly_percentile=0.02),
    AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.15),
]


def _scored(spark, vals):
    return spark.createDataFrame(
        pd.DataFrame({"window_id": range(len(vals)), "score": vals})
    )


def _kept_ids(kept):
    return {r.window_id for r in kept.select("window_id").collect()}


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "ties"])
def test_bracketed_equals_direct(spark, dist, monkeypatch):
    rng = np.random.RandomState(3)
    if dist == "uniform":
        vals = rng.rand(20_000)
    elif dist == "lognormal":
        vals = rng.lognormal(size=20_000)
    else:  # heavy ties around the percentile targets
        vals = np.round(rng.rand(20_000), 2)
    df = _scored(spark, vals)

    for cfg in MODES:
        if cfg.range_mode:
            want_lo = np.percentile(vals, (1.0 - cfg.anomaly_range_max) * 100.0)
            want_up = np.percentile(vals, (1.0 - cfg.anomaly_range_min) * 100.0)
        else:
            want_lo = np.percentile(vals, (1.0 - cfg.anomaly_percentile) * 100.0)
            want_up = None
        want_kept = set(np.flatnonzero(kernel.select_mask(vals, cfg)).tolist())
        # default limit (20k rows -> direct), then 1 (-> bracketed)
        for limit in (TH.EXACT_PERCENTILE_DIRECT_LIMIT, 1):
            monkeypatch.setattr(TH, "EXACT_PERCENTILE_DIRECT_LIMIT", limit)
            kept, lower, upper, stats = TH.select_significant(df, cfg)
            assert lower == pytest.approx(want_lo, abs=1e-12)
            if want_up is None:
                assert upper is None
            else:
                assert upper == pytest.approx(want_up, abs=1e-12)
            assert stats["n"] == len(vals)
            assert stats["median"] == pytest.approx(np.percentile(vals, 50.0), abs=1e-12)
            assert stats["p90"] == pytest.approx(np.percentile(vals, 90.0), abs=1e-12)
            assert _kept_ids(kept) == want_kept, (cfg, limit)
            assert stats["kept"] == len(want_kept), (cfg, limit)


def test_empty_and_single(spark):
    empty = spark.createDataFrame([], "window_id long, score double")
    for cfg in MODES:
        for n_rows in (None, 0):
            kept, lower, upper, stats = TH.select_significant(empty, cfg, n_rows=n_rows)
            assert (lower, upper) == (None, None)
            assert stats == {
                "min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0, "n": 0, "kept": 0
            }
            assert kept.count() == 0

    one = _scored(spark, [3.5])
    for n_rows in (None, 1):
        kept, lower, upper, stats = TH.select_significant(one, MODES[0], n_rows=n_rows)
        assert (lower, upper) == (3.5, None)
        assert stats == {
            "min": 3.5, "max": 3.5, "mean": 3.5, "median": 3.5, "p90": 3.5, "n": 1, "kept": 1
        }
        assert _kept_ids(kept) == {0}  # ties included: 3.5 >= 3.5


@pytest.mark.parametrize("p, n_kept", [(1.0, 50), (0.0, 0)])
def test_keep_all_and_keep_none(spark, p, n_kept):
    vals = np.random.RandomState(5).rand(50)
    kept, lower, upper, stats = TH.select_significant(
        _scored(spark, vals), AnalysisConfig(anomaly_percentile=p)
    )
    assert (lower, upper) == (None, None)
    assert kept.count() == stats["kept"] == n_kept
    # the stats contract holds in both shortcuts
    assert stats["n"] == 50
    assert stats["median"] == pytest.approx(np.percentile(vals, 50.0), abs=1e-12)


def _ulp_case(n, rank, a, b):
    """n scores in random order whose order statistics at `rank` and
    `rank + 1` are a < b; every other score is far from both."""
    rng = np.random.RandomState(11)
    below = a * (0.5 + 0.49 * rng.rand(rank))
    above = b + 0.01 + rng.rand(n - rank - 2)
    return rng.permutation(np.concatenate([below, [a, b], above]))


@pytest.mark.parametrize(
    "vals, cfg",
    [
        # band upper cut at rank 3799.05: Spark's percentile arithmetic
        # lands an ulp above a and keeps the window scoring exactly a
        (
            _ulp_case(4000, 3799, 0.14581239098399132, 0.1458123909839914),
            AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.5),
        ),
        # percentile cut at rank 3925.88: numpy interpolates down from b
        (
            _ulp_case(4007, 3925, 0.04446784344627708, 0.04498015350617879),
            AnalysisConfig(anomaly_percentile=0.02),
        ),
    ],
)
def test_thresholds_equal_numpy_bit_for_bit(spark, vals, cfg, monkeypatch):
    """Both threshold paths give np.percentile's value exactly, so a
    window sitting on the cut is kept or dropped as the oracle does."""
    if cfg.range_mode:
        want = (
            np.percentile(vals, (1.0 - cfg.anomaly_range_max) * 100.0),
            np.percentile(vals, (1.0 - cfg.anomaly_range_min) * 100.0),
        )
    else:
        want = (np.percentile(vals, (1.0 - cfg.anomaly_percentile) * 100.0), None)
    want_kept = set(np.flatnonzero(kernel.select_mask(vals, cfg)).tolist())
    df = _scored(spark, vals)
    for limit in (TH.EXACT_PERCENTILE_DIRECT_LIMIT, 1):
        monkeypatch.setattr(TH, "EXACT_PERCENTILE_DIRECT_LIMIT", limit)
        kept, lower, upper, stats = TH.select_significant(df, cfg)
        assert (lower, upper) == want, limit
        assert stats["median"] == np.percentile(vals, 50.0)
        assert stats["p90"] == np.percentile(vals, 90.0)
        assert _kept_ids(kept) == want_kept, limit


def _planted_ties(cfg, n=4000):
    """n scores in random order where 41 order statistics around each
    cut's rank share the cut's value, so the cut sits on a tie."""
    rng = np.random.RandomState(8)
    vals = np.sort(rng.rand(n))
    pcts = (
        [(1.0 - cfg.anomaly_range_max) * 100.0, (1.0 - cfg.anomaly_range_min) * 100.0]
        if cfg.range_mode
        else [(1.0 - cfg.anomaly_percentile) * 100.0]
    )
    for pct in pcts:
        idx = int((n - 1) * pct / 100.0)
        vals[idx - 20 : idx + 21] = vals[idx]
    return rng.permutation(vals)


@pytest.mark.parametrize("cfg", MODES, ids=["percentile", "range"])
def test_kept_count_with_tie_on_cut(spark, cfg, monkeypatch):
    """stats["kept"] is the filter's row count on both paths, with the
    row count known or not, when a run of equal scores sits on the cut:
    percentile mode keeps every tie, range mode keeps the ties on the
    lower cut and drops those on the upper."""
    vals = _planted_ties(cfg)
    mask = kernel.select_mask(vals, cfg)
    lower, upper = kernel.percentile_thresholds(vals, cfg)
    assert np.count_nonzero(vals == lower) == 41
    df = _scored(spark, vals)
    for limit in (TH.EXACT_PERCENTILE_DIRECT_LIMIT, 1):
        monkeypatch.setattr(TH, "EXACT_PERCENTILE_DIRECT_LIMIT", limit)
        for n_rows in (None, len(vals)):
            kept, got_lo, got_up, stats = TH.select_significant(df, cfg, n_rows=n_rows)
            assert (got_lo, got_up) == (lower, upper), (limit, n_rows)
            assert _kept_ids(kept) == set(np.flatnonzero(mask).tolist()), (limit, n_rows)
            assert stats["kept"] == int(mask.sum()) == kept.count(), (limit, n_rows)
            assert stats["n"] == len(vals)


def test_known_row_count_takes_one_job(spark):
    """Within the direct limit a known row count skips the fused
    count/approx job: the threshold runs one job, and its mean is the
    oracle's np.mean bit for bit."""
    vals = np.random.RandomState(9).lognormal(size=3000)
    df = _scored(spark, vals)
    sc = spark.sparkContext
    group = "threshold-one-job"
    sc.setJobGroup(group, "threshold one job")
    try:
        _, _, stats = TH.thresholds_and_stats(df, MODES[0], n_rows=len(vals))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert stats == {**kernel.score_distribution(vals), "n": len(vals), "kept": stats["kept"]}
    assert stats["kept"] == int(kernel.select_mask(vals, MODES[0]).sum())
