"""The one threshold plan, driven through select_significant: the
direct exact percentile and the approx-bracketed refinement (limit
forced to 1) must both reproduce np.percentile (linear interpolation)
and keep exactly kernel.select_mask's windows, in percentile and band
mode; plus the stats contract at n=0 / n=1 and keep-all / keep-none."""

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


def test_empty_and_single(spark):
    empty = spark.createDataFrame([], "window_id long, score double")
    for cfg in MODES:
        kept, lower, upper, stats = TH.select_significant(empty, cfg)
        assert (lower, upper) == (None, None)
        assert stats == {"min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0, "n": 0}
        assert kept.count() == 0

    one = _scored(spark, [3.5])
    kept, lower, upper, stats = TH.select_significant(one, MODES[0])
    assert (lower, upper) == (3.5, None)
    assert stats == {"min": 3.5, "max": 3.5, "mean": 3.5, "median": 3.5, "p90": 3.5, "n": 1}
    assert _kept_ids(kept) == {0}  # ties included: 3.5 >= 3.5


@pytest.mark.parametrize("p, n_kept", [(1.0, 50), (0.0, 0)])
def test_keep_all_and_keep_none(spark, p, n_kept):
    vals = np.random.RandomState(5).rand(50)
    kept, lower, upper, stats = TH.select_significant(
        _scored(spark, vals), AnalysisConfig(anomaly_percentile=p)
    )
    assert (lower, upper) == (None, None)
    assert kept.count() == n_kept
    # the stats contract holds in both shortcuts
    assert stats["n"] == 50
    assert stats["median"] == pytest.approx(np.percentile(vals, 50.0), abs=1e-12)
