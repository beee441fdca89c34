"""scripts/bench_pairs.py's per-metric verdict: the gain rule, the bound
flag and the spread check."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from bench_pairs import verdict  # noqa: E402

LOWER = {"name": "cpu_s", "better": "lower", "bound": 0.25}
HIGHER = {"name": "turns_per_s", "better": "higher", "bound": 0.25}
PARENT = [11.5, 11.2, 11.8, 11.4, 11.6, 11.3, 11.9, 11.1, 11.7, 11.5]


@pytest.mark.parametrize(
    "metric, par, chg, wins, want",
    [
        (LOWER, PARENT, [p - 1.5 for p in PARENT], 10, "gain"),
        # 8 of 10 pairs better is not a gain, however large the median gap
        (LOWER, PARENT, [p - 1.5 for p in PARENT], 8, "within bound"),
        # every pair better, but by less than the parent's IQR
        (LOWER, PARENT, [p - 0.1 for p in PARENT], 10, "within bound"),
        (LOWER, PARENT, [p * 1.3 for p in PARENT], 0, "WORSE"),
        (LOWER, PARENT, [p * 1.2 for p in PARENT], 0, "within bound"),
        (LOWER, [1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.0, 4.0, 5.0], 0, "unresolved"),
        # a wide spread still tells when every change run beats every parent run
        (LOWER, [4.0, 6.0, 8.0, 10.0, 12.0], [1.0, 2.0, 3.0, 3.5, 3.9], 5, "gain"),
        (HIGHER, [10.0, 10.1, 9.9], [12.0, 12.0, 12.0], 3, "gain"),
        (HIGHER, [10.0, 10.1, 9.9], [7.0, 7.0, 7.0], 0, "WORSE"),
    ],
    ids=[
        "gain",
        "too-few-wins",
        "inside-iqr",
        "worse",
        "inside-bound",
        "wide-spread",
        "wide-spread-beats-all",
        "higher-gain",
        "higher-worse",
    ],
)
def test_verdict(metric, par, chg, wins, want):
    assert verdict(par, chg, wins, metric) == want
