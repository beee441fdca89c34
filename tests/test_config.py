"""Config validation parity (reference tests/test_core.py:55-139)."""

import pytest

from cordon_spark.config import AnalysisConfig


def test_defaults():
    cfg = AnalysisConfig()
    assert cfg.window_size == 4
    assert cfg.k_neighbors == 5
    assert cfg.anomaly_percentile == 0.1
    assert cfg.batch_size == 32


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(window_size=0),
        dict(k_neighbors=0),
        dict(anomaly_percentile=-0.1),
        dict(anomaly_percentile=1.5),
        dict(anomaly_range_min=0.1),  # one bound without the other
        dict(anomaly_range_min=0.5, anomaly_range_max=0.2),  # min >= max
        dict(anomaly_range_min=-0.1, anomaly_range_max=0.5),
        dict(batch_size=0),
        dict(scorer="nope"),
        dict(backend="nope"),
    ],
)
def test_invalid(kwargs):
    with pytest.raises(ValueError):
        AnalysisConfig(**kwargs)


def test_range_mode_flags():
    cfg = AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.15)
    assert cfg.range_mode
    assert not cfg.keep_all and not cfg.keep_none
    assert AnalysisConfig(anomaly_percentile=1.0).keep_all
    assert AnalysisConfig(anomaly_percentile=0.0).keep_none


def test_validation_messages_match_reference():
    """The reference's tests pin these error substrings
    (tests/test_core.py:97-127) — keep ours drop-in compatible."""
    import pytest

    from cordon_spark.config import AnalysisConfig

    with pytest.raises(ValueError, match="must both be set"):
        AnalysisConfig(anomaly_range_min=0.1)
    with pytest.raises(ValueError, match="must both be set"):
        AnalysisConfig(anomaly_range_max=0.5)
    with pytest.raises(ValueError, match="anomaly_range_min must be between"):
        AnalysisConfig(anomaly_range_min=-0.1, anomaly_range_max=0.5)
    with pytest.raises(ValueError, match="anomaly_range_min must be between"):
        AnalysisConfig(anomaly_range_min=1.5, anomaly_range_max=1.6)
    with pytest.raises(ValueError, match="anomaly_range_max must be between"):
        AnalysisConfig(anomaly_range_min=0.1, anomaly_range_max=1.5)
    with pytest.raises(ValueError, match="must be less than"):
        AnalysisConfig(anomaly_range_min=0.5, anomaly_range_max=0.5)
    with pytest.raises(ValueError, match="must be less than"):
        AnalysisConfig(anomaly_range_min=0.6, anomaly_range_max=0.4)
    with pytest.raises(ValueError, match="request_timeout must be > 0"):
        AnalysisConfig(request_timeout=0.0)


def test_every_field_is_read():
    """A config field the program never reads is a knob that does
    nothing: each one except `extra` must appear as `.<field>` in some
    module of the package other than config.py."""
    import dataclasses
    import re
    from pathlib import Path

    import cordon_spark

    pkg = Path(cordon_spark.__file__).parent
    src = "\n".join(
        p.read_text() for p in pkg.rglob("*.py") if p.name != "config.py"
    )
    unread = [
        f.name
        for f in dataclasses.fields(AnalysisConfig)
        if f.name != "extra" and not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == []
