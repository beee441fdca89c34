"""Pipeline configuration.

Mirrors the reference's AnalysisConfig surface and eager validation
(src/cordon/core/config.py:5-96): window_size=4, k_neighbors=5,
anomaly_percentile=0.1, optional percentile band
(anomaly_range_min/max), pluggable embedding backend, batch sizing.
Spark-specific knobs (embedding_dim, scorer, knn_max_windows) are
added for the distributed execution model.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import isclose


@dataclass(frozen=True)
class AnalysisConfig:
    # windowing (reference config.py:9 default window_size=4)
    window_size: int = 4
    # scoring (reference config.py:10-11 defaults k=5, p=0.1)
    k_neighbors: int = 5
    anomaly_percentile: float = 0.1
    # percentile band mode (reference config.py:12-13, validated :52-68):
    # keep lower <= score < upper where upper excludes the top
    # `anomaly_range_min` fraction and lower admits up to
    # `anomaly_range_max` (thresholder.py:34-58)
    anomaly_range_min: float | None = None
    anomaly_range_max: float | None = None

    # embedding backend seam (reference embedding/__init__.py:10-31)
    backend: str = "hash"  # hash | sentence-transformers | remote
    model_name: str = "hash-64"
    embedding_dim: int = 64
    batch_size: int = 32
    # device is INFORMATIONAL here (executors are CPU in this sandbox;
    # GPU routing is per-worker in the UDF) but validated like the
    # reference (config.py:50) for drop-in config compatibility
    device: str | None = None
    # llama-cpp knobs (reference config.py:23-26)
    model_path: str | None = None  # GGUF file; None -> auto-download
    n_ctx: int = 2048
    n_gpu_layers: int = 0
    n_threads: int | None = None
    # reference's scoring batch knob (None = auto); when set it overrides
    # kernel.KNN_CHUNK_SIZE in the exact-kNN kernel. Chunks are zero-padded
    # to a multiple of kernel.KNN_CANDIDATE_PAD (256) rows, so a chunk
    # narrower than 256 rows is computed at 256 rows
    scoring_batch_size: int | None = None

    # scoring execution
    scorer: str = "knn"  # knn (exact, test-scale) | centroid (sketch, 100TB-scale)
    # exact kNN collects the full (n_windows x dim) matrix to the driver
    # and broadcasts it; above this window count it refuses with a
    # pointer at scorer="centroid" so defaults can't OOM the driver at
    # scale. 1M x 64d = ~0.5 GB broadcast — the sane ceiling.
    knn_max_windows: int = 1_000_000

    # optional remote-backend knobs (reference config.py:23-29)
    api_base: str | None = None
    api_key: str | None = None
    request_timeout: float = 30.0

    extra: dict = field(default_factory=dict, compare=False, hash=False)

    def __post_init__(self) -> None:  # eager validation, reference config.py:31-96
        if self.window_size < 1:
            raise ValueError(f"window_size must be >= 1, got {self.window_size}")
        if self.k_neighbors < 1:
            raise ValueError(f"k_neighbors must be >= 1, got {self.k_neighbors}")
        if not (0.0 <= self.anomaly_percentile <= 1.0):
            raise ValueError(
                f"anomaly_percentile must be in [0, 1], got {self.anomaly_percentile}"
            )
        # error strings mirror the reference's (its tests pin these
        # substrings: core/config.py:52-68, tests/test_core.py:97-127)
        has_min = self.anomaly_range_min is not None
        has_max = self.anomaly_range_max is not None
        if has_min != has_max:
            raise ValueError(
                "anomaly_range_min and anomaly_range_max must both be set or both be None"
            )
        if has_min and has_max:
            lo, hi = self.anomaly_range_min, self.anomaly_range_max
            if not (0.0 <= lo <= 1.0):
                raise ValueError("anomaly_range_min must be between 0.0 and 1.0")
            if not (0.0 <= hi <= 1.0):
                raise ValueError("anomaly_range_max must be between 0.0 and 1.0")
            if lo >= hi:
                raise ValueError("anomaly_range_min must be less than anomaly_range_max")
        if self.batch_size < 1:
            raise ValueError(f"batch_size must be >= 1, got {self.batch_size}")
        if self.embedding_dim < 1:
            raise ValueError(f"embedding_dim must be >= 1, got {self.embedding_dim}")
        if self.knn_max_windows < 1:
            raise ValueError("knn_max_windows must be >= 1")
        if self.scorer not in ("knn", "centroid"):
            raise ValueError(f"unknown scorer: {self.scorer}")
        if self.backend not in ("hash", "sentence-transformers", "remote", "llama-cpp"):
            raise ValueError(f"unknown backend: {self.backend}")
        if self.request_timeout <= 0:
            raise ValueError("request_timeout must be > 0")
        # reference config.py:47-96 parity
        if self.device is not None and self.device not in ("cuda", "mps", "cpu"):
            raise ValueError("device must be 'cuda', 'mps', 'cpu', or None")
        if self.scoring_batch_size is not None and self.scoring_batch_size < 1:
            raise ValueError("scoring_batch_size must be >= 1 or None for auto-detect")
        if self.n_ctx < 1:
            raise ValueError("n_ctx must be >= 1")
        if self.n_gpu_layers < -1:
            raise ValueError(
                "n_gpu_layers must be >= -1 (-1 for all layers, 0 for CPU-only)"
            )
        if self.n_threads is not None and self.n_threads < 1:
            raise ValueError("n_threads must be >= 1 or None for auto-detect")
        if self.backend == "llama-cpp" and self.model_path is not None:
            from pathlib import Path

            model_file = Path(self.model_path)
            if not model_file.exists():
                raise ValueError(f"GGUF model file not found: {self.model_path}")
            if model_file.suffix != ".gguf":
                raise ValueError(
                    f"model_path must be a .gguf file, got: {model_file.suffix}"
                )

    @property
    def range_mode(self) -> bool:
        return self.anomaly_range_min is not None

    @property
    def keep_all(self) -> bool:
        return (not self.range_mode) and isclose(self.anomaly_percentile, 1.0)

    @property
    def keep_none(self) -> bool:
        return (not self.range_mode) and isclose(self.anomaly_percentile, 0.0)
