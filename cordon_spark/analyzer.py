"""Drop-in high-level API mirroring the reference's SemanticLogAnalyzer
(src/cordon/pipeline.py:17-98): analyze a log file, get the XML-tagged
block string (or the detailed AnalysisResult) — backed by the Spark
pipeline instead of the single-process loop, so the same call scales
from a laptop log to a cluster.

Parity points (pinned by the reference's tests/test_integration.py):
  * analyze_file -> str; blocks joined by blank lines, byte-identical
    tag/content format (kernel.format_block)
  * analyze_file_detailed -> AnalysisResult(output, total_windows,
    significant_windows, merged_blocks, score_distribution,
    processing_time); empty file -> zeros and output == ""
  * missing file -> FileNotFoundError
  * score_distribution keys: min/max/mean/median/p90
    (pipeline.py:99-126)
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from pathlib import Path

from cordon_spark.config import AnalysisConfig


@dataclass
class AnalysisResult:
    """Reference core/types.py:86-104 surface."""

    output: str
    total_windows: int
    significant_windows: int
    merged_blocks: int
    score_distribution: dict = field(default_factory=dict)
    processing_time: float = 0.0


class SemanticLogAnalyzer:
    def __init__(self, config: AnalysisConfig | None = None, spark=None) -> None:
        self.config = config if config is not None else AnalysisConfig()
        self._spark = spark

    def _get_spark(self):
        if self._spark is None:
            from cordon_spark.session import get_spark

            self._spark = get_spark("cordon_spark_analyzer")
        return self._spark

    def analyze_file(self, file_path: str | Path) -> str:
        """Analyze a log file and return the formatted block output."""
        return self.analyze_file_detailed(file_path).output

    def analyze_file_detailed(self, file_path: str | Path) -> AnalysisResult:
        """Analyze a log file and return the detailed result."""
        from cordon_spark.datagen import TEMPLATES
        from cordon_spark.operators.routing import render_blocks
        from cordon_spark.plans.pipeline import analyze_transcripts
        from cordon_spark.sources.textfile import log_lines_as_transcript

        path = str(file_path)
        if not os.path.exists(path):  # reference: open() raises
            raise FileNotFoundError(path)
        start = time.time()
        spark = self._get_spark()
        transcripts = log_lines_as_transcript(spark, path)
        res = analyze_transcripts(
            spark,
            transcripts,
            self.config,
            templates=TEMPLATES if self.config.scorer == "centroid" else None,
        )
        try:
            # 1-indexed line numbers in the tags, like the reference
            rendered = render_blocks(transcripts, res.blocks, index_base=1)
            # the CLI's --max-render-rows guard (cli.py), in ONE job:
            # collect at most max_rows+1 rows — driver memory stays
            # bounded either way, and the render join runs once.
            max_rows = int(self.config.extra.get("max_render_rows", 1_000_000))
            rows = (
                rendered.orderBy("conv_id", "start_idx")
                .limit(max_rows + 1)
                .collect()
            )
            if len(rows) > max_rows:
                raise RuntimeError(
                    f"more than max_render_rows={max_rows} rendered "
                    "blocks; use the CLI --output-table (with "
                    "--warehouse) for a distributed write, or raise "
                    "AnalysisConfig.extra['max_render_rows']"
                )
            parts = [r.block_text for r in rows]
            output = "\n\n".join(parts)
            dist = {
                k: float(res.stats.get(k, 0.0))
                for k in ("min", "max", "mean", "median", "p90")
            }
            return AnalysisResult(
                output=output,
                total_windows=int(res.stats["total_windows"]),
                significant_windows=int(res.stats["significant_windows"]),
                merged_blocks=int(res.stats["merged_blocks"]),
                score_distribution=dist,
                processing_time=time.time() - start,
            )
        finally:
            res.unpersist()
