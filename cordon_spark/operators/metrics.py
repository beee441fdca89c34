"""Per-stage / per-partition metrics.

StageMetrics records driver-side wall-clock per stage plus explicit
values (row counts, sink counts); it does not read Spark's task
metrics, so a lazily built plan's work is charged to whichever stage
runs the action. Per-partition lineage (north_rule: "per-partition
lineage + metrics") is recorded by SnapshotCatalog.write_snapshot from
the parquet footers of the part files a snapshot write produced, so a
checkpointed stage's plan runs once. The OP-10 score distribution is
computed by threshold.thresholds_and_stats."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F


def partition_lineage(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, rows) as an explicit
    `groupBy(spark_partition_id())` count. No longer on the pipeline
    path, where write_snapshot reads the same record from the written
    footers without a second pass over the plan; kept as the
    plan-side statement of that record, which the tests and the
    benchmark's staged catalog layer still call."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(F.lit(stage).alias("stage"), "partition_id", "rows")
    )


class StageMetrics:
    """Accumulates (stage, metric, value) rows across a pipeline run."""

    def __init__(self) -> None:
        self.rows: list[tuple[str, str, float]] = []
        self._t0: dict[str, float] = {}

    def start(self, stage: str) -> None:
        self._t0[stage] = time.perf_counter()

    def stop(self, stage: str, **values: float) -> None:
        if stage in self._t0:
            self.rows.append(
                (stage, "seconds", time.perf_counter() - self._t0.pop(stage))
            )
        for key, val in values.items():
            self.rows.append((stage, key, float(val)))

    def add(self, stage: str, metric: str, value: float) -> None:
        self.rows.append((stage, metric, float(value)))

    def to_dict(self) -> dict:
        out: dict[str, dict[str, float]] = {}
        for stage, metric, value in self.rows:
            out.setdefault(stage, {})[metric] = value
        return out
