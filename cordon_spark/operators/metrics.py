"""Per-partition metrics.

Per-partition lineage (north_rule: "per-partition lineage + metrics")
is recorded by SnapshotCatalog.write_snapshot from the parquet footers
of the part files a snapshot write produced, so a checkpointed stage's
plan runs once; the pipeline keeps each snapshot's row count (or its
RESUME mark) in PipelineResult.metrics. The OP-10 score distribution is
computed by threshold.thresholds_and_stats."""

from __future__ import annotations

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
