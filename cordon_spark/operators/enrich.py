"""Graft enrichment stage: broadcast dimension joins (north_star).

Small lookup dims (tool registry, role taxonomy — FIXTURES.md §2-3) are
broadcast-hash-joined onto the big fact side: `F.broadcast(dim)` makes
Catalyst skip the shuffle regardless of stats. Missing keys LEFT-join to
nulls with explicit defaults (the registry intentionally lacks one tool
in the fixtures)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def enrich_tools(
    turns: DataFrame,
    tool_registry: DataFrame,
    default_category: str = "unknown",
    default_risk: int = 0,
) -> DataFrame:
    out = turns.join(F.broadcast(tool_registry), on="tool", how="left")
    return out.withColumn(
        "tool_category", F.coalesce("tool_category", F.lit(default_category))
    ).withColumn(
        "risk_level", F.coalesce("risk_level", F.lit(default_risk)).cast("int")
    )


def enrich_roles(turns: DataFrame, role_taxonomy: DataFrame) -> DataFrame:
    out = turns.join(F.broadcast(role_taxonomy), on="role", how="left")
    return out.withColumn("role_group", F.coalesce("role_group", F.lit("unknown")))

