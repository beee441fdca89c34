"""Pipeline orchestrator (reference: src/cordon/pipeline.py:17-98).

Wires the stages parse -> window -> embed -> score -> threshold ->
merge -> route -> sinks with:

  * per-stage snapshot records in `PipelineResult.metrics`
    ({stage: {"rows": n}} from the snapshot's manifest, plus
    "resumed": 1.0 for one read back on RESUME),
  * per-partition lineage records (north_rule), read from the parquet
    footers of the part files each snapshot write produced — the
    write is the only job that runs a checkpointed stage's plan,
  * optional snapshot checkpointing per stage through a Catalog, with
    idempotent RESUME: a stage keyed (run_id, stage) whose snapshot is
    already committed is read back instead of recomputed (the analog of
    the reference benchmark's --resume, evaluate.py:898-965).

The scored-windows DataFrame feeds the threshold (which also yields the
score distribution) and the filter in front of the merge; with a
catalog it is materialized once as a snapshot, else persisted in memory.

Counts come from data the pipeline already holds, not from jobs of
their own: `total_windows`, the distribution and `significant_windows`
from the threshold's pass (one job in all when a catalog supplies the
scored_windows row count), and with a catalog `merged_blocks` and the
per-sink `counts` from the blocks and sink snapshot manifests. Without
a catalog the per-sink `counts` are one aggregate over the persisted
scored windows (the kept windows' `n_turns`), not a recount of the
routed turns, so `routed` stays a lazy plan nothing in the call runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cordon_spark.config import AnalysisConfig
from cordon_spark.functions.embeddings import create_embedder
from cordon_spark.operators import parse as P
from cordon_spark.operators.merge import merge_blocks
from cordon_spark.operators.routing import route_turns, split_sinks
from cordon_spark.operators import threshold as TH
from cordon_spark.operators.scoring import score_windows_centroid, score_windows_knn
from cordon_spark.operators.windowing import segment_windows


@dataclass
class PipelineResult:
    scored_windows: DataFrame
    significant: DataFrame
    blocks: DataFrame
    routed: DataFrame
    threshold_lower: float | None
    threshold_upper: float | None
    stats: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    caches: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.caches:
            try:
                df.unpersist()
            except Exception:
                pass


def _snapshot(catalog, run_id, stage, df_builder, metrics: dict, resume: bool) -> str:
    """Write a stage's snapshot, or find it committed on RESUME, and
    record its manifest's `rows` in `metrics`; returns the snapshot id."""
    snapshot_id = f"{run_id}-{stage}"
    if resume and catalog.has_snapshot(stage, snapshot_id):
        manifest = catalog.manifest(stage, snapshot_id)
        metrics[stage] = {"rows": float(manifest["rows"]), "resumed": 1.0}
    else:
        manifest = catalog.write_snapshot(df_builder(), stage, snapshot_id)
        metrics[stage] = {"rows": float(manifest["rows"])}
    return snapshot_id


def _checkpoint(
    spark, catalog, run_id, stage, df_builder, metrics: dict, resume: bool
) -> DataFrame:
    """Build-or-load a stage through the snapshot catalog; a built
    stage's plan runs once, in the snapshot write."""
    if catalog is None:
        return df_builder()
    snapshot_id = _snapshot(catalog, run_id, stage, df_builder, metrics, resume)
    return catalog.read(spark, stage, snapshot_id)


def analyze_transcripts(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: AnalysisConfig | None = None,
    templates: list[tuple[str, str]] | None = None,
    catalog=None,
    run_id: str = "run0",
    resume: bool = False,
    tool_registry: DataFrame | None = None,
    role_taxonomy: DataFrame | None = None,
) -> PipelineResult:
    cfg = cfg or AnalysisConfig()
    metrics: dict[str, dict[str, float]] = {}
    caches: list[DataFrame] = []

    # ---- enrich (north_star: broadcast lookup dims onto the turns the
    # router fans out; windows/scoring see only conv/turn/text) --------
    if tool_registry is not None or role_taxonomy is not None:
        from cordon_spark.operators.enrich import enrich_roles, enrich_tools

        if tool_registry is not None:
            transcripts = enrich_tools(transcripts, tool_registry)
        if role_taxonomy is not None:
            transcripts = enrich_roles(transcripts, role_taxonomy)

    # ---- parse (template extraction; feeds centroid signatures) ------
    turns = P.extract_templates(transcripts, templates) if templates else transcripts

    # ---- window + embed + score (one composed plan, checkpointed) ----
    def build_scored() -> DataFrame:
        use_templates = cfg.scorer == "centroid" and bool(templates)
        windows = segment_windows(
            turns, cfg, template_col="template_id" if use_templates else None
        )
        if cfg.scorer == "centroid" and not use_templates:
            # no parse stage -> one global centroid
            windows = windows.withColumn("signature", F.lit("?"))
        score = score_windows_centroid if cfg.scorer == "centroid" else score_windows_knn
        if cfg.backend == "hash":
            # persist the window rows: every scoring pass re-embeds the
            # content with the hash kernel (kNN also once on the driver
            # for its matrix), so no vector is cached or shipped back to
            # the JVM; the cache keeps the window plan from re-running.
            windows = windows.persist()
            caches.append(windows)
            return score(spark, windows, cfg).drop("content")
        # model backends embed once and persist the UDF output (ids +
        # bounds + vector), which feeds every scoring pass
        embedded = create_embedder(cfg)(windows, "content").drop("content").persist()
        caches.append(embedded)
        # downstream (threshold/merge/route/stats) needs ids+bounds+score
        return score(spark, embedded, cfg).drop("embedding")

    scored = _checkpoint(
        spark, catalog, run_id, "scored_windows", build_scored, metrics, resume
    )
    if catalog is None:
        scored = scored.persist()
        caches.append(scored)

    # ---- threshold + score distribution (one percentile pass) --------
    # a scored_windows snapshot's manifest holds the row count, which
    # lets the threshold skip its count job
    n_scored = int(metrics["scored_windows"]["rows"]) if catalog else None
    significant, lower, upper, dist_stats = TH.select_significant(scored, cfg, n_rows=n_scored)

    # ---- merge ---------------------------------------------------------
    blocks = _checkpoint(
        spark,
        catalog,
        run_id,
        "blocks",
        lambda: merge_blocks(significant),
        metrics,
        resume,
    )
    if catalog is None:
        # blocks is small but feeds three consumers (the router's
        # turn-in-block join, count, rendering) — don't re-run the merge
        # per action
        blocks = blocks.persist()
        caches.append(blocks)

    # ---- route + sinks --------------------------------------------------
    routed = _checkpoint(
        spark,
        catalog,
        run_id,
        "routed_turns",
        lambda: route_turns(transcripts, blocks),
        metrics,
        resume,
    )
    if catalog is None:
        # the per-sink counts from ONE aggregate over the scored windows,
        # equal to a recount of the routed turns (routing.sink_counts):
        # tumbling windows split a conversation's turns by a monotone
        # function of turn_idx, so a window's [start_idx, end_idx] holds
        # exactly its own turns (duplicate rows included); a merged
        # block's range is the union of adjacent kept windows' ranges,
        # so the router sends exactly the kept windows' turns to
        # `anomalous`. A null conv_id or turn_idx never matches the
        # router's equi-join, so such a turn is `routine` — hence the
        # guard on its window's null conv_id or window_id. perfbench's
        # headline reference counts the same way (`n_in[keep].sum()`).
        keyed = F.col("conv_id").isNotNull() & F.col("window_id").isNotNull()
        kept = TH.kept_predicate(cfg, lower, upper) & keyed
        row = scored.agg(
            F.sum("n_turns").alias("total"),
            F.sum(F.when(kept, F.col("n_turns"))).alias("anomalous"),
        ).first()
        total, anomalous = int(row["total"] or 0), int(row["anomalous"] or 0)
        counts = {"anomalous": anomalous, "routine": total - anomalous}
    else:
        # each sink's count is its snapshot manifest's row count
        counts = {}
        for sink, df in zip(("anomalous", "routine"), split_sinks(routed)):
            _snapshot(catalog, run_id, f"{sink}_turns", lambda df=df: df, metrics, resume)
            counts[sink] = int(metrics[f"{sink}_turns"]["rows"])

    # ---- stats (OP-10) ---------------------------------------------------
    stats = dict(dist_stats)
    stats["total_windows"] = stats.pop("n")
    stats["significant_windows"] = stats.pop("kept")
    # a blocks snapshot's manifest already holds its row count
    stats["merged_blocks"] = int(metrics["blocks"]["rows"]) if catalog else blocks.count()

    return PipelineResult(
        caches=caches,
        scored_windows=scored,
        significant=significant,
        blocks=blocks,
        routed=routed,
        threshold_lower=lower,
        threshold_upper=upper,
        stats=stats,
        metrics=metrics,
        counts=counts,
    )
