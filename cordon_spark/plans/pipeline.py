"""Pipeline orchestrator (reference: src/cordon/pipeline.py:17-98).

Wires the stages parse -> window -> embed -> score -> threshold ->
merge -> route -> sinks with:

  * driver-side stage wall-clock timings + snapshot row counts
    (StageMetrics; a lazy plan's work is charged to the stage whose
    action runs it),
  * per-partition lineage records (north_rule), read from the parquet
    footers of the part files each snapshot write produced — the
    write is the only job that runs a checkpointed stage's plan,
  * optional snapshot checkpointing per stage through a Catalog, with
    idempotent RESUME: a stage keyed (run_id, stage) whose snapshot is
    already committed is read back instead of recomputed (the analog of
    the reference benchmark's --resume, evaluate.py:898-965).

The scored-windows DataFrame feeds three consumers (threshold, stats,
filter); with a catalog it is materialized once as a snapshot, else
persisted in memory.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cordon_spark.config import AnalysisConfig
from cordon_spark.functions.embeddings import create_embedder
from cordon_spark.operators import metrics as M
from cordon_spark.operators import parse as P
from cordon_spark.operators.merge import merge_blocks
from cordon_spark.operators.routing import (
    route_turns,
    route_turns_windowed,
    sink_counts,
    split_sinks,
)
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


def _checkpoint(
    spark, catalog, run_id, stage, df_builder, metrics: M.StageMetrics, resume: bool
):
    """Build-or-load a stage through the snapshot catalog; a built
    stage's plan runs once, in the snapshot write."""
    if catalog is None:
        df = df_builder()
        return df, False
    snapshot_id = f"{run_id}-{stage}"
    if resume and catalog.has_snapshot(stage, snapshot_id):
        metrics.add(stage, "resumed", 1.0)
        return catalog.read(spark, stage, snapshot_id), True
    manifest = catalog.write_snapshot(df_builder(), stage, snapshot_id)
    metrics.add(stage, "rows", float(manifest["rows"]))
    return catalog.read(spark, stage, snapshot_id), False


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
    metrics = M.StageMetrics()
    caches: list[DataFrame] = []

    # ---- enrich (north_star: broadcast lookup dims onto the turns the
    # router fans out; windows/scoring see only conv/turn/text) --------
    if tool_registry is not None or role_taxonomy is not None:
        from cordon_spark.operators.enrich import enrich_roles, enrich_tools

        metrics.start("enrich")
        if tool_registry is not None:
            transcripts = enrich_tools(transcripts, tool_registry)
        if role_taxonomy is not None:
            transcripts = enrich_roles(transcripts, role_taxonomy)
        metrics.stop("enrich")

    # ---- parse (template extraction; feeds centroid signatures) ------
    turns = transcripts
    if templates or cfg.scorer == "centroid":
        tpls = templates or []
        metrics.start("parse")
        turns = P.extract_templates(transcripts, tpls) if tpls else transcripts
        metrics.stop("parse")

    # ---- window + embed + score (one composed plan, checkpointed) ----
    def build_scored() -> DataFrame:
        use_templates = cfg.scorer == "centroid" and bool(templates)
        windows = segment_windows(
            turns, cfg, template_col="template_id" if use_templates else None
        )
        if cfg.scorer == "centroid" and not use_templates:
            # no parse stage -> one global centroid
            windows = windows.withColumn("signature", F.lit("?"))
        if cfg.scorer == "centroid" and cfg.backend == "hash":
            # persist the window rows (ids, bounds, signature, content):
            # both centroid passes (partial sums + scoring) re-embed the
            # content with the hash kernel inside their mapInPandas, so
            # no vector is ever cached or shipped back to the JVM; the
            # cache keeps the window plan from re-running per pass.
            windows = windows.persist()
            caches.append(windows)
            return score_windows_centroid(spark, windows, cfg).drop("content")
        # persist: the embedding UDF output feeds the scorer's passes and
        # several downstream actions — without this the whole
        # window+embed plan re-executes per action. content is projected
        # away once embedded (column pruning keeps the cache at ids +
        # bounds + vector).
        embedded = create_embedder(cfg)(windows, "content").drop("content").persist()
        caches.append(embedded)
        if cfg.scorer == "centroid":
            scored_df = score_windows_centroid(spark, embedded, cfg)
        else:
            scored_df = score_windows_knn(spark, embedded, cfg)
        # downstream (threshold/merge/route/stats) needs ids+bounds+score
        return scored_df.drop("embedding")

    metrics.start("score")
    scored, _ = _checkpoint(
        spark, catalog, run_id, "scored_windows", build_scored, metrics, resume
    )
    if catalog is None:
        scored = scored.persist()
        caches.append(scored)
    metrics.stop("score")

    # ---- threshold + score distribution (one percentile pass) --------
    metrics.start("threshold")
    significant, lower, upper, dist_stats = TH.select_significant(scored, cfg)
    metrics.stop("threshold")

    # ---- merge ---------------------------------------------------------
    metrics.start("merge")
    blocks, _ = _checkpoint(
        spark,
        catalog,
        run_id,
        "blocks",
        lambda: merge_blocks(significant),
        metrics,
        resume,
    )
    if catalog is None:
        # blocks is tiny but feeds three consumers (router broadcast,
        # count, rendering) — don't re-run the merge per action
        blocks = blocks.persist()
        caches.append(blocks)
    metrics.stop("merge")

    # ---- route + sinks --------------------------------------------------
    metrics.start("route")

    def build_routed() -> DataFrame:
        # broadcast range join while blocks fit; above the limit switch
        # to the equi-join router (same output; no broadcast ceiling —
        # at 10^12 turns the post-threshold block set can be billions
        # of rows). limit-probe early-terminates, costing ~nothing.
        probe = blocks.limit(cfg.broadcast_blocks_limit + 1).count()
        if probe > cfg.broadcast_blocks_limit:
            return route_turns_windowed(transcripts, significant, cfg.window_size)
        return route_turns(transcripts, blocks)

    routed, _ = _checkpoint(
        spark,
        catalog,
        run_id,
        "routed_turns",
        build_routed,
        metrics,
        resume,
    )
    counts = sink_counts(routed)
    if catalog is not None:
        anomalous, routine = split_sinks(routed)
        for name, df in (("anomalous_turns", anomalous), ("routine_turns", routine)):
            sid = f"{run_id}-{name}"
            if not (resume and catalog.has_snapshot(name, sid)):
                catalog.write_snapshot(df, name, sid)
    metrics.stop("route", anomalous=counts["anomalous"], routine=counts["routine"])

    # ---- stats (OP-10) ---------------------------------------------------
    metrics.start("stats")
    stats = dict(dist_stats)
    stats["total_windows"] = stats.pop("n")
    stats["significant_windows"] = significant.count()
    stats["merged_blocks"] = blocks.count()
    metrics.stop("stats")

    return PipelineResult(
        caches=caches,
        scored_windows=scored,
        significant=significant,
        blocks=blocks,
        routed=routed,
        threshold_lower=lower,
        threshold_upper=upper,
        stats=stats,
        metrics=metrics.to_dict(),
        counts=counts,
    )
