"""Job budget: the Spark jobs a tiny pipeline run launches, pinned.

A stage whose plan runs twice, a probe job in front of a collect, or a
count that restates a manifest's row count each add jobs; the counts
below fail when one comes back. A change that cuts jobs on purpose
lowers the pinned number with it."""

import uuid

import pytest

from cordon_spark.config import AnalysisConfig
from cordon_spark.datagen import TEMPLATES, generate_transcripts
from cordon_spark.plans.pipeline import analyze_transcripts
from cordon_spark.sources.catalog import SnapshotCatalog

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _jobs(spark, run) -> int:
    """Jobs launched by `run()`, counted through a job group set on this
    thread only and cleared afterwards."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        run().unpersist()
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def budget_df(spark):
    """Transcripts no other test plans over: a cache another test left
    behind cannot stand in for a stage here and hide its jobs."""
    pdf, _ = generate_transcripts(n_convs=6, mean_turns=30, seed=1212)
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize(
    "scorer, with_catalog, budget",
    [("knn", True, 12), ("knn", False, 15), ("centroid", False, 14)],
    # ids without the pinned number, so lowering a pin renames no test
    ids=["knn-catalog", "knn", "centroid"],
)
def test_pipeline_job_budget(spark, budget_df, tmp_path, scorer, with_catalog, budget):
    cfg = AnalysisConfig(scorer=scorer)
    templates = TEMPLATES if scorer == "centroid" else None
    catalog = SnapshotCatalog(tmp_path / "wh") if with_catalog else None

    def run(resume=False):
        return analyze_transcripts(
            spark, budget_df, cfg, templates=templates, catalog=catalog, resume=resume
        )

    assert _jobs(spark, run) == budget
    if with_catalog:
        # a resumed run reads every stage back and recomputes nothing:
        # its one job is the threshold's collect of the score column
        assert _jobs(spark, lambda: run(resume=True)) == 1
