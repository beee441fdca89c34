"""Job budget: the Spark jobs a tiny pipeline run, and the threshold
entry queries, launch, pinned.

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
        run()
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
    [("knn", True, 12), ("knn", False, 14), ("centroid", False, 13)],
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

    assert _jobs(spark, lambda: run().unpersist()) == budget
    if with_catalog:
        # a resumed run reads every stage back and recomputes nothing:
        # its one job is the threshold's collect of the score column
        assert _jobs(spark, lambda: run(resume=True).unpersist()) == 1


@pytest.mark.parametrize("query", ["q_threshold_range", "q_threshold_percentile"])
def test_threshold_query_job_budget(spark, tmp_path, query):
    """The threshold queries take the scored rows' count from the
    embeddings footers, so the threshold runs no count/approx job in
    front of its collect of the score column (7 jobs with it)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cordon_spark import entry_queries

    rng = np.random.RandomState(14)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    table = pa.table({"vec_id": np.arange(300, dtype="int64"), "embedding": list(vecs)})
    pq.write_table(table, tmp_path / "embeddings.parquet")
    fn = getattr(entry_queries, query)
    assert _jobs(spark, lambda: fn(spark, str(tmp_path)).collect()) == 5
