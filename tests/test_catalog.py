"""Snapshot catalog: atomic commit, time travel, idempotent resume
(the analog of the reference benchmark's --resume,
benchmark/evaluate.py:898-965)."""

import pandas as pd
import pytest

from cordon_spark.config import AnalysisConfig
from cordon_spark.operators.metrics import partition_lineage
from cordon_spark.plans.pipeline import analyze_transcripts
from cordon_spark.sources.catalog import SnapshotCatalog


def test_write_read_roundtrip(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "wh")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    m = cat.write_snapshot(df, "t1", "s1")
    assert m["rows"] == 2
    assert cat.current_snapshot("t1") == "s1"
    got = cat.read(spark, "t1").orderBy("id").collect()
    assert [(r.id, r.v) for r in got] == [(1, "a"), (2, "b")]


def test_footer_lineage_sums_files_of_a_partition(spark, tmp_path):
    """A write task that rolls over to `c001`, `c002`, … files still
    records one partition whose rows are the sum of its files."""
    cat = SnapshotCatalog(tmp_path / "wh")
    df = spark.range(0, 1000, numPartitions=4)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try:
        m = cat.write_snapshot(df, "t", "s1")
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert len(list(cat._data_dir("t", "s1").glob("part-*.parquet"))) == 12
    assert m["rows"] == 1000
    assert m["lineage"]["partitions"] == [
        {"partition_id": pid, "rows": 250} for pid in range(4)
    ]


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "wh")
    cat.write_snapshot(spark.createDataFrame([(1,)], "id long"), "t", "s1")
    cat.write_snapshot(spark.createDataFrame([(2,), (3,)], "id long"), "t", "s2")
    assert cat.current_snapshot("t") == "s2"
    assert cat.read(spark, "t").count() == 2
    assert cat.read(spark, "t", "s1").count() == 1  # time travel
    assert cat.snapshots("t") == ["s1", "s2"]


def test_missing_table_raises(spark, tmp_path):
    cat = SnapshotCatalog(tmp_path / "wh")
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "nope")


def test_pipeline_resume_idempotent(spark, tiny_transcripts, tmp_path):
    pdf, _ = tiny_transcripts
    df = spark.createDataFrame(pdf)
    cfg = AnalysisConfig()
    cat = SnapshotCatalog(tmp_path / "wh")

    res1 = analyze_transcripts(spark, df, cfg, catalog=cat, run_id="r1", resume=True)
    blocks1 = sorted(
        (r.conv_id, r.start_idx, r.end_idx, round(r.max_score, 6))
        for r in res1.blocks.collect()
    )
    counts1 = dict(res1.counts)
    # merged_blocks is the blocks manifest's row count, not a recount
    assert res1.stats["merged_blocks"] == res1.blocks.count() > 0

    # resume: all stages must be read back, not recomputed
    res2 = analyze_transcripts(spark, df, cfg, catalog=cat, run_id="r1", resume=True)
    blocks2 = sorted(
        (r.conv_id, r.start_idx, r.end_idx, round(r.max_score, 6))
        for r in res2.blocks.collect()
    )
    assert blocks1 == blocks2
    assert counts1 == res2.counts
    assert res2.metrics["scored_windows"].get("resumed") == 1.0
    assert res2.metrics["blocks"].get("resumed") == 1.0
    assert res2.stats["merged_blocks"] == res2.blocks.count() == len(blocks1)
    # sink snapshots committed exactly once
    assert cat.snapshots("anomalous_turns") == ["r1-anomalous_turns"]

    # kill-and-rerun: drop a downstream stage, upstream stays cached
    cat.drop_snapshot("blocks", "r1-blocks")
    res3 = analyze_transcripts(spark, df, cfg, catalog=cat, run_id="r1", resume=True)
    blocks3 = sorted(
        (r.conv_id, r.start_idx, r.end_idx, round(r.max_score, 6))
        for r in res3.blocks.collect()
    )
    assert blocks3 == blocks1
    assert res3.metrics["scored_windows"].get("resumed") == 1.0  # upstream reused


PIPELINE_TABLES = (
    "scored_windows",
    "blocks",
    "routed_turns",
    "anomalous_turns",
    "routine_turns",
)


class _PlanLineageCatalog(SnapshotCatalog):
    """Records, before each write, the lineage the plan itself gives
    (`partition_lineage`, a `groupBy(spark_partition_id())` count over
    the very DataFrame about to be written)."""

    def __init__(self, root):
        super().__init__(root)
        self.plan_lineage = {}

    def write_snapshot(self, df, table, snapshot_id, lineage=None):
        self.plan_lineage[table] = sorted(
            (r.partition_id, r.rows) for r in partition_lineage(df, table).collect()
        )
        return super().write_snapshot(df, table, snapshot_id, lineage)


def test_lineage_recorded(spark, tiny_transcripts, tmp_path):
    """The footer-read lineage of every table the pipeline writes equals
    what `partition_lineage` gives for the DataFrame that was written."""
    pdf, _ = tiny_transcripts
    df = spark.createDataFrame(pdf)
    cat = _PlanLineageCatalog(tmp_path / "wh")
    analyze_transcripts(spark, df, AnalysisConfig(), catalog=cat, run_id="r9")
    assert set(cat.plan_lineage) == set(PIPELINE_TABLES)
    for table in PIPELINE_TABLES:
        man = cat.manifest(table, f"r9-{table}")
        parts = [(p["partition_id"], p["rows"]) for p in man["lineage"]["partitions"]]
        assert parts == cat.plan_lineage[table], table
        assert man["rows"] == sum(n for _, n in parts)
    assert cat.plan_lineage["scored_windows"]  # non-trivial fixture


# (rows, [(partition_id, rows)]) per checkpointed stage, as
# `partition_lineage` gives them for the fixture under the suite's
# local[4] session with 4 shuffle partitions.
PINNED_LINEAGE = {
    "tiny": {
        "scored_windows": (780, [(0, 195), (1, 195), (2, 195), (3, 195)]),
        "blocks": (71, [(0, 71)]),
        "routed_turns": (3113, [(0, 778), (1, 778), (2, 778), (3, 779)]),
    },
    "empty": {
        "scored_windows": (0, []),
        "blocks": (0, []),
        "routed_turns": (0, []),
    },
}


@pytest.mark.parametrize("case", sorted(PINNED_LINEAGE))
def test_checkpoint_manifests_pinned(spark, tiny_transcripts, tmp_path, case):
    pdf, _ = tiny_transcripts
    df = spark.createDataFrame(pdf)
    if case == "empty":
        df = df.limit(0)
    cat = SnapshotCatalog(tmp_path / "wh")
    res = analyze_transcripts(spark, df, AnalysisConfig(), catalog=cat, run_id="p")
    for stage, (rows, parts) in PINNED_LINEAGE[case].items():
        man = cat.manifest(stage, f"p-{stage}")
        assert man["rows"] == rows, stage
        got = [(p["partition_id"], p["rows"]) for p in man["lineage"]["partitions"]]
        assert got == parts, stage
        assert res.metrics[stage]["rows"] == rows


def test_checkpoint_runs_plan_once(spark, tmp_path):
    """A checkpointed stage's plan runs in the snapshot write only: a
    Python UDF in it sees each row once, and reading the committed
    snapshot back does not run it again."""
    from pyspark.sql import functions as F

    from cordon_spark.plans.pipeline import _checkpoint

    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(_id):
        seen.add(1)
        return True

    def build():
        return spark.range(0, 1000, numPartitions=4).filter(keep("id"))

    cat = SnapshotCatalog(tmp_path / "wh")
    metrics = {}
    df = _checkpoint(spark, cat, "r", "stage", build, metrics, resume=False)
    assert metrics == {"stage": {"rows": 1000}}
    assert seen.value == 1000
    assert df.count() == 1000
    assert seen.value == 1000


def test_read_plans_from_manifest_schema(spark, tiny_transcripts, tmp_path):
    """`read` takes the schema the manifest recorded instead of inferring
    it; for every table the pipeline writes that is the schema, and
    those are the rows, a plain parquet read of the snapshot gives."""
    pdf, _ = tiny_transcripts
    df = spark.createDataFrame(pdf)
    cat = SnapshotCatalog(tmp_path / "wh")
    analyze_transcripts(spark, df, AnalysisConfig(), catalog=cat, run_id="s")
    for table in PIPELINE_TABLES:
        got = cat.read(spark, table)
        plain = spark.read.parquet(str(cat._data_dir(table, f"s-{table}")))
        assert got.schema == plain.schema, table
        assert sorted(got.collect()) == sorted(plain.collect()), table


def test_mid_write_kill_recovers(spark, tiny_transcripts, tmp_path):
    """Chaos case for the manifest-commit-after-data invariant: a kill
    MID-PARQUET-WRITE leaves a truncated data dir with NO manifest.
    Because resume trusts only the manifest (has_snapshot), the stage
    must be recomputed — overwriting the garbage — and the rerun's
    output must equal an uninterrupted run's."""
    import shutil

    pdf, _ = tiny_transcripts
    df = spark.createDataFrame(pdf)
    cfg = AnalysisConfig()
    cat = SnapshotCatalog(tmp_path / "wh")

    res1 = analyze_transcripts(spark, df, cfg, catalog=cat, run_id="r1", resume=True)
    blocks1 = sorted(
        (r.conv_id, r.start_idx, r.end_idx, round(r.max_score, 6))
        for r in res1.blocks.collect()
    )

    # simulate the mid-write kill on the scored_windows stage: delete the
    # manifest (it was never written), then truncate the data dir to a
    # partial, unreadable state (one stray non-parquet part file).
    sid = "r1-scored_windows"
    cat._manifest_path("scored_windows", sid).unlink()
    ddir = cat._data_dir("scored_windows", sid)
    shutil.rmtree(ddir)
    ddir.mkdir(parents=True)
    (ddir / "part-00000.parquet").write_bytes(b"truncated garbage, not parquet")

    assert not cat.has_snapshot("scored_windows", sid)  # invariant holds
    res2 = analyze_transcripts(spark, df, cfg, catalog=cat, run_id="r1", resume=True)
    blocks2 = sorted(
        (r.conv_id, r.start_idx, r.end_idx, round(r.max_score, 6))
        for r in res2.blocks.collect()
    )
    assert blocks2 == blocks1
    # stage was recomputed (not resumed) and recommitted atomically
    assert res2.metrics["scored_windows"].get("resumed") is None
    assert cat.has_snapshot("scored_windows", sid)
    # downstream stages HAD committed manifests, so they resume
    assert res2.metrics["blocks"].get("resumed") == 1.0


def test_compact_snapshot(spark, tmp_path):
    """Compaction rewrites a many-small-files snapshot into few files
    as a NEW snapshot: rows identical, old snapshot still readable
    (time travel preserved), current pointer flips to the compacted
    one, lineage records the source."""
    from cordon_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(tmp_path / "wh")
    df = spark.range(0, 10_000).withColumnRenamed("id", "v").repartition(40)
    cat.write_snapshot(df, "t", "s1")
    src_files = list((tmp_path / "wh/t/data/snapshot=s1").rglob("*.parquet"))
    assert len(src_files) >= 40

    m = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert m["snapshot_id"] == "s1-compacted"
    assert m["rows"] == 10_000
    assert m["lineage"]["op"] == "compact" and m["lineage"]["source_snapshot"] == "s1"
    new_files = list(
        (tmp_path / "wh/t/data/snapshot=s1-compacted").rglob("*.parquet")
    )
    assert len(new_files) == 1  # 40 tiny files -> one ~target file
    # identical content, both snapshots readable
    assert cat.read(spark, "t").count() == 10_000
    assert sorted(r.v for r in cat.read(spark, "t", "s1").collect()) == sorted(
        r.v for r in cat.read(spark, "t", "s1-compacted").collect()
    )
    assert cat.current_snapshot("t") == "s1-compacted"
    # compacting a missing table refuses
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        cat.compact(spark, "nope")
