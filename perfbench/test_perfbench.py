"""Self-test of the benchmark's event-log folder, spans and process sampler.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs a tiny two-layer pipeline on local[2] with the event log on, each
layer under its own span and job group, and checks that the folder
attributes each layer's tasks, jobs and Python-boundary rows to that
layer, and that the layer spans cover the enclosing traced span within
the benchmark's wall_s bound.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import eventlog  # noqa: E402
from proctree import TreeSampler, tree_usage  # noqa: E402
from tracing import Tracer  # noqa: E402

ROWS = 3000
PARTS_A = 3
PARTS_B = 2


def _wall_bound() -> float:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "wall_s")


@pytest.fixture(scope="module")
def traced_pipeline(tmp_path_factory):
    import pandas as pd
    from pyspark.sql import SparkSession, functions as F

    import run as R

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.logStageExecutorMetrics", "true")
        .config("spark.executor.metrics.pollingInterval", "50ms")
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark, run_id="selftest")

        @F.pandas_udf("double")
        def double(v: pd.Series) -> pd.Series:
            return v * 2.0

        with tracer.span("traced"):
            a = tracer.force(
                "layer_a",
                lambda: spark.range(0, ROWS, numPartitions=PARTS_A).withColumn("y", double("id")),
            )
            tracer.action(
                "layer_b",
                lambda: a.repartition(PARTS_B).groupBy((F.col("id") % 7).alias("k")).count().collect(),
                rows=len,
            )
        tracer.release()
    finally:
        spark.stop()
        R.shutdown_jvm()
    return tracer, eventlog.fold(eventlog.read_events(log_dir))


def test_tasks_attributed_to_their_group(traced_pipeline):
    tracer, groups = traced_pipeline
    a, b = groups["layer_a"], groups["layer_b"]
    # layer_a: one persisted scan + count over PARTS_A partitions
    assert a.jobs >= 1 and a.tasks >= PARTS_A
    # every Python row of the pipeline crossed in layer_a, none in layer_b
    assert a.py_rows_in == ROWS and a.py_rows_out == ROWS
    assert b.py_rows_in == 0 and b.py_mb == 0.0
    assert a.py_mb > 0.0
    # only layer_b shuffles the cached rows (layer_a's count shuffles one row per partition)
    assert b.shuffle_mb > a.shuffle_mb
    assert tracer.rows == {"layer_a": ROWS, "layer_b": 7}
    # nothing ran outside a layer's group
    assert "traced" not in groups and eventlog.NO_GROUP not in groups
    # the driver's peak heap is folded per group from the stage metrics
    assert a.peak_heap_mb > 0.0 and b.peak_heap_mb > 0.0


def test_spans_cover_traced_wall(traced_pipeline):
    tracer, _ = traced_pipeline
    traced = tracer.wall("traced")
    layers = tracer.wall("layer_a") + tracer.wall("layer_b")
    assert layers <= traced
    assert (traced - layers) / traced <= _wall_bound()
    parents = {s["name"]: s["parent"] for s in tracer.spans}
    assert parents == {"layer_a": "traced", "layer_b": "traced", "traced": None}


def test_sampler_counts_child_cpu():
    sampler = TreeSampler(os.getpid(), interval_s=0.02)
    sampler.start()
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", busy], check=True)
    cpu, rss = sampler.stop()
    assert cpu >= 0.4
    assert rss > 0.0
    assert tree_usage(os.getpid())[0] > 0.0
