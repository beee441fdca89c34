"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query at sf0.001: the full transcript anomaly
pipeline (window -> embed -> kNN score -> exact-percentile threshold ->
gaps-and-islands merge) over a transcripts table derived from the
documents/embeddings fixtures; returns the merged anomalous blocks.

queries() / oracle_sql() — one entry per implemented operator from
SURVEY.md §2 plus the training-data ops; implementations live in
cordon_spark.entry_queries with exact DuckDB mirrors.
"""

from __future__ import annotations

import functools
import pathlib
import sys
from collections.abc import Callable

ROOT = pathlib.Path(__file__).resolve().parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def _shipped(query: Callable[[SparkSession, str], DataFrame]):
    """`query` run on a session that has the package zip: the harness's
    session does not come from get_spark, and ship_package is a no-op
    once the zip is registered."""

    @functools.wraps(query)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from cordon_spark import session

        session.ship_package(spark)
        return query(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from cordon_spark.entry_queries import q_pipeline_blocks

    return _shipped(q_pipeline_blocks)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from cordon_spark.entry_queries import QUERIES

    return {name: _shipped(query) for name, query in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from cordon_spark.entry_queries import ORACLE_SQL

    return dict(ORACLE_SQL)
