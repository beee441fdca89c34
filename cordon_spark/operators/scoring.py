"""OP-5: k-NN density anomaly scoring (scorer.py:129-321) + the
centroid-sketch scale path (SURVEY.md §7.5 / north_star).

Exact k-NN, Spark spelling
--------------------------
The reference materializes an (n_windows x dim) float32 matrix and runs
blocked matmul + running top-k (scorer.py:147,247 / :264-305). n_windows
is n_turns / window_size — small relative to the input — so the idiomatic
distributed form is:

  1. collect the (id-ordered) embedding matrix once (Arrow toPandas),
  2. BROADCAST it to all executors,
  3. mapInPandas: each partition scores ITS OWN rows against the
     broadcast matrix with the shared numpy kernel — embarrassingly
     parallel, zero shuffle, and bit-identical under any partitioning:
     the kernel runs queries in fixed-shape zero-padded blocks against
     absolute-offset candidate chunks, so a score never depends on
     which rows share its Arrow batch (the reference's
     batch-size-invariance property, tests/test_analysis.py:76-100).

The relational spelling (crossJoin + Window row_number <= k + avg) is
kept in the DuckDB oracle SQL only — it is the O(n^2)-shuffle plan you
must NOT run at scale.

Centroid sketch, 100 TB path
----------------------------
Exact k-NN is O(n^2) in windows and needs the full matrix per executor;
at 10^12 turns both break. north_star substitutes per-template centroid
sketches in broadcast state: score = leave-one-out cosine distance to
the centroid of the window's template signature. That is one map-side
partial sum per partition over a tiny key space, one broadcast dict and
one mapInPandas scoring pass running kernel.centroid_scores_loo — O(n),
no join, no shuffle of vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cordon_spark.config import AnalysisConfig
from cordon_spark.kernel import KNN_CHUNK_SIZE

_SCORE_FIELD = T.StructField("score", T.DoubleType(), False)


def _collect_matrix(windows: DataFrame, id_cols: list[str]) -> np.ndarray:
    pdf = (
        windows.select(*id_cols, "embedding")
        .orderBy(*id_cols)
        .toPandas()
    )
    if len(pdf) == 0:
        return np.zeros((0, 1), dtype=np.float64)
    return np.array(pdf["embedding"].tolist(), dtype=np.float64)


def score_windows_knn(
    spark: SparkSession,
    windows: DataFrame,
    cfg: AnalysisConfig,
    id_cols: tuple[str, ...] = ("conv_id", "window_id"),
) -> DataFrame:
    """windows(+embedding) -> windows(+score). Exact k-NN vs all windows.

    Single-window edge: score 0.0 (scorer.py:344-346); empty input:
    empty output (scorer.py:340-341) — both handled inside the kernel.

    Guarded: refuses above cfg.knn_max_windows (the matrix collect is
    driver-bound by design — it is the exact test-scale oracle); the
    scale path is scorer="centroid".
    """
    # limit-probe instead of a full count: early-terminates as soon as
    # max+1 rows exist, so the guard costs ~nothing at 10^12-turn scale
    probe = windows.limit(cfg.knn_max_windows + 1).count()
    if probe > cfg.knn_max_windows:
        raise ValueError(
            f"exact kNN scoring collects the full embedding matrix to the "
            f"driver; input exceeds knn_max_windows="
            f"{cfg.knn_max_windows} windows. Use scorer='centroid' (the "
            f"O(n) broadcast-sketch scale path) or raise knn_max_windows."
        )
    matrix = _collect_matrix(windows, list(id_cols))
    bc = spark.sparkContext.broadcast(matrix)
    # Spread the scoring across the cluster: the input is often a
    # single small parquet file = ONE scan task, which serializes the
    # whole O(n^2) matmul through one python worker (measured 34s for
    # 20k rows at sf1.0; 32-way it is ~2s). The kernel's fixed query
    # blocks and absolute candidate chunks keep the scores bit-identical
    # to the unpartitioned oracle. Scale-adaptive: width comes from the
    # scheduler, not a constant (guide §2).
    n_slots = spark.sparkContext.defaultParallelism
    if n_slots > 1 and len(matrix) >= 2 * n_slots:
        windows = windows.repartition(n_slots)
    # scoring_batch_size is the reference's explicit knob; when None the
    # Spark-side default chunk applies (reference auto-detects by GPU)
    k = cfg.k_neighbors
    chunk = cfg.scoring_batch_size or KNN_CHUNK_SIZE
    schema = T.StructType(windows.schema.fields + [_SCORE_FIELD])

    def score_partition(batches):
        from cordon_spark import kernel

        cand = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(score=pd.Series(dtype="float64"))
                continue
            queries = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            scores = kernel.knn_scores(queries, cand, k, chunk)
            yield pdf.assign(score=scores)

    return windows.mapInPandas(score_partition, schema)


_TREE_FANIN = 64

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("sigs", T.ArrayType(T.StringType())),
        T.StructField("cnts", T.ArrayType(T.LongType())),
        T.StructField("flat", T.ArrayType(T.DoubleType())),
    ]
)


def _window_vectors(pdf: pd.DataFrame, dim: int) -> np.ndarray:
    if "embedding" in pdf.columns:
        return np.array(pdf["embedding"].tolist(), dtype=np.float64)
    from cordon_spark import kernel

    return kernel.embed_texts(pdf["content"].fillna("").tolist(), dim)


def _reduce(parts: list) -> tuple:
    """Merge (sigs, cnts, sum-matrix) partials into one per signature —
    a factorize + np.add.at, no per-row Python."""
    sigs = [sig for part in parts for sig in part[0]]
    codes, uniques = pd.factorize(np.asarray(sigs, dtype=object), sort=False)
    mat = np.vstack([part[2] for part in parts])
    sums = np.zeros((len(uniques), mat.shape[1]), dtype=np.float64)
    np.add.at(sums, codes, mat)
    cnts = np.bincount(
        codes,
        weights=np.concatenate([np.asarray(part[1], dtype=np.float64) for part in parts]),
        minlength=len(uniques),
    )
    return list(uniques), cnts.astype(np.int64).tolist(), sums


def _unpack(pdf: pd.DataFrame) -> list:
    """Rows of the partial schema -> (sigs, cnts, sum-matrix) partials."""
    return [
        (list(sigs), cnts, np.asarray(flat, dtype=np.float64).reshape(len(sigs), -1))
        for sigs, cnts, flat in zip(pdf["sigs"], pdf["cnts"], pdf["flat"])
        if len(sigs)
    ]


def _pack(parts: list):
    """One partial-schema row holding the merge of `parts` (none if empty)."""
    if parts:
        sigs, cnts, sums = _reduce(parts)
        yield pd.DataFrame({"sigs": [sigs], "cnts": [cnts], "flat": [sums.ravel()]})


def _merge_partial_rows(batches):
    """Combine rows of the partial schema into one row per partition —
    the executor-side level of the tree reduce."""
    yield from _pack([part for pdf in batches for part in _unpack(pdf)])


def template_centroids(
    windows: DataFrame, signature_col: str = "signature", embedding_dim: int = 64
) -> tuple[dict, dict]:
    """(sum_map, count_map) of per-signature embedding SUMS via
    MAP-SIDE PARTIAL AGGREGATION (sums rather than normalized centroids
    so the scorer can do leave-one-out subtraction): each
    partition reduces its windows to ONE (sigs, cnts, flat sum-matrix)
    row inside one mapInPandas pass — numpy sums, no exploded shuffle —
    and the tiny partials merge on the driver. At 10^12 turns this is
    the only aggregation shape that works: the shuffle payload is
    O(signatures x dim) per partition, independent of row count.

    Vectors come from the `embedding` column when `windows` has one,
    else from the hash kernel over `content` (`embedding_dim` wide)."""
    vec_col = "embedding" if "embedding" in windows.columns else "content"

    def partials(batches):
        # each Arrow batch reduces to its own sums before the next is read,
        # so a partition never holds more than one batch of vectors
        yield from _pack(
            [
                _reduce(
                    [(pdf["signature"], np.ones(len(pdf)), _window_vectors(pdf, embedding_dim))]
                )
                for pdf in batches
                if len(pdf)
            ]
        )

    partial_df = windows.select(
        F.col(signature_col).alias("signature"), vec_col
    ).mapInPandas(partials, _PARTIAL_SCHEMA)
    # treeAggregate-style two-level reduce: above _TREE_FANIN input
    # partitions, the one-row-per-partition partials are themselves
    # combined executor-side (repartition to ~sqrt(P) then merge rows of
    # the partial schema with the same vectorized combiner), so the
    # driver sees O(sqrt(partitions)) rows instead of O(partitions) —
    # the shape that holds at 1000+ executors. Partial-sum merge order
    # changes the result only in the last float ulp (asserted at 1e-9 in
    # tests).
    n_parts = partial_df.rdd.getNumPartitions()
    if n_parts > _TREE_FANIN:
        fanin = max(2, int(n_parts**0.5))
        partial_df = partial_df.repartition(fanin).mapInPandas(
            _merge_partial_rows, _PARTIAL_SCHEMA
        )
    parts = _unpack(partial_df.toPandas())
    if not parts:
        return {}, {}
    sigs, cnts, sums = _reduce(parts)
    return dict(zip(sigs, sums)), dict(zip(sigs, cnts))


def score_windows_centroid(
    spark: SparkSession,
    windows: DataFrame,
    cfg: AnalysisConfig,
    signature_col: str = "signature",
) -> DataFrame:
    """Scale-path scorer: LEAVE-ONE-OUT cosine distance to the
    own-signature centroid (singleton/unseen signatures fall back to
    the global LOO centroid) — see kernel.centroid_scores_loo for why
    self-exclusion is load-bearing. O(n); no O(n^2) anywhere.

    Two mapInPandas passes over `windows`: template_centroids reduces
    per-signature sums, which reach the executors as ONE broadcast of
    O(signatures x dim) floats; the second pass scores each Arrow batch
    with kernel.centroid_scores_loo. Vectors come from the `embedding`
    column when there is one; otherwise both passes re-embed `content`
    with the hash kernel (measured ~158k windows/s/core), which is
    cheaper than carrying 64 doubles per window across the Arrow
    boundary and through a cache. Any other backend must embed first:
    without an `embedding` column it raises ValueError."""
    if "embedding" not in windows.columns and cfg.backend != "hash":
        raise ValueError(
            f"centroid scoring re-embeds window content with the hash kernel, "
            f"but cfg.backend={cfg.backend!r}: embed the windows first and "
            f"pass them with an `embedding` column"
        )
    dim = cfg.embedding_dim
    sum_map, count_map = template_centroids(windows, signature_col, dim)
    global_count = int(sum(count_map.values()))
    if global_count <= 1:
        return windows.withColumn("score", F.lit(0.0))
    global_sum = np.sum(np.stack(list(sum_map.values())), axis=0)
    bc = spark.sparkContext.broadcast((sum_map, count_map, global_sum, global_count))
    schema = T.StructType(windows.schema.fields + [_SCORE_FIELD])

    def score_partition(batches):
        from cordon_spark import kernel

        state = bc.value
        for pdf in batches:
            vecs = _window_vectors(pdf, dim)
            yield pdf.assign(
                score=kernel.centroid_scores_loo(vecs, pdf[signature_col], *state)
            )

    return windows.mapInPandas(score_partition, schema)
