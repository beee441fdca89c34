"""OP-5: k-NN density anomaly scoring (scorer.py:129-321) + the
centroid-sketch scale path (SURVEY.md §7.5 / north_star).

Exact k-NN, Spark spelling
--------------------------
The reference materializes an (n_windows x dim) float32 matrix and runs
blocked matmul + running top-k (scorer.py:147,247 / :264-305). n_windows
is n_turns / window_size — small relative to the input — so the idiomatic
distributed form is:

  1. collect the matrix once (Arrow toPandas of at most knn_max_windows
     + 1 rows, which is the size guard) and sort it by id on the driver,
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

score_windows_frozen scores new windows (a stream's, or a later
batch's) against the sums an earlier batch's template_centroids
returned. Every scorer is the same mapInPandas pass, `_score_pass`,
with its own kernel call; a missing signature is "?" in every pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from cordon_spark import kernel
from cordon_spark.config import AnalysisConfig
from cordon_spark.kernel import KNN_CHUNK_SIZE

_SCORE_FIELD = T.StructField("score", T.DoubleType(), False)


def _vector_col(windows: DataFrame, cfg: AnalysisConfig) -> str:
    """`embedding` if present, else `content` (hash backend only)."""
    if "embedding" in windows.columns:
        return "embedding"
    if cfg.backend != "hash":
        raise ValueError(
            f"scoring re-embeds window content with the hash kernel, but "
            f"cfg.backend={cfg.backend!r}: embed the windows first and pass "
            f"them with an `embedding` column"
        )
    return "content"


def _window_vectors(pdf: pd.DataFrame, dim: int) -> np.ndarray:
    if "embedding" in pdf.columns:
        return np.array(pdf["embedding"].tolist(), dtype=np.float64)
    return kernel.embed_texts(pdf["content"].fillna("").tolist(), dim)


def _signatures(pdf: pd.DataFrame, signature_col: str | None) -> pd.Series:
    """The batch's signature keys; a missing one (or no column) is "?",
    the key the windower gives a turn without a template."""
    if signature_col is None:
        return pd.Series("?", index=pdf.index, dtype=object)
    return pdf[signature_col].fillna("?")


def _score_pass(windows: DataFrame, dim: int, state, scores) -> DataFrame:
    """windows -> windows(+score) in ONE mapInPandas pass: `state` goes
    to the executors as one broadcast, and each Arrow batch is scored
    by `scores(vectors, batch, state)` over the batch's `_window_vectors`.
    Every window scorer is this pass with its own kernel call."""
    bc = windows.sparkSession.sparkContext.broadcast(state)
    schema = T.StructType(windows.schema.fields + [_SCORE_FIELD])

    def score_partition(batches):
        value = bc.value
        for pdf in batches:
            yield pdf.assign(score=scores(_window_vectors(pdf, dim), pdf, value))

    return windows.mapInPandas(score_partition, schema)


def _collect_matrix(windows: DataFrame, id_cols: list, cfg: AnalysisConfig) -> np.ndarray:
    """The id-ordered matrix from ONE collect that is also the guard."""
    pdf = (
        windows.select(*id_cols, _vector_col(windows, cfg))
        .limit(cfg.knn_max_windows + 1)
        .toPandas()
    )
    if len(pdf) > cfg.knn_max_windows:
        raise ValueError(
            f"exact kNN scoring collects the full embedding matrix to the "
            f"driver; input exceeds knn_max_windows="
            f"{cfg.knn_max_windows} windows. Use scorer='centroid' (the "
            f"O(n) broadcast-sketch scale path) or raise knn_max_windows."
        )
    pdf = pdf.sort_values(id_cols, kind="mergesort", ignore_index=True)
    return _window_vectors(pdf, cfg.embedding_dim)


def score_windows_knn(
    spark: SparkSession,
    windows: DataFrame,
    cfg: AnalysisConfig,
    id_cols: tuple[str, ...] = ("conv_id", "window_id"),
) -> DataFrame:
    """windows -> windows(+score). Exact k-NN vs all windows.

    Vectors come from `embedding`, else (hash backend only) `content`
    is embedded on the driver for the matrix and per batch for the
    queries. Single window: score 0.0 (scorer.py:344-346); empty input:
    empty output (scorer.py:340-341) — both handled inside the kernel.

    Guarded: the matrix collect takes at most cfg.knn_max_windows + 1
    rows and refuses if it got more (the exact test-scale oracle is
    driver-bound by design); the scale path is scorer="centroid".
    """
    return _knn_counted(spark, windows, cfg, id_cols)[0]


def _knn_counted(spark, windows, cfg, id_cols=("conv_id", "window_id")):
    """(score_windows_knn's result, its row count): the collected
    matrix holds one row per window."""
    matrix = _collect_matrix(windows, list(id_cols), cfg)
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
    scored = _score_pass(
        windows,
        cfg.embedding_dim,
        matrix,
        lambda vecs, pdf, cand: kernel.knn_scores(vecs, cand, k, chunk),
    )
    return scored, len(matrix)


_TREE_FANIN = 64

# a StructType, not a DDL string: PySpark parses DDL through a JVM
# round trip (PythonSQLUtils.ddlToJson) on every mapInPandas call
_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("pid", T.LongType()),
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("flat", T.ArrayType(T.DoubleType())),
    ]
)


def _key_sums(keys, mat: np.ndarray) -> tuple[list, np.ndarray]:
    """(distinct keys, per-key sums of `mat`'s rows): a factorize +
    np.add.at, each key's rows summed from zeros in row order."""
    codes, uniques = pd.factorize(np.asarray(keys, dtype=object), sort=False)
    sums = np.zeros((len(uniques), mat.shape[1]), dtype=np.float64)
    np.add.at(sums, codes, mat)
    return list(uniques), sums


def _merge_partials(pdf: pd.DataFrame) -> tuple[list, np.ndarray]:
    """_key_sums of partial rows taken in pid order."""
    pdf = pdf.sort_values("pid", kind="mergesort")
    mats = [
        np.asarray(flat, dtype=np.float64).reshape(len(keys), -1)
        for keys, flat in zip(pdf["keys"], pdf["flat"])
    ]
    return _key_sums(np.concatenate(pdf["keys"].tolist()), np.vstack(mats))


def _partial_row(pid: int, keys: list, sums: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"pid": [pid], "keys": [list(keys)], "flat": [sums.ravel()]})


def _partial_sums(df: DataFrame, fold) -> dict:
    """{key: float64 sum vector} over `df` by MAP-SIDE PARTIAL
    AGGREGATION, the one reduce behind template_centroids, the Lloyd
    fits and pca_fit. `fold(batches)` reduces a partition's Arrow
    batches to (keys, one row of sums per key) or None; each partition
    emits that as ONE (pid, keys, flat) row, pid its partition id, so
    the payload is O(keys x width) per partition whatever its row count.

    Above _TREE_FANIN partitions the rows are first merged
    executor-side (treeAggregate shape: repartition to ~sqrt(P), each
    merged row tagged with its smallest pid), so the driver sees
    O(sqrt(P)) rows. Every merge sums each key from zeros in pid order,
    never in shuffle arrival order, so the result is bit-reproducible
    for a fixed input partitioning at any parallelism. Counts ride in
    the sums as float64, exact below 2**53."""

    def partials(batches):
        from pyspark import TaskContext

        part = fold(batches)
        if part is not None:
            yield _partial_row(TaskContext.get().partitionId(), *part)

    def merge(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if frames:
            pdf = pd.concat(frames)
            yield _partial_row(int(pdf["pid"].min()), *_merge_partials(pdf))

    partial_df = df.mapInPandas(partials, _PARTIAL_SCHEMA)
    n_parts = partial_df.rdd.getNumPartitions()
    if n_parts > _TREE_FANIN:
        partial_df = partial_df.repartition(max(2, int(n_parts**0.5))).mapInPandas(
            merge, _PARTIAL_SCHEMA
        )
    pdf = partial_df.toPandas()
    return dict(zip(*_merge_partials(pdf))) if len(pdf) else {}


def template_centroids(
    windows: DataFrame, signature_col: str = "signature", embedding_dim: int = 64
) -> tuple[dict, dict]:
    """(sum_map, count_map) of per-signature embedding SUMS (sums rather
    than normalized centroids so the scorer can do leave-one-out
    subtraction), reduced by _partial_sums: each partition's windows
    fold to one row of [sum vector, count] per signature. At 10^12
    turns this is the only aggregation shape that works: no exploded
    shuffle of vectors.

    Vectors come from the `embedding` column when `windows` has one,
    else from the hash kernel over `content` (`embedding_dim` wide)."""
    vec_col = "embedding" if "embedding" in windows.columns else "content"

    def fold(batches):
        # each Arrow batch reduces to its own sums before the next is read,
        # so a partition never holds more than one batch of vectors
        parts = [
            _key_sums(
                pdf["signature"],
                np.hstack([_window_vectors(pdf, embedding_dim), np.ones((len(pdf), 1))]),
            )
            for pdf in batches
            if len(pdf)
        ]
        if parts:
            return _key_sums(
                [sig for sigs, _ in parts for sig in sigs], np.vstack([s for _, s in parts])
            )

    sums = _partial_sums(
        windows.select(F.coalesce(signature_col, F.lit("?")).alias("signature"), vec_col), fold
    )
    return {sig: s[:-1] for sig, s in sums.items()}, {sig: int(s[-1]) for sig, s in sums.items()}


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
    return _centroid_counted(spark, windows, cfg, signature_col)[0]


def _centroid_counted(spark, windows, cfg, signature_col="signature"):
    """(score_windows_centroid's result, its row count): the sums'
    counts add up to one per window."""
    _vector_col(windows, cfg)
    dim = cfg.embedding_dim
    sum_map, count_map = template_centroids(windows, signature_col, dim)
    global_count = int(sum(count_map.values()))
    if global_count <= 1:
        return windows.withColumn("score", F.lit(0.0)), global_count
    global_sum = np.sum(np.stack(list(sum_map.values())), axis=0)
    scored = _score_pass(
        windows,
        dim,
        (sum_map, count_map, global_sum, global_count),
        lambda vecs, pdf, state: kernel.centroid_scores_loo(
            vecs, _signatures(pdf, signature_col), *state
        ),
    )
    return scored, global_count


def score_windows_frozen(
    windows: DataFrame,
    sum_map: dict,
    cfg: AnalysisConfig,
    signature_col: str | None = None,
) -> DataFrame:
    """windows -> windows(+score) against FROZEN state, the per-signature
    sums template_centroids returned for an earlier batch:
    kernel.centroid_scores, the cosine distance to the normalized sum of
    the window's signature. An unseen signature falls back to the
    normalized sum of all sums, the LOO scorer's global centroid. No
    self-exclusion: the scored windows are not in the state.

    Without `signature_col` every window has signature "?", the key of
    a run without templates. The state must come from the backend that
    embeds these windows: a non-hash backend without an `embedding`
    column raises ValueError."""
    _vector_col(windows, cfg)
    if not sum_map:
        raise ValueError("empty sum_map: build it with template_centroids")
    sums = np.stack(list(sum_map.values()))
    centroids = dict(zip(sum_map, kernel.l2_normalize(sums)))
    default = kernel.l2_normalize(np.sum(sums, axis=0)[None, :])[0]
    return _score_pass(
        windows,
        cfg.embedding_dim,
        (centroids, default),
        lambda vecs, pdf, state: kernel.centroid_scores(
            vecs, _signatures(pdf, signature_col), *state
        ),
    )
