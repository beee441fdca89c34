"""Similarity search over embedding columns (array<float/double>).

brute_force_topk — exact top-k cosine neighbors; the correctness
baseline. JVM-side dot products (zip_with + aggregate) + per-query
window top-k. O(|Q| * |C|): fine when the query set is small or as the
verification oracle.

lsh_ann — the scale path: random-hyperplane LSH. Deterministic planes
derived from md5 (seeded, no RNG state to ship), bucket = sign-bit key;
neighbors searched only within the query's bucket (+ optional probes).
Linear build, sublinear query; recall measured against brute force in
tests. At 100 TB: buckets are the shuffle key, each bucket fits an
executor, and the (small) query set is broadcast.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window as W, functions as F


def normalize(df: DataFrame, vec_col: str, out_col: str | None = None) -> DataFrame:
    """L2-normalize JVM-side. The norm materializes once per row behind
    a Generate barrier — referenced inside the divide lambda it would
    otherwise re-evaluate PER ELEMENT (O(dim^2)/row; lambdas don't hoist
    loop-invariant subexpressions)."""
    out_col = out_col or vec_col
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    step = df.withColumn("_nrm", F.explode(F.array(norm)))
    n = F.col("_nrm")
    return step.withColumn(
        out_col, F.when(n > 0.0, F.transform(vec, lambda x: x / n)).otherwise(vec)
    ).drop("_nrm")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_self: bool = True,
) -> DataFrame:
    """(qid, rank, nid, dist): exact top-k smallest cosine distance;
    deterministic tie-break by neighbor id. Queries side is broadcast."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).alias("q")
    c = candidates.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    ).alias("c")
    cond = F.lit(True) if not exclude_self else (F.col("qid") != F.col("nid"))
    dist = F.greatest(F.lit(0.0), F.least(F.lit(2.0), 1.0 - _dot(F.col("qv"), F.col("nv"))))
    pairs = c.join(F.broadcast(q), cond).select("qid", "nid", dist.alias("dist"))
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


def _merge_kmeans_partials(batches):
    """Executor-side level of the k-means tree reduce: combine rows of
    the (pid, cid, cnt, flat) partial schema into one row per partition.

    Rows are buffered and summed in SOURCE-PARTITION-ID ORDER, not
    shuffle-arrival order: float addition is not associative, and the
    fetch order of the repartition(fanin) exchange is nondeterministic —
    summing sorted by pid keeps the fit bit-reproducible for a fixed
    input partitioning even when the tree path is engaged (the
    bit-determinism the baked ivf_ann oracle depends on). The merged
    row carries min(pid) so the driver-level merge can sort the same
    way."""
    import pandas as pd

    rows = []
    for pdf in batches:
        for _, row in pdf.iterrows():
            if not len(row["cid"]):
                continue
            k = len(row["cid"])
            rows.append(
                (
                    int(row["pid"]),
                    np.asarray(row["flat"], dtype=np.float64).reshape(k, -1),
                    np.asarray(row["cnt"], dtype=np.int64),
                )
            )
    if not rows:
        return
    rows.sort(key=lambda r: r[0])
    sums = rows[0][1].copy()
    cnts = rows[0][2].copy()
    for _, flat, cnt in rows[1:]:
        sums += flat
        cnts += cnt
    yield pd.DataFrame(
        {
            "pid": [rows[0][0]],
            "cid": [list(range(sums.shape[0]))],
            "cnt": [cnts.tolist()],
            "flat": [sums.ravel().tolist()],
        }
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    persist: bool | None = None,
) -> np.ndarray:
    """Deterministic Lloyd k-means for the IVF coarse quantizer.

    Init: the k vectors with the smallest md5(id) (seeded, engine- and
    partitioning-independent). Each iteration is ONE distributed pass:
    mapInPandas computes per-partition (cluster, count, sum) partials
    against the broadcast centroids (numpy argmax over k dots), and the
    tiny k x dim partials merge on the driver — the same
    map-side-partial shape as scoring.template_centroids, with the same
    two-level tree reduce above _TREE_FANIN partitions so the driver
    sees O(sqrt(P)) rows at any executor count. Every partial carries
    its source partition id and both merge levels sum in pid order, so
    the fit is bit-reproducible for a fixed input partitioning at ANY
    parallelism — including when the tree path is engaged (shuffle
    arrival order never reaches a float add). Changing the input
    PARTITIONING (e.g. different file splits) still moves the last ulp;
    the baked-oracle generator pins the partitioning for that reason.
    Empty clusters keep their previous centroid.

    The input is PERSISTED for the duration of the fit (unless the
    caller already cached it): Lloyd iterations are the textbook cache
    case — without it every iteration re-runs the upstream scan +
    normalize (iters+1 full corpus passes at 100 TB)."""
    from cordon_spark.operators.scoring import _TREE_FANIN

    spark = vectors.sparkSession
    # persist=None -> auto: cache unless the input is already cached.
    # Callers whose input is a plan OVER a cached parent (e.g. ivf_ann's
    # projection) pass persist=False — is_cached on the projection is
    # False but the scan still hits the parent's InMemoryTableScan.
    owns_cache = (not vectors.is_cached) if persist is None else persist
    if owns_cache:
        from pyspark import StorageLevel

        vectors = vectors.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # seed selection is fully distributed: JVM md5 rank + limit(k)
        init_pdf = (
            vectors.select(id_col, vec_col)
            .withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h")
            .limit(k)
            .select(id_col, vec_col)
            .toPandas()
            .sort_values(id_col)
        )
        if len(init_pdf) == 0:  # empty corpus -> no clusters (caller guards)
            return np.zeros((0, 0), dtype=np.float64)
        centroids = np.array(init_pdf[vec_col].tolist(), dtype=np.float64)
        k = centroids.shape[0]  # corpus smaller than k -> fewer clusters

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("pid", T.LongType()),
                T.StructField("cid", T.ArrayType(T.LongType())),
                T.StructField("cnt", T.ArrayType(T.LongType())),
                T.StructField("flat", T.ArrayType(T.DoubleType())),
            ]
        )

        for _ in range(iters):
            bc = spark.sparkContext.broadcast(centroids)

            def partials(batches):
                import pandas as pd
                from pyspark import TaskContext

                cen = bc.value
                sums = np.zeros_like(cen)
                cnts = np.zeros(cen.shape[0], dtype=np.int64)
                seen = False
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    seen = True
                    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    assign = np.argmax(mat @ cen.T, axis=1)
                    np.add.at(sums, assign, mat)
                    cnts += np.bincount(assign, minlength=cen.shape[0])
                if not seen:
                    return
                yield pd.DataFrame(
                    {
                        "pid": [TaskContext.get().partitionId()],
                        "cid": [list(range(cen.shape[0]))],
                        "cnt": [cnts.tolist()],
                        "flat": [sums.ravel().tolist()],
                    }
                )

            partial_df = vectors.select(vec_col).mapInPandas(partials, schema)
            # tree reduce: above _TREE_FANIN partitions, combine the
            # one-row-per-partition partials executor-side first so the
            # driver merge is O(sqrt(P)) rows, not O(P).
            n_parts = partial_df.rdd.getNumPartitions()
            if n_parts > _TREE_FANIN:
                fanin = max(2, int(n_parts**0.5))
                partial_df = partial_df.repartition(fanin).mapInPandas(
                    _merge_kmeans_partials, schema
                )
            # driver merge in pid order: toPandas row order follows the
            # (deterministic) partition order already, but sorting makes
            # the bit-reproducibility contract explicit rather than
            # incidental — see _merge_kmeans_partials.
            part = partial_df.toPandas().sort_values("pid")
            sums = np.zeros_like(centroids)
            cnts = np.zeros(k, dtype=np.int64)
            for _, row in part.iterrows():
                if not len(row["cid"]):
                    continue
                sums += np.asarray(row["flat"], dtype=np.float64).reshape(k, -1)
                cnts += np.asarray(row["cnt"], dtype=np.int64)
            nz = cnts > 0
            centroids = centroids.copy()
            centroids[nz] = sums[nz] / cnts[nz, None]
            # cosine IVF: keep centroids on the unit sphere
            norms = np.linalg.norm(centroids, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            centroids = centroids / norms
            bc.destroy()
        return centroids
    finally:
        if owns_cache:
            vectors.unpersist(blocking=False)


def ivf_ann(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """IVF approximate top-k (the brief's 'IVF variant as the scale
    path'): a deterministic k-means coarse quantizer partitions the
    corpus into `n_clusters` inverted lists; each query searches only
    its `n_probe` nearest clusters. Candidates shuffle once on the
    cluster id; the (small) probe set is broadcast. Recall vs
    brute_force_topk asserted in tests, monotone in n_probe.

    The candidate vectors are persisted ONCE and reused by every
    k-means iteration AND the final inverted-list assignment (one
    InMemoryTableScan feeding all passes — unpersisted scans would cost
    iters+2 full corpus reads at 100 TB); the tiny |Q| x k result is
    materialized eagerly so the cache can be released before returning."""
    from pyspark import StorageLevel

    cands = candidates.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    # check the INPUT's cache state: the fresh projection is never
    # cached itself, but a plan over a cached parent reads the
    # InMemoryTableScan — persisting again would double the big cache
    owns_cache = not candidates.is_cached
    if owns_cache:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    centroids = kmeans_fit(
        cands, k=n_clusters, iters=iters, id_col="nid", vec_col="nv", persist=False
    )
    if centroids.shape[0] == 0:  # empty candidate corpus -> empty result
        # schema mirrors the non-empty path: qid/nid carry id_col's
        # actual type (string ids union/join cleanly with shard results)
        from pyspark.sql import types as T

        id_type = queries.schema[id_col].dataType
        empty_schema = T.StructType(
            [
                T.StructField("qid", id_type),
                T.StructField("rank", T.IntegerType()),
                T.StructField("nid", id_type),
                T.StructField("dist", T.DoubleType()),
            ]
        )
        if owns_cache:
            cands.unpersist(blocking=False)
        return queries.sparkSession.createDataFrame([], empty_schema)
    n_probe = max(1, min(n_probe, centroids.shape[0]))

    cen_arrs = [F.array(*[F.lit(float(x)) for x in centroids[c]]) for c in range(centroids.shape[0])]
    dots_expr = F.array(*[_dot(F.col("nv"), a) for a in cen_arrs])
    cb = (
        cands  # cached: the assignment pass reads the InMemoryTableScan
        .withColumn("_d", F.explode(F.array(dots_expr)))  # Generate barrier
        .withColumn("cluster", F.expr("array_position(_d, array_max(_d)) - 1"))
        .drop("_d")
    )
    qdots_expr = F.array(*[_dot(F.col("qv"), a) for a in cen_arrs])
    # top-n_probe clusters per query: sort (dot desc) via struct sort on
    # (-dot, c), slice, explode
    qb = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("_d", F.explode(F.array(qdots_expr)))
        .withColumn(
            "cluster",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.array(
                                *[
                                    F.struct(
                                        (-F.col("_d")[c]).alias("nd"),
                                        F.lit(c).cast("long").alias("c"),
                                    )
                                    for c in range(centroids.shape[0])
                                ]
                            )
                        ),
                        1,
                        n_probe,
                    ),
                    lambda s: s["c"],
                )
            ),
        )
        .drop("_d")
    )
    dist = F.greatest(F.lit(0.0), F.least(F.lit(2.0), 1.0 - _dot(F.col("qv"), F.col("nv"))))
    pairs = (
        cb.join(F.broadcast(qb), on="cluster")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", dist.alias("dist"))
        .distinct()
    )
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    out = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )
    if owns_cache:
        # materialize the tiny |Q| x k result while the candidate cache
        # is hot, then release the big cache deterministically.
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
        cands.unpersist(blocking=False)
    return out


def _hyperplanes(n_planes: int, dim: int, seed: str = "lsh") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from md5((seed,p,d)) —
    reproducible across engines/sessions with no RNG state."""
    planes = np.zeros((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            planes[p, d] = (int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0
    return planes


def _plane_dots_col(vec_col: str, planes: np.ndarray):
    """array<double> of dot(vec, plane_p) for every plane — one JVM-side
    projection, reused by the bucket key and the probe ordering."""
    return F.array(
        *[
            _dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in planes[p]]))
            for p in range(planes.shape[0])
        ]
    )


def lsh_bucket_col(vec_col: str, planes: np.ndarray):
    """Sign-bit bucket key as a JVM-side expression: sum of bit values
    where dot(vec, plane_p) > 0. NOTE: referencing this expression more
    than once in a plan re-evaluates every plane dot (CollapseProject
    inlines it); for multi-use, materialize dots via with_lsh_dots."""
    return _bucket_from_dots(_plane_dots_col(vec_col, planes), planes.shape[0])


def with_lsh_dots(df: DataFrame, vec_col: str, planes: np.ndarray, out: str = "_dots"):
    """Materialize the plane-dots array ONCE per row behind a Generate
    barrier (explode of a 1-element array). CollapseProject inlines
    plain projections into every downstream reference — measured to
    re-evaluate all plane dots per probe/bit expression (~8-64x) —
    while Generate is a barrier, so downstream bucket/probe expressions
    see a cheap attribute."""
    return df.withColumn(out, F.explode(F.array(_plane_dots_col(vec_col, planes))))


def bucket_from_dots_col(dots_col: str, n_planes: int):
    return _bucket_from_dots(F.col(dots_col), n_planes)


def probes_from_dots_col(dots_col, n_planes: int, n_probes: int):
    """array<long> of probe bucket keys from a MATERIALIZED dots column
    (name or Column): own bucket first, then bit-flips of the
    least-confident planes (smallest |dot|) — multi-probe LSH
    (Lv et al., VLDB'07)."""
    n_probes = max(1, min(n_probes, n_planes + 1))
    dots = F.col(dots_col) if isinstance(dots_col, str) else dots_col
    base = _bucket_from_dots(dots, n_planes)
    if n_probes == 1:
        return F.array(base)
    order = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(dots[p]).alias("a"), F.lit(p).alias("p"))
                for p in range(n_planes)
            ]
        )
    )
    bits = F.array(*[F.lit(1 << p).cast("long") for p in range(n_planes)])
    flips = F.transform(
        F.slice(order, 1, n_probes - 1),
        lambda s: base.bitwiseXOR(F.element_at(bits, s["p"] + 1)),
    )
    return F.concat(F.array(base), flips)


def _bucket_from_dots(dots, n_planes: int):
    key = F.lit(0).cast("long")
    for p in range(n_planes):
        key = key + F.when(dots[p] > 0.0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "long"
        )
    return key


def probe_buckets_col(vec_col: str, planes: np.ndarray, n_probes: int):
    """array<long> of `n_probes` bucket keys for multi-probe LSH (own
    bucket first, then bit-flips of the least-confident planes). NOTE:
    single-use expression form — multi-use plans must go through
    with_lsh_dots + probes_from_dots_col or the dots re-evaluate.
    Delegates to probes_from_dots_col so the probe construction exists
    exactly once (the SQL oracle mirrors this one definition)."""
    return probes_from_dots_col(
        _plane_dots_col(vec_col, planes), planes.shape[0], n_probes
    )


def lsh_ann(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates bucketed by sign-plane key; each
    query searches its own bucket PLUS `n_probes - 1` bit-flip probe
    buckets (multi-probe, least-confident planes first). Equi-join on
    the bucket key — shuffle-free with a broadcast query side; recall
    vs brute_force_topk is asserted in tests (multi-probe bounds the
    single-bucket worst case at scale). Plane dots materialize once per
    row (with_lsh_dots barrier) before fanning into bucket/probe keys."""
    planes = _hyperplanes(n_planes, dim)
    qb = (
        with_lsh_dots(
            queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
            "qv",
            planes,
        )
        .select(
            "qid",
            "qv",
            F.explode(probes_from_dots_col("_dots", n_planes, n_probes)).alias("bucket"),
        )
    )
    cb = (
        with_lsh_dots(
            candidates.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
            "nv",
            planes,
        )
        .select("nid", "nv", bucket_from_dots_col("_dots", n_planes).alias("bucket"))
    )
    dist = F.greatest(F.lit(0.0), F.least(F.lit(2.0), 1.0 - _dot(F.col("qv"), F.col("nv"))))
    pairs = (
        cb.join(F.broadcast(qb), on="bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", dist.alias("dist"))
        .distinct()  # a neighbor can surface via several probe buckets
    )
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "v", q_col: str = "qv", scale_col: str = "q_scale"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q = round_half_up(x / scale). 4-8x smaller embedding storage for
    the ANN/dedup paths at 100 TB (the dominant byte cost of an
    embedding corpus is the float vectors); recall loss vs float is
    bounded and asserted in tests. Pure JVM projections — the scale
    materializes once per row behind a Generate barrier (referenced
    inside the divide lambda it would otherwise re-evaluate PER
    ELEMENT, like normalize's norm). Zero vectors quantize to zeros
    with scale 0."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(vec, F.abs)) / F.lit(127.0)
    step = df.withColumn(scale_col, F.explode(F.array(scale)))
    s = F.col(scale_col)
    q = F.when(
        s > 0.0,
        F.transform(vec, lambda x: F.floor(x / s + F.lit(0.5)).cast("tinyint")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0).cast("tinyint")))
    return step.withColumn(q_col, q)


def dequantize_embeddings(
    df: DataFrame, q_col: str = "qv", scale_col: str = "q_scale", out_col: str = "v"
) -> DataFrame:
    """Inverse of quantize_embeddings: x ≈ q * scale (JVM projection)."""
    return df.withColumn(
        out_col,
        F.transform(F.col(q_col), lambda q: q.cast("double") * F.col(scale_col)),
    )


# ------------------------------------------------------------------ #
# IVF index persistence: build once, query many (the index lifecycle
# a 100 TB embedding corpus actually needs — refitting k-means per
# query batch would re-scan the corpus every time).
# ------------------------------------------------------------------ #
def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for any Hadoop-supported URI scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _fs_write_text(spark, path: str, text: str) -> None:
    """Small driver-side text write through the Hadoop FS API — works
    for hdfs://, s3a://, and plain local paths alike (the index data
    files go through DataFrame.write, which already does)."""
    fs, jpath = _hadoop_fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
        return "\n".join(lines)
    finally:
        stream.close()


def ivf_build_index(
    candidates: DataFrame,
    path: str,
    n_clusters: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    pq_m: int | None = None,
    pq_codes: int = 16,
    pq_iters: int = 3,
) -> dict:
    """Fit the coarse quantizer and persist the index:

      <path>/meta.json       centroids + shape (tiny, driver-side)
      <path>/lists/          (nid, nv) parquet PARTITIONED BY cluster

    Partitioning the inverted lists by cluster id is the load-bearing
    choice: a query probing n_probe clusters reads ONLY those
    directories (static partition pruning), i.e. n_probe/n_clusters of
    the corpus — the on-disk analog of the in-memory inverted-list
    scan. Vectors are stored as given (callers pass L2-normalized
    vectors, same contract as ivf_ann). Returns the meta dict.

    `pq_m` switches the inverted lists to PRODUCT-QUANTIZED storage
    (the FAISS IVF-PQ composition): lists carry (nid, codes) —
    pq_m * 4 bytes per vector instead of dim * 8, the 16-64x
    compression that lets a billion-vector index live on a few
    machines — and the per-subspace codebooks ride in meta.json.
    Queries then decode candidates from the literal codebook tables
    (zero extra I/O) and rank by renormalized asymmetric cosine; with
    n_probe = n_clusters an IVF-PQ query equals pq_ann on the same
    codebooks exactly (asserted in tests)."""
    import json

    from pyspark import StorageLevel

    cands = candidates.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    owns_cache = not candidates.is_cached
    if owns_cache:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        centroids = kmeans_fit(
            cands, k=n_clusters, iters=iters, id_col="nid", vec_col="nv",
            persist=False,
        )
        if centroids.shape[0] == 0:
            raise ValueError("cannot build an IVF index over an empty corpus")
        cen_arrs = [
            F.array(*[F.lit(float(x)) for x in centroids[c]])
            for c in range(centroids.shape[0])
        ]
        dots_expr = F.array(*[_dot(F.col("nv"), a) for a in cen_arrs])
        assigned = (
            cands.withColumn("_d", F.explode(F.array(dots_expr)))
            .withColumn("cluster", F.expr("array_position(_d, array_max(_d)) - 1"))
            .drop("_d")
        )
        codebooks = None
        if pq_m is not None:
            codebooks = pq_fit(
                cands, m=pq_m, n_codes=pq_codes, iters=pq_iters,
                id_col="nid", vec_col="nv",
            )
            assigned = assigned.select(
                "nid",
                "cluster",
                pq_encode_col(F.col("nv"), codebooks).alias("codes"),
            )
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(
            f"{path}/lists"
        )
        n_vectors = cands.count()
    finally:
        if owns_cache:
            cands.unpersist(blocking=False)
    meta = {
        "centroids": centroids.tolist(),
        "n_clusters": int(centroids.shape[0]),
        "dim": int(centroids.shape[1]),
        "n_vectors": int(n_vectors),
    }
    if codebooks is not None:
        meta["pq_codebooks"] = codebooks.tolist()
    # meta.json goes through the Hadoop FileSystem API so BOTH halves
    # of the index accept the same URIs (hdfs://, s3a://, file:/...)
    # — pathlib here would silently write driver-local for remote paths
    _fs_write_text(
        candidates.sparkSession, f"{path}/meta.json", json.dumps(meta)
    )
    return meta


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_self: bool = True,
    refine_with: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Top-k over a persisted IVF index. The union of all probed
    cluster ids is collected first (O(n_probe * |Q|) SMALL values) and
    pushed as a STATIC isin filter, so the parquet scan touches only
    the probed list partitions — `PartitionFilters` in the plan, not a
    full-corpus scan; the per-query probe assignment then joins by
    broadcast exactly like ivf_ann.

    `refine_with` enables the exact RE-RANK serving pattern for PQ
    indexes (FAISS's refine step): the compressed ranking first takes
    a per-query SHORTLIST (default 4*k) instead of k, then the
    shortlist — O(shortlist * |Q|) rows, tiny — broadcasts into a
    scan of the raw-vector table you pass and final ranks come from
    exact cosine. The raw corpus is touched only for shortlist
    members (never shuffled, never fully decoded), which is what
    makes PQ top-k precise without giving back the compression:
    quantization error decides the shortlist MEMBERSHIP (wide, so
    errors wash out) rather than the final order."""
    import json

    meta = json.loads(_fs_read_text(spark, f"{path}/meta.json"))
    centroids = np.asarray(meta["centroids"], dtype=np.float64)
    n_probe = max(1, min(n_probe, centroids.shape[0]))
    cen_arrs = [
        F.array(*[F.lit(float(x)) for x in centroids[c]])
        for c in range(centroids.shape[0])
    ]
    qdots_expr = F.array(*[_dot(F.col("qv"), a) for a in cen_arrs])
    qb = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("_d", F.explode(F.array(qdots_expr)))
        .withColumn(
            "cluster",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.array(
                                *[
                                    F.struct(
                                        (-F.col("_d")[c]).alias("nd"),
                                        F.lit(c).cast("long").alias("c"),
                                    )
                                    for c in range(centroids.shape[0])
                                ]
                            )
                        ),
                        1,
                        n_probe,
                    ),
                    lambda s: s["c"],
                )
            ),
        )
        .drop("_d")
    )
    probed = sorted(
        r["cluster"] for r in qb.select("cluster").distinct().collect()
    )
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("cluster").isin(probed)
    )
    is_pq = "pq_codebooks" in meta
    if is_pq:
        # PQ-compressed lists: (nid, codes) — decode from the literal
        # codebook tables (zero extra I/O) and renormalize, then rank
        # with the identical distance as the raw path. The decoded
        # vector is materialized ONCE per row behind a Generate
        # barrier: referenced bare, the decode expression would be
        # re-inlined into the norm, the division, and the per-pair
        # dot (the CollapseProject duplication catalogued in PLANS.md)
        books = np.asarray(meta["pq_codebooks"], dtype=np.float64)
        lists = normalize(
            lists.select(
                "cluster",
                "nid",
                F.explode(
                    F.array(pq_decode_col(F.col("codes"), books))
                ).alias("nv"),
            ),
            "nv",
        )
    dist = F.greatest(
        F.lit(0.0), F.least(F.lit(2.0), 1.0 - _dot(F.col("qv"), F.col("nv")))
    )
    pairs = lists.join(F.broadcast(qb), on="cluster")
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    pairs = pairs.select("qid", "nid", dist.alias("dist")).distinct()
    k_rank = k if refine_with is None else (shortlist or 4 * k)
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    ranked = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_rank)
        .select("qid", "rank", "nid", "dist")
    )
    if refine_with is None:
        return ranked
    # exact re-rank: shortlist + query vectors broadcast INTO the raw
    # table's scan (the corpus is read pointwise, never shuffled)
    qv_map = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    short = ranked.select("qid", "nid").join(F.broadcast(qv_map), on="qid")
    raw = refine_with.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    )
    exact_pairs = raw.join(F.broadcast(short), on="nid").select(
        "qid", "nid", dist.alias("dist")
    )
    return (
        exact_pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


# ------------------------------------------------------------------ #
# Product quantization (PQ): compressed-vector ANN
# ------------------------------------------------------------------ #

def pq_fit(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> np.ndarray:
    """Fit PQ codebooks: split the vector into `m` contiguous
    subspaces and run a FUSED deterministic L2 Lloyd fit — every
    iteration is ONE distributed pass that updates all m subspace
    codebooks at once (per-row work is independent across subspaces),
    not m sequential fits of iters passes each. That fusion is the
    difference between iters+1 and m*(iters+1) corpus passes — the
    sequential spelling measured scaling efficiency 0.36 at 1M vectors
    because m*iters driver round-trips serialize (BENCH.md). Returns
    codebooks of shape (m, n_codes, dim/m + 1): each row is
    [*codeword, half_cc] (pq_with_half_cc).

    Determinism discipline matches kmeans_fit: init = the n_codes rows
    with smallest md5(id) (engine/partitioning-independent; the SAME
    rows seed every subspace — md5 ignores the slice), partials merge
    driver-side sorted by (sub, pid) so no shuffle-arrival order ever
    reaches a float add. Assignment is TRUE L2 (argmax of
    dot - 0.5||c||^2 — identical ranking rule to pq_encode, so fit
    and encode can never disagree near boundaries); codewords are
    plain means (no unit-sphere projection — subspace slices are not
    unit vectors, reconstruction error is the objective).

    The driver merge sees P*m tiny rows per iteration; at very large
    P, batch the partials through the same repartition-fanin trick as
    kmeans_fit (P*m rows of k*dsub doubles is ~MBs even at thousands
    of partitions, so the direct merge holds far past this sandbox).
    At 100 TB, fit on a SAMPLE — codebooks are statistics, not
    indexes: `vectors.sample(...)` feeds this unchanged and the
    encode step covers the full corpus."""
    from pyspark import StorageLevel
    from pyspark.sql import types as T

    spark = vectors.sparkSession
    dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    owns_cache = not vectors.is_cached
    if owns_cache:
        vectors = vectors.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init_pdf = (
            vectors.select(id_col, vec_col)
            .withColumn("_h", F.md5(F.col(id_col).cast("string")))
            .orderBy("_h")
            .limit(n_codes)
            .select(id_col, vec_col)
            .toPandas()
            .sort_values(id_col)
        )
        if len(init_pdf) == 0:
            raise ValueError("cannot fit PQ codebooks on an empty corpus")
        seed = np.array(init_pdf[vec_col].tolist(), dtype=np.float64)
        k = seed.shape[0]  # corpus smaller than n_codes -> fewer codes
        books = np.stack(
            [seed[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
        )

        schema = T.StructType(
            [
                T.StructField("pid", T.LongType()),
                T.StructField("sub", T.LongType()),
                T.StructField("cnt", T.ArrayType(T.LongType())),
                T.StructField("flat", T.ArrayType(T.DoubleType())),
            ]
        )

        for _ in range(iters):
            bc = spark.sparkContext.broadcast(books)

            def partials(batches):
                import pandas as pd
                from pyspark import TaskContext

                cb = bc.value
                mm, kk = cb.shape[0], cb.shape[1]
                sums = np.zeros_like(cb)
                cnts = np.zeros((mm, kk), dtype=np.int64)
                seen = False
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    seen = True
                    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    for j in range(mm):
                        sl = mat[:, j * dsub : (j + 1) * dsub]
                        scores = sl @ cb[j].T - 0.5 * np.sum(
                            cb[j] * cb[j], axis=1
                        )
                        assign = np.argmax(scores, axis=1)
                        np.add.at(sums[j], assign, sl)
                        cnts[j] += np.bincount(assign, minlength=kk)
                if not seen:
                    return
                pid = TaskContext.get().partitionId()
                yield pd.DataFrame(
                    {
                        "pid": [pid] * cb.shape[0],
                        "sub": list(range(cb.shape[0])),
                        "cnt": [cnts[j].tolist() for j in range(cb.shape[0])],
                        "flat": [
                            sums[j].ravel().tolist()
                            for j in range(cb.shape[0])
                        ],
                    }
                )

            part = (
                vectors.select(vec_col)
                .mapInPandas(partials, schema)
                .toPandas()
                .sort_values(["sub", "pid"])
            )
            sums = np.zeros_like(books)
            cnts = np.zeros((m, k), dtype=np.int64)
            for _, row in part.iterrows():
                j = int(row["sub"])
                sums[j] += np.asarray(
                    row["flat"], dtype=np.float64
                ).reshape(k, dsub)
                cnts[j] += np.asarray(row["cnt"], dtype=np.int64)
            books = books.copy()
            for j in range(m):
                nz = cnts[j] > 0
                books[j][nz] = sums[j][nz] / cnts[j][nz, None]
            bc.destroy()
        return pq_with_half_cc(books)
    finally:
        if owns_cache:
            vectors.unpersist(blocking=False)


def pq_with_half_cc(codewords: np.ndarray) -> np.ndarray:
    """Append half_cc = 0.5*dot(c, c) to every codeword: (m, n_codes,
    dsub) -> (m, n_codes, dsub + 1) rows [*codeword, half_cc], the
    layout pq_fit returns and pq_codebooks_sf001.py bakes. This is the
    only place the constant is computed; encoding scores with the
    carried column, so baked codebooks score on every host with
    exactly the constants the DuckDB oracle reads."""
    cw = np.asarray(codewords, dtype=np.float64)
    half = np.array([[0.5 * float(np.dot(c, c)) for c in sub] for sub in cw])
    return np.concatenate([cw, half[..., None]], axis=2)


def _pq_lit_scores(codebooks: np.ndarray, sub: int, vec_col):
    """Literal argmax-scoring array for one subspace: score_c =
    dot(v_sub, c) - half_cc (the L2-argmin equivalent without the
    query-side norm), half_cc read from the codebook's carried column."""
    dsub = codebooks.shape[2] - 1
    vsub = F.slice(vec_col, sub * dsub + 1, dsub)
    scores = []
    for row in codebooks[sub]:
        lit = F.array(*[F.lit(float(x)) for x in row[:-1]])
        scores.append(_dot(vsub, lit) - F.lit(float(row[-1])))
    return F.array(*scores)


def pq_encode_col(vec_col, codebooks: np.ndarray):
    """Column form of pq_encode: the array<int> code vector for
    `vec_col` — per subspace, the L2-nearest codeword (argmax of the
    baked score literals; first-max tie-break = lowest code, same
    convention as the IVF assignment)."""
    m = codebooks.shape[0]
    cols = []
    for j in range(m):
        s = _pq_lit_scores(codebooks, j, vec_col)
        cols.append(
            (F.array_position(s, F.array_max(s)) - 1).cast("int")
        )
    return F.array(*cols)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "v",
    out_col: str = "codes",
) -> DataFrame:
    """Encode each vector as `m` small codes (array<int>). Pure JVM
    projection — zero shuffle, zero Python — so encoding a 100 TB
    corpus is a map-only job; the codes column is m*4 bytes vs dim*8,
    the 16-64x compression that lets a billion-vector index live in
    memory."""
    return df.select(
        F.col(id_col), pq_encode_col(F.col(vec_col), codebooks).alias(out_col)
    )


def pq_decode_col(codes_col, codebooks: np.ndarray):
    """Reconstruct the approximate vector from codes: concat of
    per-subspace codeword lookups against the baked literal tables.
    dot(q, decode(codes)) == the ADC table-sum — one spelling, shared
    with the oracle, instead of two float orders to reconcile."""
    m, n_codes = codebooks.shape[:2]
    parts = []
    for j in range(m):
        table = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in codebooks[j, c, :-1]])
                for c in range(n_codes)
            ]
        )
        parts.append(
            F.element_at(table, F.element_at(codes_col, j + 1) + 1)
        )
    return F.concat(*parts)


def pq_ann(
    queries: DataFrame,
    candidates: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance ANN over PQ codes: candidates are encoded
    (compressed 16-64x), queries stay full precision, distance is
    cosine against the RE-NORMALIZED decoded approximation. The
    renormalization is load-bearing for the cosine metric: codeword
    concatenations have norm != 1, and ranking by raw dot(q, decode)
    biases every query toward large-norm reconstructions (measured:
    recall@5 0.18 raw vs 0.70 renormalized on a low-intrinsic-dim
    fixture). Output (qid, rank, nid, dist) like brute_force_topk;
    recall vs brute force is measured in tests and the codebook error
    budget is the knob (m, n_codes).

    Plan: encode+decode+renormalize are zero-shuffle literal
    projections fused into the candidate scan; then the same
    broadcast-queries brute top-k as the exact path — i.e. at scale
    the scan reads CODES (the compressed index), not raw vectors, and
    the only exchange is the per-query top-k window. Compose with the
    IVF inverted lists (ivf_build_index on codes) for probe-pruned
    scans."""
    enc = pq_encode(candidates, codebooks, id_col=id_col, vec_col=vec_col)
    dec = normalize(
        enc.select(
            F.col(id_col),
            pq_decode_col(F.col("codes"), codebooks).alias("v"),
        ),
        "v",
    )
    return brute_force_topk(
        queries.select(F.col(id_col), F.col(vec_col).alias("v")),
        dec,
        k=k,
        id_col=id_col,
        vec_col="v",
        exclude_self=exclude_self,
    )
