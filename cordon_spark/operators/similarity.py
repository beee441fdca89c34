"""Similarity search over embedding columns (array<float/double>).

Every search returns (qid, rank, nid, dist): cosine distance clamped to
[0, 2], the k smallest per query, ties broken by neighbor id.

brute_force_topk — exact top-k; the correctness baseline. JVM-side dot
products (zip_with + aggregate) against a broadcast query side.
O(|Q| * |C|): fine when the query set is small or as the oracle.

lsh_ann — random-hyperplane LSH. Deterministic md5 planes sized to the
input's vector width; candidates are bucketed by sign-bit key and each
query probes its own bucket plus bit-flips of its least-confident
planes.

ivf_ann — IVF: a k-means coarse quantizer splits the corpus into
inverted lists and each query searches its n_probe nearest lists.
ivf_build_index / ivf_query_index persist the lists as parquet
partitioned by cluster, optionally product-quantized.

pq_fit / pq_encode / pq_ann — product quantization: per-subspace
codebooks, candidates stored as codes, ranked by cosine against the
renormalized decoded vector.

Each step has one implementation that the searches share:
  - _lloyd_fit: the deterministic Lloyd loop behind kmeans_fit (one
    cosine subspace) and pq_fit (m L2 subspaces); its per-partition
    sums reduce through scoring._partial_sums, the reduce the centroid
    scorer and visualize.pca_fit share;
  - _assign_clusters / _probe_clusters: nearest-centroid assignment of
    candidates and top-n_probe centroid selection of queries;
  - _probe_topk / _top_k: equi-join against the broadcast probe side,
    then the per-query row_number ranker over _cosine_dist.
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import numpy as np
from pyspark import StorageLevel
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


def _lit_vec(values):
    """array<double> literal of a numpy row."""
    return F.array(*[F.lit(float(x)) for x in values])


def _cosine_dist():
    """Cosine distance of the (qv, nv) pair, clamped to [0, 2]."""
    return F.greatest(
        F.lit(0.0), F.least(F.lit(2.0), 1.0 - _dot(F.col("qv"), F.col("nv")))
    ).alias("dist")


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """(qid, rank, nid, dist): the k smallest dist per qid over (qid,
    nid, dist) pairs, deterministic tie-break by neighbor id. Every
    search ranks through here."""
    w = W.partitionBy("qid").orderBy(F.col("dist"), F.col("nid"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )


def _probe_topk(
    cands: DataFrame, probes: DataFrame, key: str, k: int, exclude_self: bool = True
) -> DataFrame:
    """Top-k over (nid, nv) candidates that share `key` with the
    broadcast (qid, qv) probe side. A neighbor reachable through
    several probes (LSH buckets, IVF lists) counts once."""
    pairs = cands.join(F.broadcast(probes), on=key)
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("nid"))
    return _top_k(pairs.select("qid", "nid", _cosine_dist()).distinct(), k)


def _empty_topk(queries: DataFrame, id_col: str) -> DataFrame:
    """The empty result of a search over an empty corpus. qid/nid carry
    id_col's actual type, so string ids union and join cleanly with
    shard results."""
    id_type = queries.schema[id_col].dataType.simpleString()
    return queries.sparkSession.createDataFrame(
        [], f"qid {id_type}, rank int, nid {id_type}, dist double"
    )


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
    return _top_k(c.join(F.broadcast(q), cond).select("qid", "nid", _cosine_dist()), k)


# ------------------------------------------------------------------ #
# Deterministic Lloyd fit: k-means (IVF quantizer) and PQ codebooks
# ------------------------------------------------------------------ #
def _lloyd_accumulate(
    mat: np.ndarray, books: np.ndarray, cosine: bool, sums: np.ndarray, cnts: np.ndarray
) -> None:
    """Fold one batch of rows into the running per-subspace (sums, cnts)
    of _lloyd_fit: each row's subspace slice goes to the codeword with
    the max dot (`cosine`) or the max dot - 0.5||c||^2 (true L2)."""
    dsub = books.shape[2]
    for j, c in enumerate(books):
        sl = mat[:, j * dsub : (j + 1) * dsub]
        scores = sl @ c.T
        if not cosine:
            scores = scores - 0.5 * np.sum(c * c, axis=1)
        assign = np.argmax(scores, axis=1)
        np.add.at(sums[j], assign, sl)
        cnts[j] += np.bincount(assign, minlength=len(c))


def _lloyd_fit(
    vectors: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    persist: bool | None,
    m: int,
    cosine: bool,
) -> np.ndarray | None:
    """Fused deterministic Lloyd fit of (m, k, dsub) codebooks: the
    vector splits into `m` contiguous subspaces of width dsub and every
    iteration is ONE distributed pass that updates all m at once.
    Returns None on an empty corpus.

    Init: the k rows with the smallest md5(id) (seeded, engine- and
    partitioning-independent; the same rows seed every subspace), or
    fewer when the corpus is smaller than k. Assignment per subspace:
    `cosine` takes the max dot and projects each updated codeword back
    to the unit sphere; otherwise it is true L2, the argmax of
    dot - 0.5||c||^2 (pq_encode's rule), with codewords left as plain
    means. Empty codewords keep their previous value.

    Each partition folds its rows into one running (sum, count)
    accumulator per subspace (np.add.at in row order across Arrow
    batches); scoring._partial_sums reduces them, key str(j) carrying
    subspace j's [sums, counts]. It sums every subspace in partition-id
    order at each merge level, so the fit is bit-reproducible for a
    fixed input partitioning at any parallelism, tree path included.
    Changing the input PARTITIONING still moves the last ulp; the
    baked-oracle generators pin it for that reason.

    The input is persisted for the fit unless `persist` is False or it
    is already cached (persist=None): without it every iteration re-runs
    the upstream scan."""
    from cordon_spark.operators.scoring import _partial_sums

    spark = vectors.sparkSession
    owns_cache = (not vectors.is_cached) if persist is None else persist
    if owns_cache:
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
        if len(init_pdf) == 0:
            return None
        seed = np.array(init_pdf[vec_col].tolist(), dtype=np.float64)
        dim = seed.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
        dsub = dim // m
        books = np.stack([seed[:, j * dsub : (j + 1) * dsub] for j in range(m)])
        keys = [str(j) for j in range(m)]
        width = books[0].size

        for _ in range(iters):
            bc = spark.sparkContext.broadcast(books)

            def fold(batches):
                cb = bc.value
                sums = np.zeros_like(cb)
                cnts = np.zeros(cb.shape[:2], dtype=np.int64)
                for pdf in batches:
                    if len(pdf):
                        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                        _lloyd_accumulate(mat, cb, cosine, sums, cnts)
                if cnts.any():  # every row counts in each subspace
                    return keys, np.hstack([sums.reshape(m, -1), cnts])

            total = _partial_sums(vectors.select(vec_col), fold)
            acc = np.stack([total[key] for key in keys])
            sums, cnts = acc[:, :width].reshape(books.shape), acc[:, width:]
            books = books.copy()
            for j in range(m):
                nz = cnts[j] > 0
                books[j][nz] = sums[j][nz] / cnts[j][nz, None]
                if cosine:
                    norms = np.linalg.norm(books[j], axis=1, keepdims=True)
                    norms[norms == 0.0] = 1.0
                    books[j] = books[j] / norms
            bc.destroy()
        return books
    finally:
        if owns_cache:
            vectors.unpersist(blocking=False)


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
    persist: bool | None = None,
) -> np.ndarray:
    """Deterministic Lloyd k-means for the IVF coarse quantizer: one
    cosine subspace of _lloyd_fit, so centroids stay on the unit
    sphere. Returns (k, dim) centroids, fewer rows when the corpus is
    smaller than k, and a (0, 0) array for an empty corpus.

    `persist=None` caches the input for the fit unless it is already
    cached. Callers whose input is a plan OVER a cached parent (e.g.
    ivf_ann's projection) pass persist=False: is_cached on the
    projection is False but its scan still hits the parent's
    InMemoryTableScan."""
    books = _lloyd_fit(vectors, k, iters, id_col, vec_col, persist, m=1, cosine=True)
    if books is None:  # empty corpus -> no clusters (caller guards)
        return np.zeros((0, 0), dtype=np.float64)
    return books[0]


# ------------------------------------------------------------------ #
# IVF: k-means inverted lists
# ------------------------------------------------------------------ #
def _centroid_dots(vec_col: str, centroids: np.ndarray):
    """array<double> of dot(vec, c) for every centroid literal,
    materialized once per row behind a Generate barrier (explode of a
    1-element array) so the argmax / probe sort read an attribute."""
    dots = F.array(*[_dot(F.col(vec_col), _lit_vec(c)) for c in centroids])
    return F.explode(F.array(dots))


def _assign_clusters(cands: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(nid, nv) candidates + `cluster`: the nearest centroid by max
    dot, first max (lowest id) on ties."""
    return (
        cands.withColumn("_d", _centroid_dots("nv", centroids))
        .withColumn("cluster", F.expr("array_position(_d, array_max(_d)) - 1"))
        .drop("_d")
    )


def _probe_clusters(
    queries: DataFrame, centroids: np.ndarray, n_probe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(qid, qv, cluster) with one row for each of the query's n_probe
    nearest centroids: a struct sort on (-dot, c), sliced and
    exploded."""
    n_probe = max(1, min(n_probe, centroids.shape[0]))
    by_dot = F.array_sort(
        F.array(
            *[
                F.struct((-F.col("_d")[c]).alias("nd"), F.lit(c).cast("long").alias("c"))
                for c in range(centroids.shape[0])
            ]
        )
    )
    return (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .withColumn("_d", _centroid_dots("qv", centroids))
        .withColumn(
            "cluster", F.explode(F.transform(F.slice(by_dot, 1, n_probe), lambda s: s["c"]))
        )
        .drop("_d")
    )


@contextmanager
def _fitted_ivf(
    candidates: DataFrame, n_clusters: int, iters: int, id_col: str, vec_col: str
):
    """Yield (cands, centroids, owns_cache): the (nid, nv) candidates
    and their k-means centroids. The candidates are persisted ONCE for
    every k-means pass AND the caller's inverted-list assignment (one
    InMemoryTableScan feeding all passes; unpersisted scans would cost
    iters+2 full corpus reads), and released on exit. The INPUT's cache
    state decides: a projection is never cached itself, but a plan over
    a cached parent already reads its InMemoryTableScan."""
    cands = candidates.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    owns_cache = not candidates.is_cached
    if owns_cache:
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        centroids = kmeans_fit(
            cands, k=n_clusters, iters=iters, id_col="nid", vec_col="nv", persist=False
        )
        yield cands, centroids, owns_cache
    finally:
        if owns_cache:
            cands.unpersist(blocking=False)


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

    When it persisted the candidates, the tiny |Q| x k result is
    materialized eagerly so the cache can be released before
    returning."""
    with _fitted_ivf(candidates, n_clusters, iters, id_col, vec_col) as (
        cands,
        centroids,
        owns_cache,
    ):
        if centroids.shape[0] == 0:  # empty candidate corpus -> empty result
            return _empty_topk(queries, id_col)
        out = _probe_topk(
            _assign_clusters(cands, centroids),
            _probe_clusters(queries, centroids, n_probe, id_col, vec_col),
            "cluster",
            k,
        )
        if owns_cache:
            out = out.persist(StorageLevel.MEMORY_AND_DISK)
            out.count()
        return out


# ------------------------------------------------------------------ #
# LSH: md5 sign-plane buckets
# ------------------------------------------------------------------ #
def _hyperplanes(n_planes: int, dim: int, seed: str = "lsh") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from md5((seed,p,d)) —
    reproducible across engines/sessions with no RNG state."""
    planes = np.zeros((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            planes[p, d] = (int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0
    return planes


def _lsh_planes(df: DataFrame, vec_col: str, n_planes: int) -> np.ndarray | None:
    """The md5 hyperplanes at `df`'s vector width, read from the first
    row's size(vec_col); None for an empty input. Planes of another
    width would make zip_with pad with nulls, every sign bit read 0 and
    the search collapse into one bucket."""
    row = df.select(F.size(vec_col).alias("d")).first()
    return None if row is None else _hyperplanes(n_planes, int(row["d"]))


def with_lsh_dots(df: DataFrame, vec_col: str, planes: np.ndarray, out: str = "_dots"):
    """Materialize the plane-dots array ONCE per row behind a Generate
    barrier (explode of a 1-element array). CollapseProject inlines
    plain projections into every downstream reference — measured to
    re-evaluate all plane dots per probe/bit expression (~8-64x) —
    while Generate is a barrier, so downstream bucket/probe expressions
    see a cheap attribute."""
    dots = F.array(*[_dot(F.col(vec_col), _lit_vec(p)) for p in planes])
    return df.withColumn(out, F.explode(F.array(dots)))


def bucket_from_dots_col(dots_col: str, n_planes: int):
    """Sign-bit bucket key from a MATERIALIZED dots column: the sum of
    bit values where dot(vec, plane_p) > 0."""
    dots = F.col(dots_col)
    key = F.lit(0).cast("long")
    for p in range(n_planes):
        key = key + F.when(dots[p] > 0.0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "long"
        )
    return key


def probes_from_dots_col(dots_col: str, n_planes: int, n_probes: int):
    """array<long> of probe bucket keys from a MATERIALIZED dots column:
    own bucket first, then bit-flips of the least-confident planes
    (smallest |dot|) — multi-probe LSH (Lv et al., VLDB'07)."""
    n_probes = max(1, min(n_probes, n_planes + 1))
    dots = F.col(dots_col)
    base = bucket_from_dots_col(dots_col, n_planes)
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


def lsh_ann(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_probes: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates bucketed by sign-plane key; each
    query searches its own bucket PLUS `n_probes - 1` bit-flip probe
    buckets (multi-probe, least-confident planes first). Equi-join on
    the bucket key — shuffle-free with a broadcast query side; recall
    vs brute_force_topk is asserted in tests (multi-probe bounds the
    single-bucket worst case at scale). The planes match the
    candidates' vector width (_lsh_planes); plane dots materialize once
    per row (with_lsh_dots barrier) before fanning into bucket/probe
    keys."""
    planes = _lsh_planes(candidates, vec_col, n_planes)
    if planes is None:
        return _empty_topk(queries, id_col)
    qb = with_lsh_dots(
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        "qv",
        planes,
    ).select(
        "qid",
        "qv",
        F.explode(probes_from_dots_col("_dots", n_planes, n_probes)).alias("bucket"),
    )
    cb = with_lsh_dots(
        candidates.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
        planes,
    ).select("nid", "nv", bucket_from_dots_col("_dots", n_planes).alias("bucket"))
    return _probe_topk(cb, qb, "bucket", k)


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

    with _fitted_ivf(candidates, n_clusters, iters, id_col, vec_col) as (
        cands,
        centroids,
        _,
    ):
        if centroids.shape[0] == 0:
            raise ValueError("cannot build an IVF index over an empty corpus")
        assigned = _assign_clusters(cands, centroids)
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
    qb = _probe_clusters(queries, centroids, n_probe, id_col, vec_col)
    probed = sorted(
        r["cluster"] for r in qb.select("cluster").distinct().collect()
    )
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("cluster").isin(probed)
    )
    if "pq_codebooks" in meta:
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
    k_rank = k if refine_with is None else (shortlist or 4 * k)
    ranked = _probe_topk(lists, qb, "cluster", k_rank, exclude_self)
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
    return _top_k(
        raw.join(F.broadcast(short), on="nid").select("qid", "nid", _cosine_dist()), k
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
    """Fit PQ codebooks: `m` contiguous L2 subspaces of _lloyd_fit,
    fused so every iteration is ONE distributed pass that updates all m
    codebooks at once — iters+1 corpus passes, not the m*(iters+1) of
    m sequential fits (that spelling measured scaling efficiency 0.36
    at 1M vectors because m*iters driver round-trips serialize,
    BENCH.md). Returns codebooks of shape (m, n_codes, dim/m + 1): each
    row is [*codeword, half_cc] (pq_with_half_cc).

    Same determinism as kmeans_fit: md5(id) init (the same rows seed
    every subspace) and partials summed in partition-id order, tree
    reduce included. Assignment is TRUE L2 (argmax of
    dot - 0.5||c||^2 — identical ranking rule to pq_encode, so fit
    and encode can never disagree near boundaries); codewords are
    plain means (no unit-sphere projection — subspace slices are not
    unit vectors, reconstruction error is the objective).

    At 100 TB, fit on a SAMPLE — codebooks are statistics, not
    indexes: `vectors.sample(...)` feeds this unchanged and the
    encode step covers the full corpus."""
    books = _lloyd_fit(vectors, n_codes, iters, id_col, vec_col, None, m=m, cosine=False)
    if books is None:
        raise ValueError("cannot fit PQ codebooks on an empty corpus")
    return pq_with_half_cc(books)


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
    return F.array(
        *[_dot(vsub, _lit_vec(row[:-1])) - F.lit(float(row[-1])) for row in codebooks[sub]]
    )


def pq_encode_col(vec_col, codebooks: np.ndarray):
    """Column form of pq_encode: the array<int> code vector for
    `vec_col` — per subspace, the L2-nearest codeword (argmax of the
    baked score literals; first-max tie-break = lowest code, same
    convention as the IVF assignment)."""
    cols = []
    for j in range(codebooks.shape[0]):
        s = _pq_lit_scores(codebooks, j, vec_col)
        cols.append((F.array_position(s, F.array_max(s)) - 1).cast("int"))
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
    return F.concat(
        *[
            F.element_at(
                F.array(*[_lit_vec(row[:-1]) for row in book]),
                F.element_at(codes_col, j + 1) + 1,
            )
            for j, book in enumerate(codebooks)
        ]
    )


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
