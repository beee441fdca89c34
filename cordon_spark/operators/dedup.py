"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM-side (built-in higher-order array functions, no
Python) except SimHash, which is an Arrow pandas UDF over the shared
kernel. Hashing uses md5 hex strings so every variant has a DuckDB-SQL
oracle with the identical hash family (kernel.minhash_band_keys).

Scale notes per variant:
  exact        one hash aggregation on the text (or a digest of it)
  ngram        exact pairwise Jaccard — O(n^2), oracle/test scale ONLY;
               at 100 TB use minhash_lsh_pairs (candidates via band
               buckets, verify only candidates)
  minhash LSH  shuffle on (band, signature) — linear in corpus size;
               the classic web-dedup plan
  simhash      64-bit fingerprints, candidates via band equality
  embedding    cosine near-dup: exact pairwise at test scale; at scale
               bucket by LSH sign-planes first (similarity.lsh_ann)
  semdedup     cosine near-dup within coarse-quantizer clusters: one
               shuffle on the cluster id, blocked BLAS pruning per cluster
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, functions as F, types as T


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens, lowercased, empties dropped — matches
    kernel.tokenize (Python str.split(): ANY run of Unicode whitespace
    separates tokens, via the shared kernel.ws_class) and the SQL
    regexp_split_to_array mirror in entry_queries._TOKS_SQL."""
    from cordon_spark.kernel import ws_class

    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), ws_class("java") + "+"),
        lambda x: x != "",
    )


def with_shingles(df: DataFrame, n: int, text_col: str = "text", out: str = "sh") -> DataFrame:
    """df + distinct n-gram shingle column, with the TOKEN ARRAY
    materialized once per row behind a Generate barrier: shingles_col's
    slice lambda references the token expression PER SHINGLE, so feeding
    it the raw tokenize expression re-runs split+filter O(tokens) times
    per row (measured: the sf0.1 shingle pass alone cost ~8s; with the
    barrier it's the one-split cost). Use this in any per-corpus path;
    the Column API (shingles_col) is for already-cheap inputs."""
    step = df.withColumn("_toks", F.explode(F.array(tokens_col(text_col))))
    return step.withColumn(out, shingles_col(F.col("_toks"), n)).drop("_toks")


def shingles_col(toks: Column, n: int) -> Column:
    """Distinct n-gram shingles (space-joined); shorter docs collapse to
    one whole-doc shingle; empty/whitespace-only docs yield NO shingles
    (kernel.token_shingles semantics — without the empty guard two empty
    docs would band-bucket together and report jaccard 1.0 while the
    kernel hash family emits no band keys)."""
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return (
        F.when(F.size(toks) == 0, F.array().cast("array<string>"))
        .when(F.size(toks) >= n, F.array_distinct(ngrams))
        .otherwise(F.array(F.array_join(toks, " ")))
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", key: str = "text"
) -> DataFrame:
    """Exact dedup: one representative (min id) per distinct text.

    key="text" shuffles the full text (the parity oracle's grouping);
    key="digest" groups on md5(text) so shuffle rows carry a 32-byte
    key instead of the document — the 100 TB spelling (same groups up
    to md5 collisions, i.e. same in practice; asserted equal in tests).
    """
    # NULL text stays its own group under either key (md5(NULL) is NULL,
    # matching groupBy-on-text semantics — no NULL/empty-string collapse)
    group = F.md5(F.col(text_col)) if key == "digest" else F.col(text_col)
    return docs.groupBy(group.alias("_k")).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    ).select(id_col, "n_copies")


def _with_jaccard(df: DataFrame, a: Column, b: Column, out: str = "jaccard") -> DataFrame:
    """Append a jaccard column, evaluating array_intersect ONCE: the
    intersect size lands in its own projection and the jaccard reads the
    alias — CollapseProject keeps multi-referenced non-cheap producers
    uncollapsed, so the O(|a|+|b|) intersect isn't inlined 3x (it was:
    numerator + union + guard; measured 3x the per-pair cost)."""
    step = df.withColumn("_isz", F.size(F.array_intersect(a, b)).cast("double"))
    union = F.size(a) + F.size(b) - F.col("_isz")
    # two empty shingle sets: jaccard of empty sets is 0 (no near-dup),
    # and ANSI mode would otherwise raise DIVIDE_BY_ZERO
    return step.withColumn(
        out, F.when(union > 0, F.col("_isz") / union).otherwise(F.lit(0.0))
    ).drop("_isz")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact pairwise n-gram Jaccard near-dup pairs (a < b). O(n^2):
    test-scale oracle for the LSH variant; one side broadcast."""
    sh = with_shingles(docs, n, text_col).select(F.col(id_col), "sh")
    a, b = sh.alias("a"), sh.alias("b")
    joined = a.join(
        F.broadcast(b), F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), "inner"
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.sh").alias("sh_a"),
        F.col("b.sh").alias("sh_b"),
    )
    pairs = _with_jaccard(joined, F.col("sh_a"), F.col("sh_b")).drop("sh_a", "sh_b")
    return pairs.filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    bands: int = 8,
    rows: int = 2,
    verify_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH near-dup pairs: shingle -> minhash signature ->
    band buckets -> candidate pairs -> Jaccard verification.

    Hash family: h_j(s) = md5(f"{j}|{s}"), signature = lexicographic MIN
    hex string (kernel.minhash_band_keys) — md5 exists on both engines so
    the DuckDB oracle reproduces it exactly. Scale: everything before
    verification is linear; candidates shuffle on (band, signature).

    Plan shape (load-bearing, measured at sf0.1): the shingle array is
    materialized ONCE per doc through the explode (Generate is a
    projection-collapse barrier), then all bands*rows minhashes are
    sixteen F.min aggregates in ONE map-side-combined groupBy — the
    exchange carries one row per (doc, partition). Docs with no
    shingles vanish at the explode (no band keys, kernel parity).
    Two earlier spellings lose badly: a shingle x hash-fn crossJoin
    shuffles 16x the shingle rows, and a nested higher-order-function
    projection gets inlined by CollapseProject so the whole
    tokenize+shingle pipeline re-evaluates per hash fn (~6x slower).
    The aggregated exchange is also what lets AQE reuse one computation
    for both sides of the self-join (ReusedExchange)."""
    nh = bands * rows
    sh = with_shingles(docs, n, text_col).select(F.col(id_col), "sh")
    exploded = sh.select(id_col, F.explode("sh").alias("s1"))
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s1")))).alias(f"m{j}")
            for j in range(nh)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.concat_ws(
                    "|", *[f"m{b * rows + r}" for r in range(rows)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    band_sigs = mins.select(id_col, F.explode(band_structs).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a, b = band_sigs.alias("a"), band_sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # verification touches CANDIDATE docs only: semi-join docs down to
    # the (few) candidate ids before recomputing shingles, instead of
    # re-shingling the whole corpus twice for the two pair endpoints
    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .union(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh_cand = with_shingles(
        docs.join(F.broadcast(cand_ids), on=id_col, how="left_semi"), n, text_col
    ).select(F.col(id_col), "sh")
    sa = sh_cand.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_cand.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = _with_jaccard(
        cands.join(sa, "doc_a").join(sb, "doc_b"),
        F.col("sh_a"),
        F.col("sh_b"),
    ).select("doc_a", "doc_b", "jaccard")
    return verified.filter(F.col("jaccard") >= verify_threshold)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprint (kernel.simhash64 via
    Arrow UDF), candidates via 16-bit band equality (any fingerprint pair
    within hamming distance <= 3 shares a band; wider distances may miss
    — standard SimHash recall trade), verified by exact hamming."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from cordon_spark import kernel

        for s in batches:
            yield s.fillna("").map(
                lambda t: kernel.simhash64(kernel.tokenize(t)) - (1 << 63)
            ).astype("int64")

    fp = docs.select(F.col(id_col), simhash_udf(F.col(text_col)).alias("fp"))
    banded = fp.select(
        id_col,
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("fp", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "fp", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def embedding_lsh_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    n_probes: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Embedding near-dup SCALE path: sign-plane LSH bucketing first,
    exact cosine verification only within candidate buckets — the
    composed operator the docstring of embedding_cosine_pairs names.

    Build side emits each vector's own bucket; probe side emits the
    bucket plus `n_probes - 1` bit-flip probes (least-confident planes
    first, similarity.probes_from_dots_col), so pairs split by one plane
    are still candidates. Everything is linear in corpus size: bucket
    keys are one JVM projection, candidates shuffle on the bucket key,
    and verification touches only candidate pairs. Recall vs the exact
    all-pairs operator is asserted in tests."""
    from cordon_spark.operators.similarity import (
        _dot,
        _lsh_planes,
        bucket_from_dots_col,
        probes_from_dots_col,
        with_lsh_dots,
    )

    planes = _lsh_planes(vectors, vec_col, n_planes)
    if planes is None:
        return vectors.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    # dots materialized once per row (Generate barrier) — the bucket and
    # every probe key then read a cheap attribute instead of re-running
    # all plane dot products per expression (similarity.with_lsh_dots)
    build = with_lsh_dots(
        vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("v_b")),
        "v_b",
        planes,
    ).select("vec_b", "v_b", bucket_from_dots_col("_dots", n_planes).alias("bucket"))
    probe = with_lsh_dots(
        vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("v_a")),
        "v_a",
        planes,
    ).select(
        "vec_a",
        "v_a",
        F.explode(probes_from_dots_col("_dots", n_planes, n_probes)).alias("bucket"),
    )
    dot = _dot(F.col("v_a"), F.col("v_b"))
    cands = (
        probe.join(build, on="bucket")
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
            dot.alias("cosine"),
        )
        .distinct()
    )
    return cands.filter(F.col("cosine") >= threshold)


def embedding_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Embedding near-dup: pairs with cosine similarity >= threshold.
    JVM-side dot product via zip_with + aggregate (vectors pre-normalized).
    Exact O(n^2) — the oracle for embedding_lsh_pairs, which is the
    bucketed scale path."""
    from cordon_spark.operators.similarity import _dot

    a, b = vectors.alias("a"), vectors.alias("b")
    dot = _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    pairs = a.join(
        F.broadcast(b), F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), "inner"
    ).select(
        F.col(f"a.{id_col}").alias("vec_a"),
        F.col(f"b.{id_col}").alias("vec_b"),
        dot.alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    reliable_checkpoint: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into connected-component clusters:
    output (doc_id, cluster_rep) where cluster_rep = the component's
    MIN doc id — the canonical-representative step every dedup pipeline
    needs after candidate pairing (keep rep, drop the rest).

    Algorithm: iterative min-label propagation WITH PATH HALVING — each
    round every node takes min(own label, neighbors' labels), then
    shortcuts through its label's label (lab = lab[lab]), doubling the
    propagation distance per round: O(log diameter) rounds, the
    classic pointer-jumping trick that makes distributed connected
    components tractable on long chains. Near-dup components are tiny and shallow (pairs already
    passed a similarity threshold), so this converges in a few rounds;
    `max_iters` guards pathological chains, and convergence is CHECKED
    (raises rather than returning a half-merged labeling). Each round's
    labels go through localCheckpoint (eager) — persist alone is NOT
    enough for iterative plans: the logical plan still nests the whole
    history and analysis blows up (measured: driver OOM building the
    plan string around round ~15); checkpointing truncates lineage so
    every round's plan is one join + one agg, constant size.

    Checkpoint durability: the default localCheckpoint stores the
    iteration state on executors — fast, but NOT fault-tolerant (an
    executor loss mid-resolve loses partitions and fails the job,
    acceptable on a single host). For a 100 TB resolve on a real
    cluster pass `reliable_checkpoint=True` AFTER setting
    `spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)`: each
    round's labels then go through a reliable `DataFrame.checkpoint`
    to that directory and survive executor loss. Same lineage
    truncation either way.

    At 100 TB: label state is one (node, label) row per distinct doc in
    any pair (the dup minority, NOT the corpus); for adversarial
    diameter graphs swap in the large-star/small-star variant — the
    per-round shape (join + min-agg) is identical."""
    from pyspark import StorageLevel

    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .union(pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if reliable_checkpoint:
        sc = pairs.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "reliable_checkpoint=True requires "
                "spark.sparkContext.setCheckpointDir(...) first"
            )
        ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    labels = ckpt(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    try:
        for _round in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges.b == labels.node)
                .groupBy(edges.a.alias("node"))
                .agg(F.min("lab").alias("nlab"))
            )
            stepped = labels.join(neighbor_min, on="node", how="left").select(
                "node",
                F.col("lab").alias("_old"),  # rides along for convergence
                F.least(F.col("lab"), F.coalesce("nlab", F.col("lab"))).alias("lab"),
            )
            # path halving: lab <- min(lab, lab[lab]) — doubles the
            # distance a label travels per round (log-diameter total)
            hop = stepped.select(
                F.col("node").alias("_hn"), F.col("lab").alias("_hl")
            )
            # convergence is observed on the checkpoint's own job: the
            # previous round's label rides along in _old, so no join and
            # no probe job per round
            moved = Observation()
            labels = ckpt(
                stepped.join(hop, stepped.lab == hop._hn, "left")
                .select(
                    "node",
                    F.least(F.col("lab"), F.coalesce("_hl", F.col("lab"))).alias("lab"),
                    "_old",
                )
                .observe(moved, F.count(F.when(F.col("lab") != F.col("_old"), 1)).alias("n"))
                .select("node", "lab")
            )
            if moved.get["n"] == 0:
                if stats is not None:  # rounds-to-convergence, for benches
                    stats["rounds"] = _round + 1
                return labels.select(
                    F.col("node").alias("doc_id"), F.col("lab").alias("cluster_rep")
                )
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds — "
            "component diameter exceeds the guard; raise max_iters or use "
            "a star-contraction variant"
        )
    finally:
        edges.unpersist(blocking=False)


def apply_dedup(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The final corpus view: drop every clustered document EXCEPT its
    component representative (docs never seen in a pair pass through
    untouched). One left-anti join against the non-representative
    minority — at 100 TB the dropped set is the dup fraction of the
    corpus, typically broadcastable; when it is not, the anti join
    shuffles on the id like any equi-join."""
    drop = clusters.filter(F.col(id_col) != F.col("cluster_rep")).select(id_col)
    return docs.join(drop, on=id_col, how="left_anti")


def minhash_lsh_pairs_collapsed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Hot-bucket defusal for EXACT duplicates, the one skew LSH cannot
    salt away: m byte-identical documents share every band signature,
    so plain minhash_lsh_pairs materializes their complete graph —
    m(m-1)/2 candidate pairs in ONE bucket (a 1M-copy boilerplate doc
    at corpus scale is ~5*10^11 pairs, i.e. job death). Collapse by
    content digest first: LSH runs over one representative per distinct
    text, and exact-dup members attach to their representative with
    (rep, member, jaccard=1.0) STAR edges — the connected components
    (and therefore dedup_clusters / apply_dedup output) are IDENTICAL,
    with O(m) edges instead of O(m^2). Docs that produce NO shingles
    (null, empty, or whitespace-only text — shingles_col's
    size(tokens)==0 guard) are left out of the collapse entirely: the
    uncollapsed path emits no pairs for them, so star-edging
    byte-identical empty docs would add edges the oracle path does not
    have (the guard here is size(tokens_col)==0, the SAME predicate
    shingles_col uses, so the two paths agree doc-for-doc).

    Use this as the 100 TB entry point; the uncollapsed operator stays
    the semantics oracle (its pair set is what the DuckDB oracle
    reproduces, and the equivalence of the two paths' CLUSTERS is
    asserted in tests)."""
    keyed = docs.filter(
        F.col(text_col).isNotNull() & (F.size(tokens_col(text_col)) > 0)
    ).select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("_dig")
    )
    reps = keyed.groupBy("_dig").agg(F.min(id_col).alias("_rep"))
    with_rep = keyed.join(reps, on="_dig")
    # star edges: rep -> every other member (rep = min id, so a < b)
    star = (
        with_rep.filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("doc_a"),
            F.col(id_col).alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    uniq_docs = with_rep.filter(F.col(id_col) == F.col("_rep")).select(
        F.col(id_col), F.col(text_col)
    )
    pairs = minhash_lsh_pairs(
        uniq_docs, id_col=id_col, text_col=text_col, **lsh_kwargs
    )
    return pairs.unionByName(star)


def assign_to_centroids_pandas(
    vectors: DataFrame,
    centroids,
    vec_col: str = "v",
    out_col: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (k, dim) matrix and
    argmax a BLAS matmul per Arrow batch — a map-only pass whose plan
    size stays constant in k (SemDeDup wants k ~ N/1000 quantizers at
    corpus scale). np.argmax ties to the FIRST maximum = the lowest
    cluster id, the tie rule SQL_SEMDEDUP's row_number (dot DESC,
    cluster) mirrors."""
    import numpy as np

    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    fields = [f for f in vectors.schema.fields]
    out_schema = T.StructType(fields + [T.StructField(out_col, T.LongType())])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cen = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            pdf = pdf.copy()
            pdf[out_col] = np.argmax(mat @ cen.T, axis=1).astype(np.int64)
            yield pdf

    return vectors.mapInPandas(assign, out_schema)


def semdedup(
    vectors: DataFrame,
    centroids,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "v",
    row_block: int = 1024,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, then prune near-duplicates WITHIN each cluster — the
    cross-cluster pair space is never materialized, which is the whole
    scale trick (the paper runs it at LAION/C4 scale with ~100k
    clusters). A row is a duplicate iff some SAME-CLUSTER row with a
    smaller id has cosine >= tau to it (witnesses need not themselves
    survive); the survivor of every dup group is therefore
    deterministic (the paper keeps the member with the lowest centroid
    similarity — we pin the lowest id instead so both engines and
    repeated runs agree bit-for-bit).

    Inputs are L2-normalized embeddings (similarity.normalize) and a
    (k, dim) centroid matrix (kmeans_fit, or a baked quantizer for
    build-once/serve-many). Returns (id, cluster, kept).

    Plan shape, like the paper's own implementation: a map-only
    assignment, then ONE shuffle groups each cluster's members onto an
    executor and the within-cluster pair search is a blocked BLAS
    matmul over the id-sorted rows.

    Memory: a cluster of size m holds its (m, dim) float64 matrix plus
    one (row_block, m) similarity block — choose k ~ N/1000 like the
    paper and a 4k-row cluster costs ~2 MB matrix + ~32 MB block.
    Byte-identical floods should be digest-collapsed first
    (exact_dedup); the cluster bound caps the damage either way.

    Semantics are pinned by SQL_SEMDEDUP (the DuckDB oracle in the
    driver gate) and by a numpy reference in tests."""
    import numpy as np

    assigned = assign_to_centroids_pandas(
        vectors.select(id_col, vec_col), centroids, vec_col=vec_col
    )
    id_type = vectors.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("cluster", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        m = len(pdf)
        dup = np.zeros(m, dtype=bool)
        for lo in range(0, m, row_block):
            hi = min(lo + row_block, m)
            if lo == 0 and hi == 1:
                continue
            sims = mat[lo:hi] @ mat[: hi].T  # (block, hi)
            for i in range(lo, hi):
                if i == 0:
                    continue
                dup[i] = bool((sims[i - lo, :i] >= tau).any())
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cluster": pdf["cluster"].astype("int64"),
                "kept": ~dup,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)


def substring_dup_spans(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Duplicate substring span detection — the suffix-array dedup of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499) re-expressed as rolling k-token window
    fingerprints, which is the spelling that distributes: a span of
    tokens duplicated anywhere in the corpus (across docs OR repeated
    within one doc) is exactly a run of k-token windows whose md5
    fingerprints each occur more than once corpus-wide.

    Plan (three shuffles, all skew-safe):
      1. tokenize once per row behind a Generate barrier, posexplode
         the per-row transform() of window fingerprints — map-only,
         O(tokens) rows out;
      2. repeated fingerprints via groupBy(fp).count() — hash agg with
         map-side partials, so a Zipfian hot window (a boilerplate
         sentence in 10^7 docs) collapses to one row per partition
         before the exchange (the skew-safe shape VERDICT r4 required
         for tfidf df);
      3. semi join windows->repeated fps (AQE picks broadcast when the
         repeated set is small, skew-join otherwise), then ONE
         partitioned window per doc merges flagged positions into
         maximal spans: equal-width intervals sorted by start union
         correctly by breaking islands where pos - prev_pos > k.

    Returns (id_col, span_start, span_end, n_windows): 0-based token
    indices, end inclusive, adjacent spans merged. Docs with < k
    tokens have no windows.

    The fingerprint is the first 60 bits of the window's md5 as a
    BIGINT (`conv(substr(md5, 1, 15), 16, 10)` — the repo's standard
    cross-engine hex-cast parity, DuckDB `('0x'||substr)::UBIGINT`):
    the corpus-wide count shuffles one row per window, almost all
    unique, so an 8-byte key cuts exchange bytes ~4x vs the 32-char
    hex string (measured at 2M docs: 1->4 executor efficiency
    0.423 -> 0.917 and the 4x2 leg 3x faster — BENCH.md carries both
    runs). A 60-bit collision flags one spurious
    window pair per ~10^9 windows — negligible for dedup, and shared
    bit-for-bit by the DuckDB oracle (same hash, same truncation), so
    engine parity is unaffected even when one occurs.
    """
    from pyspark.sql import Window as W

    step = (
        docs.select(id_col, text_col)
        .withColumn("_toks", F.explode(F.array(tokens_col(text_col))))
        .filter(F.size("_toks") >= k)
    )
    fps = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - k + 1),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(F.col("_toks"), i, k), " ")), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    w = step.select(id_col, F.posexplode(fps).alias("pos", "fp"))
    repeated = w.groupBy("fp").count().filter(F.col("count") > 1).select("fp")
    flagged = w.join(repeated, "fp").select(id_col, "pos")
    win = W.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(win) > k, 1).otherwise(0)
    islands = flagged.withColumn("_brk", brk).withColumn(
        "_isl", F.sum("_brk").over(win)
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("_isl")
    )
