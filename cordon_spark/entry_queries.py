"""Driver-contract queries: every SURVEY.md §2 operator (plus the
training-data ops) as a (Spark callable, DuckDB oracle SQL) pair over
the pre-registered testdata views.

Design: the primary input of the engine is a transcripts table
(input_hint); the driver's oracle views don't include one, so queries
DERIVE a transcripts-shaped table deterministically from `documents`
(conv_id = doc_id // 50, turn_idx = doc_id % 50) and use the 64-d
vectors in `embeddings` (joined on vec_id = doc_id) as precomputed turn
embeddings — which makes the FULL pipeline (window -> embed -> score ->
threshold -> merge -> route) SQL-expressible and hash-checkable.

Cross-engine numeric contract:
  * all float outputs rounded via floor(x*10000 + 0.5)/10000 (explicit
    half-up on both engines; Spark ROUND and Python round() disagree)
  * value SUMS go further: decimal(20,6) accumulation (order-exact) and
    a scaled-LONG output (r4l: floor(x*10000+0.5) without the /10000) —
    integers hash identically under any float-repr / canonicalization
    convention a comparing harness might use
  * counts cast to long (DuckDB count() is BIGINT)
  * md5 hex strings as the shared deterministic hash family
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cordon_spark.config import AnalysisConfig
from cordon_spark.operators import curation as C
from cordon_spark.operators import dedup as D
from cordon_spark.operators import similarity as S
from cordon_spark.functions import text as TX
from cordon_spark.operators.merge import merge_blocks
from cordon_spark.operators.parse import extract_templates
from cordon_spark.operators.routing import route_turns
from cordon_spark.operators.scoring import score_windows_knn
from cordon_spark.operators.threshold import select_significant, thresholds_and_stats
from cordon_spark.operators.windowing import segment_windows

K = 5
WS = 4
P = 0.1
NGRAM_TAU = 0.2
MINHASH_TAU = 0.5
COSINE_TAU = 0.4
ANN_K = 5
ANN_NQ = 10


def r4(col, name):
    return (F.floor(col * 10000 + F.lit(0.5)) / 10000).alias(name)


def r4l(col, name):
    """Scaled-long spelling of r4: emit floor(x*10000+0.5) WITHOUT the
    /10000, as a BIGINT. Integers hash identically under any float-repr
    / canonicalization convention the comparing harness uses, so value
    sums exposed this way are hash-proof cross-engine (the decimal sum
    underneath is already order-independent)."""
    return F.floor(col * 10000 + F.lit(0.5)).cast("long").alias(name)


def r4l_dec(col, name):
    """All-decimal spelling of r4l for inputs that are ALREADY exact
    decimals (value sums accumulated in decimal(20,6)): decimal
    multiply, decimal add, decimal floor, cast long — no IEEE operation
    exists anywhere in the chain, so the scaled long is bit-identical
    on any engine under any evaluation order. DuckDB mirror:
    floor(sum(v::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0)
          + 0.5::DECIMAL(2,1))::BIGINT."""
    scaled = (
        col.cast("decimal(20,6)") * F.lit(10000).cast("decimal(10,0)")
        + F.lit("0.5").cast("decimal(2,1)")
    )
    return F.floor(scaled).cast("long").alias(name)


def _footers(path: str) -> list:
    """Parquet footer metadata of `path` (a file, or a directory's
    *.parquet files); reads no data. Raises on unreadable layouts."""
    import pathlib

    import pyarrow.parquet as pq

    p = pathlib.Path(path)
    files = [p] if p.is_file() else sorted(p.glob("*.parquet"))
    return [pq.ParquetFile(f).metadata for f in files]


def _row_groups(path: str) -> int:
    """Total parquet row groups under `path` from footer metadata only —
    the TRUE upper bound on scan parallelism for a parquet source
    (byte-range splits beyond row-group count produce empty tasks).
    Unreadable/foreign layouts return a large number so the caller's
    gate stays inert."""
    try:
        return sum(meta.num_row_groups for meta in _footers(path))
    except Exception:
        return 1 << 30


def _spread(df, path: str):
    """Input-skew guard (guide §2.5: one unsplittable input -> repartition
    immediately after the read). The fixture tables are single-row-group
    parquet files, so without this every per-row-heavy pass (shingle md5,
    entropy folds, regex scrubbing) runs in ONE scan task no matter how
    many cores (measured: the minhash signature stage alone was 24s
    single-task at sf1.0, ~1s spread 32-way). Gated on the scan's TRUE
    width — min(scan partitions, total row groups), since byte-range
    splits cannot subdivide a row group and a big single-row-group file
    would fool a partition-count-only gate — vs the scheduler's
    parallelism, so at real scale, where a table is many files/row
    groups and already wider than the cluster, this is a no-op and no
    corpus-wide shuffle is ever added. Footers are opened only when the
    scan alone cannot decide: a scan narrower than the cluster spreads,
    and one of at least as many files as slots is as wide as the cluster
    (every file holds a row group) — so a wide many-file scan plans with
    no footer read."""
    spark = df.sparkSession
    n_slots = spark.sparkContext.defaultParallelism
    if n_slots <= 1:
        return df
    if df.rdd.getNumPartitions() < n_slots:
        return df.repartition(n_slots)
    if len(df.inputFiles()) >= n_slots or _row_groups(path) >= n_slots:
        return df
    return df.repartition(n_slots)


def _ts_lit(df, col_name: str, iso: str):
    """Timestamp literal typed to df[col_name]'s own timestamp flavor so
    date-range predicates are session-TZ-proof: an NTZ column compares
    against an NTZ literal (string->NTZ parse involves no time zone),
    an LTZ column against an instant built from explicit epoch micros.
    The previous bare cast("timestamp") parsed the literal in the
    SESSION zone while the NTZ fact column was coerced through the same
    zone — equal under UTC (oracle hashes unchanged) but skewed around
    DST transitions under non-UTC driver sessions."""
    import datetime as _dt

    from pyspark.sql import types as _T

    dt = df.schema[col_name].dataType
    if isinstance(dt, _T.TimestampNTZType):
        return F.lit(iso).cast("timestamp_ntz")
    if isinstance(dt, _T.TimestampType):
        micros = int(
            _dt.datetime.fromisoformat(iso)
            .replace(tzinfo=_dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )
        return F.timestamp_micros(F.lit(micros))
    return F.lit(iso).cast("timestamp")


def _docs(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(path), path)


def _emb(spark, sf_dir):
    # Deliberately NOT _spread: the embeddings table feeds kmeans_fit /
    # pq_fit, whose partial-sum merges are partitioning-sensitive in
    # the last ulp, and the BAKED quantizer artifacts (IVF centroid
    # literals inside frozen oracle SQL, PQ codebooks) were fit under
    # the scan's native layout — respreading the input would unbake
    # them (tests/test_similarity.py bake-parity guards). The heavy
    # embeddings consumers parallelize internally instead: exact kNN
    # repartitions before its mapInPandas (scoring.py) and the
    # dedup/ANN paths are per-row or bucket-sharded.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _emb_rows(sf_dir) -> int | None:
    """The embeddings table's row count from its footers, no job: the
    threshold's `n_rows` wherever its input is one row per embeddings
    row (the kNN scores, and projections of them). None when no footer
    can be read, so the threshold counts for itself."""
    try:
        footers = _footers(f"{sf_dir}/embeddings.parquet")
    except Exception:
        return None
    return sum(meta.num_rows for meta in footers) if footers else None


def _events(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    return _spread(spark.read.parquet(path), path)


def derived_transcripts(spark, sf_dir) -> DataFrame:
    """documents -> transcripts-shaped (conv_id, turn_idx, text)."""
    return _docs(spark, sf_dir).select(
        F.concat(F.lit("c"), F.floor(F.col("doc_id") / 50).cast("long").cast("string")).alias(
            "conv_id"
        ),
        F.col("doc_id").alias("turn_idx"),  # re-based below
        "text",
    ).withColumn("turn_idx", F.col("turn_idx") % 50)


TRANSCRIPTS_SQL = (
    "SELECT 'c' || CAST(doc_id // 50 AS VARCHAR) AS conv_id, "
    "doc_id % 50 AS turn_idx, text FROM documents"
)

from cordon_spark.kernel import PY_WHITESPACE as _PY_WS

# str.rstrip()-equivalent char list, generated from the same constant as
# the Spark regex (kernel.PY_WHITESPACE) so all three engines agree
_RTRIM = "rtrim(text, " + " || ".join(f"chr({ord(c)})" for c in _PY_WS) + ")"

NORM_EMB_SQL = """
e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
nrm AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nn, v0 FROM e0),
nv AS (SELECT vec_id, CASE WHEN nn > 0 THEN list_transform(v0, x -> x / nn) ELSE v0 END AS v FROM nrm)
"""

KNN_SQL = (
    NORM_EMB_SQL
    + """,
kd AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              greatest(0.0, least(2.0, 1.0 - list_dot_product(a.v, b.v))) AS dist
       FROM nv a JOIN nv b ON a.vec_id <> b.vec_id),
kr AS (SELECT qid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn FROM kd),
ks AS (SELECT qid AS vec_id, avg(dist) AS score FROM kr WHERE rn <= 5 GROUP BY qid)
"""
)


def _normalized_vectors(spark, sf_dir) -> DataFrame:
    return S.normalize(_emb(spark, sf_dir).withColumn("v", F.col("embedding")), "v").select(
        "vec_id", "v"
    )


def _knn_scored(spark, sf_dir) -> DataFrame:
    """Exact kNN scores of the embeddings table, one row per embeddings
    row, scored once: the threshold queries read them twice (the direct
    collect, the kept rows). A lazy local checkpoint keeps the first
    pass's rows without registering a cache that another query's plan
    could be served from."""
    vecs = _normalized_vectors(spark, sf_dir).withColumnRenamed("v", "embedding")
    cfg = AnalysisConfig(k_neighbors=K)
    return score_windows_knn(spark, vecs, cfg, id_cols=("vec_id",)).localCheckpoint(eager=False)


# ------------------------------------------------------------------ #
# OP-3: window segmentation
# ------------------------------------------------------------------ #
def q_window_segment(spark, sf_dir):
    t = derived_transcripts(spark, sf_dir)
    cfg = AnalysisConfig(window_size=WS)
    return segment_windows(t, cfg).select(
        "conv_id", "window_id", "start_idx", "end_idx", "n_turns", "content"
    )


SQL_WINDOW_SEGMENT = f"""
WITH t AS ({TRANSCRIPTS_SQL}),
s AS (SELECT conv_id, turn_idx, {_RTRIM} AS ts FROM t)
SELECT conv_id, turn_idx // {WS} AS window_id, min(turn_idx) AS start_idx,
       max(turn_idx) AS end_idx, count(*) AS n_turns,
       string_agg(ts, chr(10) ORDER BY turn_idx) AS content
FROM s GROUP BY conv_id, turn_idx // {WS}
"""


# ------------------------------------------------------------------ #
# OP-5: exact k-NN scoring over the embeddings table
# ------------------------------------------------------------------ #
def q_knn_score(spark, sf_dir):
    return _knn_scored(spark, sf_dir).select("vec_id", r4(F.col("score"), "score"))


SQL_KNN_SCORE = f"WITH {KNN_SQL} SELECT vec_id, floor(score*10000 + 0.5)/10000 AS score FROM ks"


# ------------------------------------------------------------------ #
# OP-6: percentile threshold (tie-inclusive >=) and band mode
# ------------------------------------------------------------------ #
def q_threshold_percentile(spark, sf_dir):
    scored = _knn_scored(spark, sf_dir)
    cfg = AnalysisConfig(anomaly_percentile=P)
    kept, _, _, _ = select_significant(scored, cfg, n_rows=_emb_rows(sf_dir))
    return kept.select("vec_id", r4(F.col("score"), "score"))


SQL_THRESHOLD_PERCENTILE = f"""
WITH {KNN_SQL}, thr AS (SELECT quantile_cont(score, {1 - P}) AS t FROM ks)
SELECT vec_id, floor(score*10000 + 0.5)/10000 AS score FROM ks, thr WHERE score >= thr.t
"""


def q_threshold_range(spark, sf_dir):
    scored = _knn_scored(spark, sf_dir)
    cfg = AnalysisConfig(anomaly_range_min=0.05, anomaly_range_max=0.15)
    kept, _, _, _ = select_significant(scored, cfg, n_rows=_emb_rows(sf_dir))
    return kept.select("vec_id", r4(F.col("score"), "score"))


SQL_THRESHOLD_RANGE = f"""
WITH {KNN_SQL},
thr AS (SELECT quantile_cont(score, 0.95) AS up, quantile_cont(score, 0.85) AS lo FROM ks)
SELECT vec_id, floor(score*10000 + 0.5)/10000 AS score
FROM ks, thr WHERE score >= thr.lo AND score < thr.up
"""


# ------------------------------------------------------------------ #
# OP-7: gaps-and-islands interval merge
# ------------------------------------------------------------------ #
def q_merge_blocks(spark, sf_dir):
    scored = _knn_scored(spark, sf_dir)
    intervals = scored.select(
        F.concat(F.lit("c"), F.floor(F.col("vec_id") / 125).cast("long").cast("string")).alias(
            "conv_id"
        ),
        (F.col("vec_id") % 125).alias("window_id"),
        ((F.col("vec_id") % 125) * 4).alias("start_idx"),
        ((F.col("vec_id") % 125) * 4 + 3).alias("end_idx"),
        "score",
    )
    kept, _, _, _ = select_significant(
        intervals, AnalysisConfig(anomaly_percentile=P), n_rows=_emb_rows(sf_dir)
    )
    blocks = merge_blocks(kept)
    return blocks.select(
        "conv_id",
        "start_idx",
        "end_idx",
        F.size("original_windows").cast("long").alias("n_windows"),
        r4(F.col("max_score"), "max_score"),
    )


_MERGE_TAIL = """
ord AS (SELECT *, max(end_idx) OVER (PARTITION BY conv_id ORDER BY start_idx, end_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM sel),
isl AS (SELECT *, sum(CASE WHEN pme IS NULL OR start_idx > pme + 1 THEN 1 ELSE 0 END)
         OVER (PARTITION BY conv_id ORDER BY start_idx, end_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM ord),
blocks AS (SELECT conv_id, min(start_idx) AS start_idx, max(end_idx) AS end_idx,
           count(*) AS n_windows, max(score) AS max_score
           FROM isl GROUP BY conv_id, island)
"""

SQL_MERGE_BLOCKS = f"""
WITH {KNN_SQL},
iv AS (SELECT 'c' || CAST(vec_id // 125 AS VARCHAR) AS conv_id,
              (vec_id % 125) * 4 AS start_idx, (vec_id % 125) * 4 + 3 AS end_idx, score FROM ks),
thr AS (SELECT quantile_cont(score, {1 - P}) AS t FROM iv),
sel AS (SELECT iv.* FROM iv, thr WHERE score >= thr.t),
{_MERGE_TAIL}
SELECT conv_id, start_idx, end_idx, n_windows,
       floor(max_score*10000 + 0.5)/10000 AS max_score FROM blocks
"""


# ------------------------------------------------------------------ #
# OP-10: score distribution aggregate
# ------------------------------------------------------------------ #
def q_score_distribution(spark, sf_dir):
    """The pipeline's own OP-10 plan: thresholds_and_stats (keep-all, so
    no cut) gives the numbers numpy gives, and one row carries them."""
    _, _, stats = thresholds_and_stats(
        _knn_scored(spark, sf_dir),
        AnalysisConfig(anomaly_percentile=1.0),
        n_rows=_emb_rows(sf_dir),
    )
    keys = ("min", "max", "mean", "median", "p90")
    row = spark.createDataFrame(
        [tuple(float(stats[k]) for k in keys)], ", ".join(f"{k} double" for k in keys)
    )
    return row.select(*[r4(F.col(k), f"{k}_s") for k in keys])


SQL_SCORE_DISTRIBUTION = f"""
WITH {KNN_SQL}
SELECT floor(min(score)*10000 + 0.5)/10000 AS min_s,
       floor(max(score)*10000 + 0.5)/10000 AS max_s,
       floor(avg(score)*10000 + 0.5)/10000 AS mean_s,
       floor(quantile_cont(score, 0.5)*10000 + 0.5)/10000 AS median_s,
       floor(quantile_cont(score, 0.90)*10000 + 0.5)/10000 AS p90_s
FROM ks
"""


# ------------------------------------------------------------------ #
# Flagship: full pipeline over derived transcripts with precomputed
# turn vectors (window -> embed(mean) -> kNN score -> threshold ->
# merge); plus the turn router over its blocks.
# ------------------------------------------------------------------ #
def _vec_pipeline(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    vecs = _normalized_vectors(spark, sf_dir)
    turns = (
        docs.join(vecs, docs.doc_id == vecs.vec_id)
        .select(
            F.concat(
                F.lit("c"), F.floor(F.col("doc_id") / 50).cast("long").cast("string")
            ).alias("conv_id"),
            (F.col("doc_id") % 50).alias("turn_idx"),
            "text",
            "v",
        )
    )
    with_wid = turns.withColumn("window_id", F.floor(F.col("turn_idx") / WS).cast("long"))
    # bounds + window-mean vector in ONE groupBy/exchange: collect the
    # <= WS member vectors and fold them with zip_with (JVM-side array
    # sum). The earlier posexplode + per-dim groupBy spelling blew every
    # row up 64x through an extra aggregation.
    grouped = with_wid.groupBy("conv_id", "window_id").agg(
        F.min("turn_idx").alias("start_idx"),
        F.max("turn_idx").alias("end_idx"),
        F.collect_list("v").alias("vs"),
    )
    zero = F.array_repeat(F.lit(0.0), F.size(F.element_at("vs", 1)))
    vsum = F.aggregate(
        F.col("vs"), zero, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    windows = grouped.withColumn(
        "embedding", F.transform(vsum, lambda x: x / F.size("vs"))
    ).drop("vs")
    windows = S.normalize(windows, "embedding")
    cfg = AnalysisConfig(k_neighbors=K, anomaly_percentile=P)
    # scored once, as in _knn_scored: the threshold's actions and the
    # merge read these rows
    scored = score_windows_knn(spark, windows, cfg).localCheckpoint(eager=False)
    kept, _, _, _ = select_significant(scored, cfg)
    blocks = merge_blocks(kept)
    return turns, blocks


def q_pipeline_blocks(spark, sf_dir):
    _, blocks = _vec_pipeline(spark, sf_dir)
    return blocks.select(
        "conv_id",
        "start_idx",
        "end_idx",
        F.size("original_windows").cast("long").alias("n_windows"),
        r4(F.col("max_score"), "max_score"),
    )


PIPE_SQL = (
    NORM_EMB_SQL
    + f""",
t AS (SELECT 'c' || CAST(d.doc_id // 50 AS VARCHAR) AS conv_id, d.doc_id % 50 AS turn_idx, nv.v AS v
      FROM documents d JOIN nv ON nv.vec_id = d.doc_id),
wb AS (SELECT conv_id, turn_idx // {WS} AS window_id, min(turn_idx) AS start_idx,
              max(turn_idx) AS end_idx FROM t GROUP BY 1, 2),
dims AS (SELECT conv_id, turn_idx // {WS} AS window_id,
                generate_subscripts(v, 1) AS dim, unnest(v) AS val FROM t),
wv0 AS (SELECT conv_id, window_id, dim, avg(val) AS val FROM dims GROUP BY 1, 2, 3),
wv1 AS (SELECT conv_id, window_id, list(val ORDER BY dim) AS wv FROM wv0 GROUP BY 1, 2),
wvn AS (SELECT conv_id, window_id, sqrt(list_dot_product(wv, wv)) AS nn, wv FROM wv1),
wv AS (SELECT conv_id, window_id,
              CASE WHEN nn > 0 THEN list_transform(wv, x -> x / nn) ELSE wv END AS wv FROM wvn),
wd AS (SELECT a.conv_id AS qc, a.window_id AS qw, b.conv_id AS nc, b.window_id AS nw,
              greatest(0.0, least(2.0, 1.0 - list_dot_product(a.wv, b.wv))) AS dist
       FROM wv a JOIN wv b ON NOT (a.conv_id = b.conv_id AND a.window_id = b.window_id)),
wr AS (SELECT qc, qw, dist, row_number() OVER (PARTITION BY qc, qw ORDER BY dist, nc, nw) AS rn FROM wd),
wsc AS (SELECT qc AS conv_id, qw AS window_id, avg(dist) AS score FROM wr WHERE rn <= {K} GROUP BY 1, 2),
scored AS (SELECT wb.conv_id, wb.window_id, wb.start_idx, wb.end_idx, wsc.score
           FROM wb JOIN wsc USING (conv_id, window_id)),
thr AS (SELECT quantile_cont(score, {1 - P}) AS t FROM scored),
sel AS (SELECT s.* FROM scored s, thr WHERE s.score >= thr.t),
{_MERGE_TAIL}
"""
)

SQL_PIPELINE_BLOCKS = f"""
WITH {PIPE_SQL}
SELECT conv_id, start_idx, end_idx, n_windows,
       floor(max_score*10000 + 0.5)/10000 AS max_score FROM blocks
"""


def q_route_counts(spark, sf_dir):
    turns, blocks = _vec_pipeline(spark, sf_dir)
    routed = route_turns(turns, blocks)
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


SQL_ROUTE_COUNTS = f"""
WITH {PIPE_SQL},
routed AS (SELECT t.conv_id, t.turn_idx,
                  CASE WHEN b.conv_id IS NOT NULL THEN 'anomalous' ELSE 'routine' END AS sink
           FROM t LEFT JOIN blocks b
             ON b.conv_id = t.conv_id AND t.turn_idx BETWEEN b.start_idx AND b.end_idx)
SELECT sink, count(*) AS n FROM routed GROUP BY sink
"""


# ------------------------------------------------------------------ #
# Parse: wildcard template extraction (first match wins)
# ------------------------------------------------------------------ #
PARSE_TEMPLATES = [
    ("T_sortmerge", "sort [*] merge"),
    ("T_joinagg", "join [*] agg"),
    ("T_winscan", "window [*] scan"),
    ("T_batchstream", "batch [*] stream"),
]


def q_parse_templates(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    parsed = extract_templates(docs, PARSE_TEMPLATES)
    return (
        parsed.select(F.coalesce("template_id", F.lit("NONE")).alias("template_id"))
        .groupBy("template_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_PARSE_TEMPLATES = """
WITH m AS (SELECT CASE
    WHEN regexp_matches(text, 'sort .*? merge') THEN 'T_sortmerge'
    WHEN regexp_matches(text, 'join .*? agg') THEN 'T_joinagg'
    WHEN regexp_matches(text, 'window .*? scan') THEN 'T_winscan'
    WHEN regexp_matches(text, 'batch .*? stream') THEN 'T_batchstream'
    ELSE 'NONE' END AS template_id FROM documents)
SELECT template_id, count(*) AS n FROM m GROUP BY template_id
"""


# ------------------------------------------------------------------ #
# Enrich: broadcast dim join with missing-key defaults
# ------------------------------------------------------------------ #
EVENT_DIM = [
    ("click", "ui", 1),
    ("error", "ops", 3),
    ("signup", "ui", 1),
    ("purchase", "biz", 2),
    # 'view' intentionally missing -> unknown/0
]


def q_enrich_events(spark, sf_dir):
    events = _events(spark, sf_dir)
    dim = spark.createDataFrame(EVENT_DIM, "event_type string, category string, risk int")
    joined = events.join(F.broadcast(dim), on="event_type", how="left")
    return (
        joined.select(
            F.coalesce("category", F.lit("unknown")).alias("category"),
            F.coalesce("risk", F.lit(0)).alias("risk"),
            "value",
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("risk").cast("long").alias("risk_sum"),
            # decimal sum -> order-independent across parallelism levels;
            # all-decimal scaled-long output -> hash-proof cross-engine
            # with no IEEE op anywhere (see r4l_dec)
            r4l_dec(F.sum(F.col("value").cast("decimal(20,6)")), "value_sum_e4"),
        )
    )


SQL_ENRICH_EVENTS = """
WITH dim(event_type, category, risk) AS
  (VALUES ('click','ui',1), ('error','ops',3), ('signup','ui',1), ('purchase','biz',2)),
j AS (SELECT coalesce(d.category, 'unknown') AS category, coalesce(d.risk, 0) AS risk, e.value
      FROM events e LEFT JOIN dim d ON e.event_type = d.event_type)
SELECT category, count(*) AS n, sum(risk)::BIGINT AS risk_sum,
       floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM j GROUP BY category
"""


# ------------------------------------------------------------------ #
# Dedup suite
# ------------------------------------------------------------------ #
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_copies").cast("long").alias("n_copies")
    )


SQL_DEDUP_EXACT = (
    "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text"
)

# kernel.tokenize parity: Python str.split() separates on ANY run of
# Unicode whitespace; the RE2 class is generated from the same
# kernel.PY_WHITESPACE constant as the Spark tokens_col regex
from cordon_spark.kernel import ws_class as _ws_class

_WS_RE2 = _ws_class("re2")

_TOKS_SQL = f"""
tk AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '{_WS_RE2}+'), x -> x <> '') AS toks
       FROM documents)
"""

_SHINGLES3_SQL = (
    _TOKS_SQL
    + """,
sh AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) >= 3
         THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                           i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS sh FROM tk)
"""
)


def q_dedup_ngram_jaccard(spark, sf_dir):
    pairs = D.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=NGRAM_TAU)
    return pairs.select("doc_a", "doc_b", r4(F.col("jaccard"), "jaccard"))


SQL_DEDUP_NGRAM = f"""
WITH {_SHINGLES3_SQL},
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh))::DOUBLE
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, floor(j*10000 + 0.5)/10000 AS jaccard FROM p WHERE j >= {NGRAM_TAU}
"""


def q_dedup_minhash(spark, sf_dir):
    pairs = D.minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, bands=8, rows=2, verify_threshold=MINHASH_TAU
    )
    return pairs.select("doc_a", "doc_b", r4(F.col("jaccard"), "jaccard"))


SQL_DEDUP_MINHASH = f"""
WITH {_SHINGLES3_SQL},
hx AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || s1)) AS mh
       FROM (SELECT doc_id, unnest(sh) AS s1 FROM sh), generate_series(0, 15) g(j)
       GROUP BY doc_id, j),
bands AS (SELECT doc_id, j // 2 AS band, string_agg(mh, '|' ORDER BY j) AS sig
          FROM hx GROUP BY doc_id, j // 2),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
ver AS (SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
        FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, floor(j*10000 + 0.5)/10000 AS jaccard FROM ver WHERE j >= {MINHASH_TAU}
"""


def q_dedup_clusters(spark, sf_dir):
    """Canonical-representative resolution: the minhash-LSH dup pairs
    collapsed into connected components, each doc labeled with its
    component's min doc_id (keep the rep, drop the rest — the step a
    dedup pipeline runs after pairing). Oracle = recursive-CTE
    transitive closure; any correct algorithm agrees on the fixpoint."""
    pairs = D.minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, bands=8, rows=2, verify_threshold=MINHASH_TAU
    )
    return D.dedup_clusters(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLES3_SQL},
hx AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || s1)) AS mh
       FROM (SELECT doc_id, unnest(sh) AS s1 FROM sh), generate_series(0, 15) g(j)
       GROUP BY doc_id, j),
bands AS (SELECT doc_id, j // 2 AS band, string_agg(mh, '|' ORDER BY j) AS sig
          FROM hx GROUP BY doc_id, j // 2),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
ver AS (SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
        FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b),
dup AS (SELECT doc_a, doc_b FROM ver WHERE j >= {MINHASH_TAU}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach(node, lab) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b)
SELECT node AS doc_id, min(lab) AS cluster_rep FROM reach GROUP BY node
"""


def q_dedup_apply(spark, sf_dir):
    """End-to-end dedup composition: corpus -> minhash-LSH pairs ->
    connected components -> FINAL corpus keeping only component
    representatives (one anti join). The count drop is exactly the
    non-representative cluster membership."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(
        docs, n=3, bands=8, rows=2, verify_threshold=MINHASH_TAU
    )
    kept = D.apply_dedup(docs, D.dedup_clusters(pairs))
    return kept.select("doc_id", "lang")


SQL_DEDUP_APPLY = (
    "WITH RECURSIVE"
    + SQL_DEDUP_CLUSTERS.split("WITH RECURSIVE", 1)[1].rsplit("SELECT node", 1)[0]
    + """,
drops AS (SELECT node AS doc_id FROM reach GROUP BY node
          HAVING node <> min(lab))
SELECT d.doc_id, d.lang FROM documents d
LEFT JOIN drops USING (doc_id) WHERE drops.doc_id IS NULL
"""
)


def q_dedup_embedding_cosine(spark, sf_dir):
    vecs = _normalized_vectors(spark, sf_dir)
    pairs = D.embedding_cosine_pairs(vecs, threshold=COSINE_TAU)
    return pairs.select("vec_a", "vec_b", r4(F.col("cosine"), "cosine"))


SQL_DEDUP_COSINE = f"""
WITH {NORM_EMB_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(list_dot_product(a.v, b.v)*10000 + 0.5)/10000 AS cosine
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) >= {COSINE_TAU}
"""


# ------------------------------------------------------------------ #
# Similarity search
# ------------------------------------------------------------------ #
def q_ann_topk(spark, sf_dir):
    vecs = _normalized_vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_NQ)
    topk = S.brute_force_topk(queries, vecs, k=ANN_K)
    return topk.select(
        "qid", F.col("rank").cast("long").alias("rank"), "nid", r4(F.col("dist"), "dist")
    )


SQL_ANN_TOPK = f"""
WITH {NORM_EMB_SQL},
q AS (SELECT vec_id AS qid, v AS qv FROM nv WHERE vec_id < {ANN_NQ}),
d AS (SELECT q.qid, c.vec_id AS nid,
             greatest(0.0, least(2.0, 1.0 - list_dot_product(q.qv, c.v))) AS dist
      FROM q JOIN nv c ON c.vec_id <> q.qid),
r AS (SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank FROM d)
SELECT qid, rank, nid, floor(dist*10000 + 0.5)/10000 AS dist FROM r WHERE rank <= {ANN_K}
"""


def _pq_books():
    import numpy as np

    from cordon_spark.pq_codebooks_sf001 import PQ_CODEBOOKS_SF001

    # rows are [*codeword, half_cc]: Spark scores with the same baked
    # half_cc column SQL_PQ_ANN reads
    return np.asarray(PQ_CODEBOOKS_SF001, dtype=np.float64)


def q_pq_ann(spark, sf_dir):
    """Product-quantization ANN (asymmetric distance): candidates are
    encoded to m=8 codes against the BAKED sf0.01 codebooks
    (scripts/gen_pq_codebooks.py — the build-once/serve-many shape a
    real PQ index has; a test asserts baked == fresh deterministic
    fit), decoded + renormalized as zero-shuffle literal projections,
    then ranked by the same brute top-k as the exact path. The oracle
    replays encode/decode/rank in SQL from the same baked constants."""
    vecs = _normalized_vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_NQ)
    out = S.pq_ann(queries, vecs, _pq_books(), k=ANN_K)
    return out.select(
        "qid", F.col("rank").cast("long").alias("rank"), "nid",
        r4l(F.col("dist"), "dist_e4"),
    )


def _pq_cb_values() -> str:
    from cordon_spark.pq_codebooks_sf001 import PQ_CODEBOOKS_SF001

    rows = []
    for j, sub in enumerate(PQ_CODEBOOKS_SF001):
        for c, row in enumerate(sub):
            vec = ", ".join(repr(x) for x in row[:-1])
            rows.append(f"({j}, {c}, [{vec}], {row[-1]!r})")
    return ",\n  ".join(rows)


def _sql_pq_ann() -> str:
    return f"""
WITH {NORM_EMB_SQL},
cb(sub, code, vec, half_cc) AS (VALUES
  {_pq_cb_values()}),
sc AS (SELECT n.vec_id, cb.sub, cb.code,
              list_dot_product(n.v[cb.sub*8+1 : cb.sub*8+8], cb.vec) - cb.half_cc AS score
       FROM nv n CROSS JOIN cb),
pick AS (SELECT vec_id, sub, code,
                row_number() OVER (PARTITION BY vec_id, sub ORDER BY score DESC, code) AS rn
         FROM sc),
dec0 AS (SELECT p.vec_id, p.sub, cb.vec
         FROM pick p JOIN cb ON cb.sub = p.sub AND cb.code = p.code WHERE p.rn = 1),
dec AS (SELECT vec_id, flatten(list(vec ORDER BY sub)) AS dv FROM dec0 GROUP BY vec_id),
dn AS (SELECT vec_id, sqrt(list_dot_product(dv, dv)) AS nn, dv FROM dec),
dvn AS (SELECT vec_id, CASE WHEN nn > 0 THEN list_transform(dv, x -> x / nn) ELSE dv END AS dv FROM dn),
q AS (SELECT vec_id AS qid, v AS qv FROM nv WHERE vec_id < {ANN_NQ}),
d AS (SELECT q.qid, c.vec_id AS nid,
             greatest(0.0, least(2.0, 1.0 - list_dot_product(q.qv, c.dv))) AS dist
      FROM q JOIN dvn c ON c.vec_id <> q.qid),
r AS (SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank FROM d)
SELECT qid, rank, nid, floor(dist*10000 + 0.5)::BIGINT AS dist_e4 FROM r WHERE rank <= {ANN_K}
"""


# ------------------------------------------------------------------ #
# Text analysis
# ------------------------------------------------------------------ #
def q_token_count(spark, sf_dir):
    return TX.token_count_cols(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_alnum_tokens", "n_chars"
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '{_WS_RE2}+'), x -> x <> '')) AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_alnum_tokens,
       length(text) AS n_chars
FROM documents
"""

_STOP_SQL = "['" + "','".join(TX.EN_STOPWORDS) + "']"


def q_lang_id(spark, sf_dir):
    return TX.lang_id_cols(_docs(spark, sf_dir)).select(
        "doc_id", "pred_lang", "en_hits_distinct"
    )


SQL_LANG_ID = f"""
WITH {_TOKS_SQL},
h AS (SELECT doc_id, len(list_intersect(toks, {_STOP_SQL}))::BIGINT AS en_hits_distinct,
             len(toks) AS n FROM tk)
SELECT doc_id,
       CASE WHEN en_hits_distinct / greatest(n::DOUBLE, 1.0) >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
       en_hits_distinct
FROM h
"""


def q_quality_score(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", r4(TX.quality_score_col(), "quality"))


SQL_QUALITY_SCORE = f"""
WITH {_TOKS_SQL},
q AS (SELECT doc_id,
        0.4 * least(1.0, len(toks) / 100.0)
      + 0.3 * (len(list_distinct(toks)) / greatest(len(toks)::DOUBLE, 1.0))
      + 0.3 * (len(list_intersect(list_distinct(toks), {_STOP_SQL})) / {float(len(TX.EN_STOPWORDS))}) AS quality
      FROM tk)
SELECT doc_id, floor(quality*10000 + 0.5)/10000 AS quality FROM q
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return TX.with_fingerprint(docs, n=5).select("doc_id", "fingerprint")


SQL_DOC_FINGERPRINT = f"""
WITH {_TOKS_SQL},
sh AS (SELECT doc_id, CASE WHEN len(toks) >= 5
         THEN list_transform(generate_series(1, len(toks) - 4),
                             i -> array_to_string(toks[i:i+4], ' '))
         ELSE [array_to_string(toks, ' ')] END AS shingles FROM tk)
SELECT doc_id, min(md5(s1)) AS fingerprint
FROM (SELECT doc_id, unnest(shingles) AS s1 FROM sh) GROUP BY doc_id
"""


# ------------------------------------------------------------------ #
# Multimodal metadata (binary plumbing; decode stays stubbed)
# ------------------------------------------------------------------ #
def q_multimodal_meta(spark, sf_dir):
    from cordon_spark.operators.multimodal import binary_metadata

    docs = _docs(spark, sf_dir).withColumn("payload", F.encode("text", "UTF-8"))
    return binary_metadata(docs).select("doc_id", "n_bytes", "content_md5")


SQL_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
FROM documents
"""


# ------------------------------------------------------------------ #
# OP-13: eval-harness metrics over the pipeline's flagged blocks
# (ground truth: deterministic label lang == 'zh' on the doc table)
# ------------------------------------------------------------------ #
def q_eval_turn_metrics(spark, sf_dir):
    import math

    from cordon_spark.plans.evaluate import turn_level_metrics

    _, blocks = _vec_pipeline(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    labeled = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            F.concat(
                F.lit("c"), F.floor(F.col("doc_id") / 50).cast("long").cast("string")
            ).alias("conv_id"),
            (F.col("doc_id") % 50).alias("turn_idx"),
            (F.col("lang") == "zh").alias("is_anomaly"),
        )
    )
    m = turn_level_metrics(labeled, blocks)

    def r4f(x):
        return math.floor(x * 10000 + 0.5) / 10000

    row = [
        (
            int(m["tp"]), int(m["fp"]), int(m["fn"]),
            r4f(m["precision"]), r4f(m["recall"]), r4f(m["f1"]),
        )
    ]
    return spark.createDataFrame(
        row, "tp long, fp long, fn long, precision double, recall double, f1 double"
    )


SQL_EVAL_TURN_METRICS = f"""
WITH {PIPE_SQL},
lab AS (SELECT 'c' || CAST(d.doc_id // 50 AS VARCHAR) AS conv_id, d.doc_id % 50 AS turn_idx,
               (d.lang = 'zh') AS is_anomaly
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
fl AS (SELECT l.is_anomaly, (b.conv_id IS NOT NULL) AS flagged
       FROM lab l LEFT JOIN blocks b
         ON b.conv_id = l.conv_id AND l.turn_idx BETWEEN b.start_idx AND b.end_idx),
agg AS (SELECT
          sum(CASE WHEN flagged AND is_anomaly THEN 1 ELSE 0 END)::BIGINT AS tp,
          sum(CASE WHEN flagged AND NOT is_anomaly THEN 1 ELSE 0 END)::BIGINT AS fp,
          sum(CASE WHEN NOT flagged AND is_anomaly THEN 1 ELSE 0 END)::BIGINT AS fn
        FROM fl),
pr AS (SELECT tp, fp, fn,
              CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp / (tp + fp)::DOUBLE END AS p,
              CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp / (tp + fn)::DOUBLE END AS r
       FROM agg)
SELECT tp, fp, fn,
       floor(p*10000 + 0.5)/10000 AS precision,
       floor(r*10000 + 0.5)/10000 AS recall,
       floor((CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END)*10000 + 0.5)/10000 AS f1
FROM pr
"""


# ------------------------------------------------------------------ #
# Event-stream operators (sessionize / top-k / rollup / prop parse)
# ------------------------------------------------------------------ #
def q_sessionize(spark, sf_dir):
    from cordon_spark.operators.events import sessionize

    out = sessionize(_events(spark, sf_dir))
    # session_id is cast DOUBLE to close the one cross-engine TYPE gap
    # in the whole contract: SQL_SESSIONIZE's session_id is a windowed
    # sum(CASE...) — a DuckDB HUGEINT, the only non-BIGINT integer any
    # oracle emits — and DuckDB's pandas materialization (`rel.df()`)
    # renders HUGEINT as float64 ("1.0") while Spark's long renders
    # "1". Under a pandas-rendered value hash that is a rows-match/
    # schema-match/hash-MISMATCH signature even though a fetchall-based
    # comparison sees identical rows. With the cast both engines
    # materialize float64 1.0; under any string/typed rendering the
    # cell is no worse than before. Values are tiny session ordinals —
    # exact in float64.
    return out.select(
        "user_id", F.col("session_id").cast("double").alias("session_id"),
        "n_events", "start_us", "end_us",
        r4l_dec(F.col("value_sum"), "value_sum_e4"),
    ).orderBy("user_id", "session_id")


SQL_SESSIONIZE = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
s AS (SELECT *, sum(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM l)
SELECT user_id, session_id, count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
       floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_sessionize_chunked(spark, sf_dir):
    """Skew-hardened two-phase sessionize: the ORACLE is the plain
    sessionize SQL — the scale-hardened plan must hash-match the
    straightforward spelling exactly."""
    from cordon_spark.operators.events import sessionize_chunked

    out = sessionize_chunked(_events(spark, sf_dir))
    # session_id cast double for the same HUGEINT-vs-long pandas
    # rendering gap documented in q_sessionize (shared oracle).
    return out.select(
        "user_id", F.col("session_id").cast("double").alias("session_id"),
        "n_events", "start_us", "end_us",
        r4l_dec(F.col("value_sum"), "value_sum_e4"),
    ).orderBy("user_id", "session_id")


def q_topk_per_group(spark, sf_dir):
    from cordon_spark.operators.events import topk_per_group

    return topk_per_group(_events(spark, sf_dir), k=3)


SQL_TOPK_PER_GROUP = """
WITH r AS (SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank
           FROM events)
SELECT event_type, rank, event_id, value FROM r WHERE rank <= 3
"""


def q_time_window_rollup(spark, sf_dir):
    from cordon_spark.operators.events import time_window_rollup

    out = time_window_rollup(_events(spark, sf_dir))
    return out.select("window_id", "event_type", "n", r4l_dec(F.col("value_sum"), "value_sum_e4"))


SQL_TIME_WINDOW_ROLLUP = """
SELECT epoch_us(ts) // 3600000000 AS window_id, event_type,
       count(*) AS n, floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM events GROUP BY 1, 2
"""


def q_parse_props(spark, sf_dir):
    from cordon_spark.operators.events import parse_props

    out = parse_props(_events(spark, sf_dir))
    return (
        out.groupBy("prop_k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_PARSE_PROPS = """
SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS prop_k, count(*) AS n
FROM events GROUP BY 1
"""


# ------------------------------------------------------------------ #
# Non-SQL-expressible extras (driver records rows-only checks)
# ------------------------------------------------------------------ #
def q_pipeline_text_blocks(spark, sf_dir):
    """Full pipeline with the hash-embedding backend over derived
    transcripts (text -> embed -> score -> threshold -> merge); the
    hash embedding is md5-based, so the ENTIRE text pipeline has an
    exact DuckDB oracle (SQL_PIPELINE_TEXT_BLOCKS) in addition to the
    numpy-oracle parity in pytest."""
    from cordon_spark.plans.pipeline import analyze_transcripts

    t = derived_transcripts(spark, sf_dir)
    res = analyze_transcripts(spark, t, AnalysisConfig())
    out = res.blocks.select(
        "conv_id",
        "start_idx",
        "end_idx",
        F.size("original_windows").cast("long").alias("n_windows"),
        r4(F.col("max_score"), "max_score"),
    )
    # the few block rows as a local relation: no pipeline cache outlives the query
    try:
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        res.unpersist()


EMB_DIM = 64

# The hash-embedding backend in SQL: token -> (bucket, sign) from md5
# hex (identical ints: DuckDB ('0x'||hex)::UBIGINT == Python
# int(hex, 16)), sparse signed counts -> dense 64-dim vector via a map
# lookup, L2 normalize. Signed counts are +/-1 integers, exact in
# float64 on both engines regardless of accumulation order.
SQL_PIPELINE_TEXT_BLOCKS = f"""
WITH t AS (SELECT 'c' || CAST(doc_id // 50 AS VARCHAR) AS conv_id, doc_id % 50 AS turn_idx,
                  {_RTRIM} AS stx FROM documents),
w AS (SELECT conv_id, turn_idx // {WS} AS window_id, min(turn_idx) AS start_idx,
             max(turn_idx) AS end_idx,
             string_agg(stx, chr(10) ORDER BY turn_idx) AS content
      FROM t GROUP BY 1, 2),
tok AS (SELECT conv_id, window_id,
               unnest(list_filter(regexp_split_to_array(lower(content), '{_WS_RE2}+'), x -> x <> '')) AS tok
        FROM w),
feat AS (SELECT conv_id, window_id,
                (('0x' || substr(md5(tok), 1, 8))::UBIGINT % {EMB_DIM})::INTEGER AS bucket,
                CASE WHEN ('0x' || substr(md5(tok), 9, 1))::UBIGINT % 2 = 0
                     THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sgn
         FROM tok),
sparse AS (SELECT conv_id, window_id, bucket, sum(sgn) AS val FROM feat GROUP BY 1, 2, 3),
vecm AS (SELECT conv_id, window_id,
                map_from_entries(list(struct_pack(k := bucket, v := val))) AS m
         FROM sparse GROUP BY 1, 2),
vec0 AS (SELECT w.conv_id, w.window_id, w.start_idx, w.end_idx,
                list_transform(generate_series(0, {EMB_DIM - 1}),
                               d -> coalesce(vecm.m[d::INTEGER][1], 0.0)) AS v0
         FROM w LEFT JOIN vecm USING (conv_id, window_id)),
nrm0 AS (SELECT *, sqrt(list_dot_product(v0, v0)) AS nn FROM vec0),
wvt AS (SELECT conv_id, window_id, start_idx, end_idx,
              CASE WHEN nn > 0 THEN list_transform(v0, x -> x / nn) ELSE v0 END AS v
       FROM nrm0),
wd AS (SELECT a.conv_id AS qc, a.window_id AS qw, b.conv_id AS nc, b.window_id AS nw,
              greatest(0.0, least(2.0, 1.0 - list_dot_product(a.v, b.v))) AS dist
       FROM wvt a JOIN wvt b ON NOT (a.conv_id = b.conv_id AND a.window_id = b.window_id)),
wr AS (SELECT qc, qw, dist, row_number() OVER (PARTITION BY qc, qw ORDER BY dist, nc, nw) AS rn FROM wd),
wsc AS (SELECT qc AS conv_id, qw AS window_id, avg(dist) AS score FROM wr WHERE rn <= {K} GROUP BY 1, 2),
scored AS (SELECT w.conv_id, w.window_id, w.start_idx, w.end_idx, wsc.score
           FROM w JOIN wsc USING (conv_id, window_id)),
thr AS (SELECT quantile_cont(score, {1 - P}) AS t FROM scored),
sel AS (SELECT s.* FROM scored s, thr WHERE s.score >= thr.t),
{_MERGE_TAIL}
SELECT conv_id, start_idx, end_idx, n_windows,
       floor(max_score*10000 + 0.5)/10000 AS max_score FROM blocks
"""


def q_ann_lsh(spark, sf_dir):
    vecs = _normalized_vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_NQ)
    out = S.lsh_ann(queries, vecs, k=ANN_K, n_planes=8)
    return out.select(
        "qid", F.col("rank").cast("long").alias("rank"), "nid", r4(F.col("dist"), "dist")
    )



def q_ivf_ann(spark, sf_dir):
    """IVF approximate top-k (the brief's 'IVF variant as the scale
    path'): deterministic k-means inverted lists + n_probe nearest
    clusters per query. Hash-checked END TO END: the Lloyd fit is
    bit-reproducible (md5-seeded init, fixed iters — verified identical
    across local[8]/local[32] and processes), so the per-scale centroid
    sets are baked as literals into the DuckDB oracle
    (scripts/gen_ivf_centroids.py; sf0.001/sf0.01/sf0.1 keyed by the
    exact float64 of embedding[0] at vec_id=0, an exact FLOAT->DOUBLE
    widening both engines share) and the assignment / probe-list /
    top-k all replay exactly in SQL downstream of the fit — the one
    static oracle string is valid at every baked scale. If the fit ever
    drifted, the driver's hash gate would catch it. Recall vs brute
    force + full-probe==exact are additionally asserted in
    tests/test_similarity.py."""
    vecs = _normalized_vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < ANN_NQ)
    out = S.ivf_ann(queries, vecs, k=ANN_K, n_clusters=16, n_probe=2, iters=3)
    return out.select(
        "qid", F.col("rank").cast("long").alias("rank"), "nid",
        r4l(F.col("dist"), "dist_e4"),
    )


def _ivf_cen_values() -> str:
    """(key, cluster, vec) literal rows for the scale-aware ivf_ann
    oracle — every baked scale's set, keyed by its e0 discriminant."""
    from cordon_spark.ivf_centroids import IVF_CENTROIDS_BY_E0

    return ",\n  ".join(
        f"({e0!r}::DOUBLE, {c}, [{', '.join(repr(x) for x in row)}])"
        for e0, rows in IVF_CENTROIDS_BY_E0.items()
        for c, row in enumerate(rows)
    )


def _sf001_cen_values() -> str:
    """(cluster, vec) literal rows of the FIXED sf0.01 quantizer — the
    build-once/serve-many centroid set q_semdedup uses at any scale."""
    from cordon_spark.ivf_centroids_sf001 import IVF_CENTROIDS_SF001

    return ",\n  ".join(
        f"({c}, [{', '.join(repr(x) for x in row)}])"
        for c, row in enumerate(IVF_CENTROIDS_SF001)
    )


# ivf_ann in SQL, downstream of the deterministic fit: per-scale
# centroid literals (selected by joining on the exact float64 of
# embedding[0] at vec_id=0 — FLOAT->DOUBLE widening is exact, so
# equality is safe) -> argmax assignment (ties to the lowest cluster,
# matching Spark's array_position-of-max) -> per-query top-n_probe
# clusters (dot desc, cluster asc — matching the Spark struct sort on
# (-dot, c)) -> candidate join -> exact cosine top-k. Valid at every
# baked scale (sf0.001 / sf0.01 / sf0.1).
SQL_IVF_ANN = f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nn, v0 FROM e0),
nv AS (SELECT vec_id, CASE WHEN nn > 0 THEN list_transform(v0, x -> x / nn) ELSE v0 END AS v FROM nr),
disc AS (SELECT (embedding::DOUBLE[])[1] AS key FROM embeddings WHERE vec_id = 0),
cen_all(key, cluster, w) AS (VALUES
  {{cen_values}}),
cen AS (SELECT cluster, w FROM cen_all JOIN disc USING (key)),
ad AS (SELECT nv.vec_id, cen.cluster, list_dot_product(nv.v, cen.w) AS dot FROM nv, cen),
ar AS (SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rn
       FROM ad),
asg AS (SELECT vec_id AS nid, cluster FROM ar WHERE rn = 1),
qpr AS (SELECT vec_id AS qid, cluster FROM ar WHERE rn <= 2 AND vec_id < {ANN_NQ}),
cand AS (SELECT DISTINCT q.qid, a.nid FROM qpr q JOIN asg a USING (cluster) WHERE a.nid <> q.qid),
dist AS (SELECT cand.qid, cand.nid,
                greatest(0.0, least(2.0, 1.0 - list_dot_product(a.v, b.v))) AS dist
         FROM cand JOIN nv a ON a.vec_id = cand.qid JOIN nv b ON b.vec_id = cand.nid),
rk AS (SELECT qid, nid, dist,
              row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank
       FROM dist)
SELECT qid, rank, nid, floor(dist*10000 + 0.5)::BIGINT AS dist_e4 FROM rk WHERE rank <= {ANN_K}
"""


def q_dedup_embedding_lsh(spark, sf_dir):
    """Scale path of dedup_embedding_cosine: LSH-plane bucket ->
    within-bucket cosine verify (hash-checked: the md5-derived planes
    reproduce exactly in SQL; recall vs the exact operator is
    additionally asserted in tests/test_dedup.py)."""
    vecs = _normalized_vectors(spark, sf_dir)
    pairs = D.embedding_lsh_pairs(vecs, threshold=COSINE_TAU, n_planes=8, n_probes=9)
    return pairs.select("vec_a", "vec_b", r4(F.col("cosine"), "cosine"))


# The md5-derived hyperplanes (similarity._hyperplanes) in SQL:
# planes[p][d] = (int(md5(f"lsh|{p}|{d}")[:8],16) / 0xFFFFFFFF)*2 - 1 —
# DuckDB's hex cast and float64 division match Python exactly, so
# bucket bits (and therefore LSH candidates) are engine-identical up to
# a sign flip of a dot product within 1 ulp of 0 (never observed).
LSH_COMMON_SQL = """
pv AS (SELECT p.p, d.d,
              (('0x' || substr(md5('lsh|' || p.p || '|' || d.d), 1, 8))::UBIGINT
               / 4294967295.0) * 2.0 - 1.0 AS val
       FROM generate_series(0, 7) p(p), generate_series(0, 63) d(d)),
pl AS (SELECT p, list(val ORDER BY d) AS pl FROM pv GROUP BY p),
e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nn, v0 FROM e0),
nv AS (SELECT vec_id, CASE WHEN nn > 0 THEN list_transform(v0, x -> x / nn) ELSE v0 END AS v FROM nr),
dots AS (SELECT nv.vec_id, pl.p, list_dot_product(nv.v, pl.pl) AS dot FROM nv, pl),
base AS (SELECT vec_id, sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
         FROM dots GROUP BY vec_id)
"""

SQL_DEDUP_EMBEDDING_LSH = f"""
WITH {LSH_COMMON_SQL.strip()},
probes AS (
  SELECT vec_id, bucket FROM base
  UNION
  SELECT b.vec_id, xor((b.bucket)::UBIGINT, (1::UBIGINT << p.p))::BIGINT AS bucket
  FROM base b, generate_series(0, 7) p(p)),
cand AS (SELECT DISTINCT least(pr.vec_id, bu.vec_id) AS vec_a, greatest(pr.vec_id, bu.vec_id) AS vec_b
         FROM probes pr JOIN base bu ON bu.bucket = pr.bucket AND bu.vec_id <> pr.vec_id),
cosv AS (SELECT cand.vec_a, cand.vec_b, list_dot_product(a.v, b.v) AS cosine
         FROM cand JOIN nv a ON a.vec_id = cand.vec_a JOIN nv b ON b.vec_id = cand.vec_b)
SELECT vec_a, vec_b, floor(cosine*10000 + 0.5)/10000 AS cosine
FROM cosv WHERE cosine >= {COSINE_TAU}
"""


# Multi-probe ANN in SQL (mirrors lsh_ann's default n_probes=3: own
# bucket + bit-flips of the 2 least-confident planes, ordered by
# (|dot|, p) exactly like the Spark array_sort of (abs, p) structs).
SQL_ANN_LSH = f"""
WITH {{lsh_common}},
qsel AS (SELECT vec_id FROM nv WHERE vec_id < {ANN_NQ}),
flip_rank AS (SELECT d.vec_id, d.p,
                     row_number() OVER (PARTITION BY d.vec_id ORDER BY abs(d.dot), d.p) AS rn
              FROM dots d JOIN qsel USING (vec_id)),
qprobes AS (
  SELECT b.vec_id AS qid, b.bucket FROM base b JOIN qsel USING (vec_id)
  UNION
  SELECT f.vec_id AS qid, xor((b.bucket)::UBIGINT, (1::UBIGINT << f.p))::BIGINT AS bucket
  FROM flip_rank f JOIN base b ON b.vec_id = f.vec_id WHERE f.rn <= 2),
cand AS (SELECT DISTINCT q.qid, c.vec_id AS nid
         FROM qprobes q JOIN base c ON c.bucket = q.bucket AND c.vec_id <> q.qid),
dist AS (SELECT cand.qid, cand.nid,
                greatest(0.0, least(2.0, 1.0 - list_dot_product(a.v, b.v))) AS dist
         FROM cand JOIN nv a ON a.vec_id = cand.qid JOIN nv b ON b.vec_id = cand.nid),
rk AS (SELECT qid, nid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rank FROM dist)
SELECT qid, rank, nid, floor(dist*10000 + 0.5)/10000 AS dist FROM rk WHERE rank <= {ANN_K}
""".replace("{lsh_common}", LSH_COMMON_SQL.strip())



def q_dedup_simhash(spark, sf_dir):
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=16)


# SimHash in SQL: h(tok) = md5 first 16 hex as UBIGINT (== Python
# int(hex,16)); per-bit +/-1 accumulate, fingerprint bit b set iff
# acc[b] > 0. The Spark side stores fp - 2^63 (signed long), i.e. the
# same bit pattern with bit 63 flipped on EVERY doc — band equality and
# xor-hamming are invariant to a uniform flip, so the oracle works on
# the raw unsigned fingerprint.
SQL_DEDUP_SIMHASH = f"""
WITH {_TOKS_SQL},
tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tok),
bits AS (SELECT doc_id, g.b, sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM hv, generate_series(0, 63) g(b) GROUP BY 1, 2),
fp0 AS (SELECT doc_id, sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS fph
        FROM bits GROUP BY doc_id),
fp AS (SELECT d.doc_id, coalesce(fp0.fph, 0)::UBIGINT AS fp
       FROM documents d LEFT JOIN fp0 USING (doc_id)),
banded AS (SELECT doc_id, fp, g.b AS band, (fp >> (g.b * 16)) & 65535 AS key
           FROM fp, generate_series(0, 3) g(b)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp AS fp_a, b.fp AS fp_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b))::INTEGER AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 16
"""


# Messy-text injection for the normalization query: NFD-decomposed
# accent + BEL control + tab + double space, keyed to every doc. Both
# engines receive the identical raw Python string.
_MESSY_SUFFIX = " Cafe\u0301\t\x07  fin"  # NFD accent + BEL + tab + doubled space


def q_normalize_text(spark, sf_dir):
    """Unicode NFC + control-strip + whitespace-collapse normalization
    over documents with injected messy text (the corpus itself is
    clean ASCII). Python unicodedata and DuckDB nfc_normalize share the
    UCD tables, so the oracle is exact."""
    from cordon_spark.functions.text import normalize_text_cols

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), F.lit(_MESSY_SUFFIX))
    )
    out = normalize_text_cols(docs)
    return out.select(
        "doc_id",
        F.length("norm_text").cast("long").alias("n_chars_norm"),
        F.md5("norm_text").alias("norm_md5"),
    )


SQL_NORMALIZE_TEXT = f"""
WITH m AS (SELECT doc_id, coalesce(text, '') || '{_MESSY_SUFFIX}' AS t FROM documents),
n AS (SELECT doc_id,
             trim(regexp_replace(
                 regexp_replace(nfc_normalize(t),
                                '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{{0080}}-\\x{{009F}}]',
                                '', 'g'),
                 '{_WS_RE2}+', ' ', 'g')) AS norm
      FROM m)
SELECT doc_id, length(norm)::BIGINT AS n_chars_norm, md5(norm) AS norm_md5 FROM n
"""


def q_hopping_rollup(spark, sf_dir):
    """Hopping-window rollup (1h window, 15m hop): every event in 4
    overlapping windows via Spark's native window(); value sums as
    scaled longs."""
    from cordon_spark.operators.events import hopping_window_rollup

    out = hopping_window_rollup(_events(spark, sf_dir))
    return out.select(
        "window_start_us", "event_type", "n", r4l_dec(F.col("value_sum"), "value_sum_e4")
    )


# Window-start formula mirrors Spark's TimeWindow expression: candidate
# starts are (floor(us/hop) - i) * hop for i in 0..(w/hop - 1), kept
# when the event falls inside [start, start + w).
SQL_HOPPING_ROLLUP = """
WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
x AS (SELECT ((us // 900000000) - g.i) * 900000000 AS window_start_us, event_type, value, us
      FROM e, generate_series(0, 3) g(i))
SELECT window_start_us, event_type, count(*) AS n,
       floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM x WHERE us >= window_start_us AND us < window_start_us + 3600000000
GROUP BY 1, 2
"""


def q_quantize_embeddings(spark, sf_dir):
    """int8 embedding quantization (the 4-8x storage path for 100 TB
    embedding corpora): per-vector scale + comma-joined int codes so
    the comparator sees scalars, not list types."""
    vecs = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("v"))
    out = S.quantize_embeddings(vecs)
    return out.select(
        "vec_id",
        r4l(F.col("q_scale") * 1000, "scale_e7"),  # scale ~1e-2: keep 7 digits
        F.concat_ws(",", F.col("qv").cast("array<string>")).alias("q_str"),
    )


SQL_QUANTIZE_EMBEDDINGS = """
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e0),
q AS (SELECT vec_id, scale,
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> (floor(x / scale + 0.5))::BIGINT)
                  ELSE list_transform(v, x -> 0::BIGINT) END AS qv
      FROM s)
SELECT vec_id, floor(scale*1000*10000 + 0.5)::BIGINT AS scale_e7,
       array_to_string(qv, ',') AS q_str
FROM q
"""


def q_repetition_quality(spark, sf_dir):
    """Gopher/C4-style repetition filters: duplicate-line fraction,
    most-common-2-gram token coverage, duplicate-3-gram fraction —
    per-row JVM array math, no shuffle (the oracle recomputes the
    same statistics relationally)."""
    from cordon_spark.functions.text import repetition_cols

    out = repetition_cols(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        r4(F.col("dup_line_frac"), "dup_line_frac"),
        r4(F.col("top_2gram_frac"), "top_2gram_frac"),
        r4(F.col("dup_3gram_frac"), "dup_3gram_frac"),
    )


SQL_REPETITION_QUALITY = f"""
WITH {_TOKS_SQL.strip()},
ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
       FROM documents),
g2e AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(generate_series(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+1], ' '))
          ELSE []::VARCHAR[] END) AS g FROM tk),
g2c AS (SELECT doc_id, max(c) AS best
        FROM (SELECT doc_id, g, count(*) AS c FROM g2e GROUP BY 1, 2) GROUP BY doc_id),
g3 AS (SELECT doc_id, CASE WHEN len(toks) >= 3
         THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> array_to_string(toks[i:i+2], ' '))
         ELSE []::VARCHAR[] END AS g FROM tk)
SELECT d.doc_id,
  floor((CASE WHEN len(ln.lines) > 0
              THEN 1.0 - len(list_distinct(ln.lines)) / len(ln.lines)
              ELSE 0.0 END)*10000 + 0.5)/10000 AS dup_line_frac,
  floor((CASE WHEN len(tk.toks) >= 2
              THEN least(1.0, g2c.best * 2.0 / len(tk.toks))
              ELSE 0.0 END)*10000 + 0.5)/10000 AS top_2gram_frac,
  floor((CASE WHEN len(g3.g) > 0
              THEN 1.0 - len(list_distinct(g3.g)) / len(g3.g)
              ELSE 0.0 END)*10000 + 0.5)/10000 AS dup_3gram_frac
FROM documents d
JOIN tk USING (doc_id) JOIN ln USING (doc_id) JOIN g3 USING (doc_id)
LEFT JOIN g2c USING (doc_id)
"""


def q_asof_join(spark, sf_dir):
    """AS-OF join (the brief's named custom operator): each click event
    picks the latest prior-or-simultaneous purchase value of the same
    user. Right side deduped to one row per (user, ts) (max value) so
    the match is well-defined on both engines."""
    from cordon_spark.operators.events import asof_join

    from cordon_spark.operators.events import wall_micros

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", wall_micros(ev, "ts").alias("us")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", wall_micros(ev, "ts").alias("us"), "value")
        .groupBy("user_id", "us")
        .agg(F.max("value").alias("pv"))
    )
    out = asof_join(clicks, purchases, key_col="user_id", ts_col="us", value_cols=("pv",))
    return out.select("event_id", "user_id", "us", r4(F.col("asof_pv"), "asof_pv"))


SQL_ASOF_JOIN = """
WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, epoch_us(ts) AS us, max(value) AS pv
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id, c.us, floor(p.pv*10000 + 0.5)/10000 AS asof_pv
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.us >= p.us
"""


def q_rollup_hierarchy(spark, sf_dir):
    """Hypertable-style hierarchical rollup: (day, event_type) -> (day)
    -> grand total in one Expand + hash-agg pass; grouping_id marks the
    level. Value sums decimal-exact and emitted as scaled longs."""
    from cordon_spark.operators.events import hierarchical_rollup

    out = hierarchical_rollup(_events(spark, sf_dir))
    return out.select(
        "bucket", "event_type", "gid", "n", r4l_dec(F.col("value_sum"), "value_sum_e4")
    )


SQL_ROLLUP_HIERARCHY = """
SELECT epoch_us(ts) // 86400000000 AS bucket, event_type,
       grouping_id(epoch_us(ts) // 86400000000, event_type)::BIGINT AS gid,
       count(*) AS n,
       floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM events GROUP BY ROLLUP(1, 2)
"""


# ------------------------------------------------------------------ #
# Training-data curation suite (operators/curation.py)
# ------------------------------------------------------------------ #
def _pii_docs(spark, sf_dir):
    """documents + deterministically injected PII (the synthetic corpus
    has none): emails / IPs / phone runs keyed off doc_id so both
    engines derive the identical table."""
    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    # NULL-text rows inject over '' on BOTH engines (concat over NULL
    # would yield NULL on Spark but '' || inject in the coalesced SQL)
    base = F.coalesce(F.col("text"), F.lit(""))
    inject = (
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        )
        .when(
            did % 3 == 1,
            F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")),
        )
        .otherwise(
            F.concat(F.lit(" call 555 123 "), (F.lit(1000) + did % 9000).cast("string"))
        )
    )
    return d.withColumn("text", F.concat(base, inject))


_PII_DOC_SQL = """
pii AS (SELECT doc_id,
               coalesce(text, '') || CASE WHEN doc_id % 3 = 0
                            THEN ' contact user' || doc_id || '@example.com'
                            WHEN doc_id % 3 = 1
                            THEN ' from 10.0.' || (doc_id % 256) || '.7'
                            ELSE ' call 555 123 ' || (1000 + doc_id % 9000) END AS text
        FROM documents)
"""


def q_pii_scrub(spark, sf_dir):
    """Regex-tier PII redaction counts + redacted-text md5 (the
    patterns are chosen to behave identically under Java regex and
    RE2 — verified on adversarial fixtures in tests/test_curation)."""
    out = C.pii_scrub(_pii_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("clean_text").alias("clean_md5"),
    )


SQL_PII_SCRUB = f"""
WITH {_PII_DOC_SQL.strip()},
s1 AS (SELECT doc_id, len(regexp_extract_all(text, '{C.EMAIL_RE}'))::BIGINT AS n_emails,
              regexp_replace(text, '{C.EMAIL_RE}', '<EMAIL>', 'g') AS s FROM pii),
s2 AS (SELECT doc_id, n_emails, len(regexp_extract_all(s, '{C.IPV4_RE}'))::BIGINT AS n_ips,
              regexp_replace(s, '{C.IPV4_RE}', '<IP>', 'g') AS s FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
              len(regexp_extract_all(s, '{C.PHONE_RE}'))::BIGINT AS n_phones,
              regexp_replace(s, '{C.PHONE_RE}', '<PHONE>', 'g') AS s FROM s2)
SELECT doc_id, n_emails, n_ips, n_phones, md5(s) AS clean_md5 FROM s3
"""


# Shared by SQL_DECONTAMINATE and SQL_CONTAMINATION_SCORE: distinct
# 3-grams per doc + the held-out benchmark gram set (doc_id % 11).
_GRAMS3_SQL = """g AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) >= 3
         THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                           i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END) AS gram FROM tk),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 11 = 0)"""


def q_decontaminate(spark, sf_dir):
    """n-gram-overlap decontamination of the corpus against a held-out
    'benchmark' subset (doc_id % 11 == 0), n=3 to match the corpus's
    short synthetic texts."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    out = C.decontaminate(docs, bench, n=3)
    return out.select("doc_id", "n_contaminated", "contaminated")


SQL_DECONTAMINATE = f"""
WITH {_TOKS_SQL.strip()},
{_GRAMS3_SQL},
hits AS (SELECT g.doc_id, count(*) AS n FROM g JOIN bg USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_contaminated,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def q_contamination_score(spark, sf_dir):
    """Graded contamination fraction vs the same held-out benchmark
    subset (doc_id % 11 == 0) as q_decontaminate, n=3."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    return C.contamination_score(docs, bench, n=3)


SQL_CONTAMINATION_SCORE = f"""
WITH {_TOKS_SQL.strip()},
{_GRAMS3_SQL},
per AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
               count(bg.gram)::BIGINT AS n_shared
        FROM g LEFT JOIN bg USING (gram) GROUP BY g.doc_id)
SELECT d.doc_id,
       coalesce(p.n_grams, 0)::BIGINT AS n_grams,
       coalesce(p.n_shared, 0)::BIGINT AS n_shared,
       CASE WHEN p.n_grams IS NULL OR p.n_grams = 0 THEN 0
            ELSE floor((p.n_shared::DOUBLE / p.n_grams::DOUBLE) * 10000 + 0.5)
       END::BIGINT AS score_e4
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
"""


STRAT_FRACTIONS = {"en": 0.5, "de": 0.3, "zh": 0.1}


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling: membership is a pure
    function of md5(doc_id|salt), so the sample reproduces across
    engines/partitionings (unlike seeded per-partition RNG)."""
    out = C.stratified_sample(_docs(spark, sf_dir), STRAT_FRACTIONS)
    return out.select("doc_id", "lang")


SQL_STRATIFIED_SAMPLE = """
WITH u AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(doc_id::VARCHAR || '|strat'), 1, 8))::UBIGINT::DOUBLE
                    / 4294967295.0 AS u
           FROM documents)
SELECT doc_id, lang FROM u
WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3 WHEN 'zh' THEN 0.1 ELSE 0.0 END
"""


def q_pack_sequences(spark, sf_dir):
    """Streaming-fill sequence packing per language shard, 500-token
    budget, deterministic doc_id order."""
    from cordon_spark.functions.text import token_count_cols

    docs = token_count_cols(_docs(spark, sf_dir))
    out = C.pack_sequences(docs, max_tokens=500, group_col="lang", order_col="doc_id")
    return out.select("doc_id", "lang", "n_tokens", "pack_offset", "pack_id")


SQL_PACK_SEQUENCES = f"""
WITH {_TOKS_SQL.strip()},
n AS (SELECT d.doc_id, d.lang, len(tk.toks)::BIGINT AS n_tokens
      FROM documents d JOIN tk USING (doc_id)),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM n)
SELECT doc_id, lang, n_tokens, (cum - n_tokens)::BIGINT AS pack_offset,
       floor((cum - n_tokens) / 500)::BIGINT AS pack_id
FROM c
"""


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_split_dataset(spark, sf_dir):
    """Deterministic train/val/test split by cumulative md5-uniform
    intervals — membership is a pure function of doc_id, so adding
    documents later never reassigns existing ones (df.randomSplit
    cannot promise that). Zero-shuffle projection."""
    out = C.split_dataset(_docs(spark, sf_dir), SPLIT_WEIGHTS)
    return out.select("doc_id", "lang", "split")


SQL_SPLIT_DATASET = """
WITH u AS (SELECT doc_id, lang,
                  ('0x' || substr(md5(doc_id::VARCHAR || '|split'), 1, 8))::UBIGINT::DOUBLE
                    / 4294967295.0 AS u
           FROM documents)
SELECT doc_id, lang,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            WHEN u < 1.0 THEN 'test' END AS split
FROM u
"""


def q_token_budget_sample(spark, sf_dir):
    """Token-budget sampling: ~2000 tokens of each language, documents
    ranked by a deterministic md5 priority, kept only while they fit
    entirely. One window cumsum per language shard."""
    from cordon_spark.functions.text import token_count_cols

    docs = token_count_cols(_docs(spark, sf_dir))
    out = C.token_budget_sample(docs, budget=2000, group_col="lang")
    return out.select("doc_id", "lang", "n_tokens")


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH {_TOKS_SQL.strip()},
n AS (SELECT d.doc_id, d.lang, len(tk.toks)::BIGINT AS n_tokens,
             ('0x' || substr(md5(d.doc_id::VARCHAR || '|budget'), 1, 8))::UBIGINT::DOUBLE
               / 4294967295.0 AS u
      FROM documents d JOIN tk USING (doc_id)),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM n)
SELECT doc_id, lang, n_tokens FROM c WHERE cum <= 2000
"""


# ------------------------------------------------------------------ #
# Lexical ranking / retrieval (operators/ranking.py) + entropy filter
# ------------------------------------------------------------------ #
BM25_QUERY = ["spark", "join", "window"]


def q_tfidf_terms(spark, sf_dir):
    """Top-5 TF-IDF terms per document (keyword extraction for
    curation/triage); tfidf exposed as a scaled long."""
    from cordon_spark.operators.ranking import tfidf_top_terms

    out = tfidf_top_terms(_docs(spark, sf_dir), k=5)
    return out.select(
        "doc_id", "rank", "term", r4l(F.col("tfidf"), "tfidf_e4")
    )


SQL_TFIDF_TERMS = f"""
WITH {_TOKS_SQL.strip()},
t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT doc_id, term,
             tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, term) AS rank FROM s)
SELECT doc_id, rank, term, floor(tfidf*10000 + 0.5)::BIGINT AS tfidf_e4
FROM r WHERE rank <= 5
"""


def q_bm25_search(spark, sf_dir):
    """BM25 retrieval scores for a fixed 3-term query over documents;
    the per-term partial scores sum in decimal so the total is
    order-independent (same convention as the event value sums)."""
    from cordon_spark.operators.ranking import bm25_search

    out = bm25_search(_docs(spark, sf_dir), BM25_QUERY)
    return out.select("doc_id", r4l_dec(F.col("score"), "score_e4"))


SQL_BM25_SEARCH = f"""
WITH {_TOKS_SQL.strip()},
tk2 AS (SELECT doc_id, coalesce(toks, []::VARCHAR[]) AS toks FROM tk),
t AS (SELECT doc_id, unnest(toks) AS term FROM tk2),
dl AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM tk2),
st AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tk2),
q(term) AS (VALUES ('spark'), ('join'), ('window')),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t
       WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t
        WHERE term IN (SELECT term FROM q) GROUP BY 1),
s AS (SELECT tf.doc_id,
             ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
      FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN st)
SELECT doc_id,
       floor(sum(s::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0)
             + 0.5::DECIMAL(2,1))::BIGINT AS score_e4
FROM s GROUP BY doc_id
"""


def q_char_entropy(spark, sf_dir):
    """Per-document character-entropy quality signal (bits/char)."""
    from cordon_spark.functions.text import char_entropy_cols

    out = char_entropy_cols(_docs(spark, sf_dir))
    return out.select("doc_id", r4l(F.col("char_entropy"), "entropy_e4"))


SQL_CHAR_ENTROPY = """
WITH c AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '')) AS ch
           FROM documents),
cnt AS (SELECT doc_id, ch, count(*)::DOUBLE AS c FROM c WHERE ch <> ''
        GROUP BY 1, 2),
-- the per-char terms sum in ASCENDING char order, matching the Spark
-- fold's sorted-array order exactly (same float adds, same order)
agg AS (SELECT doc_id, sum(c) AS n, list(c * log2(c) ORDER BY ch) AS terms
        FROM cnt GROUP BY 1),
e AS (SELECT doc_id, log2(n) - list_sum(terms) / n AS h FROM agg)
SELECT d.doc_id,
       floor(coalesce(e.h, 0.0)*10000 + 0.5)::BIGINT AS entropy_e4
FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
"""


def q_curate_corpus(spark, sf_dir):
    """The composed curation pipeline (quality stats -> filter -> PII
    scrub -> exact dedup -> survivors) as one plan; every stage is
    individually oracle-proven, and the composition itself is
    hash-checked here end-to-end."""
    out = C.curate_corpus(_docs(spark, sf_dir), min_tokens=20)
    return out.select(
        "doc_id", "n_copies", "n_tokens",
        r4l(F.col("char_entropy"), "entropy_e4"), "clean_md5",
    )


SQL_CURATE_CORPUS = f"""
WITH {_TOKS_SQL.strip()},
q AS (SELECT d.doc_id, d.text, len(tk.toks)::BIGINT AS n_tokens
      FROM documents d JOIN tk USING (doc_id)),
chx AS (SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '')) AS ch
        FROM documents),
cntx AS (SELECT doc_id, ch, count(*)::DOUBLE AS c FROM chx WHERE ch <> ''
         GROUP BY 1, 2),
agx AS (SELECT doc_id, sum(c) AS n, list(c * log2(c) ORDER BY ch) AS terms
        FROM cntx GROUP BY 1),
ex AS (SELECT doc_id, log2(n) - list_sum(terms) / n AS h FROM agx),
j AS (SELECT q.doc_id, q.text, q.n_tokens, coalesce(ex.h, 0.0) AS h
      FROM q LEFT JOIN ex ON q.doc_id = ex.doc_id),
k AS (SELECT * FROM j WHERE n_tokens >= 20 AND h >= 3.0),
s1 AS (SELECT doc_id, n_tokens, h,
              regexp_replace(coalesce(text, ''), '{{EMAIL}}', '<EMAIL>', 'g') AS s
       FROM k),
s2 AS (SELECT doc_id, n_tokens, h,
              regexp_replace(s, '{{IPV4}}', '<IP>', 'g') AS s FROM s1),
s3 AS (SELECT doc_id, n_tokens, h,
              regexp_replace(s, '{{PHONE}}', '<PHONE>', 'g') AS s FROM s2),
dd AS (SELECT md5(s) AS clean_md5, min(doc_id) AS doc_id,
              count(*)::BIGINT AS n_copies,
              arg_min(n_tokens, doc_id) AS n_tokens,
              arg_min(h, doc_id) AS h
       FROM s3 GROUP BY 1)
SELECT doc_id, n_copies, n_tokens,
       floor(h*10000 + 0.5)::BIGINT AS entropy_e4, clean_md5
FROM dd
""".replace("{EMAIL}", C.EMAIL_RE).replace("{IPV4}", C.IPV4_RE).replace(
    "{PHONE}", C.PHONE_RE
)


# ------------------------------------------------------------------ #
# Star-schema analytics over the TPC-H-ish tables: the general-purpose
# OLAP tier (pricing summary scan-agg; selective 3-table join).
# Decimal sums -> scaled longs, the repo's cross-engine convention.
# ------------------------------------------------------------------ #
def _lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def q_tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: pricing summary report — one scan, one
    map-side-combined hash agg, filter pushed to parquet. The classic
    'is your scan-agg path right' probe."""
    li0 = _lineitem(spark, sf_dir)
    l = li0.filter(F.col("l_shipdate") <= _ts_lit(li0, "l_shipdate", "1998-09-02"))
    # operands cast at their REAL scale (2 dp in this data): every
    # product then fits decimal(38,6) EXACTLY — no rounding, no
    # precision-loss divergence between engines anywhere
    px = F.col("l_extendedprice").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    one = F.lit(1).cast("decimal(2,0)")
    disc_price = px * (one - F.col("l_discount").cast("decimal(8,2)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(8,2)"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            r4l_dec(F.sum(qty), "sum_qty_e4"),
            r4l_dec(F.sum(px), "sum_base_e4"),
            r4l_dec(F.sum(disc_price), "sum_disc_e4"),
            r4l_dec(F.sum(charge), "sum_charge_e4"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_PRICING_SUMMARY = """
WITH l AS (SELECT l_returnflag, l_linestatus,
                  l_quantity::DECIMAL(18,2) AS qty,
                  l_extendedprice::DECIMAL(18,2) AS px,
                  l_extendedprice::DECIMAL(18,2)
                    * (1::DECIMAL(2,0) - l_discount::DECIMAL(8,2)) AS disc_price,
                  l_extendedprice::DECIMAL(18,2)
                    * (1::DECIMAL(2,0) - l_discount::DECIMAL(8,2))
                    * (1::DECIMAL(2,0) + l_tax::DECIMAL(8,2)) AS charge
           FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
SELECT l_returnflag, l_linestatus,
       floor(sum(qty)::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS sum_qty_e4,
       floor(sum(px)::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS sum_base_e4,
       floor(sum(disc_price)::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS sum_disc_e4,
       floor(sum(charge)::DECIMAL(20,6)*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS sum_charge_e4,
       count(*) AS count_order
FROM l GROUP BY 1, 2
"""


def q_tpch_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective customer-segment join — broadcast the
    filtered dimension, shuffle the facts once, top-10 revenue orders.
    The 'is your join path right' probe (dim filter -> broadcast,
    pushdown on both date predicates)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders0 = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = orders0.filter(
        F.col("o_orderdate") < _ts_lit(orders0, "o_orderdate", "1998-03-15")
    )
    li0 = _lineitem(spark, sf_dir)
    li = li0.filter(F.col("l_shipdate") > _ts_lit(li0, "l_shipdate", "1998-03-15"))
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(2,0)") - F.col("l_discount").cast("decimal(8,2)")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    from cordon_spark.operators.events import wall_ntz

    agg = joined.groupBy(
        "l_orderkey",
        # wall-clock date regardless of session TZ / scan timestamp
        # flavor (an LTZ->date cast goes through the session zone)
        wall_ntz(joined, "o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    ).agg(r4l_dec(F.sum(revenue), "revenue_e4"))
    return (
        agg.orderBy(F.col("revenue_e4").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate::DATE AS o_orderdate, o_orderpriority,
       floor(sum(l_extendedprice::DECIMAL(18,2)
                  * (1::DECIMAL(2,0) - l_discount::DECIMAL(8,2)))::DECIMAL(20,6)
             *10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
"""


def q_tpch_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: the deep-join probe — six tables, a two-hop
    broadcast dimension chain (region -> nation -> supplier), and the
    three big tables joined with exactly the shuffles their keys
    force. Join order is chosen for scale, not left to literal SQL
    order:

      orders(date-filtered) JOIN customer   shuffle on custkey
        JOIN lineitem                       shuffle on orderkey
        JOIN broadcast(supplier+nation)     zero-shuffle, carries BOTH
                                            l_suppkey = s_suppkey AND
                                            c_nationkey = s_nationkey
        GROUP BY n_name                     25-row agg, map-side
                                            combined

    Region/nation always broadcast; supplier (SF*10k rows, region-
    filtered to ~1/5 of that) broadcasts far past the scale where
    customer (15x bigger) stops fitting — so customer takes the
    shuffle-join path and the supplier chain rides the broadcast. The
    date filter reaches the orders parquet scan (plan-shape-tested
    with the broadcasts)."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders0 = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = orders0.filter(
        (F.col("o_orderdate") >= _ts_lit(orders0, "o_orderdate", "1997-01-01"))
        & (F.col("o_orderdate") < _ts_lit(orders0, "o_orderdate", "1998-01-01"))
    )
    li = _lineitem(spark, sf_dir)
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(2,0)") - F.col("l_discount").cast("decimal(8,2)")
    )
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(r4l_dec(F.sum(revenue), "revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), F.col("n_name"))
    )


SQL_TPCH_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       floor(sum(l_extendedprice::DECIMAL(18,2)
                  * (1::DECIMAL(2,0) - l_discount::DECIMAL(8,2)))::DECIMAL(20,6)
             *10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS revenue_e4
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue_e4 DESC, n_name
"""


def q_tpch_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: the aggregate-subquery probe — qualify orders
    by a HAVING over a full lineitem aggregation, then hang the
    dimension data off the tiny qualifying set with broadcasts.

    Plan: ONE lineitem corpus aggregation (map-side-combined decimal
    sum per orderkey) -> HAVING filter leaves a tiny qualifying set ->
    broadcast it into the orders scan (orders never shuffles) -> the
    joined result (|qualifying| rows) broadcasts into the customer
    scan (customer never shuffles). Zero fact-table exchanges beyond
    the one aggregation; the already-computed per-order quantity sum
    rides along instead of being re-aggregated. All money/quantity
    math exact decimal."""
    li = _lineitem(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(20,6)")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > F.lit(300).cast("decimal(12,2)"))
    )
    joined = orders.join(
        F.broadcast(qualifying), orders.o_orderkey == qualifying.l_orderkey
    )
    out = cust.join(F.broadcast(joined), cust.c_custkey == joined.o_custkey)
    from cordon_spark.operators.events import wall_ntz

    return out.select(
        "c_name",
        "o_orderkey",
        wall_ntz(out, "o_orderdate").cast("date").alias("o_orderdate"),
        r4l_dec(F.col("o_totalprice").cast("decimal(18,2)"), "totalprice_e4"),
        r4l_dec(F.col("sum_qty"), "sum_qty_e4"),
    )


SQL_TPCH_LARGE_ORDERS = """
WITH q AS (SELECT l_orderkey,
                  sum(l_quantity::DECIMAL(12,2))::DECIMAL(20,6) AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING sum(l_quantity::DECIMAL(12,2))::DECIMAL(20,6) > 300::DECIMAL(12,2))
SELECT c_name, o_orderkey, o_orderdate::DATE AS o_orderdate,
       floor(o_totalprice::DECIMAL(18,2)::DECIMAL(20,6)*10000::DECIMAL(10,0)
             + 0.5::DECIMAL(2,1))::BIGINT AS totalprice_e4,
       floor(sum_qty*10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS sum_qty_e4
FROM q
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q_conversation_stats(spark, sf_dir):
    """Per-conversation shape statistics over the transcripts table —
    the first profiling pass any log/transcript pipeline runs (one
    map-side-combined hash agg on the conversation key; all-integer
    outputs)."""
    t = derived_transcripts(spark, sf_dir)
    chars = F.length(F.coalesce(F.col("text"), F.lit("")))
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(chars).cast("long").alias("n_chars_total"),
        F.max(chars).cast("long").alias("max_turn_chars"),
        F.min("turn_idx").cast("long").alias("first_turn"),
        F.max("turn_idx").cast("long").alias("last_turn"),
    )


SQL_CONVERSATION_STATS = f"""
WITH t AS ({TRANSCRIPTS_SQL})
SELECT conv_id, count(*) AS n_turns,
       sum(length(coalesce(text, '')))::BIGINT AS n_chars_total,
       max(length(coalesce(text, '')))::BIGINT AS max_turn_chars,
       min(turn_idx)::BIGINT AS first_turn,
       max(turn_idx)::BIGINT AS last_turn
FROM t GROUP BY conv_id
"""


SEMDEDUP_TAU = 0.4


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (operators/dedup.semdedup): assign each
    embedding to its nearest coarse-quantizer centroid, then prune
    near-duplicates within each cluster only (one shuffle on the
    cluster id, blocked BLAS matmuls per cluster). Both engines use the
    same BAKED quantizer (ivf_centroids_sf001, the build-once/serve-many
    shape pq_ann also uses), so unlike ivf_ann this query is valid at
    ANY sf — the kmeans-fit path is separately exercised in
    tests/test_dedup.py. All-integer/boolean output: hash-proof across
    engines."""
    import numpy as np

    from cordon_spark.ivf_centroids_sf001 import IVF_CENTROIDS_SF001

    vecs = _normalized_vectors(spark, sf_dir)
    return D.semdedup(
        vecs,
        np.asarray(IVF_CENTROIDS_SF001, dtype=np.float64),
        tau=SEMDEDUP_TAU,
    )


# semdedup in SQL: baked centroid literals -> argmax assignment (ties
# to the lowest cluster — row_number ordered (dot DESC, cluster)
# mirrors np.argmax's first-max rule) -> within-cluster lower-id
# neighbor with cosine >= tau marks a duplicate.
SQL_SEMDEDUP = f"""
WITH {NORM_EMB_SQL.strip()},
cen(cluster, w) AS (VALUES
  {{cen_values}}),
ad AS (SELECT nv.vec_id, cen.cluster, list_dot_product(nv.v, cen.w) AS dot FROM nv, cen),
ar AS (SELECT vec_id, cluster,
              row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) AS rn
       FROM ad),
asg AS (SELECT vec_id, cluster FROM ar WHERE rn = 1),
dups AS (SELECT DISTINCT a.vec_id
         FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
         JOIN nv va ON va.vec_id = a.vec_id
         JOIN nv vb ON vb.vec_id = b.vec_id
         WHERE list_dot_product(va.v, vb.v) >= {SEMDEDUP_TAU})
SELECT a.vec_id, a.cluster::BIGINT AS cluster, (d.vec_id IS NULL) AS kept
FROM asg a LEFT JOIN dups d ON d.vec_id = a.vec_id
"""


def q_tpch_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: the dimension-SELF-ALIAS probe — nation joins
    the fact chain TWICE under different roles (supplier nation vs
    customer nation), with the two-sided nation-pair predicate applied
    at the broadcast edges, not after a wide join.

    Plan: lineitem(shipdate-filtered at the scan) JOIN
    broadcast(supplier x n1, nation-pair-filtered — only suppliers in
    the two nations survive, so the fact table is pruned at its FIRST
    join) -> shuffle on orderkey to orders -> shuffle on custkey to
    customer JOIN broadcast(n2) with the pair-compatibility predicate
    ((n1, n2) in the two allowed orientations) closing the filter.
    Grouped decimal revenue by (supp_nation, cust_nation, year) —
    map-side combined, all money math exact decimal."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    pair = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = pair.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    li0 = _lineitem(spark, sf_dir)
    li = li0.filter(
        (F.col("l_shipdate") >= _ts_lit(li0, "l_shipdate", "1996-01-01"))
        & (F.col("l_shipdate") < _ts_lit(li0, "l_shipdate", "1998-01-01"))
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(2,0)") - F.col("l_discount").cast("decimal(8,2)")
    )
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(n2),
            (F.col("c_nationkey") == F.col("n2_key"))
            & (F.col("supp_nation") != F.col("cust_nation")),
        )
    )
    from cordon_spark.operators.events import wall_ntz

    return (
        # wall-clock year regardless of session TZ / scan ts flavor
        joined.withColumn("l_year", F.year(wall_ntz(joined, "l_shipdate")).cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(r4l_dec(F.sum(revenue), "revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_TPCH_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS l_year,
       floor(sum(l_extendedprice::DECIMAL(18,2)
                  * (1::DECIMAL(2,0) - l_discount::DECIMAL(8,2)))::DECIMAL(20,6)
             *10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS revenue_e4
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_tpch_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: the EXISTS / semi-join probe — orders in one
    quarter with at least one lineitem shipped more than 60 days after
    the order date, counted by priority. Plan: the order-date filter is
    pushed to the orders scan, lineitem is column-pruned to
    (l_orderkey, l_shipdate), and the EXISTS is a LEFT SEMI join with
    the non-equi date predicate inside the join condition — the probe
    stops at the first matching line, so there is no fact-x-fact row
    blowup and no DISTINCT pass, then a tiny map-side-combined count."""
    orders0 = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders = orders0.filter(
        (F.col("o_orderdate") >= _ts_lit(orders0, "o_orderdate", "1997-01-01"))
        & (F.col("o_orderdate") < _ts_lit(orders0, "o_orderdate", "1997-04-01"))
    )
    li = _lineitem(spark, sf_dir).select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_TPCH_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1 ORDER BY 1
"""


def q_tpch_parts_supplier(spark, sf_dir):
    """TPC-H Q16 shape: the NOT-IN anti-join + COUNT DISTINCT probe —
    distinct suppliers per surviving (brand, type, size) part group,
    excluding negative-balance suppliers. Plan: the part filter is
    pushed to its scan and the filtered dim BROADCAST to the pruned
    (l_partkey, l_suppkey) fact scan; the tiny exclusion set is a
    broadcast LEFT ANTI; the distinct aggregate runs as Spark's
    two-phase expand (partial distinct on (group keys, suppkey), final
    count) — skew-safe where a collect_set would concentrate a hot
    group on one task."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_size") <= 10)
    )
    excl = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        _lineitem(spark, sf_dir)
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


SQL_TPCH_PARTS_SUPPLIER = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_size <= 10
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, 1, 2, 3
"""


def q_rolling_metrics(spark, sf_dir):
    """Bounded-frame window aggregate (time-series rolling metrics):
    per-user trailing 1-hour event count and value sum. RANGE-framed on
    microsecond event time, so tie ordering cannot affect the frame
    (and (user_id, ts) is unique in this corpus anyway). Plan: ONE
    keyed exchange on user_id; the frame is evaluated by a sliding
    accumulator inside each sorted partition — no self-join, no
    explode, no second shuffle. The sum accumulates in decimal =>
    order-independent => hash-proof scaled long."""
    from pyspark.sql import Window as W

    from cordon_spark.operators.events import wall_micros

    ev0 = _events(spark, sf_dir)
    ev = ev0.select(
        "event_id",
        "user_id",
        wall_micros(ev0, "ts").alias("us"),
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "us",
        F.count(F.lit(1)).over(w).alias("roll_n"),
        r4l_dec(F.sum("v").over(w), "roll_sum_e4"),
    )


SQL_ROLLING_METRICS = """
SELECT event_id, user_id, epoch_us(ts) AS us,
       count(*) OVER w AS roll_n,
       floor((sum(value::DECIMAL(20,6)) OVER w)::DECIMAL(20,6)
             *10000::DECIMAL(10,0) + 0.5::DECIMAL(2,1))::BIGINT AS roll_sum_e4
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_argmax_event(spark, sf_dir):
    """Per-key argmax WITHOUT a window sort: each user's
    highest-valued event via ONE struct-max hash aggregation —
    lexicographic max over (scaled value, timestamp, event_id) is
    deterministic under ties AND partially aggregable, so the whole
    query is a single map-side-combined exchange. The window
    spelling (row_number over a per-user sort, cf. topk_per_group)
    must SORT every user's history; struct-max keeps one row of state
    per key per partition — the right argmax shape at 10^12 turns."""
    from cordon_spark.operators.events import wall_micros

    ev0 = _events(spark, sf_dir)
    ev = ev0.select(
        "user_id",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long").alias("ve4"),
        wall_micros(ev0, "ts").alias("us"),
        "event_id",
    )
    best = ev.groupBy("user_id").agg(
        F.max(F.struct("ve4", "us", "event_id")).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.ve4").alias("best_value_e4"),
        F.col("b.us").alias("best_us"),
        F.col("b.event_id").alias("best_event_id"),
    )


SQL_ARGMAX_EVENT = """
WITH e AS (SELECT user_id,
                  floor(value*10000 + 0.5)::BIGINT AS ve4,
                  epoch_us(ts) AS us, event_id,
                  row_number() OVER (PARTITION BY user_id
                      ORDER BY floor(value*10000 + 0.5) DESC,
                               epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
SELECT user_id, ve4 AS best_value_e4, us AS best_us,
       event_id AS best_event_id
FROM e WHERE rn = 1
"""


def q_cube_rollup(spark, sf_dir):
    """Full CUBE over (event_type, day-of-week): all four grouping
    sets in ONE Expand + map-side-combined hash agg pass — the OLAP
    companion to rollup_hierarchy's ROLLUP. Each input row expands to
    4 rows BEFORE the partial aggregation, so the exchange still
    carries only group totals; grouping_id disambiguates levels.
    Decimal sums => hash-proof scaled longs."""
    from cordon_spark.operators.events import wall_ntz

    ev0 = _events(spark, sf_dir)
    ev = ev0.select(
        "event_type",
        F.dayofweek(wall_ntz(ev0, "ts")).cast("long").alias("dow"),
        F.col("value").cast("decimal(20,6)").alias("v"),
    )
    return ev.cube("event_type", "dow").agg(
        F.grouping_id("event_type", "dow").cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        r4l_dec(F.sum("v"), "value_sum_e4"),
    )


SQL_CUBE_ROLLUP = """
SELECT event_type, dayofweek(ts)::BIGINT + 1 AS dow,
       grouping_id(event_type, dayofweek(ts)::BIGINT + 1)::BIGINT AS gid,
       count(*) AS n,
       floor(sum(value::DECIMAL(20,6))::DECIMAL(20,6)*10000::DECIMAL(10,0)
             + 0.5::DECIMAL(2,1))::BIGINT AS value_sum_e4
FROM events GROUP BY CUBE(1, 2)
"""


def q_group_median(spark, sf_dir):
    """Exact per-group median + extremes: Spark's `percentile` (exact,
    sort-based ObjectHashAggregate) vs DuckDB's quantile_cont — both
    engines interpolate (a+b)/2 on float64, the identical IEEE ops in
    the identical order, and the result is r4-floored. At 100 TB the
    exact percentile sorts per group WITHIN the hash agg's partial
    state (no global sort, no window); groups here are the 5 event
    types, so state is bounded."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.expr("percentile(value, 0.5)"), "median_value"),
        r4(F.min("value"), "min_value"),
        r4(F.max("value"), "max_value"),
    )


SQL_GROUP_MEDIAN = """
SELECT event_type, count(*) AS n,
       floor(quantile_cont(value, 0.5)*10000 + 0.5)/10000 AS median_value,
       floor(min(value)*10000 + 0.5)/10000 AS min_value,
       floor(max(value)*10000 + 0.5)/10000 AS max_value
FROM events GROUP BY 1
"""


_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_pivot_event_counts(spark, sf_dir):
    """Pivot (long -> wide): per-user event counts with one column per
    event type, spelled as count-if aggregates over an EXPLICIT value
    list — ONE map-side-combined exchange on user_id. This is the
    scale spelling of `.pivot()`: DataFrame.pivot with explicit values
    still plans a (user_id, event_type) pre-agg exchange plus a
    pivotfirst exchange (2 shuffles), and an IMPLICIT pivot adds a
    distinct-collect on the driver on top; count-if needs none of
    that at 10^9 users."""
    ev = _events(spark, sf_dir).select("user_id", "event_type")
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(t)
            for t in _PIVOT_TYPES
        ]
    )


SQL_PIVOT_EVENT_COUNTS = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'view')     AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'error')    AS error
FROM events GROUP BY 1
"""


SUBSTR_K = 8


def q_substring_dup_spans(spark, sf_dir):
    """Duplicate substring spans (operators/dedup.substring_dup_spans):
    rolling k-token md5 window fingerprints, corpus-wide repeated-window
    detection via a map-side-combined hash agg, per-doc equal-width
    interval merge. All-integer output: hash-proof across engines."""
    return D.substring_dup_spans(_docs(spark, sf_dir), k=SUBSTR_K)


# Same window fingerprints in SQL: unnest the window-start series to
# rows, md5 the space-joined k-token slice (DuckDB list slicing is
# 1-based inclusive, matching Spark's slice(toks, i, k)), HAVING
# count(*) > 1 over the corpus, then the identical equal-width island
# merge (break when pos - prev_pos > k; NULL > k is false on both
# engines, so first rows open island 0).
SQL_SUBSTRING_DUP_SPANS = f"""
WITH {_TOKS_SQL.strip()},
w0 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {SUBSTR_K} + 1)) AS i
       FROM tk WHERE len(toks) >= {SUBSTR_K}),
w AS (SELECT doc_id, i - 1 AS pos,
             ('0x' || substr(md5(array_to_string(toks[i:i+{SUBSTR_K - 1}], ' ')), 1, 15))::UBIGINT::BIGINT AS fp
      FROM w0),
d AS (SELECT fp FROM w GROUP BY fp HAVING count(*) > 1),
f AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (fp)),
m AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {SUBSTR_K}
                  THEN 1 ELSE 0 END AS brk FROM f),
isl AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM m)
SELECT doc_id, min(pos) AS span_start, max(pos) + {SUBSTR_K} - 1 AS span_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, isl
"""


# ------------------------------------------------------------------ #
# Log-pipeline analytics: funnel / cohort retention / Markov
# transitions (operators/events.py) + TPC-H Q13 customer distribution
# ------------------------------------------------------------------ #
FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def q_funnel_steps(spark, sf_dir):
    from cordon_spark.operators.events import funnel_steps

    return funnel_steps(_events(spark, sf_dir), steps=FUNNEL_STEPS)


# Chained running-min windows: step k's qualification time is the
# first step-k event strictly after the running step k-1 time —
# identical recurrence on both engines, all-integer output. Shared by
# funnel_steps (reached flags) and funnel_latency (per-user times).
_FUNNEL_W_SQL = """e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
w1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
         OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q0 FROM e),
w2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND q0 IS NOT NULL AND us > q0 THEN us END)
         OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q1 FROM w1),
w3 AS (SELECT *, min(CASE WHEN event_type = 'click' AND q1 IS NOT NULL AND us > q1 THEN us END)
         OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q2 FROM w2),
w4 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND q2 IS NOT NULL AND us > q2 THEN us END)
         OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q3 FROM w3)"""

SQL_FUNNEL_STEPS = f"""
WITH {_FUNNEL_W_SQL},
u AS (SELECT user_id,
             max(q0 IS NOT NULL)::INT AS r0, max(q1 IS NOT NULL)::INT AS r1,
             max(q2 IS NOT NULL)::INT AS r2, max(q3 IS NOT NULL)::INT AS r3
      FROM w4 GROUP BY user_id)
SELECT 1::BIGINT AS step, 'signup' AS step_name, coalesce(sum(r0), 0)::BIGINT AS users FROM u
UNION ALL
SELECT 2::BIGINT, 'view', coalesce(sum(r1), 0)::BIGINT FROM u
UNION ALL
SELECT 3::BIGINT, 'click', coalesce(sum(r2), 0)::BIGINT FROM u
UNION ALL
SELECT 4::BIGINT, 'purchase', coalesce(sum(r3), 0)::BIGINT FROM u
"""


def q_funnel_latency(spark, sf_dir):
    from cordon_spark.operators.events import funnel_latency

    return funnel_latency(_events(spark, sf_dir), steps=FUNNEL_STEPS)


SQL_FUNNEL_LATENCY = f"""
WITH {_FUNNEL_W_SQL},
u AS (SELECT user_id, min(q0) AS q0, min(q1) AS q1, min(q2) AS q2, min(q3) AS q3
      FROM w4 GROUP BY user_id),
p AS (SELECT 'signup->view' AS pair, q1 - q0 AS d_us FROM u WHERE q1 IS NOT NULL
      UNION ALL
      SELECT 'view->click', q2 - q1 FROM u WHERE q2 IS NOT NULL
      UNION ALL
      SELECT 'click->purchase', q3 - q2 FROM u WHERE q3 IS NOT NULL)
SELECT pair, count(*)::BIGINT AS n_users,
       floor(quantile_cont(d_us, 0.5) * 10000 + 0.5)::BIGINT AS median_us_e4,
       floor(quantile_cont(d_us, 0.9) * 10000 + 0.5)::BIGINT AS p90_us_e4
FROM p GROUP BY pair
"""


def q_cohort_retention(spark, sf_dir):
    from cordon_spark.operators.events import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


SQL_COHORT_RETENTION = """
WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_index FROM events),
f AS (SELECT user_id, min(day_index) AS cohort_day FROM e GROUP BY user_id)
SELECT f.cohort_day, e.day_index - f.cohort_day AS day_offset,
       count(DISTINCT e.user_id)::BIGINT AS active_users
FROM e JOIN f USING (user_id)
GROUP BY f.cohort_day, day_offset
"""


def q_event_transitions(spark, sf_dir):
    from cordon_spark.operators.events import event_transitions

    return event_transitions(_events(spark, sf_dir))


SQL_EVENT_TRANSITIONS = """
WITH p AS (SELECT event_type AS src_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst_type
           FROM events),
c AS (SELECT src_type, dst_type, count(*)::BIGINT AS n
      FROM p WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type)
SELECT src_type, dst_type, n,
       floor((n::DOUBLE / sum(n) OVER (PARTITION BY src_type)::DOUBLE) * 10000 + 0.5)::BIGINT AS prob_e4
FROM c
"""


def q_fill_gaps(spark, sf_dir):
    from cordon_spark.operators.events import fill_gaps

    return fill_gaps(_events(spark, sf_dir))


SQL_FILL_GAPS = """
WITH c AS (SELECT user_id, epoch_us(ts) // 86400000000 AS bucket, count(*)::BIGINT AS n
           FROM events GROUP BY user_id, bucket),
s AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
      FROM c GROUP BY user_id)
SELECT s.user_id, s.bucket, coalesce(c.n, 0)::BIGINT AS n
FROM s LEFT JOIN c ON c.user_id = s.user_id AND c.bucket = s.bucket
"""


def q_interpolate_gaps(spark, sf_dir):
    from cordon_spark.operators.events import interpolate_gaps

    out = interpolate_gaps(_events(spark, sf_dir))
    return out.select(
        "user_id", "bucket", r4l(F.col("v"), "v_e4"), "observed"
    )


SQL_INTERPOLATE_GAPS = """
WITH b AS (SELECT user_id, epoch_us(ts) // 86400000000 AS bucket,
                  sum(value::DECIMAL(20,6))::DOUBLE / count(*)::DOUBLE AS v
           FROM events GROUP BY user_id, bucket),
s AS (SELECT user_id, unnest(generate_series(min(bucket), max(bucket))) AS bucket
      FROM b GROUP BY user_id),
j AS (SELECT s.user_id, s.bucket, b.v FROM s LEFT JOIN b USING (user_id, bucket)),
w AS (SELECT user_id, bucket, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM j)
SELECT user_id, bucket,
       floor((CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv) * ((bucket - pb)::DOUBLE / (nb - pb)::DOUBLE)
              END) * 10000 + 0.5)::BIGINT AS v_e4,
       (v IS NOT NULL) AS observed
FROM w
"""


def q_last_touch_attribution(spark, sf_dir):
    from cordon_spark.operators.events import last_touch_attribution

    return last_touch_attribution(_events(spark, sf_dir))


SQL_LAST_TOUCH_ATTRIBUTION = """
WITH t AS (SELECT event_type,
                  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
           FROM events)
SELECT touch_type, count(*)::BIGINT AS conversions
FROM t WHERE event_type = 'purchase' GROUP BY touch_type
"""


def q_tpch_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution through a
    LEFT OUTER join — the null-preserving side of the join zoo (Q3/Q5
    inner, Q4 semi, Q16 anti, Q18 agg-probe, this outer).

    Plan: the priority predicate filters orders BEFORE the join (the
    Q13 rewrite of its comment NOT LIKE); the outer join shuffles both
    sides on custkey once; both downstream aggs are map-side-combined
    hash aggs over ever-shrinking frames (|customers| rows, then
    |distinct counts| rows)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
    )


SQL_TPCH_CUSTOMER_DISTRIBUTION = """
WITH pc AS (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
            FROM customer c LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey)
SELECT c_count, count(*)::BIGINT AS custdist FROM pc GROUP BY c_count
"""


QUERIES = {
    "window_segment": q_window_segment,
    "knn_score": q_knn_score,
    "threshold_percentile": q_threshold_percentile,
    "threshold_range": q_threshold_range,
    "merge_blocks": q_merge_blocks,
    "score_distribution": q_score_distribution,
    "pipeline_blocks": q_pipeline_blocks,
    "route_counts": q_route_counts,
    "parse_templates": q_parse_templates,
    "enrich_events": q_enrich_events,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_apply": q_dedup_apply,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "ann_topk": q_ann_topk,
    "token_count": q_token_count,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "doc_fingerprint": q_doc_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "eval_turn_metrics": q_eval_turn_metrics,
    "sessionize": q_sessionize,
    "topk_per_group": q_topk_per_group,
    "time_window_rollup": q_time_window_rollup,
    "parse_props": q_parse_props,
    "pipeline_text_blocks": q_pipeline_text_blocks,
    "ann_lsh": q_ann_lsh,
    "ivf_ann": q_ivf_ann,
    "pq_ann": q_pq_ann,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_simhash": q_dedup_simhash,
    "normalize_text": q_normalize_text,
    "hopping_rollup": q_hopping_rollup,
    "quantize_embeddings": q_quantize_embeddings,
    "repetition_quality": q_repetition_quality,
    "asof_join": q_asof_join,
    "rollup_hierarchy": q_rollup_hierarchy,
    "pii_scrub": q_pii_scrub,
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "tfidf_terms": q_tfidf_terms,
    "bm25_search": q_bm25_search,
    "char_entropy": q_char_entropy,
    "curate_corpus": q_curate_corpus,
    "tpch_pricing_summary": q_tpch_pricing_summary,
    "tpch_shipping_priority": q_tpch_shipping_priority,
    "tpch_local_supplier_volume": q_tpch_local_supplier_volume,
    "tpch_large_orders": q_tpch_large_orders,
    "split_dataset": q_split_dataset,
    "token_budget_sample": q_token_budget_sample,
    "conversation_stats": q_conversation_stats,
    "semdedup": q_semdedup,
    "tpch_volume_shipping": q_tpch_volume_shipping,
    "substring_dup_spans": q_substring_dup_spans,
    "tpch_order_priority": q_tpch_order_priority,
    "tpch_parts_supplier": q_tpch_parts_supplier,
    "rolling_metrics": q_rolling_metrics,
    "argmax_event": q_argmax_event,
    "cube_rollup": q_cube_rollup,
    "group_median": q_group_median,
    "pivot_event_counts": q_pivot_event_counts,
    "funnel_steps": q_funnel_steps,
    "cohort_retention": q_cohort_retention,
    "event_transitions": q_event_transitions,
    "tpch_customer_distribution": q_tpch_customer_distribution,
    "fill_gaps": q_fill_gaps,
    "last_touch_attribution": q_last_touch_attribution,
    "interpolate_gaps": q_interpolate_gaps,
    "contamination_score": q_contamination_score,
    "funnel_latency": q_funnel_latency,
    "sessionize_chunked": q_sessionize_chunked,
}

ORACLE_SQL = {
    "window_segment": SQL_WINDOW_SEGMENT,
    "knn_score": SQL_KNN_SCORE,
    "threshold_percentile": SQL_THRESHOLD_PERCENTILE,
    "threshold_range": SQL_THRESHOLD_RANGE,
    "merge_blocks": SQL_MERGE_BLOCKS,
    "score_distribution": SQL_SCORE_DISTRIBUTION,
    "pipeline_blocks": SQL_PIPELINE_BLOCKS,
    "route_counts": SQL_ROUTE_COUNTS,
    "parse_templates": SQL_PARSE_TEMPLATES,
    "enrich_events": SQL_ENRICH_EVENTS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
    "dedup_embedding_cosine": SQL_DEDUP_COSINE,
    "ann_topk": SQL_ANN_TOPK,
    "token_count": SQL_TOKEN_COUNT,
    "lang_id": SQL_LANG_ID,
    "quality_score": SQL_QUALITY_SCORE,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "eval_turn_metrics": SQL_EVAL_TURN_METRICS,
    "sessionize": SQL_SESSIONIZE,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "time_window_rollup": SQL_TIME_WINDOW_ROLLUP,
    "parse_props": SQL_PARSE_PROPS,
    "pipeline_text_blocks": SQL_PIPELINE_TEXT_BLOCKS,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "ann_lsh": SQL_ANN_LSH,
    "dedup_embedding_lsh": SQL_DEDUP_EMBEDDING_LSH,
    # ALL queries have exact DuckDB oracles: the md5-derived hash
    # embedding, simhash bits, and LSH planes all reproduce
    # bit-identically in SQL (hex-cast parity), and ivf_ann's iterative
    # k-means — the one genuinely non-SQL-expressible fit — is
    # bit-deterministic, so its centroids enter the oracle as literals
    # and everything downstream of the fit is hash-checked too.
    "ivf_ann": SQL_IVF_ANN.replace("{cen_values}", _ivf_cen_values()),
    "pq_ann": _sql_pq_ann(),
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_apply": SQL_DEDUP_APPLY,
    "normalize_text": SQL_NORMALIZE_TEXT,
    "hopping_rollup": SQL_HOPPING_ROLLUP,
    "quantize_embeddings": SQL_QUANTIZE_EMBEDDINGS,
    "repetition_quality": SQL_REPETITION_QUALITY,
    "asof_join": SQL_ASOF_JOIN,
    "rollup_hierarchy": SQL_ROLLUP_HIERARCHY,
    "pii_scrub": SQL_PII_SCRUB,
    "decontaminate": SQL_DECONTAMINATE,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "bm25_search": SQL_BM25_SEARCH,
    "char_entropy": SQL_CHAR_ENTROPY,
    "curate_corpus": SQL_CURATE_CORPUS,
    "tpch_pricing_summary": SQL_TPCH_PRICING_SUMMARY,
    "tpch_shipping_priority": SQL_TPCH_SHIPPING_PRIORITY,
    "tpch_local_supplier_volume": SQL_TPCH_LOCAL_SUPPLIER_VOLUME,
    "tpch_large_orders": SQL_TPCH_LARGE_ORDERS,
    "split_dataset": SQL_SPLIT_DATASET,
    "token_budget_sample": SQL_TOKEN_BUDGET_SAMPLE,
    "conversation_stats": SQL_CONVERSATION_STATS,
    "semdedup": SQL_SEMDEDUP.replace("{cen_values}", _sf001_cen_values()),
    "tpch_volume_shipping": SQL_TPCH_VOLUME_SHIPPING,
    "substring_dup_spans": SQL_SUBSTRING_DUP_SPANS,
    "tpch_order_priority": SQL_TPCH_ORDER_PRIORITY,
    "tpch_parts_supplier": SQL_TPCH_PARTS_SUPPLIER,
    "rolling_metrics": SQL_ROLLING_METRICS,
    "argmax_event": SQL_ARGMAX_EVENT,
    "cube_rollup": SQL_CUBE_ROLLUP,
    "group_median": SQL_GROUP_MEDIAN,
    "pivot_event_counts": SQL_PIVOT_EVENT_COUNTS,
    "funnel_steps": SQL_FUNNEL_STEPS,
    "cohort_retention": SQL_COHORT_RETENTION,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "tpch_customer_distribution": SQL_TPCH_CUSTOMER_DISTRIBUTION,
    "fill_gaps": SQL_FILL_GAPS,
    "last_touch_attribution": SQL_LAST_TOUCH_ATTRIBUTION,
    "interpolate_gaps": SQL_INTERPOLATE_GAPS,
    "contamination_score": SQL_CONTAMINATION_SCORE,
    "funnel_latency": SQL_FUNNEL_LATENCY,
    "sessionize_chunked": SQL_SESSIONIZE,
}
