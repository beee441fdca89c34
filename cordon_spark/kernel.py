"""Shared numpy kernel — ONE implementation of embedding + scoring math.

Both the pure-Python oracle (cordon_spark.oracle) and the Spark pandas
UDFs (cordon_spark.operators.*) call these functions, so Spark-vs-oracle
parity is exact by construction (the strategy SURVEY.md §7.4 requires).

Numeric contract:
  - embeddings are float64, L2-normalized (reference normalizes at embed
    time: src/cordon/embedding/transformer.py:140, llama_cpp.py:62-64).
    float64 (not the reference's float32) so results are stable across
    chunk shapes / BLAS paths; at 100 TB the stored column can be float32
    while the score math stays float64.
  - cosine distance = clamp(1 - dot, 0, 2)   (scorer.py:197,297)
  - score = mean of the k smallest distances after dropping the single
    smallest slot (self, distance 0)          (scorer.py:216-217,316-317)
  - candidate chunk boundaries are absolute offsets into the full
    matrix, and queries run in zero-padded blocks of a fixed
    KNN_QUERY_BLOCK rows, so every similarity comes out of one dgemm
    shape and scores are bit-identical however queries are partitioned
    (the reference's batch-size-invariance property,
    tests/test_analysis.py:76-100). BLAS results depend on the
    operand shape (a 1-row block takes a gemv path, a ragged block a
    different edge kernel), so an unpadded block can move a score by
    an ulp — enough to flip a window sitting on a percentile cut.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

# Candidate-chunk width of the exact-kNN kernel (the reference's
# auto-sized CPU batch, scorer.py:89-127); AnalysisConfig's
# scoring_batch_size overrides it in the Spark scorer.
KNN_CHUNK_SIZE = 8192
# Query rows per dgemm in the exact-kNN kernel; the last block of a
# batch is zero-padded to it (see the numeric contract above).
KNN_QUERY_BLOCK = 64

# Exactly the codepoints Python str.rstrip() strips (str.isspace() set),
# because the reference strips with str.rstrip() (ingestion/reader.py:25).
# Shared with the Spark (Java regex) and DuckDB (rtrim char list) mirrors
# so per-turn text equality holds for Unicode whitespace (\xa0,  , …).
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
_WS_END = re.compile("[" + re.escape(PY_WHITESPACE) + "]+$")


def _ws_ranges() -> list[tuple[int, int]]:
    cps = sorted(ord(c) for c in PY_WHITESPACE)
    ranges = []
    start = prev = cps[0]
    for c in cps[1:]:
        if c == prev + 1:
            prev = c
        else:
            ranges.append((start, prev))
            start = prev = c
    ranges.append((start, prev))
    return ranges


def ws_class(style: str) -> str:
    """The PY_WHITESPACE set as a regex character class for a specific
    engine: 'java' (\\uXXXX escapes, Spark regexp_*) or 're2'
    (\\x{XXXX} escapes, DuckDB regexp_*). Contiguous ranges — measured
    2x faster than enumerated codepoints in the Java engine."""
    if style == "java":
        esc = "\\u{:04x}".format
    elif style == "re2":
        esc = "\\x{{{:04x}}}".format
    else:  # pragma: no cover
        raise ValueError(style)
    return "[" + "".join(
        esc(a) + (f"-{esc(b)}" if b > a else "") for a, b in _ws_ranges()
    ) + "]"

# token -> (bucket, sign) memo; tokens in templated logs repeat heavily
_TOKEN_CACHE: dict[tuple[str, int], tuple[int, float]] = {}
_TOKEN_CACHE_MAX = 1_000_000


def rstrip_text(text: str | None) -> str:
    """str.rstrip()-equivalent (Unicode whitespace), identical on all
    engines via the explicit PY_WHITESPACE class.

    Reference strips trailing whitespace at read time
    (src/cordon/ingestion/reader.py:25).
    """
    if text is None:
        return ""
    return _WS_END.sub("", text)


def tokenize(text: str) -> list[str]:
    return text.lower().split()


def _token_feature(tok: str, dim: int) -> tuple[int, float]:
    key = (tok, dim)
    hit = _TOKEN_CACHE.get(key)
    if hit is not None:
        return hit
    h = hashlib.md5(tok.encode("utf-8", "surrogatepass")).hexdigest()
    bucket = int(h[:8], 16) % dim
    sign = 1.0 if int(h[8], 16) % 2 == 0 else -1.0
    if len(_TOKEN_CACHE) < _TOKEN_CACHE_MAX:
        _TOKEN_CACHE[key] = (bucket, sign)
    return bucket, sign


def embed_texts(texts: list[str], dim: int = 64) -> np.ndarray:
    """Deterministic hashed bag-of-tokens embedding, L2-normalized float64.

    Sandbox stand-in for the reference's sentence-transformer backend
    (src/cordon/embedding/transformer.py:99-147) behind the same factory
    seam (embedding/__init__.py:10-31). Same contract: one L2-normalized
    vector per text; all-zero for empty text.

    Vectorized: tokens are exploded once, md5 runs only on tokens not in
    the cache, and the signed counts accumulate via np.add.at. Numerics
    are identical to the per-token loop — the accumulands are +/-1
    integers, exact in float64 regardless of order.
    """
    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float64)
    if n == 0:
        return out
    from itertools import chain

    import pandas as pd

    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return out
    row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
    flat = np.array(list(chain.from_iterable(tok_lists)), dtype=object)
    codes, uniques = pd.factorize(flat, sort=False)
    buckets = np.empty(len(uniques), dtype=np.int64)
    signs = np.empty(len(uniques), dtype=np.float64)
    for j, tok in enumerate(uniques):
        buckets[j], signs[j] = _token_feature(tok, dim)
    # bincount beats np.add.at by ~5x for scatter-add
    flat_pos = row_idx * dim + buckets[codes]
    out += np.bincount(
        flat_pos, weights=signs[codes], minlength=n * dim
    ).reshape(n, dim)
    norms = np.sqrt(np.einsum("ij,ij->i", out, out))
    nz = norms > 0.0
    out[nz] /= norms[nz, None]
    return out


def knn_scores(
    queries: np.ndarray,
    candidates: np.ndarray,
    k_neighbors: int,
    chunk_size: int = KNN_CHUNK_SIZE,
) -> np.ndarray:
    """Mean cosine distance from each query to its k nearest candidates.

    `queries` must be rows of `candidates` (self-exclusion works by
    dropping the guaranteed-smallest slot: self distance 0, or a
    tied exact-duplicate at 0 — same value either way, scorer.py:216).

    Blocked like the reference CPU path (scorer.py:264-305):
    similarities in candidate chunks, running top-k via concatenate +
    partial sort, distances clamped to [0, 2]. Queries go through in
    zero-padded KNN_QUERY_BLOCK-row blocks and candidate chunks start
    at absolute offsets, so a query's score does not depend on which
    other queries share its call. Edge cases: 0 rows -> [], single
    candidate -> score 0.0 (scorer.py:340-346).
    """
    nq = queries.shape[0]
    if nq == 0:
        return np.zeros(0, dtype=np.float64)
    n = candidates.shape[0]
    if n <= 1:
        return np.zeros(nq, dtype=np.float64)
    # min(k+1, n) including the self slot (scorer.py:76-87)
    nn = min(k_neighbors + 1, n)
    candidates = np.asarray(candidates, dtype=np.float64)
    padded = np.zeros(
        (-(-nq // KNN_QUERY_BLOCK) * KNN_QUERY_BLOCK, candidates.shape[1]),
        dtype=np.float64,
    )
    padded[:nq] = queries
    out = np.empty(padded.shape[0], dtype=np.float64)
    for qs in range(0, padded.shape[0], KNN_QUERY_BLOCK):
        block = padded[qs : qs + KNN_QUERY_BLOCK]
        top = np.full((KNN_QUERY_BLOCK, nn), np.inf, dtype=np.float64)
        for cs in range(0, n, chunk_size):
            ce = min(cs + chunk_size, n)
            sims = block @ candidates[cs:ce].T
            dists = np.clip(1.0 - sims, 0.0, 2.0)
            combined = np.concatenate([top, dists], axis=1)
            if combined.shape[1] > nn:
                part = np.argpartition(combined, nn - 1, axis=1)[:, :nn]
                combined = np.take_along_axis(combined, part, axis=1)
            combined.sort(axis=1)
            top = combined
        # drop slot 0 (self), mean the rest (scorer.py:216-217)
        out[qs : qs + KNN_QUERY_BLOCK] = top[:, 1:].mean(axis=1)
    return out[:nq]


def centroid_scores_loo(
    queries: np.ndarray,
    signatures: list,
    sum_map: dict,
    count_map: dict,
    global_sum: np.ndarray,
    global_count: int,
) -> np.ndarray:
    """Scale-path scorer with LEAVE-ONE-OUT centroids.

    score(x) = clamp(1 - dot(x, normalize(sum[sig(x)] - x)), 0, 2)

    Subtracting the window's own vector mirrors the k-NN scorer's
    self-exclusion (scorer.py:216): without it, a window that is the
    SOLE member of its signature is identical to its centroid and scores
    0 — exactly backwards for rare anomalies. Singleton signatures fall
    back to the global leave-one-out centroid. Broadcast state stays
    O(signatures x dim)."""
    nq = queries.shape[0]
    if nq == 0:
        return np.zeros(0, dtype=np.float64)
    queries = np.asarray(queries, dtype=np.float64)
    if global_count <= 1:
        return np.zeros(nq, dtype=np.float64)
    zero = np.zeros(queries.shape[1], dtype=np.float64)
    sum_arr = _per_row(signatures, sum_map, zero, np.float64)
    cnt_arr = _per_row(signatures, count_map, 0, np.int64)
    loo = sum_arr - queries
    use_global = cnt_arr <= 1
    if use_global.any():
        loo[use_global] = global_sum[None, :] - queries[use_global]
    norms = np.sqrt(np.einsum("ij,ij->i", loo, loo))
    norms[norms == 0.0] = 1.0
    dots = np.einsum("ij,ij->i", queries, loo) / norms
    return np.clip(1.0 - dots, 0.0, 2.0)


def centroid_scores(
    queries: np.ndarray, signatures: list, centroid_map: dict, default: np.ndarray
) -> np.ndarray:
    """Frozen-state scorer (streaming path): cosine distance to a
    PRE-BUILT normalized centroid per signature (no self-exclusion —
    the state comes from a separate batch run, so the query row is not
    inside its own centroid)."""
    nq = queries.shape[0]
    if nq == 0:
        return np.zeros(0, dtype=np.float64)
    queries = np.asarray(queries, dtype=np.float64)
    cen = _per_row(signatures, centroid_map, default, np.float64)
    dots = np.einsum("ij,ij->i", queries, cen)
    return np.clip(1.0 - dots, 0.0, 2.0)


def _per_row(signatures, table: dict, default, dtype) -> np.ndarray:
    """table[sig] (default when absent) for every row: one dict probe per
    DISTINCT signature, then one fancy-index gather. A missing signature
    (None/NaN) gets its own code and misses the table, like any unseen
    one."""
    import pandas as pd

    codes, uniques = pd.factorize(
        np.asarray(signatures, dtype=object), use_na_sentinel=False
    )
    vals = np.asarray([table.get(sig, default) for sig in uniques], dtype=dtype)
    return vals[codes]


def exact_percentile(values: np.ndarray, pct: float) -> float:
    """np.percentile with linear interpolation — the reference's threshold
    definition (thresholder.py:71-73). Spark's exact `percentile` uses the
    same definition; `percentile_approx` does NOT and must not be used for
    the final threshold."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), pct))


def percentile_thresholds(scores: np.ndarray, cfg) -> tuple[float | None, float | None]:
    """(lower, upper) thresholds; semantics of thresholder.py:17-81.

    Percentile mode -> (threshold, None): keep score >= threshold.
    Range mode      -> (lower, upper):    keep lower <= score < upper.
    keep_all / keep_none shortcuts handled by callers via cfg.
    """
    if cfg.range_mode:
        upper = exact_percentile(scores, (1.0 - cfg.anomaly_range_min) * 100.0)
        lower = exact_percentile(scores, (1.0 - cfg.anomaly_range_max) * 100.0)
        return lower, upper
    if cfg.keep_all or cfg.keep_none:
        return None, None
    thr = exact_percentile(scores, (1.0 - cfg.anomaly_percentile) * 100.0)
    return thr, None


def select_mask(scores: np.ndarray, cfg) -> np.ndarray:
    """Boolean keep-mask per thresholder.py tie rules: percentile mode is
    `>=` inclusive (:76); range mode is lower-inclusive, upper-exclusive
    (:51-53); isclose shortcuts for 0.0 / 1.0 (:63-68)."""
    scores = np.asarray(scores, dtype=np.float64)
    if cfg.keep_all:
        return np.ones(scores.shape[0], dtype=bool)
    if cfg.keep_none:
        return np.zeros(scores.shape[0], dtype=bool)
    lower, upper = percentile_thresholds(scores, cfg)
    if cfg.range_mode:
        return (scores >= lower) & (scores < upper)
    return scores >= lower


def merge_intervals(
    intervals: list[tuple[int, int, int, float]],
) -> list[tuple[int, int, tuple[int, ...], float]]:
    """Sweep-line merge of (start, end, window_id, score) intervals into
    (start, end, original_window_ids, max_score) blocks.

    Sorted by start; merges overlapping OR adjacent (start <= end + 1,
    merger.py:47); accumulates contributing ids and running max score
    (merger.py:49-51)."""
    if not intervals:
        return []
    intervals = sorted(intervals, key=lambda iv: iv[0])
    blocks: list[tuple[int, int, tuple[int, ...], float]] = []
    cur_start, cur_end, first_id, first_score = intervals[0]
    ids = [first_id]
    max_score = first_score
    for start, end, wid, score in intervals[1:]:
        if start <= cur_end + 1:
            cur_end = max(cur_end, end)
            ids.append(wid)
            max_score = max(max_score, score)
        else:
            blocks.append((cur_start, cur_end, tuple(ids), max_score))
            cur_start, cur_end, ids, max_score = start, end, [wid], score
    blocks.append((cur_start, cur_end, tuple(ids), max_score))
    return blocks


def format_block(start: int, end: int, max_score: float, lines: list[str]) -> str:
    """Reference XML block rendering (formatter.py:55-58): raw
    (unstripped) lines, newline-joined, %.4f score. Rendered with Python
    formatting on BOTH engines (Java's %.4f half-up rounding differs from
    Python's half-even)."""
    tag = f'<block lines="{start}-{end}" score="{max_score:.4f}">'
    body = "\n".join(lines)
    return f"{tag}\n{body}\n</block>"


def score_distribution(scores: np.ndarray) -> dict[str, float]:
    """min/max/mean/median/p90 of scores; zeros when empty
    (pipeline.py:100-126)."""
    scores = np.asarray(scores, dtype=np.float64)
    if scores.size == 0:
        return {"min": 0.0, "max": 0.0, "mean": 0.0, "median": 0.0, "p90": 0.0}
    return {
        "min": float(scores.min()),
        "max": float(scores.max()),
        "mean": float(scores.mean()),
        "median": exact_percentile(scores, 50.0),
        "p90": exact_percentile(scores, 90.0),
    }


def l2_normalize(mat: np.ndarray) -> np.ndarray:
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    nz = norms > 0.0
    out = mat.copy()
    out[nz] /= norms[nz, None]
    return out


def stable_hash64(text: str) -> int:
    """Deterministic 64-bit hash (md5-based) shared with SQL oracles via
    md5 hex strings; independent of PYTHONHASHSEED."""
    return int(hashlib.md5(text.encode("utf-8", "surrogatepass")).hexdigest()[:16], 16)


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over tokens using md5 bits (near-dup fingerprint)."""
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for tok in tokens:
        h = stable_hash64(tok)
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if acc[b] > 0:
            out |= 1 << b
    return out


def token_shingles(tokens: list[str], n: int) -> list[str]:
    """Distinct, order-preserving n-gram shingles joined by single space."""
    if len(tokens) < n:
        return [" ".join(tokens)] if tokens else []
    seen: dict[str, None] = {}
    for i in range(len(tokens) - n + 1):
        seen[" ".join(tokens[i : i + n])] = None
    return list(seen.keys())


def minhash_band_keys(shingles: list[str], bands: int, rows: int) -> list[str]:
    """MinHash-LSH band keys using lexicographic-min md5 hex per hash fn.

    Hash family j (j in [0, bands*rows)): h_j(s) = md5(f"{j}|{s}") hex;
    signature_j = min over shingles. Band key b = "b|m_0|m_1|..." over its
    `rows` signatures. Min over hex STRINGS so the same family is
    expressible in SQL (md5 + min) for the DuckDB oracle.
    """
    if not shingles:
        return []
    keys = []
    for b in range(bands):
        parts = [str(b)]
        for r in range(rows):
            j = b * rows + r
            prefix = f"{j}|"
            parts.append(
                min(hashlib.md5((prefix + s).encode("utf-8")).hexdigest() for s in shingles)
            )
        keys.append("|".join(parts))
    return keys


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter / union if union else 0.0
