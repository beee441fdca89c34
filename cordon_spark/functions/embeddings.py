"""OP-4: pluggable embedding backends behind one factory seam.

Reference seam: embedding/__init__.py:10-31 (factory by config.backend)
with three backends — sentence-transformers (transformer.py:99-147),
llama-cpp (llama_cpp.py:45-66), remote API (remote.py:30-96). All emit
L2-normalized float32 vectors.

Spark spelling: every backend is an ITERATOR-form Arrow pandas UDF
(`Iterator[pd.Series] -> Iterator[pd.Series]`) so heavyweight model
state loads once per executor python worker, and inference sees whole
Arrow batches (the canonical batched-model-inference pattern; the
reference's batch_size=32 loop at transformer.py:126-141 becomes
`spark.sql.execution.arrow.maxRecordsPerBatch`). No per-row Python
anywhere (input_hint requirement).

The default sandbox backend is the deterministic hashed bag-of-tokens
embedding from cordon_spark.kernel (no torch in this environment);
sentence-transformers / remote backends are implemented behind
import-guards with the identical contract.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from cordon_spark.config import AnalysisConfig


def _hash_embed_udf(dim: int):
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from cordon_spark import kernel

        for s in batches:
            mat = kernel.embed_texts(s.fillna("").tolist(), dim)
            yield pd.Series(list(mat))

    return embed


_truncation_warned = False


def check_truncation_warning(texts: list[str], model, model_name: str) -> bool:
    """Warn once when window contents likely exceed the model's token
    limit (reference transformer.py:149-199): sample up to 10 windows,
    and if avg tokens > 1.2 x max_seq_length emit the reference's
    truncation warning with lines-that-fit / coverage guidance. Returns
    True when the warning fired. Swallows tokenizer errors like the
    reference (best-effort heuristic)."""
    global _truncation_warned
    if _truncation_warned or not texts:
        return False
    import warnings

    try:
        tokenizer = model.tokenizer
        max_seq_length = model.max_seq_length
        sample = [t or "" for t in texts[: min(10, len(texts))]]
        token_counts = [
            len(tokenizer.encode(t, add_special_tokens=True)) for t in sample
        ]
        avg_tokens = sum(token_counts) / len(token_counts)
        max_tokens = max(token_counts)
        if avg_tokens > max_seq_length * 1.2:
            lines_in_window = len(sample[0].split("\n"))
            tokens_per_line = avg_tokens / lines_in_window
            lines_that_fit = int(max_seq_length / tokens_per_line)
            coverage_pct = (lines_that_fit / lines_in_window) * 100
            warnings.warn(
                f"TOKEN TRUNCATION WARNING: windows contain ~{avg_tokens:.0f} "
                f"tokens on average (max: {max_tokens}); model '{model_name}' "
                f"has a {max_seq_length}-token limit. Only the first "
                f"~{lines_that_fit} of {lines_in_window} lines per window are "
                f"analyzed (~{coverage_pct:.0f}% coverage). Reduce "
                f"--window-size to {lines_that_fit} or use a larger model.",
                UserWarning,
                stacklevel=2,
            )
            _truncation_warned = True
            return True
    except Exception:
        pass
    return False


def _sentence_transformer_udf(model_name: str, batch_size: int):
    """Real transformer backend (transformer.py:99-147): model loaded once
    per worker, encode() with normalize_embeddings=True; the first batch
    per worker runs the truncation heuristic (warning lands in executor
    logs — the distributed analog of the reference's stderr warn-once)."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer  # import-gated

        from cordon_spark.functions.embeddings import check_truncation_warning

        model = SentenceTransformer(model_name)
        first = True
        for s in batches:
            texts = s.fillna("").tolist()
            if first:
                check_truncation_warning(texts, model, model_name)
                first = False
            mat = model.encode(
                texts,
                batch_size=batch_size,
                convert_to_numpy=True,
                normalize_embeddings=True,
            ).astype(np.float64)
            yield pd.Series(list(mat))

    return embed


def remote_embed_batch(
    texts: list[str],
    model_name: str,
    api_base: str | None,
    api_key: str | None,
    timeout: float,
) -> np.ndarray:
    """One batched remote-API embedding call + explicit L2 norm
    (remote.py:59-74); provider errors map to RuntimeError
    (remote.py:78-96). Module-level so tests can mock `litellm` exactly
    like the reference's tests/test_remote.py:73-95."""
    import litellm  # import-gated

    try:
        resp = litellm.embedding(
            model=model_name,
            input=texts,
            api_key=api_key,
            api_base=api_base,
            timeout=timeout,
        )
    except Exception as exc:  # error mapping, remote.py:78-96
        raise RuntimeError(f"remote embedding failed: {exc}") from exc
    mat = np.array([d["embedding"] for d in resp["data"]], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _remote_udf(model_name: str, api_base: str | None, api_key: str | None, timeout: float):
    """Remote-API backend as an Arrow UDF: batched HTTP per Arrow batch."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from cordon_spark.functions.embeddings import remote_embed_batch

        for s in batches:
            mat = remote_embed_batch(
                s.fillna("").tolist(), model_name, api_base, api_key, timeout
            )
            yield pd.Series(list(mat))

    return embed


DEFAULT_GGUF_REPO_ID = "second-state/All-MiniLM-L6-v2-Embedding-GGUF"
DEFAULT_GGUF_FILENAME = "all-MiniLM-L6-v2-Q4_K_M.gguf"


def resolve_gguf_model(model_path: str | None) -> str:
    """Resolve a GGUF model path, auto-downloading the default model via
    huggingface_hub when none is given (llama_cpp.py:68-95): missing
    huggingface_hub and download failures map to RuntimeError with the
    reference's manual-download guidance. Runs on the DRIVER before the
    UDF ships, so executors only ever see a concrete local path (a
    shared filesystem or --files distribution is assumed at cluster
    scale)."""
    if model_path:
        return model_path
    try:
        from huggingface_hub import hf_hub_download  # import-gated
    except ImportError as error:
        raise RuntimeError(
            "huggingface_hub is required for auto-downloading GGUF models. "
            "Install with: pip install huggingface-hub"
        ) from error
    try:
        return str(
            hf_hub_download(repo_id=DEFAULT_GGUF_REPO_ID, filename=DEFAULT_GGUF_FILENAME)
        )
    except Exception as error:
        raise RuntimeError(
            f"Failed to download default GGUF model: {error}\n"
            f"You can manually download from: "
            f"https://huggingface.co/{DEFAULT_GGUF_REPO_ID}\n"
            f"And specify path with: --model-path /path/to/{DEFAULT_GGUF_FILENAME}"
        ) from error


def llama_embed_batch(
    texts: list[str],
    model_path: str,
    n_ctx: int = 2048,
    n_threads: int | None = None,
    n_gpu_layers: int = 0,
) -> np.ndarray:
    """llama-cpp backend batch (llama_cpp.py:45-66): per-text
    create_embedding + explicit L2 norm (:62-64); constructor knobs
    mirror the reference (:35-43, incl. n_batch=n_ctx). Module-level for
    mockability (reference tests/test_llama_cpp.py:13-47)."""
    import llama_cpp  # import-gated

    # cache key includes the construction knobs: a long-lived worker
    # serving a second job with different n_ctx must NOT silently reuse
    # a model built with the old context size
    cache_key = (model_path, n_ctx, n_threads, n_gpu_layers)
    model = _llama_model_cache.get(cache_key)
    if model is None:
        model = llama_cpp.Llama(
            model_path=model_path,
            embedding=True,
            n_ctx=n_ctx,
            n_threads=n_threads,
            n_gpu_layers=n_gpu_layers,
            n_batch=n_ctx,
            verbose=False,
        )
        _llama_model_cache[cache_key] = model
    out = []
    for text in texts:
        emb = np.asarray(
            model.create_embedding(text)["data"][0]["embedding"], dtype=np.float64
        )
        nrm = float(np.linalg.norm(emb))
        out.append(emb / nrm if nrm > 0 else emb)
    return np.stack(out) if out else np.zeros((0, 1))


_llama_model_cache: dict = {}


def _llama_udf(model_path: str, n_ctx: int, n_threads: int | None, n_gpu_layers: int):
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from cordon_spark.functions.embeddings import llama_embed_batch

        for s in batches:
            yield pd.Series(
                list(
                    llama_embed_batch(
                        s.fillna("").tolist(), model_path, n_ctx, n_threads, n_gpu_layers
                    )
                )
            )

    return embed


def create_embedder(cfg: AnalysisConfig) -> Callable[[DataFrame, str], DataFrame]:
    """Factory (embedding/__init__.py:10-31 pattern): returns a stage
    function df -> df + `embedding: array<double>` column."""
    if cfg.backend == "hash":
        udf = _hash_embed_udf(cfg.embedding_dim)
    elif cfg.backend == "sentence-transformers":
        udf = _sentence_transformer_udf(cfg.model_name, cfg.batch_size)
    elif cfg.backend == "remote":
        udf = _remote_udf(cfg.model_name, cfg.api_base, cfg.api_key, cfg.request_timeout)
    elif cfg.backend == "llama-cpp":
        # cfg.model_path is the GGUF path (reference surface); for
        # backward-compat model_name may also carry it. The reference's
        # default model ("hash-64" is our sandbox default sentinel)
        # triggers the auto-download path (llama_cpp.py:68-95)
        path = cfg.model_path or (
            None if cfg.model_name in ("", "hash-64", None) else cfg.model_name
        )
        udf = _llama_udf(
            resolve_gguf_model(path), cfg.n_ctx, cfg.n_threads, cfg.n_gpu_layers
        )
    else:  # pragma: no cover - config validates
        raise ValueError(cfg.backend)

    def embed_stage(df: DataFrame, content_col: str = "content") -> DataFrame:
        return df.withColumn("embedding", udf(F.col(content_col)))

    return embed_stage
