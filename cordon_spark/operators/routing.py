"""OP-8 (+graft router): blocks -> routed turn sinks + rendered blocks.

Router (north_rule): every turn inside any merged anomalous block routes
to the `anomalous` sink, everything else to `routine`. Spark spelling:
each block explodes into one row per turn it covers (`_block_turns`),
and turns EQUI-join those rows on (conv_id, turn_idx) — a left join to
route, an inner join to render. Merged blocks are disjoint per
conversation, so a turn matches at most one row and no dedup is needed.
No broadcast hint: Spark broadcasts the block turns while they are
small and shuffle-joins them on the two keys when they are not, so a
single huge conversation (a whole log file is one) is never a
turns x blocks comparison.

Formatting (formatter.py:15-68): the rendered `<block ...>` string uses
the RAW (unstripped) turn text — the reference re-reads the original
file (formatter.py:49-59) while windows scored rstripped text
(reader.py:25); we keep both columns (OP-9 parity note). The %.4f score
is rendered with PYTHON formatting inside a pandas UDF so golden strings
match the oracle byte-for-byte (Java's %.4f rounds half-up, Python
half-even)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T


def _block_turns(blocks: DataFrame) -> DataFrame:
    """blocks -> one row per turn a block covers: the block's columns
    (conv_id, start_idx, end_idx, ...) plus that turn's turn_idx."""
    return blocks.select(
        "*", F.explode(F.sequence("start_idx", "end_idx")).alias("turn_idx")
    )


def route_turns(
    turns: DataFrame, blocks: DataFrame, text_col: str = "text"
) -> DataFrame:
    """turns + blocks -> (conv_id, turn_idx, text(raw), ..., sink). Every
    other column of turns (enrichment dims etc.) rides through unchanged
    — the north_star routes ENRICHED turns."""
    inside = _block_turns(blocks).select(
        "conv_id", "turn_idx", F.lit("anomalous").alias("sink")
    )
    extra = [c for c in turns.columns if c not in ("conv_id", "turn_idx", text_col)]
    return turns.join(inside, ["conv_id", "turn_idx"], "left").select(
        "conv_id",
        "turn_idx",
        F.col(text_col).alias("text"),
        *extra,
        F.coalesce("sink", F.lit("routine")).alias("sink"),
    )


def split_sinks(routed: DataFrame) -> tuple[DataFrame, DataFrame]:
    anomalous = routed.filter(F.col("sink") == "anomalous")
    routine = routed.filter(F.col("sink") == "routine")
    return anomalous, routine


def sink_counts(routed: DataFrame) -> dict[str, int]:
    rows = routed.groupBy("sink").count().collect()
    counts = {"anomalous": 0, "routine": 0}
    for r in rows:
        counts[r["sink"]] = r["count"]
    return counts


_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("start_idx", T.IntegerType()),
        T.StructField("end_idx", T.IntegerType()),
        T.StructField("max_score", T.DoubleType()),
        T.StructField("block_text", T.StringType()),
    ]
)


def render_blocks(
    turns: DataFrame, blocks: DataFrame, text_col: str = "text", index_base: int = 0
) -> DataFrame:
    """blocks + raw turn text -> rendered reference-format block strings.

    The turn-in-block join pulls each block's raw lines; the per-block
    ordered join + Python %.4f rendering happens in one grouped pandas
    UDF over (conv_id, start_idx) groups (each group is <= a few
    window_size spans of lines).

    index_base shifts the rendered `lines="a-b"` numbers: log-file
    inputs carry turn_idx = line_no - 1, and the reference renders
    1-INDEXED line numbers (formatter.py:54) — pass index_base=1 there;
    transcript tables keep their native 0-based turn indices."""
    joined = (
        turns.select("conv_id", "turn_idx", F.col(text_col).alias("_raw"))
        .join(_block_turns(blocks), ["conv_id", "turn_idx"])
        .select("conv_id", "start_idx", "end_idx", "max_score", "turn_idx", "_raw")
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        from cordon_spark import kernel

        pdf = pdf.sort_values("turn_idx")
        head = pdf.iloc[0]
        text = kernel.format_block(
            int(head["start_idx"]) + index_base,
            int(head["end_idx"]) + index_base,
            float(head["max_score"]),
            [x if x is not None else "" for x in pdf["_raw"].tolist()],
        )
        return pd.DataFrame(
            {
                "conv_id": [head["conv_id"]],
                "start_idx": [int(head["start_idx"])],
                "end_idx": [int(head["end_idx"])],
                "max_score": [float(head["max_score"])],
                "block_text": [text],
            }
        )

    return joined.groupBy("conv_id", "start_idx").applyInPandas(render, _BLOCK_SCHEMA)
