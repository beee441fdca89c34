"""Streaming variants of the window -> score -> route stages.

The reference is batch-only; this module is the graft's streaming
extension for continuously-arriving transcript turns:

  * stateless: route scored rows by a fixed threshold (route_stream) —
    a pure map, no state store. Scoring is the batch module's
    operators.scoring.score_windows_frozen against the per-signature
    sums a batch run's template_centroids returned; turn-level scoring
    is the same call over turns with `content = text`.
  * stateful (applyInPandasWithState): gap sessionization
    (sessionize_stream) and tumbling count-window assembly
    (window_stream), both keyed O(1)-ish state with event-time-timeout
    flush — composed into pipeline_stream, the full window -> embed ->
    score -> route pipeline over a live stream."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from cordon_spark.config import AnalysisConfig
from cordon_spark.operators.scoring import score_windows_frozen


def route_stream(scored: DataFrame, threshold: float) -> DataFrame:
    """Threshold router as a streaming-safe projection (percentile must
    come from the batch side; streams can't sort globally)."""
    return scored.withColumn(
        "sink",
        F.when(F.col("score") >= F.lit(threshold), F.lit("anomalous")).otherwise(
            F.lit("routine")
        ),
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
    ]
)

_SESSION_STATE_SCHEMA = (
    "start_us long, end_us long, n long, vsum double, "
    "pre_start long, pre_end long, pre_n long, pre_vsum double"
)


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "30 minutes",
) -> DataFrame:
    """STREAMING gap sessionization via applyInPandasWithState — the
    custom stateful operator the batch operators.events.sessionize
    mirrors (same gap semantics): per user, events within `gap_seconds`
    of the running session extend it; a larger gap (or state timeout at
    the watermark) closes and EMITS the session.

    State is O(1) per user (bounds, count, sum); the stream shuffles
    once on the user key — the canonical keyed-state shape that holds at
    any executor count. Timeout = event-time, so sessions close exactly
    when the watermark passes their gap horizon; late rows beyond the
    watermark are dropped by the engine.

    Bounded-state divergence from batch `operators.events.sessionize`:
    ONE out-of-order "pre-chain" (events earlier than the open session)
    is held in state per user and resolved correctly, but an even-
    earlier straggler below the held chain's own gap window is emitted
    immediately as a standalone single-event session. Batch, which sees
    all data at once, would merge such events into a session; keys with
    MULTIPLE distinct straggler sessions in flight can therefore emit
    more (smaller) sessions on the stream than in batch. This is a
    deliberate O(1)-state trade; consumers needing exact batch parity
    under heavy disorder should widen the watermark or re-sessionize
    the affected window in batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state):
        user = key[0]

        def emit_rows(sessions):
            return pd.DataFrame(
                {
                    "user_id": [user] * len(sessions),
                    "session_start_us": [s[0] for s in sessions],
                    "session_end_us": [s[1] for s in sessions],
                    "n_events": [s[2] for s in sessions],
                    "value_sum": [s[3] for s in sessions],
                }
            )

        if state.hasTimedOut:
            start_us, end_us, n, vsum, p_s, p_e, p_n, p_v = state.get
            state.remove()
            out = []
            if p_n and p_n > 0:
                out.append((p_s, p_e, p_n, p_v))
            out.append((start_us, end_us, n, vsum))
            yield emit_rows(out)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        ser = rows[ts_col]
        if getattr(ser.dt, "tz", None) is not None:
            ser = ser.dt.tz_localize(None)
        us = (ser.astype("int64") // 1000).to_numpy()  # ns -> us
        order = np.argsort(us, kind="stable")
        us = us[order]
        vals = rows["value"].to_numpy()[order]
        if state.exists:
            start_us, end_us, n, vsum, p_s, p_e, p_n, p_v = state.get
            pre = (p_s, p_e, p_n, p_v) if p_n and p_n > 0 else None
        else:
            start_us = end_us = n = vsum = None  # no open session yet
            pre = None
        closed = []
        # Out-of-order events EARLIER than the open session (cross-batch
        # stragglers still >= watermark) session-ize among themselves in
        # a "pre-chain". The chain is HELD IN STATE across micro-batches
        # (not emitted eagerly — eager emission fragmented a straggler
        # session split across batches) and resolves when the watermark
        # times the key out, or by merging into the open session when it
        # reaches within one gap of it. One held chain bounds the state;
        # an even-earlier straggler below the held chain's own gap
        # window emits standalone (bounded-state policy).

        def resolve_pre(pre):
            """Merge the chain into the open session if within gap,
            else emit it closed. Used when a main-range event arrives
            (later in-batch events can no longer extend the chain)."""
            nonlocal start_us, n, vsum
            if pre is None:
                return
            if start_us is not None and start_us - pre[1] <= gap_us:
                start_us = min(start_us, pre[0])
                n += pre[2]
                vsum += pre[3]
            else:
                closed.append(pre)

        for t, v in zip(us, vals):
            t = int(t)
            v = float(v)
            if start_us is not None and t < start_us - gap_us:
                if pre is None:
                    pre = (t, t, 1, v)
                elif pre[0] - gap_us <= t <= pre[1] + gap_us:
                    pre = (min(pre[0], t), max(pre[1], t), pre[2] + 1, pre[3] + v)
                elif t < pre[0] - gap_us:
                    # deeper straggler below the held chain: standalone
                    closed.append((t, t, 1, v))
                else:  # t > pre_end + gap: chain closed by a later gap
                    closed.append(pre)
                    pre = (t, t, 1, v)
                continue
            resolve_pre(pre)
            pre = None
            if start_us is None:
                start_us, end_us, n, vsum = t, t, 1, v
            elif t - end_us > gap_us:
                closed.append((start_us, end_us, n, vsum))
                start_us, end_us, n, vsum = t, t, 1, v
            else:
                # in-gap or mid-session: absorb, extending EITHER bound
                # (batch semantics: the session covers min..max ts)
                start_us = min(start_us, t)
                end_us = max(end_us, t)
                n += 1
                vsum += v
        # final merge check; an unmergeable chain is HELD for the next
        # batch (cross-batch stragglers of the same early session)
        held = (0, 0, 0, 0.0)
        if pre is not None:
            if start_us is not None and start_us - pre[1] <= gap_us:
                start_us = min(start_us, pre[0])
                n += pre[2]
                vsum += pre[3]
            else:
                held = pre
        state.update(
            (
                int(start_us), int(end_us), int(n), float(vsum),
                int(held[0]), int(held[1]), int(held[2]), float(held[3]),
            )
        )
        # close the open session once the watermark passes its gap
        state.setTimeoutTimestamp((end_us + gap_us) // 1000)  # ms
        if closed:
            yield emit_rows(closed)

    # watermarks require TIMESTAMP (tz-aware); parquet NTZ columns cast up
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("window_id", T.LongType()),
        T.StructField("start_idx", T.IntegerType()),
        T.StructField("end_idx", T.IntegerType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("content", T.StringType()),
    ]
)

_WINDOW_STATE_SCHEMA = "idxs array<int>, texts array<string>"


def window_stream(
    turns: DataFrame,
    window_size: int = 4,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """STREAMING tumbling count-window assembly — the stateful analog of
    operators.windowing.segment_windows for continuously-arriving turns
    (same output schema/content semantics: rstripped texts joined by
    newline in turn order, final partial window kept).

    State per conv_id is just the not-yet-complete turns (bounded by
    window_size per in-flight window plus any out-of-order stragglers);
    a window emits the moment all `window_size` member turns have
    arrived, in any arrival order. The event-time timeout flushes
    partial tails once the watermark passes — exactly the batch
    semantics of keeping the final short window."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        from cordon_spark import kernel

        conv = key[0]

        def emit(groups):
            if not groups:
                return
            out = {k: [] for k in ("conv_id", "window_id", "start_idx",
                                   "end_idx", "n_turns", "content")}
            for wid, members in groups:
                members.sort()
                out["conv_id"].append(conv)
                out["window_id"].append(wid)
                out["start_idx"].append(members[0][0])
                out["end_idx"].append(members[-1][0])
                out["n_turns"].append(len(members))
                out["content"].append("\n".join(t for _, t in members))
            return pd.DataFrame(out)

        if state.hasTimedOut:
            idxs, texts = state.get
            state.remove()
            groups: dict = {}
            for i, tx in zip(idxs, texts):
                groups.setdefault(i // window_size, []).append((i, tx))
            df = emit(sorted(groups.items()))
            if df is not None:
                yield df
            return

        idxs, texts = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        max_ms = 0
        for pdf in pdfs:
            ser = pdf[ts_col]
            if getattr(ser.dt, "tz", None) is not None:
                ser = ser.dt.tz_localize(None)
            if len(ser):
                max_ms = max(max_ms, int(ser.astype("int64").max() // 1_000_000))
            idxs.extend(int(i) for i in pdf["turn_idx"])
            texts.extend(kernel.rstrip_text(t) for t in pdf["text"])
        # dedup replayed/duplicate turn_idx (at-least-once sources):
        # first occurrence wins within buffered+incoming. NOTE: a replay
        # arriving AFTER its window already emitted still produces a
        # second (partial) row — exactly-once needs an idempotent sink
        # keyed on (conv_id, window_id), the standard streaming contract.
        seen: set = set()
        groups: dict = {}
        for i, tx in zip(idxs, texts):
            if i in seen:
                continue
            seen.add(i)
            groups.setdefault(i // window_size, []).append((i, tx))
        complete = sorted(
            (w, m) for w, m in groups.items() if len(m) >= window_size
        )
        df = emit(complete)
        rest_i, rest_t = [], []
        for w, m in groups.items():
            if len(m) < window_size:
                for i, tx in m:
                    rest_i.append(i)
                    rest_t.append(tx)
        if rest_i:
            state.update((rest_i, rest_t))
            # flush at the next watermark move (timeout must sit beyond
            # the current watermark or the engine rejects it)
            state.setTimeoutTimestamp(
                max(max_ms + 1, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        if df is not None:
            yield df

    turns = turns.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        turns.withWatermark(ts_col, watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=WINDOW_SCHEMA,
            stateStructType=_WINDOW_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def pipeline_stream(
    turns: DataFrame,
    sum_map: dict,
    cfg: AnalysisConfig,
    threshold: float,
    watermark: str = "30 minutes",
) -> DataFrame:
    """The FULL pipeline on a continuous turn stream: stateful window
    assembly (window_stream) -> embed + cosine score against the FROZEN
    per-signature sums a batch run's template_centroids returned
    (operators.scoring.score_windows_frozen) -> threshold route. One
    keyed shuffle (conv_id) + pure maps; the percentile threshold
    necessarily comes from the batch side — a stream cannot sort
    globally."""
    windows = window_stream(turns, cfg.window_size, watermark=watermark)
    return route_stream(score_windows_frozen(windows, sum_map, cfg), threshold)
