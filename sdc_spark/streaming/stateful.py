"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming at all; this is the extension point for
operators Spark's built-in windowed aggregates can't express — running
per-key state machines (EMA, anomaly flags, session enrichment).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EMA_OUTPUT_SCHEMA = "user_id long, n_seen long, ema double"
EMA_STATE_SCHEMA = "n_seen long, ema double"


def _ema_fn(alpha: float):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_seen, ema = state.get
        else:
            n_seen, ema = 0, None
        for pdf in pdfs:
            for v in pdf.sort_values("ts")["value"]:
                ema = float(v) if ema is None else alpha * float(v) + (1 - alpha) * ema
                n_seen += 1
        state.update((n_seen, ema))
        yield pd.DataFrame({"user_id": [user_id], "n_seen": [n_seen], "ema": [ema]})

    return fn


def running_ema(
    stream: DataFrame, alpha: float = 0.2, keys: Sequence[str] = ("user_id",)
) -> DataFrame:
    """Per-key exponential moving average with persistent state — emits the
    updated (n_seen, ema) per key per micro-batch."""
    return stream.groupBy(*keys).applyInPandasWithState(
        _ema_fn(alpha),
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- running z-score anomaly detection --------------------------------------

ANOM_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, value double, "
    "n_prior long, zscore double, is_anomaly boolean"
)
ANOM_STATE_SCHEMA = "n long, mean double, m2 double"


def _anomaly_fn(z_threshold: float, min_prior: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out = []
        for pdf in pdfs:
            for r in pdf.sort_values(["ts", "event_id"]).itertuples():
                v = float(r.value)
                # score against PRIOR events only (the batch twin's
                # unboundedPreceding..-1 frame), then Welford-update
                if n >= min_prior and m2 > 0.0:
                    std = (m2 / (n - 1)) ** 0.5
                    z = (v - mean) / std
                else:
                    z = None
                out.append(
                    (user_id, r.event_id, r.ts, v, n, z,
                     bool(z is not None and abs(z) > z_threshold))
                )
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
        state.update((n, mean, m2))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "event_id", "ts", "value",
                "n_prior", "zscore", "is_anomaly",
            ],
        )

    return fn


def anomaly_zscore(
    stream: DataFrame, z_threshold: float = 3.0, min_prior: int = 5
) -> DataFrame:
    """Per-user streaming anomaly detection: each event is z-scored against
    the running (Welford) mean/std of that user's PRIOR events; state is
    three scalars per key, so memory is O(keys) regardless of stream
    length. Batch twin: ``anomaly_zscore_batch`` (exact same frame
    semantics via an unboundedPreceding..-1 window)."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _anomaly_fn(z_threshold, min_prior),
        outputStructType=ANOM_OUTPUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def anomaly_zscore_batch(
    df: DataFrame, z_threshold: float = 3.0, min_prior: int = 5
) -> DataFrame:
    """Batch twin of ``anomaly_zscore``: per-user prior-window mean/std via
    one shuffle on user_id (SQL-oracled in plans/streaming_q.py)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sdc_spark.operators.rolling import over_once

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    s = over_once(
        df,
        w,
        ["user_id", "event_id", "ts", "value"],
        {
            "__mean": F.avg("value"),
            "__std": F.stddev_samp("value"),
            "n_prior": F.count("value"),
        },
    )
    mean, std, n_prior = F.col("__mean"), F.col("__std"), F.col("n_prior")
    z = F.when(
        (n_prior >= min_prior) & (std > 0.0), (F.col("value") - mean) / std
    )
    return s.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast("double").alias("value"),
        n_prior,
        z.alias("zscore"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


# -- timeout-closed sessionization -------------------------------------------

SESS_OUTPUT_SCHEMA = (
    "user_id long, n_events long, sum_value double, "
    "session_start timestamp, session_end timestamp"
)
SESS_STATE_SCHEMA = "n long, s double, t0 timestamp, t1 timestamp"


def _session_fn(gap_ms: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed last_event + gap with no new data: the
            # session is closed — emit it exactly once and drop the state
            n, s, t0, t1 = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [s],
                    "session_start": [t0],
                    "session_end": [t1],
                }
            )
            return
        n, s, t0, t1 = state.get if state.exists else (0, 0.0, None, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pd.to_datetime(pdf["ts"])
            n += len(pdf)
            s += float(pdf["value"].sum())
            lo, hi = ts.min(), ts.max()
            t0 = lo if t0 is None or lo < t0 else t0
            t1 = hi if t1 is None or hi > t1 else t1
        state.update((n, s, t0, t1))
        # close when event-time watermark passes last activity + gap
        state.setTimeoutTimestamp(int(t1.timestamp() * 1000) + gap_ms)

    return fn


def idle_closed_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMEOUT emission: a user's
    session closes (and is emitted exactly once, then its state freed)
    when the watermark passes last-activity + gap. This is the
    applyInPandasWithState pattern F.session_window cannot express when
    the per-session payload is custom state (here: running sum + span;
    in production: arbitrary aggregates). State per key is O(1); emission
    is driven by the engine's timer, not by new data for that key."""
    gap_ms = _parse_duration_ms(gap)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_ms),
            outputStructType=SESS_OUTPUT_SCHEMA,
            stateStructType=SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _parse_duration_ms(spec: str) -> int:
    qty, unit = spec.split()
    mult = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
    }[unit]
    return int(qty) * mult


PACK_OUTPUT_SCHEMA = (
    "source string, doc_id long, n_tok long, pack_id long, offset long, "
    "spans_boundary boolean"
)
PACK_STATE_SCHEMA = "cum long"


def _pack_fn(budget: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        cum = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            for doc_id, n in (
                pdf.sort_values("doc_id")[["doc_id", "n_tok"]].itertuples(
                    index=False
                )
            ):
                n = int(n)
                start = cum
                pack = start // budget
                spans = n > 0 and pack != (start + n - 1) // budget
                out.append(
                    (source, int(doc_id), n, pack, start % budget, spans)
                )
                cum += n
        state.update((cum,))
        yield pd.DataFrame(
            out,
            columns=[
                "source", "doc_id", "n_tok", "pack_id", "offset",
                "spans_boundary",
            ],
        )

    return fn


def streaming_pack_sequences(stream: DataFrame, budget: int = 2048) -> DataFrame:
    """Per-source sequence packing as a STREAMING operator: the running
    token total per source persists in GroupState, so an append-only doc
    stream receives pack assignments incrementally that are identical to
    re-packing the whole corpus in batch (as long as docs arrive in
    doc_id order per source — the append-only layout). State is ONE long
    per source; input expects columns (source, doc_id, n_tok)."""
    return stream.groupBy("source").applyInPandasWithState(
        _pack_fn(budget),
        outputStructType=PACK_OUTPUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
