"""Custom stateful streaming operator: user sessionization via
``applyInPandasWithState`` — the Structured-Streaming path for operators the
built-in windowed aggregations can't express (session = activity separated
by gaps > SESSION_GAP).

``sessions_canonical`` is the sink's read contract. Its output is tested
against a deterministic batch twin (a lag-window program,
``sessionize_batch`` in tests/catalyst_twins.py) — same discipline as the
DuckDB-checked queries.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .stream_pipeline import _drain

SESSION_GAP_MIN = 30

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.IntegerType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.IntegerType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("start_ts", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _us_ts(sec: float) -> "pd.Timestamp":
    """Rebuild a microsecond-precision UTC timestamp from float seconds —
    ns-precision floats trip Arrow's safe-cast check (timestamp[us])."""
    return pd.Timestamp(int(round(sec * 1_000_000)), unit="us", tz="UTC")


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emits every session whose extent is known at the end of the
    micro-batch, INCLUDING the still-open one (AvailableNow semantics:
    the drain must surface all data; a live stream would instead flush on
    state timeout). An open session extended by a later drain is therefore
    RE-emitted under the same (user_id, session_id) with a grown end —
    the append sink is an upsert log, and ``sessions_canonical`` is the
    read contract that folds it (last emission wins). The two-drain
    incremental test asserts canonical == the batch twin."""
    (user_id,) = key
    if state.exists:
        session_id, last_ts, start_ts, n = state.get
    else:
        session_id, last_ts, start_ts, n = 0, None, None, 0

    out: list[dict[str, Any]] = []
    gap = SESSION_GAP_MIN * 60
    # collect the whole group's micro-batch before sorting: events may
    # arrive split across multiple Arrow chunks in arbitrary order
    chunks = [pdf["ts"] for pdf in pdfs if len(pdf)]
    all_ts = sorted(pd.concat(chunks)) if chunks else []
    for ts in all_ts:
        t = ts.timestamp()
        if last_ts is None or t - last_ts > gap:
            if last_ts is not None:
                out.append(
                    {"user_id": user_id, "session_id": session_id,
                     "session_start": _us_ts(start_ts),
                     "session_end": _us_ts(last_ts),
                     "n_events": n}
                )
            session_id += 1
            start_ts, n = t, 0
        last_ts = t
        n += 1
    state.update((session_id, last_ts, start_ts, n))
    if last_ts is not None:
        out.append(
            {"user_id": user_id, "session_id": session_id,
             "session_start": _us_ts(start_ts),
             "session_end": _us_ts(last_ts),
             "n_events": n}
        )
    yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])


def sessions_canonical(sessions: DataFrame) -> DataFrame:
    """Read contract for the streaming session sink: a session re-emitted
    by a later drain (same user_id + session_id) supersedes the earlier
    row — start never moves, end and n_events only grow, so the fold is
    min(start) / max(end) / max(n_events). ONE small groupBy at read time
    buys idempotent incremental appends with no sink rewrites."""
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.max("n_events").alias("n_events"),
    )


def sessionize_stream(
    spark, events_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """Streaming sessionization over an events parquet directory using
    applyInPandasWithState; AvailableNow trigger drains current files."""
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("user_id", "ts")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(sessions, out_dir, checkpoint_dir)
