"""CEP-equivalent bounce detection, streaming form (SURVEY §2.9 W7).

The reference uses Flink CEP: pattern = session entry (last_page_id IS
NULL) followed by another entry, within(10 s); matches and timeouts are
unioned — both mean "the first entry was a bounce"
(DwdTrafficUserJumpDetail.java:62-107).

Streaming rebuild on ``applyInPandasWithState`` keyed by device id:

- state holds the pending session-entry row (if any);
- a new entry arriving resolves the pending one: bounce if the gap
  exceeds ``bounce_gap_s`` (reference: a second entry within 10 s means
  the first had no engagement → bounce; engagement events cancel);
- a processing-time timeout flushes a pending entry as a bounce (the
  CEP timeout side-output).

The batch variant (lead() over user sequence) lives in
operators/windows.py::dwd_bounce_detection with a full oracle; this
streaming form trades the oracle for true incremental emission.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gmall_211027_flink_spark.streaming.state import _with_state

_STATE = T.StructType([
    T.StructField("pending_ts", T.DoubleType()),   # epoch seconds of entry
    T.StructField("pending_id", T.LongType()),
])

BOUNCE_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("entry_event_id", T.LongType()),
    T.StructField("entry_ts", T.DoubleType()),
    T.StructField("is_bounce", T.BooleanType()),
])


def detect_bounces(entries: DataFrame, key_col: str = "user_id",
                   ts_col: str = "ts_s", id_col: str = "event_id",
                   bounce_gap_s: float = 600.0,
                   timeout_ms: int = 30_000) -> DataFrame:
    """``entries`` = session-entry candidate rows with ``ts_s`` epoch
    seconds. Emits one row per entry with its bounce verdict."""

    def fn(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        uid = key[0]
        pending_ts, pending_id = (state.get if state.exists else (None, None))
        if state.hasTimedOut:
            state.remove()
            if pending_ts is not None:
                yield pd.DataFrame(
                    [(uid, pending_id, pending_ts, True)],
                    columns=["user_id", "entry_event_id", "entry_ts",
                             "is_bounce"])
            return
        # vectorized resolution: each entry i is resolved by entry i+1 —
        # bounce iff the gap to the next entry exceeds the threshold; the
        # last entry stays pending. The carried pending entry is row 0.
        frames = [p[[ts_col, id_col]] for p in pdfs if len(p)]
        if not frames:
            state.setTimeoutDuration(timeout_ms)
            return
        pdf = (frames[0] if len(frames) == 1 else pd.concat(frames))
        pdf = pdf.astype({ts_col: "float64", id_col: "int64"}) \
                 .sort_values([ts_col, id_col])
        ts = pdf[ts_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        if pending_ts is not None:
            ts = np.concatenate(([float(pending_ts)], ts))
            ids = np.concatenate(([int(pending_id)], ids))
        state.update((float(ts[-1]), int(ids[-1])))
        state.setTimeoutDuration(timeout_ms)
        if len(ts) > 1:
            yield pd.DataFrame({
                "user_id": uid,
                "entry_event_id": ids[:-1],
                "entry_ts": ts[:-1],
                "is_bounce": (ts[1:] - ts[:-1]) > bounce_gap_s,
            })

    return (
        entries.groupBy(key_col)
        .applyInPandasWithState(
            fn, BOUNCE_SCHEMA, _STATE, "append",
            GroupStateTimeout.ProcessingTimeTimeout)
    )


_VERDICT_STATE = T.StructType([
    T.StructField("last_us", T.LongType()),       # pending event's epoch-us
    T.StructField("last_id", T.LongType()),
    T.StructField("last_prev_gap_us", T.LongType()),  # null = first event
    T.StructField("max_us", T.LongType()),        # monotonicity check
])

VERDICT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("es_us", T.LongType()),
    T.StructField("prev_gap_us", T.LongType()),   # null = first event for key
    T.StructField("next_gap_us", T.LongType()),   # null = not yet resolved
    T.StructField("resolved", T.BooleanType()),
])


def bounce_verdicts(events: DataFrame, key_col: str = "user_id",
                    us_col: str = "us", id_col: str = "event_id") -> DataFrame:
    """Stateful per-event (prev_gap, next_gap) reconstruction — the full
    CEP bounce semantics of DwdTrafficUserJumpDetail.java:62-107 as
    keyed state: session ENTRY = prev gap over the session threshold
    (the reference's ``last_page_id IS NULL``), BOUNCE = next gap over
    the bounce timeout (the CEP ``within()`` timeout side-output).
    Unlike :func:`detect_bounces` (which sees only pre-filtered entry
    candidates), this consumes ALL events, so both gaps come out of one
    state pass and the thresholds can be applied downstream — exactly
    the batch lag()/lead() plan of
    operators/windows.py::dwd_bounce_detection, incrementally.

    Emission contract (batching-independent drain): every event is
    emitted once per batch it is decided in — resolved events (a
    successor arrived) carry their real ``next_gap_us``; each key's
    trailing event is emitted provisionally with ``next_gap_us`` NULL
    (the "no next event → bounce" verdict, which is also the correct
    final verdict when the stream ends). If a later batch resolves it, a
    second row with the real gap supersedes it — downstream keeps
    ``max(next_gap_us)`` per event (nulls lose to values), so no
    timeout machinery is needed for stream-end pendings.

    ASSUMPTION (as :func:`~..state.funnel_levels`): event time
    non-decreasing across micro-batches per key; the state carries
    ``max_us`` and raises on regression rather than mis-sequence.
    """

    def body(key, pdf, state):
        uid = key[0]
        l_us, l_id, l_pg, max_us = (state.get if state.exists
                                    else (None, None, None, None))
        pdf = pdf.astype({us_col: "int64", id_col: "int64"}) \
                 .sort_values([us_col, id_col])
        us = pdf[us_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        if max_us is not None and int(us[0]) < max_us:
            raise ValueError(
                f"bounce_verdicts: out-of-order batch for key {key}: "
                f"{int(us[0])} precedes already-folded max {max_us}")
        # a timestamp TIE with the carried pending event is also an
        # ordering violation when the new event_id sorts before it: the
        # fold pins the pending event first, diverging from the batch
        # (ts, event_id) total order at per-event granularity (ADVICE r6)
        if (max_us is not None and int(us[0]) == max_us
                and l_id is not None and int(ids[0]) < l_id):
            raise ValueError(
                f"bounce_verdicts: timestamp tie out of id order for key "
                f"{key}: event {int(ids[0])}@{int(us[0])} precedes folded "
                f"event {l_id}@{max_us}")
        # row 0 of the fold is the carried pending event (if any): its
        # prev gap is the one STORED with it, not recomputed
        prev = [l_pg if l_us is not None else None]
        if l_us is not None:
            us = np.concatenate(([l_us], us))
            ids = np.concatenate(([l_id], ids))
        gaps = (us[1:] - us[:-1]).tolist()
        prev_gaps = prev + gaps           # prev gap of row i
        next_gaps = gaps + [None]         # next gap of row i (last pending)
        resolved = [True] * (len(us) - 1) + [False]
        state.update((int(us[-1]), int(ids[-1]),
                      None if prev_gaps[-1] is None else int(prev_gaps[-1]),
                      int(us[-1])))
        return pd.DataFrame({
            "user_id": np.full(len(us), uid, dtype="int64"),
            "event_id": ids,
            "es_us": us,
            "prev_gap_us": pd.array(prev_gaps, dtype="Int64"),
            "next_gap_us": pd.array(next_gaps, dtype="Int64"),
            "resolved": resolved,
        })

    return _with_state(events, key_col, [us_col, id_col], body,
                       VERDICT_SCHEMA, _VERDICT_STATE, None)
