"""Custom stateful streaming operator: gap-based session windows via
``applyInPandasWithState`` (SURVEY.md §2.9 / north-star streaming bullet —
"applyInPandasWithState for custom stateful operators").

The batch twin is ``operators/analytics.py::sessionize_events`` (lag +
running sum); this is the stream form: per-user state carries the open
session (start, last event ts, count) across micro-batches, a new event
whose gap to the open session exceeds ``SESSION_GAP_S`` CLOSES it (emitting one
append-mode row) and opens a new one. Sessions still open when input is
drained stay in state (standard streaming semantics — they would close on
a later batch or a timeout policy).

Late-data contract (cross-batch out-of-order events): an event within one
gap of the open session's [start, last] span merges into it with min/max
bounds; an event more than a gap BEFORE start is emitted as its own
immediately-closed singleton session (it belongs to an earlier,
already-emitted epoch — merging it would produce one mega-session where
the batch sessionizer yields two). Documented approximation vs batch:
multiple such stragglers each close separately even if batch order would
have grouped them.

Scale shape: state is keyed by user_id — one row of fixed size per live
user, hash-partitioned across executors by the state store; each
micro-batch shuffles only that batch's events on user_id. Skewed users
cost O(their batch events), never O(history).

Determinism contract for tests: events within a (batch, user) group are
processed in ts order; emitted rows carry (user_id, session_start,
session_end, n_events) as integer epochs — comparable to the batch
operator's closed sessions.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from ..operators.analytics import SESSION_GAP_S
from ..schemas import SESSION_EVENTS_SCHEMA
from .start import start_file_stream

OUTPUT_SCHEMA = (
    "user_id string, session_start long, session_end long, n_events long"
)
STATE_SCHEMA = "start long, last_ts long, n long"


def _session_fn(key: Any, pdfs: Iterator[pd.DataFrame], state):
    user_id = key[0]
    if state.exists:
        start, last_ts, n = state.get
    else:
        start, last_ts, n = None, None, 0

    out: list[tuple[str, int, int, int]] = []
    ts_all: list[int] = []
    for pdf in pdfs:
        ts_all.extend(int(t) for t in pdf["ts_s"])
    for t in sorted(ts_all):
        if start is None:
            start, last_ts, n = t, t, 1
        elif t - last_ts > SESSION_GAP_S:
            out.append((user_id, start, last_ts, n))
            start, last_ts, n = t, t, 1
        elif t < start - SESSION_GAP_S:
            # Cross-batch event MORE than a gap BEFORE the open session's
            # start: it belongs to an earlier, already-gone session — emit
            # it as its own immediately-closed singleton rather than
            # merging it (merging produced one mega-session where the
            # batch sessionizer yields two — review catch). Documented
            # approximation: two such stragglers that would have been
            # adjacent in batch order each close separately.
            out.append((user_id, t, t, 1))
        else:
            # Cross-batch out-of-order event within a gap of the open
            # session's span: extend with min/max so session_end never
            # moves backwards and session_start covers the earliest event
            # (r3 ADVICE).
            start, last_ts, n = min(start, t), max(last_ts, t), n + 1
    state.update((start, last_ts, n))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )


def sessionize_stream(events):
    """events: a (streaming or batch) DataFrame with (user_id string,
    ts_s long). Returns the append-mode stream of CLOSED sessions."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_session_stream(spark, source_dir: str, out_dir: str, checkpoint_dir: str):
    """File-source driver: watch ``source_dir`` for (user_id, ts_s) parquet,
    emit closed sessions to ``out_dir`` as parquet, checkpointed,
    availableNow (drain-and-stop)."""
    return start_file_stream(
        spark, SESSION_EVENTS_SCHEMA, source_dir, checkpoint_dir, out_dir,
        plan=sessionize_stream,
    )
