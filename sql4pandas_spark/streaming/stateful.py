"""Custom stateful streaming operators (SURVEY.md §2.10) beyond the
built-in windowed aggregations: event-time-timeout sessionization on
``applyInPandasWithState``.

Why this exists next to ``session_window``: the built-in session window is
an aggregation — you get (start, end, agg) per session and nothing else.
The stateful form owns the per-group state machine, so it can emit
arbitrary per-session payloads, enrich against state, or side-effect per
close — the pattern every custom stateful operator at scale follows. State
is one small tuple per OPEN session per user (closed sessions leave state
immediately), so state-store size is bounded by active users, not history.

Delivery semantics, measured (round 6) and relied on by the tests:

- a session closes and EMITS either when later data for the same user
  starts a new session (data-closed, same micro-batch or later), or when
  the event-time timeout fires — in a micro-batch whose watermark (max
  event time of PREVIOUS batches minus the delay) strictly exceeds
  ``session_end + gap``;
- ``availableNow`` drains DO run a final no-data flush batch after the
  last data batch (the watermark advance from that batch is processed),
  so sessions whose ``end + gap`` lies below the FINAL watermark emit
  even in a single-data-batch drain. Sessions the final watermark hasn't
  passed stay in the state store — a live stream emits them on a later
  trigger. The catalog oracle encodes exactly this: data-closed sessions
  plus final-watermark-timed-out ones; the cross-batch timeout path is
  additionally pinned by tests/test_stateful_sessions.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

US_PER_MIN = 60 * 1_000_000


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 10,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization as an explicit state machine.

    Output rows are CLOSED sessions: (user_id, s_start, s_end, n) with
    ``s_end = last event + gap`` (the ``session_window`` convention, so
    results are directly comparable with the built-in aggregation form).
    Works on a streaming input carrying a watermark on ``ts_col``; event
    times are kept in µs end-to-end (the fixtures are µs-grained — ms
    truncation would shift session boundaries).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * US_PER_MIN
    # the output key column mirrors user_col (name AND type) — a caller
    # passing user_col='account_id' must not silently get a renamed/recast
    # key (round-7 advice fix; pinned in tests/test_stateful_sessions.py)
    user_type = events.schema[user_col].dataType.simpleString()

    def track(key, pdfs, state: GroupState):
        (uid,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            s, e, c = state.get
            closed.append((uid, s, e, c))
            state.remove()
        else:
            ts_us = sorted(
                int(t.value // 1000)  # pandas ns → µs
                for pdf in pdfs
                for t in pdf[ts_col]
            )
            # per-event intervals + the carried OPEN session, merged with
            # one sorted gaps-and-islands pass over intervals. The carried
            # session participates as an interval because a watermark-valid
            # LATE event can precede it — a plain t-after-e check would
            # silently absorb earlier events without moving s_start (found
            # by round-6 review; pinned in tests/test_stateful_sessions.py)
            intervals: list[list[int]] = [[t, t, 1] for t in ts_us]
            if state.exists:
                intervals.append(list(state.get))
                intervals.sort()
            sessions: list[list[int]] = []
            for iv in intervals:
                if sessions and iv[0] - sessions[-1][1] < gap_us:
                    sessions[-1][1] = max(sessions[-1][1], iv[1])
                    sessions[-1][2] += iv[2]
                else:
                    sessions.append(iv)
            # everything but the latest interval is closed; the latest
            # stays open in state awaiting more data or its timeout
            for s, e, c in sessions[:-1]:
                closed.append((uid, s, e, c))
            s, e, c = sessions[-1]
            close_ms = (e + gap_us) // 1000
            if close_ms <= state.getCurrentWatermarkMs():
                # an entirely-late session (all events below the current
                # watermark — possible because applyInPandasWithState does
                # NOT drop late rows): the watermark already passed its
                # close time, so by the delivery contract its timeout is
                # due NOW. Emit directly — setTimeoutTimestamp would raise
                # INVALID_TIMEOUT_TIMESTAMP on a below-watermark instant
                # (found by the deleted streaming scale probe's multi-batch
                # out-of-order drain, 574fe30:tools/streaming_scale_probe.py;
                # pinned in tests/test_stateful_sessions.py)
                closed.append((uid, s, e, c))
                state.remove()
            else:
                state.update((s, e, c))
                # timeout once the watermark passes the session's close time
                state.setTimeoutTimestamp(close_ms)
        if closed:
            yield pd.DataFrame(
                {
                    user_col: [r[0] for r in closed],
                    "s_start": [pd.Timestamp(r[1] * 1000) for r in closed],
                    "s_end": [pd.Timestamp((r[2] + gap_us) * 1000) for r in closed],
                    "n": [r[3] for r in closed],
                }
            )

    return events.groupBy(user_col).applyInPandasWithState(
        track,
        outputStructType=(
            f"{user_col} {user_type}, s_start timestamp, s_end timestamp, n long"
        ),
        stateStructType="s_us long, e_us long, c long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
