"""Custom stateful streaming operators via applyInPandasWithState.

This is the engine's escape hatch for stateful semantics the built-in
operators can't express (SURVEY.md §2B streaming table): user-defined state
per key, updated per micro-batch, with timeout-based eviction. The built-in
paths (windowed aggs, dropDuplicatesWithinWatermark, session_window) should
always be preferred — this exists for the genuinely custom cases, the same
way the reference's only state (Amplitude-side dedup + per-batch counters,
synchronous-pull.js:94-101) would generalize if it tracked per-user totals.

State discipline at scale: state lives in the state store partitioned by the
group key; memory is bounded by (distinct keys x state row size), so keys
must be chosen with cardinality in mind and timeouts set for eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def running_user_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running totals that survive micro-batch boundaries.

    Emits one updated row per key per batch in which the key appears:
    (key, n_events, total_value) with counts accumulated since stream start.
    The state tuple is (n_events, total_value); NoTimeout keeps state for
    the stream's lifetime (add a ProcessingTimeTimeout for eviction in a
    production deployment with unbounded key cardinality).
    """

    def update(key, pdfs, state):
        # self-contained: stdlib + pandas only (executor pickling discipline)
        import pandas as pd

        (uid,) = key
        if state.exists:
            n_events, total_value = state.get
        else:
            n_events, total_value = 0, 0.0
        for pdf in pdfs:
            n_events += len(pdf)
            total_value += float(pdf["value"].sum())
        state.update((n_events, total_value))
        yield pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [n_events],
                "total_value": [round(total_value, 6)],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n_events long, total_value double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def sessionize_stateful(events: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Custom gap-based sessionization with EventTimeTimeout — the stateful
    operator Spark's built-in session_window cannot customize (per-session
    payloads, dynamic gaps, side outputs all start from this skeleton).

    Input: a stream with (user_id long, tsec double) that ALREADY carries a
    watermark on its event-time column (EventTimeTimeout requires one).
    A session closes when (a) a later event for the key arrives past the
    gap — emitted immediately — or (b) the watermark passes last_event +
    gap — the state times out and the open session flushes. Emission is
    therefore watermark-correct: a session is never declared closed while
    an in-gap event could still arrive.

    Output: (user_id, session_start, session_end, n_events) per closed
    session; batch oracle = the q_sessionize gaps-and-islands query
    (plans/relational.py) over the same rows. State per key is three
    numbers — O(keys), evicted on timeout, the bounded-state contract that
    lets sessionization run forever on an unbounded stream.
    """

    def update(key, pdfs, state):
        # self-contained: stdlib + pandas only (executor pickling discipline)
        import pandas as pd

        (uid,) = key
        gap = gap_seconds
        out = []

        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                out.append((uid, start, last, n))
                state.remove()
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )
            return

        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        rows = pd.concat(list(pdfs)) if pdfs else pd.DataFrame()
        if len(rows):
            for t in rows.sort_values("tsec")["tsec"]:
                t = float(t)
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap:
                    out.append((uid, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last = t
                    n += 1
        if start is not None:
            state.update((start, last, n))
            # flush when the watermark passes the session's gap horizon
            state.setTimeoutTimestamp(int((last + gap) * 1000) + 1)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start", "session_end", "n_events"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_start double, session_end double,"
            " n_events long"
        ),
        stateStructType="start double, last double, n long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def ewma_per_user(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Streaming EWMA with O(1) state per user — the incremental form of the
    batch q_ewma query (plans/stats.py), which is its replayable oracle:
    replaying a stream prefix through this operator yields bit-identical
    smoothed values to the batch fold over the same rows, because both
    apply s' = αx + (1−α)s left-to-right in (tsec, event_id) order.

    Emits (user_id, ewma, n_events) per key per batch it appears in. State
    is two numbers regardless of history length — the 100 TB contract that
    the batch query's collect_list cannot make (its state is one user's
    history; this is the operator you deploy on the unbounded stream).
    Rows within a batch are sorted by (tsec, event_id); cross-batch order
    is the source's delivery order, as for any stateful streaming operator
    (out-of-order input needs a watermark + buffer upstream).
    """

    def update(key, pdfs, state):
        # self-contained: stdlib + pandas only (executor pickling discipline)
        import pandas as pd

        (uid,) = key
        if state.exists:
            ewma, n, seen = state.get
        else:
            ewma, n, seen = 0.0, 0, False
        for pdf in pdfs:
            for x in pdf.sort_values(["tsec", "event_id"])["value"]:
                x = float(x)
                # sequential fold, same operation order as the batch oracle
                ewma = x if not seen else alpha * x + (1.0 - alpha) * ewma
                seen = True
                n += 1
        state.update((ewma, n, seen))
        yield pd.DataFrame(
            {"user_id": [uid], "ewma": [ewma], "n_events": [n]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, ewma double, n_events long",
        stateStructType="ewma double, n_events long, seen boolean",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
