"""Streaming deduplication with bounded state.

The reference SMTs are stateless by contract (SURVEY.md §2.4); streaming
dedup is a driver-mandated extension. Two tools:

  - :func:`streaming_dedup` — ``dropDuplicatesWithinWatermark``: exact dedup
    on key columns with state bounded by the watermark delay. This is the
    100 TB-safe default: state size ~ unique keys per watermark window, and
    late rows beyond the delay are dropped by the watermark, not the store.
  - :func:`sessionize` — the one sessionizer: a gap-split over window
    functions on a batch DataFrame; on a stream, an
    ``applyInPandasWithState`` operator that holds each session until the
    watermark passes it, so late events merge instead of fragmenting — the
    escape hatch when built-in stateful ops can't express the semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def streaming_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate records (same key columns) arriving within the
    watermark delay. Works on a streaming DataFrame; on a batch DataFrame
    Spark treats it as plain dropDuplicates — same call site for both."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def session_schema(df: DataFrame, key_col: str) -> str:
    """Output schema of :func:`sessionize` for ``df``: the key column keeps
    its input name and type; the aggregates are fixed."""
    key_type = df.schema[key_col].dataType.simpleString()
    return f"{key_col} {key_type}, n_events bigint, first_ts timestamp, last_ts timestamp"


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-key gap-based session aggregation: one row per session
    (key, n_events, first_ts, last_ts); the key column keeps its input
    name and type (see :func:`session_schema`).

    On a batch DataFrame: a gap-split via window functions (lag + running
    session ids) — no state store.

    On a streaming DataFrame: a custom stateful operator
    (``applyInPandasWithState``) that holds EVERY session in state until
    the watermark proves no in-gap event can still arrive, so in-watermark
    late events merge into held sessions instead of fragmenting them
    (append mode cannot retract: emitting gap splits as soon as a batch
    closes them left 774 stream sessions against 946 batch ones on the
    sessionize_late_merge row's late data):

    - State per key = the DISJOINT session intervals still inside the
      watermark horizon, as parallel arrays (n, first_us, last_us).
    - Each event connects to a session iff first-gap <= t <= last+gap
      (exact: inside the span, consecutive points are <= gap apart, so t
      is within gap of a member; outside, the boundary IS the nearest
      member). An event bridging several sessions merges them — counts
      are additive, bounds are min/max, so the interval algebra
      reproduces the batch gap-split over the final event set exactly.
    - One event-time timeout per key at min(last)+gap: when it fires,
      sessions with last+gap STRICTLY behind the watermark emit (every
      mergeable event t <= last+gap < wm is already watermark-dropped —
      they are final); the rest, including a session whose inclusive
      merge boundary t == last+gap == wm could still admit an event,
      re-arm the timeout.

    The stream's output equals the batch gap-split over the admitted
    events once the watermark passes every session end (oracle-checked by
    the events_sessionize_stream and sessionize_late_merge queries). State
    is bounded by watermark_delay + gap per key (a session older than that
    must have emitted), which is the price of late tolerance — choose the
    delay as the max admissible lateness, exactly as for any watermarked
    aggregation.
    """
    import pandas as pd  # noqa: F401  (worker-side)

    if not df.isStreaming:
        from pyspark.sql import Window, functions as F

        gap_us = _duration_to_ms(gap) * 1000
        w = Window.partitionBy(key_col).orderBy(ts_col)
        # microsecond-exact gap arithmetic (second-truncation could flip a
        # boundary decision on sub-second data)
        with_gap = df.withColumn(
            "_new_session",
            (
                F.unix_micros(F.col(ts_col))
                - F.coalesce(F.lag(F.unix_micros(F.col(ts_col))).over(w), F.lit(0))
                > gap_us
            ).cast("int"),
        )
        with_sid = with_gap.withColumn(
            "_sid", F.sum("_new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        return (
            with_sid.groupBy(F.col(key_col), "_sid")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(ts_col).alias("first_ts"),
                F.max(ts_col).alias("last_ts"),
            )
            .drop("_sid")
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = _duration_to_ms(gap)
    gap_us = gap_ms * 1000
    out_schema = session_schema(df, key_col)

    def _emit(key, sessions):
        import pandas as pd

        return pd.DataFrame(
            {
                key_col: [key[0]] * len(sessions),
                "n_events": [s[0] for s in sessions],
                "first_ts": [pd.Timestamp(s[1], unit="us") for s in sessions],
                "last_ts": [pd.Timestamp(s[2], unit="us") for s in sessions],
            }
        )

    def _rearm(state, sessions):
        state.update(
            (
                [s[0] for s in sessions],
                [s[1] for s in sessions],
                [s[2] for s in sessions],
            )
        )
        # Spark rejects a timeout at/behind the current watermark.
        state.setTimeoutTimestamp(
            max(
                min(s[2] for s in sessions) // 1000 + gap_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )

    def _update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            ns, firsts, lasts = state.get
            sessions = sorted(zip(ns, firsts, lasts), key=lambda s: s[1])
            wm_us = state.getCurrentWatermarkMs() * 1000
            due, held = _partition_finalizable(sessions, wm_us, gap_us)
            if held:
                _rearm(state, held)
            else:
                state.remove()
            if due:
                yield _emit(key, due)
            return

        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        rows = pd.concat(frames) if len(frames) > 1 else frames[0]
        ts = rows[ts_col].astype("datetime64[us]").astype("int64").sort_values().to_numpy()
        if state.exists:
            ns, firsts, lasts = state.get
            sessions = [list(s) for s in zip(ns, firsts, lasts)]
        else:
            sessions = []
        for t in ts:
            sessions = _merge_session_event(sessions, int(t), gap_us)
        _rearm(state, sessions)
        return

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=(
                "ns array<bigint>, firsts array<bigint>, lasts array<bigint>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _merge_session_event(
    sessions: list[list[int]], t: int, gap_us: int
) -> list[list[int]]:
    """Fold one event (microsecond ts) into a disjoint session-interval
    set — the algebra under :func:`sessionize`'s streaming state. An event
    connects to a session iff first-gap <= t <= last+gap (inside the
    span, consecutive members are <= gap apart, so t is within gap of a
    member; outside, the boundary IS the nearest member); a bridging
    event merges every connected session (counts additive, bounds
    min/max). Processing ANY permutation of an event set through this
    fold yields exactly the batch gap-split partition of the final set —
    the order-independence property tests/test_streaming.py pins with
    Hypothesis."""
    hits = [
        i for i, s in enumerate(sessions)
        if s[1] - gap_us <= t <= s[2] + gap_us
    ]
    if not hits:
        return sessions + [[1, t, t]]
    merged = [
        sum(sessions[i][0] for i in hits) + 1,
        min(min(sessions[i][1] for i in hits), t),
        max(max(sessions[i][2] for i in hits), t),
    ]
    return [s for i, s in enumerate(sessions) if i not in set(hits)] + [merged]


def _partition_finalizable(
    sessions: list, wm_us: int, gap_us: int
) -> tuple[list, list]:
    """(due, held) split of a session set against the watermark — the
    emission half of :func:`sessionize`'s streaming algebra. STRICT
    inequality: a session finalizes only when its inclusive merge
    horizon (last+gap, see :func:`_merge_session_event`) is strictly
    behind the watermark, so the emission horizon and the merge window
    are mutually exclusive BY CONSTRUCTION (r14 advice): an event that
    could still merge (t <= last+gap) into a due session would satisfy
    t < wm — already watermark-dropped. Module-level so the invariant is
    unit-testable without a streaming harness."""
    due = [s for s in sessions if s[2] + gap_us < wm_us]
    held = [s for s in sessions if s[2] + gap_us >= wm_us]
    return due, held


_DURATION_MS = {
    "millisecond": 1,
    "milliseconds": 1,
    "second": 1000,
    "seconds": 1000,
    "minute": 60_000,
    "minutes": 60_000,
    "hour": 3_600_000,
    "hours": 3_600_000,
    "day": 86_400_000,
    "days": 86_400_000,
}


def _duration_to_ms(s: str) -> int:
    """Parse a Spark-style duration string ('30 minutes', '500 milliseconds',
    '1 day') to integer milliseconds."""
    try:
        qty, unit = s.split()
        return int(qty) * _DURATION_MS[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(
            f"unsupported duration {s!r}: expected '<int> "
            f"{'|'.join(sorted(set(_DURATION_MS)))}'"
        ) from None
