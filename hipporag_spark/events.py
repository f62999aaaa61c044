"""Event-stream analytics: watermarked windowed aggregation and stateful
sessionization — batch and Structured Streaming from the same code.

The reference engine has no event-time semantics at all (its closest
analog is batch re-indexing; see :mod:`.streaming`), so this module is
engine-native surface for the ``events`` table shape
``(event_id, ts, user_id, event_type, value, props)``:

- :func:`windowed_stats` — tumbling-window per-event-type counts/sums.
  The SAME function body serves batch DataFrames and streams (pass
  ``watermark=`` on a stream to bound state and drop late data) — the
  Structured Streaming unification working as intended.
- :func:`sessionize` — batch sessionization: split each user's events
  into sessions at inactivity gaps > ``gap``.  Window functions only
  (lag → flag → running sum → groupBy); one shuffle on ``user_id``.
- :func:`sessionize_stream` — the SAME session semantics as a custom
  stateful streaming operator via ``applyInPandasWithState``: per-user
  state holds EVERY session interval the watermark has not yet sealed
  (multi-interval state, ADVICE r4 item 3), and an interval is emitted
  exactly when the watermark passes its ``end + gap`` — the first
  moment Spark's watermark contract guarantees no surviving event can
  still merge into it (any merge candidate would carry an event time
  ≤ end + gap ≤ watermark and is dropped before reaching the
  operator).  Consequence: for every event the watermark admits, the
  stream's emitted sessions equal :func:`sessionize` on the same rows
  EXACTLY — the single residual divergence vs batch is the watermark
  contract itself (events older than the watermark never reach any
  stateful operator).  Out-of-order events inside one micro-batch and
  cross-batch late events within the watermark are both handled by the
  same interval-merge (a late event can extend an interval backwards,
  bridge two held intervals into one, or open its own).

Numeric note: ``value`` sums are computed in ``decimal(18,2)`` and cast
back to double, so results are independent of partitioning/aggregation
order — this is what lets the DuckDB oracles (gates ``event_windows``,
``sessions``) match bit-for-bit.

Scale: windowed agg is a standard two-phase (partial/final) hash agg
keyed on (window, event_type) — map-side combined, skew-free.  Batch
sessionization shuffles once on ``user_id``; a hot user is bounded by
their own event count, not the corpus.  The streaming path keeps O(1)
state per active user and the watermark expires idle users' state.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["windowed_stats", "sessionize", "sessionize_stream"]


def _dec_sum(col):
    # order-independent exact sum for 2-decimal values
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def windowed_stats(events: DataFrame, window: str = "10 minutes",
                   watermark: str | None = None) -> DataFrame:
    """``(window_start, event_type, n_events, sum_value, avg_value)``
    per tumbling event-time window.  Works identically on a batch
    DataFrame and a ``readStream`` source; set ``watermark`` on streams
    (e.g. ``"30 minutes"``) to bound state and define lateness."""
    df = events
    if watermark is not None:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            (F.col("sum_value") / F.col("n_events")).alias("avg_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: ``(user_id, session_seq, session_start,
    session_end, n_events, total_value)`` — a new session starts when a
    user is idle longer than ``gap_minutes``.  Event-time comparisons in
    exact integer microseconds; ties pinned by ``event_id``."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet event times are TIMESTAMP_NTZ; the session zone is
    # pinned to UTC (session.py) so this cast is a pure relabel
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    is_new = F.when(
        prev.isNull() | ((us - prev) > F.lit(gap_us)), F.lit(1)
    ).otherwise(F.lit(0))
    seq = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        events.select("user_id", "event_id", "ts", "value", seq.alias("session_seq"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value").alias("total_value"),
        )
    )


SESSION_OUT_SCHEMA = ("user_id long, session_start timestamp, "
                      "session_end timestamp, n_events long, total_value double")
# the state format tag every state row carries; bump it whenever the
# meaning of the fields below changes
_STATE_FORMAT = "sessionize-intervals/2"
# the format tag, then parallel arrays: one entry per held
# (watermark-unsealed) interval, sorted by start_us ascending
_STATE_SCHEMA = ("state_format string, starts_us array<long>, lasts_us array<long>, "
                 "ns array<long>, total_cents array<long>")


def _held_intervals(state, state_format: str) -> list[list[int]]:
    """The intervals in ``state``, after checking that its format tag is
    ``state_format``."""
    found, starts, lasts, ns, cents = state.get
    if found != state_format:
        raise ValueError(
            f"sessionize_stream state has format {found!r}, this code reads "
            f"{state_format!r}; restart the query from a fresh checkpoint location")
    return [[int(s), int(e), int(n_), int(c_)]
            for s, e, n_, c_ in zip(starts, lasts, ns, cents)]


def sessionize_stream(events: DataFrame, gap_minutes: int = 30,
                      watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization with the SAME semantics as
    :func:`sessionize` via ``applyInPandasWithState`` (the task-level
    custom stateful operator): emits
    ``(user_id, session_start, session_end, n_events, total_value)``
    for every session the watermark has sealed — an interval leaves
    state exactly when the watermark passes ``session_end + gap``, the
    first moment no admissible event can still merge into it (a merge
    candidate has event time ≤ end + gap, which the watermark already
    drops).  Until then EVERY unsealed interval is held in state
    (multi-interval, ADVICE r4 item 3), so a late event inside the
    watermark merges into exactly the interval the batch op would put
    it in — including bridging two held intervals into one.  Emitted
    sessions therefore equal :func:`sessionize` row-for-row over the
    events the watermark admits.

    State per user is bounded by the watermark horizon, not the stream:
    held intervals end within ``[wm - gap, wm + watermark]`` (older ones
    are sealed, later events don't exist yet) and consecutive ends are
    more than ``gap`` apart, so there are at most
    ``watermark/gap + 2`` of them (4 at the 1 h / 30 min defaults).

    ``session_seq`` is deliberately absent from the streaming output: a
    stream cannot know a user's historical session count without
    unbounded state; join on ``(user_id, session_start)`` instead.

    Checkpoint compatibility: every state row carries the state format
    tag ``_STATE_FORMAT``.  A restart that finds state of another format
    fails with a ``ValueError`` naming both formats; restart such a query
    from a fresh checkpoint location.  Checkpoints written before the tag
    existed hold a state schema without it, which Spark's state schema
    check rejects at restart.
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000
    # read once here, so the workers write and expect the tag of the
    # code that defined the query
    state_format = _STATE_FORMAT

    def _emit(user_id, sealed):
        return pd.DataFrame(
            {"user_id": [user_id] * len(sealed),
             "session_start": [pd.Timestamp(s, unit="us") for s, *_ in sealed],
             "session_end": [pd.Timestamp(e, unit="us") for _, e, *_ in sealed],
             "n_events": [n_ for *_, n_, _t in sealed],
             "total_value": [t_ / 100.0 for *_, t_ in sealed]})

    def _seal_and_update(user_id, merged, state):
        # seal = watermark strictly past end + gap (an event AT
        # end + gap still merges, and Spark admits rows at the
        # watermark boundary, so equality must keep the interval open)
        wm_us = state.getCurrentWatermarkMs() * 1000
        sealed = [iv for iv in merged if iv[1] + gap_us < wm_us]
        held = [iv for iv in merged if iv[1] + gap_us >= wm_us]
        if held:
            state.update((
                state_format,
                [int(iv[0]) for iv in held],
                [int(iv[1]) for iv in held],
                [int(iv[2]) for iv in held],
                [int(iv[3]) for iv in held],
            ))
            # wake when the earliest held interval's seal time passes;
            # +1 ms so the timeout is strictly past end + gap AND
            # strictly ahead of the current watermark (required by the
            # EventTimeTimeout contract when end + gap == watermark)
            due_ms = min(int(iv[1]) + gap_us for iv in held) // 1000 + 1
            state.setTimeoutTimestamp(max(due_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        if sealed:
            yield _emit(user_id, sealed)

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        (user_id,) = key
        if state.hasTimedOut:
            yield from _seal_and_update(user_id, _held_intervals(state, state_format), state)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = rows["ts"].astype("int64")  # ns -> derive us below
        ts_us = (ts_us // 1000).to_numpy()
        # NULL values contribute 0 to the sum — same semantics as the
        # batch path's nan-skipping decimal sum (and no non-finite crash)
        cents = (rows["value"].fillna(0.0).round(2) * 100).round().astype("int64").to_numpy()
        # Interval-merge the held intervals with the batch's events,
        # sorted by event time — identical to what the batch
        # sessionizer's lag/flag/sum computes over the union of rows:
        # an event within ``gap`` of an interval folds in (extending
        # its start backwards or its end forwards), an event bridging
        # two held intervals fuses them, and anything farther than a
        # gap from everything opens its own interval.
        items = ([tuple(iv) for iv in _held_intervals(state, state_format)]
                 if state.exists else [])
        items += [(int(ts_us[i]), int(ts_us[i]), 1, int(cents[i]))
                  for i in range(len(rows))]
        items.sort(key=lambda x: (x[0], x[1]))
        merged = [list(items[0])]
        for s, e, n_, c_ in items[1:]:
            cur = merged[-1]
            if s - cur[1] <= gap_us:
                cur[0] = min(cur[0], s)
                cur[1] = max(cur[1], e)
                cur[2] += n_
                cur[3] += c_
            else:
                merged.append([s, e, n_, c_])
        yield from _seal_and_update(user_id, merged, state)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
