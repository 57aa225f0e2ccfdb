"""Interval containment join (attribution workloads): match each event
to every interval of the same key that contains its timestamp — "which
session/campaign/incident does this event belong to".

Spark has no native interval join; the naive formulation is a theta
join (``e.ts BETWEEN i.start AND i.end``) which Catalyst plans as a
BroadcastNestedLoopJoin or cartesian product — quadratic and
unshippable at scale. The standard scalable shape (same trick as the
as-of chunking and LSH banding): bucket TIME into fixed chunks,
explode each interval to every chunk it overlaps, equi-join events on
(key, chunk), then apply the exact containment predicate. Each event
lives in exactly ONE chunk, so a matching (event, interval) pair meets
exactly once — no dedup pass needed.

The join is inner and end-inclusive, the semantics of the one caller,
``q_ev_session_attribution`` (purchase → containing session): the
sessionizer's bounds are end-inclusive too, and an event outside every
interval is dropped.

Cost model: interval duplication = ceil(length / chunk_span) rows per
interval; candidate fan-in per event = intervals overlapping its chunk.
Pick ``chunk_span_s`` near the median interval length — shorter spans
duplicate intervals, longer spans widen the candidate filter. Both
failure modes degrade linearly, never quadratically.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

_CHUNK = "__iv_chunk"


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    chunk_span_s: int = 3600,
) -> DataFrame:
    """Join each event row to the interval rows (same ``on`` key) whose
    [start, end] contains its timestamp, end-inclusive. Events that no
    interval contains are dropped. Overlapping intervals produce one
    output row per containing interval — containment, not as-of,
    semantics. Intervals with start > end are dropped.
    """
    on = list(on)
    # non-key name collisions would make the joined output ambiguous
    overlap = (set(events.columns) & set(intervals.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"events and intervals share non-key columns {sorted(overlap)}; "
            f"rename one side before interval_join"
        )
    span_us = int(chunk_span_s) * 1_000_000

    ev_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    e = events.withColumn(_CHUNK, F.floor(ev_us / F.lit(span_us)))

    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    iv = intervals.where(s_us <= e_us).withColumn(
        _CHUNK,
        F.explode(
            F.sequence(F.floor(s_us / F.lit(span_us)), F.floor(e_us / F.lit(span_us)))
        ),
    )

    contained = (s_us <= ev_us) & (ev_us <= e_us)
    return e.join(iv, on=[*on, _CHUNK]).where(contained).drop(_CHUNK)
