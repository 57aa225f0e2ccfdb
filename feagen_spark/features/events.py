"""Event-stream feature nodes: the features/turns.py machinery
retargeted at a generic (user_id, ts, event_id) event table — the
driver's `events` — so the ENGINE COMPOSITION (DAG resolution, template
expansion, topological execution, A1-A6) is exercised end-to-end by an
oracle-checked query, not only by unit tests.

Same scale contract as the transcript profile: every row-frame window
shares ONE partitioning (user_id, ordered by (ts, event_id)), so the
whole node set compiles to a single Exchange; the time-range window
re-sorts by unix_micros(ts) within the same partitioning (an
intra-partition sort, not a second shuffle). All trailing frames end
before the current row (leakage-safe, BASELINE.json:14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..core.spec import FeatureNode, FeatureTemplate
from ..functions import windowed as W

KEY = "user_id"
ORDER = ("ts", "event_id")
SESSION_GAP_S = 1800


def _w():
    """Canonical per-entity window (built lazily: pyspark 4 needs an
    active session to construct WindowSpecs)."""
    return Window.partitionBy(KEY).orderBy(*ORDER)


# The frame-sensitive features DELEGATE to functions/windowed.py — the
# one implementation of the leakage-critical frame arithmetic, profiled
# here for (user_id, (ts, event_id)) as features/turns.py profiles it for
# (conv_id, turn_idx).

def add_prev_event_type(df: DataFrame) -> DataFrame:
    return df.withColumn("prev_event_type", F.lag("event_type", 1).over(_w()))


def add_ts_delta_prev_s(df: DataFrame) -> DataFrame:
    return W.add_ts_delta(df, KEY, ORDER, "ts", out="ts_delta_prev_s")


def add_n_so_far(df: DataFrame) -> DataFrame:
    return W.add_cumulative(df, KEY, ORDER, F.count(F.lit(1)), "n_so_far")


def add_cum_value(df: DataFrame) -> DataFrame:
    df = W.add_cumulative(df, KEY, ORDER, F.sum("value"), "cum_value")
    return df.withColumn("cum_value", F.coalesce("cum_value", F.lit(0.0)))


def add_value_sum_last_10(df: DataFrame) -> DataFrame:
    df = W.add_rolling(
        df, KEY, ORDER, F.sum("value"), "value_sum_last_10", last_n=10
    )
    return df.withColumn(
        "value_sum_last_10", F.coalesce("value_sum_last_10", F.lit(0.0))
    )


def add_n_events_600s(df: DataFrame) -> DataFrame:
    """Trailing 600s time frame, strictly before current ts."""
    df = W.add_rolling_time(
        df, KEY, "ts", F.count(F.lit(1)), "n_events_600s", last_seconds=600
    )
    return df.withColumn(
        "n_events_600s", F.coalesce("n_events_600s", F.lit(0))
    )


def add_session_id(df: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    return W.add_session_id(df, KEY, ORDER, "ts", gap_s=gap_s)


def add_rolling_frame_r5(df: DataFrame) -> DataFrame:
    """Trailing novelty/diversity + recency-weighted engagement (r5)
    as ONE fused node (VERDICT r5 #5): both features share the last-10
    frame, so the DAG pays a single collect_list materialization
    instead of a collect_set + a collect_list in the same Window
    operator (W.add_rolling_frame_features states the NULL and
    empty-frame contract)."""
    return W.add_rolling_frame_features(
        df, KEY, ORDER, "ts", "value",
        distinct_col="event_type", distinct_out="n_types_last_10",
        decay_out="value_decay_600s", half_life_s=600, last_n=10,
    )


def make_last_value_template() -> FeatureTemplate:
    """Regex data key `last_<etype>_value`: latest strictly-prior value
    of events of that type, carried forward per user (the as-of state
    family as a template — feagen's regex keys, A2)."""

    def make(m):
        etype = m.group("etype")
        name = f"last_{etype}_value"

        def fn(df, _e=etype, _n=name):
            last = F.last(
                F.when(F.col("event_type") == _e, F.col("value")),
                ignorenulls=True,
            )
            return W.add_cumulative(df, KEY, ORDER, last, _n)

        return FeatureNode(
            name=name,
            outputs=(name,),
            deps=(KEY, "ts", "event_id", "event_type", "value"),
            fn=fn,
        )

    return FeatureTemplate(
        pattern=r"last_(?P<etype>[a-z]+)_value",
        make=make,
        name="last_value_template",
    )


def make_lag_template() -> FeatureTemplate:
    """Regex data key `<col>_lag_<k>` over the event ordering."""

    def make(m):
        col, k = m.group("col"), int(m.group("k"))
        name = f"{col}_lag_{k}"

        def fn(df, _c=col, _k=k, _n=name):
            return df.withColumn(_n, F.lag(_c, _k).over(_w()))

        return FeatureNode(
            name=name, outputs=(name,), deps=(KEY, "ts", "event_id", col), fn=fn
        )

    return FeatureTemplate(
        pattern=r"(?P<col>\w+?)_lag_(?P<k>\d+)", make=make, name="ev_lag_template"
    )


def event_nodes() -> list[FeatureNode]:
    n = FeatureNode
    base = (KEY, "ts", "event_id")
    return [
        n("prev_event_type", ("prev_event_type",), base + ("event_type",), add_prev_event_type),
        n("ts_delta_prev_s", ("ts_delta_prev_s",), base, add_ts_delta_prev_s),
        n("n_so_far", ("n_so_far",), base, add_n_so_far),
        n("cum_value", ("cum_value",), base + ("value",), add_cum_value),
        n("value_sum_last_10", ("value_sum_last_10",), base + ("value",), add_value_sum_last_10),
        n("n_events_600s", ("n_events_600s",), base, add_n_events_600s),
        n("session_id", ("session_id",), base, add_session_id),
        n("rolling_frame_r5", ("n_types_last_10", "value_decay_600s"),
          base + ("event_type", "value"), add_rolling_frame_r5),
    ]


def event_templates() -> list[FeatureTemplate]:
    # order matters: the more specific last_*_value pattern is tried
    # first (the generic lag pattern would not match it anyway, but the
    # intent should be explicit)
    return [make_last_value_template(), make_lag_template()]
