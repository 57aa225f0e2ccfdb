"""Per-conversation turn features (SURVEY.md §2.C C3-C8, C13-C14).

The transcript profile of ``functions/windowed.py``: every frame-based
feature DELEGATES to that module — the one implementation of the
leakage-critical frame arithmetic (events.py is the other profile) —
over the key ``conv_id`` ordered by ``turn_idx``:

- ``ts_delta_prev`` → ``W.add_ts_delta``;
- ``turns_so_far``, ``cum_tool_calls`` → ``W.add_cumulative``;
- ``user_turns_last_10``, ``tool_calls_last_10`` → ``W.add_rolling``;
- ``tool_calls_last_600s`` → ``W.add_rolling_time``;
- ``session_id`` → ``W.add_session_id``.

Every trailing frame there ends before the current row, so no feature
at ts reads the current or any later turn — the zero-temporal-leakage
rule of BASELINE.json:6/14. What stays here is transcript-specific: the
canonical window, the lags/lead (no frame), the
``turn_in_session``/``session_start_ts`` boundary carry, the dedup
guard and the registry. The only current-row features are
definitionally current-row (text_len, is_tool_turn). ``next_role`` (a
lead) exists for label construction only and must never enter as-of
snapshots (FIXTURES.md §5).

Scale notes (100TB mindset):
- Every window here partitions by conv_id, so without checkpoints the
  whole golden suite costs ONE shuffle, a hash Exchange on conv_id
  (``tests/test_plans.py::test_feature_suite_single_shuffle``). It is
  not one Window operator: Catalyst merges same-spec windows only when
  their inputs sit in one Project, so that plan holds 9 Window
  operators over 3 intra-partition Sorts.
- Time-range windows re-sort by unix_micros(ts) within the same
  conv_id partitioning — an intra-partition sort, not a second shuffle.
- With the ``conf/run.yml`` checkpoint nodes (session_id,
  tool_calls_last_10) the cold plan that perfbench runs has 7 Window
  operators over 3 Sorts on the one Exchange, plus 2 BroadcastExchanges
  that join the checkpoint tables back by key. ``turn_in_session`` and
  ``session_start_ts`` each evaluate the same ``lag(session_id)`` pair
  (``_session_boundary``) in Windows of their own.
- Skew (giant conversations): nothing here or in the engine splits a
  giant conversation — its window runs in one task. Splitting one
  would belong in the engine, per node; these functions stay
  declarative.

Registry: :func:`transcript_nodes` wires the features into FeatureNodes
for the DAG engine (feagen @will_generate analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..core.spec import FeatureNode, FeatureTemplate
from ..functions import windowed as W

KEY = "conv_id"
ORDER = ("turn_idx",)
SESSION_GAP_S = 1800


def _w_conv():
    """Canonical per-conversation window: stable total order (turn_idx is
    unique per conv — C3 stable ordering). Built lazily: pyspark 4 needs
    an active session to construct WindowSpecs."""
    return Window.partitionBy(KEY).orderBy(*ORDER)


def _n_role(role: str):
    return F.sum((F.col("role") == role).cast("int"))


def _int0(df: DataFrame, out: str) -> DataFrame:
    """Empty frame → 0, as int."""
    return df.withColumn(out, F.coalesce(F.col(out), F.lit(0)).cast("int"))


# -- C13: text scalars (current-row by definition) ---------------------------

def add_text_len(df: DataFrame) -> DataFrame:
    return df.withColumn("text_len", F.length("text").cast("int"))


def add_is_tool_turn(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "is_tool_turn", (F.col("role") == "tool").cast("int")
    )


# -- C4: lag/lead ------------------------------------------------------------

def add_prev_role(df: DataFrame) -> DataFrame:
    return df.withColumn("prev_role", F.lag("role", 1).over(_w_conv()))


def add_next_role(df: DataFrame) -> DataFrame:
    # lead: training-label use only; excluded from as-of snapshots
    return df.withColumn("next_role", F.lead("role", 1).over(_w_conv()))


def add_ts_delta_prev(df: DataFrame) -> DataFrame:
    """Seconds since previous turn (null on first turn of conv)."""
    return W.add_ts_delta(df, KEY, ORDER, "ts", out="ts_delta_prev")


def make_lag_template() -> FeatureTemplate:
    """feagen regex-key analogue: `<col>_lag_<k>` for any input column."""

    def make(m):
        col, k = m.group("col"), int(m.group("k"))
        name = f"{col}_lag_{k}"

        def fn(df, _c=col, _k=k, _n=name):
            return df.withColumn(_n, F.lag(_c, _k).over(_w_conv()))

        return FeatureNode(name=name, outputs=(name,), deps=(col,), fn=fn)

    return FeatureTemplate(
        pattern=r"(?P<col>\w+)_lag_(?P<k>\d+)", make=make, name="lag_template"
    )


# -- C6: cumulative (excludes the current turn) -------------------------------

def add_turns_so_far(df: DataFrame) -> DataFrame:
    df = W.add_cumulative(df, KEY, ORDER, F.count(F.lit(1)), "turns_so_far")
    return df.withColumn("turns_so_far", F.col("turns_so_far").cast("int"))


def add_cum_tool_calls(df: DataFrame) -> DataFrame:
    df = W.add_cumulative(df, KEY, ORDER, _n_role("tool"), "cum_tool_calls")
    return _int0(df, "cum_tool_calls")


# -- C5: rolling counts ------------------------------------------------------

def add_user_turns_last_10(df: DataFrame) -> DataFrame:
    out = "user_turns_last_10"
    return _int0(W.add_rolling(df, KEY, ORDER, _n_role("user"), out, 10), out)


def add_tool_calls_last_10(df: DataFrame) -> DataFrame:
    out = "tool_calls_last_10"
    return _int0(W.add_rolling(df, KEY, ORDER, _n_role("tool"), out, 10), out)


def add_tool_calls_last_600s(df: DataFrame) -> DataFrame:
    """Trailing 600s time window, strictly before current ts (equal-ts
    peers excluded: frame is [ts-600s, ts-1µs])."""
    out = "tool_calls_last_600s"
    df = W.add_rolling_time(df, KEY, "ts", _n_role("tool"), out, 600)
    return _int0(df, out)


# -- C7: sessionization + in-session position ---------------------------------

def add_session_id(df: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Gap sessionization: new session when ts - prev ts > gap_s.
    session_id is 0-based per conversation."""
    return W.add_session_id(df, KEY, ORDER, "ts", gap_s=gap_s)


def _session_boundary():
    """First-row-of-session predicate, computed over the SAME conv_id
    partitioning as everything else (no (conv, session) re-shuffle)."""
    w = _w_conv()
    prev_sid = F.lag("session_id", 1).over(w)
    return prev_sid.isNull() | (prev_sid != F.col("session_id"))


def add_turn_in_session(df: DataFrame) -> DataFrame:
    """0-based index of the turn within its session (needs session_id).

    Boundary-carry formulation: idx − idx_of_last_session_start, all
    over the conv_id partitioning — keeps the whole feature suite on ONE
    exchange (a (conv_id, session_id) window would add a second)."""
    w = _w_conv()
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    idx = F.row_number().over(w) - 1
    start_idx = F.last(
        F.when(_session_boundary(), idx), ignorenulls=True
    ).over(w_cum)
    return df.withColumn("turn_in_session", (idx - start_idx).cast("int"))


def add_session_start_ts(df: DataFrame) -> DataFrame:
    """ts of the first turn of the current session (same one-exchange
    boundary-carry trick as add_turn_in_session)."""
    w_cum = _w_conv().rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(
        "session_start_ts",
        F.last(F.when(_session_boundary(), F.col("ts")), ignorenulls=True).over(
            w_cum
        ),
    )


# -- DAG registry -------------------------------------------------------------

def transcript_nodes() -> list[FeatureNode]:
    """The golden feature set (FIXTURES.md §5) as DAG nodes."""
    n = FeatureNode
    return [
        n("text_len", ("text_len",), ("text",), add_text_len),
        n("is_tool_turn", ("is_tool_turn",), ("role",), add_is_tool_turn),
        n("prev_role", ("prev_role",), ("conv_id", "turn_idx", "role"), add_prev_role),
        n("next_role", ("next_role",), ("conv_id", "turn_idx", "role"), add_next_role),
        n("ts_delta_prev", ("ts_delta_prev",), ("conv_id", "turn_idx", "ts"), add_ts_delta_prev),
        n("turns_so_far", ("turns_so_far",), ("conv_id", "turn_idx"), add_turns_so_far),
        n("cum_tool_calls", ("cum_tool_calls",), ("conv_id", "turn_idx", "role"), add_cum_tool_calls),
        n("user_turns_last_10", ("user_turns_last_10",), ("conv_id", "turn_idx", "role"), add_user_turns_last_10),
        n("tool_calls_last_10", ("tool_calls_last_10",), ("conv_id", "turn_idx", "role"), add_tool_calls_last_10),
        n("tool_calls_last_600s", ("tool_calls_last_600s",), ("conv_id", "ts", "role"), add_tool_calls_last_600s),
        n("session_id", ("session_id",), ("conv_id", "turn_idx", "ts"), add_session_id),
        n("turn_in_session", ("turn_in_session",), ("conv_id", "turn_idx", "session_id"), add_turn_in_session),
        n("session_start_ts", ("session_start_ts",), ("conv_id", "turn_idx", "ts", "session_id"), add_session_start_ts),
    ]


def transcript_templates() -> list[FeatureTemplate]:
    return [make_lag_template()]
