"""Generic entity×time windowed feature functions (SURVEY.md §2.C),
parameterized by (key, ordering, ts) so the same operators serve the
transcript table, the driver's `events` table, or any entity stream.

features/turns.py and features/events.py are the transcript and event
profiles of these primitives; this module is the one implementation of
the trailing-frame arithmetic, also used by __spark_entry__ queries and
external callers. The trailing distinct count and the time-decayed sum
have one implementation, ``add_rolling_frame_features``, which builds
both from a single frame list.

All trailing frames end before the current row (leakage-safe): no
function here takes an option that builds a frame reading the current
row. Every function is a single window over
partitionBy(key) — Catalyst collapses same-spec windows, so chaining
several of these still costs one shuffle on the key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _w(key: str | Sequence[str], order: Sequence[str | Column]):
    keys = [key] if isinstance(key, str) else list(key)
    return Window.partitionBy(*keys).orderBy(*order)


def _us(col: str | Column) -> Column:
    """Epoch-microseconds of a ts expression. The defensive
    ``.cast("timestamp")`` accepts TIMESTAMP_NTZ frames (driver parquet
    read without the ingest cast) — ``unix_micros`` on raw NTZ is a
    DATATYPE_MISMATCH; same pattern as asof.py/intervals.py
    (code-review r6). A no-op on already-TIMESTAMP columns."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def add_lag_lead(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    col: str,
    lags: Sequence[int] = (1,),
    leads: Sequence[int] = (),
    prefix: str | None = None,
) -> DataFrame:
    w = _w(key, order)
    p = prefix or col
    for k in lags:
        df = df.withColumn(f"{p}_lag_{k}", F.lag(col, k).over(w))
    for k in leads:
        df = df.withColumn(f"{p}_lead_{k}", F.lead(col, k).over(w))
    return df


def add_ts_delta(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    ts_col: str = "ts",
    out: str = "ts_delta_prev_s",
) -> DataFrame:
    w = _w(key, order)
    prev = F.lag(ts_col, 1).over(w)
    return df.withColumn(
        out,
        (_us(ts_col) - _us(prev)) / 1_000_000.0,
    )


def add_rolling(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    agg: Column,
    out: str,
    last_n: int,
) -> DataFrame:
    """Trailing row-frame aggregate over the previous ``last_n`` rows
    (the current row excluded)."""
    w = _w(key, order).rowsBetween(-last_n, -1)
    return df.withColumn(out, agg.over(w))


def add_rolling_time(
    df: DataFrame,
    key: str | Sequence[str],
    ts_col: str,
    agg: Column,
    out: str,
    last_seconds: int,
) -> DataFrame:
    """Trailing time-range aggregate over [ts - last_seconds, ts - 1µs]:
    equal-ts peers of the current row are excluded."""
    keys = [key] if isinstance(key, str) else list(key)
    w = (
        Window.partitionBy(*keys)
        .orderBy(_us(ts_col))
        .rangeBetween(-last_seconds * 1_000_000, -1)
    )
    return df.withColumn(out, agg.over(w))


def add_rolling_frame_features(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    ts_col: str,
    value_col: str,
    distinct_col: str,
    distinct_out: str,
    decay_out: str,
    half_life_s: float,
    last_n: int,
) -> DataFrame:
    """Trailing distinct count and exponentially time-decayed sum over
    the previous ``last_n`` rows, both read from ONE collected frame
    list (VERDICT r5 #5: one ``struct(us, v, tag)`` buffer in the Window
    operator instead of a collect_set plus a collect_list, then JVM
    higher-order functions derive both columns in one pass).

    - ``distinct_out``: number of distinct non-NULL ``distinct_col``
      values in the frame (novelty/diversity signals); an empty frame
      gives 0, never NULL or -1.
    - ``decay_out``: Σ vᵢ · 2^(−ageᵢ/half_life_s) with ageᵢ = current
      ts − tsᵢ (recency-weighted engagement). Ages clamp at 0, so every
      exponent is ≤ 0 and the sum cannot overflow at any time span; a
      frame row ordered after the current row by a non-``ts``-led
      ``order`` weighs at most 1 (code-review r5). The classic unbounded
      factorization S = 2^(−t/h)·Σ vᵢ2^(tᵢ/h) overflows past ~1000
      half-lives of span; the bounded frame also keeps per-row state
      O(last_n). NULL-value and NULL-``ts`` frame rows contribute 0 (as
      SQL ``sum`` skips them); a NULL ``ts`` on the current row gives
      NULL (no reference instant); an empty frame gives 0.0.

    The frame ends at −1 — leakage-safe per the module contract."""
    import math

    w = _w(key, order).rowsBetween(-last_n, -1)
    us = _us(ts_col)
    frame = F.collect_list(
        F.struct(
            us.alias("us"),
            F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)).alias("v"),
            F.col(distinct_col).alias("tag"),
        )
    ).over(w)
    df = df.withColumn("__frame", frame)
    fr = F.col("__frame")
    tags = F.filter(
        F.transform(fr, lambda p: p["tag"]), lambda t: t.isNotNull()
    )
    lam = math.log(2.0) / (float(half_life_s) * 1e6)  # per-microsecond
    age = lambda p: F.greatest(  # noqa: E731 — local weight helper
        (us - p["us"]).cast("double"), F.lit(0.0)
    )
    decayed = F.aggregate(
        fr,
        F.lit(0.0),
        lambda acc, p: acc
        + F.when(
            p["us"].isNotNull(), p["v"] * F.exp((-lam) * age(p))
        ).otherwise(F.lit(0.0)),
    )
    return (
        df.withColumn(
            distinct_out,
            F.coalesce(F.size(F.array_distinct(tags)), F.lit(0)).cast("int"),
        )
        .withColumn(decay_out, F.when(us.isNotNull(), decayed))
        .drop("__frame")
    )


def add_cumulative(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    agg: Column,
    out: str,
) -> DataFrame:
    """Running aggregate over every earlier row of the key (the current
    row excluded)."""
    w = _w(key, order).rowsBetween(Window.unboundedPreceding, -1)
    return df.withColumn(out, agg.over(w))


def add_session_id(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    ts_col: str = "ts",
    gap_s: int = 1800,
    out: str = "session_id",
) -> DataFrame:
    """Gap sessionization (0-based per key): new session when the gap to
    the previous row exceeds gap_s."""
    w = _w(key, order)
    prev = F.lag(ts_col, 1).over(w)
    is_new = (
        F.when(prev.isNull(), F.lit(0))
        .when(
            (_us(ts_col) - _us(prev))
            > gap_s * 1_000_000,
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    w_cum = _w(key, order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(is_new).over(w_cum).cast("int"))


def add_session_id_capped(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[str],
    ts_col: str = "ts",
    gap_s: int = 1800,
    max_duration_s: int = 3600,
    out: str = "session_id",
    part_out: str = "session_part",
) -> DataFrame:
    """Gap sessionization PLUS a maximum session duration — the
    production variant that caps runaway sessions (bots, stuck clients)
    so per-session state and aggregates stay bounded: a gap-session
    longer than ``max_duration_s`` splits at fixed ``max_duration_s``
    offsets from its own start (part k covers
    [start + k·max, start + (k+1)·max)). Emits the base gap session in
    ``out`` and the 0-based duration slice in ``part_out``; the capped
    session identity is (key, out, part_out).

    Plan shape: the slice is one more window over (key, session) — a
    REFINEMENT of the sessionizer's key partitioning, which Spark's
    ClusteredDistribution accepts as-is, so this costs a sort but ZERO
    additional exchanges (plan-asserted)."""
    df = add_session_id(df, key, order, ts_col, gap_s, out)
    keys = [key] if isinstance(key, str) else list(key)
    w_sess = Window.partitionBy(*keys, out).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    us = _us(ts_col)
    start = F.min(us).over(w_sess)
    part = F.floor((us - start) / F.lit(int(max_duration_s) * 1_000_000))
    return df.withColumn(part_out, part.cast("int"))


def session_aggregates(
    df_with_sessions: DataFrame,
    key: str | Sequence[str],
    ts_col: str = "ts",
    session_col: str = "session_id",
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    keys = [key] if isinstance(key, str) else list(key)
    return df_with_sessions.groupBy(*keys, session_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_rows"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            (_us(F.max(ts_col)) - _us(F.min(ts_col)))
            / 1_000_000.0
        ).alias("duration_s"),
        *extra_aggs,
    )


def top_k_per_key(
    df: DataFrame,
    key: str | Sequence[str],
    order: Sequence[Column],
    k: int,
    out: str = "rank",
) -> DataFrame:
    """Deterministic top-k per key (pass fully-deterministic ordering)."""
    w = _w(key, order)
    return df.withColumn(out, F.row_number().over(w)).where(F.col(out) <= k)


def add_group_zscore(
    df: DataFrame,
    key: str | Sequence[str],
    col: str,
    out: str | None = None,
) -> DataFrame:
    """Group-wise z-score normalization: (x - mean_g) / stddev_g over
    the rows of each ``key`` group — the standard feature-scaling step
    before bundling features for training. One unbounded window over
    the group partitioning (a single hash exchange, reused by any other
    same-key window in the plan); groups with zero/undefined variance
    (single row, constant value) yield NULL rather than +/-inf.

    NOTE: this is a FULL-GROUP statistic, not a trailing frame — it
    sees the whole group including later rows, so it belongs in
    label-free preprocessing (scaling a feature matrix), never in the
    leakage-safe point-in-time feature suite. For a leakage-safe
    variant, compute mean/std over a trailing frame instead."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mu = F.avg(col).over(w)
    sd = F.stddev_samp(col).over(w)
    z = F.when(sd > 0, (F.col(col) - mu) / sd)
    return df.withColumn(out or f"{col}_zscore", z)


def add_rolling_zscore(
    df: DataFrame,
    key: str | Sequence[str],
    col: str,
    order: Sequence[str | Column],
    n: int = 100,
    out: str | None = None,
) -> DataFrame:
    """LEAKAGE-SAFE z-score: normalize each row against the mean/std of
    the previous ``n`` rows only — the trailing frame ends at -1
    (strictly before the current row), per the repo's leakage contract,
    so the statistic never sees the row it normalizes nor anything
    later. This is the variant that belongs INSIDE the point-in-time
    feature suite (add_group_zscore's docstring points here).

    Same single hash exchange as every other same-key window; rows with
    fewer than 2 prior observations, or a zero-variance trailing frame,
    yield NULL rather than +/-inf. Pass a fully-deterministic ``order``
    (e.g. (ts, event_id)) — ties would otherwise make the trailing
    frame, and therefore the feature, nondeterministic."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order).rowsBetween(-n, -1)
    mu = F.avg(col).over(w)
    sd = F.stddev_samp(col).over(w)
    z = F.when(sd > 0, (F.col(col) - mu) / sd)
    return df.withColumn(out or f"{col}_zscore_trailing", z)
