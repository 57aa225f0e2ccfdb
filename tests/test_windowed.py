"""Generic windowed-function edge cases (functions/windowed.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from feagen_spark.functions import windowed as W


def test_add_rolling_include_current_frame_is_last_n_rows(spark):
    """The rolling frame is exactly the previous last_n rows: never the
    current row, never last_n+1 rows."""
    df = spark.createDataFrame(
        [("k", i, float(i)) for i in range(1, 7)], "k string, o int, v double"
    )
    excl = (
        W.add_rolling(df, "k", ("o",), F.sum("v"), "s", last_n=3)
        .orderBy("o")
        .toPandas()
    )
    # exclusive: previous 3 rows → [None,1,3,6,9,12]
    assert excl["s"].fillna(-1).tolist() == [-1.0, 1.0, 3.0, 6.0, 9.0, 12.0]


def test_session_id_capped_semantics_and_plan(spark):
    """Capped sessions: part k covers [start + k*max, start + (k+1)*max)
    within a gap session; a new gap session resets the anchor. The part
    window refines the sessionizer's key partitioning, so the whole
    thing still costs exactly ONE exchange."""
    import re

    from feagen_spark.functions.windowed import add_session_id_capped

    rows = [
        # one long session (gap 100s never exceeded), 250s span, cap 100s
        ("u1", 1, 0), ("u1", 2, 50), ("u1", 3, 100), ("u1", 4, 199),
        ("u1", 5, 250),
        # gap of 1000s -> new session, anchor resets
        ("u1", 6, 1250), ("u1", 7, 1349),
    ]
    df = spark.createDataFrame(rows, "user_id string, event_id long, sec long").select(
        "user_id", "event_id",
        F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
    )
    out = add_session_id_capped(
        df, "user_id", ("ts", "event_id"), "ts",
        gap_s=100, max_duration_s=100,
    )
    # plan BEFORE executing: an executed AQE plan prints final+initial
    # sections, double-counting every Exchange line
    plan = out._jdf.queryExecution().executedPlan().toString()
    got = {
        r["event_id"]: (r["session_id"], r["session_part"])
        for r in out.collect()
    }
    assert got == {
        1: (0, 0), 2: (0, 0),
        3: (0, 1),            # exactly at start+max -> next part
        4: (0, 1), 5: (0, 2),
        6: (1, 0), 7: (1, 0), # new gap session, anchor reset
    }, got

    hash_ex = [
        l
        for l in plan.splitlines()
        if re.search(r"\bExchange\b", l) and "hashpartitioning" in l
    ]
    assert len(hash_ex) == 1, plan


# -- property-based: windowed core vs a loop reference ------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @settings(max_examples=10, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from("ab"),
                st.integers(0, 200),   # seconds
                st.integers(-3, 3),    # value
            ),
            min_size=1, max_size=25,
        ),
        gap=st.integers(5, 60),
        n=st.integers(1, 4),
    )
    def test_windowed_core_property(spark, rows, gap, n):
        """add_rolling / add_cumulative / add_session_id /
        add_rolling_time on random irregular streams (duplicate
        timestamps included) must match a python loop reference —
        trailing frames strictly exclude the current row, sessions
        split at delta > gap, time frames exclude equal-ts peers."""
        from feagen_spark.functions.windowed import (
            add_cumulative,
            add_rolling,
            add_rolling_time,
            add_session_id,
        )

        data = [
            (i, k, s, float(v)) for i, (k, s, v) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "rid long, k string, sec long, v double"
        ).select(
            "rid", "k", "v",
            F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
        )
        order = ("ts", "rid")
        out = add_rolling(df, "k", order, F.sum("v"), "roll", last_n=n)
        out = add_cumulative(out, "k", order, F.count(F.lit(1)), "n_prior")
        out = add_session_id(out, "k", order, "ts", gap_s=gap)
        out = add_rolling_time(
            out, "k", "ts", F.sum("v"), "troll", last_seconds=gap
        )
        got = {
            r["rid"]: (r["roll"], r["n_prior"], r["session_id"], r["troll"])
            for r in out.collect()
        }

        by_key: dict = {}
        for i, (k, s, v) in enumerate(rows):
            by_key.setdefault(k, []).append((s, i, float(v)))
        want = {}
        for k, seq in by_key.items():
            seq.sort()
            sess = 0
            for pos, (s, i, v) in enumerate(seq):
                prior = seq[max(0, pos - n):pos]
                roll = sum(x[2] for x in prior) if prior else None
                if pos > 0 and s - seq[pos - 1][0] > gap:
                    sess += 1
                troll_rows = [
                    x for x in seq[:pos] if s - gap <= x[0] < s
                ]
                troll = (
                    sum(x[2] for x in troll_rows) if troll_rows else None
                )
                want[i] = (roll, pos, sess, troll)
        assert got == want


def _frame_features_reference(rows, last_n, half_life_s):
    """Pure-Python loop oracle for add_rolling_frame_features over rows
    (rid, key, sec, value, tag), ordered by (sec, rid) per key with NULL
    sec first (Spark's ascending default): distinct non-NULL tags of the
    previous ``last_n`` rows, and Σ v·2^(−age/half_life) with NULL
    values / NULL-sec frame rows weighing 0 and a NULL current sec
    giving NULL."""
    import math

    lam = math.log(2.0) / half_life_s
    by_key: dict = {}
    for rid, k, s, v, e in rows:
        by_key.setdefault(k, []).append((s is not None, s or 0, rid, v, e))
    want = {}
    for seq in by_key.values():
        seq.sort()
        for pos, (has_s, s, rid, _v, _e) in enumerate(seq):
            prior = seq[max(0, pos - last_n):pos]
            n_types = len({x[4] for x in prior if x[4] is not None})
            decay = (
                sum(
                    (x[3] or 0.0) * math.exp(-lam * max(s - x[1], 0))
                    for x in prior
                    if x[0]
                )
                if has_s
                else None
            )
            want[rid] = (n_types, decay)
    return want


def _frame_features_df(spark, rows):
    return spark.createDataFrame(
        [(i, k, s, v, e) for i, k, s, v, e in rows],
        "rid long, k string, sec long, v double, etype string",
    ).select(
        "rid", "k", "v", "etype",
        F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"),
    )


def _assert_matches_reference(got, want):
    assert got.keys() == want.keys()
    for rid, (wn, wd) in want.items():
        gn, gd = got[rid]
        assert gn == wn, (rid, gn, wn)
        if wd is None:
            assert gd is None, (rid, gd)
        else:
            assert abs(gd - wd) < 1e-9, (rid, gd, wd)


def test_rolling_distinct_and_decayed_sum_match_reference(spark):
    """add_rolling_frame_features vs the loop reference: distinct counts
    over the trailing frame (empty frame → 0, never NULL), decayed sum
    exact to double precision with NULL values contributing 0."""
    rows = [
        # (rid, key, sec, value, etype)
        (0, "a", 0, 1.0, "x"),
        (1, "a", 100, 2.0, "y"),
        (2, "a", 200, None, "x"),
        (3, "a", 900, 4.0, "z"),
        (4, "a", 5000, 5.0, "x"),
        (5, "b", 0, 7.0, "x"),
    ]
    out = W.add_rolling_frame_features(
        _frame_features_df(spark, rows), "k", ("ts", "rid"), "ts", "v",
        distinct_col="etype", distinct_out="n_types", decay_out="decay",
        half_life_s=600, last_n=3,
    )
    got = {r["rid"]: (r["n_types"], r["decay"]) for r in out.collect()}
    _assert_matches_reference(got, _frame_features_reference(rows, 3, 600))
    # empty frame: first row of each key
    assert got[0] == (0, 0.0) and got[5] == (0, 0.0)


def test_rolling_frame_features_fused_parity(spark):
    """add_rolling_frame_features (r6 fusion, VERDICT r5 #5) against the
    independent loop reference on the NULL corners: a NULL tag is left
    out of the distinct count, a NULL value and a NULL-ts frame row add
    0 to the decay, a NULL current-row ts gives a NULL decay. The plan
    builds both columns from one frame list."""
    rows = [
        (0, "a", 0, 1.0, "x"),
        (1, "a", 100, 2.0, None),   # NULL tag: excluded from distinct
        (2, "a", 200, None, "x"),   # NULL value: contributes 0 to decay
        (3, "a", 900, 4.0, "z"),
        (4, "a", None, 5.0, "y"),   # NULL ts: NULL decay, no weight
        (5, "b", 0, 7.0, "x"),
    ]
    fused = W.add_rolling_frame_features(
        _frame_features_df(spark, rows), "k", ("ts", "rid"), "ts", "v",
        distinct_col="etype", distinct_out="n_types", decay_out="decay",
        half_life_s=600, last_n=3,
    )
    got = {r["rid"]: (r["n_types"], r["decay"]) for r in fused.collect()}
    _assert_matches_reference(got, _frame_features_reference(rows, 3, 600))
    assert got[4] == (0, None)  # NULL ts sorts first: empty frame too
    # the fused plan carries ONE collect_list and NO collect_set
    # (AQE's toString repeats the plan under "== Initial Plan ==" —
    # count only the final section)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "collect_set" not in final
    assert final.count("collect_list") == 1


def test_windowed_accepts_timestamp_ntz_frames(spark):
    """Code-review r6: driver parquet reads are TIMESTAMP_NTZ; every
    ts-consuming function must cast defensively (the repo NTZ rule that
    asof.py/intervals.py already follow) instead of dying with
    DATATYPE_MISMATCH inside unix_micros."""
    df = spark.createDataFrame(
        [("u", i, float(i)) for i in range(6)],
        "user_id string, n int, value double",
    ).withColumn(
        "ts",
        F.timestamp_micros(F.col("n").cast("long") * 600_000_000).cast(
            "timestamp_ntz"
        ),
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"

    out = W.add_ts_delta(df, "user_id", ["ts"], ts_col="ts")
    out = W.add_rolling_time(
        out, "user_id", "ts", F.count(F.lit(1)), "n_last_20m", 1200
    )
    out = W.add_rolling_frame_features(
        out, "user_id", ["ts"], "ts", "value",
        distinct_col="n", distinct_out="n_prior", decay_out="decay",
        half_life_s=600, last_n=100,
    )
    out = W.add_session_id(out, "user_id", ["ts"], ts_col="ts", gap_s=1800)
    rows = {r["n"]: r for r in out.collect()}
    assert rows[1]["ts_delta_prev_s"] == 600.0
    assert rows[2]["n_last_20m"] == 2
    assert rows[2]["n_prior"] == 2
    assert abs(rows[2]["decay"] - 0.5) < 1e-12  # 0·2^-2 + 1·2^-1
    assert rows[0]["session_id"] == 0

    aggs = W.session_aggregates(
        out, "user_id", ts_col="ts", session_col="session_id"
    )
    assert aggs.count() >= 1
