"""As-of join correctness vs pandas loop-oracle (SURVEY.md §5.2, C9-C10),
including equal-ts tie-break and null-feature non-leak semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feagen_spark.features import turns as T
from feagen_spark.operators.asof import asof_join, backfill_snapshots
from feagen_spark.datagen.transcripts import labels
from oracles import oracle_asof

VALUE_COLS = ["turns_so_far", "session_id", "cum_tool_calls"]


@pytest.fixture(scope="module")
def featured(tiny_transcripts):
    df = T.add_turns_so_far(tiny_transcripts)
    df = T.add_session_id(df)
    df = T.add_cum_tool_calls(df)
    return df.cache()


@pytest.fixture(scope="module")
def label_df(spark, tiny_transcripts):
    return labels(spark, tiny_transcripts).cache()


@pytest.mark.parametrize("strict", [True, False])
def test_asof_matches_oracle(featured, label_df, strict):
    got = (
        backfill_snapshots(
            featured, label_df, feature_cols=VALUE_COLS, strict=strict
        )
        .toPandas()
        .sort_values(["conv_id", "ts"] + VALUE_COLS)
        .reset_index(drop=True)
    )
    exp = (
        oracle_asof(
            label_df.toPandas(),
            featured.toPandas(),
            VALUE_COLS,
            strict=strict,
        )
        .sort_values(["conv_id", "ts"] + VALUE_COLS)
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in VALUE_COLS:
        g = pd.to_numeric(got[c], errors="coerce").astype(float)
        e = pd.to_numeric(exp[c], errors="coerce").astype(float)
        assert np.allclose(g, e, equal_nan=True), f"{c} strict={strict}"


def test_asof_before_start_is_null(featured, spark):
    lbl = spark.createDataFrame(
        [("conv00000000",)], "conv_id string"
    ).withColumn("ts", F.lit("2020-01-01 00:00:00").cast("timestamp"))
    out = backfill_snapshots(featured, lbl, feature_cols=["turns_so_far"]).collect()
    assert len(out) == 1 and out[0]["turns_so_far"] is None


def test_asof_equal_ts_tiebreak(featured, spark):
    """convTIE has two turns at identical ts: strict sees neither at that
    instant; inclusive sees the LATEST (turn_idx tie-break)."""
    tie_ts = featured.where(F.col("conv_id") == "convTIE").select("ts").first()["ts"]
    lbl = spark.createDataFrame([("convTIE", tie_ts)], "conv_id string, ts timestamp")
    strict = backfill_snapshots(
        featured, lbl, feature_cols=["turns_so_far"], strict=True
    ).collect()[0]
    incl = backfill_snapshots(
        featured, lbl, feature_cols=["turns_so_far"], strict=False
    ).collect()[0]
    assert strict["turns_so_far"] is None
    assert incl["turns_so_far"] == 1  # latest of the two equal-ts turns


def test_asof_null_value_does_not_leak_older(spark):
    """A right row whose feature VALUE is null must still win as-of — a
    null snapshot must not resurrect an older non-null one (struct
    carrier semantics)."""
    right = spark.createDataFrame(
        [("c", 1, "2026-01-01 00:00:00", 10.0), ("c", 2, "2026-01-01 00:10:00", None)],
        "conv_id string, turn_idx int, ts_s string, v double",
    ).select("conv_id", "turn_idx", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    lbl = spark.createDataFrame(
        [("c", "2026-01-01 00:20:00")], "conv_id string, ts_s string"
    ).select("conv_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = asof_join(
        lbl, right, on=["conv_id"], values=["v"], strict=True,
        right_order=("turn_idx",),
    ).collect()[0]
    assert out["v"] is None  # the null snapshot, NOT 10.0


def test_asof_multiple_value_columns_single_window(tiny_transcripts, label_df):
    """Plan sanity: the as-of join itself runs as ONE Window exec over the
    union — no join explosion, no per-value-column window. Uses a
    window-free right side so upstream feature windows don't pollute the
    count."""
    right = tiny_transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.length("text").alias("v1"),
        (F.col("role") == "tool").cast("int").alias("v2"),
        F.unix_micros("ts").alias("v3"),
    )
    out = asof_join(
        label_df, right, on=["conv_id"], values=["v1", "v2", "v3"],
        strict=True, right_order=("turn_idx",),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    asof_windows = sum(
        1 for line in plan.splitlines() if "last(__asof_snap" in line
    )
    assert asof_windows == 1, plan  # one Window exec carries all value cols
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("strict", [True, False])
@pytest.mark.parametrize("chunk_span_s", [60, 3600, 10**9])
def test_chunked_asof_value_identical(featured, label_df, strict, chunk_span_s):
    """asof_join_chunked must be value-identical to asof_join at every
    chunk granularity — including one giant chunk (degenerates to the
    plain path) and 60s chunks (many right-free chunks between labels)."""
    from feagen_spark.operators.asof import asof_join_chunked

    kw = dict(
        on=["conv_id"],
        values=VALUE_COLS,
        strict=strict,
        right_order=("turn_idx",),
    )
    plain = (
        asof_join(label_df, featured, **kw)
        .toPandas()
        .sort_values(["conv_id", "ts"] + VALUE_COLS)
        .reset_index(drop=True)
    )
    chunked = (
        asof_join_chunked(label_df, featured, chunk_span_s=chunk_span_s, **kw)
        .toPandas()
        .sort_values(["conv_id", "ts"] + VALUE_COLS)
        .reset_index(drop=True)
    )
    assert len(plain) == len(chunked)
    for c in VALUE_COLS:
        g = pd.to_numeric(chunked[c], errors="coerce").astype(float)
        e = pd.to_numeric(plain[c], errors="coerce").astype(float)
        assert np.allclose(g, e, equal_nan=True), f"{c} strict={strict} span={chunk_span_s}"


def test_chunked_asof_equal_ts_ties(spark):
    """Equal-ts collisions land in one chunk, so the strict/inclusive
    side-tag tie-break must behave exactly like the plain join."""
    import datetime as dt

    from feagen_spark.operators.asof import asof_join_chunked

    t0 = dt.datetime(2025, 1, 1)
    right = spark.createDataFrame(
        [
            ("k", t0, 1, 10.0),
            ("k", t0 + dt.timedelta(hours=2), 2, 20.0),  # equal to label ts
        ],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(hours=2))], "conv_id string, ts timestamp"
    )
    for strict, expected in [(True, 10.0), (False, 20.0)]:
        for fn_kw in [{}, {"chunk_span_s": 3600}]:
            fn = asof_join if not fn_kw else asof_join_chunked
            out = fn(
                left, right, on=["conv_id"], values=["v"], strict=strict,
                right_order=("turn_idx",), **fn_kw
            ).first()
            assert out["v"] == expected, (strict, fn_kw)


def test_chunked_asof_right_free_gap_carries(spark):
    """A label several empty chunks after the last snapshot must still
    inherit it (the carries table is built from ALL non-empty chunks,
    not just right-occupied ones)."""
    import datetime as dt

    from feagen_spark.operators.asof import asof_join_chunked

    t0 = dt.datetime(2025, 1, 1)
    right = spark.createDataFrame(
        [("k", t0, 1, 42.0)],
        "conv_id string, ts timestamp, turn_idx int, v double",
    )
    left = spark.createDataFrame(
        [
            ("k", t0 - dt.timedelta(hours=1)),   # before any snapshot → null
            ("k", t0 + dt.timedelta(hours=7)),   # 6 empty 1h-chunks later
        ],
        "conv_id string, ts timestamp",
    )
    out = (
        asof_join_chunked(
            left, right, on=["conv_id"], values=["v"], strict=True,
            right_order=("turn_idx",), chunk_span_s=3600,
        )
        .orderBy("ts")
        .collect()
    )
    assert out[0]["v"] is None
    assert out[1]["v"] == 42.0


def test_chunked_asof_accepts_ntz_timestamps(spark, tmp_path):
    """Driver parquet timestamps arrive as TIMESTAMP_NTZ; the chunked
    as-of must accept them (unix_micros needs an explicit cast —
    regression test for a confirmed AnalysisException)."""
    import datetime as dt

    from feagen_spark.operators.asof import asof_join, asof_join_chunked

    t0 = dt.datetime(2025, 1, 1)
    right = spark.createDataFrame(
        [("k", t0, 1, 1.5), ("k", t0 + dt.timedelta(hours=5), 2, 2.5)],
        "conv_id string, ts timestamp_ntz, turn_idx int, v double",
    )
    left = spark.createDataFrame(
        [("k", t0 + dt.timedelta(hours=9))], "conv_id string, ts timestamp_ntz"
    )
    kw = dict(on=["conv_id"], values=["v"], strict=True, right_order=("turn_idx",))
    assert (
        asof_join_chunked(left, right, chunk_span_s=3600, **kw).first()["v"]
        == asof_join(left, right, **kw).first()["v"]
        == 2.5
    )


def test_chunked_asof_numeric_ord_requires_chunk_span(spark):
    """A numeric ordering column is rejected: its units are unknown, so
    any bucket width would be a guess. The error names asof_join, the
    path for numeric ordering."""
    import pytest as _pytest

    from feagen_spark.operators.asof import asof_join_chunked

    right = spark.createDataFrame(
        [("k", 10, 1, 1.0)], "conv_id string, ts long, turn_idx int, v double"
    )
    left = spark.createDataFrame([("k", 20)], "conv_id string, ts long")
    kw = dict(on=["conv_id"], values=["v"], right_order=("turn_idx",))
    with _pytest.raises(ValueError, match="use asof_join"):
        asof_join_chunked(left, right, **kw)


def test_asof_tolerance_and_right_ts(spark):
    """Staleness TTL: a match older than tolerance_s is expired to NULL
    (exactly as if no right row existed); include_right_ts emits the
    matched right timestamp. Plain and chunked variants agree."""
    from feagen_spark.operators.asof import asof_join_chunked

    right = spark.createDataFrame(
        [("u1", 100, 1.0), ("u1", 5000, 2.0), ("u2", 10, 9.0)],
        "k string, sec long, v double",
    ).select("k", F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"), "v")
    left = spark.createDataFrame(
        [("u1", 150), ("u1", 5600), ("u1", 50), ("u2", 9000)],
        "k string, sec long",
    ).select("k", F.timestamp_micros(F.col("sec") * 1_000_000).alias("ts"))

    for fn, kw in [
        (asof_join, {}),
        (asof_join_chunked, {"chunk_span_s": 300}),
    ]:
        out = fn(
            left, right, on=["k"], values=["v"], strict=True,
            tolerance_s=600, include_right_ts="src_ts", **kw,
        )
        rows = {
            (r["k"], r["ts"].timestamp()): (
                r["v"],
                r["src_ts"].timestamp() if r["src_ts"] else None,
            )
            for r in out.collect()
        }
        assert rows[("u1", 150.0)] == (1.0, 100.0)      # 50s old: fresh
        assert rows[("u1", 5600.0)] == (2.0, 5000.0)    # exactly 600s: fresh (<=)
        assert rows[("u1", 50.0)] == (None, None)       # no prior row
        assert rows[("u2", 9000.0)] == (None, None)     # 8990s old: expired


def test_asof_tolerance_numeric_units(spark):
    """Numeric ordering column: tolerance is in the column's own units."""
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 100, 2.0)], "k string, pos long, v double"
    )
    left = spark.createDataFrame(
        [("a", 12), ("a", 300)], "k string, pos long"
    )
    out = asof_join(
        left, right, on=["k"], left_ts="pos", right_ts="pos",
        values=["v"], strict=True, tolerance_s=50,
    )
    rows = {r["pos"]: r["v"] for r in out.collect()}
    assert rows[12] == 1.0          # 2 units old
    assert rows[300] is None        # 200 units old: expired


# -- property-based: random streams vs a pure-python reference ---------------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


def _ref_asof(left_rows, right_rows, strict, tol):
    """Loop reference: latest admissible right row per left row (ties by
    arrival index), then the staleness TTL nulls an over-age match."""
    out = {}
    for li, (k, lts) in enumerate(left_rows):
        cands = [
            (rts, ri, v)
            for ri, (rk, rts, v) in enumerate(right_rows)
            if rk == k and (rts < lts if strict else rts <= lts)
        ]
        best = max(cands) if cands else None
        if best is not None and tol is not None and lts - best[0] > tol:
            best = None
        out[li] = best[2] if best is not None else None
    return out


if _HYP:

    @settings(max_examples=12, deadline=None)
    @given(
        left=st.lists(
            st.tuples(st.sampled_from("abc"), st.integers(0, 60)),
            min_size=1, max_size=12,
        ),
        right=st.lists(
            st.tuples(
                st.sampled_from("abc"),
                st.integers(0, 60),
                st.integers(-5, 5),
            ),
            min_size=0, max_size=12,
        ),
        strict=st.booleans(),
        tol=st.one_of(st.none(), st.integers(0, 30)),
        chunked=st.booleans(),
    )
    def test_asof_property_matches_reference(
        spark, left, right, strict, tol, chunked
    ):
        """asof_join (numeric ordering) and asof_join_chunked (the same
        positions as epoch-second timestamps, 10 s chunks) on random
        streams (duplicate timestamps, empty right sides, TTL on/off)
        must equal the loop reference exactly."""
        from feagen_spark.operators.asof import asof_join, asof_join_chunked

        ldf = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(left)],
            "lid long, k string, pos long",
        )
        rdf = spark.createDataFrame(
            [(i, k, t, float(v)) for i, (k, t, v) in enumerate(right)],
            "rid long, k string, pos long, v double",
        ) if right else spark.createDataFrame(
            [], "rid long, k string, pos long, v double"
        )
        kw = dict(
            on=["k"], left_ts="pos", right_ts="pos", values=["v"],
            strict=strict, right_order=("rid",), tolerance_s=tol,
        )
        fn = asof_join_chunked if chunked else asof_join
        if chunked:
            ldf = ldf.withColumn("pos", F.timestamp_seconds("pos"))
            rdf = rdf.withColumn("pos", F.timestamp_seconds("pos"))
            kw["chunk_span_s"] = 10
        got = {
            r["lid"]: r["v"] for r in fn(ldf, rdf, **kw).collect()
        }
        want = _ref_asof(left, right, strict, tol)
        want = {
            li: (float(v) if v is not None else None)
            for li, v in want.items()
        }
        assert got == want


def test_asof_nearest_tie_rules_and_tolerance(spark):
    """Nearest-direction join corners: cross-side exact-distance tie →
    backward wins; forward-only match; tolerance expires both
    directions; equal-ts ties pick max id backward / min id forward."""
    import datetime as dt

    from feagen_spark.operators.asof import asof_join_nearest

    t0 = dt.datetime(2025, 6, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    right = spark.createDataFrame(
        [
            ("u", 1, ts(90), 1.0),     # 10s before left@100
            ("u", 2, ts(110), 2.0),    # 10s after  left@100 (tie: back wins)
            ("u", 3, ts(500), 3.0),    # forward-only for left@450
            ("u", 4, ts(5000), 4.0),   # beyond tolerance for left@3000
            ("w", 5, ts(200), 5.0),    # equal-ts pair...
            ("w", 6, ts(200), 6.0),    # ...same ts, larger id
            ("x", 7, ts(300), 7.0),    # forward equal-ts pair...
            ("x", 8, ts(300), 8.0),
        ],
        "k string, rid long, ts timestamp, v double",
    )
    left = spark.createDataFrame(
        [
            ("u", 100, ts(100)), ("u", 101, ts(450)), ("u", 102, ts(3000)),
            ("w", 103, ts(200)),   # equal ts, inclusive backward: max rid
            ("x", 104, ts(250)),   # forward only: min rid at equal ts
        ],
        "k string, lid long, ts timestamp",
    )

    out = asof_join_nearest(
        left, right, on=["k"], values=["v"], right_order=("rid",),
        tolerance_s=600, include_right_ts="src_ts",
    )
    got = {r["lid"]: (r["v"], r["src_ts"]) for r in out.collect()}
    assert got[100][0] == 1.0          # tie at 10s: backward wins
    assert got[101][0] == 3.0          # only a forward match exists
    assert got[102] == (None, None)    # nearest is 2000s away: expired
    assert got[103][0] == 6.0          # equal-ts backward: max rid
    assert got[104][0] == 7.0          # forward equal-ts: min rid
    assert got[100][1] == ts(90) and got[101][1] == ts(500)


def _ref_nearest(left_rows, right_rows, tol):
    """Loop reference for the nearest-direction join: smallest |ts
    distance| within tolerance; ties — backward beats forward, max
    arrival id within backward equal-ts, min within forward."""
    out = {}
    for li, (k, lts) in enumerate(left_rows):
        cands = []
        for ri, (rk, rts, v) in enumerate(right_rows):
            if rk != k:
                continue
            d = abs(rts - lts)
            if tol is not None and d > tol:
                continue
            back = rts <= lts
            cands.append((d, 0 if back else 1, -ri if back else ri, v))
        out[li] = min(cands)[3] if cands else None
    return out


if _HYP:

    @settings(max_examples=8, deadline=None)
    @given(
        left=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 60)),
            min_size=1, max_size=10,
        ),
        right=st.lists(
            st.tuples(
                st.sampled_from("ab"),
                st.integers(0, 60),
                st.integers(-5, 5),
            ),
            min_size=0, max_size=10,
        ),
        tol=st.one_of(st.none(), st.integers(0, 30)),
    )
    def test_asof_nearest_property_matches_reference(spark, left, right, tol):
        """asof_join_nearest on random streams — duplicate timestamps
        on either side, cross-side exact-distance ties, empty right
        sides, TTL on/off — must equal the loop reference exactly
        (VERDICT r4 #5)."""
        import datetime as dt

        from feagen_spark.operators.asof import asof_join_nearest

        t0 = dt.datetime(2025, 6, 1)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        ldf = spark.createDataFrame(
            [(i, k, ts(t)) for i, (k, t) in enumerate(left)],
            "lid long, k string, ts timestamp",
        )
        rdf = spark.createDataFrame(
            [(i, k, ts(t), float(v)) for i, (k, t, v) in enumerate(right)],
            "rid long, k string, ts timestamp, v double",
        ) if right else spark.createDataFrame(
            [], "rid long, k string, ts timestamp, v double"
        )
        out = asof_join_nearest(
            ldf, rdf, on=["k"], values=["v"], right_order=("rid",),
            tolerance_s=tol,
        )
        got = {r["lid"]: r["v"] for r in out.collect()}
        want = {
            li: (float(v) if v is not None else None)
            for li, v in _ref_nearest(left, right, tol).items()
        }
        assert got == want


def test_asof_nearest_rejects_non_numeric_tiebreak(spark):
    """Non-numeric right_order would die inside the forward-leg negation
    with an opaque analysis error — fail with the contract instead."""
    import datetime as dt

    from feagen_spark.operators.asof import asof_join_nearest

    t0 = dt.datetime(2025, 6, 1)
    right = spark.createDataFrame(
        [("u", "a", t0, 1.0)], "k string, tag string, ts timestamp, v double"
    )
    left = spark.createDataFrame([("u", t0)], "k string, ts timestamp")
    with pytest.raises(ValueError, match="must be numeric"):
        asof_join_nearest(
            left, right, on=["k"], values=["v"], right_order=("tag",)
        )


def test_asof_output_column_clash_raises(spark):
    """Code-review r6: with the default value_prefix='', a snapshot
    column sharing a name with a left payload column would produce TWO
    same-named output columns — every later reference dies with
    AMBIGUOUS_REFERENCE far from the cause. Fail at call time instead."""
    left = spark.createDataFrame(
        [("k", 10, 1.0)], "k string, ts long, v double"
    )
    right = spark.createDataFrame(
        [("k", 5, 2.0)], "k string, ts long, v double"
    )
    with pytest.raises(ValueError, match="value_prefix"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts")
    # prefixed: same inputs are fine
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        value_prefix="snap_",
    )
    assert out.columns.count("v") == 1
    assert out.first()["snap_v"] == 2.0
