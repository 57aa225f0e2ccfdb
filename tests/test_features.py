"""Operator tests: golden feature set vs pandas loop-oracle (SURVEY.md §5.2)
+ datagen invariants + zero-leakage tests (§5.3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feagen_spark.features import turns as T
from oracles import oracle_features, oracle_session_aggs

ALL_FEATURES = [
    "text_len",
    "is_tool_turn",
    "prev_role",
    "next_role",
    "ts_delta_prev",
    "turns_so_far",
    "cum_tool_calls",
    "user_turns_last_10",
    "tool_calls_last_10",
    "tool_calls_last_600s",
    "session_id",
    "turn_in_session",
    "session_start_ts",
]

ADDERS = [
    T.add_text_len,
    T.add_is_tool_turn,
    T.add_prev_role,
    T.add_next_role,
    T.add_ts_delta_prev,
    T.add_turns_so_far,
    T.add_cum_tool_calls,
    T.add_user_turns_last_10,
    T.add_tool_calls_last_10,
    T.add_tool_calls_last_600s,
    T.add_session_id,
    T.add_turn_in_session,
    T.add_session_start_ts,
]


def featurize(df):
    for add in ADDERS:
        df = add(df)
    return df


@pytest.fixture(scope="module")
def feat_pdf(tiny_transcripts):
    return (
        featurize(tiny_transcripts)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def oracle_pdf(tiny_pdf):
    return (
        oracle_features(tiny_pdf)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


# -- datagen invariants -------------------------------------------------------

def test_datagen_shape(tiny_pdf):
    assert set(tiny_pdf.columns) == {
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    }
    # unique keys in main table
    assert not tiny_pdf.duplicated(["conv_id", "turn_idx"]).any()
    # edge convs present
    assert (tiny_pdf["conv_id"] == "convSINGLE").sum() == 1
    tie = tiny_pdf[tiny_pdf["conv_id"] == "convTIE"]
    assert len(tie) == 2 and tie["ts"].nunique() == 1
    # skew tail present
    sizes = tiny_pdf.groupby("conv_id").size()
    assert sizes.max() == 300 and sizes.min() == 1
    # deterministic text round-trip: prefix encodes identity
    for _, r in tiny_pdf.sample(20, random_state=0).iterrows():
        assert r["text"].startswith(f"{r['conv_id']}:{r['turn_idx']}:{r['role']}:")
    # roles vocabulary
    assert set(tiny_pdf["role"].unique()) <= {"user", "assistant", "tool", "system"}
    assert (tiny_pdf.loc[tiny_pdf["role"] == "tool", "tool"] != "").all()
    assert (tiny_pdf.loc[tiny_pdf["role"] != "tool", "tool"] == "").all()


def test_datagen_deterministic(spark):
    from feagen_spark.datagen.transcripts import transcripts

    a = transcripts(spark, n_conv=10, giant_convs=0).toPandas()
    b = transcripts(spark, n_conv=10, giant_convs=0).toPandas()
    a = a.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = b.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_sessionization_boundaries_exist(feat_pdf):
    # the every-40th-turn 3600s gap must create >1 session in the giant conv
    giant = feat_pdf[feat_pdf.groupby("conv_id")["turn_idx"].transform("max") >= 299]
    assert giant["session_id"].max() >= 2


# -- feature parity vs oracle --------------------------------------------------

@pytest.mark.parametrize("col", ALL_FEATURES)
def test_feature_matches_oracle(feat_pdf, oracle_pdf, col):
    got, exp = feat_pdf[col], oracle_pdf[col]
    assert len(got) == len(exp)
    if got.dtype.kind in "fiu" or exp.dtype.kind in "fiu":
        g = pd.to_numeric(got, errors="coerce").astype(float).to_numpy()
        e = pd.to_numeric(exp, errors="coerce").astype(float).to_numpy()
        assert np.allclose(g, e, equal_nan=True), f"{col} mismatch"
    elif "ts" in col:
        assert (
            pd.to_datetime(got).astype("datetime64[us]")
            == pd.to_datetime(exp).astype("datetime64[us]")
        ).all(), f"{col} mismatch"
    else:
        assert (
            got.fillna("__null__").astype(str) == exp.fillna("__null__").astype(str)
        ).all(), f"{col} mismatch"


def test_golden_features_accept_ntz_ts(tiny_transcripts):
    """A TIMESTAMP_NTZ ``ts`` (driver parquet read without the ingest
    cast) gives the same rows as TIMESTAMP: every ts-arithmetic feature
    goes through windowed.py, which casts before unix_micros (a raw NTZ
    there is a DATATYPE_MISMATCH)."""
    want = featurize(tiny_transcripts)
    ntz = featurize(tiny_transcripts.withColumn("ts", F.col("ts").cast("timestamp_ntz")))
    assert ntz.schema["ts"].dataType.typeName() == "timestamp_ntz"
    got = ntz.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "session_start_ts", F.col("session_start_ts").cast("timestamp")
    ).select(*want.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_text_exact_equality(feat_pdf, tiny_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    BASELINE.json:15 input_hint invariant."""
    assert (feat_pdf["text"].to_numpy() == tiny_pdf["text"].to_numpy()).all()


def test_session_aggregates(tiny_transcripts, tiny_pdf):
    from feagen_spark.functions import windowed as W

    tool_calls = F.sum((F.col("role") == "tool").cast("int")).cast("int")
    got = (
        W.session_aggregates(
            T.add_session_id(tiny_transcripts),
            "conv_id",
            extra_aggs=[tool_calls.alias("session_tool_calls")],
        )
        .toPandas()
        .sort_values(["conv_id", "session_id"])
        .reset_index(drop=True)
    )
    sess = T.add_session_id(tiny_transcripts).toPandas()
    exp = (
        oracle_session_aggs(sess)
        .sort_values(["conv_id", "session_id"])
        .reset_index(drop=True)
    )
    assert (got["n_rows"].to_numpy() == exp["session_turns"].to_numpy()).all()
    assert (
        got["session_tool_calls"].to_numpy() == exp["session_tool_calls"].to_numpy()
    ).all()
    assert np.allclose(got["duration_s"], exp["session_duration_s"])


def test_lag_template(tiny_transcripts, tiny_pdf):
    from feagen_spark.core.dag import FeatureDAG

    dag = FeatureDAG(
        nodes=T.transcript_nodes(),
        templates=T.transcript_templates(),
        input_columns=("conv_id", "turn_idx", "role", "text", "tool", "ts"),
    )
    plan = dag.plan(["role_lag_2"])
    df = tiny_transcripts
    for node in plan.nodes:
        df = node.fn(df)
    got = df.toPandas().sort_values(["conv_id", "turn_idx"])
    exp = (
        tiny_pdf.groupby("conv_id")["role"].shift(2).to_numpy()
    )
    g = got["role_lag_2"].to_numpy()
    assert ((g == exp) | (pd.isna(g) & pd.isna(exp))).all()


# -- leakage (SURVEY.md §5.3) ---------------------------------------------------

def test_zero_temporal_leakage(spark, tiny_transcripts, feat_pdf):
    """Recompute features on a ts-truncated table; every feature value at
    rows with ts < cutoff must be identical — no feature reads the future.
    (next_role is excluded: it is lead-based, label-construction only.)"""
    cutoff = tiny_transcripts.agg(
        F.percentile_approx("ts", 0.6).alias("c")
    ).collect()[0]["c"]
    trunc = tiny_transcripts.where(F.col("ts") < F.lit(cutoff))
    got = (
        featurize(trunc)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    full = feat_pdf[feat_pdf["ts"] < cutoff].reset_index(drop=True)
    check = [c for c in ALL_FEATURES if c != "next_role"]
    assert len(got) == len(full)
    for col in check:
        g, e = got[col], full[col]
        if g.dtype.kind in "fiu":
            assert np.allclose(
                g.astype(float), e.astype(float), equal_nan=True
            ), f"leakage in {col}"
        else:
            assert (
                g.fillna("__null__").astype(str)
                == e.fillna("__null__").astype(str)
            ).all(), f"leakage in {col}"


def test_checked_in_tr_fixture_matches_datagen(spark):
    """The committed fixtures/tr_golden_fixture.parquet must equal the
    deterministic generator's output row-for-row — the tr_golden oracle
    reads the committed bytes, so drift here would silently decouple
    the north-star hash from the engine's own datagen."""
    from __spark_entry__ import TR_FIXTURE_PATH
    from feagen_spark.datagen.transcripts import transcripts

    fixture = spark.read.parquet(TR_FIXTURE_PATH)
    gen = transcripts(spark, n_conv=300, giant_convs=3, giant_turns=2000)
    assert fixture.count() == gen.count() == 10473
    # equal counts + empty one-direction difference ⇒ multiset equality
    assert fixture.exceptAll(gen).count() == 0
