"""Structured Streaming parity: streaming sessionization / rolling /
stateful counters must agree with their batch twins on a drained stream."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feagen_spark.streaming import incremental as INC
from feagen_spark.features import turns as T
from feagen_spark.functions import windowed as W


@pytest.fixture(scope="module")
def stream_dir(spark, tiny_transcripts, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    # two "arrival" files to force multiple micro-batch handling
    tiny_transcripts.where(F.col("turn_idx") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "batch1"))
    tiny_transcripts.where(F.col("turn_idx") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(d / "batch1"))
    return str(d / "batch1")


def test_streaming_session_aggs_match_batch(spark, tiny_transcripts, stream_dir, tmp_path):
    stream = INC.stream_transcripts(spark, stream_dir)
    q = INC.run_available_now(
        INC.streaming_session_aggs(stream, gap_s=1800),
        "sess_aggs",
        str(tmp_path / "ck1"),
        output_mode="complete",
    )
    got = (
        spark.table("sess_aggs")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("session_turns").alias("n_turns"),
        )
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    exp = (
        W.session_aggregates(T.add_session_id(tiny_transcripts), "conv_id")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_rows").alias("n_turns"),
        )
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert (got["n_sessions"] == exp["n_sessions"]).all()
    assert (got["n_turns"] == exp["n_turns"]).all()


def test_streaming_running_counters_match_batch(spark, tiny_transcripts, stream_dir, tmp_path):
    stream = INC.stream_transcripts(spark, stream_dir)
    INC.run_available_now(
        INC.streaming_running_counters(stream),
        "run_counters",
        str(tmp_path / "ck2"),
    )
    # final state per conv = last emitted row per conv (max turns)
    got = (
        spark.table("run_counters")
        .groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("tool_calls").alias("tool_calls"))
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    exp = (
        tiny_transcripts.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum((F.col("role") == "tool").cast("long")).alias("tool_calls"),
        )
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert (got["turns"] == exp["turns"]).all()
    assert (got["tool_calls"] == exp["tool_calls"]).all()


def test_streaming_session_boundary_exact_gap(spark, tmp_path):
    """Deltas EXACTLY equal to the gap must sessionize identically in
    batch and streaming (session_window's window end is inclusive, so
    both split strictly above the gap): exact-gap → same session;
    gap+1µs → new session."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    gap = 1800
    rows = [
        # conv A: deltas exactly gap → ONE session in batch semantics
        ("A", 0, "user", "x", None, t0),
        ("A", 1, "assistant", "x", None, t0 + dt.timedelta(seconds=gap)),
        ("A", 2, "user", "x", None, t0 + dt.timedelta(seconds=2 * gap)),
        # conv B: delta gap + 1µs → TWO sessions
        ("B", 0, "user", "x", None, t0),
        ("B", 1, "user", "x", None, t0 + dt.timedelta(seconds=gap, microseconds=1)),
    ]
    df = spark.createDataFrame(rows, schema=INC.TRANSCRIPT_SCHEMA)
    d = str(tmp_path / "exact_gap_in")
    df.coalesce(1).write.mode("overwrite").parquet(d)

    batch = (
        W.session_aggregates(T.add_session_id(df, gap_s=gap), "conv_id")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .toPandas()
        .set_index("conv_id")["n_sessions"]
        .sort_index()
    )
    assert batch["A"] == 1 and batch["B"] == 2

    stream = INC.stream_transcripts(spark, d)
    INC.run_available_now(
        INC.streaming_session_aggs(stream, gap_s=gap),
        "exact_gap_sessions",
        str(tmp_path / "ck_gap"),
        output_mode="complete",
    )
    got = (
        spark.table("exact_gap_sessions")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .toPandas()
        .set_index("conv_id")["n_sessions"]
        .sort_index()
    )
    assert (got == batch).all()


def test_streaming_rolling_counts_runs(spark, stream_dir, tmp_path):
    stream = INC.stream_transcripts(spark, stream_dir)
    INC.run_available_now(
        INC.streaming_rolling_role_counts(stream),
        "roll_counts",
        str(tmp_path / "ck3"),
        output_mode="complete",
    )
    out = spark.table("roll_counts")
    assert out.count() > 0
    assert set(out.columns) == {"conv_id", "window_start", "role", "n"}


def test_streaming_dedup_matches_batch(spark, tiny_transcripts, tmp_path):
    """Duplicate turns injected into the stream must be emitted exactly
    once — same row set as the batch dedup guard."""
    from feagen_spark.datagen.transcripts import with_duplicates
    from feagen_spark.features.turns import dedup_turns

    dup_df = with_duplicates(tiny_transcripts, every_nth=10)
    assert dup_df.count() > tiny_transcripts.count()
    d = str(tmp_path / "dup_stream_in")
    dup_df.coalesce(2).write.mode("overwrite").parquet(d)

    stream = INC.stream_transcripts(spark, d)
    INC.run_available_now(
        INC.streaming_dedup_turns(stream),
        "dedup_stream",
        str(tmp_path / "ck_dedup"),
        output_mode="append",
    )
    got = spark.table("dedup_stream")
    exp = dedup_turns(dup_df)
    assert got.count() == exp.count() == tiny_transcripts.count()
    # exactly one row per key
    assert (
        got.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0
    )


def test_streaming_asof_state_matches_batch(spark, tiny_transcripts, tmp_path):
    """Single-batch drain in arrival order must equal the leakage-safe
    batch as-of state (prev_role lag + last strictly-prior tool)."""
    from pyspark.sql.window import Window

    d = str(tmp_path / "asof_state_in")
    tiny_transcripts.coalesce(1).write.mode("overwrite").parquet(d)

    stream = INC.stream_transcripts(spark, d)
    INC.run_available_now(
        INC.streaming_asof_state(stream),
        "asof_state",
        str(tmp_path / "ck_asof"),
        output_mode="update",
    )
    got = (
        spark.table("asof_state")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    w_prior = w.rowsBetween(Window.unboundedPreceding, -1)
    exp = (
        tiny_transcripts.select(
            "conv_id",
            "turn_idx",
            F.lag("role", 1).over(w).alias("prev_role"),
            F.last(
                F.when(
                    (F.col("role") == "tool") & (F.col("tool") != ""),
                    F.col("tool"),
                ),
                ignorenulls=True,
            ).over(w_prior).alias("last_tool"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ["prev_role", "last_tool"]:
        assert (
            got[c].fillna("__n__") == exp[c].fillna("__n__")
        ).all(), c


def test_streaming_asof_state_ttl_matches_batch(spark, tiny_transcripts, tmp_path):
    """ttl_s (streaming twin of batch tolerance_s): state fields older
    than the TTL at the arriving row's event time come back NULL —
    checked against the windowed batch formula carrying per-field
    update timestamps. Non-vacuity asserted: the TTL must actually
    expire something on this input."""
    from pyspark.sql.window import Window

    TTL = 300.0
    d = str(tmp_path / "asof_ttl_in")
    tiny_transcripts.coalesce(1).write.mode("overwrite").parquet(d)

    stream = INC.stream_transcripts(spark, d)
    INC.run_available_now(
        INC.streaming_asof_state(stream, ttl_s=TTL),
        "asof_state_ttl",
        str(tmp_path / "ck_asof_ttl"),
        output_mode="update",
    )
    got = (
        spark.table("asof_state_ttl")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    w_prior = w.rowsBetween(Window.unboundedPreceding, -1)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    lim = int(TTL * 1_000_000)
    tool_val = F.when(
        (F.col("role") == "tool") & (F.col("tool") != ""), F.col("tool")
    )
    tool_us = F.when(
        (F.col("role") == "tool") & (F.col("tool") != ""), us
    )
    exp = (
        tiny_transcripts.select(
            "conv_id",
            "turn_idx",
            F.when(
                us - F.lag(us, 1).over(w) <= lim, F.lag("role", 1).over(w)
            ).alias("prev_role"),
            F.when(
                us - F.last(tool_us, ignorenulls=True).over(w_prior) <= lim,
                F.last(tool_val, ignorenulls=True).over(w_prior),
            ).alias("last_tool"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for c in ("prev_role", "last_tool"):
        assert (
            got[c].fillna("~") == exp[c].fillna("~")
        ).all(), c

    # non-vacuous: the no-TTL run must disagree somewhere (something
    # actually expired under the TTL)
    INC.run_available_now(
        INC.streaming_asof_state(INC.stream_transcripts(spark, d)),
        "asof_state_nottl",
        str(tmp_path / "ck_asof_nottl"),
        output_mode="update",
    )
    raw = (
        spark.table("asof_state_nottl")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (
        (got["prev_role"].fillna("~") != raw["prev_role"].fillna("~")).any()
        or (got["last_tool"].fillna("~") != raw["last_tool"].fillna("~")).any()
    )


def test_streaming_session_attribution_matches_batch(
    spark, tiny_transcripts, stream_dir, tmp_path
):
    """streaming_session_attribution (VERDICT r4 #10): tool turns
    attributed to their gap session as sessions close on the stream ==
    the batch sessionizer's (conv, turn, session) assignment. Ordinals
    are the batch-side finish (row_number over session_start), so
    no-target sessions must still occupy an ordinal."""
    from pyspark.sql.window import Window

    stream = INC.stream_transcripts(spark, stream_dir)
    attrib = INC.streaming_session_attribution(
        stream, key="conv_id", ts_col="ts", gap_s=1800,
        event_type_col="role", event_id_col="turn_idx",
        target_type="tool",
    )
    INC.run_available_now(
        attrib, "sess_attr", str(tmp_path / "ck_attr"),
        output_mode="complete",
    )
    w = Window.partitionBy("conv_id").orderBy("session_start")
    got = {
        (r["conv_id"], r["turn_idx"], r["session_id"])
        for r in spark.table("sess_attr")
        .select(
            "conv_id",
            (F.row_number().over(w) - 1).cast("int").alias("session_id"),
            "target_ids",
        )
        .select("conv_id", F.explode("target_ids").alias("turn_idx"), "session_id")
        .collect()
    }
    exp = {
        (r["conv_id"], r["turn_idx"], r["session_id"])
        for r in T.add_session_id(tiny_transcripts)
        .where(F.col("role") == "tool")
        .select("conv_id", "turn_idx", "session_id")
        .collect()
    }
    assert got == exp and got  # non-empty parity


def test_streaming_decayed_sum_matches_reference(spark, tmp_path):
    """streaming_decayed_sum (O(1)-state recurrence) drained over a
    2-file stream == the unbounded loop reference, strictly-prior
    semantics included."""
    import datetime as dt
    import math

    import pandas as pd

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    rng_vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 9.7]
    for i in range(40):
        rows.append((
            f"u{i % 3}",
            # ts MONOTONE in i: the batch split below puts all early
            # rows in file 1 and later rows in file 2, so processing
            # order == event order and the reference stays exact even
            # across micro-batch boundaries
            t0 + dt.timedelta(seconds=i * 137),
            rng_vals[i % len(rng_vals)] if i % 7 else None,
            i,
        ))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double, i long")
    src = str(tmp_path / "decay_stream")
    df.where(F.col("i") < 20).coalesce(1).write.mode("overwrite").parquet(src)
    df.where(F.col("i") >= 20).coalesce(1).write.mode("append").parquet(src)

    # maxFilesPerTrigger=1 forces TWO micro-batches, so the second one
    # exercises the state-restore branch (state.exists == True) —
    # code-review r5: one availableNow batch never restored state
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = INC.streaming_decayed_sum(
        stream, key="k", ts_col="ts", value_col="v", half_life_s=600
    )
    INC.run_available_now(out, "decay_out", str(tmp_path / "ck_decay"))
    got = {
        (r["k"], r["ts"]): r["value_decay"]
        for r in spark.table("decay_out").collect()
    }

    lam = math.log(2.0) / (600 * 1e6)
    by_key = {}
    for k, ts, v, i in rows:
        by_key.setdefault(k, []).append((ts, v))
    want = {}
    for k, seq in by_key.items():
        seq.sort(key=lambda p: p[0])
        for pos, (ts, v) in enumerate(seq):
            cur = ts.timestamp() * 1e6
            s = sum(
                (pv or 0.0) * math.exp(-lam * (cur - pts.timestamp() * 1e6))
                for pts, pv in seq[:pos]
            )
            want[(k, ts)] = s
    assert set(got) == set(want)
    for key_ in want:
        assert abs(got[key_] - want[key_]) < 1e-9, key_


def test_streaming_asof_state_null_ts_does_not_poison_state(spark, tmp_path):
    """Code-review r6: TRANSCRIPT_SCHEMA permits ts NULL; NaT.value is
    iNaT, so one null-ts row used to set the TTL clocks to ~-9.2e15 µs
    and every later row read its state as expired forever. The null-ts
    row must emit NULLs (no reference instant) and leave the state
    clocks untouched."""
    import pandas as pd

    rows = [
        ("c1", 0, "user", "hi", "", "2024-01-01 10:00:00"),
        ("c1", 1, "tool", "r", "search", "2024-01-01 10:00:10"),
        ("c1", 2, "user", "??", "", None),                      # null ts
        ("c1", 3, "assistant", "ok", "", "2024-01-01 10:00:30"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path / "nat_in")
    df.coalesce(1).write.mode("overwrite").parquet(d)

    INC.run_available_now(
        INC.streaming_asof_state(
            INC.stream_transcripts(spark, d), ttl_s=3600.0
        ),
        "asof_state_nat",
        str(tmp_path / "ck_nat"),
        output_mode="update",
    )
    got = (
        spark.table("asof_state_nat")
        .toPandas()
        .set_index("turn_idx")
        .sort_index()
    )
    assert len(got) == 4
    # null-ts row: no reference instant → NULL state fields
    assert pd.isna(got.loc[2, "prev_role"])
    assert pd.isna(got.loc[2, "last_tool"])
    # the row AFTER the null ts still sees fresh, unexpired state
    assert got.loc[3, "prev_role"] == "tool"
    assert got.loc[3, "last_tool"] == "search"


# -- streaming continuous-ingest dedup ---------------------------------------

def _drain_ingest_dedup(spark, stream, idx, out, ck, **kw):
    from feagen_spark.streaming.incremental import streaming_ingest_dedup

    q = (
        streaming_ingest_dedup(stream, idx, out, **kw)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_streaming_ingest_dedup_two_batches(spark, tmp_path):
    """The on-disk index IS the streaming state: batch 2 must dedup
    against batch 1's survivors (cross-batch) as well as the
    bootstrapped corpus, and batch-internal pairs drop the greater id."""
    from feagen_spark.operators import dedup as D

    base = [
        (1, "the quick brown fox jumps over the lazy dog every day"),
        (2, "some completely different base corpus text right here"),
    ]
    corpus = spark.createDataFrame(base, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus_out")
    D.write_minhash_index(corpus, idx, k=16, bands=4, ingest_batch=-1)

    b1 = [
        (101, base[0][1]),  # dup of corpus doc 1 -> drop (cross)
        (102, "fresh unique text about spark structured streaming"),
        (103, "internal duplicate content alpha beta gamma delta"),
        (104, "internal duplicate content alpha beta gamma delta"),  # intra, greater -> drop
    ]
    b2 = [
        (201, b1[1][1]),    # dup of batch-1 survivor 102 -> drop (index state)
        (202, "another new unique document nothing like the rest"),
        (203, base[1][1]),  # dup of corpus doc 2 -> drop (cross)
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain_ingest_dedup(
        spark, stream, idx, out, str(tmp_path / "ck"),
        k=16, bands=4, threshold=0.7,
    )

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {102, 103, 202}
    idx_df = spark.read.parquet(idx)
    idx_ids = {
        r["doc_id"] for r in idx_df.select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 102, 103, 202}
    # per-batch partitions: base=-1, two micro-batches 0/1
    batches = {
        r["ingest_batch"]
        for r in idx_df.select("ingest_batch").distinct().collect()
    }
    assert batches == {-1, 0, 1}


def test_streaming_ingest_dedup_cold_start(spark, tmp_path):
    """No bootstrapped index: the first batch dedups internally and
    CREATES the index; the second batch dedups against it."""
    b1 = [
        (11, "cold start duplicate content one two three four five"),
        (12, "cold start duplicate content one two three four five"),  # intra -> drop
        (13, "something else entirely for the cold start batch here"),
    ]
    b2 = [
        (21, b1[0][1]),  # dup of surviving 11 -> drop
        (22, "genuinely new second batch document in the cold stream"),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path / "stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus_out")
    _drain_ingest_dedup(
        spark, stream, idx, out, str(tmp_path / "ck"),
        k=16, bands=4, threshold=0.7,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {11, 13, 22}


def test_rebaseline_minhash_index_preserves_probe(spark, tmp_path):
    """Folding micro-batch partitions into the base must leave probe
    answers identical and collapse the partition set to -1."""
    import os

    from feagen_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(1, "the base corpus document about joins and windows")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus_out")
    D.write_minhash_index(corpus, idx, k=16, bands=4, ingest_batch=-1)

    schema = "doc_id long, text string"
    src = str(tmp_path / "stream")
    spark.createDataFrame(
        [(10, "a first streamed document with original content")], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [(20, "a second streamed document unlike the others here")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain_ingest_dedup(
        spark, stream, idx, out, str(tmp_path / "ck"),
        k=16, bands=4, threshold=0.7,
    )
    parts = {p for p in os.listdir(idx) if p.startswith("ingest_batch=")}
    assert parts == {"ingest_batch=-1", "ingest_batch=0", "ingest_batch=1"}

    probe_inc = spark.createDataFrame(
        [(99, "a first streamed document with original content")], schema
    )
    before = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_probe_increment(
            spark, idx, probe_inc, k=16, bands=4, threshold=0.7
        ).collect()
    }
    assert before, "fixture must produce a cross pair"
    n_rows = spark.read.parquet(idx).count()

    rep = D.rebaseline_minhash_index(spark, idx)
    assert rep["batches_folded"] == [0, 1]
    parts = {p for p in os.listdir(idx) if p.startswith("ingest_batch=")}
    assert parts == {"ingest_batch=-1"}
    assert spark.read.parquet(idx).count() == n_rows
    after = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_probe_increment(
            spark, idx, probe_inc, k=16, bands=4, threshold=0.7
        ).collect()
    }
    assert after == before


def test_streaming_ingest_monitor_summaries(spark, tmp_path):
    """monitor_path appends one MG token summary per ingest batch;
    heavy_hitters_from_summaries over the merged table equals the
    exact token counts of the SURVIVOR corpus (dropped docs never
    pollute the monitor)."""
    from pyspark.sql import functions as F

    from feagen_spark.operators import dedup as D
    from feagen_spark.operators.sketches import heavy_hitters_from_summaries
    from feagen_spark.operators.textstats import _ws_tokens

    corpus = spark.createDataFrame(
        [(1, "base corpus text base corpus text nothing else")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus_out")
    mon = str(tmp_path / "hh_mon")
    D.write_minhash_index(corpus, idx, k=16, bands=4, ingest_batch=-1)

    b1 = [
        (101, "spark spark spark streaming alpha beta"),
        (102, "base corpus text base corpus text nothing else"),  # cross dup -> dropped
    ]
    b2 = [(201, "spark tokens spark tokens gamma delta epsilon")]
    schema = "doc_id long, text string"
    src = str(tmp_path / "stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    _drain_ingest_dedup(
        spark, stream, idx, out, str(tmp_path / "ck"),
        k=16, bands=4, threshold=0.7,
        monitor_path=mon, monitor_capacity=64,
    )

    kept = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept.collect()} == {101, 201}
    summ = spark.read.parquet(mon)
    # one summary partition per streamed batch
    assert {r["ingest_batch"] for r in summ.select("ingest_batch").distinct().collect()} == {0, 1}
    toks = kept.select(F.explode(_ws_tokens(F.col("text"))).alias("__tok"))
    got = {
        (r["item"], r["n"])
        for r in heavy_hitters_from_summaries(
            summ, toks, "__tok", threshold=2
        ).collect()
    }
    exp = {
        (r["__tok"], r["count"])
        for r in toks.groupBy("__tok").count().where(F.col("count") >= 2).collect()
    }
    assert got == exp and got
    # the dropped doc's tokens never entered the monitor: 'corpus'
    # appears 2x in the DROPPED text but 0x among survivors
    assert "corpus" not in dict(got)


def test_entry_stream_drains_release_on_failure(spark, tmp_path, monkeypatch):
    """The three streaming queries of __spark_entry__.py share one
    drain: when it fails after registering its memory sink, each query
    still drops the sink view and removes its checkpoint dir, so
    nothing leaks into the session the other queries share."""
    import tempfile
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([0, 60_000_000], pa.timestamp("us")),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": ["view", "purchase"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        tmp_path / "events.parquet",
    )

    def failing_drain(query_df, name, checkpoint, output_mode="update"):
        spark.range(1).createOrReplaceTempView(name)
        raise RuntimeError("drain failed")

    monkeypatch.setattr(INC, "run_available_now", failing_drain)
    tmp = Path(tempfile.gettempdir())

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    for q in (
        E.q_ev_session_aggs_streaming,
        E.q_ev_stream_attribution,
        E.q_ev_stream_decay,
    ):
        ckpts, views = set(tmp.glob("ckpt_stream*")), temp_views()
        with pytest.raises(RuntimeError, match="drain failed"):
            q(spark, str(tmp_path))
        assert set(tmp.glob("ckpt_stream*")) - ckpts == set(), q.__name__
        assert temp_views() == views, q.__name__
