"""Structured Streaming parity: streaming sessionization, session
attribution and the stateful decayed sum must agree with their batch
twins on a drained stream; the continuous-ingest dedup keeps its
exactly-once contract."""

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


def _stream(spark, schema, path):
    return spark.readStream.schema(schema).parquet(path)


def _session_aggs(stream, gap_s):
    """The session aggregate q_ev_session_aggs_streaming runs, keyed
    by conversation."""
    return INC.streaming_session_value_aggs(
        stream, key="conv_id", value_col="turn_idx", gap_s=gap_s
    )


def test_streaming_session_aggs_match_batch(spark, tiny_transcripts, stream_dir, tmp_path):
    stream = _stream(spark, tiny_transcripts.schema, stream_dir)
    INC.run_available_now(
        _session_aggs(stream, gap_s=1800),
        "sess_aggs",
        str(tmp_path / "ck1"),
        output_mode="complete",
    )
    got = (
        spark.table("sess_aggs")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_rows").alias("n_turns"),
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
    """Per-conversation turn and tool-call counters, summed over the
    drained session aggregates, equal the batch counts."""
    stream = _stream(spark, tiny_transcripts.schema, stream_dir).withColumn(
        "is_tool", (F.col("role") == "tool").cast("long")
    )
    INC.run_available_now(
        INC.streaming_session_value_aggs(
            stream, key="conv_id", value_col="is_tool", gap_s=1800
        ),
        "run_counters",
        str(tmp_path / "ck2"),
        output_mode="complete",
    )
    got = (
        spark.table("run_counters")
        .groupBy("conv_id")
        .agg(
            F.sum("n_rows").alias("turns"),
            F.sum("session_value").alias("tool_calls"),
        )
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
    assert list(got.index) == list(exp.index)
    assert (got["turns"] == exp["turns"]).all()
    assert (got["tool_calls"] == exp["tool_calls"]).all()
    assert exp["tool_calls"].sum() > 0


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
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
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

    INC.run_available_now(
        _session_aggs(_stream(spark, df.schema, d), gap_s=gap),
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


def test_streaming_session_attribution_matches_batch(
    spark, tiny_transcripts, stream_dir, tmp_path
):
    """streaming_session_attribution (VERDICT r4 #10): tool turns
    attributed to their gap session as sessions close on the stream ==
    the batch sessionizer's (conv, turn, session) assignment. Ordinals
    are the batch-side finish (row_number over session_start), so
    no-target sessions must still occupy an ordinal."""
    from pyspark.sql.window import Window

    stream = _stream(spark, tiny_transcripts.schema, stream_dir)
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
    semantics included; a value column whose name starts with '_' (a
    name pandas renames in itertuples) gives the same values."""
    import datetime as dt
    import math

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

    for n, value_col in enumerate(("v", "_v")):
        df = spark.createDataFrame(rows, f"k string, ts timestamp, {value_col} double, i long")
        src = str(tmp_path / f"decay_stream{n}")
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
            stream, key="k", ts_col="ts", value_col=value_col, half_life_s=600
        )
        INC.run_available_now(out, f"decay_out{n}", str(tmp_path / f"ck_decay{n}"))
        got = {
            (r["k"], r["ts"]): r["value_decay"]
            for r in spark.table(f"decay_out{n}").collect()
        }
        assert set(got) == set(want), value_col
        for key_ in want:
            assert abs(got[key_] - want[key_]) < 1e-9, (value_col, key_)


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


def test_streaming_ingest_dedup_rejects_k_not_divisible_by_bands(
    spark, tmp_path
):
    """A cold-start stream (no bootstrap index) with a (k, bands) that
    ``write_minhash_index`` rejects fails when the writer is built, not
    by banding 28 of 30 signature positions in every trigger."""
    import pytest

    from feagen_spark.streaming.incremental import streaming_ingest_dedup

    src = tmp_path / "stream"
    src.mkdir()
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src)
    )
    with pytest.raises(ValueError, match="divisible by bands"):
        streaming_ingest_dedup(
            stream, str(tmp_path / "idx"), str(tmp_path / "out"),
            k=30, bands=4,
        )


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Duplicates injected into the stream, within and across
    micro-batches, are emitted exactly once: the drained corpus is the
    row set the batch ``exact_dedup`` keeps."""
    from feagen_spark.operators import dedup as D

    texts = [
        "spark shuffles sort the map output before the reduce side reads it",
        "a watermark bounds how long streaming state waits for late events",
        "parquet stores each column chunk with its own min and max stats",
        "minhash signatures estimate the jaccard similarity of shingle sets",
        "broadcast joins ship the small side to every executor once only",
        "the catalyst optimizer rewrites logical plans before planning them",
    ]
    # batch 1 repeats its first two texts; batch 2 repeats four batch-1
    # texts and brings the last two
    b1 = [(i, texts[i % 4]) for i in range(6)]
    b2 = [(100 + i, texts[(i + 2) % 6]) for i in range(6)]
    schema = "doc_id long, text string"
    src = str(tmp_path / "dup_stream_in")
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
    out = str(tmp_path / "corpus_out")
    _drain_ingest_dedup(
        spark, stream, str(tmp_path / "idx"), out, str(tmp_path / "ck"),
        k=16, bands=4, threshold=0.7,
    )
    got = spark.read.parquet(out)
    want = D.exact_dedup(spark.createDataFrame(b1 + b2, schema))
    assert got.count() == len(texts)
    assert {r["doc_id"] for r in got.collect()} == {
        r["doc_id"] for r in want.collect()
    }


def test_rebaseline_minhash_index_preserves_probe(spark, tmp_path):
    """Rebuilding a streamed index as one base partition over the
    drained corpus (the offline rebaseline) must leave probe answers
    identical to those of the index the stream grew batch by batch."""
    import os

    from feagen_spark.operators import dedup as D

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(
        [(1, "the base corpus document about joins and windows")], schema
    )
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "corpus_out")
    D.write_minhash_index(corpus, idx, k=16, bands=4, ingest_batch=-1)

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

    rebased = str(tmp_path / "idx_rebased")
    D.write_minhash_index(
        corpus.unionByName(spark.read.parquet(out).select("doc_id", "text")),
        rebased, k=16, bands=4, ingest_batch=-1,
    )
    parts = {p for p in os.listdir(rebased) if p.startswith("ingest_batch=")}
    assert parts == {"ingest_batch=-1"}
    assert (
        spark.read.parquet(rebased).count() == spark.read.parquet(idx).count()
    )

    probe_inc = spark.createDataFrame(
        [(99, "a first streamed document with original content")], schema
    )

    def probe(path):
        return {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in D.minhash_probe_increment(
                spark, path, probe_inc, k=16, bands=4, threshold=0.7
            ).collect()
        }

    before = probe(idx)
    assert before, "fixture must produce a cross pair"
    assert probe(rebased) == before


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
