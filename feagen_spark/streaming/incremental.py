"""Structured Streaming upgrade path (SURVEY.md §2 disposition note):
incremental features over a live event stream.

The north rule's workload is batch backfill; this module is the
streaming counterpart that the three streaming queries of
``__spark_entry__.py`` drain: watermarked gap-sessionization via
``session_window`` (Spark's native analogue of the batch ts-gap
sessionizer) with per-session aggregates and purchase attribution, an
``applyInPandasWithState`` exponential-decay sum, and the
continuous-ingest near-dup dedup that ``jobs/ingest_dedup.py`` runs.

Boundary semantics note: ``session_window(ts, gap)`` merges an event
whose delta to the previous event is EXACTLY gap (window end is
inclusive; verified empirically on Spark 4.1.2) — i.e. it splits at
delta > gap, which is precisely the batch sessionizer's semantics
(functions/windowed.add_session_id, which
features/turns.add_session_id delegates to). Exact-gap parity of
``streaming_session_value_aggs`` is locked by
tests/test_streaming.py::test_streaming_session_boundary_exact_gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_session_value_aggs(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Generic gap-session aggregates over any keyed event stream
    (key, ts, value): n_rows, min/max ts and the value sum per session.
    The session boundary (split at delta > gap) and the aggregate set
    mirror the batch ``functions/windowed.session_aggregates`` so a
    drained stream is row-identical to the batch oracle — the
    driver-checked streaming path (VERDICT r2 #6)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key),
            F.session_window(ts_col, f"{gap_s} seconds").alias("session"),
        )
        .agg(
            # int, not bigint: the batch mirror casts (windowed.py
            # session_aggregates) and the docstring promises
            # row-identical schemas (code-review r6)
            F.count(F.lit(1)).cast("int").alias("n_rows"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            key, "n_rows", "session_start", "session_end", "session_value"
        )
    )


def streaming_session_attribution(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    event_type_col: str = "event_type",
    event_id_col: str = "event_id",
    target_type: str = "purchase",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch interval-attribution composition
    (sessionize → session bounds → interval_join of purchases): which
    gap-session does each purchase belong to, computed AS SESSIONS
    CLOSE on the live stream (VERDICT r4 #10).

    No stream-stream join: a purchase is an event of the stream, so it
    lands inside exactly one ``session_window`` group by construction —
    the attribution rides the session aggregate itself as a
    ``collect_list`` of the target-type event ids (bounded by session
    size, the same state bound as the aggregate). Output: one row per
    (key, session) with the session start and the sorted target ids;
    sessions without targets emit an empty list. Session ordinals are a
    batch-side finish (row_number over session_start — the
    ev_session_aggs_streaming pattern), after which exploding the ids
    reproduces the batch attribution rows exactly."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key),
            F.session_window(ts_col, f"{gap_s} seconds").alias("session"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col(event_type_col) == target_type,
                        F.col(event_id_col),
                    )
                )
            ).alias("target_ids"),
            F.min(ts_col).alias("session_start"),
        )
        .select(key, "session_start", "target_ids")
    )


def streaming_decayed_sum(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_s: float = 600.0,
    out: str = "value_decay",
) -> DataFrame:
    """O(1)-state exponential time decay per key — the streaming twin
    of the decayed sum of ``windowed.add_rolling_frame_features``
    WITHOUT the frame cap (unbounded history): every arriving row is
    emitted with
    S = Σ_{prior} vᵢ·2^(−(t−tᵢ)/half_life), maintained by the closed-
    form recurrence S ← S·2^(−Δt/half_life) + v_prev — two doubles of
    state per key regardless of history length, the classic real-time
    engagement-score operator.

    Leakage contract: the emitted value reflects STRICTLY-PRIOR rows
    only (the arriving row's own value is folded in after emission).
    Rows of a micro-batch are processed in (ts, value) order; late
    arrivals across batches see processing-time state (the standard
    append-mode caveat — exact late-data semantics belong to the batch
    backfill). NULL values contribute 0; NULL ts rows are emitted with
    NULL and do not advance the state clock."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # key type follows the input schema (hardcoding string would die
    # deep inside Arrow serialization for e.g. bigint keys)
    key_t = stream.schema[key].dataType.simpleString()
    out_schema = f"{key} {key_t}, {ts_col} timestamp, {out} double"
    state_schema = "s double, last_us long"
    lam = math.log(2.0) / (float(half_life_s) * 1e6)

    def update(k, pdfs, state: GroupState):
        s, last_us = (state.get if state.exists else (0.0, None))
        rows = []
        frames = [pdf for pdf in pdfs]
        if frames:
            batch = pd.concat(frames).sort_values([ts_col, value_col])
            for r in batch.itertuples():
                ts = getattr(r, ts_col)
                if pd.isna(ts):
                    rows.append({key: k[0], ts_col: ts, out: None})
                    continue
                cur_us = ts.value // 1000
                if last_us is not None:
                    s = s * math.exp(-lam * max(0, cur_us - last_us))
                rows.append({key: k[0], ts_col: ts, out: s})
                v = getattr(r, value_col)
                s += 0.0 if pd.isna(v) else float(v)
                last_us = cur_us
        state.update((float(s), last_us))
        yield pd.DataFrame(rows, columns=[key, ts_col, out])

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ingest_dedup(
    stream: DataFrame,
    index_path: str,
    corpus_path: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket: int | None = 500,
    hash_mode: str = "xxh64",
    monitor_path: str | None = None,
    monitor_capacity: int = 4096,
):
    """Continuous-ingest near-dup deduplication: each micro-batch of new
    documents is probed against the PERSISTED MinHash index
    (``dedup.write_minhash_index(..., ingest_batch=-1)`` bootstraps it
    from the existing corpus — or start cold with no index), near-dups
    are dropped, and the survivors' band rows are appended to the index
    so LATER batches dedup against them too. The streaming state is the
    on-disk index itself — restart-safe by construction, zero in-memory
    streaming state, no watermark needed (dedup never expires).

    Keep policy (deterministic):

    - a batch doc matching ANY indexed doc (``pair_kind='cross'``) is
      dropped — the corpus always wins;
    - of a batch-internal pair (``'intra'``, ids a<b) the GREATER id is
      dropped, regardless of whether the lesser id itself survives
      (greedy rule — no transitive clustering inside one batch; run the
      batch `connected_components` pipeline when star-shaped intra
      clusters must collapse to one representative).

    Exactly-once: both sinks are ``ingest_batch``-partitioned and
    written with DYNAMIC partition overwrite keyed on the foreachBatch
    ``batch_id``, so a replayed batch overwrites its own partitions
    bit-identically; the probe filters the index to
    ``ingest_batch < batch_id`` so a half-written replay partition can
    never feed pairs back into its own batch's decisions.

    Scale shape: per batch, only the increment's text is shingled; the
    index side is a column-pruned parquet scan joined against the
    BROADCAST banded batch (the index never shuffles — same plan as the
    batch probe). Returns the configured ``DataStreamWriter`` — attach
    a checkpoint + trigger and ``start()``.

    Contract: ``id_col`` must be one non-null id space across corpus
    and all batches (shared ids would self-pair and silently vanish).
    The MinHash config is checked when the writer is built: ``bands``
    must divide ``k`` (``ValueError`` otherwise), the same rule
    ``dedup.write_minhash_index`` applies to the bootstrap index.

    Monitoring (``monitor_path``): each batch also appends a
    Misra-Gries token summary of its SURVIVORS
    (``sketches.hh_summary`` over the whitespace tokens, one
    ``ingest_batch`` partition per trigger, dynamic-overwrite
    replay discipline like the other sinks) — the incremental
    heavy-hitter table that answers "top tokens/boilerplate in the
    growing corpus" via ``sketches.heavy_hitters_from_summaries``
    WITHOUT ever re-summarizing history. A replayed batch fully
    replaces its own partition; summary contents are bound-equivalent
    (the MG guarantee holds for any layout), not byte-identical —
    unlike the dedup sinks, whose replays are bit-exact."""
    from ..operators import dedup as D
    from ..operators.incremental import _dynamic_overwrite

    # band the stream itself once, lazily: a (k, bands) that
    # minhash_band_rows rejects, or a missing id/text column, fails
    # here rather than in the first trigger
    D.minhash_band_rows(
        stream, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col,
        seed=seed, hash_mode=hash_mode,
    )

    def _index_has_data(spark, path: str) -> bool:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return False
        it = fs.listFiles(p, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if not (name.startswith("_") or name.startswith(".")):
                return True
        return False

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # shingle + signature the batch EXACTLY ONCE: the same pinned
        # band rows feed the probe (or cold-start self-pairs) AND the
        # index append below (code-review r6 — the first cut hashed the
        # batch text twice per trigger)
        inc_bands = D.minhash_band_rows(
            batch, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col,
            seed=seed, hash_mode=hash_mode,
        ).localCheckpoint(eager=False)
        if _index_has_data(spark, index_path):
            pairs = D.probe_band_rows(
                spark, index_path, inc_bands, k=k, threshold=threshold,
                id_col=id_col, max_bucket=max_bucket, tag_kind=True,
                index_where=F.col("ingest_batch") < F.lit(int(batch_id)),
            )
        else:
            # cold start: no corpus yet — batch-internal dedup only
            pairs = (
                D.band_rows_self_pairs(inc_bands, k, id_col=id_col)
                .where(F.col("est_jaccard") >= threshold)
                .dropDuplicates(["id_a", "id_b"])
                .withColumn("pair_kind", F.lit("intra"))
            )
        batch_ids = batch.select(id_col)
        cross_ids = (
            pairs.where(F.col("pair_kind") == "cross")
            .select(F.explode(F.array("id_a", "id_b")).alias(id_col))
            # disjoint id spaces: the semi-join keeps the batch member
            .join(F.broadcast(batch_ids), on=id_col, how="left_semi")
        )
        intra_ids = pairs.where(F.col("pair_kind") == "intra").select(
            F.col("id_b").alias(id_col)
        )
        drop = cross_ids.unionByName(intra_ids).distinct()
        # pin the keep decision: the index write below adds this batch's
        # partition, and without the checkpoint the corpus write would
        # re-run the probe against an index that now contains it
        # (index_where guards correctness, the checkpoint guards cost)
        kept = batch.join(
            F.broadcast(drop), on=id_col, how="left_anti"
        ).localCheckpoint()
        # survivors' band rows from the SAME pinned frame the probe used
        rows = inc_bands.join(
            F.broadcast(kept.select(id_col)), on=id_col, how="left_semi"
        ).withColumn("ingest_batch", F.lit(int(batch_id)))
        _dynamic_overwrite(rows, index_path, ["ingest_batch", "band"])
        _dynamic_overwrite(
            kept.withColumn("ingest_batch", F.lit(int(batch_id))),
            corpus_path,
            ["ingest_batch"],
        )
        if monitor_path is not None:
            from ..operators.sketches import hh_summary
            from ..operators.textstats import _ws_tokens

            toks = kept.select(
                F.explode(_ws_tokens(F.col(text_col))).alias("__tok")
            )
            summ = hh_summary(toks, "__tok", capacity=monitor_capacity)
            _dynamic_overwrite(
                summ.withColumn("ingest_batch", F.lit(int(batch_id))),
                monitor_path,
                ["ingest_batch"],
            )

    return stream.writeStream.foreachBatch(_process)


def run_available_now(
    query_df: DataFrame, name: str, checkpoint: str, output_mode: str = "update"
):
    """Drain everything currently available into an in-memory table and
    stop — the drain the streaming queries of ``__spark_entry__.py``
    and the batch-parity tests share. session_window
    aggregations need output_mode='complete' (append withholds
    non-finalized sessions); applyInPandasWithState needs 'update'."""
    q = (
        query_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
