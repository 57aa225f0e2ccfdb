"""Data-level incremental refresh: touched-conversation recompute must
equal the full recompute on those conversations, and partition-overwrite
must leave untouched conversations' files intact."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feagen_spark.core.dag import FeatureDAG
from feagen_spark.core.engine import Engine
from feagen_spark.features.turns import transcript_nodes, transcript_templates
from feagen_spark.operators import incremental as INC

REQ = ["prev_role", "turns_so_far", "session_id", "turn_in_session"]


@pytest.fixture()
def engine(tiny_transcripts):
    dag = FeatureDAG(
        nodes=transcript_nodes(),
        templates=transcript_templates(),
        input_columns=tuple(tiny_transcripts.columns),
    )
    return Engine(dag, store=None)


def test_refresh_equals_full_recompute(engine, tiny_transcripts):
    # "new turns" arrive for every 5th conversation
    new_turns = tiny_transcripts.where(
        F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0
    ).where(F.col("turn_idx") == 0)
    affected = INC.affected_conversations(new_turns)
    n_affected = affected.count()
    assert 0 < n_affected < tiny_transcripts.select("conv_id").distinct().count()

    refreshed = INC.refresh_conversations(
        engine, tiny_transcripts, new_turns, REQ
    )
    full = engine.generate(tiny_transcripts, REQ).join(
        F.broadcast(affected), on="conv_id", how="left_semi"
    )
    a = (
        refreshed.select("conv_id", "turn_idx", *REQ)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .fillna("__n__")
        .astype(str)
    )
    b = (
        full.select("conv_id", "turn_idx", *REQ)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .fillna("__n__")
        .astype(str)
    )
    pd.testing.assert_frame_equal(a, b)


def test_write_refresh_touches_only_affected_partitions(
    engine, tiny_transcripts, tmp_path, spark
):
    snap = str(tmp_path / "snapshot")
    full = engine.generate(tiny_transcripts, REQ).select(
        "conv_id", "turn_idx", *REQ
    )
    full.write.mode("overwrite").partitionBy("conv_id").parquet(snap)
    before = spark.read.parquet(snap).count()

    new_turns = tiny_transcripts.where(F.col("conv_id") == "conv00000003")
    refreshed = INC.refresh_conversations(
        engine, tiny_transcripts, new_turns, REQ
    ).select("conv_id", "turn_idx", *REQ)
    INC.write_refresh(refreshed, snap)

    after = spark.read.parquet(snap)
    assert after.count() == before  # same rows (refresh, not append)
    # untouched conversations still fully present
    assert (
        after.where(F.col("conv_id") != "conv00000003").count()
        == before - tiny_transcripts.where(F.col("conv_id") == "conv00000003").count()
    )
