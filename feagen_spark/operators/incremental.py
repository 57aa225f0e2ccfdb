"""Data-level incremental feature refresh (batch counterpart of
streaming/incremental.py; complements the engine's node-level
skip-if-exists resume).

Window features need the FULL conversation history, so the correct
incremental unit is the conversation, not the row: when a batch of new
turns lands, only the touched conversations' feature rows change.

``refresh_conversations`` recomputes exactly those conversations and
returns (updated_feature_rows, affected_conv_ids). At 100TB the flow
is: append new turns to the transcript table → semi-join the table on
the (small, broadcast) affected-conv set → run the feature DAG on that
slice → dynamic-partition-overwrite the feature snapshot table for
those conversations. The cost is O(touched conversations), not O(table).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def affected_conversations(new_turns: DataFrame, key: str = "conv_id") -> DataFrame:
    return new_turns.select(key).distinct()


def refresh_conversations(
    engine,
    full_table: DataFrame,
    new_turns: DataFrame,
    requested: Sequence[str],
    key: str = "conv_id",
) -> DataFrame:
    """Recompute the requested features for exactly the conversations
    touched by ``new_turns`` (which must already be part of
    ``full_table``). Returns the refreshed feature rows for those
    conversations — correct against a full recompute because each
    conversation is featurized from its complete history."""
    affected = affected_conversations(new_turns, key=key)
    slice_df = full_table.join(F.broadcast(affected), on=key, how="left_semi")
    return engine.generate(slice_df, list(requested))


def _dynamic_overwrite(
    df: DataFrame,
    path: str,
    partition_by: list[str] | str,
) -> None:
    """Dynamic partition overwrite: only the partitions PRESENT in `df`
    are rewritten — the idempotent-append primitive shared by the
    refresh snapshot writer and the streaming ingest-dedup sinks (a
    replayed batch overwrites exactly its own partitions).

    The mode rides as a PER-WRITE option, not the session conf: two
    concurrent writers toggling the session-global
    ``partitionOverwriteMode`` can race one of them into a STATIC
    overwrite that deletes every existing partition (code-review r6)."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def write_refresh(
    refreshed: DataFrame,
    snapshot_path: str,
    key: str = "conv_id",
) -> None:
    """Dynamic partition overwrite of the refreshed conversations into a
    key-partitioned snapshot table (only touched partitions rewritten)."""
    _dynamic_overwrite(refreshed, snapshot_path, key)
