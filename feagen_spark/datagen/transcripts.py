"""Deterministic synthetic transcript generation (FIXTURES.md §1-2).

Input shape is authoritative per BASELINE.json:15 input_hint:
    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Fully Spark-native (spark.range + column exprs + one per-conv cumsum
window) so the same generator scales from 200-conv unit fixtures to
bench-scale inputs without a driver-side loop. Determinism comes from
``xxhash64`` over (salt, conv, turn) — stable across runs/partitionings.

Skew: a configurable number of "giant" conversations (heavy tail) to
exercise the window-skew path (SURVEY.md §2.C C11). Edge convs: one
single-turn conv and one conv with two equal-ts turns (as-of tie-break).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z
SESSION_GAP_S = 1800
TOOL_VOCAB = ["search", "bash", "read", "write", "browser"]
FILLER = "abcdefghij" * 50  # 500 chars, sliced to 20..499


def _h31(salt: str, *cols) -> F.Column:
    """Deterministic 31-bit hash of (salt, cols)."""
    return F.pmod(F.xxhash64(F.lit(salt), *cols), F.lit(2**31 - 1))


def transcripts(
    spark: SparkSession,
    n_conv: int = 200,
    giant_convs: int = 3,
    giant_turns: int = 5000,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Build the deterministic transcript table.

    conv_num layout: -2 = tie conv (2 turns, equal ts), -1 = single-turn
    conv, 0..n_conv-1 = normal convs (1..30 turns), n_conv..n_conv+G-1 =
    giant convs (skew tail).
    """
    total = n_conv + giant_convs + 2
    convs = spark.range(total).select((F.col("id") - 2).alias("conv_num"))
    if partitions:
        convs = convs.repartition(partitions)

    salt = f"s{seed}"
    n_turns = (
        F.when(F.col("conv_num") == -2, F.lit(2))
        .when(F.col("conv_num") == -1, F.lit(1))
        .when(F.col("conv_num") >= n_conv, F.lit(giant_turns))
        .otherwise(1 + _h31(salt + "len", F.col("conv_num")) % 30)
    )
    conv_id = (
        F.when(F.col("conv_num") == -2, F.lit("convTIE"))
        .when(F.col("conv_num") == -1, F.lit("convSINGLE"))
        .otherwise(F.format_string("conv%08d", F.col("conv_num")))
    )
    df = convs.select(
        "conv_num",
        conv_id.alias("conv_id"),
        F.explode(F.sequence(F.lit(0), n_turns - 1)).alias("turn_idx"),
    )
    df = df.withColumn("turn_idx", F.col("turn_idx").cast("int"))

    # role: turn 0 of every 7th conv is system; else period-11 cycle of
    # user/assistant with a tool turn after every 5th assistant turn.
    k = F.col("turn_idx") % 11
    role = (
        F.when(
            (F.col("conv_num") >= 0)
            & (F.col("conv_num") % 7 == 0)
            & (F.col("turn_idx") == 0),
            F.lit("system"),
        )
        .when(k == 10, F.lit("tool"))
        .when(k % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
    )
    df = df.withColumn("role", role)

    tool = F.when(
        F.col("role") == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in TOOL_VOCAB]),
            (_h31(salt + "tool", F.col("conv_num"), F.col("turn_idx")) % 5 + 1).cast(
                "int"
            ),
        ),
    ).otherwise(F.lit(""))
    df = df.withColumn("tool", tool)

    fill_len = (
        20 + _h31(salt + "txt", F.col("conv_num"), F.col("turn_idx")) % 480
    ).cast("int")
    df = df.withColumn(
        "text",
        F.concat(
            F.col("conv_id"),
            F.lit(":"),
            F.col("turn_idx").cast("string"),
            F.lit(":"),
            F.col("role"),
            F.lit(":"),
            F.substring(F.lit(FILLER), 1, 499).substr(F.lit(1), fill_len),
        ),
    )

    # ts: base + conv offset + cumsum(gap); every 40th turn jumps past the
    # session threshold to force sessionization boundaries.
    gap = (
        F.when(F.col("turn_idx") == 0, F.lit(0))
        .when((F.col("conv_num") == -2), F.lit(0))  # tie conv: equal ts
        .when(F.col("turn_idx") % 40 == 0, F.lit(3600))
        .otherwise(5 + _h31(salt + "gap", F.col("conv_num"), F.col("turn_idx")) % 116)
    )
    w = (
        Window.partitionBy("conv_num")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ts_sec = (
        F.lit(EPOCH_2026)
        + (F.col("conv_num") + 2) * 997
        + F.sum(gap).over(w)
    )
    df = df.withColumn("ts", F.timestamp_seconds(ts_sec))

    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def labels(spark: SparkSession, transcripts_df: DataFrame) -> DataFrame:
    """As-of query points (FIXTURES.md §2): every 3rd conv; mix of exact
    turn ts, ts+1s, before conv start, after conv end."""
    base = transcripts_df.where(
        F.pmod(F.xxhash64(F.lit("lbl"), F.col("conv_id")), F.lit(3)) == 0
    )
    exact = base.where(F.col("turn_idx") % 4 == 1).select("conv_id", "ts")
    plus1 = base.where(F.col("turn_idx") % 4 == 2).select(
        "conv_id", (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts")
    )
    bounds = base.groupBy("conv_id").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    before = bounds.select(
        "conv_id", (F.col("mn") - F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    after = bounds.select(
        "conv_id", (F.col("mx") + F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    return exact.unionByName(plus1).unionByName(before).unionByName(after)
