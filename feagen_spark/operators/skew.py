"""Key-skew pre-flight diagnostic (SURVEY.md §2.C C11).

:func:`key_skew_report` answers "is this shuffle key skewed, and by how
much?" before the job that would discover it the hard way. What handles
skew at run time lives elsewhere: AQE splits skewed join partitions
(``spark.sql.adaptive.skewJoin.enabled`` is on in session.py), and
:func:`feagen_spark.operators.asof.asof_join_chunked` spreads a hot
as-of key over time chunks.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Pre-flight skew diagnostic: the exact top-k heaviest keys of a
    prospective shuffle key, each with its absolute row count, share of
    the total, and the ratio to a perfectly uniform key (the number
    that says whether a key needs AQE skew-join headroom, the
    time-chunked ``asof.asof_join_chunked`` or more clusters in
    ``similarity.semantic_dedup``, BEFORE the job that discovers it the
    hard way).

    Scalable shape: one map-combinable groupBy over the key columns
    (partial counts map-side — the shuffle carries one row per
    DISTINCT key, not per input row); the global top-k runs as
    ``orderBy().limit(k)`` which Spark compiles to
    ``TakeOrderedAndProject`` (each partition keeps its own top-k,
    driver merges k·partitions rows) — NOT a global rank window, which
    would single-task the whole key domain; the rank window then sees
    only the k survivors. The 2-value totals row joins back broadcast.
    At 100 TB this is the cheapest question you can ask of a table.

    Output: (key_cols..., n_rows, share, uniform_ratio, rank) for the
    top_k keys, rank 1 = heaviest (ties broken by key order for
    determinism)."""
    keys = [F.col(k) for k in key_cols]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum(F.col("n_rows")).cast("double").alias("__total"),
        F.count(F.lit(1)).cast("double").alias("__n_keys"),
    )
    order = [F.col("n_rows").desc(), *[F.col(k) for k in key_cols]]
    top = counts.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)  # over <= top_k rows only
    ranked = top.withColumn("rank", F.row_number().over(w))
    out = ranked.join(F.broadcast(totals))
    return out.select(
        *key_cols,
        "n_rows",
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        F.round(
            F.col("n_rows") * F.col("__n_keys") / F.col("__total"), 6
        ).alias("uniform_ratio"),
        "rank",
    )
