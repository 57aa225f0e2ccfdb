"""Skew handling for heavy-hitter keys (SURVEY.md §2.C C11).

Two distinct problems, two tools:

1. **Skewed aggregations/joins** — ``salted_agg`` does the classic
   two-phase aggregate: partial agg on (key, salt) spreads a hot key
   over N reducers, final agg merges. (Joins get AQE skew-split for
   free: spark.sql.adaptive.skewJoin.enabled is on in session.py.)

2. **Skewed windows** — Spark window functions CANNOT be salted (the
   frame needs the whole partition), so a giant conversation pins one
   task. For trailing frames with bounded reach we chunk the
   conversation by its dense order column and duplicate a ``halo`` of
   the previous chunk's tail rows into each chunk
   (``chunked_trailing``): every row then sees its full lookback inside
   its own (key, chunk) partition, halo rows are dropped after compute.
   Parallelism becomes O(conv_len / chunk_size) instead of 1.
   Unbounded frames (cumulative) are out of scope for halo-chunking by
   construction — they need a chunk-prefix scan (two-pass); the engine
   keeps those on the plain window path.

The chunked path is a measured fallback for pathological conversations
(engine threshold), not the default — for typical conversations the
single-exchange window chain is faster.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window, WindowSpec


# -- 1. salted aggregation -------------------------------------------------------

def salted_agg(
    df: DataFrame,
    key: str | Sequence[str],
    partial_aggs: Sequence[tuple[Column, str]],
    merge_aggs: Callable[[str], Column] | None = None,
    salt_n: int = 32,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Two-phase aggregate: groupBy(key, salt) → groupBy(key).

    partial_aggs: (agg_column, out_name) computed per (key, salt);
    merge_aggs(name) -> final merge column (default: sum — correct for
    count/sum-style partials). Hot keys spread across salt_n reducers.

    The salt hashes stable row content (``salt_cols``, default: every
    hashable column) — NOT monotonically_increasing_id, which changes
    across task retries/repartitions and would make speculative-
    execution retries bucket rows differently mid-job.

    Caveat of any deterministic salt: IDENTICAL rows land in one salt
    bucket. If a hot key's rows have very few distinct contents, pass
    ``salt_cols`` naming a high-cardinality column — or pre-aggregate
    the duplicates first (for associative aggs that is itself the
    map-side combine Spark already does).
    """
    keys = [key] if isinstance(key, str) else list(key)
    partial = salted_partials(df, keys, partial_aggs, salt_n=salt_n, salt_cols=salt_cols)
    if merge_aggs is None:
        merge_aggs = lambda n: F.sum(n).alias(n)  # noqa: E731
    return partial.groupBy(*keys).agg(
        *[merge_aggs(n) for _, n in partial_aggs]
    )


def salted_partials(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: Sequence[tuple[Column, str]],
    salt_n: int = 32,
    salt_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Phase-1 frame of :func:`salted_agg`: one row per (key, salt).
    Exposed so the retry-stability of the salt is directly testable."""
    if salt_cols is not None:
        scols = list(salt_cols)
    else:
        # xxhash64 rejects MapType; default-salt only the hashable columns
        scols = [
            f.name for f in df.schema.fields
            if not isinstance(f.dataType, T.MapType)
        ]
        if not scols:
            raise ValueError("no hashable columns to salt on; pass salt_cols")
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*scols), F.lit(salt_n))
    )
    return salted.groupBy(*list(keys), "__salt").agg(
        *[c.alias(n) for c, n in partial_aggs]
    )


# -- 2. halo-chunked bounded trailing windows -------------------------------------

@dataclass(frozen=True)
class TrailingSpec:
    """One bounded trailing feature: ``make(w)`` builds the column over a
    per-(key, chunk) window; ``reach`` = how many preceding rows the
    frame can touch (max lag k / last_n). reach must be <= halo."""

    out: str
    make: Callable[[WindowSpec], Column]
    reach: int


def plain_trailing(
    df: DataFrame,
    key: str,
    order_col: str,
    specs: Sequence[TrailingSpec],
) -> DataFrame:
    """Reference path: one window partition per key."""
    w = Window.partitionBy(key).orderBy(order_col)
    for s in specs:
        df = df.withColumn(s.out, s.make(w))
    return df


def chunked_trailing(
    df: DataFrame,
    key: str,
    order_col: str,
    specs: Sequence[TrailingSpec],
    chunk_size: int = 10_000,
) -> DataFrame:
    """Halo-chunked path, value-identical to ``plain_trailing`` for
    bounded specs. Requires ``order_col`` dense 0..n-1 per key (true for
    turn_idx — C14 guarantees it).

    Rows land in chunk ``order/chunk_size``; the last ``halo`` rows of
    each chunk are ALSO copied into the next chunk (flagged), windows
    run per (key, chunk), halo copies are dropped.
    """
    halo = max(s.reach for s in specs)
    if halo >= chunk_size:
        raise ValueError(f"halo {halo} must be < chunk_size {chunk_size}")

    o = F.col(order_col)
    own = df.withColumn("__chunk", (o / chunk_size).cast("long")).withColumn(
        "__halo", F.lit(False)
    )
    halo_rows = (
        df.where((o % chunk_size) >= chunk_size - halo)
        .withColumn("__chunk", (o / chunk_size).cast("long") + 1)
        .withColumn("__halo", F.lit(True))
    )
    u = own.unionByName(halo_rows)
    w = Window.partitionBy(key, "__chunk").orderBy(order_col)
    for s in specs:
        u = u.withColumn(s.out, s.make(w))
    return u.where(~F.col("__halo")).drop("__chunk", "__halo")


@dataclass(frozen=True)
class CumulativeSpec:
    """One unbounded-frame cumulative feature: running aggregate of
    ``value`` (a Column expression) up to the previous row
    (include_current=False, the leakage-safe default) or current row."""

    out: str
    value: Column
    include_current: bool = False


def chunked_cumulative(
    df: DataFrame,
    key: str,
    order_col: str,
    specs: Sequence[CumulativeSpec],
    chunk_size: int = 10_000,
) -> DataFrame:
    """Two-pass cumulative for giant keys (closes the halo-chunking gap:
    unbounded frames can't use a bounded halo).

    Pass 1: within-chunk running sums over (key, chunk) partitions —
    parallelism O(rows/chunk_size). Pass 2: per-chunk totals (one row
    per chunk) prefix-summed over a tiny window, joined back on
    (key, chunk). cum = prefix_of_previous_chunks + within_chunk_running.

    Requires ``order_col`` dense 0..n-1 per key (C14 guarantees it).
    Value-identical to a plain unbounded window (tests/test_skew.py).
    """
    o = F.col(order_col)
    d = df.withColumn("__chunk", (o / chunk_size).cast("long"))

    w_in = Window.partitionBy(key, "__chunk").orderBy(order_col)
    for s in specs:
        hi = 0 if s.include_current else -1
        d = d.withColumn(
            f"__in_{s.out}",
            F.coalesce(
                F.sum(s.value).over(
                    w_in.rowsBetween(Window.unboundedPreceding, hi)
                ),
                F.lit(0),
            ),
        )

    totals = d.groupBy(key, "__chunk").agg(
        *[F.sum(s.value).alias(f"__tot_{s.out}") for s in specs]
    )
    w_pfx = (
        Window.partitionBy(key)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = totals.select(
        key,
        "__chunk",
        *[
            F.coalesce(F.sum(f"__tot_{s.out}").over(w_pfx), F.lit(0)).alias(
                f"__pfx_{s.out}"
            )
            for s in specs
        ],
    )
    # no broadcast hint: whole-table prefixes are key-sized (code-review r6)
    d = d.join(prefixes, on=[key, "__chunk"], how="left")
    for s in specs:
        d = d.withColumn(
            s.out, F.col(f"__pfx_{s.out}") + F.col(f"__in_{s.out}")
        ).drop(f"__in_{s.out}", f"__pfx_{s.out}")
    return d.drop("__chunk")


def plain_cumulative(
    df: DataFrame, key: str, order_col: str, specs: Sequence[CumulativeSpec]
) -> DataFrame:
    """Reference path: one unbounded window partition per key."""
    w = Window.partitionBy(key).orderBy(order_col)
    for s in specs:
        hi = 0 if s.include_current else -1
        df = df.withColumn(
            s.out,
            F.coalesce(
                F.sum(s.value).over(w.rowsBetween(Window.unboundedPreceding, hi)),
                F.lit(0),
            ),
        )
    return df


def auto_trailing(
    df: DataFrame,
    key: str,
    order_col: str,
    specs: Sequence[TrailingSpec],
    giant_threshold: int = 100_000,
    chunk_size: int = 10_000,
    giants: DataFrame | Sequence[str] | None = None,
) -> DataFrame:
    """Route giant keys through the chunked path, everything else through
    the plain single-window path, and union.

    Pass ``giants`` when the heavy hitters are already known (checkpoint
    manifest metrics, table statistics, yesterday's run) — the
    detection count-scan is then skipped entirely, which matters: on a
    98%-skewed 2M-turn input the detection pass costs more than the
    chunked window itself (BENCH/SKEW.md)."""
    if giants is None:
        sizes = df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
        giants = sizes.where(F.col("__n") > giant_threshold).select(key)
    elif not isinstance(giants, DataFrame):
        # derive the key dtype from the input schema — a hardcoded string
        # schema breaks the semi/anti joins for e.g. long id keys
        key_type = df.schema[key].dataType
        giants = df.sparkSession.createDataFrame(
            [(g,) for g in giants],
            T.StructType([T.StructField(key, key_type)]),
        )
    else:
        giants = giants.select(key)
    g = df.join(F.broadcast(giants), on=key, how="left_semi")
    rest = df.join(F.broadcast(giants), on=key, how="left_anti")
    out_g = chunked_trailing(g, key, order_col, specs, chunk_size=chunk_size)
    out_r = plain_trailing(rest, key, order_col, specs)
    return out_r.unionByName(out_g)


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 20,
) -> DataFrame:
    """Pre-flight skew diagnostic: the exact top-k heaviest keys of a
    prospective shuffle key, each with its absolute row count, share of
    the total, and the ratio to a perfectly uniform key (the number
    that says "this key needs ``salted_agg`` / chunked windows /
    AQE skew-join headroom" BEFORE the job that discovers it the hard
    way).

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
