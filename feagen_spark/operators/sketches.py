"""Mergeable Misra-Gries heavy-hitter summaries for corpus-scale
monitoring: exact frequent items ("top tokens / domains /
fingerprints") without shuffling the full value domain.

The 100 TB pattern: maintain a small SUMMARY TABLE incrementally — one
``hh_summary`` per ingest batch, appended as data lands — and answer
"items occurring at least t times" with
``heavy_hitters_from_summaries``, which merges any set of summaries by
plain UNION and verifies the candidates against the corpus. History is
never re-summarized. ``jobs/ingest_dedup.py`` and
``streaming_ingest_dedup(monitor_path=)`` write the summaries. Both
count one item column over the whole corpus: the summaries are
keyless, one MG state per task partition.

Properties pinned by tests/test_sketches.py: exact parity with
``groupBy(item).count()`` above the threshold, under every layout and
across batch boundaries; NULL items ignored; and loud errors, never a
silently incomplete answer, when the merged error bound reaches the
threshold or when the summary table is empty for a non-empty corpus.
No DuckDB twin exists for the summary format, so these carry pytest
evidence rather than an oracle-backed query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hh_summary(
    df: DataFrame,
    col: str,
    capacity: int = 4096,
    item_col: str = "item",
) -> DataFrame:
    """Misra-Gries heavy-hitter SUMMARY, the mergeable half of the
    module's summary-table pattern: run per ingest batch (or per day)
    and APPEND the output (≤ capacity × partitions + partitions rows
    per run); answer "items
    over threshold" later by merging any set of summaries with
    ``heavy_hitters_from_summaries`` — the already-ingested corpus is
    never re-scanned for the summary side.

    One MG state (``capacity`` counters) per task partition via
    mapInPandas; batch value_counts feed the counters, so Python cost
    is per DISTINCT-per-batch, not per row. Output rows: item rows
    carry ``mg_count`` (a lower bound whose total deficit is bounded),
    and one item-NULL row per partition carries ``mg_dec``, that
    partition's decrement total. MG invariant: an item absent from
    every summary has true count <= D = Σ mg_dec over the merged set.
    Summaries merge by plain UNION — order, layout and batch
    boundaries only change D, never break the bound. NULL items are
    not counted."""
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1: {capacity}")
    item_type = df.schema[col].dataType.simpleString()
    schema = f"`{item_col}` {item_type}, mg_count long, mg_dec long"

    def _mg_partition(batches):
        # one MG state per task partition: counters and decrement total
        counters: dict = {}
        dec = 0
        seen = False
        for pdf in batches:
            seen = True
            for v, c in pdf[col].value_counts(dropna=True).items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                # bulk decrement by the (capacity+1)-th largest count:
                # all counters shrink, <=0 drop — the standard batched
                # MG step
                m = sorted(counters.values(), reverse=True)[capacity]
                counters = {v: c - m for v, c in counters.items() if c > m}
                dec += m
        if seen:
            rows = [(v, c, 0) for v, c in counters.items()]
            rows.append((None, 0, dec))  # per-partition error row
            yield pd.DataFrame(rows, columns=[item_col, "mg_count", "mg_dec"])

    return df.select(col).mapInPandas(_mg_partition, schema=schema)


def _hh_candidates(
    summary: DataFrame,
    corpus: DataFrame,
    threshold: int,
    item_col: str,
) -> DataFrame:
    """Candidate set from (merged) MG summaries, with two loud guards.
    Error bound: D = Σ mg_dec must stay below ``threshold`` or a
    qualifying item could be missing — raise, never under-report.
    Coverage: a non-empty ``corpus`` must have summary rows — an empty
    summary table would otherwise yield a silently empty answer
    (code-review r6). An empty corpus has nothing to cover, so its
    answer is legitimately empty."""
    # the corpus is one group if it has a row, and the global aggregate
    # is one row whose __d is NULL iff the summaries are empty
    errs = corpus.limit(1).select().crossJoin(
        summary.agg(F.sum("mg_dec").alias("__d"))
    )
    guarded = errs.withColumn(
        "__d",
        F.when(
            F.col("__d").isNull(),
            F.raise_error(
                F.lit(
                    "heavy_hitters_from_summaries: no summary rows for "
                    "a non-empty corpus — empty summary table (was "
                    "every ingest batch summarized?)"
                )
            ).cast("long"),
        )
        .when(
            F.col("__d") >= F.lit(int(threshold)),
            F.raise_error(
                F.concat(
                    F.lit("heavy_hitters_from_summaries: MG error bound D="),
                    F.col("__d").cast("string"),
                    F.lit(
                        f" >= threshold={threshold} — an item could be "
                        "missed; raise capacity or threshold"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.col("__d")),
    )
    # the WHERE keeps the guard column alive through optimization (a
    # bare select would let Catalyst prune __d and the raise with it);
    # it is trivially true whenever the guard does not fire
    return (
        summary.where(F.col(item_col).isNotNull())
        .crossJoin(F.broadcast(guarded))
        .where(F.col("__d") >= 0)
        .select(item_col)
        .distinct()
    )


def heavy_hitters_from_summaries(
    summaries: DataFrame,
    df: DataFrame,
    col: str,
    threshold: int,
    item_col: str = "item",
    count_col: str = "n",
) -> DataFrame:
    """The incremental query path: merge APPENDED ``hh_summary``
    outputs (any union of batches — the summary table) into the exact
    frequent-item answer over ``df`` (the stored corpus those batches
    ingested). The summary side never re-scans history; the verify
    pass reads the corpus once, pruned to candidate rows before its
    aggregate.

    MG guarantees an item absent from every merged summary has true
    count <= D = Σ mg_dec, so if ``threshold`` <= D the candidate set
    can miss a qualifying item and the operator RAISES (raise the
    summaries' ``capacity`` or ``threshold``). Within that contract
    the result is exact, deterministic and layout-invariant:
    ``df.groupBy(col).count().where(count >= threshold)`` with the
    full-domain shuffle replaced by a bounded one. A coverage guard
    raises too: a non-empty corpus with an empty summary table would
    otherwise yield a silently empty answer. NULL items are ignored.
    Counts are BIGINT.

    COVERAGE LIMITATION: the summaries carry no group key to join
    coverage on, so only a fully EMPTY summary table is detectable —
    the caller must restrict ``df`` to the data the summaries actually
    cover (e.g. filter the stored corpus to the summarized
    ``ingest_batch`` partitions, as ``jobs/ingest_dedup.py`` does);
    rows outside that slice are outside the MG bound and a heavy item
    living in them would be silently missing."""
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1: {threshold}")
    # summaries are sketch-sized; pin so the D-guard branch and the
    # candidate branch read one materialization (a LIVE summary union
    # would otherwise re-run every batch's mapInPandas per branch)
    summaries = summaries.localCheckpoint(eager=False)
    cands = _hh_candidates(summaries, df, threshold, item_col)
    # verify: exact counts over corpus rows semi-joined to the
    # broadcast candidate set
    return (
        df.select(F.col(col).alias(item_col))
        .join(F.broadcast(cands), on=item_col)
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias(count_col))
        .where(F.col(count_col) >= threshold)
    )
