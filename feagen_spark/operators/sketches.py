"""Mergeable Misra-Gries heavy-hitter summaries for corpus-scale
monitoring: exact frequent items ("top tokens / domains /
fingerprints") without shuffling the full value domain.

The 100 TB pattern: maintain a small SUMMARY TABLE incrementally — one
``hh_summary`` per ingest batch, appended as data lands — and answer
"items occurring at least t times" with
``heavy_hitters_from_summaries``, which merges any set of summaries by
plain UNION and verifies the candidates against the corpus. History is
never re-summarized. ``jobs/ingest_dedup.py`` and
``streaming_ingest_dedup(monitor_path=)`` write the summaries.

Properties pinned by tests/test_sketches.py: exact parity with
``groupBy(item).count()`` above the threshold, under every layout and
across batch boundaries; NULL items ignored; and loud errors, never a
silently incomplete answer, when the merged error bound reaches the
threshold, when a corpus key group has no summary rows, or when a key
is NULL. No DuckDB twin exists for the summary format, so these carry
pytest evidence rather than an oracle-backed query.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F


def _guard_null_keys(df: DataFrame, keys: list, op_name: str) -> DataFrame:
    """NULL key values are rejected loudly (code-review r6): every
    downstream candidate/verify join is null-unsafe, so a NULL-key
    group would silently vanish from the result instead of erroring."""
    if not keys:
        return df
    null_any = None
    for k in keys:
        c = F.col(k).isNull()
        null_any = c if null_any is None else (null_any | c)
    return df.withColumn(
        keys[0],
        F.when(
            null_any,
            F.raise_error(
                F.lit(
                    f"{op_name}: NULL key in {keys} — the "
                    "candidate/verify joins are null-unsafe and "
                    "would silently drop the group"
                )
            ).cast(df.schema[keys[0]].dataType),
        ).otherwise(F.col(keys[0])),
    )


def hh_summary(
    df: DataFrame,
    col: str,
    keys: Sequence[str] = (),
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

    One MG state (``capacity`` counters) per task partition × key
    group via mapInPandas; batch value_counts feed the counters, so
    Python cost is per DISTINCT-per-batch, not per row. Output rows:
    item rows carry ``mg_count`` (a lower bound whose total deficit is
    bounded), and one item-NULL row per (partition, group) carries
    ``mg_dec``, that partition's decrement total. MG invariant: an
    item absent from every summary has true count <= D = Σ mg_dec over
    the merged set. Summaries merge by plain UNION — order, layout and
    batch boundaries only change D, never break the bound. NULL items
    are not counted; NULL key values are rejected loudly (code-review
    r6: the downstream joins are null-unsafe).

    Cardinality contract for ``keys`` (ADVICE r6): each task holds one
    ``capacity``-sized MG state PER key group it sees, so per-task
    memory is O(groups-in-partition × capacity) — ``keys`` must be a
    LOW-cardinality dimension (source, lang, tenant tier). For
    high-cardinality keys, repartition by ``keys`` first so each task
    sees few groups, or lower ``capacity``."""
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1: {capacity}")
    keys = list(keys)
    df = _guard_null_keys(df, keys, "hh_summary")
    key_fields = ", ".join(
        f"`{k}` {df.schema[k].dataType.simpleString()}" for k in keys
    )
    item_type = df.schema[col].dataType.simpleString()
    schema = (
        (key_fields + ", " if key_fields else "")
        + f"`{item_col}` {item_type}, mg_count long, mg_dec long"
    )

    def _mg_partition(batches):
        # one MG state per key group seen in this task partition:
        # {key_tuple: [counters(dict), decrements(int)]}
        states: dict = {}
        for pdf in batches:
            groups = (
                pdf.groupby(keys, sort=False, dropna=False)
                if keys
                else [((), pdf)]
            )
            for kv, grp in groups:
                if keys and not isinstance(kv, tuple):
                    kv = (kv,)
                st = states.setdefault(kv, [{}, 0])
                counters, _ = st
                vc = grp[col].value_counts(dropna=True)
                for v, c in vc.items():
                    counters[v] = counters.get(v, 0) + int(c)
                if len(counters) > capacity:
                    # bulk decrement by the (capacity+1)-th largest
                    # count: all counters shrink, <=0 drop — the
                    # standard batched MG step
                    m = sorted(counters.values(), reverse=True)[capacity]
                    st[0] = {
                        v: c - m for v, c in counters.items() if c > m
                    }
                    st[1] += m
        rows = []
        for kv, (counters, dec) in states.items():
            for v, c in counters.items():
                rows.append((*kv, v, c, 0))
            rows.append((*kv, None, 0, dec))  # per-partition error row
        if rows:
            yield pd.DataFrame(
                rows, columns=[*keys, item_col, "mg_count", "mg_dec"]
            )

    return df.select(*keys, col).mapInPandas(_mg_partition, schema=schema)


def _hh_candidates(
    summary: DataFrame,
    corpus: DataFrame,
    threshold: int,
    keys: list,
    item_col: str,
) -> DataFrame:
    """Candidate set from (merged) MG summaries, with two loud guards.
    Error bound: per key group, D = Σ mg_dec must stay below
    ``threshold`` or a qualifying item could be missing — raise, never
    under-report. Coverage: every key group present in ``corpus`` must
    have summary rows — a group with no error row means its batches
    were never summarized (or the summary table is empty/wrong), which
    would otherwise yield a silently empty answer for that group
    (code-review r6). An empty corpus has no group to cover, so its
    answer is legitimately empty."""
    errs = summary.groupBy(*keys).agg(F.sum("mg_dec").alias("__d"))
    # corpus groups LEFT-join the summary groups: a group with no
    # summary rows surfaces as __d NULL for the guard below. Keyless,
    # the corpus is one group if it has a row, and the global aggregate
    # is one row whose __d is NULL iff the summaries are empty
    if keys:
        errs = corpus.select(*keys).distinct().join(errs, on=keys, how="left")
    else:
        errs = corpus.limit(1).select().crossJoin(errs)
    guarded = errs.withColumn(
        "__d",
        F.when(
            F.col("__d").isNull(),
            F.raise_error(
                F.lit(
                    "heavy_hitters_from_summaries: a key group has no "
                    "summary rows — empty or incomplete summary table "
                    "(was every ingest batch summarized?)"
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
    cand_src = summary.where(F.col(item_col).isNotNull())
    if keys:
        cand_src = cand_src.join(F.broadcast(guarded), on=keys)
    else:
        cand_src = cand_src.crossJoin(F.broadcast(guarded))
    # the WHERE keeps the guard column alive through optimization (a
    # bare select would let Catalyst prune __d and the raise with it);
    # it is trivially true whenever the guard does not fire
    return (
        cand_src.where(F.col("__d") >= 0)
        .select(*keys, item_col)
        .distinct()
    )


def heavy_hitters_from_summaries(
    summaries: DataFrame,
    df: DataFrame,
    col: str,
    threshold: int,
    keys: Sequence[str] = (),
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
    full-domain shuffle replaced by a bounded one. D is checked per
    key group when ``keys`` are given. A coverage guard raises too: a
    corpus key group with no summary rows (a batch that was never
    summarized, or an empty/wrong summary table) would otherwise
    yield a silently empty answer for that group. NULL items are
    ignored; NULL key values in the corpus are rejected loudly (the
    candidate and verify joins are null-unsafe — code-review r6).
    Counts are BIGINT.

    KEYLESS LIMITATION: with ``keys=()`` there is no group key to
    join coverage on, so only a fully EMPTY summary table is
    detectable — the caller must restrict ``df`` to the data the
    summaries actually cover (e.g. filter the stored corpus to the
    summarized ``ingest_batch`` partitions, as ``jobs/ingest_dedup.py``
    does); rows outside that slice are outside the MG bound and a
    heavy item living in them would be silently missing."""
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1: {threshold}")
    keys = list(keys)
    df = _guard_null_keys(df, keys, "heavy_hitters_from_summaries")
    # summaries are sketch-sized; pin so the D-guard branch and the
    # candidate branch read one materialization (a LIVE summary union
    # would otherwise re-run every batch's mapInPandas per branch)
    summaries = summaries.localCheckpoint(eager=False)
    cands = _hh_candidates(summaries, df, threshold, keys, item_col)
    # verify: exact counts over corpus rows semi-joined to the
    # broadcast candidate set
    return (
        df.select(*keys, F.col(col).alias(item_col))
        .join(F.broadcast(cands), on=[*keys, item_col])
        .groupBy(*keys, item_col)
        .agg(F.count(F.lit(1)).alias(count_col))
        .where(F.col(count_col) >= threshold)
    )
