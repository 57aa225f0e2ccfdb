"""Misra-Gries heavy hitters (operators/sketches.py): exact parity
under every layout and across batches, and the loud guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feagen_spark.operators import sketches as SK


@pytest.fixture(scope="module")
def zipfish(spark):
    """10k rows over ~1k distinct tokens with a heavy head: token =
    id % (1 + id % 37) picks small values far more often."""
    return spark.range(10_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1) + F.pmod("id", F.lit(37)))
        .cast("string")
        .alias("tok"),
    )


def _hh(df, threshold, capacity=4096):
    """One summary over ``df`` merged back against ``df`` itself."""
    summ = SK.hh_summary(df, "tok", capacity=capacity)
    return SK.heavy_hitters_from_summaries(summ, df, "tok", threshold=threshold)


def _exact(df, threshold):
    return {
        tuple(r)
        for r in df.groupBy("tok")
        .count()
        .where(F.col("count") >= threshold)
        .collect()
    }


def test_heavy_hitters_exact_parity_and_layout_invariance(zipfish):
    exp = _exact(zipfish, 300)
    for layout in (zipfish, zipfish.repartition(1), zipfish.repartition(13)):
        got = {tuple(r) for r in _hh(layout, 300, capacity=256).collect()}
        assert got == exp and got  # exact under every layout


def test_heavy_hitters_zero_error_when_capacity_covers_domain(spark):
    df = spark.range(2_000).select(
        F.pmod("id", F.lit(50)).cast("string").alias("tok")
    )
    got = {tuple(r) for r in _hh(df, 1, capacity=64).collect()}
    # capacity >= distinct: D == 0, so even threshold=1 is exact
    exp = {tuple(r) for r in df.groupBy("tok").count().collect()}
    assert got == exp and len(got) == 50


def test_heavy_hitters_guard_fires_when_threshold_within_error(spark):
    from pyspark.errors import PySparkException

    # 500 distinct items x 40 occurrences through 8 counters: every
    # bulk decrement subtracts ~the per-batch item count, so D grows
    # to tens — a threshold of 5 sits inside the error bound (a
    # 40-count item could be entirely absent from the summaries) and
    # MUST raise rather than silently under-report. (Singletons are
    # NOT such a case: their decrements are 1 each, D stays tiny, and
    # an empty answer is genuinely exact.)
    df = spark.range(20_000).select(
        F.pmod("id", F.lit(500)).cast("string").alias("tok")
    )
    with pytest.raises(PySparkException, match="heavy_hitters"):
        _hh(df, threshold=5, capacity=8).collect()


def test_heavy_hitters_ignores_null_items(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), (None,), (None,), (None,), (None,)],
        "tok string",
    )
    got = _hh(df, threshold=2, capacity=16).collect()
    assert [(r["item"], r["n"]) for r in got] == [("a", 3)]


def test_hh_summaries_merge_across_batches(spark):
    """The incremental path: per-batch hh_summary outputs UNIONed (the
    appended summary table) answer exactly like one summary over
    the whole corpus — history is never re-summarized."""
    base = spark.range(12_000).select(
        F.col("id").alias("rid"),
        F.pmod(F.xxhash64("id"), F.lit(1) + F.pmod("id", F.lit(37)))
        .cast("string")
        .alias("tok"),
    )
    batches = [
        base.where((F.col("rid") >= lo) & (F.col("rid") < lo + 4000))
        for lo in (0, 4000, 8000)
    ]
    summaries = None
    for b in batches:
        s = SK.hh_summary(b, "tok", capacity=256)
        summaries = s if summaries is None else summaries.unionByName(s)
    got = {
        tuple(r)
        for r in SK.heavy_hitters_from_summaries(
            summaries, base, "tok", threshold=300
        ).collect()
    }
    exp = {
        tuple(r)
        for r in base.groupBy("tok")
        .count()
        .where(F.col("count") >= 300)
        .collect()
    }
    assert got == exp and got
    # and identical to one summary over the whole corpus
    one = {tuple(r) for r in _hh(base, 300, capacity=256).collect()}
    assert got == one


def test_hh_from_summaries_d_positive_and_guards(spark):
    """The incremental path in the REAL D>0 regime (decrements fire),
    plus its loud-failure guards: merged-D >= threshold raises and an
    empty summary table raises."""
    from pyspark.errors import PySparkException

    base = spark.range(20_000).select(
        F.col("id").alias("rid"),
        # 500-ish uniform tail (forces MG decrements through 64
        # counters) + one hot item far above any error bound
        F.when(F.pmod("id", F.lit(5)) == 0, F.lit("hot"))
        .otherwise(F.pmod("id", F.lit(500)).cast("string"))
        .alias("tok"),
    )
    halves = [
        base.where(F.col("rid") < 10_000),
        base.where(F.col("rid") >= 10_000),
    ]
    summ = SK.hh_summary(halves[0], "tok", capacity=64).unionByName(
        SK.hh_summary(halves[1], "tok", capacity=64)
    )
    # decrements really fired (500 distinct through 64 counters)
    assert summ.agg(F.sum("mg_dec")).first()[0] > 0
    d = summ.agg(F.sum("mg_dec")).first()[0]
    thr = int(d) + 5  # above the merged bound -> exact contract holds
    got = {
        tuple(r)
        for r in SK.heavy_hitters_from_summaries(
            summ, base, "tok", threshold=thr
        ).collect()
    }
    exp = {
        tuple(r)
        for r in base.groupBy("tok")
        .count()
        .where(F.col("count") >= thr)
        .collect()
    }
    assert got == exp and got
    # merged D >= threshold -> loud
    with pytest.raises(PySparkException, match="error bound"):
        SK.heavy_hitters_from_summaries(
            summ, base, "tok", threshold=int(d)
        ).collect()
    # empty summary table -> loud, not an empty answer
    empty = summ.where(F.lit(False))
    with pytest.raises(PySparkException, match="no summary rows"):
        SK.heavy_hitters_from_summaries(
            empty, base, "tok", threshold=thr
        ).collect()


def test_heavy_hitters_empty_input_is_empty_not_an_error(spark):
    """Zero rows (or zero eligible items) means D=0 and a legitimately
    empty answer — NOT the loud missing-summary error, which is for a
    corpus the summaries do not cover (code-review r6)."""
    empty = spark.createDataFrame([], "tok string")
    assert _hh(empty, threshold=2, capacity=8).count() == 0
    nulls = spark.createDataFrame([(None,), (None,)], "tok string")
    assert _hh(nulls, threshold=2, capacity=8).count() == 0
