"""Key-skew pre-flight report (C11): exact top-k counts, shares and
uniform ratios, compiled to a distributed top-k."""

from __future__ import annotations


def test_key_skew_report_counts_and_plan(spark):
    from feagen_spark.operators.skew import key_skew_report

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20
    df = spark.createDataFrame(rows, "user string").repartition(7)
    out = key_skew_report(df, ["user"], top_k=2).collect()
    by_rank = {r["rank"]: r for r in out}
    assert len(out) == 2
    assert by_rank[1]["user"] == "a" and by_rank[1]["n_rows"] == 50
    assert by_rank[1]["share"] == 0.5
    # 3 distinct keys, uniform would be 100/3 rows -> a is 1.5x uniform
    assert by_rank[1]["uniform_ratio"] == 1.5
    assert by_rank[2]["user"] == "b" and by_rank[2]["share"] == 0.3

    # deterministic tie-break on the key itself
    ties = spark.createDataFrame(
        [("z",)] * 5 + [("y",)] * 5 + [("x",)] * 1, "k string"
    )
    t = key_skew_report(ties, ["k"], top_k=2).collect()
    assert [r["k"] for r in sorted(t, key=lambda r: r["rank"])] == ["y", "z"]

    # global top-k must compile to TakeOrderedAndProject, not a
    # whole-domain rank window
    plan = (
        key_skew_report(df, ["user"], top_k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
