"""Driver-side DAG unit tests (no Spark) — SURVEY.md §5.1.

Covers feagen test-suite semantics: feature DAG resolution, involved-set
generation, toposort stability, regex/template keys, cycle detection,
fingerprint stability (BASELINE.json:6).
"""

from __future__ import annotations

import re

import pytest

from feagen_spark.core.dag import (
    AmbiguousFeatureError,
    CycleError,
    FeatureDAG,
    UnknownFeatureError,
)
from feagen_spark.core.spec import (
    FeatureGenerator,
    FeatureNode,
    FeatureTemplate,
    require,
    will_generate,
)


def _n(name, outputs, deps, version="1", checkpoint=False):
    return FeatureNode(
        name=name,
        outputs=tuple(outputs),
        deps=tuple(deps),
        fn=lambda df: df,
        version=version,
        checkpoint=checkpoint,
    )


@pytest.fixture
def dag():
    return FeatureDAG(
        nodes=[
            _n("a", ["A"], ["x"]),
            _n("b", ["B"], ["A"]),
            _n("c", ["C", "C2"], ["A", "B"]),
            _n("d", ["D"], ["y"]),
        ],
        input_columns=("x", "y"),
    )


def test_resolution(dag):
    r = dag.resolve(["B", "C2"])
    assert r["B"].name == "b" and r["C2"].name == "c"


def test_unknown_key(dag):
    with pytest.raises(UnknownFeatureError):
        dag.resolve(["nope"])


def test_involved_set_and_toposort(dag):
    plan = dag.plan(["C"])
    # involved: c + ancestors a, b — NOT d
    assert [n.name for n in plan.nodes] == ["a", "b", "c"]


def test_involved_set_excludes_unrelated(dag):
    plan = dag.plan(["D"])
    assert [n.name for n in plan.nodes] == ["d"]


def test_toposort_deterministic(dag):
    p1 = dag.plan(["C", "D"])
    p2 = dag.plan(["D", "C"])
    # name-tiebroken Kahn
    assert [n.name for n in p1.nodes] == [n.name for n in p2.nodes]


def test_multi_output_single_node(dag):
    plan = dag.plan(["C", "C2"])
    assert [n.name for n in plan.nodes].count("c") == 1


def test_cycle_detection():
    d = FeatureDAG(
        nodes=[_n("p", ["P"], ["Q"]), _n("q", ["Q"], ["P"])],
        input_columns=(),
    )
    with pytest.raises(CycleError):
        d.plan(["P"])


def test_duplicate_producer_rejected():
    d = FeatureDAG(nodes=[_n("p", ["P"], [])])
    with pytest.raises(AmbiguousFeatureError):
        d.add(_n("p2", ["P"], []))


def test_template_expansion():
    def make(m: re.Match):
        a, b = m.group("a"), m.group("b")
        name = f"{a}_divided_by_{b}"
        return FeatureNode(name=name, outputs=(name,), deps=(a, b), fn=lambda df: df)

    d = FeatureDAG(
        templates=[FeatureTemplate(r"(?P<a>\w+)_divided_by_(?P<b>\w+)", make)],
        input_columns=("weight", "height"),
    )
    plan = d.plan(["weight_divided_by_height"])
    assert [n.name for n in plan.nodes] == ["weight_divided_by_height"]
    # repeated request is stable (node memoized into registry)
    plan2 = d.plan(["weight_divided_by_height"])
    assert [n.name for n in plan2.nodes] == [n.name for n in plan.nodes]


def test_fingerprints_stable_and_version_sensitive(dag):
    fp1 = dag.plan(["C"]).fingerprints
    fp2 = dag.plan(["C"]).fingerprints
    assert fp1 == fp2
    # bump upstream version -> downstream fingerprints change
    d2 = FeatureDAG(
        nodes=[
            _n("a", ["A"], ["x"], version="2"),
            _n("b", ["B"], ["A"]),
            _n("c", ["C", "C2"], ["A", "B"]),
        ],
        input_columns=("x",),
    )
    fp3 = d2.plan(["C"]).fingerprints
    assert fp3["a"] != fp1["a"]
    assert fp3["c"] != fp1["c"]  # propagates


def test_input_token_changes_fingerprints(dag):
    fp1 = dag.plan(["C"], input_token="snap1").fingerprints
    fp2 = dag.plan(["C"], input_token="snap2").fingerprints
    assert fp1["c"] != fp2["c"]


def test_generator_class_decorators():
    class G(FeatureGenerator):
        @will_generate("double_x")
        @require("x")
        def gen_double(cls, df):
            return df

        @will_generate(["s1", "s2"], checkpoint=True)
        @require(["double_x"])
        def gen_s(cls, df):
            return df

    nodes = G.nodes()
    by_name = {n.name: n for n in nodes}
    assert by_name["gen_double"].outputs == ("double_x",)
    assert by_name["gen_s"].deps == ("double_x",)
    assert by_name["gen_s"].checkpoint
    d = FeatureDAG(nodes=nodes, input_columns=("x",))
    assert [n.name for n in d.plan(["s1"]).nodes] == ["gen_double", "gen_s"]


def test_generator_subclass_override_replaces_base_node():
    """Code-review r6: a subclass overriding a decorated feature method
    must yield ONE node (the override), not a duplicate name pair; an
    UNDECORATED override removes the base registration instead of
    silently running the base body."""
    class Base(FeatureGenerator):
        @will_generate("x")
        def f(cls, df):
            return df

        @will_generate("y")
        def g(cls, df):
            return df

    class Decorated(Base):
        @will_generate("x", version="2")
        def f(cls, df):
            return df

    class Undecorated(Base):
        def f(cls, df):  # forgot @will_generate: drop, don't keep Base's
            return df

    nodes = {n.name: n for n in Decorated.nodes()}
    assert set(nodes) == {"f", "g"}
    assert nodes["f"].version == "2"
    # the override's own function object is bound, not the base's
    FeatureDAG(nodes=Decorated.nodes(), input_columns=())  # no duplicate error

    assert {n.name for n in Undecorated.nodes()} == {"g"}


def test_chained_template_expansion_over_events(spark):
    """Templates compose: `last_purchase_value_lag_2` expands the LAG
    template, whose dep `last_purchase_value` expands the as-of-carry
    template during the ancestor closure — feagen regex keys chain."""
    from pyspark.sql import functions as F

    from feagen_spark.core.dag import FeatureDAG
    from feagen_spark.core.engine import Engine
    from feagen_spark.features.events import event_nodes, event_templates

    ev = spark.createDataFrame(
        [
            (i, "u", "purchase" if i % 3 == 0 else "view", float(i))
            for i in range(12)
        ],
        "event_id long, user_id string, event_type string, value double",
    ).withColumn("ts", F.timestamp_micros(F.col("event_id") * 1_000_000))

    dag = FeatureDAG(
        nodes=event_nodes(),
        templates=event_templates(),
        input_columns=tuple(ev.columns),
    )
    eng = Engine(dag, store=None, keys=("user_id", "event_id"))
    out = eng.generate(ev, ["last_purchase_value_lag_2"]).orderBy("event_id")
    rows = out.select("event_id", "last_purchase_value", "last_purchase_value_lag_2").collect()
    # last_purchase_value at i: latest purchase value strictly before i
    # purchases at 0,3,6,9 → carry = 0:None 1:0 2:0 3:0 4:3 5:3 6:3 7:6 ...
    carry = {r.event_id: r.last_purchase_value for r in rows}
    lag2 = {r.event_id: r.last_purchase_value_lag_2 for r in rows}
    assert carry[4] == 3.0 and carry[7] == 6.0 and carry[0] is None
    for i in range(12):
        assert lag2[i] == (carry[i - 2] if i >= 2 else None)
    # both template nodes materialized in the registry
    assert "last_purchase_value" in dag.nodes
    assert "last_purchase_value_lag_2" in dag.nodes
