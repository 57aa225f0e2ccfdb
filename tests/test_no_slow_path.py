"""Guardrail (SURVEY.md §7 hard part d, BASELINE.json:15 'no per-row
Python'): the package must never use row-at-a-time Python UDFs or RDD
transforms in operator code. Arrow-vectorized pandas UDFs /
mapInPandas / applyInPandasWithState are the only allowed crossings."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "feagen_spark"

FORBIDDEN = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"(?<!pandas_)\budf\s*\(\s*lambda"), "lambda udf"),
    (re.compile(r"\.rdd\b"), "RDD access"),
    (re.compile(r"\bflatMap\s*\("), "RDD flatMap"),
    (re.compile(r"\bsc\.parallelize\b"), "sc.parallelize"),
    (re.compile(r"\.collect\(\)\s*\)?[^\n]*$\n?.*for\s", re.M), "driver-side loop over collect()"),
]


def test_no_slow_path_constructs():
    offenders = []
    for py in PKG.rglob("*.py"):
        text = py.read_text()
        for rx, label in FORBIDDEN:
            for m in rx.finditer(text):
                # explicit audited exemption: a `# slow-path-ok: <why>`
                # pragma inside the matched span marks a collect whose
                # result is bounded BY CONSTRUCTION (e.g. .limit(n)
                # immediately upstream). The pragma is grep-able, so
                # every exemption stays reviewable in one search.
                if "slow-path-ok" in m.group(0):
                    continue
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(PKG.parent)}:{line} {label}")
    assert not offenders, offenders


def test_collect_only_in_allowed_places():
    """collect()/first() pulls data to the driver — allowed only where a
    scalar/summary is genuinely needed (store audit, dim sniffing)."""
    allowed = {
        "store/checkpoint.py",        # write audit metrics (1-row observe)
        "operators/similarity.py",    # bounded IVF sample / dim sniff
        "operators/dedup.py",         # CC convergence scalar (1-row agg)
    }
    offenders = []
    for py in PKG.rglob("*.py"):
        rel = str(py.relative_to(PKG))
        if rel in allowed:
            continue
        text = py.read_text()
        for m in re.finditer(r"\.(collect|toPandas|first)\(\)", text):
            line = text[: m.start()].count("\n") + 1
            offenders.append(f"{rel}:{line}")
    assert not offenders, offenders


def test_features_build_no_trailing_frame():
    """functions/windowed.py is the one module that builds a trailing
    frame (the zero-leakage arithmetic): feature profiles under
    features/ and the queries in __spark_entry__.py delegate to it and
    never spell a range frame or a row frame ending at -1 themselves."""
    rx = re.compile(r"\brangeBetween\s*\(|\browsBetween\s*\([^()]*,\s*-\s*1\s*\)")
    offenders = []
    sources = [*(PKG / "features").rglob("*.py"), PKG.parent / "__spark_entry__.py"]
    for py in sources:
        text = py.read_text()
        for m in rx.finditer(text):
            line = text[: m.start()].count("\n") + 1
            offenders.append(f"{py.relative_to(PKG.parent)}:{line}")
    assert not offenders, offenders


def test_no_literal_partition_counts():
    """Every partition count follows the session (defaultParallelism,
    AQE) so throughput scales from N to 4N executors: no integer
    literal opens ``repartition(``, ``repartitionByRange(`` or
    ``coalesce(``, and no operator takes a ``target_partitions`` knob.
    Comment lines are skipped; a ``# partition-count-ok: <why>`` pragma
    on the literal's line marks an audited exemption (a fixed-size
    fixture, not a corpus)."""
    rx = re.compile(
        r"\b(?:repartition|repartitionByRange|coalesce)\(\s*\d+\b[^\n]*"
        r"|\btarget_partitions\b"
    )
    offenders = []
    for py in [*PKG.rglob("*.py"), PKG.parent / "__spark_entry__.py"]:
        text = "\n".join(
            "" if line.lstrip().startswith("#") else line
            for line in py.read_text().splitlines()
        )
        for m in rx.finditer(text):
            if "partition-count-ok" in m.group(0):
                continue
            line = text[: m.start()].count("\n") + 1
            offenders.append(f"{py.relative_to(PKG.parent)}:{line}")
    assert not offenders, offenders


def _module_definitions(tree: ast.Module):
    """(lineno, name) of every top-level def, class and assigned name
    (``x = ...``, ``x: T = ...``, each ``Name`` of a tuple target)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.lineno, node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield node.lineno, name.id


def test_every_library_definition_has_a_caller():
    """Every top-level def, class and module constant in feagen_spark/
    is named by code outside tests/: a query, a job, perfbench, a tool
    or another library module (a constant is usually read by its own
    module). Only real references count (AST ``Name`` loads,
    ``Attribute`` attrs and import aliases), so a docstring or comment
    that mentions a name is not a caller. A definition that only tests
    call is an alternative the library keeps for no workload: delete
    it with its tests. ``__all__`` is read by the import machinery, not
    by code, so it is exempt. An ``allowed`` entry must say which
    query, job or north-rule clause needs the definition."""
    allowed: dict[str, str] = {"__all__": "the package's export list"}
    root = PKG.parent
    named = set()
    for py in root.rglob("*.py"):
        rel = py.relative_to(root).parts
        if rel[0] == "tests" or any(p.startswith(".") for p in rel):
            continue
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if isinstance(node, ast.Name):
                if not isinstance(node.ctx, ast.Store):
                    named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.alias):
                named.add(node.name.rpartition(".")[2])
    uncalled = [
        f"{py.relative_to(root)}:{lineno} {name}"
        for py in sorted(PKG.rglob("*.py"))
        for lineno, name in _module_definitions(ast.parse(py.read_text()))
        if name not in named and name not in allowed
    ]
    assert not uncalled, uncalled
