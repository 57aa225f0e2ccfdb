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
    (re.compile(r"createDataFrame\(\s*\["), "Python-list createDataFrame: a Python RDD job"),
    (re.compile(r"\.collect\(\)\s*\)?[^\n]*$\n?.*for\s", re.M), "driver-side loop over collect()"),
    (re.compile(r"\bitertuples\("), "per-row pandas loop (itertuples)"),
    (re.compile(r"\biterrows\("), "per-row pandas loop (iterrows)"),
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
        "operators/similarity.py",    # bounded IVF sample / dim sniff
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


def _caller_trees():
    """Parsed source of every ``.py`` outside tests/ and dot-dirs: the
    queries, jobs, perfbench, tools and the library itself."""
    root = PKG.parent
    for py in root.rglob("*.py"):
        rel = py.relative_to(root).parts
        if rel[0] == "tests" or any(p.startswith(".") for p in rel):
            continue
        yield ast.parse(py.read_text(), str(py))


def _module_definitions(tree: ast.Module):
    """(lineno, name) of every top-level def, class, method of a
    top-level class (dunders are called by the language, not by name)
    and assigned name (``x = ...``, ``x: T = ...``, each ``Name`` of a
    tuple target)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            yield node.lineno, node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for name in ast.walk(target):
                    if isinstance(name, ast.Name):
                        yield node.lineno, name.id
        if isinstance(node, ast.ClassDef):
            for fn in node.body:
                if isinstance(fn, ast.FunctionDef) and not (
                    fn.name.startswith("__") and fn.name.endswith("__")
                ):
                    yield fn.lineno, fn.name


def test_every_library_definition_has_a_caller():
    """Every top-level def, class, class method and module constant in
    feagen_spark/ is named by code outside tests/: a query, a job,
    perfbench, a tool or another library module (a constant is usually
    read by its own module). A method counts as named when any
    ``Attribute`` or ``Name`` spells it, whatever its receiver; dunder
    methods are exempt. Only real references count (AST ``Name`` loads,
    ``Attribute`` attrs and import aliases), so a docstring or comment
    that mentions a name is not a caller. A definition that only tests
    call is an alternative the library keeps for no workload: delete
    it with its tests. ``__all__`` is read by the import machinery, not
    by code, so it is exempt. An ``allowed`` entry must say which
    query, job or north-rule clause needs the definition."""
    allowed: dict[str, str] = {"__all__": "the package's export list"}
    root = PKG.parent
    named = set()
    for tree in _caller_trees():
        for node in ast.walk(tree):
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


def _functions(tree: ast.Module):
    """(called name, def, leading positionals a call does not spell) of
    every top-level function and class method. A method's ``self`` or
    ``cls`` is bound by the call, a staticmethod's is not; ``__init__``
    is called by its class name."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node, 0
        elif isinstance(node, ast.ClassDef):
            for fn in node.body:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in fn.decorator_list
                )
                name = node.name if fn.name == "__init__" else fn.name
                yield name, fn, 0 if static else 1


def _branching_options(fn: ast.FunctionDef):
    """(name, position or None for keyword-only) of each defaulted
    parameter that an ``if``/``elif``/``while``/conditional-expression
    test in ``fn``'s body reads: a mode that selects a code path."""
    tested = {
        name.id
        for node in ast.walk(fn)
        if isinstance(node, (ast.If, ast.While, ast.IfExp))
        for name in ast.walk(node.test)
        if isinstance(name, ast.Name)
    }
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    for i, arg in enumerate(positional[first:], first):
        if arg.arg in tested:
            yield arg.arg, i
    for arg, default in zip(args.kwonlyargs, args.kw_defaults):
        if default is not None and arg.arg in tested:
            yield arg.arg, None


def test_every_branching_option_has_a_caller():
    """Every defaulted parameter that a library function branches on is
    passed by some call outside tests/ (same callers as
    ``test_every_library_definition_has_a_caller``; a call matches by
    the function's name, and passes the option by keyword, by position,
    or by a ``*``/``**`` splat, which counts as passing every option).
    An option no caller passes keeps a code path that only tests run:
    delete the mode, keep the value every caller uses. An ``allowed``
    entry must say which query, job or north-rule clause needs it."""
    allowed: dict[str, tuple[tuple[str, ...], str]] = {}
    calls: dict[str, list] = {}
    for tree in _caller_trees():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                name = f.id
            elif isinstance(f, ast.Attribute):
                name = f.attr
            else:
                continue
            splat = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords}, splat)
            )
    unpassed = []
    for py in sorted(PKG.rglob("*.py")):
        for name, fn, bound in _functions(ast.parse(py.read_text())):
            for opt, pos in _branching_options(fn):
                if opt in allowed.get(name, ((), ""))[0] or any(
                    splat or opt in kws or (pos is not None and pos - bound < n)
                    for n, kws, splat in calls.get(name, [])
                ):
                    continue
                unpassed.append(
                    f"{py.relative_to(PKG.parent)}:{fn.lineno} {name}({opt}=)"
                )
    assert not unpassed, unpassed
