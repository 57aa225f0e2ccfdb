"""Feature DAG: build, resolve, involved-set, toposort, fingerprints.

Reimplements (from public knowledge — reference mount empty, SURVEY.md §0):

- DAG construction        ≈ feagen/data_generators.py::DataGeneratorType
                            (~L20-60, unverified)   [SURVEY §2.A A1]
- key resolution (+regex) ≈ feagen/dag.py::DataDAG.get_node_keys_dict
                            (~L40-80, unverified)   [A2]
- involved-subgraph       ≈ feagen/dag.py::DataDAG.get_subgraph_with_ancestors
                            (~L85, unverified)      [A3]
- topological order       ≈ networkx.topological_sort in
                            feagen/data_generators.py::generate (~L70-110)
                            [A4] — here a deterministic Kahn toposort,
                            no networkx dependency.

Fingerprints (not in feagen) implement the resume contract of
BASELINE.json:14: node fingerprint = sha256(name, version, outputs,
sorted dep fingerprints, input token) — stable across processes and code
moves, changes when any upstream logic version changes.

Everything in this module is driver-side planning over plain dicts; no
Spark objects are touched until execution.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from .spec import FeatureNode, FeatureTemplate


class UnknownFeatureError(KeyError):
    pass


class AmbiguousFeatureError(ValueError):
    pass


class CycleError(ValueError):
    pass


@dataclass
class Plan:
    """Topologically ordered involved subgraph for one generate() call."""

    nodes: list[FeatureNode]
    requested: tuple[str, ...]
    fingerprints: dict[str, str]  # node name -> hex fingerprint


class FeatureDAG:
    """Registry of nodes + templates over a set of input columns."""

    def __init__(
        self,
        nodes: list[FeatureNode] | None = None,
        templates: list[FeatureTemplate] | None = None,
        input_columns: tuple[str, ...] = (),
    ) -> None:
        self.nodes: dict[str, FeatureNode] = {}
        self.templates: list[FeatureTemplate] = list(templates or [])
        self.input_columns = tuple(input_columns)
        self._producer: dict[str, str] = {}  # output column -> node name
        for n in nodes or []:
            self.add(n)

    def add(self, node: FeatureNode) -> None:
        if node.name in self.nodes:
            raise AmbiguousFeatureError(f"duplicate node name {node.name!r}")
        for o in node.outputs:
            if o in self._producer:
                raise AmbiguousFeatureError(
                    f"column {o!r} produced by both {self._producer[o]!r} "
                    f"and {node.name!r}"
                )
            if o in self.input_columns:
                raise AmbiguousFeatureError(
                    f"column {o!r} from node {node.name!r} shadows an input column"
                )
        self.nodes[node.name] = node
        for o in node.outputs:
            self._producer[o] = node.name

    # -- A2: key resolution -------------------------------------------------
    def resolve(self, requested: list[str]) -> dict[str, FeatureNode]:
        """Map each requested column to its producing node, expanding
        templates for unmatched names (feagen regex keys). Mutates the
        registry with expanded nodes so repeated requests are stable."""
        resolved: dict[str, FeatureNode] = {}
        for name in requested:
            if name in self.input_columns:
                continue  # already present on the input frame
            if name not in self._producer:
                self._expand_template(name)
            if name not in self._producer:
                raise UnknownFeatureError(
                    f"no node or template produces {name!r}"
                )
            resolved[name] = self.nodes[self._producer[name]]
        return resolved

    def _expand_template(self, name: str) -> None:
        matches = [
            (t, node)
            for t in self.templates
            if (node := t.expand(name)) is not None
        ]
        if len(matches) > 1:
            raise AmbiguousFeatureError(
                f"{name!r} matches {len(matches)} templates: "
                f"{[t.pattern for t, _ in matches]}"
            )
        if matches:
            self.add(matches[0][1])

    # -- A3 + A4: involved set + toposort ------------------------------------
    def plan(self, requested: list[str], input_token: str = "") -> Plan:
        """Involved subgraph (requested nodes + ancestors), deterministic
        Kahn toposort, per-node fingerprints."""
        self.resolve(requested)

        # ancestor closure over node names
        involved: set[str] = set()
        stack = [
            self._producer[r] for r in requested if r not in self.input_columns
        ]
        while stack:
            nm = stack.pop()
            if nm in involved:
                continue
            involved.add(nm)
            node = self.nodes[nm]
            for d in node.deps:
                if d in self.input_columns:
                    continue
                if d not in self._producer:
                    self._expand_template(d)
                if d not in self._producer:
                    raise UnknownFeatureError(
                        f"node {nm!r} requires {d!r}, which nothing produces"
                    )
                stack.append(self._producer[d])

        # Kahn toposort, ties broken by node name for determinism
        deps_of: dict[str, set[str]] = {}
        for nm in involved:
            node = self.nodes[nm]
            deps_of[nm] = {
                self._producer[d]
                for d in node.deps
                if d not in self.input_columns
            }
        order: list[str] = []
        ready = sorted(nm for nm, ds in deps_of.items() if not ds)
        pending = {nm: set(ds) for nm, ds in deps_of.items() if ds}
        while ready:
            nm = ready.pop(0)
            order.append(nm)
            newly = []
            for other, ds in pending.items():
                ds.discard(nm)
                if not ds:
                    newly.append(other)
            for other in newly:
                del pending[other]
            ready = sorted(ready + newly)
        if pending:
            raise CycleError(f"cycle among nodes: {sorted(pending)}")

        fps = self._fingerprints(order, input_token)
        return Plan(
            nodes=[self.nodes[nm] for nm in order],
            requested=tuple(requested),
            fingerprints=fps,
        )

    def _fingerprints(self, order: list[str], input_token: str) -> dict[str, str]:
        fps: dict[str, str] = {}
        for nm in order:
            node = self.nodes[nm]
            dep_fps = []
            for d in sorted(node.deps):
                if d in self.input_columns or d not in self._producer:
                    dep_fps.append(f"input:{d}:{input_token}")
                else:
                    dep_fps.append(fps[self._producer[d]])
            payload = json.dumps(
                {
                    "name": node.name,
                    "version": node.version,
                    "outputs": list(node.outputs),
                    "deps": dep_fps,
                },
                sort_keys=True,
            )
            fps[nm] = hashlib.sha256(payload.encode()).hexdigest()
        return fps
