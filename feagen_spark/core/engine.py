"""Feature engine: plan → execute → checkpoint → bundle.

The PySpark analogue of feagen/data_generators.py::DataGenerator.generate
(~L70-110, unverified — mount empty, SURVEY.md §0): resolve requested
feature columns against the DAG, extract the involved subgraph, toposort,
then execute nodes in order, SKIPPING any checkpointed node whose
fingerprint is already in the store manifest (resume-from-checkpoint,
BASELINE.json:14).

Execution model (Spark-first): non-checkpoint nodes are pure
``DataFrame → DataFrame`` transforms that Catalyst plans as one query.
Without checkpoints the golden feature suite costs ONE shuffle on
conv_id, with 9 Window operators over 3 intra-partition Sorts after it
(same-spec windows merge only when their inputs sit in one Project).
Checkpoint nodes are materialization barriers: outputs (+ key columns)
are written to the store, then read back and joined onto the flow by
key, cold and on resume. With the ``conf/run.yml`` checkpoint nodes
the cold golden plan has 7 Window operators over 3 Sorts on the one
Exchange, plus 2 BroadcastExchanges for the join-backs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..store.checkpoint import CheckpointStore
from .dag import FeatureDAG, Plan
from ..operators.bundle import bundle as _bundle, get_data_keys_from_structure


@dataclass
class RunReport:
    executed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    plan: Plan | None = None


class Engine:
    def __init__(
        self,
        dag: FeatureDAG,
        store: CheckpointStore | None = None,
        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        ts_col: str | None = "ts",
        input_token: str = "",
    ) -> None:
        self.dag = dag
        self.store = store
        self.keys = tuple(keys)
        self.ts_col = ts_col
        self.input_token = input_token
        self.last_run = RunReport()

    def generate(self, df: DataFrame, requested: list[str]) -> DataFrame:
        """Compute ``requested`` feature columns on ``df`` (returns the
        frame with all involved columns appended; select at the end to
        prune — Catalyst column pruning removes unused intermediates)."""
        plan = self.dag.plan(requested, input_token=self.input_token)
        report = RunReport(plan=plan)
        spark = df.sparkSession

        for node in plan.nodes:
            fp = plan.fingerprints[node.name]
            if node.checkpoint and self.store is not None:
                if self.store.exists(fp):
                    report.skipped.append(node.name)
                else:
                    computed = node.fn(df)
                    out = computed.select(*self.keys, *node.outputs)
                    ts = self.ts_col if self.ts_col in out.columns else None
                    self.store.write(out, fp, node.name, ts_col=ts)
                    report.executed.append(node.name)
                # JOIN THE MATERIALIZED TABLE BACK instead of keeping
                # the node.fn lineage (code-review r6): the checkpoint
                # must be a real barrier — otherwise the caller's final
                # action recomputes the subtree the write just paid for
                # (2x per checkpoint), and a nondeterministic upstream
                # would hand downstream features DIFFERENT values than
                # the ones persisted, so a later resume silently
                # diverges from the original run. Cold and resume runs
                # end in this one join.
                cp = self.store.read(spark, fp)
                df = df.join(cp, on=list(self.keys), how="left")
            else:
                df = node.fn(df)
                report.executed.append(node.name)

        self.last_run = report
        return df

    def bundle(
        self,
        df: DataFrame,
        structure,
        keys: tuple[str, ...] | None = None,
    ) -> DataFrame:
        """generate() everything the structure involves, then assemble
        the bundle table (feagen generate-then-bundle lifecycle, §3.2)."""
        involved = get_data_keys_from_structure(structure)
        needed = [
            c for c in involved if c not in df.columns
        ]
        if needed:
            df = self.generate(df, needed)
        return _bundle(df, structure, keys=keys if keys is not None else self.keys)
