"""The benchmark workloads. Each op is one user-level job built
only from the program's public functions; ``prepare`` builds inputs and
warm state (timed as set-up), ``reference`` the expected answer (not
timed), ``op`` the job (timed), ``verify`` and ``layers`` read its
outputs afterwards (not timed)."""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import gen
import oracle

# the conf/run.yml deployment settings
KEYS = ("conv_id", "turn_idx")
CHECKPOINT_NODES = ("session_id", "tool_calls_last_10")
BUCKET_BY = (8, KEYS)
GOLDEN = oracle.GOLDEN_FEATURES

# input sizes: a run (set-up, warm-up op, one timed op) takes under a
# minute on a 4-core host at local[2]; at this size fixed Spark job
# latency is a large share of an op
TRANSCRIPT_CONVS = 1200
GIANT_TURNS = 800
CORPUS_DOCS = 300
CORPUS_VECS = 1500


class Ctx:
    """Per-run state shared by the workloads."""

    def __init__(self, spark, seed: int, run_dir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.store_stats: dict = {}

    def store(self, root: str):
        """A bucketed CheckpointStore; when tracing, a subclass that times
        and counts the calls the engine makes into it."""
        from feagen_spark.store.checkpoint import CheckpointStore

        if not self.tracer.enabled:
            return CheckpointStore(root, bucket_by=BUCKET_BY)
        stats = self.store_stats = dict.fromkeys(
            ("store.write_s", "store.write_calls", "store.bytes_written",
             "store.files_written", "store.read_s", "store.read_calls"), 0.0)
        tracer = self.tracer

        class TimedStore(CheckpointStore):
            def write(self, df, fingerprint, node_name, ts_col=None, audit_nan=True):
                t = time.perf_counter()
                with tracer.span("store.write"):
                    entry = super().write(df, fingerprint, node_name, ts_col, audit_nan)
                stats["store.write_s"] += time.perf_counter() - t
                stats["store.write_calls"] += 1
                for d, _, files in os.walk(entry["path"]):
                    for f in files:
                        if f.endswith(".parquet"):
                            stats["store.files_written"] += 1
                            stats["store.bytes_written"] += os.path.getsize(os.path.join(d, f))
                return entry

            def _timed_read(self, fn, *args):
                t = time.perf_counter()
                with tracer.span("store.read"):
                    out = fn(*args)
                stats["store.read_s"] += time.perf_counter() - t
                stats["store.read_calls"] += 1
                return out

            def read(self, spark, fingerprint):
                return self._timed_read(super().read, spark, fingerprint)

            def exists(self, fingerprint):
                return self._timed_read(super().exists, fingerprint)

        return TimedStore(root, bucket_by=BUCKET_BY)


def _engine(df, store, token: str):
    from feagen_spark.core.dag import FeatureDAG
    from feagen_spark.core.engine import Engine
    from feagen_spark.features.turns import transcript_nodes, transcript_templates

    nodes = [
        dataclasses.replace(n, checkpoint=True) if n.name in CHECKPOINT_NODES else n
        for n in transcript_nodes()
    ]
    dag = FeatureDAG(nodes=nodes, templates=transcript_templates(), input_columns=tuple(df.columns))
    return Engine(dag, store=store, keys=KEYS, input_token=token)


def _transcripts_df(spark, path: str):
    # conf/run.yml: repartition_key conv_id, 2 x defaultParallelism
    return spark.read.parquet(path).repartition(
        2 * spark.sparkContext.defaultParallelism, "conv_id"
    )


def _drop_store(spark, root: str) -> None:
    """Drop the catalog tables (only checkpoint tables exist in a run) and
    the store's files."""
    for t in spark.catalog.listTables():
        spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    shutil.rmtree(root, ignore_errors=True)


def _generate(ctx, store, df, out_path: str, spans: tuple[str, str]) -> tuple[dict, object]:
    """Engine.generate for the golden features, then the feature-table
    write, in spans named ``spans``."""
    tr = ctx.tracer
    eng = _engine(df, store, token=f"seed{ctx.seed}")
    with tr.span(spans[0]):
        t = time.perf_counter()
        out = eng.generate(df, GOLDEN)
        gen_s = time.perf_counter() - t
    with tr.span(spans[1]):
        t = time.perf_counter()
        out.select(*oracle.FEATURE_COLS).write.mode("overwrite").parquet(out_path)
        write_s = time.perf_counter() - t
    return {"gen_s": gen_s, "write_s": write_s}, eng.last_run


class PitResumeRefresh:
    """The transcript engine end to end, write side then read side:

    1. cold point-in-time build: fresh bucketed store, Engine.generate of
       the golden features (writes the checkpoint nodes), feature-table
       write, strict as-of backfill of the label points and its write;
    2. resume over that store: every checkpointed node is read back and
       joined, the rest recomputed, the feature table written again;
    3. incremental refresh of a seeded batch of new turns on ~1 % of the
       conversations (a different batch every op): refresh_conversations
       then write_refresh."""

    name = "pit_resume_refresh"

    def prepare(self, ctx, root: str) -> None:
        self.tr = gen.transcripts(root, ctx.seed, TRANSCRIPT_CONVS, GIANT_TURNS)
        self.rows = self.tr.rows

    def reference(self, ctx) -> None:
        self.ref = oracle.Reference(self.tr.path, self.tr.labels_path)

    def pre_op(self, ctx, k: int) -> None:
        self.batch = os.path.join(ctx.run_dir, "batches", f"b{k}")
        gen.refresh_batch(self.tr, self.batch, ctx.seed, k)
        self.batch_convs = sorted(set(oracle.column_values(self.batch, "conv_id")))

    def op(self, ctx, k: int) -> dict:
        from feagen_spark.operators.asof import backfill_snapshots
        from feagen_spark.operators.incremental import refresh_conversations, write_refresh

        spark, tr = ctx.spark, ctx.tracer
        d = os.path.join(ctx.run_dir, "ops", f"op{k}")
        store = ctx.store(os.path.join(d, "ckpt"))
        cold, cold_run = _generate(ctx, store, _transcripts_df(spark, self.tr.path),
                                   os.path.join(d, "features"), ("core.generate", "features.write"))
        cold_writes = ctx.store_stats.get("store.write_calls", 0)
        with tr.span("asof.backfill"):
            t = time.perf_counter()
            snaps = backfill_snapshots(
                spark.read.parquet(os.path.join(d, "features")),
                spark.read.parquet(self.tr.labels_path),
                on=("conv_id",), feature_cols=GOLDEN, strict=True,
            )
            snaps.write.mode("overwrite").parquet(os.path.join(d, "snapshots"))
            backfill_s = time.perf_counter() - t
        resume, resume_run = _generate(ctx, store, _transcripts_df(spark, self.tr.path),
                                       os.path.join(d, "resumed"), ("core.resume", "features.resume_write"))
        with tr.span("incremental.refresh"):
            t = time.perf_counter()
            new = spark.read.parquet(self.batch)
            full = spark.read.parquet(self.tr.path).unionByName(new)
            # a refresh recomputes touched conversations from their full
            # history; it has no checkpoint store
            eng = _engine(full, None, token=f"seed{ctx.seed}-batch{k}")
            refreshed = refresh_conversations(eng, full, new, GOLDEN)
            # into a snapshot table of the op's own, so every op starts
            # from the same (empty) table
            write_refresh(refreshed.select(*oracle.FEATURE_COLS), os.path.join(d, "refreshed"))
            refresh_s = time.perf_counter() - t
        return {
            "dir": d,
            "core.generate_s": cold["gen_s"],
            "core.nodes_executed": len(cold_run.executed),
            "core.resume_s": resume["gen_s"],
            "core.nodes_skipped": len(resume_run.skipped),
            "core.resume_hit_ratio": len(resume_run.skipped) / len(CHECKPOINT_NODES),
            "store.resume_write_calls": ctx.store_stats.get("store.write_calls", 0) - cold_writes,
            "features.write_s": cold["write_s"],
            "features.resume_write_s": resume["write_s"],
            "asof.backfill_s": backfill_s,
            "incremental.refresh_s": refresh_s,
        }

    def _refreshed_parts(self, d: str) -> list[str]:
        return [os.path.join(d, "refreshed", f"conv_id={c}") for c in self.batch_convs]

    def verify(self, ctx, k: int, res: dict) -> bool:
        d = res["dir"]
        want = oracle.refresh_digest([self.tr.path, self.batch], self.batch_convs)
        return (
            oracle.output_digest(os.path.join(d, "features"), oracle.FEATURE_COLS) == self.ref.features
            and oracle.output_digest(os.path.join(d, "snapshots"), oracle.SNAPSHOT_COLS) == self.ref.snapshots
            # the resumed table equals the cold one
            and oracle.output_digest(os.path.join(d, "resumed"), oracle.FEATURE_COLS) == self.ref.features
            # refreshed rows equal a full recompute of those conversations
            and oracle.output_digest(self._refreshed_parts(d), oracle.FEATURE_COLS, hive=True) == want
        )

    def layers(self, ctx, k: int, res: dict) -> dict:
        matched = oracle.count_where(os.path.join(res["dir"], "snapshots"), "text_len IS NOT NULL")
        rows = oracle.output_digest(self._refreshed_parts(res["dir"]), oracle.FEATURE_COLS, hive=True)[0]
        return {"asof.matched_ratio": matched / self.tr.labels,
                "incremental.affected_convs": len(self.batch_convs),
                "incremental.rows_written": rows}

    def cleanup(self, ctx, k: int, res: dict) -> None:
        _drop_store(ctx.spark, os.path.join(res["dir"], "ckpt"))
        shutil.rmtree(res["dir"], ignore_errors=True)
        shutil.rmtree(self.batch, ignore_errors=True)


class CorpusDedup:
    """Curation dedup: exact dedup, n-gram Jaccard cluster edges,
    connected components, canonical anti-join; then seed centroids and
    semantic dedup of the embeddings."""

    name = "corpus_dedup"

    def prepare(self, ctx, root: str) -> None:
        self.c = gen.corpus(root, ctx.seed, CORPUS_DOCS, CORPUS_VECS)
        self.rows = self.c.n_docs + self.c.n_vecs

    def reference(self, ctx) -> None:
        pass  # the planted answer comes from the generator

    def pre_op(self, ctx, k: int) -> None:
        pass

    def op(self, ctx, k: int) -> dict:
        from pyspark.sql import Observation, functions as F

        from feagen_spark.operators.dedup import (
            connected_components, exact_dedup, ngram_jaccard_cluster_edges,
        )
        from feagen_spark.operators.similarity import seed_centroids, semantic_dedup

        spark, tr = ctx.spark, ctx.tracer
        d = os.path.join(ctx.run_dir, "ops", f"op{k}")
        res = {"dir": d}
        docs = spark.read.parquet(self.c.docs_path)
        exact = exact_dedup(docs)
        edges = ngram_jaccard_cluster_edges(exact, threshold=0.5)
        obs = None
        if tr.enabled:
            obs = Observation("edges")
            edges = edges.observe(obs, F.count(F.lit(1)).alias("n"))
        with tr.span("dedup.cc"):
            t = time.perf_counter()
            cc = connected_components(edges)
            res["dedup.cc_s"] = time.perf_counter() - t
        if obs is not None:
            res["dedup.edge_rows"] = int(obs.get["n"])
        dropped = cc.where(F.col("id") != F.col("cluster_id")).select(F.col("id").alias("doc_id"))
        with tr.span("dedup.write"):
            exact.join(dropped, "doc_id", "left_anti").write.mode("overwrite").parquet(
                os.path.join(d, "kept"))
        with tr.span("similarity.semdedup"):
            t = time.perf_counter()
            emb = spark.read.parquet(self.c.emb_path)
            cents = seed_centroids(emb, n_centroids=16)
            semantic_dedup(emb, cents, threshold=0.95).write.mode("overwrite").parquet(
                os.path.join(d, "semdedup"))
            res["similarity.semdedup_s"] = time.perf_counter() - t
        return res

    def verify(self, ctx, k: int, res: dict) -> bool:
        kept = oracle.column_values(os.path.join(res["dir"], "kept"), "doc_id")
        sem = os.path.join(res["dir"], "semdedup")
        dropped = oracle.column_values(sem, "vec_id", "NOT keep")
        return (
            len(kept) == len(self.c.kept_docs) and set(kept) == self.c.kept_docs
            and len(dropped) == len(self.c.dropped_vecs) and set(dropped) == self.c.dropped_vecs
            and oracle.count_where(sem, "true") == self.c.n_vecs
        )

    def layers(self, ctx, k: int, res: dict) -> dict:
        kept = oracle.count_where(os.path.join(res["dir"], "kept"), "true")
        dropped = oracle.count_where(os.path.join(res["dir"], "semdedup"), "NOT keep")
        return {"dedup.kept_ratio": kept / self.c.n_docs, "similarity.dropped": dropped}

    def cleanup(self, ctx, k: int, res: dict) -> None:
        shutil.rmtree(res["dir"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (PitResumeRefresh, CorpusDedup)}
