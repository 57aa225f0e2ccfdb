"""Engine execution + resume-from-checkpoint tests (SURVEY.md §5.4) and
lifetime-example bundle parity (§5.5, feagen README/test semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from feagen_spark.core.dag import FeatureDAG
from feagen_spark.core.engine import Engine
from feagen_spark.core.spec import FeatureNode
from feagen_spark.features import turns as T
from feagen_spark.operators.bundle import bundle, get_data_keys_from_structure
from feagen_spark.store.checkpoint import CheckpointStore

INPUT_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def lifetime(spark):
    """feagen README parity fixture (FIXTURES.md §3)."""
    rows = [
        (1, 68.0, 60.5, 165.0, 0),
        (2, 59.0, 78.0, 178.0, 0),
        (3, 81.0, 55.2, 152.0, 1),
        (4, 72.0, 91.3, 183.0, 0),
        (5, 77.0, 67.8, 170.0, 1),
        (6, 63.0, 72.1, 175.0, 0),
    ]
    return spark.createDataFrame(
        rows, "id int, lifetime double, weight double, height double, is_in_test_set int"
    )


# the two checkpoint layouts share one swap; the swap tests run both
LAYOUTS = pytest.mark.parametrize(
    "bucket_by", [None, (2, "conv_id")], ids=["plain", "bucketed"]
)


def _dag(checkpoint_nodes=()):
    nodes = []
    for n in T.transcript_nodes():
        nodes.append(
            FeatureNode(
                n.name, n.outputs, n.deps, n.fn, n.version,
                checkpoint=n.name in checkpoint_nodes,
            )
        )
    return FeatureDAG(
        nodes=nodes, templates=T.transcript_templates(), input_columns=INPUT_COLS
    )


def test_generate_executes_involved_only(tiny_transcripts):
    eng = Engine(_dag(), store=None)
    out = eng.generate(tiny_transcripts, ["turn_in_session"])
    # involved set: session_id (ancestor) + turn_in_session, nothing else
    assert set(eng.last_run.executed) == {"session_id", "turn_in_session"}
    assert "turn_in_session" in out.columns


def test_resume_skips_completed_nodes(tiny_transcripts, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    ck = ("session_id", "tool_calls_last_10")
    eng = Engine(_dag(ck), store=store, input_token="snapA")
    req = ["turn_in_session", "tool_calls_last_10", "prev_role"]

    out1 = eng.generate(tiny_transcripts, req)
    r1 = out1.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert set(ck) <= set(eng.last_run.executed)

    out2 = eng.generate(tiny_transcripts, req)
    assert sorted(eng.last_run.skipped) == sorted(ck)
    assert set(eng.last_run.executed).isdisjoint(ck)
    r2 = out2.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # identical outputs after resume
    for c in ["turn_in_session", "tool_calls_last_10", "prev_role"]:
        assert (
            r1[c].fillna(-1).to_numpy() == r2[c].fillna(-1).to_numpy()
        ).all(), c


def test_resume_recomputes_only_invalidated_node(tiny_transcripts, tmp_path):
    """Delete ONE mid-DAG manifest entry → only that node recomputes."""
    import os

    store = CheckpointStore(str(tmp_path / "ckpt"))
    ck = ("session_id", "tool_calls_last_10")
    eng = Engine(_dag(ck), store=store, input_token="snapA")
    req = ["turn_in_session", "tool_calls_last_10"]
    eng.generate(tiny_transcripts, req)
    plan = eng.last_run.plan
    os.remove(store._entry_path(plan.fingerprints["session_id"]))

    eng.generate(tiny_transcripts, req)
    assert "session_id" in eng.last_run.executed
    assert "tool_calls_last_10" in eng.last_run.skipped


def test_new_input_token_recomputes_everything(tiny_transcripts, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    ck = ("session_id",)
    eng1 = Engine(_dag(ck), store=store, input_token="snapA")
    eng1.generate(tiny_transcripts, ["session_id"])
    eng2 = Engine(_dag(ck), store=store, input_token="snapB")
    eng2.generate(tiny_transcripts, ["session_id"])
    assert eng2.last_run.executed == ["session_id"]  # no cross-snapshot hit


def test_manifest_lineage_metrics(tiny_transcripts, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    eng = Engine(_dag(("session_id",)), store=store)
    eng.generate(tiny_transcripts, ["session_id"])
    fp = eng.last_run.plan.fingerprints["session_id"]
    e = store.entry(fp)
    assert e["row_count"] == tiny_transcripts.count()
    assert e["columns"] == ["conv_id", "turn_idx", "session_id"]
    assert sum(p["rows"] for p in e["partitions"]) == e["row_count"]
    assert isinstance(e["checksum"], int) and e["checksum"] != 0
    assert e["snapshot_id"]


# -- feagen lifetime-example parity (B1-B6, FIXTURES.md §3) --------------------

def test_lifetime_bundle_matches_np_hstack(spark):
    """Replicates feagen's canonical bundle test: the features dataset must
    equal np.hstack([weight, height, BMI]) in structure order (allclose)."""
    df = lifetime(spark)
    df = df.withColumn(
        "BMI",
        df["weight"] / ((df["height"] / 100) ** 2),
    )
    structure = {
        "label": "lifetime",
        "test_filters": "is_in_test_set",
        "features": ["weight", "height", "BMI"],
    }
    assert get_data_keys_from_structure(structure) == [
        "lifetime", "is_in_test_set", "weight", "height", "BMI",
    ]
    out = (
        bundle(df, structure, keys=("id",))
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    pdf = df.toPandas().sort_values("id").reset_index(drop=True)
    golden = np.hstack(
        [
            pdf[["weight"]].to_numpy(),
            pdf[["height"]].to_numpy(),
            (pdf["weight"] / ((pdf["height"] / 100) ** 2)).to_numpy()[:, None],
        ]
    )
    got = np.vstack(out["features"].to_numpy())
    assert got.shape == (6, 3)
    assert np.allclose(got, golden)
    assert np.allclose(out["label"], pdf["lifetime"])
    assert (out["test_filters"].to_numpy() == pdf["is_in_test_set"].to_numpy()).all()


def test_bundle_nested_structure(spark):
    df = lifetime(spark)
    out = bundle(
        df,
        {"grp": {"inner": ["weight", "height"]}, "label": "lifetime"},
        keys=("id",),
    )
    assert out.columns == ["id", "grp_inner", "label"]
    row = out.orderBy("id").first()
    assert row["grp_inner"] == [60.5, 165.0]


def test_bundle_array_column_concat(spark):
    """array<float> members are element-cast and concatenated inline
    (vector feature blocks, SURVEY.md §1.2)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 3.0)], "id int, emb array<float>, x double"
    )
    out = bundle(df, {"features": ["emb", "x"]}, keys=("id",)).first()
    assert out["features"] == [1.0, 2.0, 3.0]


def test_lifetime_dag_via_generator_class(spark):
    """End-to-end feagen-style authoring: FeatureGenerator subclass with
    @will_generate/@require compiled and executed by the Engine."""
    from pyspark.sql import functions as F

    from feagen_spark.core.spec import FeatureGenerator, require, will_generate

    class Lifetime(FeatureGenerator):
        @will_generate("BMI")
        @require(["weight", "height"])
        def gen_bmi(cls, df):
            return df.withColumn(
                "BMI", F.col("weight") / F.pow(F.col("height") / 100, 2)
            )

        @will_generate("is_senior")
        @require("lifetime")
        def gen_is_senior(cls, df):
            return df.withColumn(
                "is_senior", (F.col("lifetime") > 70).cast("int")
            )

    dag = FeatureDAG(
        nodes=Lifetime.nodes(),
        input_columns=("id", "lifetime", "weight", "height", "is_in_test_set"),
    )
    eng = Engine(dag, keys=("id",), ts_col=None)
    out = eng.bundle(
        lifetime(spark),
        {"label": "lifetime", "features": ["weight", "BMI", "is_senior"]},
        keys=("id",),
    )
    pdf = out.toPandas().sort_values("id")
    first = pdf.iloc[0]["features"]
    assert np.allclose(first, [60.5, 60.5 / 1.65**2, 0.0])


def test_checkpoint_write_single_pass(spark, tmp_path):
    """The audit (checksum + NaN counts) must ride on the write action
    via df.observe — a pre-write df.agg audit scans the lineage twice.
    An accumulator inside the lineage counts how many rows were
    actually computed: exactly once."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    src = spark.range(100).select(
        F.col("id").alias("conv_id"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    df = src.mapInPandas(counted, schema="conv_id long, v double")
    store = CheckpointStore(str(tmp_path / "ck_single"))
    entry = store.write(df, "fp_single", "node_single")
    assert entry["row_count"] == 100
    assert acc.value == 100, f"lineage computed {acc.value} rows for a 100-row write"


def test_checkpoint_nan_rejected_and_quarantined(spark, tmp_path):
    """Reference semantics: NaN values reject the write. Post-write
    validation must quarantine (delete) the files and leave no manifest
    entry, so a failed write can never be resumed from."""
    import os

    from pyspark.sql import functions as F

    from feagen_spark.store.checkpoint import NaNWriteError

    df = spark.range(10).select(
        F.col("id").alias("conv_id"),
        F.when(F.col("id") == 3, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    store = CheckpointStore(str(tmp_path / "ck_nan"))
    with pytest.raises(NaNWriteError):
        store.write(df, "fp_nan", "node_nan")
    assert not store.exists("fp_nan")
    leftover = [
        p for p in os.listdir(str(tmp_path / "ck_nan")) if p.startswith("node_nan")
    ]
    assert leftover == [], f"rejected write left files: {leftover}"


def test_checkpoint_audit_nan_false_skips_nan_aggs(spark, tmp_path):
    """audit_nan=False must not reject NaN rows (and computes no NaN
    aggregates at all)."""
    from pyspark.sql import functions as F

    df = spark.range(5).select(
        F.col("id").alias("conv_id"),
        F.when(F.col("id") == 2, F.lit(float("nan")))
        .otherwise(F.lit(1.0))
        .alias("v"),
    )
    store = CheckpointStore(str(tmp_path / "ck_nonan"))
    entry = store.write(df, "fp_ok", "node_ok", audit_nan=False)
    assert entry["row_count"] == 5
    assert store.exists("fp_ok")


def test_bundle_sparse_roundtrip_and_nnz(spark):
    """Sparse blocks (feagen h5sparse analogue): LIST values become
    (size, indices, values) structs with zeros dropped, from which the
    exact dense bundle is restored."""
    from feagen_spark.operators.bundle import bundle, bundle_sparse, one_hot

    df = spark.createDataFrame(
        [(1, "a", 3.0), (2, "b", 0.0), (3, "zz", 5.0)],
        "id long, cat string, x double",
    )
    df = df.withColumn("cat_oh", one_hot("cat", ["a", "b", "c"]))
    structure = {"feats": ["cat_oh", "x"], "raw_cat": "cat"}

    dense = {
        r["id"]: r["feats"]
        for r in bundle(df, structure, keys=("id",)).collect()
    }
    sp = bundle_sparse(df, structure, keys=("id",))
    # str pass-through column untouched, list value sparsified
    assert dict(sp.dtypes)["raw_cat"] == "string"
    rows = {r["id"]: r["feats"] for r in sp.collect()}
    assert rows[1]["size"] == 4 and rows[1]["indices"] == [0, 3]
    assert rows[2]["indices"] == [1]          # x=0.0 dropped
    assert rows[3]["indices"] == [3]          # OOV one-hot all zero
    restored = {}
    for i, v in rows.items():
        d = [0.0] * v["size"]
        for j, x in zip(v["indices"], v["values"]):
            d[j] = x
        restored[i] = d
    assert restored == dense


def test_concurrent_checkpoint_writers_lose_nothing(spark, tmp_path):
    """Two engines checkpointing into the same store concurrently (the
    realistic per-feature-job deployment) must not lose each other's
    manifest entries — per-fingerprint entry files make writes
    commutative with no lock (VERDICT r2 #5)."""
    import os
    import threading

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_conc")
    errs = []

    def writer(tag: str) -> None:
        try:
            store = CheckpointStore(root)  # own instance, shared root
            df = spark.range(50).select(
                F.col("id").alias("conv_id"),
                (F.col("id") * 2).cast("double").alias(f"v_{tag}"),
            )
            store.write(df, f"fp_{tag}" * 4, f"node_{tag}")
        except Exception as e:  # surfaced below — thread exceptions vanish
            errs.append((tag, e))

    threads = [threading.Thread(target=writer, args=(t,)) for t in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []

    reader = CheckpointStore(root)
    for tag in "ab":
        fp = f"fp_{tag}" * 4
        assert reader.exists(fp), f"entry for {tag} lost"
        assert reader.read(spark, fp).count() == 50
    assert sum(fn.endswith(".json") for fn in os.listdir(reader.manifest_dir)) == 2


@LAYOUTS
def test_rejected_rewrite_keeps_prior_checkpoint_and_leaves_no_staging(
    spark, tmp_path, bucket_by
):
    """A NaN-rejected REWRITE of an existing fingerprint must leave the
    prior valid checkpoint (files + entry) untouched and leak neither a
    staging nor an old-version directory (ADVICE r2 crash-safety)."""
    import os

    from pyspark.sql import functions as F

    from feagen_spark.store.checkpoint import NaNWriteError

    root = str(tmp_path / "ck_swap")
    store = CheckpointStore(root, bucket_by=bucket_by)
    good = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    store.write(good, "fp_swap", "node_swap")

    bad = good.withColumn("v", F.lit(float("nan")))
    with pytest.raises(NaNWriteError):
        store.write(bad, "fp_swap", "node_swap")

    assert store.exists("fp_swap")
    assert store.read(spark, "fp_swap").where(F.isnan("v")).count() == 0
    leftovers = [
        p
        for p in os.listdir(root)
        if ".staging-" in p or ".old-" in p
    ]
    assert leftovers == [], f"leaked dirs: {leftovers}"


@LAYOUTS
def test_concurrent_same_fingerprint_writers_idempotent(spark, tmp_path, bucket_by):
    """Two writers racing on the SAME fingerprint (idempotent retry /
    speculative job): both must succeed, one table survives, no
    .staging/.old leftovers (code-review r3 finding)."""
    import os
    import threading

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_same")
    errs = []

    def writer() -> None:
        try:
            store = CheckpointStore(root, bucket_by=bucket_by)
            df = spark.range(40).select(
                F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
            )
            store.write(df, "fp_same" * 4, "node_same")
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == [], errs

    reader = CheckpointStore(root, bucket_by=bucket_by)
    assert reader.exists("fp_same" * 4)
    assert reader.read(spark, "fp_same" * 4).count() == 40
    leftovers = [
        p for p in os.listdir(root) if ".staging-" in p or ".old-" in p
    ]
    assert leftovers == [], leftovers


def test_bucketed_checkpoint_resume_and_shuffle_free_join(
    tiny_transcripts, tmp_path, spark
):
    """CheckpointStore(bucket_by=...) writes bucketed checkpoints as
    external tables under the store root: resume works identically, and
    two checkpoints bucketed on the same key join with ZERO exchanges
    (the shuffle-free resume join-back layout)."""
    import re

    store = CheckpointStore(str(tmp_path / "ckb"), bucket_by=(4, "conv_id"))
    ck = ("session_id", "tool_calls_last_10")
    eng = Engine(_dag(ck), store=store, input_token="snapB")
    req = ["turn_in_session", "tool_calls_last_10"]

    out1 = eng.generate(tiny_transcripts, req)
    r1 = out1.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    fps = {n: eng.last_run.plan.fingerprints[n] for n in ck}
    for n in ck:
        e = store.entry(fps[n])
        assert e["table"] and e["format"].endswith("+bucketed")
        assert store.read(spark, fps[n]).count() == tiny_transcripts.count()

    out2 = eng.generate(tiny_transcripts, req)
    assert sorted(eng.last_run.skipped) == sorted(ck)
    r2 = out2.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for c in req:
        assert (
            r1[c].fillna(-1).to_numpy() == r2[c].fillna(-1).to_numpy()
        ).all(), c

    # co-located join: both checkpoint tables bucketed on conv_id ->
    # joining them on the bucket key costs zero exchanges
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = store.read(spark, fps["session_id"])
        b = store.read(spark, fps["tool_calls_last_10"])
        joined = a.join(b.drop("turn_idx"), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        hash_ex = [
            l
            for l in plan.splitlines()
            if re.search(r"\bExchange\b", l) and "hashpartitioning" in l
        ]
        assert hash_ex == [], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for n in ck:
            spark.sql(f"DROP TABLE IF EXISTS {store.entry(fps[n])['table']}")


def test_bucketed_checkpoint_nan_reject_keeps_prior(spark, tmp_path):
    """NaN-rejected REWRITE in bucketed mode: prior table + entry
    survive; no staging/old tables leak in the catalog."""
    from pyspark.sql import functions as F

    from feagen_spark.store.checkpoint import NaNWriteError

    store = CheckpointStore(str(tmp_path / "ckb2"), bucket_by=(2, "conv_id"))
    good = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    entry = store.write(good, "fp_bkt", "node_bkt")
    bad = good.withColumn("v", F.lit(float("nan")))
    with pytest.raises(NaNWriteError):
        store.write(bad, "fp_bkt", "node_bkt")
    assert store.exists("fp_bkt")
    assert store.read(spark, "fp_bkt").where(F.isnan("v")).count() == 0
    leftovers = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(entry["table"]) and t.name != entry["table"]
    ]
    assert leftovers == [], leftovers
    spark.sql(f"DROP TABLE IF EXISTS {entry['table']}")


@LAYOUTS
def test_rename_aside_race_loser_still_succeeds(
    spark, tmp_path, monkeypatch, bucket_by
):
    """Same-fingerprint race on the rename-aside itself: the loser's
    os.rename(path, old) hits FileNotFoundError because the winner
    already moved the prior version aside — the write must treat that
    as 'nothing to move' and succeed idempotently (ADVICE r3)."""
    import os as _os

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_race")
    store = CheckpointStore(root, bucket_by=bucket_by)
    df = spark.range(20).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    store.write(df, "fp_race" * 4, "node_race")
    path = store.entry("fp_race" * 4)["path"]

    real_rename = _os.rename

    def flaky(src, dst):
        if src == path and ".old-" in str(dst):
            raise FileNotFoundError(src)  # winner moved it aside first
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", flaky)
    entry = store.write(df, "fp_race" * 4, "node_race")  # must NOT raise
    monkeypatch.undo()

    assert entry["row_count"] == 20
    assert store.exists("fp_race" * 4)
    assert store.read(spark, "fp_race" * 4).count() == 20
    leftovers = [
        p for p in _os.listdir(root) if ".staging-" in p or ".old-" in p
    ]
    assert leftovers == [], leftovers


def test_bucketed_checkpoint_read_survives_catalog_loss(spark, tmp_path):
    """Driver restart scenario (ADVICE r3 medium): the in-memory catalog
    registration dies with the session while the checkpoint files and
    the manifest entry persist. read() must re-register the table from
    the manifest — keeping the BUCKETED layout, so the shuffle-free
    join-back survives the restart — instead of raising
    TABLE_OR_VIEW_NOT_FOUND."""
    import re

    from pyspark.sql import functions as F

    store = CheckpointStore(str(tmp_path / "ckb3"), bucket_by=(4, "conv_id"))
    df = spark.range(100).select(
        F.col("id").alias("conv_id"), (F.col("id") * 2.0).alias("v")
    )
    entry = store.write(df, "fp_sess" * 4, "node_sess")
    tbl = entry["table"]

    # simulate the restart: dropping the external table keeps its files —
    # catalog empty, disk + manifest intact, exactly the post-crash state
    spark.sql(f"DROP TABLE {tbl}")
    assert not spark.catalog.tableExists(tbl)

    assert store.exists("fp_sess" * 4)  # manifest + files say yes
    got = store.read(spark, "fp_sess" * 4)
    assert got.count() == 100
    assert got.agg(F.sum("v")).first()[0] == sum(i * 2.0 for i in range(100))
    assert spark.catalog.tableExists(tbl)  # re-registered

    # bucketing metadata survived: self-join on the bucket key plans
    # with ZERO hash exchanges
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = store.read(spark, "fp_sess" * 4)
        b = store.read(spark, "fp_sess" * 4).withColumnRenamed("v", "v2")
        plan = (
            a.join(b, "conv_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        hash_ex = [
            l
            for l in plan.splitlines()
            if re.search(r"\bExchange\b", l) and "hashpartitioning" in l
        ]
        assert hash_ex == [], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_vacuum_removes_only_stranded_leftovers(spark, tmp_path):
    """vacuum(): aged .staging/.old dirs go; fresh staging (a writer
    mid-swap), live tables and live entries stay."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_vac")
    store = CheckpointStore(root)
    df = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    store.write(df, "fp_live" * 4, "node_live")

    old_dir = os.path.join(root, "node_live-x.old-dead")
    fresh_stg = os.path.join(root, "node_live-x.staging-live")
    os.makedirs(old_dir)
    os.makedirs(fresh_stg)
    aged = _time.time() - 48 * 3600
    os.utime(old_dir, (aged, aged))

    removed = store.vacuum(spark)
    assert "node_live-x.old-dead" in removed
    assert os.path.isdir(fresh_stg)            # inside grace: kept
    assert store.exists("fp_live" * 4)         # live entry untouched
    assert store.read(spark, "fp_live" * 4).count() == 10


def test_bucketed_rewrite_after_wiped_manifest(spark, tmp_path):
    """Manifest wiped (or entry invalidated) in a prior session while
    the checkpoint files survive under the root: the rewrite must
    replace them instead of dying on the occupied location — found by a
    spark-submit drive against a half-wiped demo store."""
    import shutil

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_orphan")
    store = CheckpointStore(root, bucket_by=(2, "conv_id"))
    df = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    entry = store.write(df, "fp_orph" * 4, "node_orph")
    tbl = entry["table"]

    # simulate the wipe + restart: data dir survives, catalog and
    # manifest do not
    spark.sql(f"DROP TABLE {tbl}")           # external: files kept
    shutil.rmtree(store.manifest_dir)

    store2 = CheckpointStore(root, bucket_by=(2, "conv_id"))
    assert not store2.exists("fp_orph" * 4)
    store2.write(df, "fp_orph" * 4, "node_orph")   # must not raise
    assert store2.read(spark, "fp_orph" * 4).count() == 10
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_rewrite_after_restart_external_table(spark, tmp_path):
    """ADVICE r4: after a restart, read() re-registers the bucketed
    checkpoint as an EXTERNAL table. Removing the manifest entry and
    rewriting that fingerprint must still succeed, and reads must see
    the new version through the re-registered table."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_ext")
    store = CheckpointStore(root, bucket_by=(2, "conv_id"))
    df = spark.range(20).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    entry = store.write(df, "fp_extr" * 4, "node_ext")
    tbl = entry["table"]

    # simulate the restart (catalog gone, files + manifest intact), then
    # a read that re-registers the table as EXTERNAL
    spark.sql(f"DROP TABLE {tbl}")
    assert store.read(spark, "fp_extr" * 4).count() == 20
    assert spark.catalog.tableExists(tbl)

    # rewrite the same fingerprint with NEW data: must not raise, and
    # reads must see the new version through the catalog
    df2 = spark.range(30).select(
        F.col("id").alias("conv_id"), F.lit(2.0).alias("v")
    )
    os.remove(store._entry_path("fp_extr" * 4))
    store.write(df2, "fp_extr" * 4, "node_ext")
    got = store.read(spark, "fp_extr" * 4)
    assert got.count() == 30
    assert got.agg(F.sum("v")).first()[0] == 60.0
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_vacuum_catalog_sweep_scoped_to_own_store(spark, tmp_path):
    """ADVICE r4: vacuum()'s catalog sweep must only drop THIS store's
    ckpt_<root_tag>_ stranded tables — two stores sharing a session,
    vacuuming A must not kill B's mid-swap staging table."""
    from pyspark.sql import functions as F

    store_a = CheckpointStore(str(tmp_path / "vacA"), bucket_by=(2, "conv_id"))
    store_b = CheckpointStore(str(tmp_path / "vacB"), bucket_by=(2, "conv_id"))
    df = spark.range(5).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    # stranded staging tables for both stores (simulated crash mid-swap)
    a_stg = store_a._table_name("n", "f" * 16) + "_stg_dead"
    b_stg = store_b._table_name("n", "f" * 16) + "_stg_dead"
    df.write.format("parquet").bucketBy(2, "conv_id").saveAsTable(a_stg)
    df.write.format("parquet").bucketBy(2, "conv_id").saveAsTable(b_stg)

    removed = store_a.vacuum(spark)
    assert f"table:{a_stg}" in removed
    assert not spark.catalog.tableExists(a_stg)
    assert spark.catalog.tableExists(b_stg)  # B untouched
    removed_b = store_b.vacuum(spark)
    assert f"table:{b_stg}" in removed_b


@LAYOUTS
def test_path_swap_failure_restores_prior_and_raises(
    spark, tmp_path, monkeypatch, bucket_by
):
    """Code-review r5: when the staging→final rename fails and the prior
    version is rolled back, write() must RAISE — falling through would
    record the NEW data's audit over the OLD restored files. The prior
    table and its manifest entry must survive untouched."""
    import os as _os

    from pyspark.sql import functions as F

    root = str(tmp_path / "ck_swapfail")
    store = CheckpointStore(root, bucket_by=bucket_by)
    df1 = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    entry1 = store.write(df1, "fp_swap" * 4, "node_s")

    real_rename = _os.rename
    calls = []

    def failing_rename(src, dst):
        if ".staging-" in str(src):
            calls.append(src)
            raise OSError("injected: staging rename failed")
        return real_rename(src, dst)

    import feagen_spark.store.checkpoint as CK

    monkeypatch.setattr(CK.os, "rename", failing_rename)
    df2 = spark.range(30).select(
        F.col("id").alias("conv_id"), F.lit(2.0).alias("v")
    )
    store2 = CheckpointStore(root, bucket_by=bucket_by)
    import pytest as _pt

    with _pt.raises(OSError, match="injected"):
        store2.write(df2, "fp_swap" * 4, "node_s")
    assert calls, "injection never hit the staging rename"
    monkeypatch.setattr(CK.os, "rename", real_rename)

    # prior version and its (old-audit) manifest entry are intact
    assert store2.exists("fp_swap" * 4)
    got = store2.read(spark, "fp_swap" * 4)
    assert got.count() == 10
    assert got.agg(F.sum("v")).first()[0] == 10.0
    entry_after = store2.entry("fp_swap" * 4)
    assert entry_after["row_count"] == entry1["row_count"] == 10
    assert entry_after["checksum"] == entry1["checksum"]


def test_bucketed_store_writes_nothing_outside_root(spark, tmp_path):
    """A bucketed store keeps every file under its root: the Spark
    warehouse listing is unchanged after write + rewrite."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh_path = urlparse(wh).path if wh.startswith("file:") else wh

    def listing():
        return sorted((d, sorted(ds), sorted(fs)) for d, ds, fs in os.walk(wh_path))

    before = listing()
    store = CheckpointStore(str(tmp_path / "ck_inroot"), bucket_by=(2, "conv_id"))
    df = spark.range(10).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    entry = store.write(df, "fp_root" * 4, "node_root")
    store.write(df.withColumn("v", F.lit(2.0)), "fp_root" * 4, "node_root")
    assert store.read(spark, "fp_root" * 4).agg(F.sum("v")).first()[0] == 20.0
    assert listing() == before
    assert entry["path"].startswith(store.root)
    spark.sql(f"DROP TABLE IF EXISTS {entry['table']}")


def test_checkpoint_node_name_validated(spark, tmp_path):
    """Code-review r6: node names become SQL identifiers (bucketed
    saveAsTable) and path segments — an unsafe name must fail loudly at
    write() with the contract, not deep inside a ParseException or a
    corrupted path layout."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").alias("conv_id"), F.lit(1.0).alias("v")
    )
    for store in (
        CheckpointStore(str(tmp_path / "ck_nm")),
        CheckpointStore(str(tmp_path / "ck_nm_b"), bucket_by=(2, "conv_id")),
    ):
        with pytest.raises(ValueError, match="A-Za-z0-9_"):
            store.write(df, "fp_nm", "tfidf-v2")
        with pytest.raises(ValueError, match="A-Za-z0-9_"):
            store.write(df, "fp_nm", "a/b")
    # plain identifier still writes
    CheckpointStore(str(tmp_path / "ck_nm_ok")).write(df, "fp_nm", "tfidf_v2")


def test_checkpoint_cold_write_is_a_barrier(spark, tmp_path):
    """Code-review r6: on the COLD path the engine must join the
    materialized checkpoint back instead of keeping the node.fn lineage.
    Two consequences tested with a nondeterministic node fn:

    - downstream reads the PERSISTED values (identical to what a later
      resume would join back), so nondeterminism cannot make run-1 and
      resume silently diverge;
    - the caller's final action does not recompute the node's subtree.
    """
    from pyspark.sql import functions as F

    from feagen_spark.core.spec import FeatureNode

    acc = spark.sparkContext.accumulator(0)

    def counted_rand(df):
        def gen(batches):
            import numpy as np

            for pdf in batches:
                acc.add(len(pdf))
                pdf = pdf.copy()
                pdf["r"] = np.random.random(len(pdf))
                yield pdf

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.mapInPandas(gen, schema=f"{schema}, r double")

    nodes = [
        FeatureNode("rnd", ("r",), (), counted_rand, checkpoint=True),
        FeatureNode(
            "twice",
            ("r2",),
            ("r",),
            lambda df: df.withColumn("r2", F.col("r") * 2),
        ),
    ]
    dag = FeatureDAG(nodes=nodes, input_columns=("conv_id",))
    store = CheckpointStore(str(tmp_path / "ck_barrier"))
    eng = Engine(dag, store=store, keys=("conv_id",), ts_col=None)

    src = spark.range(100).select(F.col("id").alias("conv_id"))
    out = eng.generate(src, ["r2"]).toPandas().set_index("conv_id").sort_index()
    assert acc.value == 100, (
        f"checkpointed subtree computed {acc.value} rows for a 100-row "
        "input — the write is not a barrier"
    )

    fp = eng.last_run.plan.fingerprints["rnd"]
    stored = store.read(spark, fp).toPandas().set_index("conv_id").sort_index()
    assert (out["r"] == stored["r"]).all(), "downstream saw non-persisted values"
    assert (out["r2"] == stored["r"] * 2).all()

    # resume joins the same table back → bit-identical downstream
    eng2 = Engine(dag, store=store, keys=("conv_id",), ts_col=None)
    out2 = eng2.generate(src, ["r2"]).toPandas().set_index("conv_id").sort_index()
    assert eng2.last_run.skipped == ["rnd"]
    assert (out2["r2"] == out["r2"]).all()
