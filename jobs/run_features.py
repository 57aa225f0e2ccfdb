"""spark-submit entrypoint (SURVEY.md §2.A A11, north rule: "run via
spark-submit --py-files").

    spark-submit --py-files dist/feagen_spark.zip jobs/run_features.py \
        --config conf/run.yml

feagen analogue (reconstructed — mount empty, SURVEY.md §0):
feagen/tools/feagen_runner.py::feagen_run (~L15-80, unverified) reads
.feagenrc/config.yml + bundle_config.yml, imports the generator class,
runs generate() then bundle(). Here the config names the input table,
requested features, checkpoint root and bundle structure; the run is
resumable via the checkpoint manifest.

Config YAML (flat key: value — parsed without a yaml dependency, which
is not guaranteed in executors; a real deployment may swap in pyyaml):
see conf/run.yml.
"""

from __future__ import annotations

import argparse
import ast
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _strip_comment(line: str) -> str:
    """Drop a trailing '#'-comment, but only at a '#' OUTSIDE quotes —
    paths like /data/run#3 inside quoted literals must survive
    (code-review r6)."""
    quote = None
    for i, ch in enumerate(line):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == "#":
            return line[:i]
    return line


def load_config(path: str) -> dict:
    """Minimal flat YAML subset: `key: value` lines, '#' comments
    (quote-aware), python-literal values (lists/strings/ints)."""
    cfg = {}
    for line in Path(path).read_text().splitlines():
        line = _strip_comment(line).strip()
        if not line or ":" not in line:
            continue
        k, v = line.split(":", 1)
        v = v.strip()
        try:
            cfg[k.strip()] = ast.literal_eval(v)
        except (ValueError, SyntaxError):
            cfg[k.strip()] = v
    return cfg


def _single_id(src, idc, out_name: str):
    """Collapse a composite key list to one content-derived id column
    (the pack/order hashes need a single column). to_json(struct(...)),
    not concat_ws (code-review r6): a bare ':' join collides distinct
    tuples — ("a:b","c") vs ("a","b:c") — and concat_ws silently SKIPS
    a NULL component, so ("a",NULL) and ("a",) collapse too; JSON
    quoting/escaping keeps the id deterministic, injective, and
    engine-portable."""
    if not isinstance(idc, list):
        return src, idc
    from pyspark.sql import functions as F

    src = src.withColumn(
        out_name,
        F.to_json(
            F.struct(*[F.col(c) for c in idc]),
            {"ignoreNullFields": "false"},
        ),
    )
    return src, out_name


def written(
    df, path: str, mode: str = "overwrite", fmt: str = "parquet", partition_by=None
) -> int:
    """Write ``df`` and return the number of rows this write wrote. The
    count rides the write job as an Observation: a read-back count of
    the written table would cost three more Spark jobs (footer schema,
    map stage, result), and under mode 'append' it would count earlier
    runs too."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.format(fmt).save(path)
    return int(obs.get["n"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    args = ap.parse_args()
    cfg = load_config(args.config)

    from pyspark.sql import SparkSession, functions as F

    from feagen_spark.core.dag import FeatureDAG
    from feagen_spark.core.engine import Engine
    from feagen_spark.features.turns import transcript_nodes, transcript_templates
    from feagen_spark.sources.tables import read_table
    from feagen_spark.store.checkpoint import CheckpointStore

    # under spark-submit the session already carries cluster config
    spark = SparkSession.builder.appName(
        cfg.get("app_name", "feagen_spark_run")
    ).getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    input_path = cfg["input_path"]
    df = read_table(spark, input_path, cfg.get("input_format", "parquet"))
    if "repartition_key" in cfg:
        df = df.repartition(
            int(cfg.get("repartition_n", spark.sparkContext.defaultParallelism * 2)),
            cfg["repartition_key"],
        )

    ck_nodes = set(cfg.get("checkpoint_nodes", []))
    nodes = []
    for n in transcript_nodes():
        if n.name in ck_nodes and not n.checkpoint:
            from feagen_spark.core.spec import FeatureNode

            n = FeatureNode(n.name, n.outputs, n.deps, n.fn, n.version, True)
        nodes.append(n)
    dag = FeatureDAG(
        nodes=nodes,
        templates=transcript_templates(),
        input_columns=tuple(df.columns),
    )
    # checkpoint_bucket_by: [n_buckets, key_or_key_list] switches the
    # store to BUCKETED checkpoints (external tables under the store
    # root). It saves the checkpoint side's shuffle of a sort-merge
    # join-back only: the conf/run.yml golden plan has 1 hash + 2
    # BroadcastExchanges bucketed or not, and 5 vs 7 hash Exchanges
    # with broadcast joins off (see conf/run.yml). Absent: plain
    # unbucketed parquet checkpoints.
    bucket_by = None
    if cfg.get("checkpoint_bucket_by"):
        n, cols = cfg["checkpoint_bucket_by"]
        bucket_by = (int(n), tuple(cols) if isinstance(cols, list) else cols)
    store = (
        CheckpointStore(cfg["checkpoint_root"], bucket_by=bucket_by)
        if cfg.get("checkpoint_root")
        else None
    )
    # clear what a crashed earlier run stranded under the root (aged
    # staging/aside dirs, this store's staging tables): no writer of
    # this session is mid-swap yet
    vacuumed = store.vacuum(spark) if store is not None else []
    eng = Engine(
        dag,
        store=store,
        keys=tuple(cfg.get("keys", ["conv_id", "turn_idx"])),
        input_token=str(cfg.get("input_snapshot", input_path)),
    )

    features = cfg["features"]
    executed, skipped = [], []
    out = eng.generate(df, list(features))
    executed += eng.last_run.executed
    skipped += eng.last_run.skipped

    # every enabled stage below plus the final write is its own action
    # over the SAME lazy feature table — without a persist the feature
    # DAG recomputes once per stage (code-review r6: backfill + pack +
    # order + bundle + write = up to 5 full recomputes)
    n_consumers = 1 + sum(
        bool(cfg.get(k)) for k in ("backfill", "pack", "order", "bundle_structure")
    )
    persisted = None
    if n_consumers > 1:
        out = persisted = out.persist()

    # backfill stage (SURVEY §2.C C10, VERDICT r4 #7): project the as-of
    # feature snapshot onto arbitrary (key, ts) label points — the north
    # rule's headline composition, runnable from config alone. The label
    # table is read from `backfill.labels_path`; snapshot rows (labels +
    # feature values as of each label ts, leakage contract per
    # backfill_snapshots) land at `backfill.output_path`.
    # (runs on the PRE-bundle feature table: bundling replaces the
    # scalar feature columns with packed arrays)
    backfill_rows = None
    bf = cfg.get("backfill")
    if bf:
        from feagen_spark.operators.asof import backfill_snapshots

        labels = spark.read.format(bf.get("format", "parquet")).load(
            bf["labels_path"]
        )
        ts_col = bf.get("ts_col", "ts")
        if labels.schema[ts_col].dataType.typeName() == "timestamp_ntz":
            labels = labels.withColumn(ts_col, labels[ts_col].cast("timestamp"))
        snaps = backfill_snapshots(
            out,
            labels,
            on=tuple(bf.get("on", ["conv_id"])),
            feature_cols=bf.get("feature_cols"),
            strict=bool(bf.get("strict", True)),
            label_ts=ts_col,
        )
        backfill_rows = written(
            snaps, bf["output_path"], bf.get("mode", "overwrite")
        )

    # pack stage (r6, VERDICT r5 #2/#3): context-window packing of the
    # feature table's rows into fixed-budget training sequences, from
    # config alone — `pack.len_col` may be a GENERATED feature (e.g.
    # text_len), so the stage composes with the DAG run. With
    # `payload_col` set the packed artifact itself is materialized
    # (offset-ordered concat); otherwise the assignment table lands.
    # Runs on the pre-bundle table for the same reason backfill does.
    packed_rows = None
    pk = cfg.get("pack")
    if pk:
        from feagen_spark.operators.cleaning import (
            materialize_packed_sequences,
            pack_sequences,
        )

        src, idc = _single_id(out, pk.get("id_col", "doc_id"), "__pack_id")
        # tokenize_vocab (r6): hash-tokenize the text first and pack BY
        # TOKEN BUDGET — len_col/payload_col default to the derived
        # token ids, making the stage a full text -> packed-token-id
        # pipeline with no external tokenizer model
        if pk.get("tokenize_vocab"):
            from feagen_spark.operators.textstats import hash_tokenize

            src = hash_tokenize(
                src,
                text_col=pk.get("text_col", "text"),
                vocab_size=int(pk["tokenize_vocab"]),
            ).withColumn("n_tok", F.size("token_ids").cast("long"))
            pk.setdefault("len_col", "n_tok")
            pk.setdefault("payload_col", "token_ids")
        rows_hint = pk.get("rows_hint")
        assign = pack_sequences(
            src,
            idc,
            pk["len_col"],
            max_len=int(pk["max_len"]),
            n_buckets=int(pk.get("n_buckets", 256)),
            rows_hint=int(rows_hint) if rows_hint else None,
        )
        res = assign
        if pk.get("payload_col"):
            res = materialize_packed_sequences(
                assign,
                src.select(idc, pk["payload_col"]),
                idc,
                pk["len_col"],
                pk["payload_col"],
                max_len=int(pk["max_len"]),
            )
        packed_rows = written(res, pk["output_path"], pk.get("mode", "overwrite"))

    # order stage (r6): reproducible global training order — write the
    # feature table physically permuted by the epoch's content-hash
    # order (cleaning.deterministic_shuffle). Default is the order-only
    # writer mode (file/row order IS the permutation; one range
    # shuffle, no rank machinery); `"rank": True` adds the explicit
    # contiguous global position column. `"seed"` is the epoch number —
    # bump it for a fresh permutation of the same snapshot.
    ordered_rows = None
    od = cfg.get("order")
    if od:
        from feagen_spark.operators.cleaning import deterministic_shuffle

        osrc, oid = _single_id(out, od.get("id_col", "doc_id"), "__order_id")
        shuffled = deterministic_shuffle(
            osrc,
            id_col=oid,
            seed=int(od.get("seed", 42)),
            n_partitions=(
                int(od["n_partitions"]) if od.get("n_partitions") else None
            ),
            method=od.get("method", "xxhash64"),
            rank_col="shuffle_rank" if od.get("rank") else None,
        )
        # the hash key is derivable noise at artifact scale — never
        # persist it (code-review r6)
        ordered_rows = written(
            shuffled.drop("shuffle_key"),
            od["output_path"],
            od.get("mode", "overwrite"),
        )

    if cfg.get("bundle_structure"):
        structure = (
            json.loads(cfg["bundle_structure"])
            if isinstance(cfg["bundle_structure"], str)
            else cfg["bundle_structure"]
        )
        prev_run = eng.last_run
        out = eng.bundle(out, structure)
        if eng.last_run is not prev_run:  # bundle() triggered a generate()
            executed += eng.last_run.executed
            skipped += eng.last_run.skipped

    out_path = cfg["output_path"]
    rows = written(
        out,
        out_path,
        cfg.get("output_mode", "overwrite"),
        cfg.get("output_format", "parquet"),
        cfg.get("output_partition_by"),
    )
    if persisted is not None:  # bundle may have rebound `out`
        persisted.unpersist()

    print(
        json.dumps(
            {
                "status": "ok",
                "rows": rows,
                "executed": executed,
                "skipped": skipped,
                "output": out_path,
                "backfill_rows": backfill_rows,
                "packed_rows": packed_rows,
                "ordered_rows": ordered_rows,
                "vacuumed": vacuumed,
            }
        )
    )


if __name__ == "__main__":
    main()
