"""In-process coverage of the spark-submit runner's config stages
(jobs/run_features.py) — the dist/spark-submit drive stays the
integration check; these tests pin the stage LOGIC (config parsing,
composite-id pack path, generated-feature len_col, budget invariants)
without forking a JVM."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]


def _load_runner():
    spec = importlib.util.spec_from_file_location(
        "run_features", REPO / "jobs" / "run_features.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_features_pack_stage(spark, tmp_path, monkeypatch, capsys):
    """features → pack drive from a config file: the pack stage uses the
    GENERATED text_len feature as the length, collapses the composite
    (conv_id, turn_idx) key, and materializes packed text rows within
    budget covering every turn exactly once."""
    from feagen_spark.datagen.transcripts import transcripts

    inp = str(tmp_path / "transcripts")
    transcripts(spark, n_conv=12, giant_convs=1, giant_turns=60).write.parquet(inp)

    out_path = str(tmp_path / "out")
    packed_path = str(tmp_path / "packed")
    cfg = tmp_path / "run.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: pack_stage_test",
                f"input_path: {inp}",
                'keys: ["conv_id", "turn_idx"]',
                'features: ["text_len", "prev_role"]',
                'pack: {"id_col": ["conv_id", "turn_idx"], '
                '"len_col": "text_len", "payload_col": "text", '
                f'"max_len": 512, "n_buckets": 4, '
                f'"output_path": "{packed_path}"}}',
                f"output_path: {out_path}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["run_features", "--config", str(cfg)])
    _load_runner().main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "ok"

    n_turns = spark.read.parquet(inp).count()
    packed = spark.read.parquet(packed_path)
    rows = packed.collect()
    assert summary["packed_rows"] == len(rows) > 0
    # coverage: every turn lands in exactly one packed sequence
    assert sum(r["n_docs"] for r in rows) == n_turns
    for r in rows:
        assert len(r["packed"]) == r["used_len"]
        if not r["oversize"]:
            assert r["used_len"] <= 512


def test_chunk_then_pack_composition(spark):
    """The oversize answer is upstream chunking (the docstring contract):
    chunk_text splits over-budget docs, then pack_sequences over chunk
    lengths yields ZERO oversize singletons and full coverage."""
    from feagen_spark.operators.cleaning import chunk_text, pack_sequences

    docs = spark.createDataFrame(
        [(i, "x" * (200 + 997 * i % 4000)) for i in range(40)],
        "doc_id long, text string",
    )
    chunks = chunk_text(docs, chunk_chars=512, overlap=0).withColumn(
        "chunk_id",
        F.concat_ws(":", F.col("doc_id"), F.col("chunk_idx")),
    ).withColumn("n_chars", F.length("chunk").cast("long"))
    out = pack_sequences(
        chunks, "chunk_id", "n_chars", max_len=512, n_buckets=2
    ).collect()
    assert len(out) == chunks.count()          # every chunk assigned
    assert all(r["oversize"] == 0 for r in out)  # chunking removed oversize
    by_seq: dict = {}
    for r in out:
        by_seq.setdefault(r["seq_uid"], []).append(r["n_chars"])
    assert all(sum(v) <= 512 for v in by_seq.values())


def test_run_features_order_stage(spark, tmp_path, monkeypatch, capsys):
    """features → order drive: the order stage collapses the composite
    key, emits a contiguous 0..n-1 global rank, and the permutation
    matches the md5 content-hash order recomputed driver-side."""
    import hashlib

    from feagen_spark.datagen.transcripts import transcripts

    inp = str(tmp_path / "transcripts")
    transcripts(spark, n_conv=8).write.parquet(inp)

    out_path = str(tmp_path / "out")
    ordered_path = str(tmp_path / "ordered")
    cfg = tmp_path / "run.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: order_stage_test",
                f"input_path: {inp}",
                'keys: ["conv_id", "turn_idx"]',
                'features: ["text_len"]',
                'order: {"id_col": ["conv_id", "turn_idx"], "seed": 3, '
                '"rank": True, "method": "md5", "n_partitions": 4, '
                f'"output_path": "{ordered_path}"}}',
                f"output_path: {out_path}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["run_features", "--config", str(cfg)])
    _load_runner().main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "ok"

    n_turns = spark.read.parquet(inp).count()
    assert summary["ordered_rows"] == n_turns
    rows = spark.read.parquet(ordered_path).select(
        "__order_id", "shuffle_rank"
    ).collect()
    assert sorted(r["shuffle_rank"] for r in rows) == list(range(n_turns))
    want = {
        oid: pos
        for pos, (_, oid) in enumerate(
            sorted(
                (hashlib.md5(f"3:{r['__order_id']}".encode()).hexdigest(),
                 r["__order_id"])
                for r in rows
            )
        )
    }
    assert all(want[r["__order_id"]] == r["shuffle_rank"] for r in rows)


def test_run_features_counts_writes_in_the_write_job(
    spark, job_ids, tmp_path, monkeypatch, capsys
):
    """The order stage and the final output count their rows with an
    ``Observation`` on the write job, not by reading the written table
    back (a footer-schema job, a map stage and a result job per
    read-back): a features → order drive launches exactly JOBS jobs."""
    JOBS = 6
    from feagen_spark.datagen.transcripts import transcripts

    inp = str(tmp_path / "transcripts")
    transcripts(spark, n_conv=8).write.parquet(inp)
    n_turns = spark.read.parquet(inp).count()
    ordered = tmp_path / "ordered"
    cfg = tmp_path / "run.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: run_jobs_test",
                f"input_path: {inp}",
                'keys: ["conv_id", "turn_idx"]',
                'features: ["text_len"]',
                'order: {"id_col": ["conv_id", "turn_idx"], "seed": 3, '
                '"method": "md5", "n_partitions": 4, '
                f'"output_path": "{ordered}"}}',
                f"output_path: {tmp_path / 'out'}",
            ]
        )
    )
    runner = _load_runner()
    monkeypatch.setattr(sys, "argv", ["run_features", "--config", str(cfg)])
    before = job_ids()
    runner.main()
    launched = job_ids() - before
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["ordered_rows"] == summary["rows"] == n_turns
    assert len(launched) == JOBS, sorted(launched)


def test_run_features_vacuums_its_store_on_open(
    spark, tmp_path, monkeypatch, capsys
):
    """A run clears what a crashed earlier run stranded in its
    checkpoint root: a ``.staging-*`` dir older than the vacuum grace
    period goes; a fresh one (a writer mid-swap) and the live
    checkpoints stay, and the run still resumes from them."""
    import os
    import time

    from feagen_spark.datagen.transcripts import transcripts

    inp = str(tmp_path / "transcripts")
    transcripts(spark, n_conv=8).write.parquet(inp)
    root = tmp_path / "ckpt"
    cfg = tmp_path / "run.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: run_vacuum_test",
                f"input_path: {inp}",
                'keys: ["conv_id", "turn_idx"]',
                'features: ["text_len", "session_id"]',
                'checkpoint_nodes: ["session_id"]',
                f"checkpoint_root: {root}",
                f"output_path: {tmp_path / 'out'}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["run_features", "--config", str(cfg)])
    _load_runner().main()
    live = sorted(p.name for p in root.iterdir() if p.name.startswith("session_id-"))
    assert len(live) == 1

    aged = root / "session_id-x.staging-dead"
    fresh = root / "session_id-x.staging-live"
    aged.mkdir()
    fresh.mkdir()
    then = time.time() - 48 * 3600
    os.utime(aged, (then, then))
    capsys.readouterr()

    _load_runner().main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["vacuumed"] == [aged.name]
    assert not aged.exists()
    assert fresh.is_dir()
    assert summary["skipped"] == ["session_id"]
    assert sorted(
        p.name for p in root.iterdir() if p.name.startswith("session_id-")
    ) == sorted(live + [fresh.name])


def test_repeated_pit_op_compiles_no_classes(spark, tiny_transcripts, tmp_path):
    """A JVM that runs the same plans again compiles each generated class
    once: a second pit-shaped op (cold bucketed-store generate + write,
    resume + write, refresh + write_refresh) adds nothing to Spark's
    Janino compilation count. At Spark's default codegen cache of 100
    classes the op's own working set evicts itself and the repeat
    recompiles every class."""
    import dataclasses

    from bench import GOLDEN_FEATURES
    from feagen_spark.core.dag import FeatureDAG
    from feagen_spark.core.engine import Engine
    from feagen_spark.features.turns import transcript_nodes, transcript_templates
    from feagen_spark.operators.incremental import refresh_conversations, write_refresh
    from feagen_spark.store.checkpoint import CheckpointStore

    keys = ("conv_id", "turn_idx")
    # the conf/run.yml checkpoint nodes
    nodes = [
        dataclasses.replace(n, checkpoint=n.name in ("session_id", "tool_calls_last_10"))
        for n in transcript_nodes()
    ]
    cols = ["conv_id", "turn_idx", "ts", *GOLDEN_FEATURES]
    df = tiny_transcripts
    # one new turn after the first turn of two conversations
    new = (
        df.where(F.col("turn_idx") == 0)
        .orderBy("conv_id")
        .limit(2)
        .withColumn("turn_idx", F.col("turn_idx") + 10_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .localCheckpoint()
    )
    full = df.unionByName(new)

    def engine(frame, store):
        dag = FeatureDAG(
            nodes=nodes, templates=transcript_templates(), input_columns=tuple(frame.columns)
        )
        return Engine(dag, store=store, keys=keys, input_token="codegen")

    def op(d):
        store = CheckpointStore(str(d / "ckpt"), bucket_by=(8, keys))
        for out in ("features", "resumed"):  # cold, then resumed from the store
            engine(df, store).generate(df, GOLDEN_FEATURES).select(*cols).write.parquet(
                str(d / out)
            )
        refreshed = refresh_conversations(engine(full, None), full, new, GOLDEN_FEATURES)
        write_refresh(refreshed.select(*cols), str(d / "refreshed"))

    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    op(tmp_path / "op1")
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    op(tmp_path / "op2")
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before


def test_session_page_spans_driver_heap(spark):
    """Tungsten pages are the smallest power of two >= 1 MiB whose
    8192-entry page table still spans the driver heap, and the session's
    memory manager uses that size (Spark's own choice at an 8g local
    driver is 64 MiB)."""
    from feagen_spark.session import PAGE_TABLE_SIZE, page_bytes

    assert page_bytes("8g") == page_bytes("512m") == page_bytes("512") == 1 << 20
    assert page_bytes("48g") == 8 << 20
    assert page_bytes("9g") == 2 << 20 and 2 * PAGE_TABLE_SIZE >= 9 << 10
    conf = spark.sparkContext.getConf()
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == page_bytes(conf.get("spark.driver.memory"))


def test_run_features_pack_tokenize_vocab(spark, tmp_path, monkeypatch, capsys):
    """tokenize_vocab packs BY TOKEN BUDGET with hash-token-id payloads
    derived in-stage — no len_col/payload_col in the config."""
    from feagen_spark.datagen.transcripts import transcripts

    inp = str(tmp_path / "transcripts")
    transcripts(spark, n_conv=10).write.parquet(inp)

    out_path = str(tmp_path / "out")
    packed_path = str(tmp_path / "packed")
    cfg = tmp_path / "run.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: pack_tokenize_test",
                f"input_path: {inp}",
                'keys: ["conv_id", "turn_idx"]',
                'features: ["text_len"]',
                'pack: {"id_col": ["conv_id", "turn_idx"], '
                '"tokenize_vocab": 512, "max_len": 128, "n_buckets": 2, '
                f'"output_path": "{packed_path}"}}',
                f"output_path: {out_path}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["run_features", "--config", str(cfg)])
    _load_runner().main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "ok" and summary["packed_rows"] > 0

    n_turns = spark.read.parquet(inp).count()
    rows = spark.read.parquet(packed_path).collect()
    assert sum(r["n_docs"] for r in rows) == n_turns
    for r in rows:
        assert len(r["packed"]) == r["used_len"]
        assert all(isinstance(x, int) and 0 <= x < 512 for x in r["packed"])
        if not r["oversize"]:
            assert r["used_len"] <= 128


def test_load_config_comment_stripping_is_quote_aware(tmp_path):
    """'#' inside quoted literals survives; unquoted trailing comments
    are stripped (code-review r6)."""
    runner = _load_runner()
    p = tmp_path / "c.yml"
    p.write_text(
        "\n".join(
            [
                "a: 1  # trailing comment",
                'b: "/data/run#3/out"',
                "c: {'path': '/tmp/a#b', 'n': 2}  # dict with hash",
                "# full-line comment",
                "d: plain",
            ]
        )
    )
    cfg = runner.load_config(str(p))
    assert cfg == {
        "a": 1,
        "b": "/data/run#3/out",
        "c": {"path": "/tmp/a#b", "n": 2},
        "d": "plain",
    }


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "jobs" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    # the jobs import load_config from run_features by module name
    sys.path.insert(0, str(REPO / "jobs"))
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path.remove(str(REPO / "jobs"))
    return mod


def test_curate_corpus_funnel(spark, tmp_path, monkeypatch, capsys):
    """End-to-end curation drive from config: dedup classes drop, the
    decontaminated bench docs vanish, the funnel is monotone, and the
    packed artifact covers every surviving doc's tokens."""
    texts = {
        # near-dup pair (cluster -> canonical 1 survives)
        1: "the quick brown fox jumps over the lazy dog every day now",
        2: "the quick brown fox jumps over the lazy dog every day now!",
        # exact dup of 3 (exact_dedup keeps 3)
        3: "completely original first document about spark partitions",
        4: "completely original first document about spark partitions",
        # contaminated: shares the bench doc's grams
        5: "held out benchmark question about gradient descent methods",
        # clean keepers
        6: "a second clean document describing window aggregations",
        7: "a third clean document on broadcast join planning rules",
    }
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    ).write.parquet(inp)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(900, texts[5])], "doc_id long, text string"
    ).write.parquet(bench)

    out = str(tmp_path / "curated")
    packed = str(tmp_path / "packed")
    cfg = tmp_path / "curate.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_test",
                f"input_path: {inp}",
                "exact_dedup: true",
                'near_dedup: {"k": 32, "bands": 8, "threshold": 0.8}',
                f'decontaminate: {{"bench_path": "{bench}", "n": 3, '
                '"min_shared": 5}',
                'pack: {"max_len": 64, "n_buckets": 2, "vocab_size": 1024, '
                f'"output_path": "{packed}"}}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "ok"
    f = summary["funnel"]
    assert f["input"] == 7
    assert f["exact_dedup"] == 6          # 4 dropped
    assert f["near_dedup"] == 5           # 2 dropped
    assert f["decontaminate"] == 4        # 5 dropped
    assert f["output"] == 4
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 6, 7}
    pk = spark.read.parquet(packed)
    assert pk.count() >= 1
    # every surviving doc's tokens appear in exactly one packed row
    n_tokens = sum(len(texts[i].split()) for i in kept)
    total = pk.agg(
        F.sum(F.size("packed")).cast("long")
    ).first()[0]
    assert total == n_tokens


def test_curate_corpus_one_job_per_stage(
    spark, job_ids, tmp_path, monkeypatch, capsys
):
    """Each funnel stage pins or writes its frame and counts it in the
    same Spark job (the count is an Observation on the pinning or
    writing job, not a separate ``count()``, which costs a map-stage
    job plus a result job under AQE, nor a read-back of the written
    table, which adds a schema job to those two): a drive with only
    exact_dedup enabled launches exactly JOBS jobs."""
    JOBS = 6
    texts = ["one doc about joins", "one doc about joins", "another doc"]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).coalesce(1).write.parquet(inp)
    cfg = tmp_path / "curate.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_jobs_test",
                f"input_path: {inp}",
                "exact_dedup: true",
                f"output_path: {tmp_path / 'curated'}",
            ]
        )
    )
    job = _load_job("curate_corpus")
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    before = job_ids()
    job.main()
    launched = job_ids() - before
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["funnel"] == {"input": 3, "exact_dedup": 2, "output": 2}
    assert len(launched) == JOBS, sorted(launched)


def test_curate_corpus_dsir_stage(spark, tmp_path, monkeypatch, capsys):
    """The dsir: stage keeps exactly k docs, preferring target-like
    content, and records the funnel leg + audit column."""
    texts = {
        1: "spark window functions and partition pruning in query plans",
        2: "spark window functions and shuffle exchanges in query plans",
        3: "a recipe for sourdough bread with flour water and salt",
        4: "gardening tips for tomato plants in warm humid climates",
        5: "spark adaptive query execution and broadcast joins explained",
        6: "celebrity gossip roundup for the summer entertainment season",
    }
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    ).write.parquet(inp)
    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(901, "spark query plans window functions shuffle partition joins")],
        "doc_id long, text string",
    ).write.parquet(target)

    out = str(tmp_path / "curated_dsir")
    cfg = tmp_path / "curate_dsir.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_dsir_test",
                f"input_path: {inp}",
                f'dsir: {{"target_path": "{target}", "k": 3, '
                '"n_buckets": 256, "seed": 7}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["status"] == "ok"
    f = summary["funnel"]
    assert f["input"] == 6 and f["dsir"] == 3 and f["output"] == 3
    kept = spark.read.parquet(out).collect()
    ids = {r["doc_id"] for r in kept}
    # the spark-flavored docs dominate the draw (∝ exp(weight))
    assert ids & {1, 2, 5}
    # audit column rides along; every kept row carries a finite weight
    for r in kept:
        assert r["dsir_logweight"] is not None


def test_curate_corpus_token_upsample_stage(spark, tmp_path, monkeypatch, capsys):
    """The token_upsample: stage duplicates the under-budget stratum
    into epoch copies with composite ids and the funnel records the
    growth; the pack stage downstream packs every copy."""
    rows = [(i, "alpha beta gamma delta " * 5, "wiki") for i in range(10)]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, src string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated_up")
    packed = str(tmp_path / "packed_up")
    cfg = tmp_path / "curate_up.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_up_test",
                f"input_path: {inp}",
                # 10 docs x 20 tokens = 200 tokens; budget 600 -> r=3
                'token_upsample: {"strata_col": "src", "budgets": {"wiki": 600}}',
                'pack: {"max_len": 64, "n_buckets": 2, "vocab_size": 512, '
                f'"output_path": "{packed}"}}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    f = summary["funnel"]
    assert f["input"] == 10 and f["token_upsample"] == 30
    kept = spark.read.parquet(out).toPandas()
    assert len(kept) == 30
    # composite ids: 3 epoch copies per source doc
    assert set(kept.doc_id.str.split("#").str[1]) == {"0", "1", "2"}
    pk = spark.read.parquet(packed)
    # every copy's tokens are packed: 30 copies x 20 tokens
    assert pk.agg(F.sum(F.size("packed")).cast("long")).first()[0] == 600


def test_curate_corpus_gopher_stage(spark, tmp_path, monkeypatch, capsys):
    """The gopher: stage drops rule-violating docs (config thresholds
    reach the operator kwargs) and strips the rule-input columns from
    the surviving schema by default."""
    long_clean = ("the cat and the dog have to be friends with all of "
                  "that time and they run and play ") * 2
    rows = [
        (1, long_clean, "wiki"),
        (2, long_clean + " extra words here too", "wiki"),
        (3, "the list\n- one\n- two\n- three\n- four", "web"),  # bullets
        (4, "too short", "web"),
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, src string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated_gq")
    cfg = tmp_path / "curate_gq.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_gq_test",
                f"input_path: {inp}",
                'gopher: {"min_words": 10, "max_words": 1000,'
                ' "min_mean_word_len": 2.0, "max_bullet_ratio": 0.5}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["funnel"] == {"input": 4, "gopher": 2, "output": 2}
    kept = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
    # rule-input columns are dropped unless keep_signals is set
    assert not [c for c in kept.columns if c.startswith("gq_")]
    assert "gopher_keep" not in kept.columns


def test_curate_corpus_interleave_order(spark, tmp_path, monkeypatch, capsys):
    """order.interleave spreads each stratum evenly through the written
    training order (exact proportional interleave, not a hash clump)."""
    rows = [(i, f"alpha beta gamma delta {i} " * 4, "big") for i in range(20)]
    rows += [(100, "rare stratum doc one " * 5, "tiny"),
             (101, "rare stratum doc two " * 5, "tiny")]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, src string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated_il")
    ordered = str(tmp_path / "ordered_il")
    cfg = tmp_path / "curate_il.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_il_test",
                f"input_path: {inp}",
                'order: {"interleave": "src", "rank": True, "seed": 3,'
                f' "n_partitions": 3, "output_path": "{ordered}"}}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["funnel"] == {"input": 22, "order": 22, "output": 22}
    kept = spark.read.parquet(out).toPandas()
    assert "interleave_rank" in kept.columns
    assert "interleave_pos" not in kept.columns  # working column dropped
    # the 2-doc stratum lands at thirds of the 22-doc order
    tiny = sorted(kept[kept.src == "tiny"].interleave_rank)
    assert 5 <= tiny[0] <= 9 and 13 <= tiny[1] <= 17, tiny


def test_curate_corpus_mixture_stage(spark, tmp_path, monkeypatch, capsys):
    """The mixture: stage rebalances BOTH directions from one
    temperature: the over-budget stratum downsamples, the under-budget
    one duplicates into epoch copies, and every surviving row carries
    a composite id."""
    rows = [(f"b{i}", "big beta gamma delta epsilon " * 8, "big")
            for i in range(50)]
    rows += [(f"s{i}", "small beta gamma delta epsilon " * 8, "small")
             for i in range(5)]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id string, text string, src string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated_mx")
    cfg = tmp_path / "curate_mx.yml"
    # 55 docs x 40 tokens: big 2000 toks, small 200. T=inf-ish (100)
    # -> ~uniform weights -> big downsamples to ~1100, small upsamples
    # ~5.5x (max_epochs must allow 6)
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_mx_test",
                f"input_path: {inp}",
                'mixture: {"strata_col": "src", "total": 2200,'
                ' "temperature": 100, "max_epochs": 8}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    f = summary["funnel"]
    assert f["input"] == 55
    kept = spark.read.parquet(out).toPandas()
    assert len(kept) == f["mixture"]
    base = kept.doc_id.str.split("#").str[0]
    n_big = (base.str.startswith("b")).sum()
    n_small = (base.str.startswith("s")).sum()
    # ~1100/2000 of big kept; ~1100/200 = 5.5 epochs of small
    assert 18 <= n_big <= 38, n_big
    assert 23 <= n_small <= 32, n_small
    # every id is composite and epoch indices are contiguous from 0
    eps = kept.doc_id.str.split("#").str[1].astype(int)
    assert eps.min() == 0 and eps.max() >= 4


def test_curate_corpus_line_scrub_stage(spark, tmp_path, monkeypatch, capsys):
    """line_scrub: drops repeated boilerplate lines from every doc
    (text replaced, doc count unchanged) and the scrubbed text feeds
    downstream stages."""
    banner = "SUBSCRIBE TO OUR NEWSLETTER"
    rows = [
        (1, f"{banner}\nreal article text one", "web"),
        (2, f"{banner}\nsecond unique article", "web"),
        (3, f"{banner}\nthird piece of content", "web"),
        (4, "no banner here at all", "web"),
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, src string"
    ).write.parquet(inp)

    out = str(tmp_path / "curated_ls")
    cfg = tmp_path / "curate_ls.yml"
    cfg.write_text(
        "\n".join(
            [
                "app_name: curate_ls_test",
                f"input_path: {inp}",
                'line_scrub: {"min_count": 3}',
                f"output_path: {out}",
            ]
        )
    )
    monkeypatch.setattr(sys, "argv", ["curate_corpus", "--config", str(cfg)])
    _load_job("curate_corpus").main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["funnel"] == {"input": 4, "line_scrub": 4, "output": 4}
    kept = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    for i in (1, 2, 3):
        assert banner not in kept[i]["text"] and kept[i]["n_lines_dropped"] == 1
    assert kept[4]["text"] == rows[3][1] and kept[4]["n_lines_dropped"] == 0
