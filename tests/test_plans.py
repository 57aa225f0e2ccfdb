"""Physical-plan audits (the '.explain and iterate' discipline): shuffle
counts, pushdown, broadcast — the properties that decide 100TB behavior."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from feagen_spark.core.dag import FeatureDAG
from feagen_spark.core.engine import Engine
from feagen_spark.features.turns import transcript_nodes, transcript_templates
from bench import GOLDEN_FEATURES


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if re.search(r"\bExchange\b", l)]


@pytest.fixture(scope="module")
def parquet_transcripts(spark, tiny_transcripts, tmp_path_factory):
    """Plan audits read from parquet so the datagen lineage (its own
    window/exchange) doesn't pollute the plan under test."""
    p = str(tmp_path_factory.mktemp("plans") / "tr")
    tiny_transcripts.write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def test_feature_suite_single_shuffle(parquet_transcripts):
    """The ENTIRE golden feature suite must cost exactly one exchange
    (hash on conv_id); every window reuses that partitioning."""
    df = parquet_transcripts
    dag = FeatureDAG(
        nodes=transcript_nodes(),
        templates=transcript_templates(),
        input_columns=tuple(df.columns),
    )
    out = Engine(dag, store=None).generate(df, GOLDEN_FEATURES)
    out = out.select("conv_id", "turn_idx", "ts", *GOLDEN_FEATURES)
    plan = _plan(out)
    ex = _exchanges(plan)
    assert len(ex) == 1, plan
    assert "conv_id" in ex[0]


def test_filter_pushdown_reaches_scan(parquet_transcripts):
    df = parquet_transcripts.where(F.col("role") == "tool").select("conv_id", "tool")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(role,tool\)", plan), plan


def test_column_pruning_reaches_scan(parquet_transcripts):
    df = parquet_transcripts.select("conv_id", "turn_idx")
    plan = _plan(df)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "text" not in m.group(1), plan


def test_asof_join_single_exchange(spark, parquet_transcripts):
    """As-of join = union + one window: exactly one exchange on the join
    keys, never a range-join explosion."""
    from feagen_spark.operators.asof import asof_join

    right = parquet_transcripts.select(
        "conv_id", "turn_idx", "ts", F.length("text").alias("v")
    )
    left = parquet_transcripts.select("conv_id", "ts").limit(100)
    out = asof_join(left, right, on=["conv_id"], values=["v"], strict=True)
    plan = _plan(out)
    ex = _exchanges(plan)
    # one hash exchange for the window; the limit side may add a
    # single-partition exchange for the limit itself, nothing else
    hash_ex = [l for l in ex if "hashpartitioning" in l]
    assert len(hash_ex) == 1, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_broadcast_for_small_dims(spark, parquet_transcripts):
    """Small-side joins must broadcast (no shuffle of the big side)."""
    small = spark.createDataFrame(
        [("tool",), ("user",)], "role string"
    )
    out = parquet_transcripts.join(F.broadcast(small), "role")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wholestage_codegen_covers_text_profile(spark):
    from feagen_spark.operators import textstats as TS

    docs = spark.createDataFrame(
        [(1, "hello world the and of it")], "doc_id long, text string"
    )
    prof = TS.text_profile(docs)
    plan = _plan(prof)
    # '*(n)' prefix marks WholeStageCodegen spans in executedPlan strings
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_event_feature_dag_single_shuffle(spark, tmp_path_factory):
    """The generic event-stream feature DAG (features/events.py) must
    compile to ONE hash exchange on user_id, same as the transcript
    suite — the time-range window re-sorts within the partition."""
    from feagen_spark.features.events import event_nodes, event_templates

    p = str(tmp_path_factory.mktemp("plans_ev") / "ev")
    spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 9).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ["click", "view", "purchase"]]),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("id") % 17).cast("double").alias("value"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    ).write.mode("overwrite").parquet(p)
    ev = spark.read.parquet(p)

    dag = FeatureDAG(
        nodes=event_nodes(),
        templates=event_templates(),
        input_columns=tuple(ev.columns),
    )
    out = Engine(dag, store=None, keys=("user_id", "event_id")).generate(
        ev,
        [
            "prev_event_type", "n_so_far", "cum_value", "value_sum_last_10",
            "n_events_600s", "session_id", "last_click_value",
            "event_type_lag_2", "n_types_last_10", "value_decay_600s",
        ],
    )
    plan = _plan(out)
    ex = _exchanges(plan)
    assert len(ex) == 1, plan
    assert "user_id" in ex[0]


def test_sparse_bundle_is_map_only(spark):
    """bundle_sparse must add NO exchange and NO Python: pure JVM
    transform/filter inside the projection."""
    from feagen_spark.operators.bundle import bundle_sparse, one_hot

    df = spark.createDataFrame(
        [(1, "a", 2.0)], "id long, cat string, x double"
    ).withColumn("oh", one_hot("cat", ["a", "b"]))
    out = bundle_sparse(df, {"feats": ["oh", "x"]}, keys=("id",))
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunked_asof_no_cartesian(spark, parquet_transcripts):
    """The skew-safe as-of must stay union+window shaped: no cartesian
    product, no sort-merge range join; the carries fixup is a broadcast."""
    from feagen_spark.operators.asof import asof_join_chunked

    right = parquet_transcripts.select(
        "conv_id", "turn_idx", "ts", F.length("text").alias("v")
    )
    left = parquet_transcripts.select("conv_id", "ts").limit(100)
    out = asof_join_chunked(
        left, right, on=["conv_id"], values=["v"], strict=True,
        right_order=("turn_idx",), chunk_span_s=3600,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tfidf_two_data_shuffles(spark):
    """tfidf_terms' docstring promises two data shuffles (tf groupBy +
    term window) — pin it so a refactor can't silently reintroduce the
    dfreq self-join. The broadcast of the 1-row corpus size is not a
    hash exchange."""
    from feagen_spark.operators.textstats import tfidf_terms

    docs = spark.createDataFrame(
        [(i, "a b c a") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(tfidf_terms(docs))
    hash_ex = [l for l in _exchanges(plan) if "hashpartitioning" in l]
    assert len(hash_ex) == 2, plan


def test_unigram_logprob_shuffle_shape(spark):
    """unigram_logprob's runtime shape: tf groupBy, term-total window,
    per-doc groupBy, doc-spine join — four hash exchanges — and the
    broadcast corpus-total branch must NOT recompute the token explode:
    AQE dedupes its tf subtree into a ReusedExchange (asserted on the
    POST-execution plan; the pre-execution string shows the duplicate)."""
    from feagen_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(i, "a b c a") for i in range(10)], "doc_id long, text string"
    )
    out = unigram_logprob(docs)
    out.collect()  # finalize the adaptive plan
    # keep only the FINAL adaptive section (the string appends the
    # pre-execution '== Initial Plan ==', which still shows duplicates)
    plan = _plan(out).split("== Initial Plan ==")[0]
    hash_ex = [l for l in _exchanges(plan) if "hashpartitioning" in l]
    reused = [l for l in plan.splitlines() if "ReusedExchange" in l]
    assert len(hash_ex) - len(reused) <= 4, plan
    assert len(reused) >= 1, plan
    assert "BroadcastExchange" in plan, plan


def test_unigram_logprob_term_join_follows_threshold(spark):
    """The vocabulary-sized term-total join carries no broadcast hint:
    with broadcast joins switched off (static and adaptive), the
    executed plan has no BroadcastHashJoin, so a vocabulary that
    outgrows the threshold is shuffle-joined, not broadcast."""
    from feagen_spark.operators.textstats import unigram_logprob

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    docs = spark.createDataFrame(
        [(i, "a b c a") for i in range(10)], "doc_id long, text string"
    )
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        out = unigram_logprob(docs)
        out.collect()  # finalize the adaptive plan
        plan = _plan(out)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" not in plan, plan


def test_exact_dedup_shuffles_digests_not_text(spark):
    """exact_dedup's keep-set aggregation must shuffle (id, digest)
    rows, never the raw text — the property that makes it a
    digest-weight shuffle at 100 TB."""
    from feagen_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, "payload " * 50) for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(exact_dedup(docs))
    for line in _exchanges(plan):
        assert "text" not in line, line


def test_minhash_band_join_has_no_cartesian(spark):
    """The banded candidate join must be a hash join on (band, bucket),
    never a cartesian/nested-loop product."""
    from feagen_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"doc text number {i} with shared tokens") for i in range(12)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_lsh_pairs(docs, k=8, bands=4, threshold=0.5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_probe_join_broadcasts_queries(spark):
    """ivf_topk's candidate join must broadcast the (small) probe side,
    leaving the corpus unshuffled — the 100 TB probe path."""
    import numpy as np

    from feagen_spark.operators import similarity as S

    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = rng.normal(size=(4, 8))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    q = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(S.ivf_topk(corpus, q, cent, k=3, nprobe=2))
    assert "BroadcastExchange" in plan, plan
    # corpus side: no hash repartition before the probe join
    probe_hash_ex = [
        l for l in _exchanges(plan)
        if "hashpartitioning" in l and "centroid" in l
    ]
    assert probe_hash_ex == [], plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the same key/count must join with ZERO
    hash exchanges (the co-located join layout a bucketed checkpoint
    store relies on). Broadcast disabled so the join would otherwise
    shuffle both sides."""
    left = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    for df, name in ((left, "bkt_left"), (right, "bkt_right")):
        df.write.mode("overwrite").bucketBy(4, "k").sortBy("k").saveAsTable(name)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = _plan(joined)
        assert not [
            l for l in _exchanges(plan) if "hashpartitioning" in l
        ], plan
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_bucketed_store_resume_saves_joinback_exchanges(
    spark, parquet_transcripts, tmp_path_factory
):
    """The ENGINE's resume join-back (flow df ⋈ checkpoint on
    (conv_id, turn_idx)) must shuffle only the FLOW side when the store
    is bucketed on the FULL join-back key set (conv_id, turn_idx) —
    under requireAllClusterKeysForCoPartition=true a prefix is NOT
    enough (see checkpoint.py bucket_by docs). Asserted
    comparatively — the bucketed-store resume plan carries at least one
    hash exchange FEWER PER CHECKPOINT NODE than the path-store resume
    plan of the identical DAG."""
    from feagen_spark.store.checkpoint import CheckpointStore

    def _resume_plan(store):
        from tests.test_engine import _dag

        ck = ("session_id", "tool_calls_last_10")
        eng = Engine(_dag(ck), store=store, input_token="snapP")
        req = ["turn_in_session", "tool_calls_last_10"]
        eng.generate(parquet_transcripts, req)          # populate
        out = eng.generate(parquet_transcripts, req)    # resume
        assert sorted(eng.last_run.skipped) == sorted(ck)
        return _plan(out)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        base = tmp_path_factory.mktemp("resume_plans")
        plain = _resume_plan(CheckpointStore(str(base / "path_store")))
        bucketed_store = CheckpointStore(
            str(base / "bkt_store"), bucket_by=(4, ("conv_id", "turn_idx"))
        )
        bucketed = _resume_plan(bucketed_store)
        n_plain = sum(
            1 for l in _exchanges(plain) if "hashpartitioning" in l
        )
        n_bucketed = sum(
            1 for l in _exchanges(bucketed) if "hashpartitioning" in l
        )
        assert n_bucketed <= n_plain - 2, (n_plain, n_bucketed, bucketed)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in spark.catalog.listTables():
            if t.name.startswith("ckpt_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _formatted(df) -> str:
    """Formatted explain (per-node Input/Arguments lists) — the only
    explain mode that shows WHICH columns ride each Exchange."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _exchange_blocks(plan: str) -> list[dict]:
    """Parse formatted-explain into one dict per `(n) Exchange` node:
    {'input': <Input line>, 'args': <Arguments line>} (shuffle
    exchanges only — BroadcastExchange is a different node name)."""
    blocks = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"\(\d+\) Exchange\b", line.strip()):
            continue
        blk = {"input": "", "args": ""}
        for sub in lines[i + 1 : i + 8]:
            s = sub.strip()
            if s.startswith("Input"):
                blk["input"] = s
            elif s.startswith("Arguments"):
                blk["args"] = s
            elif not s:
                break
        blocks.append(blk)
    return blocks


def _vectors_df(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=8)]) for i in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_near_dup_pair_dedup_exchange_carries_scalars_only(spark):
    """VERDICT r3 #1: cosine_near_dup_pairs must score AND threshold
    before the pair distinct, so the dedup Exchange (keyed on the pair
    ids) shuffles (id_a, id_b, cosine) scalars — never the two full
    embedding vectors. The band self-join exchanges (keyed on
    band/bucket) legitimately carry vectors; they are keyed differently
    and excluded here."""
    from feagen_spark.operators import similarity as S

    df = _vectors_df(spark)
    out = S.cosine_near_dup_pairs(df, 0.9, n_planes=16, bands=4, dim=8)
    dedup_ex = [
        b
        for b in _exchange_blocks(_formatted(out))
        if "hashpartitioning(id_a" in b["args"]
    ]
    assert dedup_ex, _formatted(out)
    for b in dedup_ex:
        assert "embedding" not in b["input"], b
        assert not re.search(r"\bv[ab]#", b["input"]), b


def test_lsh_topk_dedup_exchange_carries_scalars_only(spark):
    """Same property for lsh_topk: the candidate distinct and the rank
    window shuffle (query_id, vec_id, cosine) scalars only — the corpus
    embedding and the broadcast query vector never ride a shuffle."""
    from feagen_spark.operators import similarity as S

    df = _vectors_df(spark)
    q = df.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = S.lsh_topk(df, q, k=3, n_planes=16, bands=4, dim=8)
    blocks = _exchange_blocks(_formatted(out))
    keyed = [
        b for b in blocks if "hashpartitioning(query_id" in b["args"]
    ]
    assert keyed, _formatted(out)
    for b in keyed:
        assert "embedding" not in b["input"], b
        assert "query_vec" not in b["input"], b


def test_semantic_dedup_drop_distinct_carries_id_only(spark):
    """semantic_dedup scores and thresholds pairs IMMEDIATELY after the
    cluster self-join, and the drop decision collapses each pair to ONE
    id before the distinct — so the drop-set Exchange (keyed on vec_id)
    shuffles bare ids. Only the centroid_id-keyed self-join exchanges
    (which co-locate cluster members) may carry embeddings; no
    cartesian/BNLJ anywhere."""
    from feagen_spark.operators import similarity as S

    df = _vectors_df(spark)
    cent = S.seed_centroids(df, n_centroids=4)
    out = S.semantic_dedup(df, cent, threshold=0.9)
    plan = _formatted(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    id_keyed = [
        b
        for b in _exchange_blocks(plan)
        if "hashpartitioning(vec_id" in b["args"]
    ]
    assert id_keyed, plan
    for b in id_keyed:
        assert "embedding" not in b["input"], b


def test_minhash_probe_increment_index_never_shuffles(spark, tmp_path):
    """Incremental dedup's whole point: the persisted corpus index is
    consumed by a broadcast join, map-only — no shuffle Exchange may
    carry a signature array (the hot-bucket count exchange carries
    (band, bucket) scalars; the pair distinct carries ids + est; the
    increment's own signature groupBy shuffles shingle hashes)."""
    from feagen_spark.operators import dedup as D

    rows = [(i, f"document number {i} with some shared words") for i in range(20)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    inc = spark.createDataFrame(
        [(100, "a new increment document with some shared words")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "mh_index")
    D.write_minhash_index(corpus, idx_path, k=16, bands=4)
    out = D.minhash_probe_increment(spark, idx_path, inc, k=16, bands=4)
    plan = _formatted(out)
    assert "BroadcastHashJoin" in plan, plan
    for b in _exchange_blocks(plan):
        assert "signature" not in b["input"], b
        assert "__sig" not in b["input"], b


def test_lsh_plan_construction_is_action_free(spark, job_ids):
    """With dim= passed, building the LSH plans must run ZERO Spark jobs
    (VERDICT r3 #2: the 1-row dimension-sniff job exists only as the
    dim=None fallback)."""
    from feagen_spark.operators import similarity as S

    df = _vectors_df(spark)
    q = df.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    before = job_ids()
    S.lsh_topk(df, q, k=3, n_planes=16, bands=4, dim=8)
    S.cosine_near_dup_pairs(df, 0.9, n_planes=16, bands=4, dim=8)
    assert job_ids() == before, job_ids() - before


def test_stratified_sample_map_only(spark):
    """stratified_sample must compile to a pure filter — no exchange,
    no Python crossing (the hash decision is one JVM expression)."""
    from feagen_spark.operators.cleaning import stratified_sample

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    plan = _plan(stratified_sample(df, "lang", {"en": 0.5}))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_json_props_extraction_stays_jvm(spark):
    """get_json_object extraction + aggregate: no Python crossing; the
    aggregate is map-side combinable (partial_ before the exchange)."""
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("event_type"),
        F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}")).alias(
            "props"
        ),
    )
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    out = df.groupBy("event_type").agg(F.sum(k).alias("k_sum"))
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan.lower() or "partial" in plan.lower(), plan


def test_rolling_family_single_exchange(spark, tmp_path_factory):
    """The full ev_rolling feature family (row frame, time frame,
    trailing distinct, decayed sum) must share ONE hash exchange on the
    key — the shared frame-list window rides the same partitioning as
    the plain aggregates."""
    from feagen_spark.functions import windowed as W

    p = str(tmp_path_factory.mktemp("roll") / "ev")
    spark.range(200).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").alias("rid"),
        F.timestamp_micros(F.col("id") * 60_000_000).alias("ts"),
        (F.col("id") % 5).cast("double").alias("v"),
        (F.col("id") % 3).cast("string").alias("etype"),
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    order = ("ts", "rid")
    df = W.add_rolling(df, "k", order, F.sum("v"), "roll", last_n=10)
    df = W.add_rolling_time(df, "k", "ts", F.count(F.lit(1)), "troll", last_seconds=600)
    df = W.add_rolling_frame_features(
        df, "k", order, "ts", "v",
        distinct_col="etype", distinct_out="ntypes", decay_out="decay",
        half_life_s=600, last_n=10,
    )
    assert len(_exchanges(_plan(df))) == 1, _plan(df)
