"""spark-submit entry for the end-to-end corpus CURATION pipeline —
the composition a pretraining-data job actually runs, from raw docs to
a deduped, decontaminated, quality-filtered, budgeted, reproducibly
ordered (and optionally packed) training corpus. Every stage is an
existing operator; this wires them from config:

    raw docs
      -> exact dedup            (dedup.exact_dedup)
      -> near-dup canonical     (minhash LSH pairs -> connected
                                 components -> anti-join non-canonical)
      -> decontaminate          (dedup.cross_ngram_overlap vs a bench set)
      -> boilerplate line scrub (dedup.boilerplate_scrub, r6)
      -> quality floor          (textstats.add_quality_score)
      -> Gopher rule filter     (textstats.add_gopher_flags, r6)
      -> DSIR target-likeness   (textstats.dsir_logweight ->
                                 cleaning.gumbel_topk, r6)
      -> per-language quota     (windowed.top_k_per_key by quality)
      -> temperature mixture    (cleaning.temperature_budgets ->
                                 downsample + epoch-upsample both
                                 directions, r6)
      -> token budget mixture   (cleaning.sample_to_token_budget)
      -> token upsampling       (cleaning.repeat_to_token_budget ->
                                 composite "<id>#<epoch>" ids, r6)
      -> reproducible order     (cleaning.deterministic_shuffle, or
                                 cleaning.interleave_strata when
                                 order.interleave names a stratum
                                 column, r6)
      -> pack + materialize     (hash_tokenize -> pack_sequences ->
                                 materialize_packed_sequences)

Run:

    ./tools/make_dist.sh
    spark-submit --master local[4] --py-files dist/feagen_spark.zip \
        jobs/curate_corpus.py --config conf/curate.yml

Prints one JSON line with the per-stage funnel (rows surviving each
enabled stage) and the output locations. Stages are all optional —
omit a key to skip it. Each retained stage output is
localCheckpoint-pinned before counting so the funnel report never
recomputes upstream stages.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from run_features import load_config  # noqa: E402 (same config dialect)
from run_features import written as written_rows  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    args = ap.parse_args()
    cfg = load_config(args.config)

    from pyspark.sql import Observation, SparkSession, functions as F

    from feagen_spark.operators import dedup as D
    from feagen_spark.operators.cleaning import (
        deterministic_shuffle,
        gumbel_topk,
        interleave_strata,
        materialize_packed_sequences,
        pack_sequences,
        repeat_to_token_budget,
        sample_to_token_budget,
        temperature_budgets,
    )
    from feagen_spark.operators.textstats import (
        add_gopher_flags,
        add_lang_id,
        add_quality_score,
        add_token_count,
        dsir_logweight,
        hash_tokenize,
    )
    from feagen_spark.functions.windowed import top_k_per_key

    spark = SparkSession.builder.appName(
        cfg.get("app_name", "feagen_curate")
    ).getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    id_col = cfg.get("id_col", "doc_id")
    text_col = cfg.get("text_col", "text")
    docs = spark.read.parquet(cfg["input_path"])
    if cfg.get("repartition_n"):
        docs = docs.repartition(int(cfg["repartition_n"]))

    funnel: dict[str, int] = {}

    def checkpointed(df, stage: str):
        # the row count rides the pinning job as an Observation: one
        # Spark job per funnel stage, not a pin plus a count
        obs = Observation()
        pinned = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        funnel[stage] = int(obs.get["n"])
        return pinned

    def written(df, path: str, stage: str, mode: str = "overwrite") -> None:
        funnel[stage] = written_rows(df, path, mode)

    docs = checkpointed(docs, "input")

    if cfg.get("exact_dedup"):
        docs = checkpointed(
            D.exact_dedup(docs, id_col=id_col, text_col=text_col),
            "exact_dedup",
        )

    nd = cfg.get("near_dedup")
    if nd:
        pairs = D.minhash_lsh_pairs(
            docs,
            k=int(nd.get("k", 32)),
            bands=int(nd.get("bands", 8)),
            n=int(nd.get("n", 3)),
            threshold=float(nd.get("threshold", 0.8)),
            max_bucket=(
                int(nd["max_bucket"]) if nd.get("max_bucket") else None
            ),
            id_col=id_col,
            text_col=text_col,
        ).select("id_a", "id_b")
        clusters = D.connected_components(pairs)
        drop = clusters.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        docs = checkpointed(
            docs.join(F.broadcast(drop), on=id_col, how="left_anti"),
            "near_dedup",
        )

    dc = cfg.get("decontaminate")
    if dc:
        bench = spark.read.parquet(dc["bench_path"])
        hits = D.cross_ngram_overlap(
            docs.select(id_col, text_col),
            bench,
            n=int(dc.get("n", 3)),
            min_shared=int(dc.get("min_shared", 5)),
            id_col=id_col,
            text_col=text_col,
        ).select(F.col("corpus_id").alias(id_col)).distinct()
        docs = checkpointed(
            docs.join(F.broadcast(hits), on=id_col, how="left_anti"),
            "decontaminate",
        )

    ls = cfg.get("line_scrub")
    if ls:
        # C4 boilerplate-line removal (keys: min_count, min_chars):
        # REPLACES text (cookie banners, nav menus dropped everywhere
        # they repeat, hot lines elected by an exact digest groupBy);
        # downstream quality/token stages see the scrubbed text. Doc
        # count is unchanged — compose with quality/gopher floors to
        # drop docs the scrub hollowed out.
        docs = checkpointed(
            D.boilerplate_scrub(
                docs,
                min_count=int(ls.get("min_count", 3)),
                id_col=id_col,
                text_col=text_col,
                min_chars=int(ls.get("min_chars", 1)),
            ),
            "line_scrub",
        )

    q = cfg.get("quality")
    if q:
        docs = add_quality_score(docs, text_col=text_col)
        docs = checkpointed(
            docs.where(
                F.col("quality_score") >= float(q.get("min_score", 0.0))
            ),
            "quality",
        )

    gf = cfg.get("gopher")
    if gf:
        # Gopher rule-based filter: any operator threshold can be set
        # in config (min_words, max_symbol_ratio, ...); unknown keys
        # fail loudly as TypeErrors. Rule-input columns are dropped
        # after the verdict unless keep_signals is set.
        flagged = add_gopher_flags(
            docs,
            text_col=text_col,
            **{k: v for k, v in gf.items() if k != "keep_signals"},
        )
        kept = flagged.where(F.col("gopher_keep") == 1)
        if not gf.get("keep_signals"):
            kept = kept.drop(
                "gq_n_words", "gq_mean_word_len", "gq_symbol_ratio",
                "gq_bullet_ratio", "gq_ellipsis_line_ratio",
                "gq_alpha_word_ratio", "gq_stop_hits", "gopher_keep",
            )
        docs = checkpointed(kept, "gopher")

    ds = cfg.get("dsir")
    if ds:
        # DSIR (Xie et al. 2023): keep the docs that look like a small
        # high-quality TARGET corpus — importance log-weights from
        # hashed-ngram bucket distributions, then a deterministic
        # Gumbel draw ∝ exp(weight). "k" draws a fixed count
        # (TakeOrderedAndProject); "threshold" is the corpus-scale
        # map-only cutoff — exactly one must be set.
        target = spark.read.parquet(ds["target_path"]).select(
            id_col, text_col
        )
        w = dsir_logweight(
            docs,
            target,
            id_col=id_col,
            text_col=text_col,
            n_buckets=int(ds.get("n_buckets", 1 << 13)),
            alpha=float(ds.get("alpha", 0.5)),
            seed=int(ds.get("seed", 42)),
        )
        scored = docs.join(
            w.select(id_col, "dsir_logweight"), on=id_col, how="left"
        )
        picked = gumbel_topk(
            scored,
            "dsir_logweight",
            k=(int(ds["k"]) if ds.get("k") else None),
            threshold=(
                float(ds["threshold"]) if ds.get("threshold") is not None
                else None
            ),
            id_col=id_col,
            seed=int(ds.get("seed", 42)),
        )
        # dsir_logweight stays as an audit column (like keep_fraction)
        docs = checkpointed(picked.drop("gumbel_key"), "dsir")

    lq = cfg.get("lang_quota")
    if lq:
        if "lang_id" not in docs.columns:
            docs = add_lang_id(docs, text_col=text_col)
        if "quality_score" not in docs.columns:
            docs = add_quality_score(docs, text_col=text_col)
        docs = checkpointed(
            top_k_per_key(
                docs,
                key="lang_id",
                order=[F.col("quality_score").desc(), F.col(id_col)],
                k=int(lq.get("k", 1000)),
            ),
            "lang_quota",
        )

    mx = cfg.get("mixture")
    if mx:
        # temperature-controlled mixture rebalancing (mT5/PaLM recipe):
        # derive per-stratum token budgets w ∝ p^(1/T), then enforce
        # them BOTH directions — over-budget strata downsample
        # (sample_to_token_budget), under-budget strata run extra
        # epochs (repeat_to_token_budget) — and fold the epoch index
        # into the composite "<id>#<epoch>" id for order/pack.
        if "token_count" not in docs.columns:
            docs = add_token_count(docs, text_col=text_col)
        strata = mx.get("strata_col", "lang_id")
        if strata == "lang_id" and "lang_id" not in docs.columns:
            docs = add_lang_id(docs, text_col=text_col)
        tb_df = temperature_budgets(
            docs,
            strata_col=strata,
            token_col="token_count",
            total_budget=int(mx["total"]),
            temperature=float(mx.get("temperature", 1.0)),
        )
        # one row per stratum — bounded by construction
        budgets = {r[strata]: int(r["budget"]) for r in tb_df.collect()}
        down = sample_to_token_budget(
            docs,
            strata_col=strata,
            token_col="token_count",
            budgets=budgets,
            id_col=id_col,
        )
        # the upsample draw must be INDEPENDENT of the downsample draw
        # (code-review r6): both default to the seed-ignoring md5
        # bridge, and survivors of "keep h < f" are exactly the ids the
        # extra-copy rule "h < frac" would pick — a downsampled stratum
        # would overshoot its budget by ~frac/f. xxhash64 with its own
        # seed decorrelates the two rules.
        up = repeat_to_token_budget(
            down,
            strata_col=strata,
            token_col="token_count",
            budgets=budgets,
            id_col=id_col,
            method="xxhash64",
            seed=int(mx.get("upsample_seed", 1)),
            max_epochs=int(mx.get("max_epochs", 100)),
        )
        docs = checkpointed(
            up.withColumn(
                id_col, F.concat_ws("#", F.col(id_col), F.col("epoch"))
            ).drop("epoch"),
            "mixture",
        )

    tb = cfg.get("token_budget")
    if tb:
        if "token_count" not in docs.columns:
            docs = add_token_count(docs, text_col=text_col)
        if "lang_id" not in docs.columns:
            docs = add_lang_id(docs, text_col=text_col)
        docs = checkpointed(
            sample_to_token_budget(
                docs,
                strata_col=tb.get("strata_col", "lang_id"),
                token_col="token_count",
                budgets={k: int(v) for k, v in tb["budgets"].items()},
                id_col=id_col,
            ),
            "token_budget",
        )

    tu = cfg.get("token_upsample")
    if tu:
        # the other half of mixture weights: duplicate under-budget
        # strata for multiple epochs (repeat_to_token_budget). The
        # copies are then folded into a COMPOSITE string id
        # ("<id>#<epoch>") so every downstream stage that keys on
        # id_col (order, pack) treats each epoch copy as its own doc —
        # both handle string ids via the md5 bridge.
        if "token_count" not in docs.columns:
            docs = add_token_count(docs, text_col=text_col)
        if tu.get("strata_col", "lang_id") == "lang_id" and "lang_id" not in docs.columns:
            docs = add_lang_id(docs, text_col=text_col)
        up = repeat_to_token_budget(
            docs,
            strata_col=tu.get("strata_col", "lang_id"),
            token_col="token_count",
            budgets={k: int(v) for k, v in tu["budgets"].items()},
            id_col=id_col,
            max_epochs=int(tu.get("max_epochs", 100)),
        )
        docs = checkpointed(
            up.withColumn(
                id_col, F.concat_ws("#", F.col(id_col), F.col("epoch"))
            ).drop("epoch"),
            "token_upsample",
        )

    od = cfg.get("order")
    if od:
        if od.get("interleave"):
            # exact proportional stratified interleave: every stratum
            # (source/lang/epoch) spreads evenly through the training
            # order instead of trusting the hash shuffle's statistical
            # spread — the right default when mixture ratios matter
            shuffled = interleave_strata(
                docs,
                strata_col=od["interleave"],
                id_col=id_col,
                seed=int(od.get("seed", 0)),
                n_partitions=(
                    int(od["n_partitions"])
                    if od.get("n_partitions")
                    else None
                ),
                rank_col="interleave_rank" if od.get("rank") else None,
                # curriculum mode: order_by names a score column — each
                # stratum walks easy->hard while staying interleaved
                order_col=od.get("order_by"),
            ).drop("interleave_key", "interleave_pos")
        else:
            shuffled = deterministic_shuffle(
                docs,
                id_col=id_col,
                seed=int(od.get("seed", 0)),
                n_partitions=(
                    int(od["n_partitions"])
                    if od.get("n_partitions")
                    else None
                ),
                rank_col="shuffle_rank" if od.get("rank") else None,
            ).drop("shuffle_key")
        written(shuffled, od["output_path"], "order")
        docs = spark.read.parquet(od["output_path"])

    pk = cfg.get("pack")
    if pk:
        toks = hash_tokenize(
            docs.select(id_col, text_col),
            text_col=text_col,
            vocab_size=int(pk.get("vocab_size", 65536)),
        )
        toks = toks.withColumn("n_tok", F.size("token_ids"))
        assign = pack_sequences(
            toks,
            id_col=id_col,
            len_col="n_tok",
            max_len=int(pk.get("max_len", 2048)),
            n_buckets=int(pk.get("n_buckets", 8)),
        )
        packed = materialize_packed_sequences(
            assign,
            toks.select(id_col, F.col("token_ids").alias("payload")),
            id_col=id_col,
            len_col="n_tok",
            payload_col="payload",
            max_len=int(pk.get("max_len", 2048)),
        )
        written(packed, pk["output_path"], "packed_sequences")

    out_path = cfg["output_path"]
    written(docs, out_path, "output", cfg.get("output_mode", "overwrite"))

    print(json.dumps({"status": "ok", "funnel": funnel, "output": out_path}))


if __name__ == "__main__":
    main()
