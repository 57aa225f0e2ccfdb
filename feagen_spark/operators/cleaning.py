"""Corpus cleaning / preparation operators (task brief: large-scale
training-data pipeline). The scrub/split/chunk/sample core is JVM-side
— map-only or explode-only plans that stay in whole-stage codegen; the
r5 sampling/packing additions (``deterministic_negatives``,
``pack_sequences``) add one bounded equi-join/window or one
applyInPandas group pass, never an all-pairs or global-sort shape:

- ``scrub_pii``: regex redaction of emails / phone numbers / IPv4s.
  Fixed public patterns, deliberately conservative — a production
  deployment swaps in its own ruleset; the operator shape (chained
  regexp_replace, one projection) is the point.
- ``hash_split``: deterministic train/val/test assignment by content
  hash — stable across runs, partitionings and cluster sizes (never
  rand(): a retried task would re-roll rows into different folds).
- ``chunk_text``: split documents into fixed-size character chunks with
  overlap (context-window prep). 1→N via sequence+explode, no Python;
  emits (doc_id, chunk_idx, chunk) with deterministic indices.

Every content-hash operator takes ``method=``: 'md5' is the
engine-portable oracle bridge of ``functions/hashing.py``, 'xxhash64'
the faster JVM-only path; the samplers' keep/fold rule is
``hashing.hash_bucket`` under both. On a NULL id, md5 gives a NULL
bucket (no fold, row dropped) and xxhash64 the bucket of the seed
alone. The ordering operators reject a NULL key (``_reject_nulls``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash_bucket, md5_hex

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# \s spelled out as RE2's class [ \t\n\f\r] (Java \s adds \v; the
# DuckDB oracle is RE2) so Spark and oracle redact identically (ADVICE r3)
PHONE_RE = "\\+?\\d[\\d \t\n\f\r().-]{7,}\\d"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
    ip_token: str = "<IP>",
) -> DataFrame:
    """Redact emails, phone-number-like digit runs and IPv4 addresses.
    Order matters: emails first (their local parts can contain digits),
    then IPs, then the greedier phone pattern."""
    out = out_col or text_col
    t = F.col(text_col)
    t = F.regexp_replace(t, EMAIL_RE, email_token)
    t = F.regexp_replace(t, IPV4_RE, ip_token)
    t = F.regexp_replace(t, PHONE_RE, phone_token)
    return df.withColumn(out, t)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    seed: int = 42,
    out_col: str = "split",
    method: str = "xxhash64",
) -> DataFrame:
    """Deterministic fold assignment: a content hash of the id, mod 100,
    binned by cumulative ``weights`` (percent). Content-hash based →
    the same row lands in the same fold on every run, every layout,
    every cluster size; adding rows never reshuffles existing ones
    (the property rand()/mono_id splits lack).

    method='xxhash64' (default) is the fast JVM path; method='md5' is
    engine-portable — any system with md5 (DuckDB, Postgres, Python)
    reproduces the identical assignment, at slightly higher hash cost.
    md5 ignores ``seed`` (portability means a fixed function) and
    leaves a NULL id without a fold; xxhash64 gives it the seed's fold."""
    weights = weights or {"train": 90, "val": 5, "test": 5}
    if sum(weights.values()) != 100:
        raise ValueError(f"weights must sum to 100: {weights}")
    bucket = hash_bucket([F.col(id_col)], method, seed, 100)
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def chunk_text(
    df: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size character chunks with overlap: chunk i covers
    [i*stride, i*stride + chunk_chars), stride = chunk_chars - overlap.
    Pure JVM 1→N (sequence → transform → posexplode); empty docs yield
    no chunks. Deterministic (doc_id, chunk_idx) identity for downstream
    dedup/embedding stages."""
    if not 0 <= overlap < chunk_chars:
        raise ValueError("need 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    t = F.col(text_col)
    # NULL text must be checked explicitly: length(NULL) <= 0 is NULL
    # (not true), and greatest(NULL, 1) = 1 would emit a phantom
    # (doc_id, 0, NULL) chunk row
    n_chunks = F.when(t.isNull() | (F.length(t) <= 0), F.lit(0)).otherwise(
        F.greatest(  # any non-empty doc yields >= 1 chunk
            F.ceil((F.length(t) - F.lit(overlap)) / F.lit(stride)).cast("int"),
            F.lit(1),
        )
    )
    starts = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.transform(
        starts, lambda i: t.substr(i * stride + 1, F.lit(chunk_chars))
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(
            F.when(n_chunks > 0, chunks).otherwise(F.array())
        ).alias("chunk_idx", "chunk"),
    )
    return out.select(
        id_col, F.col("chunk_idx").cast("int").alias("chunk_idx"), "chunk"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    hash(id) mod 10^6 < fraction(stratum) * 10^6 — the curation step
    that downsamples over-represented strata (language, domain, source)
    to target mixture weights.

    Unlike ``df.sampleBy`` (rand()-based), the decision is a pure
    function of the row id: stable across runs, partitionings, cluster
    sizes and retries; adding rows never resamples existing ones — the
    same property ``hash_split`` guarantees for folds. Strata absent
    from ``fractions`` are dropped (fraction 0). Map-only at any scale
    (one filter, no shuffle).

    The hash is md5, engine-portable (first 8 hex chars of md5 →
    uint32 — the repo's standard oracle bridge); a NULL id has no
    bucket and is dropped."""
    bad = {k: v for k, v in fractions.items() if not 0.0 <= v <= 1.0}
    if bad:
        raise ValueError(f"fractions must be in [0, 1]: {bad}")
    h = hash_bucket([F.col(id_col)], "md5", 0, 1_000_000)  # md5 ignores the seed
    thresholds = [
        (k, int(round(v * 1_000_000))) for k, v in sorted(fractions.items())
    ]
    thr = F.lit(0)
    for name, t in thresholds:
        thr = F.when(F.col(strata_col) == name, F.lit(t)).otherwise(thr)
    return df.where(h < thr)


def _stratum_budgets(
    df: DataFrame, strata_col: str, token_col: str, budgets: dict[str, int]
) -> tuple[DataFrame, Column]:
    """Shared head of the token-budget samplers: per-stratum token
    totals (``__total``, one row per stratum) and the budget lookup
    over them, a literal when-chain that is NULL for a stratum absent
    from ``budgets``."""
    if any(b < 0 for b in budgets.values()):
        raise ValueError(f"budgets must be >= 0: {budgets}")
    totals = df.groupBy(strata_col).agg(
        F.sum(F.col(token_col).cast("double")).alias("__total")
    )
    bud = F.lit(None).cast("double")
    for name, v in sorted(budgets.items()):
        bud = F.when(F.col(strata_col) == F.lit(name), F.lit(float(v))).otherwise(
            bud
        )
    return totals, bud


def sample_to_token_budget(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Downsample each stratum to a TOKEN budget (the curation step
    between the mixture report and training: "200B tokens of web, 50B
    of code, all of wiki"): per stratum s, keep a deterministic
    hash-fraction of docs so expected kept tokens ≈ ``budgets[s]``;
    strata whose total already fits keep everything; strata absent
    from ``budgets`` drop (budget 0), like ``stratified_sample``.

    Fully distributed — no driver-side collect: one map-side-combinable
    groupBy computes per-stratum token totals (one row per stratum),
    the budget lookup is a literal when-chain over that sketch-sized
    frame (works for any equatable strata type, same as
    ``stratified_sample`` — code-review r6), and the fraction join is
    a BROADCAST of it onto the corpus, followed by
    the same md5 content-hash keep rule as ``stratified_sample``:
    bit-stable across runs, layouts,
    cluster sizes and retries; adding rows to one stratum never resamples another.

    The budget is met in expectation over the hash draw (docs are kept
    whole); per-stratum realized tokens concentrate tightly for any
    stratum with many docs. Output: the kept rows plus a
    ``keep_fraction`` audit column. The UPSAMPLING half of the mixture
    step (duplicating under-budget strata for multiple epochs) is
    ``repeat_to_token_budget``."""
    totals, bud = _stratum_budgets(df, strata_col, token_col, budgets)
    frac = (
        totals.withColumn("__budget", bud)
        .where(F.col("__budget").isNotNull())  # absent stratum -> drop
        .select(
            strata_col,
            # explicit case split: a zero budget drops the stratum, a
            # stratum already within budget keeps everything (incl. the
            # all-zero-token corner — no division by zero reachable)
            F.when(F.col("__budget") <= 0, F.lit(0.0))
            .when(F.col("__total") <= F.col("__budget"), F.lit(1.0))
            .otherwise(F.col("__budget") / F.col("__total"))
            .alias("keep_fraction"),
        )
    )
    h = hash_bucket([F.col(id_col)], "md5", 0, 1_000_000)  # md5 ignores the seed
    return (
        df.join(F.broadcast(frac), on=strata_col)
        .where(h < F.round(F.col("keep_fraction") * 1_000_000))
        .withColumn("keep_fraction", F.round("keep_fraction", 6))
    )


def repeat_to_token_budget(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    method: str = "md5",
    seed: int = 42,
    max_epochs: int = 100,
    epoch_col: str = "epoch",
) -> DataFrame:
    """UPSAMPLE each stratum to a token budget — the other half of the
    mixture-weights step (``sample_to_token_budget`` downsamples
    over-represented strata; this duplicates under-represented
    high-quality ones, the standard pretraining practice of running
    small curated sources for multiple epochs): per stratum with
    ``budgets[s] > total_s``, every doc is emitted ``floor(r)`` times
    (r = budget/total) plus one extra copy for a deterministic
    hash-fraction of docs covering the remainder — expected kept
    tokens ≈ budget, docs always duplicated whole. Strata at or over
    budget pass through once (epoch 0 only; use the downsampler to
    trim them); strata absent from ``budgets`` also pass through once
    (upsampling is opt-in per stratum, unlike the downsampler's
    drop-if-absent).

    Output rows carry ``epoch_col`` (0-based copy index): downstream
    identity is the COMPOSITE (id, epoch) — e.g. feed
    ``concat(id, '#', epoch)`` to ``pack_sequences``/
    ``deterministic_shuffle`` so copies land in different packed
    sequences and shuffle positions. The extra-copy decision is the
    module's standard content-hash rule (``hashing.hash_bucket``): bit-stable
    across runs, layouts, cluster sizes and retries; adding docs to a
    stratum only re-scales that stratum. ``max_epochs`` bounds the
    blow-up loudly (a budget 1000x a tiny stratum is almost always a
    config typo, and each epoch is a full copy of the stratum on
    disk).

    Composition hazard (code-review r6): when chaining AFTER
    ``sample_to_token_budget``, give this operator an INDEPENDENT draw
    (e.g. ``method='xxhash64'`` with its own seed) — both default to
    the seed-ignoring md5 bridge, and the downsampler's survivors
    (``h < f``) are exactly the ids the extra-copy rule (``h < frac``)
    picks first, inflating the extra-copy rate from ``frac`` to
    ``frac/f``.

    Scale shape (mirrors the downsampler): one map-combinable groupBy
    for per-stratum totals (sketch-sized), a BROADCAST join of the
    repeat factors, then a pure-JVM ``explode(sequence(0, n_copies-1))``
    — no Python, no driver collect, no skew added (copies of a doc
    stay in its partition until the next shuffle)."""
    totals, bud = _stratum_budgets(df, strata_col, token_col, budgets)
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    factors = totals.select(
        strata_col,
        # repeat factor r >= 1.0: pass-through for absent budgets,
        # at-or-over-budget strata, and empty strata (total 0)
        F.when(
            bud.isNull() | (F.col("__total") <= 0) | (bud <= F.col("__total")),
            F.lit(1.0),
        )
        .otherwise(bud / F.col("__total"))
        .alias("__r"),
    )
    factors = factors.withColumn(
        "__r",
        F.when(
            F.col("__r") > F.lit(float(max_epochs)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "repeat_to_token_budget: repeat factor exceeds "
                        f"max_epochs={max_epochs} for stratum "
                    ),
                    F.col(strata_col).cast("string"),
                )
            ).cast("double"),
        ).otherwise(F.col("__r")),
    )
    h = hash_bucket([F.col(id_col)], method, seed, 1_000_000)
    base = F.floor("__r").cast("int")
    frac = F.col("__r") - F.floor("__r")
    n_copies = base + (h < F.round(frac * 1_000_000)).cast("int")
    return (
        df.join(F.broadcast(factors), on=strata_col)
        .withColumn("__n", n_copies)  # always >= 1: floor(r) >= 1
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias(
                epoch_col
            ),
        )
        .withColumn(epoch_col, F.col(epoch_col).cast("int"))
    )


def deterministic_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    anchor_id: str,
    corpus_id: str,
    k: int = 4,
    n_buckets: int = 1024,
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """``k`` pseudo-random NEGATIVE examples per anchor (contrastive /
    retrieval training pairs), deterministic across runs, layouts and
    cluster sizes — the sampling twin of ``hash_split``: reruns and
    retries emit bit-identical pairs, and adding corpus rows never
    reshuffles existing assignments outside the touched buckets.

    Scalable shape (never all-pairs, never a global index): corpus rows
    hash into ``n_buckets`` buckets; draw j of anchor a probes bucket
    hash(a, j) via an EQUI-join and keeps the bucket's first candidate
    in hash order (ties impossible: the order ends on the unique id).
    Cost is |anchors|·k joined against |corpus|/n_buckets-sized buckets
    — one shuffle each side plus one window. Self-pairs are excluded
    before ranking (an anchor landing in its own probed bucket yields
    the NEXT candidate, not a dropped draw); draws only come back empty
    when the probed bucket holds no other row, so size ``n_buckets``
    well below |corpus|. Two draws of one anchor that collide on a
    bucket can pick the same candidate — such duplicates are COLLAPSED
    (lowest draw wins), so an anchor gets UP TO ``k`` distinct
    negatives, never a silently duplicated training pair (code-review
    r5). Output: (anchor_id, draw, neg_id), distinct per anchor.
    Id contract (ADVICE r5): the self-pair exclusion compares anchor
    and corpus ids DIRECTLY, so the two columns must share one id space
    (the in-corpus case every caller has); for entity spaces that
    merely overlap on an id domain, a valid negative whose id
    coincidentally equals the anchor's would be dropped. NULL ids are
    rejected up front on both sides (a NULL-id row would otherwise
    vanish silently inside the null-rejecting comparison).

    ``method='md5'`` swaps every hash (bucket assignment both sides and
    the per-draw ranking) for the repo's engine-portable md5 bridge
    (``hashing.hash_bucket`` for buckets; the raw ``md5_hex`` string
    order of (anchor, draw, candidate) for ranking) — bit-identical in
    any engine with md5, which is what the DuckDB value oracle runs
    on. md5 ignores ``seed`` (portability means a fixed function): a
    new seed returns the very same negatives. 'xxhash64' (default) is
    the faster JVM-only path, and each seed is a fresh draw.
    """
    if k < 1 or n_buckets < 1:
        raise ValueError("k and n_buckets must be >= 1")
    if method not in ("xxhash64", "md5"):
        raise ValueError(f"unknown method {method!r}")
    cand = corpus.where(F.col(corpus_id).isNotNull()).select(
        F.col(corpus_id).alias("neg_id"),
        hash_bucket([F.col(corpus_id)], method, seed, n_buckets).alias(
            "__bkt"
        ),
    )
    probes = (
        anchors.where(F.col(anchor_id).isNotNull())
        .select(F.col(anchor_id).alias("__anchor"))
        .select(
            "__anchor",
            F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("draw"),
        )
        .withColumn(
            "__bkt",
            hash_bucket(
                [F.col("__anchor"), F.col("draw")], method, seed + 1, n_buckets
            ),
        )
    )
    joined = probes.join(cand, on="__bkt").where(
        F.col("neg_id") != F.col("__anchor")
    )
    if method == "md5":
        rank_h = md5_hex([F.col("__anchor"), F.col("draw"), F.col("neg_id")])
    else:
        rank_h = F.xxhash64(F.lit(seed + 2), "__anchor", "draw", "neg_id")
    # top-1 per (anchor, draw) via min(struct) — NOT a row_number window
    # (r7 optimization, guide §2.3): the probe join emits
    # |anchors|·k·|corpus|/n_buckets rows, and a window would shuffle +
    # sort ALL of them; min(struct(rank, id)) is map-side combinable, so
    # only one partial row per (anchor, draw) per task reaches the
    # exchange. struct comparison is field-by-field (rank_h, then
    # neg_id) — identical pick to row_number over orderBy(rank_h,
    # neg_id); rank_h is never NULL (md5/xxhash64 of non-null input).
    # Measured at sf1.0 (50k corpus, 5k anchors, 31M joined rows, with
    # the caller parallelizing the candidate scan): 354s → 14s.
    picked = (
        joined.groupBy("__anchor", "draw")
        .agg(
            F.min(F.struct(rank_h.alias("__h"), F.col("neg_id"))).alias(
                "__top"
            )
        )
        .select("__anchor", "draw", F.col("__top.neg_id").alias("neg_id"))
    )
    # duplicate collapse (lowest draw wins) — same min-agg shape; the
    # input is already ≤ |anchors|·k rows so this is cosmetic, but it
    # keeps the whole operator window-free.
    return (
        picked.groupBy("__anchor", "neg_id")
        .agg(F.min("draw").alias("draw"))
        .select(
            F.col("__anchor").alias(anchor_id),
            F.col("draw").cast("int").alias("draw"),
            "neg_id",
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    max_len: int,
    n_buckets: int = 256,
    seed: int = 42,
    rows_hint: int | None = None,
    max_docs_per_bucket: int = 1_000_000,
) -> DataFrame:
    """Pack variable-length documents into fixed-budget training
    sequences (context-window packing, the pretraining prep step that
    turns a ragged corpus into dense max_len-token rows).

    Scalable shape: docs hash into ``n_buckets`` independent packing
    groups (parallelism = n_buckets, no global sort, no sequential
    pass over the corpus); within each group, best-fit-decreasing
    over (len desc, id asc) — O(n log n) per bucket via bisect into a
    capacity-sorted open-bin list (VERDICT r5: the earlier first-fit
    linear scan was O(n·open-bins)); BFD carries the same worst-case
    guarantee as FFD (≤ 11/9·OPT + 2/3 bins) and is near-perfect on
    natural length mixes. Deterministic across runs/layouts/cluster
    sizes because the grouping, the within-group order AND the
    equal-capacity tie-break (lowest bin index) are all content-
    derived, never arrival order. Cross-bucket imbalance only affects
    the LAST partially-filled sequence of each bucket (≤ n_buckets
    underfull sequences total).

    SIZING CONTRACT (VERDICT r5): ``applyInPandas`` materializes one
    whole bucket per task in pandas memory, so ``n_buckets`` must be
    picked from corpus size, not left at the default, once the corpus
    outgrows ``n_buckets · max_docs_per_bucket`` rows. Pass the corpus
    row count (or a cheap upper bound) as ``rows_hint`` and the
    operator raises ``n_buckets`` automatically so no bucket expects
    more than ``max_docs_per_bucket`` docs (~tens of MB of (id, len)
    pairs per task at the 10⁶ default — executor-safe).

    Docs with ``len > max_len`` are emitted as singleton sequences
    flagged ``oversize=1`` — chunk upstream (``chunk_text``) if that
    is not intended. Output: one row per doc with its assigned
    (bucket, seq, offset); ``seq_uid`` = bucket·2³² + seq is the
    globally unique sequence id downstream writers group by (see
    ``materialize_packed_sequences`` for the packed artifact itself)."""
    import math as _math

    import pandas as pd

    if max_len < 1 or n_buckets < 1:
        raise ValueError("max_len and n_buckets must be >= 1")
    if rows_hint is not None:
        n_buckets = max(
            n_buckets, _math.ceil(rows_hint / max_docs_per_bucket)
        )
    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_t}, {len_col} long, bucket int, seq long, "
        f"offset long, oversize int"
    )

    bucketed = df.select(id_col, len_col).withColumn(
        "__bkt",
        F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(n_buckets)).cast(
            "int"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        from bisect import bisect_left, insort

        pdf = pdf.sort_values(
            [len_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        # positional access, not itertuples+getattr: pandas mangles
        # column names that are not valid identifiers into positional
        # tuple fields, which would crash getattr deep in the worker
        # with an opaque error (ADVICE r5)
        # explicit NULL contract BEFORE any numeric use: a nullable long
        # arrives as float64+NaN, so int(lens.min()) would die with
        # 'cannot convert float NaN to integer' deep in the worker
        # (code-review r6) — the same opaque-error class the positional
        # access below avoids
        if pdf[id_col].isna().any() or pdf[len_col].isna().any():
            raise ValueError(
                f"pack_sequences: NULL in {id_col!r} or {len_col!r} — "
                "ids and lengths must be non-null"
            )
        ids = pdf[id_col].to_numpy()
        lens = pdf[len_col].to_numpy()
        if len(lens) and int(lens.min()) < 0:
            raise ValueError(
                f"pack_sequences: negative length in column {len_col!r}"
            )
        bkt = int(pdf["__bkt"].iloc[0])
        # open bins sorted by (residual capacity, bin index): bisect
        # finds the TIGHTEST bin that still fits (best fit); equal
        # capacities break ties on the lower bin index — deterministic
        open_bins: list[tuple[int, int]] = []
        n_bins = 0
        rows = []
        for pos in range(len(ids)):
            ln = int(lens[pos])
            doc = ids[pos]
            if ln > max_len:
                rows.append((doc, ln, bkt, n_bins, 0, 1))  # singleton, full
                n_bins += 1
                continue
            i = bisect_left(open_bins, (ln, -1))
            if i < len(open_bins):
                cap, b = open_bins.pop(i)
                rows.append((doc, ln, bkt, b, max_len - cap, 0))
                if cap > ln:  # full bins leave the open list for good
                    insort(open_bins, (cap - ln, b))
            else:
                rows.append((doc, ln, bkt, n_bins, 0, 0))
                if ln < max_len:
                    insort(open_bins, (max_len - ln, n_bins))
                n_bins += 1
        return pd.DataFrame(
            rows,
            columns=[id_col, len_col, "bucket", "seq", "offset", "oversize"],
        )

    out = bucketed.groupBy("__bkt").applyInPandas(pack, schema=out_schema)
    return out.withColumn(
        "seq_uid", F.col("bucket").cast("long") * F.lit(2**32) + F.col("seq")
    )


def materialize_packed_sequences(
    assignments: DataFrame,
    payload: DataFrame,
    id_col: str,
    len_col: str,
    payload_col: str,
    max_len: int | None = None,
) -> DataFrame:
    """Turn ``pack_sequences`` ASSIGNMENTS into the packed rows a
    pretraining job actually consumes (VERDICT r5 #3): join each doc's
    payload back by id, group by ``seq_uid`` and concatenate payloads
    in offset order. Pure JVM — one equi-join + one groupBy with
    ``sort_array(collect_list(struct(...)))`` flattened by a
    higher-order function; no Python in the path, and per-group state
    is bounded by ``max_len`` (a sequence never exceeds its token
    budget except declared oversize singletons), so the aggregate is
    safe at any corpus size.

    ``payload_col`` may be an ARRAY column (token ids — flattened into
    one array) or a STRING column (raw text — concatenated). Output:
    one row per packed sequence: (seq_uid, bucket, n_docs, used_len,
    oversize, packed). ``used_len`` sums the assignment lengths;
    when ``max_len`` is given, non-oversize sequences are ASSERTED
    ≤ max_len via an ANSI-mode failing expression rather than silently
    truncated."""
    from pyspark.sql.types import ArrayType

    a = assignments.select(
        id_col, "seq_uid", "bucket", "offset", "oversize",
        F.col(len_col).alias("__ln"),
    )
    p = payload.select(id_col, payload_col)
    # LEFT join + loud null check, not an inner join (code-review r6):
    # an assigned doc missing from the payload table would silently
    # vanish from its packed sequence — n_docs/used_len are computed
    # post-join, so they'd stay self-consistent and the max_len assert
    # could never catch the hole. A NULL payload value violates the
    # same contract and fails the same way.
    j = a.join(p, on=id_col, how="left")
    j = j.withColumn(
        payload_col,
        F.when(
            F.col(payload_col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        "materialize_packed_sequences: no payload row "
                        "(or NULL payload) for id="
                    ),
                    F.col(id_col).cast("string"),
                )
            ).cast(p.schema[payload_col].dataType),
        ).otherwise(F.col(payload_col)),
    )
    is_array = isinstance(p.schema[payload_col].dataType, ArrayType)
    # tie-break on id: zero-length docs can share an offset
    item = F.struct(
        F.col("offset").alias("o"),
        F.col(id_col).alias("i"),
        F.col(payload_col).alias("p"),
    )
    g = j.groupBy("seq_uid").agg(
        F.first("bucket").alias("bucket"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ln").alias("used_len"),
        F.max("oversize").alias("oversize"),
        F.sort_array(F.collect_list(item)).alias("__items"),
    )
    parts = F.transform(F.col("__items"), lambda s: s["p"])
    packed = F.flatten(parts) if is_array else F.array_join(parts, "")
    out = g.select(
        "seq_uid", "bucket",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("used_len").cast("long").alias("used_len"),
        F.col("oversize").cast("int").alias("oversize"),
        packed.alias("packed"),
    )
    if max_len is not None:
        # ANSI mode: raise_error aborts the job on a budget violation —
        # a packed row over budget is a bug, not data to ship
        out = out.withColumn(
            "used_len",
            F.when(
                (F.col("oversize") == 0) & (F.col("used_len") > max_len),
                F.raise_error(
                    F.concat(
                        F.lit("packed sequence over budget: seq_uid="),
                        F.col("seq_uid").cast("string"),
                    )
                ).cast("long"),
            ).otherwise(F.col("used_len")),
        )
    return out


def _reject_nulls(df: DataFrame, col: str, message: str, *also: str) -> Column:
    """``col``, or a loud ``raise_error(message)`` where it or any
    column in ``also`` is NULL — the key guard of the operators whose
    order or join-back a NULL key would silently break."""
    is_null = F.col(col).isNull()
    for name in also:
        is_null = is_null | F.col(name).isNull()
    return F.when(
        is_null, F.raise_error(F.lit(message)).cast(df.schema[col].dataType)
    ).otherwise(F.col(col))


def _order_key(guarded: Column, method: str, seed: int) -> Column:
    """Sort key hash(seed, id) of the ordering operators: the md5 hex
    of '{seed}:{id}' (the portable bridge) or xxhash64(seed, id)."""
    if method == "md5":
        return md5_hex([F.lit(seed), guarded])
    if method == "xxhash64":
        return F.xxhash64(F.lit(seed), guarded)
    raise ValueError(f"unknown method {method!r}")


def gumbel_topk(
    df: DataFrame,
    score_col: str,
    k: int | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "xxhash64",
    key_col: str = "gumbel_key",
    threshold: float | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement via the
    Gumbel-top-k trick (public: Vieira 2014; Kool et al. 2019): for a
    log-domain score s(d) (e.g. ``textstats.dsir_logweight``), the k
    rows with the largest ``s(d) + Gumbel(d)`` are an exact sample of
    k distinct rows with probability ∝ exp(s(d)) — importance
    resampling when s is an importance log-weight.

    The Gumbel draw is a pure content hash, not rand(): u(d) =
    (hash(seed, id) mod 10⁶ + ½)/10⁶ ∈ (0,1), g = −ln(−ln u) — so the
    selection is bit-stable across runs, layouts, cluster sizes and
    task retries (the same contract as ``hash_split``), and a new
    ``seed`` is a fresh draw. method='md5' is the engine-portable
    bridge (any engine with md5 reproduces the sample — the DuckDB
    oracle path); 'xxhash64' the faster JVM default.

    Scale shape: ``k`` mode compiles to TakeOrderedAndProject (per-
    partition top-k, ONE reduce — no global sort) and is right for
    k ≲ 10⁶ (the driver merge holds O(k) rows); for corpus-scale
    selections pass ``threshold`` instead — a map-only ``key >=
    threshold`` filter that never shuffles (pick the cutoff from a
    quantile estimate of the key, e.g. ``approxQuantile``/GK sketch).
    Exactly one of ``k``/``threshold`` must be given. Rows with NULL
    score are dropped (no weight ⇒ no draw); NULL ids are rejected
    loudly (they would all collide on one Gumbel draw)."""
    if (k is None) == (threshold is None):
        raise ValueError("pass exactly one of k / threshold")
    if k is not None and k < 1:
        raise ValueError("k must be >= 1")
    cid = F.col(id_col)
    guarded = _reject_nulls(df, id_col, "gumbel_topk: NULL id")
    h = hash_bucket([F.lit(seed), guarded], method, seed, 1_000_000)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(1_000_000.0)
    g = -F.log(-F.log(u))
    out = df.where(F.col(score_col).isNotNull()).withColumn(
        key_col, F.col(score_col) + g
    )
    if threshold is not None:
        return out.where(F.col(key_col) >= F.lit(float(threshold)))
    return out.orderBy(F.col(key_col).desc(), cid).limit(k)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_partitions: int | None = None,
    method: str = "xxhash64",
    rank_col: str | None = "shuffle_rank",
    key_col: str = "shuffle_key",
) -> DataFrame:
    """Reproducible global training order: every run, layout and
    cluster size yields the SAME permutation of the corpus for a given
    ``seed`` (a new seed = a new epoch order). rand()-based shuffles
    fail this — a retried task re-rolls — so the order is a pure
    content hash: ``key = hash(seed, id)``, total order = (key, id).

    Scalable shape (the DataFrame zipWithIndex pattern): ONE
    ``repartitionByRange`` on the key (plus the range-boundary sampling
    pass that implies) + ``sortWithinPartitions`` establishes the
    global order physically; a global contiguous ``rank_col`` is then
    derived WITHOUT a single-task global window and WITHOUT Python in
    the path — ``monotonically_increasing_id()`` over the sorted
    partitions encodes (partition id, in-partition ordinal) in pure
    JVM, partition row-counts aggregate to a partition-count-sized
    side table whose cumulative offsets broadcast-join back on
    partition id. The sorted+numbered frame is pinned with a lazy
    ``localCheckpoint`` so the rank and the count branch read the SAME
    materialization: two independently-executed range exchanges would
    each sample their own range boundaries, and the count branch could
    describe partitions the rank branch never read — corrupt ranks. (A
    lost checkpoint partition fails the job loudly rather than
    silently recomputing into a different numbering.)

    ``rank_col=None`` skips the rank machinery entirely and returns
    the rows physically ordered — the right call when a writer
    consumes the order directly (``df.write`` preserves per-file
    order; file names enumerate the partition order).

    method='md5' is the engine-portable bridge (key = the
    ``hashing.md5_hex`` digest of '{seed}:{id}' — any engine reproduces
    the permutation);
    'xxhash64' is the faster JVM-only default. NULL ids are rejected
    (they would sort together arbitrarily and break the contract).

    NOTE: ranks are a property of the WHOLE corpus — adding or
    removing rows renumbers later ranks by construction (unlike
    ``hash_split``, which is per-row stable). Pin the corpus snapshot
    first, then shuffle."""
    cid = F.col(id_col)
    key = _order_key(
        _reject_nulls(df, id_col, "deterministic_shuffle: NULL id"), method, seed
    )
    keyed = df.withColumn(key_col, key)
    # Explicit partition count (REPARTITION_BY_NUM): ranks are
    # layout-invariant (the checkpoint pins one numbering and rank =
    # global order position), but a pinned N keeps the partition/file
    # layout itself deterministic instead of AQE-advisory — order-only
    # writer output should not change file boundaries run to run
    if not n_partitions:
        n_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    sorted_df = keyed.repartitionByRange(
        n_partitions, F.col(key_col), cid
    ).sortWithinPartitions(key_col, id_col)
    if rank_col is None:
        return sorted_df
    return _contiguous_rank(sorted_df, rank_col, "deterministic_shuffle")


def _numbered(sorted_df: DataFrame) -> DataFrame:
    """Mono id = pid·2³³ + in-partition ordinal, assigned in the sorted
    physical row order — pure JVM, no window, no Python. The lazy
    localCheckpoint pins the numbering so every consumer (the rank
    join-back AND the counts side table) reads ONE materialization:
    two independently-executed range exchanges would each sample their
    own range boundaries and describe different numberings."""
    return (
        sorted_df.withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
        .withColumn(
            "__pid", F.shiftrightunsigned("__mid", 33).cast("int")
        )
        .withColumn(
            "__local_rank", F.col("__mid").bitwiseAND(F.lit(2**33 - 1))
        )
    )


def _guard_33bit(counts: DataFrame, col: str, op_name: str) -> DataFrame:
    """Mono-id ordinals live in 33 bits: a partition at >= 2^33 rows
    would overflow into the pid bits and SILENTLY corrupt ranks — the
    already-computed row count ``col`` detects that for free and fails
    loudly instead (code-review r6; the first overflowing partition
    always surfaces as an exact-2^33 count)."""
    return counts.withColumn(
        col,
        F.when(
            F.col(col) >= F.lit(2**33),
            F.raise_error(
                F.lit(
                    f"{op_name}: a range partition holds >= 2^33 "
                    "rows — raise n_partitions"
                )
            ).cast("long"),
        ).otherwise(F.col(col)),
    )


def _contiguous_rank(
    sorted_df: DataFrame, rank_col: str, op_name: str
) -> DataFrame:
    """Global contiguous 0-based rank over an ALREADY range-partitioned
    + within-partition-sorted frame, without a single-task global
    window: mono-id numbering + a partition-count side table whose
    cumulative offsets broadcast-join back on partition id."""
    ranked = _numbered(sorted_df)
    counts = _guard_33bit(
        ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")),
        "__n",
        op_name,
    )
    # the offsets window runs over n_partitions rows — single tiny task
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off")
    )
    out = ranked.join(F.broadcast(offsets), on="__pid").withColumn(
        rank_col, (F.col("__off") + F.col("__local_rank")).cast("long")
    )
    return out.drop("__pid", "__mid", "__local_rank", "__off")


def interleave_strata(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "xxhash64",
    n_partitions: int | None = None,
    pos_col: str = "interleave_pos",
    rank_col: str | None = "interleave_rank",
    key_col: str = "interleave_key",
    order_col: str | None = None,
) -> DataFrame:
    """EXACT proportional stratified interleave — the training-order
    step after mixture weighting: spread every stratum (source,
    language, epoch) evenly through the corpus order instead of
    trusting a plain hash shuffle's statistical spread. A stratum with
    n_s docs lands at fractional positions 1/(n_s+1) .. n_s/(n_s+1):
    any prefix of the order holds each stratum's proportional share
    ±1 — even a 2-doc stratum splits the corpus in thirds, where a
    hash shuffle can clump both copies anywhere. Within a stratum the
    order is the module's standard content-hash rule (hash(seed, id)):
    rerun/layout/retry bit-stable, a new seed = a new epoch order — or,
    with ``order_col``, the ascending (order_col, id) sort: CURRICULUM
    interleaving (sort each stratum easy→hard by a score and the
    global order walks every stratum's curriculum in proportional
    lockstep). NULL order_col values are rejected loudly (they would
    sort arbitrarily ahead of every score). The hash key still breaks
    cross-stratum pos ties either way.

    Emits ``pos_col`` (the global sort key, double in (0,1)) and, with
    ``rank_col``, the contiguous 0-based global rank; ``rank_col=None``
    returns the rows physically ordered for a direct writer (same
    contract as ``deterministic_shuffle``). Ties across equal-size
    strata (identical r/(n+1) rationals) break by (key, id) —
    deterministic, engine-reproducible. method='md5' is the portable
    bridge; NULL ids and NULL strata are rejected loudly (a NULL
    stratum would silently drop out of the offset join-back).

    Scale shape: NO per-stratum window over the corpus (a dominant
    stratum would pin one task at 100 TB). Within-stratum ranks come
    from ONE repartitionByRange((strata, key)) + the mono-id numbering,
    with a (partition × stratum)-sized side table — range partitioning
    keeps each stratum contiguous, so the table is O(partitions +
    strata) rows — whose per-stratum cumulative offsets and totals
    broadcast-join back. The global rank (if requested) is a second
    range exchange on pos via the shared ``_contiguous_rank``
    machinery. Two range exchanges total, everything else broadcast;
    no Python, no driver collect.

    NOTE: like ``deterministic_shuffle`` ranks, positions are a
    property of the WHOLE corpus — adding rows to a stratum re-spaces
    that stratum. Pin the corpus snapshot first."""
    cid = F.col(id_col)
    null_guard = _reject_nulls(
        df, id_col, f"interleave_strata: NULL {id_col}/{strata_col}", strata_col
    )
    key = _order_key(null_guard, method, seed)
    if not n_partitions:
        n_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    keyed = df.withColumn(key_col, key)
    if order_col is not None:
        keyed = keyed.withColumn(
            order_col,
            _reject_nulls(df, order_col, f"interleave_strata: NULL {order_col}"),
        )
    strata = F.col(strata_col)
    # within-stratum sort: content hash (epoch shuffle) or the
    # curriculum score column — ONE name list derives both forms so
    # the range-partition keys and the sort keys can never diverge
    in_stratum_names = [order_col or key_col, id_col]
    in_stratum = [F.col(c) for c in in_stratum_names]

    # pass 1: within-stratum rank. Range partitioning on (strata, sort
    # keys) keeps each stratum contiguous across partitions; the side
    # table is one row per (partition, stratum) pair it holds.
    numbered = _numbered(
        keyed.repartitionByRange(
            n_partitions, strata, *in_stratum
        ).sortWithinPartitions(strata_col, *in_stratum_names)
    )
    side = _guard_33bit(
        numbered.groupBy("__pid", strata_col).agg(
            F.count(F.lit(1)).alias("__n"),
            # __local_rank counts ALL rows of the physical partition;
            # a stratum's rows inside it are contiguous (the sort puts
            # strata first), so its in-partition rank is the offset
            # from the stratum's FIRST ordinal there
            F.min("__local_rank").alias("__minl"),
        ),
        "__n",
        "interleave_strata",
    )
    # the per-(pid, stratum) guard above cannot catch a >=2^33-row
    # partition SPLIT ACROSS strata (no single group reaches the exact
    # 2^33 count) — guard the per-pid TOTAL too (code-review r6); the
    # where() keeps the guard column alive through optimization
    w_pid = Window.partitionBy("__pid")
    side = (
        _guard_33bit(
            side.withColumn("__ptot", F.sum("__n").over(w_pid)),
            "__ptot",
            "interleave_strata",
        )
        .where(F.col("__ptot") >= 0)
        .drop("__ptot")
    )
    w_off = (
        Window.partitionBy(strata_col)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(strata_col)
    side = side.select(
        "__pid",
        strata_col,
        "__minl",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__soff"),
        F.sum("__n").over(w_tot).alias("__ns"),
    )
    pos = (
        F.col("__soff") + F.col("__local_rank") - F.col("__minl") + 1
    ) / (F.col("__ns") + 1).cast("double")
    out = (
        numbered.join(F.broadcast(side), on=["__pid", strata_col])
        .withColumn(pos_col, pos)
        .drop("__pid", "__mid", "__local_rank", "__soff", "__ns", "__minl")
    )
    # pass 2: global order by (pos, key, id)
    ordered = out.repartitionByRange(
        n_partitions, F.col(pos_col), F.col(key_col), cid
    ).sortWithinPartitions(pos_col, key_col, id_col)
    if rank_col is None:
        return ordered
    return _contiguous_rank(ordered, rank_col, "interleave_strata")


def temperature_budgets(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    total_budget: int,
    temperature: float = 1.0,
    out_col: str = "budget",
) -> DataFrame:
    """Temperature-controlled mixture weights (the mT5/PaLM recipe,
    public): per-stratum token budgets ``b_s = total_budget · w_s``
    with ``w_s ∝ p_s^(1/temperature)``, p_s the stratum's observed
    token share. temperature=1 keeps the natural mixture; higher
    temperatures flatten toward uniform, boosting low-resource strata
    (the mT5 α exponent is 1/temperature — α=0.3 ≡ T≈3.33). Returns
    one row per stratum: the observed totals, the renormalized weight
    and the integer budget — feed the budgets to
    ``sample_to_token_budget`` (over-budget strata downsample) and
    ``repeat_to_token_budget`` (under-budget strata run extra epochs)
    to REBALANCE the corpus to the temperature mixture.

    Scale shape: one map-combinable groupBy to stratum totals, then
    windows over the sketch-sized stratum table — nothing else touches
    the corpus. NULL strata are rejected loudly (they would silently
    vanish from the downstream budget joins); empty strata (0 tokens)
    get weight 0.

    Rounding contract (ADVICE r6): each stratum's budget rounds
    independently, so Σ budgets can drift from ``total_budget`` by up
    to ~n_strata/2 tokens — negligible at token scale (a 100-stratum
    mixture drifts ≤ 50 tokens of a budget in the billions), and the
    samplers treat budgets as per-stratum targets, not a conserved
    total. Largest-remainder reconciliation would break the
    per-stratum-pure oracle arithmetic for no practical gain."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0: {temperature}")
    if total_budget < 0:
        raise ValueError(f"total_budget must be >= 0: {total_budget}")
    guarded = _reject_nulls(
        df, strata_col, f"temperature_budgets: NULL {strata_col}"
    )
    totals = (
        df.select(guarded.alias(strata_col), token_col)
        .groupBy(strata_col)
        .agg(F.sum(F.col(token_col).cast("double")).alias("total_tokens"))
    )
    w_all = Window.partitionBy()
    p = F.col("total_tokens") / F.sum("total_tokens").over(w_all)
    raw = F.when(
        F.col("total_tokens") > 0, F.pow(p, F.lit(1.0 / temperature))
    ).otherwise(F.lit(0.0))
    # all-zero corpora: 0/0 would be NaN and the budget cast would
    # throw an opaque ANSI error — weight 0 everywhere instead
    out = totals.withColumn("__raw", raw).withColumn(
        "weight",
        F.when(
            F.sum("__raw").over(w_all) > 0,
            F.col("__raw") / F.sum("__raw").over(w_all),
        ).otherwise(F.lit(0.0)),
    )
    # budget association mirrors the DuckDB oracle exactly —
    # fl(fl(total*raw)/Σraw), NOT fl(fl(raw/Σraw)*total) — the two
    # trees can differ by 1 ulp and flip the rounded integer at a .5
    # boundary (code-review r6)
    budget = F.when(
        F.sum("__raw").over(w_all) > 0,
        F.round(
            F.lit(float(total_budget))
            * F.col("__raw")
            / F.sum("__raw").over(w_all)
        ),
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn(out_col, budget.cast("long"))
        .withColumn("total_tokens", F.col("total_tokens").cast("long"))
        .drop("__raw")
    )
