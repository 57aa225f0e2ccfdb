"""Text analysis for training-data pipelines (task brief: language-ID,
quality scoring, token counting, document fingerprinting).

All computation is JVM-side ``pyspark.sql.functions`` (stays in
whole-stage codegen; no Python crossing). Every operator is a plain
``DataFrame -> DataFrame`` transform over a table with a ``text``
column (the driver `documents` table or transcript turns).

Each JVM-side operator has an exact ANSI-SQL twin in __spark_entry__.py
so DuckDB can act as a value-level oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash_bucket

# Tiny deterministic stopword lists for the heuristic scorers. These are
# fixed vocabulary, not a linguistic claim — the oracle uses the same sets.
STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
# The Gopher rule set's required-word list (Rae et al. 2021, §A1.1):
# a page must contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
LANG_MARKERS = {
    "en": ("the", "and", "is"),
    "de": ("der", "und", "ist"),
    "fr": ("le", "la", "est"),
    "es": ("el", "los", "es"),
}
PUNCT_CLASS = r"[^.,;:!?]"

# The whitespace class shared by EVERY tokenizer that feeds a DuckDB
# oracle. DuckDB's regex engine is RE2, whose '\s' is [ \t\n\f\r] —
# NO vertical tab — while Java's '\s' (Spark regexp) and Python's
# ASCII '\s' both INCLUDE \x0B. Spelling the RE2 class out explicitly
# on the Spark/Python side makes all three engines tokenize
# identically even on \v-bearing text (ADVICE r3).
WS_CLASS = "[ \t\n\f\r]"
WS_SPLIT = WS_CLASS + "+"


def _ws_tokens(col) -> F.Column:
    """Canonical whitespace tokenizer (lower → trim → split on
    ``WS_SPLIT`` → drop empties). ONE definition shared by tfidf_terms
    and add_dup_ngram_ratio: both have DuckDB oracles pinned to exactly
    regexp_split_to_array(lower(trim(text)), '\\s+'), so the two Spark
    copies must never drift apart (and WS_SPLIT == RE2 '\\s+')."""
    return F.filter(
        F.split(F.lower(F.trim(col)), WS_SPLIT), lambda t: t != ""
    )


def _token_count(col) -> F.Column:
    """Whitespace token count = NON-EMPTY split segments (code-review
    r6: the old trim+size(split) form counted phantom empty segments
    around leading/trailing tab/newline whitespace — trim strips
    spaces only — so '\\t' counted 2; now whitespace-only text counts
    0 and the count equals size(_ws_tokens(col)) on every input, as
    the hash_tokenize contract states). NULL text stays NULL. The
    DuckDB oracle macro (_TOKENS in __spark_entry__.py) mirrors this
    exact formula — move them together."""
    return F.size(
        F.filter(F.split(col, WS_SPLIT), lambda t: t != "")
    ).cast("int")


def add_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count (empty/blank text → 0)."""
    return df.withColumn("token_count", _token_count(F.col(text_col)))


def add_bpe_ish_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish proxy: count of word/number/punct chunks via regex — the
    standard pre-tokenizer split (letters|digits|other-nonspace runs)."""
    t = F.col(text_col)
    chunks = F.regexp_extract_all(
        t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"), F.lit(0)
    )
    return df.withColumn("bpe_token_count", F.size(chunks).cast("int"))


def add_char_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    n = F.length(t)
    punct = F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    return (
        df.withColumn("char_len", n.cast("int"))
        .withColumn(
            "punct_ratio",
            F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n),
        )
        .withColumn(
            "upper_ratio",
            F.when(n == 0, F.lit(0.0)).otherwise(
                F.length(F.regexp_replace(t, r"[^A-Z]", "")).cast("double") / n
            ),
        )
    )


def _hits_on_padded(padded, words) -> F.Column:
    """Occurrences of ' w ' markers on an ALREADY-padded lowercase column
    (identical formula in the DuckDB oracle). Callers must materialize
    the padded string once per row — inlining the concat/lower here
    would re-evaluate it once per word (the shingles-lambda lesson)."""
    total = F.lit(0)
    for w in words:
        marker = f" {w} "
        total = total + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
            / len(marker)
        )
    return total.cast("int")


def _with_padded(df: DataFrame, text_col: str):
    return df.withColumn(
        "__padded", F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    )


def add_stopword_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    had_padded = "__padded" in df.columns
    if not had_padded:
        df = _with_padded(df, text_col)
    hits = _hits_on_padded(F.col("__padded"), STOPWORDS_EN)
    toks = _token_count(F.col(text_col))
    df = df.withColumn(
        "stopword_ratio",
        F.when(toks == 0, F.lit(0.0)).otherwise(hits.cast("double") / toks),
    )
    return df if had_padded else df.drop("__padded")


def add_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality in [0,1]: length band + stopword presence −
    punctuation excess (Gopher/C4-style rule-of-thumb filters, public)."""
    need = set(df.columns)
    if "char_len" not in need:
        df = add_char_stats(df, text_col)
    if "token_count" not in need:
        df = add_token_count(df, text_col)
    if "stopword_ratio" not in need:
        df = add_stopword_ratio(df, text_col)
    len_ok = (F.col("char_len") >= 50) & (F.col("char_len") <= 10000)
    mean_tok = F.when(
        F.col("token_count") == 0, F.lit(0.0)
    ).otherwise(F.col("char_len").cast("double") / F.col("token_count"))
    tok_ok = (mean_tok >= 3) & (mean_tok <= 12)
    score = (
        F.when(len_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(tok_ok, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.least(F.col("stopword_ratio") * 3, F.lit(0.2))
        - F.least(F.col("punct_ratio"), F.lit(0.2))
    )
    return df.withColumn(
        "quality_score", F.round(F.greatest(score, F.lit(0.0)), 6)
    )


def add_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword heuristic language ID over a fixed 4-language
    marker set; 'und' (undetermined) when no marker hits."""
    had_padded = "__padded" in df.columns
    if not had_padded:
        df = _with_padded(df, text_col)
    scores = {
        lang: _hits_on_padded(F.col("__padded"), words)
        for lang, words in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    # deterministic order: iterate sorted langs; strict > keeps first-wins
    for lang in sorted(scores):
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    df = df.withColumn("lang_id", best)
    return df if had_padded else df.drop("__padded")


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace-collapsed). Exact SQL twin exists."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_SPLIT, " ")
    return df.withColumn("fingerprint", F.md5(norm))


def add_dup_ngram_ratio(
    df: DataFrame, n: int = 5, text_col: str = "text", out: str = "dup_ngram_ratio"
) -> DataFrame:
    """Gopher-style repetitiousness signal: fraction of duplicated
    word n-grams (1 − distinct/total). Pure JVM: split → indexed
    slice+join per position → array_distinct; map-only at any scale.
    Also appends ``{out}_n`` (total n-gram count, 0 for short docs)."""
    toks = _ws_tokens(F.col(text_col))
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, F.lit(n)), " "),
    )
    ratio = F.when(k <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(grams)) / k.cast("double")
    )
    return df.withColumn(out, ratio).withColumn(
        f"{out}_n", F.greatest(k, F.lit(0)).cast("long")
    )


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, term) TF-IDF over whitespace tokens, all JVM-side:
    explode → two groupBys (term frequency per doc; document frequency
    per term) → broadcast of the 1-row corpus size → smooth idf
    ``ln((N+1)/(df+1)) + 1`` (sklearn's smoothing, public).

    Scale shape: tf is a (doc,term) groupBy (map-side combinable);
    document frequency is a COUNT WINDOW over the term partitioning of
    tf — no self-join, no recompute of the tf aggregate, two data
    shuffles total. The corpus size is a broadcast 1-row aggregate,
    never a driver collect. Hot terms (stopwords) concentrate one
    partition's window; their tf rows are already one-per-doc, so the
    hot partition is bounded by n_docs, not token count."""
    toks = df.select(
        F.col(id_col), F.explode(_ws_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    w_term = Window.partitionBy("term").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.withColumn("dfreq", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)
                    )
                    + 1.0
                )
            ).alias("tfidf"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc mean unigram negative log-probability — the classic
    cheap perplexity proxy for corpus quality filtering (CCNet-style:
    gibberish and boilerplate score high/low vs the corpus language
    model; here the LM is the corpus's own unigram distribution).

    score(d) = -(Σ_t tf(d,t) · ln p(t)) / Σ_t tf(d,t),
    p(t) = corpus occurrences of t / total corpus tokens.

    Scale shape: (doc,term) tf groupBy (map-side combinable), corpus
    term totals as a term-sized aggregate over the token stream (r7 —
    no window over the Zipf-hot term partitioning) joined back by the
    planner's choice of strategy, total
    token count as a broadcast 1-row sum of that tiny frame, final
    per-doc groupBy. Docs with no tokens are kept with NULL score (a
    filter decision, not a 0)."""
    toks = df.select(
        F.col(id_col), F.explode(_ws_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # corpus term totals as a term-sized aggregate over the token
    # stream, joined back (r7, guide §2.4/§2.5 — replaces a SUM
    # WINDOW over the term partitioning of tf): a natural-language term
    # domain is small and Zipf-skewed, so the window's exchange hashed
    # every tf row into a handful of hot term groups and sorted them;
    # the count-per-term aggregate is map-side combinable (same
    # integers: Σ_d tf(d,t) == corpus occurrences of t), and the corpus
    # total is the 1-row sum of that tiny frame instead of a second
    # full tf pass. No broadcast hint on the term join: the vocabulary
    # grows with the corpus, so AQE broadcasts it only while its
    # runtime size is under the threshold and shuffle-joins it beyond.
    term_totals = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_total")
    )
    total = term_totals.agg(
        F.sum("term_total").cast("double").alias("total_tokens")
    )
    scored = (
        tf.join(term_totals, on="term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                -F.sum(
                    F.col("tf")
                    * F.log(F.col("term_total") / F.col("total_tokens"))
                )
                / F.sum("tf")
            ).alias("neg_logprob"),
        )
    )
    return df.select(id_col).join(scored, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        "neg_logprob",
    )


def _hashed_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    method: str,
    seed: int,
) -> DataFrame:
    """(id, bucket) feature stream for dsir_logweight: whitespace
    unigrams (the shared ``_ws_tokens`` definition) plus word bigrams,
    each hashed into ``n_buckets`` by the repo's standard md5/xxhash64
    bucket rule (``hashing.hash_bucket``). One map-only
    projection + one explode — no shuffle; gram strings never leave
    the map stage (only the hashed bucket id is emitted)."""
    toks = _ws_tokens(F.col(text_col))
    # bigram i = toks[i] + ' ' + toks[i+1]; the last position maps to
    # NULL (no successor) and is filtered out — pure JVM
    big = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(
                i < F.size(toks) - 1,
                F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    out = df.select(
        F.col(id_col), F.explode(F.concat(toks, big)).alias("__gram")
    )
    return out.select(
        id_col,
        hash_bucket([F.col("__gram")], method, seed, n_buckets).alias("__bkt"),
    )


def dsir_logweight(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1 << 13,
    alpha: float = 0.5,
    method: str = "xxhash64",
    seed: int = 42,
    out_col: str = "dsir_logweight",
) -> DataFrame:
    """Per-doc DSIR importance log-weight (Data Selection via
    Importance Resampling, Xie et al. 2023 — the public recipe for
    picking raw-corpus documents that look like a small high-quality
    target corpus): hashed n-gram bag features (unigrams + word
    bigrams, the paper's feature space), two smoothed bag-of-buckets
    unigram distributions fit on ``target`` and ``raw``, and

        weight(d) = Σ_{g ∈ grams(d)} ln p̂_tgt(bucket(g))
                                   − ln p̂_raw(bucket(g)),
        p̂(b) = (count_b + alpha) / (total + alpha · n_buckets).

    Docs that look target-like score high; sampling ∝ exp(weight) is
    exactly importance resampling (pair with ``cleaning.gumbel_topk``
    for the deterministic without-replacement draw).

    Scale shape (mirrors ``tfidf_terms``/``unigram_logprob``): gram
    strings are hashed map-side and never shuffle, and the
    explode+hash pass over each corpus runs EXACTLY ONCE — the raw
    stream pre-aggregates to (id, bucket) counts, corpus per-bucket
    counts come from a SUM WINDOW over the bucket partitioning of that
    same frame (the unigram_logprob term-total pattern: no self-join,
    no recompute; an r7 A/B kept it — see the inline note), the
    bucket-sized target counts join BROADCAST, and the per-doc weight
    is one groupBy of ``cnt·lr``. The two smoothing
    totals are map-only token-count projections (no explode) — the
    text columns are scanned twice, the gram stream is built once.
    Every shuffled row fixed-width. Docs with no grams keep a NULL
    weight (a filter decision, not a 0 — ``gumbel_topk`` drops them).

    method='md5' is the engine-portable bridge (first 8 hex chars of
    md5(gram) → uint32 mod n_buckets — any engine reproduces the
    weights, which is what the DuckDB value oracle runs on; ignores
    ``seed``); 'xxhash64' is the faster JVM-only default. Output:
    (id_col, n_grams, out_col)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing)")
    tgt = _hashed_grams(target, id_col, text_col, n_buckets, method, seed)
    rawf = _hashed_grams(raw, id_col, text_col, n_buckets, method, seed)
    tcnt = tgt.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__tgt_n"))

    def _gram_total(df: DataFrame) -> F.Column:
        # total gram count WITHOUT the explode+hash pass: per doc it is
        # n_tok unigrams + max(n_tok − 1, 0) bigrams, and _token_count
        # == size(_ws_tokens) by contract — a map-only projection, so
        # the smoothing totals never force a second gram pass over
        # either corpus (NULL text counts 0 on both paths)
        n = _token_count(F.col(text_col))
        per_doc = F.when(n.isNull() | (n <= 0), F.lit(0)).otherwise(
            n * 2 - 1
        )
        return F.coalesce(F.sum(per_doc).cast("double"), F.lit(0.0))

    ttot = target.agg(_gram_total(target).alias("__tgt_total"))
    rtot = raw.agg(_gram_total(raw).alias("__raw_total"))
    am = float(alpha) * n_buckets
    # pre-aggregate the raw gram stream to (id, bucket) counts, attach
    # the bucket-sized corpus totals + target counts by broadcast, sum
    # cnt·lr per doc. Exchanges: (id,bkt) agg → id agg (+ two
    # bucket-sized aggs), every shuffled row fixed-width.
    feats = rawf.groupBy(id_col, "__bkt").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # NOTE (r7): a broadcast-built per-bucket count table (second
    # aggregate over the gram stream instead of this window) was
    # A/B-measured at sf1.0 and LOST — warm 6.1-7.1 s (window) vs
    # 9.7-10.7 s (broadcast): the broadcast build re-runs the whole
    # explode+md5 gram pass as a serialized job, which costs more than
    # the bucket-partitioned exchange+sort of the compact (id, bucket)
    # frame it removes. The window stays.
    w_bkt = Window.partitionBy("__bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = (
        feats.withColumn("__raw_n", F.sum("__cnt").over(w_bkt))
        .join(F.broadcast(tcnt), on="__bkt", how="left")
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(rtot))
        .withColumn(
            "__lr",
            F.log(
                (F.coalesce("__tgt_n", F.lit(0)) + F.lit(float(alpha)))
                / (F.col("__tgt_total") + F.lit(am))
            )
            - F.log(
                (F.col("__raw_n") + F.lit(float(alpha)))
                / (F.col("__raw_total") + F.lit(am))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_grams"),
            F.sum(F.col("__cnt") * F.col("__lr")).alias(out_col),
        )
    )
    return raw.select(id_col).join(scored, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        out_col,
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All JVM-side text features in one pass (single projection, no
    shuffle — this is a map-only stage at any scale). The padded
    lowercase text is materialized once and shared by every
    marker-counting feature."""
    df = _with_padded(df, text_col)
    df = add_char_stats(df, text_col)
    df = add_token_count(df, text_col)
    df = add_bpe_ish_token_count(df, text_col)
    df = add_stopword_ratio(df, text_col)
    df = add_quality_score(df, text_col)
    df = add_lang_id(df, text_col)
    df = add_fingerprint(df, text_col)
    return df.drop("__padded")


def hash_tokenize(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 2**15,
    out_col: str = "token_ids",
) -> DataFrame:
    """Feature-hashing tokenizer: text → array<int> of token ids with
    NO trained vocabulary — ``id = hash(token) mod vocab_size`` (the
    hashing trick; collisions are the accepted trade for a stateless,
    cluster-size-independent, retrain-free id space). This is the step
    that turns the chunk→pack→materialize chain into an end-to-end
    text → packed-token-id pipeline when no external tokenizer model
    ships with the job: use ``len_col = size(token_ids)`` for
    ``pack_sequences`` and ``payload_col = token_ids`` for
    ``materialize_packed_sequences``.

    Pure JVM map-only (split + transform higher-order function — no
    Python workers, no shuffle, whole-stage codegen). Tokenization is
    the shared ``_ws_tokens`` definition (lower/trim/RE2-whitespace),
    so counts line up with ``add_token_count`` family. The id is the
    unseeded ``xxhash64(token)`` mod vocab (JVM-only; both curation
    jobs tokenize this way). Ids are non-negative; NULL text yields
    NULL."""
    if vocab_size < 2 or vocab_size > 2**31 - 1:
        raise ValueError(f"vocab_size out of range: {vocab_size}")
    toks = _ws_tokens(F.col(text_col))
    return df.withColumn(
        out_col,
        F.transform(
            toks, lambda t: F.pmod(F.xxhash64(t), F.lit(vocab_size)).cast("int")
        ),
    )


def add_gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, §A1.1 — the
    standard public pretraining-corpus heuristic set, also the core of
    C4/FineWeb recipes). Appends the per-doc rule inputs plus a single
    ``gopher_keep`` 0/1 verdict:

    - ``gq_n_words``            whitespace words (shared ``_ws_tokens``)
    - ``gq_mean_word_len``      mean word length in chars
    - ``gq_symbol_ratio``       ('#' chars + '…' chars + '...' runs) / words
    - ``gq_bullet_ratio``       lines starting with '-', '*' or '•'
    - ``gq_ellipsis_line_ratio``lines ending with '...' or '…'
    - ``gq_alpha_word_ratio``   words containing an ASCII letter
    - ``gq_stop_hits``          how many of GOPHER_STOPWORDS appear
    - ``gopher_keep``           1 iff every rule passes

    Keep iff min_words <= words <= max_words, min_mean <= mean word len
    <= max_mean, symbol_ratio < max_symbol_ratio, bullet_ratio <
    max_bullet_ratio, ellipsis_line_ratio < max_ellipsis_line_ratio,
    alpha_word_ratio >= min_alpha_word_ratio and stop_hits >=
    min_stop_hits. NULL text → NULL signals, keep 0. Zero-word docs
    have NULL ratios and fail the word-count rule.

    Scale shape: pure JVM map-only — split/higher-order-function
    expressions inside whole-stage codegen, no Python, no shuffle, no
    state; thresholds are plan-time literals. Every signal has an exact
    ANSI-SQL twin (DuckDB oracle in __spark_entry__.py): lines split on
    the literal newline, ltrim/rtrim are space-only in both engines,
    '…' is one character under both length() implementations, and the
    alpha test is the two-engine-identical class [a-z] over the
    lowercased tokens."""
    text = F.col(text_col)
    toks = _ws_tokens(text)
    n_words = F.size(toks)  # NULL text -> NULL (size(NULL) = NULL here)
    nw_d = n_words.cast("double")
    char_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.when(n_words > 0, char_sum / nw_d)
    count_lit = lambda lit: (  # noqa: E731  occurrences of a literal
        F.length(text) - F.length(F.replace(text, F.lit(lit)))
    )
    symbols = (
        count_lit("#") + count_lit("…") + (count_lit("...") / F.lit(3))
    )
    symbol_ratio = F.when(n_words > 0, symbols / nw_d)
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("double")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    n_ell = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith(F.lit("..."))
            | F.rtrim(l).endswith(F.lit("…")),
        )
    )
    bullet_ratio = F.when(n_lines > 0, n_bullet / n_lines)
    ellipsis_ratio = F.when(n_lines > 0, n_ell / n_lines)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = F.when(n_words > 0, n_alpha / nw_d)
    stop_hits = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )
    out = (
        df.withColumn("gq_n_words", n_words.cast("long"))
        .withColumn("gq_mean_word_len", mean_wl)
        .withColumn("gq_symbol_ratio", symbol_ratio)
        .withColumn("gq_bullet_ratio", bullet_ratio)
        .withColumn("gq_ellipsis_line_ratio", ellipsis_ratio)
        .withColumn("gq_alpha_word_ratio", alpha_ratio)
        .withColumn("gq_stop_hits", F.when(toks.isNotNull(), stop_hits))
    )
    keep = (
        F.col("gq_n_words").between(min_words, max_words)
        & F.col("gq_mean_word_len").between(
            min_mean_word_len, max_mean_word_len
        )
        & (F.col("gq_symbol_ratio") < max_symbol_ratio)
        & (F.col("gq_bullet_ratio") < max_bullet_ratio)
        & (F.col("gq_ellipsis_line_ratio") < max_ellipsis_line_ratio)
        & (F.col("gq_alpha_word_ratio") >= min_alpha_word_ratio)
        & (F.col("gq_stop_hits") >= min_stop_hits)
    )
    return out.withColumn(
        "gopher_keep", F.coalesce(keep, F.lit(False)).cast("int")
    )
