"""Similarity search over embedding columns (task brief: ANN).

- ``cosine_topk``: brute-force exact baseline. The query set is small by
  assumption → ``broadcast`` crossJoin (no shuffle of the big side); the
  dot product runs JVM-side via ``_dot`` (``zip_with``+``aggregate`` in
  doubles); top-k via one window per query. At 100TB this is a single
  map stage over the corpus + a k-row-per-query reduce.
- ``lsh_topk``: the scale path — random-hyperplane LSH. Deterministic
  planes from a seeded numpy generator are broadcast inside an
  Arrow UDF (one matmul per batch); candidates =
  corpus rows sharing ≥1 signature band with the query, then exact
  cosine re-rank within candidates. Recall/cost tunable via
  (n_planes, bands).
- ``cosine_near_dup_pairs``: embedding near-duplicate detection (cosine
  ≥ τ) via the same banded signatures, corpus×corpus.
- ``ivf_topk``: the other standard scale path — inverted-file ANN.
  Deterministic k-means centroids fit driver-side on a bounded sample,
  corpus assigned to lists in one map stage (an Arrow UDF, one matmul
  per batch against the centroid matrix it carries), queries probe their
  nprobe nearest lists, exact re-rank inside candidates. nprobe ==
  n_centroids degenerates to exact brute force (oracle-checkable).

Every vector crossing into Python (signer, quantizer, semantic-dedup
candidates) reads its Arrow ``list<float|double>`` column through one
zero-copy list→matrix helper, ``_vec_matrix``.

Scoring is written once: ``_dot``, ``_norm2`` and ``_cos_of`` (the
zero-norm-guarded ratio) build ``_cos``, ``_score`` and the near-dup
pair cosine; ``_hyperplane_band`` is the one LSH band key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.window import Window

from ..functions.hashing import md5_hex


def _dot(a, b) -> F.Column:
    """Dot product of two array columns, JVM-side, all math in double
    (deterministic left-fold sum order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(col) -> F.Column:
    """L2 norm of an array column (double left fold) — the fold `_cos`
    runs per side, exposed so callers can precompute it ONCE per row
    instead of once per candidate pair (r7)."""
    return F.sqrt(
        F.aggregate(
            col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _cos_of(dot, na, nb) -> F.Column:
    """Cosine from a dot product and the two L2 norms; 0.0 when either
    norm is zero."""
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def _cos(a, b) -> F.Column:
    """Exact cosine similarity between two array columns, JVM-side."""
    return _cos_of(_dot(a, b), _norm2(a), _norm2(b))


def _score(
    cands: DataFrame,
    id_col,
    vec_col,
    query_id_col,
    query_vec_col,
    na_col: str,
    nb_col: str,
):
    """Exact cosine per candidate, rounded to 6dp (oracle alignment).
    ONE definition so the scoring conventions cannot drift between the
    brute-force / LSH / IVF paths. The caller precomputes the two L2
    norms (``na_col``/``nb_col``, via ``_norm2`` — r7: a candidate set
    repeats each row ~|queries| times, and the interpreted higher-order
    fold was 2/3 of the per-pair cost), so only the dot fold runs per
    pair; the arithmetic is `_cos`'s."""
    cos = _cos_of(
        _dot(F.col(vec_col), F.col(query_vec_col)), F.col(na_col), F.col(nb_col)
    )
    return cands.select(
        query_id_col, id_col, F.round(cos, 6).alias("cosine")
    )


def _rank_scored(scored: DataFrame, k: int, id_col, query_id_col) -> DataFrame:
    """Shared top-k tail over already-scored (query_id, id, cosine)
    rows: rank 1..k per query, ties broken by id for determinism."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _topk_rerank(
    cands: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    na_col: str,
    nb_col: str,
) -> DataFrame:
    """Score + rank in one step (brute-force / IVF paths, whose
    candidate sets are already pair-distinct)."""
    return _rank_scored(
        _score(
            cands, id_col, vec_col, query_id_col, query_vec_col,
            na_col=na_col, nb_col=nb_col,
        ),
        k,
        id_col,
        query_id_col,
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force cosine top-k: returns (query_id, vec_id, cosine,
    rank) with rank 1..k per query, ties broken by id for determinism."""
    q = F.broadcast(
        queries.select(
            query_id_col, query_vec_col,
            _norm2(F.col(query_vec_col)).alias("__nb"),
        )
    )
    cands = corpus.select(
        id_col, vec_col, _norm2(F.col(vec_col)).alias("__na")
    ).crossJoin(q)
    return _topk_rerank(
        cands, k, id_col, vec_col, query_id_col, query_vec_col,
        na_col="__na", nb_col="__nb",
    )


def _vec_matrix(vecs: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """The ONE list→matrix conversion of every vector crossing: an Arrow
    ``list<float|double>`` array → (its non-NULL rows as an (m, dim)
    float64 matrix, the (n,) validity mask). ``flatten()`` skips NULL
    rows and honours the slice offset, and ``to_numpy`` is zero-copy
    for a NULL-free double child — no per-row Python objects.

    A vector of the wrong length, or one holding a NULL element, raises
    ``ValueError`` naming the expected and the actual dimension."""
    valid = vecs.is_valid().to_numpy(zero_copy_only=False)
    lens = pc.fill_null(pc.list_value_length(vecs), dim).to_numpy()
    flat = vecs.flatten()
    bad = np.flatnonzero(lens != dim)
    if len(bad):
        raise ValueError(
            f"embedding dimension mismatch: expected dimension {dim}, got "
            f"a vector of dimension {int(lens[bad[0]])}"
        )
    if flat.null_count:
        nulls = flat.is_null().to_numpy(zero_copy_only=False)
        row_start = int(np.flatnonzero(nulls)[0]) // dim * dim
        have = dim - int(nulls[row_start:row_start + dim].sum())
        raise ValueError(
            f"embedding dimension mismatch: expected dimension {dim}, got "
            f"a vector with {have} non-NULL elements"
        )
    m = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return m.reshape(-1, dim), valid


def _make_signer(dim: int, n_planes: int, seed: int):
    planes = np.random.RandomState(seed).normal(size=(dim, n_planes))
    weights = 1 << np.arange(n_planes, dtype=np.uint64)

    @arrow_udf("long")
    def sign_bits(vecs: pa.Array) -> pa.Array:
        m, valid = _vec_matrix(vecs, dim)
        bits = (m @ planes) > 0  # (rows, n_planes)
        sig = np.zeros(len(valid), dtype=np.int64)
        # .view, not .astype: at n_planes=64 the top bit can be set and
        # uint64→int64 must be a two's-complement reinterpret, which
        # .view guarantees (astype overflow is technically undefined)
        sig[valid] = (bits.astype(np.uint64) * weights).sum(axis=1).view(np.int64)
        return pa.array(sig, mask=~valid)  # NULL vector → NULL signature

    return sign_bits


def _hyperplane_band(sig, n_planes: int, bands: int) -> F.Column:
    """(band, bucket) posexplode of a hyperplane signature: band b's
    bucket is bits [b·r, (b+1)·r), r = n_planes / bands. Raises
    ``ValueError`` unless ``bands`` divides ``n_planes``."""
    if n_planes % bands != 0:
        raise ValueError("n_planes must be divisible by bands")
    r = n_planes // bands
    mask = (1 << r) - 1
    return F.posexplode(
        F.array(
            *[
                F.shiftrightunsigned(sig, b * r).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ]
        )
    ).alias("band", "bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures, banded candidate
    join (corpus side shuffled by band bucket ONCE; query side broadcast),
    exact cosine re-rank within candidates.

    Pass ``dim`` (the embedding length) to keep plan construction
    action-free; omitting it falls back to a 1-row sniff job."""
    c_band = _hyperplane_band(F.col("sig"), n_planes, bands)
    q_band = _hyperplane_band(F.col("qsig"), n_planes, bands)
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    signer = _make_signer(dim, n_planes, seed)

    c_sig = corpus.select(
        id_col,
        vec_col,
        _norm2(F.col(vec_col)).alias("__na"),
        signer(F.col(vec_col)).alias("sig"),
    )
    q_sig = queries.select(
        query_id_col,
        query_vec_col,
        _norm2(F.col(query_vec_col)).alias("__nb"),
        signer(F.col(query_vec_col)).alias("qsig"),
    )
    c_bands = c_sig.select(id_col, vec_col, "__na", c_band)
    q_bands = q_sig.select(query_id_col, query_vec_col, "__nb", q_band)
    # SCORE, then distinct: cosine is deterministic per (query, cand)
    # pair (same left-fold order every time), so a pair colliding in
    # several bands re-scores redundantly map-side but the distinct
    # Exchange carries only (query_id, id, cosine) scalars — never the
    # two full embeddings (VERDICT r3 #1: at 1024-dim float64 that is
    # ~16 KB/candidate of avoided shuffle).
    cands = c_bands.join(F.broadcast(q_bands), on=["band", "bucket"])
    scored = _score(
        cands, id_col, vec_col, query_id_col, query_vec_col,
        na_col="__na", nb_col="__nb",
    ).dropDuplicates([query_id_col, id_col])
    return _rank_scored(scored, k, id_col, query_id_col)


def label_centroids(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-label mean embedding (class centroids) → (label, n, centroid).
    ONE groupBy carrying ``dim`` scalar avg aggregates — map-side
    combinable, so shuffle rows = n_labels regardless of corpus size.
    The alternative (posexplode to (row, dim) pairs) would shuffle
    corpus_rows × dim rows; at 100 TB that explode is the difference
    between a trivial agg and a dominating stage. Pass ``dim`` to keep
    plan construction action-free."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    aggs = [
        F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(
            f"__c{i}"
        )
        for i in range(dim)
    ]
    g = corpus.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"), *aggs)
    return g.select(
        label_col,
        "n",
        F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias("centroid"),
    )


# -- IVF (inverted-file) ANN ---------------------------------------------------

def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    max_sample: int = 20_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic Lloyd k-means on a bounded sample — model fitting is
    the one legitimately driver-side step of IVF (at 100TB you fit on a
    ≤max_sample reservoir; the index build and search stay distributed).
    Returns L2-normalized centroids (n_centroids, dim): with normalized
    centroids, cosine ranking reduces to a dot product.

    The sample is ordered by a content hash before limit(): a bare
    limit() takes whatever rows arrive first, which varies with shuffle
    fetch order and layout — centroids would then differ across runs,
    silently desynchronizing a persisted ivf_assign index from later
    retrainings."""
    pdf = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(vec_col))
        .limit(max_sample)
        .toPandas()
    )
    X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    rng = np.random.RandomState(seed)
    cent = Xn[rng.choice(len(Xn), size=min(n_centroids, len(Xn)), replace=False)]
    for _ in range(iters):
        sims = Xn @ cent.T                      # (n, k) cosine since both normalized
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[j] = m / n
    return cent


def _nearest_centroids(vec_col, centroids: np.ndarray, top: int) -> F.Column:
    """Ids of the ``top`` nearest centroids by cosine, as an
    ``array<int>`` column: an Arrow UDF whose closure carries the
    centroid matrix (shipped once per task, like ``_make_signer``'s
    planes), so the plan stays O(1) whatever n_centroids × dim, and
    each batch costs ONE numpy matmul over the zero-copy vector matrix
    (``_vec_matrix``).

    Ranking by raw dot equals ranking by cosine because centroids are
    normalized and the vector's own norm is constant across centroids;
    the stable argsort of the negated dots breaks EXACT ties on the
    lower centroid id. A NULL vector gets a NULL list — no centroid, so
    it never becomes a probe or a candidate; a vector of the wrong
    length or with a NULL element fails the job (``_vec_matrix``)."""
    cent = centroids.astype(np.float64)
    dim = cent.shape[1]

    @arrow_udf("array<int>")
    def probe(vecs: pa.Array) -> pa.Array:
        m, valid = _vec_matrix(vecs, dim)
        order = np.argsort(-(m @ cent.T), axis=1, kind="stable")[:, :top]
        offsets = np.zeros(len(valid) + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(valid) * order.shape[1]
        return pa.ListArray.from_arrays(
            pa.array(offsets),
            pa.array(order.astype(np.int32).ravel()),
            mask=pa.array(~valid),
        )

    return probe(vec_col)


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Index build: append the nearest-centroid id (the IVF list each
    vector belongs to; NULL for a NULL vector). One map stage, an Arrow
    matmul per batch (``_nearest_centroids``)."""
    return corpus.withColumn(
        "centroid_id",
        F.element_at(
            _nearest_centroids(F.col(vec_col), centroids, 1), 1
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF ANN top-k: each query probes its ``nprobe`` nearest inverted
    lists; candidates = corpus rows in those lists (hash join on
    centroid_id, query side broadcast); exact cosine re-rank inside the
    candidate set. nprobe == n_centroids degenerates to exact brute
    force (the oracle-checkable configuration); recall/cost tunes with
    nprobe. The corpus is assigned in the same map stage as the probe
    join (one pass, no shuffle of the corpus); the quantizer is one
    Arrow matmul per batch whose plan size does not grow with the
    centroid matrix (``_nearest_centroids``), so a 4096-list ×
    1024-dim index never hits plan-size limits. A NULL query vector
    probes no list."""
    assigned = ivf_assign(corpus, centroids, vec_col=vec_col)
    q = queries.select(
        query_id_col,
        query_vec_col,
        _norm2(F.col(query_vec_col)).alias("__nb"),
        F.explode(
            _nearest_centroids(F.col(query_vec_col), centroids, nprobe)
        ).alias("centroid_id"),
    )
    cands = assigned.withColumn("__na", _norm2(F.col(vec_col))).join(
        F.broadcast(q), on="centroid_id"
    ).select(query_id_col, id_col, vec_col, query_vec_col, "__na", "__nb")
    return _topk_rerank(
        cands, k, id_col, vec_col, query_id_col, query_vec_col,
        na_col="__na", nb_col="__nb",
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine >= threshold)
    via banded hyperplane-LSH candidates + exact verify. Pass ``dim`` to
    avoid the 1-row dimension-sniff job at plan-build time. ``bands``
    must divide ``n_planes``."""
    band = _hyperplane_band(F.col("sig"), n_planes, bands)
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    signer = _make_signer(dim, n_planes, seed)
    sig = corpus.select(
        id_col,
        vec_col,
        _norm2(F.col(vec_col)).alias("__n"),
        signer(F.col(vec_col)).alias("sig"),
    )
    # pin (r7): the a/b self-join would otherwise run the signer
    # Arrow UDF and the norm fold once PER SIDE
    sig = sig.localCheckpoint(eager=False)
    bands_df = sig.select(id_col, vec_col, "__n", band)
    a, b = bands_df.alias("a"), bands_df.alias("b")
    # Score AND threshold BEFORE the cross-band distinct (the MinHash
    # pattern, dedup.py score-then-dedup; VERDICT r3 #1): cosine is
    # deterministic per pair, so the dedup Exchange shuffles only
    # (id_a, id_b, cosine) scalars — pairs below the threshold never
    # reach it at all. The redundant re-score of a pair colliding in
    # multiple bands is map-side CPU, which is the cheap currency.
    # precomputed norms (r7, same values as the _cos folds): only the
    # dot fold runs per candidate pair
    pair_cos = _cos_of(
        _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")),
        F.col("a.__n"),
        F.col("b.__n"),
    )
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(pair_cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    out_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector integer quantization for embedding storage:
    q_i = round(v_i / scale * qmax) with scale = max_i |v_i| and
    qmax = 2^(bits-1) - 1 (127 for int8). At 100 TB the embedding
    column IS the storage bill — int8 cuts a float32 corpus 4x (float64
    8x) while keeping cosine recall high; the reconstruction error is
    bounded per element by scale / (2*qmax).

    Pure JVM map-only (array_max / transform higher-order functions —
    no Python workers, no shuffle); engine-portable arithmetic, so an
    external SQL engine reproduces the codes bit-for-bit (the ties-
    away-from-zero rounding of Spark's round() matches DuckDB/ANSI).

    Zero and empty vectors get scale 0.0 and all-zero codes (NULL-safe:
    a NULL vector stays NULL). A NaN or Infinity element fails LOUDLY
    with a named error (code-review r6): NaN passes a bare `scale > 0`
    gate in Spark's ordering, the codes would all become NaN, and the
    ANSI int cast would kill the job with a cryptic CAST_INVALID_INPUT
    instead. Codes are sized to the narrowest integer type that holds
    qmax (tinyint for int8 — the advertised 4x storage win is real at
    the schema level, not just numerically). A reader dequantizes as
    v̂_i = q_i · scale / qmax."""
    if not 2 <= bits <= 32:
        raise ValueError(f"bits must be in [2, 32]: {bits}")
    qmax = 2 ** (bits - 1) - 1
    code_t = "tinyint" if bits <= 8 else ("smallint" if bits <= 16 else "int")
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.coalesce(scale, F.lit(0.0))  # empty array -> 0.0
    scale = F.when(
        F.isnan(scale) | (scale == F.lit(float("inf"))),
        F.raise_error(
            F.lit("quantize_embeddings: non-finite embedding element")
        ).cast("double"),
    ).otherwise(scale)
    codes = F.when(
        F.col(scale_col) > 0,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") / F.col(scale_col) * qmax)
            .cast(code_t),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast(code_t)))
    return df.withColumn(
        scale_col, F.when(v.isNotNull(), scale)
    ).withColumn(out_col, codes)


def seed_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic, engine-portable centroid init: the ``n_centroids``
    vectors whose ``md5(id)`` hashes (the bridge's ``hashing.md5_hex``)
    sort first (ties by id), L2 normalized, in that hash order — so centroid j is a pure function of
    the corpus ids. A zero-iteration "clustering" seeded this way is
    exactly recomputable in ANSI SQL (row_number over md5 order), which
    is the oracle bridge :func:`semantic_dedup`'s driver entry uses; for
    production quality, feed these seeds through the Lloyd rounds of
    :func:`train_ivf_centroids` instead. Bounded driver step (n rows),
    same class as the k-means sample."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(md5_hex([F.col(id_col)]), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )  # slow-path-ok: bounded by .limit(n_centroids) above
    X = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def semantic_dedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (the SemDeDup recipe, Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within a cluster, and of every pair with cosine >= ``threshold``
    drop the member CLOSER to its centroid — keeping the far/diverse
    representative. Returns one row per input vector:
    ``(id, centroid_id, cent_sim, keep)``; a NULL vector has NULL
    centroid_id and cent_sim, meets no pair and is kept.

    Scale story (the reason SemDeDup exists): the quadratic pair blowup
    is bounded per cluster — with k clusters over n vectors the pair
    count is ~n²/k, tuned by k, and the only shuffle is the
    centroid_id-keyed self-join, which co-locates exactly the rows that
    must meet. Assignment is the same quantizer as IVF
    (:func:`ivf_assign`, one Arrow matmul per batch), so a corpus
    persisted with its ``centroid_id`` is pre-clustered. Pair cosine
    is scored and thresholded IMMEDIATELY after the join
    (score-before-distinct, VERDICT r3 #1): only (ids, rounded
    scalars) ever reach the drop-set distinct. At 100 TB: persist the
    assigned corpus once, pick k from ``key_skew_report`` so the
    heaviest cluster's pair count fits a task, and raise k (or
    threshold) rather than salting — cluster size is the cost dial.

    Drop rule determinism: cent_sim is rounded to 6dp BEFORE the
    comparison, so the keep decision is discretized and engine-portable
    (the driver oracle replays it in DuckDB); ties on rounded cent_sim
    drop the higher id."""
    spark = corpus.sparkSession
    # from a pandas frame through Arrow: a Python-list createDataFrame is
    # a Python RDD, whose broadcast runs a Python worker for k rows
    cent_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "centroid_id": np.arange(len(centroids), dtype=np.int32),
                "cent_vec": list(np.asarray(centroids, dtype=np.float64)),
            }
        ),
        "centroid_id int, cent_vec array<double>",
    )
    assigned = (
        ivf_assign(corpus, centroids, vec_col=vec_col)
        # left: a NULL vector has no centroid and still gets its row
        .join(F.broadcast(cent_df), "centroid_id", "left")
        .select(
            "centroid_id",
            id_col,
            vec_col,
            # + 0.0 normalizes IEEE -0.0 (oracle alignment)
            (F.round(_cos(F.col(vec_col), F.col("cent_vec")), 6) + 0.0).alias(
                "cent_sim"
            ),
        )
        # pin (r7): four consumers below (candidate generation, both
        # sides of the verification join, the final keep join) would
        # each re-run the corpus scan + assignment + cent_sim folds —
        # the most expensive map work in the operator — without it.
        .localCheckpoint()
    )
    # r7 optimization (guide §4.2): the within-cluster pair cosine used
    # to run as a JVM self-join evaluating THREE O(dim) higher-order
    # folds per pair — ~n²/(2k) interpreted-fold pairs (12.6M at sf1.0,
    # 70 s). Candidate pairs now come from ONE float64 matmul per
    # cluster (BLAS), over-approximated with a 2e-6 margin (numpy GEMM
    # error is ~1e-12 for unit vectors; the margin also covers the 6dp
    # HALF_UP rounding the JVM applies), and ONLY candidates are
    # re-scored with the original `_cos` JVM fold — so every emitted
    # pair_cos, the threshold decision, and the drop rule are
    # bit-identical to the self-join plan. Zero-norm vectors score 0.0
    # in both paths; NULL vectors never produce candidates (the JVM
    # plan's `pair_cos >= threshold` filter rejects NULL anyway).
    idt = assigned.schema[id_col].dataType.simpleString()
    tau = float(threshold) - 2e-6
    dim = centroids.shape[1]

    def _cands(tbl: pa.Table) -> pa.Table:
        vecs = tbl.column(vec_col).combine_chunks()
        X, valid = _vec_matrix(vecs, dim)  # NULL vectors dropped
        ids_col = tbl.column(id_col).combine_chunks()
        ids = ids_col.filter(pa.array(valid)).to_numpy(zero_copy_only=False)
        out_a, out_b = [ids[:0]], [ids[:0]]
        m = len(ids)
        if m >= 2:
            nrm = np.sqrt((X * X).sum(axis=1))
            nrm[nrm == 0] = np.inf  # zero vectors: sim 0 everywhere
            Xn = X / nrm[:, None]
            step = max(1, (1 << 24) // m)  # ≤ ~128 MB per sim slab
            for lo in range(0, m, step):
                hi = min(lo + step, m)
                sims = Xn[lo:hi] @ Xn.T
                ii, jj = np.nonzero(sims >= tau)
                ii = ii + lo
                keep = ids[ii] < ids[jj]
                out_a.append(ids[ii][keep])
                out_b.append(ids[jj][keep])
        t = ids_col.type
        return pa.table(
            {
                "__id_a": pa.array(np.concatenate(out_a), type=t),
                "__id_b": pa.array(np.concatenate(out_b), type=t),
            }
        )

    cands = (
        assigned.select("centroid_id", id_col, vec_col)
        .groupBy("centroid_id")
        .applyInArrow(_cands, f"__id_a {idt}, __id_b {idt}")
    )
    a = assigned.select(
        F.col(id_col).alias("__id_a"),
        F.col(vec_col).alias("__vec_a"),
        F.col("cent_sim").alias("__sim_a"),
    )
    b = assigned.select(
        F.col(id_col).alias("__id_b"),
        F.col(vec_col).alias("__vec_b"),
        F.col("cent_sim").alias("__sim_b"),
    )
    dropped = (
        F.broadcast(F.broadcast(cands).join(a, "__id_a"))
        .join(b, "__id_b")
        .select(
            "__id_a",
            "__id_b",
            "__sim_a",
            "__sim_b",
            F.round(_cos(F.col("__vec_a"), F.col("__vec_b")), 6).alias("pair_cos"),
        )
        .where(F.col("pair_cos") >= threshold)
        # pairs are built with id_a < id_b, so equal rounded cent_sims
        # fall through to "drop b" == drop the higher id
        .select(
            F.when(F.col("__sim_a") > F.col("__sim_b"), F.col("__id_a"))
            .otherwise(F.col("__id_b"))
            .alias(id_col)
        )
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col,
        "centroid_id",
        "cent_sim",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )
