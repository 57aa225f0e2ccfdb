"""Deduplication operators for training-data pipelines (task brief):
exact, character-n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each choice):

- ``exact_dedup``: hash-groupBy on the normalized text — one shuffle on
  the text hash, min-id winner, AQE handles skewed duplicates.
- ``ngram_jaccard_pairs``: exact Jaccard via blocked pair counting —
  docs hash into blocks, each block pair is one task that receives one
  shingle array per doc and counts shared shingles with a dense 0/1
  matmul, and the JVM re-derives the exact jaccard from the integer
  counts. Never materializes the Σ df(s)² rows of a shingle self-join
  (that plan is kept only as the test oracle, ``tests/oracles.py``).
  Ground truth for the probabilistic variants below.
- ``minhash_lsh_pairs``: MinHash signatures (k Kirsch-Mitzenmacher mins
  from ONE xxhash64 — or, with ``hash_mode='md5'``, one md5 read by the
  ``functions/hashing.py`` bridge — per shingle, computed in ONE
  groupBy), banded LSH bucket join so candidate generation never
  compares all pairs; candidates are then verified by
  signature-estimated Jaccard. This is the 100TB path: cost is linear
  in corpus + bucket collisions. The pair join, the persisted index,
  the increment probe and the streaming loop all band through
  ``minhash_band_rows``.
- ``add_simhash``: 64-bit SimHash over whitespace tokens,
  Arrow-vectorized (numpy bit matrix per batch); near-dups are
  signatures at a small Hamming distance.

All joins key on fixed-width hashes, never raw text; all Python is
Arrow-batched (no per-row Python — BASELINE.json:15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.hashing import hex_u32


def _norm(text_col: str) -> F.Column:
    from .textstats import WS_SPLIT  # RE2-exact whitespace (no \v) — ADVICE r3

    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), WS_SPLIT, " ")


# -- exact ---------------------------------------------------------------------

def _digest(text_col: str) -> F.Column:
    """128-bit content key for exact-dedup grouping: shuffling a 32-char
    digest instead of the full normalized text cuts shuffle bytes by the
    mean document length; md5 collision risk is negligible at 10^12 docs
    (~1e-14 birthday bound)."""
    return F.md5(_norm(text_col))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per exact normalized text. Implemented as a
    min-id-per-digest semi-join (map-side-combinable agg on a 128-bit
    key) rather than a window over the text — no full-text shuffle, no
    single hot partition when one text dominates."""
    keep = (
        df.select(F.col(id_col), _digest(text_col).alias("__d"))
        .groupBy("__d")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    count_col: str | None = "n_paras_dropped",
) -> DataFrame:
    """Cross-document paragraph deduplication (the C4 / CCNet recipe:
    of every paragraph occurring anywhere in the corpus, keep ONLY its
    first occurrence — boilerplate headers, cookie banners and licence
    blocks appear thousands of times and would otherwise be memorized).
    "First" is deterministic: the lowest ``(id, position)``. Paragraphs
    whose NORMALIZED text is shorter than ``min_chars`` are structural
    (empty lines, separators) and are never dropped. Returns ``df``
    with ``text_col`` REPLACED by the deduplicated reassembly
    (surviving paragraphs in original order, re-joined with ``sep``)
    plus a ``count_col`` audit column; a fully-boilerplate doc comes
    back with empty text — compose with a length filter to drop it.

    Scale shape (the shuffle budget, in order): (1) the first-occurrence
    election groups md5 DIGESTS + (id, pos) scalars — paragraph text
    never rides this wire; (2) the kept-positions set collapses to ONE
    array row per doc; (3) paragraphs shuffle by id ONCE for the
    filter + reassembly (the groupBy reuses the join's partitioning);
    (4) the final join restores the caller's other columns. NULL text
    is treated as empty (the row survives).

    No public-feagen counterpart (reference scope is feature DAGs);
    this belongs to the task brief's dedup family."""
    spark_df = df
    paras = _explode_pieces(spark_df, id_col, text_col, sep)
    key = F.md5(_norm("__para"))
    eligible = paras.where(
        F.length(_norm("__para")) >= int(min_chars)
    ).select(F.col(id_col), "__pos", key.alias("__k"))
    first = (
        eligible.groupBy("__k")
        .agg(F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__w"))
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.__pos").alias("__pos"),
        )
    )
    keep_sets = first.groupBy(id_col).agg(
        F.collect_set("__pos").alias("__keep_pos")
    )
    survivors = (
        paras.join(keep_sets, on=id_col, how="left")
        .where(
            (F.length(_norm("__para")) < int(min_chars))
            | F.coalesce(
                F.array_contains("__keep_pos", F.col("__pos")), F.lit(False)
            )
        )
        .select(F.col(id_col), "__pos", "__para")
    )
    return _reassemble(
        spark_df, paras, survivors, id_col, text_col, sep, count_col
    )


def _explode_pieces(
    spark_df: DataFrame, id_col: str, text_col: str, sep: str
) -> DataFrame:
    """Shared head of the line/paragraph scrubbers: one (id, position,
    piece) row per sep-delimited piece; NULL text is treated as empty
    (the row survives with a single empty piece)."""
    import re as _re

    return spark_df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("__pos", "__para"),
    )


def _reassemble(
    spark_df: DataFrame,
    paras: DataFrame,
    survivors: DataFrame,
    id_col: str,
    text_col: str,
    sep: str,
    count_col: str | None,
) -> DataFrame:
    """Shared tail of the line/paragraph scrubbers: rebuild each doc
    from its surviving (pos, text) pieces in original order, restore
    the caller's other columns, and emit the dropped-count audit.
    A doc losing every piece comes back with empty text."""
    rebuilt = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_all"))
    out = (
        spark_df.join(rebuilt, on=id_col, how="left")
        .join(totals, on=id_col, how="left")
        .withColumn(text_col, F.coalesce("__clean", F.lit("")))
    )
    if count_col:
        out = out.withColumn(
            count_col,
            (
                F.coalesce("__n_all", F.lit(0))
                - F.coalesce("__n_kept", F.lit(0))
            ).cast("int"),
        )
    return out.drop("__clean", "__n_kept", "__n_all")


def boilerplate_scrub(
    df: DataFrame,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
    count_col: str | None = "n_lines_dropped",
) -> DataFrame:
    """C4-style boilerplate-line removal: drop EVERY occurrence of any
    normalized line that appears ``min_count``-or-more times
    corpus-wide (cookie banners, nav menus, licence blocks — the
    complement of ``paragraph_dedup``, which KEEPS the first
    occurrence; C4 removes the line everywhere once it repeats).
    Sub-``min_chars`` lines are structural and never dropped; docs are
    reassembled in original order with a ``count_col`` audit; NULL
    text is treated as empty (the row survives).

    One groupBy over line md5 DIGESTS elects the hot set — line text
    never rides that wire, the same shuffle class as
    ``paragraph_dedup``'s election; exact at any threshold.
    Survivor filter is a null-safe LEFT ANTI join on the digest
    (structural lines carry a NULL digest and always survive)."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2: {min_count}")
    spark_df = df
    paras = _explode_pieces(spark_df, id_col, text_col, sep)
    key = F.when(
        F.length(_norm("__para")) >= int(min_chars), F.md5(_norm("__para"))
    )
    keyed = paras.withColumn("__k", key)
    hot = (
        keyed.where(F.col("__k").isNotNull())
        .select("__k")
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= int(min_count))
        .select("__k")
    )
    survivors = keyed.join(hot, on="__k", how="left_anti").select(
        F.col(id_col), "__pos", "__para"
    )
    return _reassemble(
        spark_df, paras, survivors, id_col, text_col, sep, count_col
    )


# -- shingling -----------------------------------------------------------------

def _shingle_arrays(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, ``__sh``): each doc's distinct character n-gram shingles as
    ONE ``array<string>`` row, JVM-side: sequence → transform →
    array_distinct → filter(length == n). A text shorter than ``n`` (or
    NULL) gets an empty array. The one shingle expression every n-gram
    plan shares."""
    # materialize the normalized text ONCE per row: a lambda that
    # captures the regexp_replace expression re-evaluates it per array
    # element (measured 16s → 1s on 5k docs / 700k shingles)
    base = df.select(F.col(id_col), _norm(text_col).alias("__norm"))
    idxs = F.sequence(
        F.lit(1), F.greatest(F.length("__norm") - (n - 1), F.lit(1))
    )
    grams = F.array_distinct(
        F.transform(idxs, lambda i: F.col("__norm").substr(i, F.lit(n)))
    )
    return base.select(
        F.col(id_col),
        F.filter(grams, lambda s: F.length(s) == n).alias("__sh"),
    )


def shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct character n-gram shingles per doc, one (id, shingle) row
    each: the explode of ``_shingle_arrays``. One map stage, no Python."""
    return _shingle_arrays(df, n, id_col, text_col).select(
        F.col(id_col), F.explode("__sh").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (a<b) with sim >= threshold.

    Blocked plan (r7): a shingle-explode self-join blows up as
    Σ_s df(s)² — on a templated corpus the char-n-gram vocabulary is
    tiny (measured 377 distinct 3-grams over 10k driver docs), every
    shingle is hot, and the join materializes BILLIONS of rows (8.9B at
    sf1.0, 162 s). Instead the pair space itself is partitioned: docs
    hash into ``n_blocks`` blocks, every unordered block pair (i ≤ j) is
    one task, and each task receives exactly its two blocks' docs, each
    as ONE row holding its shingle array (every doc is replicated
    n_blocks times — the shuffle is B shingle arrays per doc, never
    shingle rows or pair rows). Inside a task the shingle strings are
    dictionary-encoded (exact string equality) and the intersection
    counts come from one dense 0/1 matmul over the local vocabulary
    (exact: 0/1 products, counts ≤ 2²⁴ in float32) when it is small,
    else a vectorized pandas merge+groupby over the integer codes (the
    join algorithm, local). Candidates pass a τ−1e-6 prefilter in
    float64 (the same IEEE division the JVM performs — the margin only
    guards the HALF_EVEN/HALF_UP rounding difference); the returned
    jaccard is re-derived in the JVM from the exact integer (inter,
    sz_a, sz_b), so emitted values are bit-identical to the self-join
    plan, which the tests keep as the parity oracle. Measured on the
    sf1.0 cluster subset (10k docs, 18.9M qualifying pairs): ~230 s
    (isolated join plan, dominated by the blowup) → 3.8 s warm for the
    full pair list.

    At 100 TB: exact all-pairs Jaccard is inherently O(pairs) work;
    ``n_blocks`` spreads the B(B+1)/2 block-pair tasks across the
    cluster (size it so one block's shingle arrays fit a task), and the
    subquadratic escape hatch stays ``minhash_lsh_pairs``.
    """
    cand = _blocked_pair_counts(
        _shingle_arrays(df, n, id_col, text_col),
        id_col=id_col, threshold=threshold, n_blocks=n_blocks,
    )
    return _jaccard_at_least(cand, threshold).select("id_a", "id_b", "jaccard")


def _jaccard_col() -> F.Column:
    """The JVM ``round(inter/(sz_a+sz_b−inter), 6)`` over exact integer
    (inter, sz_a, sz_b) counts — the ONE bit-exact Jaccard value every
    n-gram Jaccard plan compares with its threshold."""
    return F.round(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
    )


def _jaccard_at_least(cand: DataFrame, threshold: float) -> DataFrame:
    """Adds ``jaccard`` (``_jaccard_col``) to (id_a, id_b, inter, sz_a,
    sz_b) counts and keeps rows with ``jaccard >= threshold``."""
    return cand.withColumn("jaccard", _jaccard_col()).where(
        F.col("jaccard") >= threshold
    )


# dense-matmul cutoff for the in-task intersection counter: above this
# local vocab size the 0/1 membership matrix stops being comfortably
# small ((docs/block)×vocab float32) and the vectorized merge path —
# whose local cost is the true Σ df² of the SPARSE regime that large
# vocabularies imply — wins.
_BLOCKED_DENSE_VOCAB_MAX = 16384


def _make_np_cc():
    """Factory for the vectorized in-memory connected-components helper
    (r7): min-label propagation with pointer jumping, fixpoint-iterated
    — each vertex ends labeled with its component's minimum index.
    Replaces a per-edge Python dict union-find whose ~µs-scale loop
    body dominated the blocked dedup tasks (stage metrics: 281 s task
    wall, 20 s JVM CPU — the rest was Python). Returned as a NESTED
    function so worker closures capture it BY VALUE — a module-level
    reference would require feagen_spark on the Python workers'
    PYTHONPATH (the spark-submit-from-outside gotcha)."""

    def cc_labels(a_idx, b_idx, n: int):
        import numpy as np

        labels = np.arange(n, dtype=np.int64)
        while True:
            before = labels.copy()
            m = np.minimum(labels[a_idx], labels[b_idx])
            np.minimum.at(labels, a_idx, m)
            np.minimum.at(labels, b_idx, m)
            while True:  # pointer jumping to full compression
                nl = labels[labels]
                if np.array_equal(nl, labels):
                    break
                labels = nl
            if np.array_equal(labels, before):
                return labels

    return cc_labels


def _blocked_pair_counts(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    n_blocks: int,
    cluster_edges: bool = False,
) -> DataFrame:
    """Exact per-pair intersection counts + set sizes for every doc pair
    whose raw Jaccard clears ``threshold − 1e-6``, computed block-pair-
    wise (see ``ngram_jaccard_pairs``) over ``_shingle_arrays`` rows.
    Emits (id_a, id_b, inter, sz_a, sz_b) with id_a < id_b; the caller
    owns the final (JVM, bit-exact) jaccard arithmetic and threshold.

    Kernel input shape: ONE row per (doc, block pair) — the doc's id,
    block and whole shingle array — so the shuffle and the Python
    crossing carry B rows per doc (B shingle arrays), not one row per
    (doc, shingle, block pair). In-task the arrays are flattened and
    ``dictionary_encode``d in Arrow: exact string equality, no pandas
    string objects, no hashing. Set sizes are the list lengths.

    ``cluster_edges`` (r7, for ``ngram_jaccard_cluster_edges``): pairs
    whose float64 ratio — the IDENTICAL IEEE division the JVM would run
    on the same integers — clears ``threshold + 1e-6`` are CERTAIN to
    pass the JVM's ``round(j, 6) >= threshold`` filter (rounding moves
    a value by ≤ 5e-7), so instead of shipping them row-per-pair they
    are union-found in-task and emitted as (root, vertex) star rows
    with NULL counts; only the ±1e-6 boundary band keeps its counts for
    the JVM's bit-exact decision. Components of
    star ∪ JVM-passed-boundary equal components of the full qualifying
    pair set (the stars preserve exactly the certain pairs'
    connectivity). On the sf1.0 cluster graph this turns an 18.9M-row
    Python→JVM→Python round trip into ~40k star + ~356k boundary rows."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    if n_blocks < 1:
        raise ValueError("n_blocks must be >= 1")
    b_lit = F.lit(int(n_blocks))
    id_t = sh.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_t}, id_b {id_t}, inter long, sz_a long, sz_b long"
    # τ prefilter with slack: the in-task division is the same IEEE-754
    # float64 op the JVM runs on identical integers, so 1e-6 only has to
    # cover numpy's HALF_EVEN vs Spark's HALF_UP at the 6dp boundary.
    tau = float(threshold) - 1e-6

    _cc_labels = _make_np_cc()  # by-value for worker closures
    # NULL ids can never appear in an (id_a < id_b) pair of the join
    # plan — drop them before they reach numpy comparisons. No filter
    # touches the array: Catalyst would push it into the scan and inline
    # the normalized text into the shingle lambda (one regexp_replace
    # per element); an empty array reaches the kernel, sizes 0 and
    # meets no pair.
    rows = sh.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        "__sh",
        F.pmod(F.xxhash64(F.col(id_col)), b_lit).cast("int").alias("__blk"),
    ).select(
        "__id",
        "__sh",
        "__blk",
        F.explode(F.sequence(F.lit(0), b_lit - 1)).alias("__p"),
    ).select(
        "__id",
        "__sh",
        "__blk",
        F.least("__blk", "__p").alias("__bi"),
        F.greatest("__blk", "__p").alias("__bj"),
    )

    def _pairs(tbl: pa.Table) -> pa.Table:
        id_pa = tbl.schema.field("__id").type

        def _out(id_a, id_b, inter, sz_a, sz_b, n_stars=0):
            # the first ``n_stars`` rows are stars: NULL counts
            counts = {
                k: pa.concat_arrays(
                    [pa.nulls(n_stars, pa.int64()), pa.array(c, pa.int64())]
                )
                for k, c in (("inter", inter), ("sz_a", sz_a), ("sz_b", sz_b))
            }
            return pa.table(
                {
                    "id_a": pa.array(id_a, id_pa),
                    "id_b": pa.array(id_b, id_pa),
                    **counts,
                }
            )

        ids = tbl.column("__id").to_numpy()
        none = np.zeros(0, "int64")
        empty = _out(ids[:0], ids[:0], none, none, none)
        if not tbl.num_rows:
            return empty
        bi = tbl.column("__bi")[0].as_py()
        bj = tbl.column("__bj")[0].as_py()
        lists = tbl.column("__sh").combine_chunks()
        enc = pc.dictionary_encode(pc.list_flatten(lists))
        codes = enc.indices.to_numpy()
        v = len(enc.dictionary)
        parent = pc.list_parent_indices(lists).to_numpy()
        lens = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
        blk = tbl.column("__blk").to_numpy()

        def _side(b):
            # doc codes over the side's distinct ids (a duplicated id
            # pools its rows, as one doc), per-doc set sizes, and the
            # (doc code, shingle code) of every shingle on that side
            rmask = blk == b
            ids_u, inv = np.unique(ids[rmask], return_inverse=True)
            row_doc = np.full(len(ids), -1, dtype=np.int64)
            row_doc[rmask] = inv
            sz = np.bincount(
                inv, weights=lens[rmask], minlength=len(ids_u)
            ).astype("int64")
            smask = rmask[parent]
            return ids_u, sz, row_doc[parent[smask]], codes[smask]

        ids_a, sz_a, dc_a, sc_a = _side(bi)
        if bi == bj:
            ids_b, sz_b, dc_b, sc_b = ids_a, sz_a, dc_a, sc_a
        else:
            ids_b, sz_b, dc_b, sc_b = _side(bj)
        if not len(ids_a) or not len(ids_b):
            return empty
        if v <= _BLOCKED_DENSE_VOCAB_MAX:
            # dense 0/1 matmul: exact integer counts in float32
            mb = np.zeros((len(ids_b), v), dtype=np.float32)
            mb[dc_b, sc_b] = 1.0
            ia_all, ib_all, inter_all = [], [], []
            # slab bound covers the membership slab (step×v) and the
            # count/ratio slabs (step×|ids_b|): ≤ ~64 MB float32 each
            step = max(1, (1 << 24) // max(v, len(ids_b)))
            # threshold INSIDE the slab (r7 fix): on a templated corpus
            # virtually every doc pair shares ≥1 shingle, so extracting
            # ALL nonzero intersections first materialized ~|A|·|B|
            # index tuples per task before the filter ever ran
            # (measured 985 s on a 50k-doc τ=0.9 call whose answer is a
            # few thousand pairs). The float32 ratio check keeps an
            # extra 1e-6 of slack (f32 error ≤ ~3e-7 here); the exact
            # float64 prefilter below and the JVM threshold still make
            # the emitted rows bit-identical.
            sz_b_f = sz_b.astype("float32")
            tau_slab = np.float32(tau - 1e-6)
            for lo in range(0, len(ids_a), step):
                hi = min(lo + step, len(ids_a))
                ma = np.zeros((hi - lo, v), dtype=np.float32)
                sl = (dc_a >= lo) & (dc_a < hi)
                ma[dc_a[sl] - lo, sc_a[sl]] = 1.0
                inter = ma @ mb.T
                denom = (
                    sz_a[lo:hi].astype("float32")[:, None]
                    + sz_b_f[None, :]
                    - inter
                )
                mask = (inter >= 1) & (inter >= tau_slab * denom)
                ii, jj = np.nonzero(mask)
                ia_all.append(ii + lo)
                ib_all.append(jj)
                inter_all.append(inter[ii, jj].astype("int64"))
            ia = np.concatenate(ia_all)
            ib = np.concatenate(ib_all)
            inter = np.concatenate(inter_all)
        else:
            # sparse regime: vectorized merge+groupby — the join
            # algorithm run locally, cheap exactly when dfs are tiny
            da = pd.DataFrame({"c": sc_a, "da": dc_a})
            db = pd.DataFrame({"c": sc_b, "db": dc_b})
            m = da.merge(db, on="c")
            if not len(m):
                return empty
            g = (
                m.groupby(["da", "db"], sort=False)
                .size()
                .reset_index(name="inter")
            )
            ia = g["da"].to_numpy()
            ib = g["db"].to_numpy()
            inter = g["inter"].to_numpy().astype("int64")
        va = ids_a[ia]
        vb = ids_b[ib]
        keep = va != vb
        # id_a < id_b regardless of which block a doc fell in
        lo_id = np.where(va < vb, va, vb)[keep]
        hi_id = np.where(va < vb, vb, va)[keep]
        lo_sz = np.where(va < vb, sz_a[ia], sz_b[ib])[keep]
        hi_sz = np.where(va < vb, sz_b[ib], sz_a[ia])[keep]
        it = inter[keep]
        if bi == bj:
            # within-block matmul sees each unordered pair twice
            dedupe = va[keep] < vb[keep]
            lo_id, hi_id = lo_id[dedupe], hi_id[dedupe]
            lo_sz, hi_sz = lo_sz[dedupe], hi_sz[dedupe]
            it = it[dedupe]
        j_raw = it / (lo_sz + hi_sz - it)
        sel = it >= 1
        sel &= j_raw >= tau
        if not cluster_edges:
            return _out(
                lo_id[sel], hi_id[sel], it[sel], lo_sz[sel], hi_sz[sel]
            )
        certain = sel & (j_raw >= float(threshold) + 1e-6)
        bound = sel & ~certain
        ca, cb = lo_id[certain], hi_id[certain]
        verts = np.unique(np.concatenate([ca, cb]))
        lab = _cc_labels(
            np.searchsorted(verts, ca),
            np.searchsorted(verts, cb),
            len(verts),
        )
        return _out(
            np.concatenate([verts[lab], lo_id[bound]]),
            np.concatenate([verts, hi_id[bound]]),
            it[bound],
            lo_sz[bound],
            hi_sz[bound],
            n_stars=len(verts),
        )

    return rows.groupBy("__bi", "__bj").applyInArrow(_pairs, out_schema)


def ngram_jaccard_cluster_edges(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int = 8,
) -> DataFrame:
    """Edge set whose connected components EQUAL those of
    ``ngram_jaccard_pairs(...)`` at the same parameters — the fused
    pair-generation → edge-reduction path for dedup clustering (r7),
    where the pair LIST is never needed, only its connectivity. Each
    blocked task union-finds its certain-above-threshold pairs in-task
    and ships star rows; the ±1e-6 boundary band ships its exact
    integer counts and passes through the SAME JVM
    ``round(inter/(sz_a+sz_b−inter), 6) >= threshold`` filter the pair
    list applies — so the resulting components are provably identical
    (see ``_blocked_pair_counts``). Returns (id_a, id_b) rows: stars ∪
    JVM-passed boundary pairs.

    One filter over the pair-kernel output: a union of a star branch
    and a boundary branch would read that shared input once per branch,
    running the blocked pair kernel (and every Python crossing upstream
    of it) twice."""
    mixed = _blocked_pair_counts(
        _shingle_arrays(df, n, id_col, text_col),
        id_col=id_col, threshold=threshold, n_blocks=n_blocks,
        cluster_edges=True,
    )
    return mixed.where(
        F.col("inter").isNull() | (_jaccard_col() >= threshold)
    ).select("id_a", "id_b")


# -- MinHash + LSH ---------------------------------------------------------------

_MH_MASK = 0xFFFFFFFF  # 32-bit universe for Kirsch-Mitzenmacher hashes


def minhash_signatures(
    df: DataFrame,
    k: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hash_mode: str = "xxh64",
) -> DataFrame:
    """k-permutation MinHash: ONE groupBy over exploded shingles; the k
    mins are computed as k map-side-combinable aggregates (no UDF).

    Kirsch-Mitzenmacher: instead of k independent xxhash64 calls per
    shingle (k× the hashing cost), hash each shingle ONCE and derive the
    k functions as g_i = (h1 + i*h2) mod 2^32 from the two 32-bit halves
    — empirically equivalent recall to k independent hashes for MinHash
    at far less hashing cost (the formal KM guarantee is for Bloom
    filters; the derived g_i are not a fully pairwise-independent
    family). h2 is forced ODD (ADVICE r2): an even h2 shares factors
    with the 2^32 modulus, correlating the derived functions on low
    bits, and h2 = 0 would collapse all k mins to h1. Arithmetic stays
    within int64 (max ≈ 2^37), safe under ANSI overflow checking.

    ``hash_mode``: ``"xxh64"`` (default, fastest JVM hash) or ``"md5"``
    — engine-portable: h1/h2 are the first/second 8 hex chars of
    md5(seed || shingle) read by the bridge's ``hashing.hex_u32``, so
    an external engine (the DuckDB oracle, a Trino/Flink consumer) can
    reproduce signatures bit-for-bit.

    Every shingle OCCURRENCE is hashed: hashing the distinct shingle
    domain once and broadcast-joining (h1, h2) back lost its A/B in r6
    (sf0.1 warm best-of-4: 0.92 s per-occurrence vs 1.39 s) and r7
    (sf1.0 ``doc_minhash_pairs``: a wash) — the distinct pass +
    broadcast probe costs what hashing 3-char strings saves."""
    sh = shingles(df, n=n, id_col=id_col, text_col=text_col)
    if hash_mode == "md5":
        # seed || shingle with no separator: the oracle's md5('42' || shingle)
        hx = F.md5(F.concat(F.lit(str(seed)), F.col("shingle")))
        h1 = hex_u32(hx)
        h2 = hex_u32(hx, 9)
    elif hash_mode == "xxh64":
        base = F.xxhash64(F.lit(seed), F.col("shingle"))
        h1 = F.shiftrightunsigned(base, 32)
        h2 = base.bitwiseAND(F.lit(_MH_MASK))
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    sh = sh.select(
        id_col,
        h1.alias("__h1"),
        h2.bitwiseOR(F.lit(1)).alias("__h2"),
    )
    mins = [
        F.min(
            (F.col("__h1") + F.lit(i) * F.col("__h2")).bitwiseAND(F.lit(_MH_MASK))
        ).alias(f"mh_{i}")
        for i in range(k)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[F.col(f"mh_{i}") for i in range(k)]).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket: int | None = 500,
    hash_mode: str = "xxh64",
) -> DataFrame:
    """Banded-LSH candidate generation + signature-estimated Jaccard.

    rows-per-band r = k/bands; a pair lands in a bucket iff one band of
    their signatures agrees (P ≈ 1-(1-j^r)^bands). Candidates are
    scored and thresholded FIRST, then deduped across bands — the
    estimate is deterministic per pair, so band-duplicates agree, and
    the dedup shuffle carries scalars instead of signature arrays.

    ``max_bucket`` drops oversized buckets from pair generation: a
    bucket with B members yields B² pair candidates, so one giant
    exact-dup cluster turns the join quadratic. Such clusters are
    exact/near-identical text and are handled by exact_dedup upstream;
    capping is the standard LSH-at-scale guard. Pass None to disable.
    """
    # carry the signature THROUGH the band explode: the candidate join then
    # yields (sig_a, sig_b) directly — no join-back to the signature frame.
    # Shuffle payload grows by k longs per band row; for k=32/bands=8
    # that's ~2KB per doc, far cheaper than re-running the signature
    # shuffle twice. Pin the band rows (r7): THREE consumers — the
    # hot-bucket count and both sides of the self-join — otherwise each
    # re-run the tokenize→shingle→hash→k-mins pipeline (stage metrics
    # at sf1.0: three ~30-47 CPU-s stages for one ~47 CPU-s
    # computation). Lazy, so plan construction stays action-free; the
    # pinned frame is (rows × bands) signature rows, the same order of
    # bytes the self-join shuffles anyway.
    band_rows = minhash_band_rows(
        df, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col,
        seed=seed, hash_mode=hash_mode,
    ).localCheckpoint(eager=False)
    if max_bucket is not None:
        band_rows = band_rows.join(
            _hot_buckets(band_rows, max_bucket), on=["band", "bucket"],
            how="left_anti",
        )
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    # score + threshold BEFORE the cross-band dedup: est_jaccard is a
    # deterministic function of the signatures, so band-duplicates agree
    # and the distinct shuffles 3 scalars per pair instead of two
    # k-long signature arrays — and sub-threshold candidates never enter
    # the dedup shuffle at all.
    est = (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _est_jaccard(F.col("a.signature"), F.col("b.signature"), k).alias(
                "est_jaccard"
            ),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    return est


def minhash_band_rows(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hash_mode: str = "xxh64",
) -> DataFrame:
    """One (id, signature, band, bucket) row per (doc, band) of
    ``df``, bucket = xxhash64(band_idx, signature slice of k/bands
    positions). ONE definition for every MinHash consumer, so an index
    written yesterday and an increment banded today can never disagree
    on bucket keys. Raises ``ValueError`` unless ``bands`` divides
    ``k``."""
    if k % bands != 0:
        raise ValueError("k must be divisible by bands")
    sig = minhash_signatures(
        df, k=k, n=n, id_col=id_col, text_col=text_col, seed=seed,
        hash_mode=hash_mode,
    )
    r = k // bands
    return sig.select(
        id_col,
        "signature",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b), F.slice(F.col("signature"), b * r + 1, r)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def _hot_buckets(band_keys: DataFrame, max_bucket: int) -> DataFrame:
    """Broadcast (band, bucket) keys with more than ``max_bucket`` rows
    in ``band_keys`` — the hot-bucket cap (B members yield B²
    candidates); callers left-anti-join it away."""
    return F.broadcast(
        band_keys.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
        .select("band", "bucket")
    )


def _est_jaccard(sig_x: F.Column, sig_y: F.Column, k: int) -> F.Column:
    """Signature-estimated Jaccard: fraction of agreeing MinHash
    positions, rounded to 6dp (oracle alignment). Symmetric in its
    arguments."""
    return F.round(
        F.size(
            F.filter(
                F.zip_with(sig_x, sig_y, lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(k)),
        6,
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hash_mode: str = "xxh64",
    ingest_batch: int | None = None,
) -> None:
    """Materialize the banded MinHash index of a deduplicated corpus:
    one row per (doc, band) carrying (id, signature, band, bucket),
    PARTITIONED BY band. This is the persisted half of incremental
    dedup — the corpus text is shingled and hashed exactly once, at
    index-build time; every later ingest batch probes this table
    (:func:`minhash_probe_increment`) instead of re-scanning 100 TB of
    text. Band partitioning bounds file sizes and lets a
    band-restricted probe prune at the scan.

    ``ingest_batch`` switches to the STREAMING layout: a leading
    ``ingest_batch=<n>`` partition level (this base build uses the
    given value, conventionally -1) that
    :func:`feagen_spark.streaming.incremental.streaming_ingest_dedup`
    appends per-micro-batch partitions into — partition depth must be
    uniform under one table root, so a streamed index must be
    bootstrapped with this parameter set."""
    rows = minhash_band_rows(
        df, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col,
        seed=seed, hash_mode=hash_mode,
    )
    part_by: list[str] | str = "band"
    if ingest_batch is not None:
        rows = rows.withColumn("ingest_batch", F.lit(int(ingest_batch)))
        part_by = ["ingest_batch", "band"]
    rows.write.mode("overwrite").partitionBy(part_by).parquet(path)


def minhash_probe_increment(
    spark: SparkSession,
    index_path: str,
    increment: DataFrame,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket: int | None = 500,
    hash_mode: str = "xxh64",
) -> DataFrame:
    """Incremental near-dup detection: pairs (id_a, id_b, est_jaccard)
    touching at least one INCREMENT doc, against a corpus indexed by
    :func:`write_minhash_index` — without re-shingling or re-hashing
    one byte of corpus text. Given the same (k, bands, n, seed,
    hash_mode) and id-disjoint inputs, the result set EQUALS
    ``minhash_lsh_pairs(corpus ∪ increment)`` restricted to pairs with
    an increment member (tested).

    Scale shape: only the increment is signatured (one groupBy over its
    shingles); the corpus side is a column-pruned scan of the index.
    The cross join broadcasts the banded increment (a daily batch is
    small next to the corpus), so the index NEVER shuffles;
    increment-internal pairs reuse the batch operator's self-join on
    the tiny side. The
    ``max_bucket`` hot-bucket cap counts corpus + increment members
    per bucket — identical semantics to the one-shot operator — via a
    (band, bucket)-only scan of the index, no signatures or text on
    that wire. Corpus-internal pairs are by construction absent: they
    were resolved when the index was built.

    Contract: increment ids must be disjoint from corpus ids (same
    single-id-space rule as ``deterministic_negatives``); a shared id
    would silently self-pair and be dropped by the a<b guard."""
    # pin the increment's banded signatures: FOUR consumers below (the
    # cross-join probe, both sides of the self-join, the hot-bucket
    # count) would otherwise re-run the shingle→signature aggregate
    # wherever Catalyst fails to reuse the exchange. The increment is
    # bounded by contract (it gets broadcast), so the checkpoint is a
    # few MB; lazy, so plan-building stays action-free.
    inc_bands = minhash_band_rows(
        increment, k=k, bands=bands, n=n, id_col=id_col, text_col=text_col,
        seed=seed, hash_mode=hash_mode,
    ).localCheckpoint(eager=False)
    return probe_band_rows(
        spark, index_path, inc_bands, k=k, threshold=threshold,
        id_col=id_col, max_bucket=max_bucket,
    )


def probe_band_rows(
    spark: SparkSession,
    index_path: str,
    inc_bands: DataFrame,
    k: int = 32,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    max_bucket: int | None = 500,
    tag_kind: bool = False,
    index_where: F.Column | None = None,
) -> DataFrame:
    """The band-rows-level half of :func:`minhash_probe_increment`, for
    callers that already hold the increment's banded signatures (the
    streaming ingest loop computes them ONCE per batch and reuses the
    same frame for both the probe and the index append — shingling the
    batch twice per trigger was the cost the split removes,
    code-review r6). ``inc_bands`` must carry (id, signature, band,
    bucket) produced by the same (k, bands, n, seed, hash_mode) as the
    index (``minhash_band_rows``), ideally pinned (localCheckpoint) by
    the caller.

    ``tag_kind=True`` adds a ``pair_kind`` column ('cross' = one member
    indexed, 'intra' = both in the increment) — the keep-policy input
    for :func:`feagen_spark.streaming.incremental.streaming_ingest_dedup`.
    ``index_where`` filters the index scan (e.g. on a partition column
    such as ``ingest_batch`` — replay safety for streaming appenders);
    partition pruning makes it free."""
    idx = spark.read.parquet(index_path)
    if index_where is not None:
        idx = idx.where(index_where)
    if max_bucket is not None:
        hot = _hot_buckets(
            idx.select("band", "bucket").unionByName(
                inc_bands.select("band", "bucket")
            ),
            max_bucket,
        )
        idx = idx.join(hot, on=["band", "bucket"], how="left_anti")
        inc_bands = inc_bands.join(hot, on=["band", "bucket"], how="left_anti")
    probe = F.broadcast(
        inc_bands.select(
            "band",
            "bucket",
            F.col(id_col).alias("__id_i"),
            F.col("signature").alias("__sig_i"),
        )
    )
    cross = (
        idx.select(
            "band",
            "bucket",
            F.col(id_col).alias("__id_c"),
            F.col("signature").alias("__sig_c"),
        )
        .join(probe, on=["band", "bucket"])
        .where(F.col("__id_i") != F.col("__id_c"))
        .select(
            F.least("__id_i", "__id_c").alias("id_a"),
            F.greatest("__id_i", "__id_c").alias("id_b"),
            # est is symmetric — no need to reorder the signatures
            _est_jaccard(F.col("__sig_i"), F.col("__sig_c"), k).alias(
                "est_jaccard"
            ),
        )
    )
    if tag_kind:
        cross = cross.withColumn("pair_kind", F.lit("cross"))
    self_pairs = band_rows_self_pairs(inc_bands, k, id_col=id_col)
    if tag_kind:
        self_pairs = self_pairs.withColumn("pair_kind", F.lit("intra"))
    return (
        cross.unionByName(self_pairs)
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def band_rows_self_pairs(
    band_rows: DataFrame,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Un-thresholded candidate pairs (a<b) WITHIN one banded set —
    shared by the probe's intra leg and the streaming cold-start path
    (both already hold band rows; re-deriving pairs from raw text would
    shingle the batch a second time)."""
    # the self-join is increment × increment — broadcast one side so no
    # signature array ever rides a shuffle (plan-asserted)
    a, b = band_rows.alias("a"), F.broadcast(band_rows.alias("b"))
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _est_jaccard(F.col("a.signature"), F.col("b.signature"), k).alias(
                "est_jaccard"
            ),
        )
    )


# -- cross-set contamination (benchmark decontamination) -------------------------

def word_ngrams(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams per doc, JVM-side (split → slice →
    concat_ws → array_distinct → explode). The word-level counterpart
    of ``shingles`` — the unit of benchmark-decontamination overlap.
    Tokenization is the repo's canonical ``_ws_tokens`` (the oracle-
    pinned lower/trim/\\s+ split) so gram text can never drift from the
    other word-level operators."""
    from .textstats import _ws_tokens

    base = df.select(
        F.col(id_col), _ws_tokens(F.col(text_col)).alias("__toks")
    )
    idxs = F.sequence(
        F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(0))
    )
    grams = F.array_distinct(
        F.transform(
            idxs,
            lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
        )
    )
    return base.where(F.size("__toks") >= n).select(
        F.col(id_col), F.explode(grams).alias("gram")
    )


def cross_ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (corpus_id, bench_id, shared) pairs
    where a corpus document shares >= ``min_shared`` distinct word
    n-grams with a benchmark document — the standard n-gram-overlap
    test for eval-set contamination in training corpora.

    Scale shape: the benchmark side is tiny relative to the corpus
    (eval suites vs a 100 TB crawl), so its exploded gram set is
    BROADCAST and the corpus side stays a map-only scan + explode — no
    corpus shuffle at all until the (corpus_id, bench_id) count, which
    carries only matching rows."""
    cg = word_ngrams(corpus, n=n, id_col=id_col, text_col=text_col)
    bg = word_ngrams(benchmark, n=n, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("bench_id"), "gram"
    )
    return (
        cg.join(F.broadcast(bg), on="gram")
        .groupBy(F.col(id_col).alias("corpus_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# -- dedup clusters (connected components) ---------------------------------------

def _forest_reduce(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Connectivity-preserving edge reduction: per input PARTITION, a
    union-find over that partition's edges, then ONE (local_root, v)
    star row per distinct vertex. Components are invariant — the star
    connects exactly the vertices the partition's edges connected, and
    every input vertex appears (a root emits its own (r, r) self-loop
    row) — while |output| drops from |pairs| to |V_partition| AND the
    reduced graph's diameter is 2 per partition component, so
    downstream min-label propagation converges in ~1 round even where
    the input was a long chain (a spanning-FOREST emission, the obvious
    alternative, preserves whatever diameter the union-find tree
    happened to build — a clique's pairs can come back as a path and
    cost diameter/2 propagation rounds). Map-only (no shuffle); rows
    with a NULL endpoint pass through unreduced (they never merge
    components in the propagation joins either).

    Arrow batches, not pandas: a pandas batch holding a NULL turns the
    int64 id column into float64, which rounds ids above 2**53 and can
    merge or split components. NULL-endpoint rows are split off with
    ``pyarrow.compute`` and the remaining ids reach numpy as int64."""
    import numpy as np

    sel = pairs.select(id_a, id_b)
    _cc_labels = _make_np_cc()  # by-value for worker closures

    def _reduce(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        a_all, b_all, out_schema = [], [], None
        for rb in batches:
            out_schema = rb.schema
            ka, kb = rb.column(0), rb.column(1)
            null_mask = pc.or_(pc.is_null(ka), pc.is_null(kb))
            if pc.any(null_mask).as_py():
                yield rb.filter(null_mask)
                keep = pc.invert(null_mask)
                ka, kb = ka.filter(keep), kb.filter(keep)
            a_all.append(ka.to_numpy(zero_copy_only=False))
            b_all.append(kb.to_numpy(zero_copy_only=False))
        if not a_all:
            return
        av = np.concatenate(a_all)
        bv = np.concatenate(b_all)
        if not len(av):
            return
        # vectorized per-partition components (see _make_np_cc) over
        # the whole partition's edges, then the star emission
        verts = np.unique(np.concatenate([av, bv]))
        lab = _cc_labels(
            np.searchsorted(verts, av),
            np.searchsorted(verts, bv),
            len(verts),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(verts[lab], type=out_schema.field(0).type),
                pa.array(verts, type=out_schema.field(1).type),
            ],
            schema=out_schema,
        )

    return sel.mapInArrow(_reduce, sel.schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    method: str = "min_label",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → one
    ``(id, cluster_id)`` row per vertex, ``cluster_id`` = min id in the
    component (the canonical survivor a dedup pass keeps).

    Distributed min-label propagation: symmetrize the edges in one read
    of the input (each edge row emits both directions), then
    iterate ``label(v) ← min(label(v), min over neighbors' labels)``
    until a fixpoint. Each iteration is one hash join + one groupBy (two
    shuffles) over the PAIR graph — which is orders of magnitude smaller
    than the corpus (only near-dup candidates appear), so the loop runs
    on sketch-sized data even at 100 TB corpus scale. Iterations needed
    = max component diameter; dup clusters are template families with
    tiny diameters (pairs exist between most members), so 2-4 rounds in
    practice. For adversarial long-chain graphs pass
    ``method='star'`` — the large-star/small-star formulation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", public),
    O(log²)-round convergence regardless of diameter; ``min_label``
    stays the default because dedup-shaped graphs converge faster under
    it and ``max_iter`` guards the pathological case loudly.

    Convergence: labels only ever decrease, so a hop whose observed
    count of ``nmin < label`` rows is 0 has reached the fixpoint — the
    count rides the round's own job as an ``Observation``, with no
    extra action. ``localCheckpoint`` cuts the iterative
    lineage so the plan does not double each round (a real cluster
    deployment would use a reliable checkpoint dir instead)."""
    if method == "star":
        return _cc_star(pairs, id_a, id_b, max_iter)
    if method != "min_label":
        raise ValueError(f"unknown connected_components method {method!r}")
    # partition-local star reduction (r7, guide §2.3): components are
    # invariant under ANY edge set with the same connectivity, and a
    # dense dup family of m docs contributes ~m²/2 pair edges where
    # m−1 carry all the information. One map-only union-find per input
    # partition collapses each partition's edges to its component
    # stars (one row per distinct vertex, diameter 2), so the
    # symmetrize/distinct materialization and every propagation round
    # run on ~|V| edges instead of ~|pairs| — measured 18.9M → ~0.1M
    # edges on the sf1.0 dup-cluster graph — and the propagation
    # fixpoint arrives in ~1 round.
    pairs = _forest_reduce(pairs, id_a, id_b)
    from pyspark.sql import Observation

    # symmetrize in ONE read of the reduced edges: each row emits both
    # of its directions, so `_forest_reduce` and everything upstream of
    # it (the pair kernel's Python crossings) run once — a union of the
    # edges with their mirror would read that input once per branch.
    # LAZY checkpoints (VERDICT r5 #6): round 1 materializes both in
    # its own job — same compute, two fewer driver-side actions than
    # the eager init the loop used to pay before any propagation ran
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("s"), F.col(id_b).alias("d")),
                    F.struct(F.col(id_b).alias("s"), F.col(id_a).alias("d")),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def _propagate(lb: DataFrame, obs: Observation) -> DataFrame:
        nbr = (
            edges.join(lb, edges["d"] == lb["id"])
            .groupBy("s")
            .agg(F.min("label").alias("nmin"))
        )
        j = lb.join(nbr, lb["id"] == nbr["s"], "left")
        # per-hop changed count rides the round job: nmin < label is
        # EXACT fixpoint detection (labels only decrease), so the round
        # that reaches the fixpoint proves it — no separate confirm
        # round, unlike the old label-sum equality between rounds
        j = j.observe(
            obs,
            F.sum(
                F.when(F.col("nmin") < F.col("label"), 1).otherwise(0)
            ).alias("c"),
        )
        return j.select(
            lb["id"],
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                "label"
            ),
        )

    for _ in range(max_iter):
        # TWO propagation hops per materialized round: each round's cost
        # at moderate scale is dominated by the fixed checkpoint +
        # convergence-check job latency, not the joins, so doubling the
        # hops halves the round count for the same per-round price
        # (rounds needed ≈ diameter/2). Convergence: if the LAST hop
        # changed nothing, its input was already a fixpoint — done.
        hop1_obs, obs = Observation(), Observation()
        labels = _propagate(
            _propagate(labels, hop1_obs), obs
        ).localCheckpoint()
        if int(obs.get["c"] or 0) == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pathological chain graph? use a larger max_iter or a "
            "star-contraction variant)"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def _cc_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014, public algorithm) — the escape hatch for adversarial
    long-chain graphs where min-label propagation needs diameter/2
    rounds (VERDICT r3 #9). Converges in O(log² n) rounds regardless of
    component diameter:

    - large-star: every neighbor LARGER than u re-attaches to
      m(u) = min(Γ(u) ∪ {u});
    - small-star: u and its SMALLER neighbors all attach to their
      minimum.

    Edges are kept normalized as (hi > lo); at the fixpoint the edge
    set IS the star (node → component-min), so labels fall out without
    a final propagation. Each half-round is one groupBy + one join over
    the pair graph (sketch-sized, same as min-label); fixpoint detected
    by an order-independent edge-set signature (count + decimal xxhash
    sum — the same overflow-proof convention as the write-audit
    checksum)."""
    # same connectivity-preserving star reduction as min_label (r7):
    # star contraction's per-round joins scale with |edges|. Every
    # input vertex appears in the reduced rows (roots emit their own
    # (r, r) row), so the singleton-cluster rows `verts` produces below
    # are exactly the input's.
    pairs = _forest_reduce(pairs, id_a, id_b)
    e0 = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    # every vertex the pair list mentions — self-loop-only vertices have
    # no (hi > lo) edge but must still come back as their own singleton
    # cluster, exactly like min_label (code-review r4 finding)
    verts = e0.select(F.explode(F.array("s", "d")).alias("id")).distinct()
    from pyspark.sql import Observation

    # ONE definition of the order-independent edge-set signature,
    # observed on every materializing job (code-review r6: a separate
    # _sig() aggregate both duplicated these expressions — letting the
    # two copies drift — and cost one extra full-plan action before
    # the loop)
    def _sig_metrics():
        return (
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
        )

    def _sig_of(obs: Observation) -> tuple:
        m = obs.get
        return (int(m["n"]), int(m["h"] or 0))

    obs0 = Observation()
    e = (
        e0.where(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("hi"), F.least("s", "d").alias("lo")
        )
        .distinct()
        .observe(obs0, *_sig_metrics())
        .localCheckpoint()
    )
    prev = _sig_of(obs0)

    def _large(edges: DataFrame) -> DataFrame:
        adj = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = adj.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
        return (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )

    def _small(edges: DataFrame) -> DataFrame:
        # all edges already satisfy hi > lo, so Γ⁻(hi) = its lo side
        mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
        withm = edges.join(mins, "hi")
        re_lo = withm.select(
            F.col("lo").alias("hi"), F.col("m").alias("lo")
        ).where(F.col("hi") != F.col("lo"))
        re_hi = withm.select("hi", F.col("m").alias("lo"))
        return re_lo.union(re_hi).distinct()

    for _ in range(max_iter):
        # fixpoint signature rides the checkpoint job (VERDICT r5 #6):
        # one action per half-round pair instead of checkpoint + agg
        obs = Observation()
        e = (
            _small(_large(e))
            .observe(obs, *_sig_metrics())
            .localCheckpoint()
        )
        cur = _sig_of(obs)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star connected_components did not converge in {max_iter} "
            "rounds"
        )
    # non-roots point at their component min; every other mentioned
    # vertex (roots AND self-loop-only singletons) labels itself
    non_roots = e.select(
        F.col("hi").alias("id"), F.col("lo").alias("cluster_id")
    )
    selfs = verts.join(
        e.select(F.col("hi").alias("id")).distinct(), "id", "left_anti"
    )
    return non_roots.union(
        selfs.select("id", F.col("id").alias("cluster_id"))
    )


# -- SimHash ---------------------------------------------------------------------

def _simhash64_udf():
    """64-bit SimHash over whitespace tokens (Arrow-batched numpy).
    Built lazily — pandas_udf needs an active session in pyspark 4."""

    @pandas_udf("long")
    def _simhash64(texts: pd.Series) -> pd.Series:
        return _simhash_series(texts)

    return _simhash64


def _simhash_series(texts: pd.Series) -> pd.Series:
    """Batch-vectorized SimHash (VERDICT r2 #4): tokens are hashed ONCE
    PER UNIQUE TOKEN per Arrow batch (md5 → first 8 bytes, big-endian —
    process-independent AND engine-portable: DuckDB's md5() reproduces
    it, so doc_simhash carries a full value oracle), then the per-doc
    ±1 bit sums run as one numpy scatter-add over the whole batch — no
    per-doc Python loop, no per-occurrence hashing. Token multiplicity
    counts (each occurrence contributes ±1 per bit). Empty/NULL text →
    0.

    Tokenization is RE2-whitespace-exact ([ \\t\\n\\f\\r]+ — RE2's
    '\\s' has NO vertical tab, unlike Java's and Python's) so the split
    matches the DuckDB oracle's '\\s+' bit-for-bit; Python's bare
    ``str.split()`` would additionally split on UNICODE whitespace
    (NBSP, U+2028, …) and \\v, silently diverging from the oracle
    (code-review r3 + ADVICE r3 findings)."""
    import hashlib
    import re

    ws = re.compile(r"[ \t\n\f\r]+")
    tok_lists = [
        [t for t in ws.split(s.lower()) if t] for s in texts.fillna("")
    ]
    counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    flat = [t for toks in tok_lists for t in toks]
    if not flat:
        return pd.Series(np.zeros(len(texts), dtype=np.int64))
    uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
    hs = np.fromiter(
        (
            int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
            for t in uniq
        ),
        dtype=np.uint64,
        count=len(uniq),
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int32
    )
    pm = 2 * bits - 1                                     # (n_unique, 64) of ±1
    acc = np.zeros((len(texts), 64), dtype=np.int64)
    doc_idx = np.repeat(np.arange(len(texts)), counts)
    np.add.at(acc, doc_idx, pm[inv])
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    packed = ((acc > 0).astype(np.uint64) * weights).sum(axis=1)
    return pd.Series(packed.view(np.int64))


def add_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("simhash", _simhash64_udf()(F.col(text_col)))
