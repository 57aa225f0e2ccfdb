"""Training-data pipeline operators vs independent python/numpy oracles:
text stats, dedup family, similarity search, multimodal plumbing."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feagen_spark.operators import dedup as D
from feagen_spark.operators import similarity as S
from feagen_spark.operators import textstats as TS
from feagen_spark.operators import multimodal as MM

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog. It is a test."),
    (2, "The quick brown fox jumps over the lazy dog. It is a test."),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog! It is a test."),  # near dup
    (4, "Der Hund und die Katze, der ist gut und der bleibt."),
    (5, "le chat est noir et la nuit est belle, le jour est long"),
    (6, ""),
    (7, "completely different content about spark window functions and shuffles"),
    (8, "  The   quick brown fox jumps over the lazy dog. It is a test.  "),  # ws-norm dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.DataFrame(DOCS, columns=["doc_id", "text"])


def _norm(s):
    return re.sub(r"\s+", " ", s.strip().lower())


def _shingleset(s, n=3):
    s = _norm(s)
    return {s[i : i + n] for i in range(max(1, len(s) - n + 1)) if len(s[i : i + n]) == n}


# -- text stats ----------------------------------------------------------------

def test_token_counts(docs, docs_pdf):
    got = TS.add_token_count(docs).orderBy("doc_id").toPandas()
    exp = [len(t.split()) if t.strip() else 0 for t in docs_pdf["text"]]
    assert got["token_count"].tolist() == exp


def test_char_and_punct(docs, docs_pdf):
    got = TS.add_char_stats(docs).orderBy("doc_id").toPandas()
    for _, r in got.iterrows():
        t = docs_pdf.set_index("doc_id").loc[r["doc_id"], "text"]
        assert r["char_len"] == len(t)
        punct = sum(c in ".,;:!?" for c in t)
        assert np.isclose(r["punct_ratio"], punct / len(t) if t else 0.0)


def test_stopword_ratio(docs, docs_pdf):
    got = TS.add_stopword_ratio(docs).orderBy("doc_id").toPandas()
    for _, r in got.iterrows():
        t = docs_pdf.set_index("doc_id").loc[r["doc_id"], "text"]
        toks = t.split()
        # oracle counts ' w '-padded occurrences like the operator contract
        padded = " " + t.lower() + " "
        hits = sum(padded.count(f" {w} ") for w in TS.STOPWORDS_EN)
        exp = hits / len(toks) if toks else 0.0
        assert np.isclose(r["stopword_ratio"], exp), r["doc_id"]


def test_lang_id(docs):
    got = {
        r["doc_id"]: r["lang_id"]
        for r in TS.add_lang_id(docs).collect()
    }
    assert got[1] == "en" and got[4] == "de" and got[5] == "fr"
    assert got[6] == "und"


def test_fingerprint_md5_normalized(docs):
    got = TS.add_fingerprint(docs).orderBy("doc_id").toPandas()
    by_id = got.set_index("doc_id")["fingerprint"]
    # whitespace-normalized dup shares the fingerprint with the original
    assert by_id[1] == by_id[8] == by_id[2]
    assert by_id[1] != by_id[3]
    import hashlib
    assert by_id[1] == hashlib.md5(_norm(DOCS[0][1]).encode()).hexdigest()


def test_quality_score_bounds(docs):
    got = TS.add_quality_score(docs).toPandas()
    assert ((got["quality_score"] >= 0) & (got["quality_score"] <= 1)).all()
    by_id = got.set_index("doc_id")["quality_score"]
    assert by_id[7] > by_id[6]  # real sentence beats empty text


def test_text_profile_single_stage(docs):
    """The whole JVM-side profile must stay one map stage (no shuffle)."""
    prof = TS.text_profile(docs)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert prof.count() == len(DOCS)


# -- dedup ----------------------------------------------------------------------

def test_exact_dedup(docs):
    out = D.exact_dedup(docs).orderBy("doc_id").toPandas()
    # 2 and 8 are (normalized-)exact dups of 1 → dropped
    assert out["doc_id"].tolist() == [1, 3, 4, 5, 6, 7]


def test_exact_dup_groups(docs):
    """Every row exact_dedup drops belongs to the group of a kept row
    with the same normalized-text fingerprint, and that kept row is
    the group's lowest id."""
    fp = TS.add_fingerprint(docs).select("doc_id", "fingerprint")
    kept = D.exact_dedup(docs).select("doc_id")
    canon = fp.join(kept, "doc_id", "left_semi").withColumnRenamed(
        "doc_id", "canonical_id"
    )
    dropped = fp.join(kept, "doc_id", "left_anti").withColumnRenamed(
        "doc_id", "dup_id"
    )
    pairs = {
        (r["canonical_id"], r["dup_id"])
        for r in canon.join(dropped, "fingerprint").collect()
    }
    assert pairs == {(1, 2), (1, 8)}
    assert dropped.count() == len(pairs)


def test_ngram_jaccard_pairs_match_oracle(docs, docs_pdf):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    # oracle: exact jaccard on python shingle sets
    exp = {}
    for i in range(len(DOCS)):
        for j in range(i + 1, len(DOCS)):
            a, b = DOCS[i], DOCS[j]
            sa, sb = _shingleset(a[1]), _shingleset(b[1])
            if not sa or not sb:
                continue
            jac = len(sa & sb) / len(sa | sb)
            if jac >= 0.5:
                exp[(a[0], b[0])] = jac
    assert set(got) == set(exp)
    for k in exp:
        assert np.isclose(got[k], exp[k], atol=1e-6), k


def test_ngram_jaccard_blocked_equals_join(docs):
    """r7: the blocked matmul plan must emit BIT-IDENTICAL rows to the
    original shingle-self-join plan — pair set and jaccard doubles,
    under every n_blocks (1 ⇒ a single in-task matmul; 3 ⇒ docs split
    across real block pairs)."""
    from oracles import ngram_jaccard_pairs_join

    ref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_join(docs, n=3, threshold=0.3).collect()
    }
    for nb in (1, 3):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                docs, n=3, threshold=0.3, n_blocks=nb
            ).collect()
        }
        assert got == ref, nb


def _component_roots(pairs):
    """Union-find over an edge list: {vertex: its component's root}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    return {v: find(v) for v in parent}


def _components(pairs):
    """Connected components of an edge list, as sorted vertex lists."""
    groups = {}
    for v, root in _component_roots(pairs).items():
        groups.setdefault(root, set()).add(v)
    return sorted(map(sorted, groups.values()))


def test_ngram_jaccard_kernel_edge_inputs(spark):
    """The blocked pair kernel matches the self-join oracle bit for bit
    on inputs the fixtures never hold: a block pair whose local
    vocabulary exceeds ``_BLOCKED_DENSE_VOCAB_MAX`` (the sparse merge
    branch), NULL, empty and shorter-than-n texts, non-BMP characters,
    and NULL ids next to ids above 2**53 (distinct in int64, one value
    in float64). The cluster edges keep the pairs' components."""
    import random

    from oracles import ngram_jaccard_pairs_join

    rng = random.Random(11)
    alphabet = [chr(c) for c in range(0x4E00, 0x4E00 + 3000)]
    rows = []
    for i in range(30):  # ~1k distinct 3-grams each, a near copy apiece
        text = [rng.choice(alphabet) for _ in range(1000)]
        rows.append((2 * i, "".join(text)))
        for k in rng.sample(range(len(text)), 30):
            text[k] = rng.choice(alphabet)
        rows.append((2 * i + 1, "".join(text)))
    big = 2**60
    emoji = "party 🎉🎉 time 😀😁😂 over 🚀 the moon"
    fox = "the quick brown fox jumps over the dog"
    rows += [
        (100, None), (101, ""), (102, "ab"), (103, "  a  "),
        (104, emoji), (105, emoji.replace("🚀", "🛸")), (big + 3, emoji + "!"),
        (big + 1, fox), (big + 2, fox.replace("jumps", "jumped")),
        (None, fox),
    ]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    n_vocab = D.shingles(src).select("shingle").distinct().count()
    assert n_vocab > D._BLOCKED_DENSE_VOCAB_MAX
    ref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_join(src, n=3, threshold=0.5).collect()
    }
    assert (big + 1, big + 2) in ref and (104, 105) in ref
    assert sum(a < 100 for a, _ in ref) == 30
    for nb in (1, 3):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(
                src, n=3, threshold=0.5, n_blocks=nb
            ).collect()
        }
        assert got == ref, nb
        edges = D.ngram_jaccard_cluster_edges(
            src, n=3, threshold=0.5, n_blocks=nb
        ).collect()
        assert _components(edges) == _components(ref), nb


def test_forest_reduce_preserves_components(spark):
    """r7: _forest_reduce (partition-local star reduction) must keep
    (a) every vertex — including ones seen only in a self-loop row,
    (b) exact component structure, across a multi-partition scatter of
    a graph with dense cliques, chains, dups and reversed dups — while
    emitting one row per (partition, vertex)."""
    import random

    rng = random.Random(7)
    edges = []
    for base in (0, 100, 200):  # three 12-cliques: dense dup families
        mem = [base + i for i in range(12)]
        edges += [(a, b) for a in mem for b in mem if a < b]
    edges += [(1000 + i, 1001 + i) for i in range(30)]  # a long chain
    edges += [(5000, 5000), (42, 42)]  # self-loops (5000 is isolated)
    edges += [(e[1], e[0]) for e in edges[:20]]  # reversed dups
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(7)
    red = D._forest_reduce(df, "id_a", "id_b").collect()
    red_pairs = [(r["id_a"], r["id_b"]) for r in red]
    # star rows connect only vertices a real input edge connected: both
    # endpoints of every reduced row must share an input component
    ref, got = _component_roots(edges), _component_roots(red_pairs)
    assert set(ref) == set(got)  # vertex set incl. self-loop-only 5000
    assert _components(edges) == _components(red_pairs)
    # every reduced row stays WITHIN one input component (no spurious
    # merges smuggled in by the star emission)
    for a, b in red_pairs:
        assert ref[a] == ref[b], (a, b)
    # output size: one row per (partition, vertex) — at most 2 vertices
    # per edge per partition, and a co-located graph collapses to
    # exactly |V| rows
    assert len(red_pairs) <= 2 * len(edges)
    red1 = D._forest_reduce(
        df.coalesce(1), "id_a", "id_b"
    ).count()
    n_vertices = len(ref)
    assert red1 == n_vertices


def test_connected_components_big_ids_next_to_null(spark):
    """Ids above 2**53 must survive a partition that also holds a
    NULL-endpoint row: a pandas batch would turn the id columns into
    float64 and collapse 2**60+1..2**60+4 into one vertex."""
    base = 2**60
    edges = [(base + 1, base + 2), (base + 4, base + 3), (base + 1, None)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(1)
    got = {
        (r["id"], r["cluster_id"])
        for r in D.connected_components(df).where(
            F.col("id").isNotNull()
        ).collect()
    }
    assert got == {
        (base + 1, base + 1),
        (base + 2, base + 1),
        (base + 3, base + 3),
        (base + 4, base + 3),
    }


def test_ngram_cluster_edges_same_components(spark, docs):
    """r7: ngram_jaccard_cluster_edges must yield EXACTLY the connected
    components of the full ngram_jaccard_pairs set at the same
    parameters — across thresholds that exercise both the certain band
    and (τ near a pair's exact ratio) the boundary band."""
    rows = [(i, f"repeat repeat repeat block {i % 4} tail {i % 7}")
            for i in range(40)]
    big = spark.createDataFrame(rows, "doc_id long, text string")
    for src in (docs, big):
        for tau in (0.3, 0.5, 0.8):
            pairs = D.ngram_jaccard_pairs(src, n=3, threshold=tau).select(
                "id_a", "id_b"
            )
            edges = D.ngram_jaccard_cluster_edges(src, n=3, threshold=tau)
            ref = {
                (r["id"], r["cluster_id"])
                for r in D.connected_components(pairs).collect()
            }
            got = {
                (r["id"], r["cluster_id"])
                for r in D.connected_components(edges).collect()
            }
            assert got == ref, (tau, len(got), len(ref))


def _plan_nodes(node):
    """Every node of an executed physical plan, descending into AQE query
    stages (a stage hides its plan from ``children``)."""
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())


def test_ngram_cluster_edges_runs_pair_kernel_once(spark):
    """The star rows and the boundary pairs come out of ONE filter over
    the blocked pair kernel's output: the executed plan holds exactly
    one FlatMapGroupsInArrow (a union of two branches over the kernel
    would run it twice). The kernel's input exchange carries one row per
    (doc with a non-NULL id, block): B shingle arrays per doc, never a
    row per shingle."""
    rows = [(i, f"repeat repeat repeat block {i % 4} tail {i % 7}")
            for i in range(40)]
    rows += [(None, "repeat repeat repeat"), (40, None), (41, ""), (42, "ab")]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    n_blocks = 3
    edges = D.ngram_jaccard_cluster_edges(
        src, n=3, threshold=0.5, n_blocks=n_blocks
    )
    edges.collect()
    root = edges._jdf.queryExecution().executedPlan()
    plan = root.toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInArrow") == 1, plan
    kernel = next(
        n for n in _plan_nodes(root.executedPlan())
        if n.nodeName() == "FlatMapGroupsInArrow"
    )
    exchange = next(n for n in _plan_nodes(kernel) if n.nodeName() == "Exchange")
    written = exchange.metrics().apply("shuffleRecordsWritten").value()
    assert written == (len(rows) - 1) * n_blocks, plan


def test_connected_components_reads_input_once(spark):
    """connected_components evaluates its input once: pairs that pass
    through a Python UDF counting its rows in an accumulator leave the
    accumulator at the row count after the call (symmetrizing by a
    union with the mirrored edges would read the input twice)."""
    from pyspark.sql.functions import pandas_udf

    acc = spark.sparkContext.accumulator(0)

    @pandas_udf("long")
    def counted(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    edges = [(i, i + 1) for i in range(0, 60, 2)] + [(5, 7), (9, 9)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").select(
        counted("id_a").alias("id_a"), "id_b"
    )
    out = D.connected_components(pairs).collect()
    assert len(out) == 60
    assert acc.value == len(edges)


def test_connected_components_job_count(spark, job_ids):
    """connected_components on a materialized graph that converges in
    one round launches exactly JOBS Spark jobs: one pins the symmetrized
    edges, one pins the labels, and the rest run the round of two
    propagation hops. AQE's runtime switch of a sort-merge join to a
    broadcast join adds one or two jobs depending on which join side
    finishes first (11 or 12 jobs over ten calls on a local[4]
    session), so the test turns that switch off to pin the plan's own
    jobs."""
    JOBS = 9
    # 8 stars of 5 vertices, each hub its component's min id: in any
    # partitioning every edge touches the hub, so the first hop labels
    # every vertex and the second changes nothing
    edges = [(h, h + i) for h in range(0, 80, 10) for i in range(1, 5)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint()
    key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try:
        before = job_ids()
        labels = D.connected_components(pairs)
        launched = job_ids() - before
    finally:
        spark.conf.unset(key)
    assert labels.count() == 40
    assert len(launched) == JOBS, sorted(launched)


def test_minhash_lsh_finds_near_dups(docs):
    got = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(docs, k=32, bands=8, threshold=0.5).collect()
    }
    # exact/norm dups and the near-dup must be found
    assert (1, 2) in got and (1, 8) in got and (2, 8) in got
    assert (1, 3) in got  # near dup (1 char changed)
    # unrelated docs must not pair
    assert not any({4, 5, 7} & {a, b} and {1, 2, 3, 8} & {a, b} for a, b in got)


def test_minhash_estimate_close_to_exact(docs):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(docs, k=64, bands=16, threshold=0.3).collect()
    }
    sa, sb = _shingleset(DOCS[0][1]), _shingleset(DOCS[2][1])
    exact = len(sa & sb) / len(sa | sb)
    assert abs(est[(1, 3)] - exact) < 0.2  # 64-perm estimator tolerance


def test_minhash_probe_increment_equals_batch_restriction(spark, tmp_path):
    """The incremental path (persisted banded index + probe of a new
    batch) must return EXACTLY the one-shot operator's pairs restricted
    to pairs touching an increment doc — same est values."""
    texts = {
        1: "the quick brown fox jumps over the lazy dog it is a test",
        2: "the quick brown fox jumps over the lazy dog it is a test",
        3: "der hund und die katze der ist gut und der bleibt hier",
        4: "completely different content about spark window functions",
        # increment: a dup of corpus doc 1, a dup of increment doc 41,
        # and an unrelated doc
        41: "the quick brown fox jumps over the lazy dog it is a test!",
        42: "the quick brown fox jumps over the lazy dog it is a test!",
        43: "unrelated increment text about parquet footers and pruning",
    }
    full = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    corpus = full.where(F.col("doc_id") < 40)
    inc = full.where(F.col("doc_id") >= 40)
    kw = dict(k=32, bands=8, threshold=0.5)

    batch = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(full, **kw).collect()
    }
    expected = {p: v for p, v in batch.items() if p[0] >= 40 or p[1] >= 40}
    assert expected, batch  # the fixture must exercise cross + self pairs
    assert any(a < 40 for a, _ in expected)   # cross corpus-increment
    assert any(a >= 40 for a, _ in expected)  # increment-internal

    idx_path = str(tmp_path / "mh_index")
    D.write_minhash_index(corpus, idx_path, k=32, bands=8)
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_probe_increment(
            spark, idx_path, inc, **kw
        ).collect()
    }
    assert got == expected


def test_minhash_probe_increment_hot_bucket_parity(spark, tmp_path):
    """max_bucket must count corpus + increment members per bucket —
    identical semantics to the one-shot operator under a cap that
    actually fires (template-heavy docs share every band)."""
    tpl = "all work and no play makes jack a dull boy number %d"
    rows = [(i, tpl % 0) for i in range(20)]          # one giant template cluster
    rows += [(100 + i, tpl % 0) for i in range(3)]    # increment joins the cluster
    rows += [(200, "something entirely else with no template at all")]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = full.where(F.col("doc_id") < 100)
    inc = full.where(F.col("doc_id") >= 100)
    kw = dict(k=16, bands=4, threshold=0.5, max_bucket=10)

    batch = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(full, **kw).collect()
    }
    expected = {p: v for p, v in batch.items() if p[0] >= 100 or p[1] >= 100}

    idx_path = str(tmp_path / "mh_index")
    D.write_minhash_index(corpus, idx_path, k=16, bands=4)
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_probe_increment(
            spark, idx_path, inc, **kw
        ).collect()
    }
    assert got == expected


def test_simhash_near_dups(docs):
    """Exact and whitespace-normalized duplicates share a SimHash;
    unrelated text lies far outside a small Hamming radius."""
    sh = D.add_simhash(docs).toPandas().set_index("doc_id")["simhash"]

    def hamming(a, b):
        return bin((int(sh[a]) ^ int(sh[b])) & (2**64 - 1)).count("1")

    assert hamming(1, 2) == 0 and hamming(1, 8) == 0
    assert hamming(1, 7) > 3


def test_simhash_deterministic_across_runs(docs):
    a = D.add_simhash(docs).orderBy("doc_id").toPandas()["simhash"]
    b = D.add_simhash(docs).orderBy("doc_id").toPandas()["simhash"]
    assert (a == b).all()


# -- similarity -------------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(40, 8)).astype("float32")
    base[13] = base[2] + rng.normal(scale=0.01, size=8)  # near-dup of 2
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(40)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache(),
        base,
    )


def test_cosine_topk_matches_numpy(vectors):
    df, base = vectors
    queries = df.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = S.cosine_topk(df, queries, k=5).toPandas()
    norms = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = norms @ norms.T
    for qid in got["query_id"].unique():
        sub = got[got["query_id"] == qid].sort_values("rank")
        order = np.lexsort((np.arange(40), -np.round(sims[qid], 6)))[:5]
        assert sub["vec_id"].tolist() == [int(x) for x in order]
        assert np.allclose(
            sub["cosine"].to_numpy(), np.round(sims[qid][order], 6), atol=2e-6
        )


def test_lsh_topk_recall(vectors):
    df, base = vectors
    queries = df.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = S.cosine_topk(df, queries, k=3).toPandas()
    approx = S.lsh_topk(df, queries, k=3, n_planes=16, bands=8).toPandas()
    # rank-1 self-hit must always survive LSH (identical signature)
    ex1 = exact[exact["rank"] == 1].set_index("query_id")["vec_id"]
    ap1 = approx[approx["rank"] == 1].set_index("query_id")["vec_id"]
    assert (ex1 == ap1.loc[ex1.index]).all()
    # overall recall@3 above 0.5 on this tiny set
    ek = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    ak = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    assert len(ek & ak) / len(ek) >= 0.5


def test_cosine_near_dup_pairs(vectors):
    df, base = vectors
    got = {
        (r["id_a"], r["id_b"]) for r in S.cosine_near_dup_pairs(df, 0.95).collect()
    }
    assert (2, 13) in got
    # like lsh_topk, a band count that does not divide n_planes is
    # rejected before any job runs (not banded from 15 of 16 planes)
    import pytest

    with pytest.raises(ValueError, match="divisible by bands"):
        S.cosine_near_dup_pairs(df, 0.95, n_planes=16, bands=3)


def _semantic_dedup_ref(vecs: dict, n_cent: int, threshold: float):
    """Loop reference for semantic_dedup: md5-ordered seeds, argmax-
    cosine assignment (ties → lower centroid id), within-cluster pairs,
    drop the higher-rounded-cent_sim member (ties → higher id)."""
    import hashlib

    order = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    seeds = []
    for sid in order[:n_cent]:
        v = np.asarray(vecs[sid], dtype=np.float64)
        n = np.linalg.norm(v)
        seeds.append(v / (n if n > 0 else 1.0))
    out = {}
    for i, v in vecs.items():
        v = np.asarray(v, dtype=np.float64)
        vn = v / np.linalg.norm(v)
        sims = [float(vn @ s) for s in seeds]
        cid = int(np.argmax(sims))  # np.argmax ties → first (lower id)
        out[i] = {"centroid_id": cid, "cent_sim": round(sims[cid], 6) + 0.0}
    dropped = set()
    ids = sorted(vecs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if out[a]["centroid_id"] != out[b]["centroid_id"]:
                continue
            va = np.asarray(vecs[a], dtype=np.float64)
            vb = np.asarray(vecs[b], dtype=np.float64)
            cos = round(
                float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
            )
            if cos >= threshold:
                dropped.add(a if out[a]["cent_sim"] > out[b]["cent_sim"] else b)
    for i in ids:
        out[i]["keep"] = i not in dropped
    return out


def test_semantic_dedup_matches_loop_reference(vectors):
    df, base = vectors
    cent = S.seed_centroids(df, n_centroids=4)
    got = S.semantic_dedup(df, cent, threshold=0.95).collect()
    ref = _semantic_dedup_ref(
        {int(i): base[i] for i in range(len(base))}, 4, 0.95
    )
    assert len(got) == len(base)
    for r in got:
        e = ref[r["vec_id"]]
        assert r["centroid_id"] == e["centroid_id"], r
        assert r["keep"] == e["keep"], r
        assert abs(r["cent_sim"] - e["cent_sim"]) <= 2e-6, r


def test_semantic_dedup_drops_planted_twin(spark, vectors):
    """An exact twin (cosine 1.0, identical cent_sim) must lose exactly
    its higher id; of the planted near-dup pair (2, 13) exactly one
    member survives."""
    df, base = vectors
    twin = spark.createDataFrame(
        [(100, [float(x) for x in base[2]])], "vec_id long, embedding array<float>"
    )
    corpus = df.unionByName(twin)
    cent = S.seed_centroids(corpus, n_centroids=4)
    out = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_dedup(corpus, cent, threshold=0.95).collect()
    }
    assert len(out) == len(base) + 1
    assert out[100] is False          # twin of 2: same cent_sim, higher id
    assert (out[2], out[13]).count(True) == 1  # near-dup pair: one survivor


def test_seed_centroids_md5_order_and_normalization(vectors):
    import hashlib

    df, base = vectors
    cent = S.seed_centroids(df, n_centroids=3)
    order = sorted(
        range(len(base)),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:3]
    exp = np.vstack([base[i].astype(np.float64) for i in order])
    exp = exp / np.linalg.norm(exp, axis=1, keepdims=True)
    assert np.allclose(cent, exp, atol=1e-12)
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0, atol=1e-12)


# -- multimodal plumbing ------------------------------------------------------------

def test_multimodal_image_plumbing(spark):
    assets = MM.synthetic_assets(spark, n=16, kind="image").repartition(4, "asset_id")
    feats = MM.decode_image_features(assets, fake=True)
    pdf = feats.orderBy("asset_id").toPandas()
    assert len(pdf) == 16
    assert pdf["mean_intensity"].between(0, 255).all()
    assert set(pdf.columns) == {
        "asset_id", "width", "height", "n_bytes", "mean_intensity", "phash",
    }
    # deterministic across runs
    pdf2 = MM.decode_image_features(assets, fake=True).orderBy("asset_id").toPandas()
    assert (pdf["phash"] == pdf2["phash"]).all()


def test_multimodal_real_path_raises(spark):
    assets = MM.synthetic_assets(spark, n=2)
    with pytest.raises(Exception) as ei:
        MM.decode_image_features(assets, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


def test_multimodal_audio_rms(spark):
    assets = MM.synthetic_assets(spark, n=8, kind="audio")
    pdf = MM.decode_audio_features(assets, fake=True).toPandas()
    assert len(pdf) == 8
    assert ((pdf["rms"] > 0) & (pdf["rms"] < 1)).all()


def test_multimodal_audio_real_wav_decode(spark):
    """REAL codec path: decode_audio_features(fake=False) parses genuine
    WAV payloads via the stdlib wave module — sample rate and duration
    come from the container, RMS from the actual samples."""
    import io
    import math
    import wave

    import numpy as np

    def make_wav(freq_hz: float, sr: int, n: int) -> bytes:
        t = np.arange(n) / sr
        samples = (np.sin(2 * math.pi * freq_hz * t) * 0.5 * 32767).astype("<i2")
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(samples.tobytes())
        return buf.getvalue()

    rows = [
        (0, "audio", make_wav(440.0, 16000, 16000), 0, 0, 0, 0),
        (1, "audio", make_wav(880.0, 8000, 4000), 0, 0, 0, 0),
    ]
    assets = spark.createDataFrame(rows, schema=MM.ASSET_SCHEMA)
    pdf = (
        MM.decode_audio_features(assets, fake=False)
        .orderBy("asset_id")
        .toPandas()
    )
    # container metadata wins over the (zeroed) meta columns
    assert list(pdf["sample_rate"]) == [16000, 8000]
    assert list(pdf["duration_ms"]) == [1000, 500]
    # RMS of a 0.5-amplitude sine ≈ 0.5/sqrt(2)
    assert np.allclose(pdf["rms"], 0.5 / np.sqrt(2), atol=0.01)


def test_multimodal_image_real_path_uses_pil_when_available(spark):
    """The image decode auto-upgrades via optional-import PIL; in this
    container PIL is absent, so the declared NotImplementedError fires.
    (On a PIL-equipped cluster the same call decodes for real.)"""
    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    assets = MM.synthetic_assets(spark, n=2)
    if have_pil:
        # synthetic payloads are not real images: PIL raises a decode
        # error, NOT NotImplementedError — proves the real path engaged
        with pytest.raises(Exception) as ei:
            MM.decode_image_features(assets, fake=False).collect()
        assert "NotImplementedError" not in str(ei.value)
    else:
        with pytest.raises(Exception) as ei:
            MM.decode_image_features(assets, fake=False).collect()
        assert "NotImplementedError" in str(ei.value)


def test_synthetic_wav_assets_decode_real(spark):
    """synthetic_wav_assets emits genuine WAV containers; the real
    decode path recovers the written sample rates and a sine RMS."""
    import numpy as np

    assets = MM.synthetic_wav_assets(spark, n=6).repartition(2, "asset_id")
    pdf = MM.decode_audio_features(assets, fake=False).orderBy("asset_id").toPandas()
    assert len(pdf) == 6
    assert set(pdf["sample_rate"]) == {8000, 12000, 16000}
    assert (pdf["duration_ms"] == 500).all()
    assert np.allclose(pdf["rms"], 0.5 / np.sqrt(2), atol=0.01)


def test_ivf_exhaustive_equals_brute_force(spark, vectors):
    """nprobe == n_centroids probes every inverted list → IVF must equal
    exact brute-force top-k row for row."""
    import pandas as pd

    from feagen_spark.operators import similarity as S

    vectors, _ = vectors
    q = vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cent = S.train_ivf_centroids(vectors, n_centroids=8)
    ivf = (
        S.ivf_topk(vectors, q, cent, k=5, nprobe=8)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    brute = (
        S.cosine_topk(vectors, q, k=5).orderBy("query_id", "rank").toPandas()
    )
    pd.testing.assert_frame_equal(ivf, brute, check_dtype=False)


def test_ivf_centroids_deterministic_and_probe_recall(spark, vectors):
    """Same seed → identical centroids; pruned probes (nprobe=3 of 8)
    keep high recall against brute force on the real vectors."""
    import numpy as np

    from feagen_spark.operators import similarity as S

    vectors, _ = vectors
    c1 = S.train_ivf_centroids(vectors, n_centroids=8, seed=7)
    c2 = S.train_ivf_centroids(vectors, n_centroids=8, seed=7)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)

    q = vectors.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = S.ivf_topk(vectors, q, c1, k=5, nprobe=3).toPandas()
    brute = S.cosine_topk(vectors, q, k=5).toPandas()
    got = set(zip(ivf.query_id, ivf.vec_id))
    want = set(zip(brute.query_id, brute.vec_id))
    recall = len(got & want) / len(want)
    assert recall >= 0.6, recall  # random vectors: queries find themselves + most neighbors


def test_tfidf_matches_python_oracle(docs, docs_pdf):
    """tf, smooth idf and top-k selection vs a plain-python oracle."""
    import math
    from collections import Counter

    from feagen_spark.operators import textstats as TS2

    got = TS2.tfidf_terms(docs, top_k=3).toPandas()
    # python oracle
    token_lists = {
        r.doc_id: [t for t in str(r.text).lower().strip().split() if t]
        for r in docs_pdf.itertuples()
    }
    n = len(token_lists)
    dfreq = Counter()
    for toks in token_lists.values():
        dfreq.update(set(toks))
    for doc_id, toks in token_lists.items():
        if not toks:
            continue
        tf = Counter(toks)
        scored = sorted(
            (
                (t, c * (math.log((n + 1.0) / (dfreq[t] + 1.0)) + 1.0))
                for t, c in tf.items()
            ),
            key=lambda x: (-x[1], x[0]),
        )[:3]
        sub = got[got.doc_id == doc_id].sort_values("rank")
        assert list(sub.term) == [t for t, _ in scored], doc_id
        for (t, s), (_, row) in zip(scored, sub.iterrows()):
            assert abs(row.tfidf - s) < 1e-9


def test_dup_ngram_ratio(spark):
    from feagen_spark.operators import textstats as TS3

    df = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e a b c d e"),  # heavy 5-gram repetition
            (2, "one two three four five six seven"),  # all distinct
            (3, "too short"),  # fewer tokens than n
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.dup_ngram_ratio, r.dup_ngram_ratio_n)
        for r in TS3.add_dup_ngram_ratio(df, n=5).collect()
    }
    # doc 1: 11 grams, distinct = 5 (cyclic) → ratio 1 - 5/11
    assert abs(got[1][0] - (1 - 5 / 11)) < 1e-9 and got[1][1] == 11
    assert got[2] == (0.0, 3)
    assert got[3] == (0.0, 0)
    assert got[4] == (0.0, 0)


def test_ivf_assign_and_topk_match_numpy_at_256_centroids(spark, vectors):
    """The quantizer has one plan at every size: ``ivf_assign`` and
    ``ivf_topk(nprobe=4)`` at 256 × 8 equal a numpy reference (stable
    argsort of the negated dots, lower centroid id on ties), and no
    ``ivf_assign`` plan, small or large, inlines the centroid matrix as
    a literal fold."""
    df, base = vectors
    rng = np.random.RandomState(11)
    cent = rng.normal(size=(256, 8))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    X = base.astype(np.float64)
    order = np.argsort(-(X @ cent.T), axis=1, kind="stable")

    got = S.ivf_assign(df, cent).orderBy("vec_id").toPandas()
    assert got["centroid_id"].tolist() == order[:, 0].tolist()

    qids = [0, 2, 13]
    q = df.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = S.ivf_topk(df, q, cent, k=5, nprobe=4).toPandas()
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for qid in qids:
        cand = np.flatnonzero(np.isin(order[:, 0], order[qid, :4]))
        cos = np.round(Xn[cand] @ Xn[qid], 6)
        want = cand[np.lexsort((cand, -cos))][:5]
        sub = top[top["query_id"] == qid].sort_values("rank")
        assert sub["vec_id"].tolist() == want.tolist(), qid

    for n_cent, dim in ((4, 8), (256, 8), (256, 32)):
        c = rng.normal(size=(n_cent, dim))
        c /= np.linalg.norm(c, axis=1, keepdims=True)
        emb = F.expr(f"flatten(array_repeat(embedding, {dim // 8}))")
        plan = S.ivf_assign(
            df.withColumn("embedding", emb), c
        )._jdf.queryExecution().analyzed().toString()
        assert "probe(" in plan, plan[:500]
        for fold in ("array_sort", "zip_with", "aggregate("):
            assert fold not in plan, (n_cent, dim, fold)


def test_ivf_assign_vector_input_contract(spark, vectors):
    """A NULL vector gets a NULL centroid_id (it never probes or becomes
    a candidate); array<float> and array<double> give the same
    assignment; a ragged vector, or one with a NULL element, fails with
    a message naming the expected and the actual dimension."""
    df, base = vectors
    cent = S.seed_centroids(df, n_centroids=4)
    want = {
        r["vec_id"]: r["centroid_id"] for r in S.ivf_assign(df, cent).collect()
    }
    as_double = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    assert {
        r["vec_id"]: r["centroid_id"]
        for r in S.ivf_assign(as_double, cent).collect()
    } == want

    with_null = df.unionByName(
        spark.createDataFrame([(99, None)], "vec_id long, embedding array<float>")
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in S.ivf_assign(with_null, cent).collect()
    }
    assert got.pop(99) is None and got == want
    q = with_null.where("vec_id IN (2, 99)").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = S.ivf_topk(with_null, q, cent, k=5, nprobe=4).toPandas()
    assert set(top["query_id"]) == {2} and 99 not in set(top["vec_id"])

    for bad, actual in (
        ([0.5] * 7, "dimension 7"),
        ([0.5] * 7 + [None], "7 non-NULL"),
    ):
        ragged = df.unionByName(
            spark.createDataFrame(
                [(98, bad)], "vec_id long, embedding array<float>"
            )
        )
        with pytest.raises(Exception) as ei:
            S.ivf_assign(ragged, cent).collect()
        msg = str(ei.value)
        assert "expected dimension 8" in msg and actual in msg, msg[:2000]


def test_semantic_dedup_keeps_null_vector_row(spark, vectors):
    """One output row per input row: a NULL vector comes back with NULL
    centroid_id and cent_sim and keep = true; every other row is what
    the corpus without it gives."""
    df, base = vectors
    cent = S.seed_centroids(df, n_centroids=4)
    want = {
        r["vec_id"]: tuple(r)
        for r in S.semantic_dedup(df, cent, threshold=0.95).collect()
    }
    with_null = df.unionByName(
        spark.createDataFrame([(99, None)], "vec_id long, embedding array<float>")
    )
    got = {
        r["vec_id"]: tuple(r)
        for r in S.semantic_dedup(with_null, cent, threshold=0.95).collect()
    }
    assert got.pop(99) == (99, None, None, True)
    assert got == want


def test_connected_components_matches_union_find(spark):
    """Min-label propagation vs a plain-python union-find on a graph
    with a chain, a triangle, an isolated edge and shared-min collisions."""
    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain -> cluster 1
        (10, 11), (11, 12), (10, 12),    # triangle -> cluster 10
        (20, 21),                        # edge -> cluster 20
        (5, 4),                          # extends the chain -> still 1
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in D.connected_components(df).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    want = {v: find(v) for v in parent}
    assert got == want


def test_connected_components_empty_and_single_edge(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(df).count() == 0
    one = spark.createDataFrame([(7, 3)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in D.connected_components(one).collect()}
    assert got == {3: 3, 7: 3}


def test_connected_components_long_chain_guard(spark):
    """A long chain (pathological diameter) must either converge within
    max_iter two-hop rounds or fail LOUDLY — never return a partially
    propagated labeling. 24 nodes / diameter 23 converges in <= 12
    rounds; max_iter=2 on the same graph raises."""
    chain = [(i, i + 1) for i in range(23)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in D.connected_components(df).collect()}
    assert set(got.values()) == {0} and len(got) == 24

    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(df, max_iter=2)


def test_cross_ngram_overlap_matches_python(spark):
    """Decontamination pairs vs a plain-python distinct-word-3-gram
    oracle, incl. the min_shared threshold and short-doc exclusion."""
    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "alpha beta gamma delta nine ten"),   # overlaps bench 10
        (4, "too short"),                          # < n tokens -> no grams
    ]
    bench_rows = [
        (10, "alpha beta gamma delta epsilon omega"),
        (11, "unrelated words entirely here now"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    def grams(s, n=3):
        t = s.lower().split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    want = {}
    for cid, ct in corpus_rows:
        for bid, bt in bench_rows:
            sh = len(grams(ct) & grams(bt))
            if sh >= 2:
                want[(cid, bid)] = sh

    got = {
        (r["corpus_id"], r["bench_id"]): r["shared"]
        for r in D.cross_ngram_overlap(corpus, bench, n=3, min_shared=2).collect()
    }
    assert got == want and (1, 10) in got and (3, 10) in got


def test_connected_components_star_long_chain_and_parity(spark):
    """method='star' (large-star/small-star, Kiveris et al.) must solve
    the adversarial long-chain graph min-label loudly refuses: a
    1000-edge chain needs ~250 two-hop min-label rounds (> the default
    25) but converges in O(log² n) star rounds (VERDICT r3 #9). Also
    parity vs min_label on a mixed random graph."""
    import numpy as np

    # scatter the chain across many partitions: the r7 partition-local
    # star reduction legitimately SOLVES a co-located chain (one
    # union-find pass), so the adversarial case is a chain whose edges
    # are spread so every partition holds disconnected fragments and
    # the reduced graph keeps a large diameter
    chain = spark.range(1000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).repartition(64)
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iter=3)
    got = D.connected_components(chain, method="star", max_iter=30).toPandas()
    assert len(got) == 1001
    assert (got["cluster_id"] == 0).all()
    assert sorted(got["id"]) == list(range(1001))

    rng = np.random.RandomState(3)
    edges = [
        (int(a), int(b))
        for a, b in rng.randint(0, 80, size=(120, 2))
        if a != b
    ]
    p2 = spark.createDataFrame(edges, "id_a long, id_b long")
    star = (
        D.connected_components(p2, method="star")
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    ml = (
        D.connected_components(p2, method="min_label")
        .toPandas().sort_values("id").reset_index(drop=True)
    )
    assert (star["id"].values == ml["id"].values).all()
    assert (star["cluster_id"].values == ml["cluster_id"].values).all()


def test_label_centroids_matches_numpy_and_plan(vectors):
    """Per-label centroid aggregate: values match numpy means; the plan
    is ONE hash exchange with NO Generate/explode node — the per-
    dimension scalar-agg shape, never a (rows x dim) explode."""
    import re

    df, base = vectors
    labeled = df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    out = S.label_centroids(labeled, dim=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan
    assert (
        len(
            [
                l
                for l in plan.splitlines()
                if re.search(r"\bExchange\b", l) and "hashpartitioning" in l
            ]
        )
        == 1
    ), plan

    got = {r["label"]: (r["n"], r["centroid"]) for r in out.collect()}
    for lbl in range(3):
        members = base[[i for i in range(40) if i % 3 == lbl]].astype("float64")
        n, cent = got[lbl]
        assert n == len(members)
        assert np.allclose(np.array(cent), members.mean(axis=0), atol=1e-9)


def test_connected_components_star_self_loop_parity(spark):
    """Self-loop-only vertices must come back as singleton clusters from
    BOTH methods — star used to drop them with its s != d edge filter
    (code-review r4 finding)."""
    df = spark.createDataFrame(
        [(7, 7), (1, 2)], "id_a long, id_b long"
    )
    for method in ("min_label", "star"):
        got = {
            r["id"]: r["cluster_id"]
            for r in D.connected_components(df, method=method).collect()
        }
        assert got == {1: 1, 2: 1, 7: 7}, (method, got)


def test_interval_join_semantics_and_plan(spark):
    """Containment join: overlapping intervals multi-match, chunk
    boundaries don't drop or duplicate pairs, end-exclusive mode,
    left-join keeps unmatched events; plan is an equi-join on
    (key, chunk) — never a nested-loop/cartesian theta join."""
    import datetime as dt
    import re

    from feagen_spark.operators.intervals import interval_join

    t0 = dt.datetime(2025, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    events = spark.createDataFrame(
        [
            ("u", 1, ts(100)),
            ("u", 2, ts(7300)),   # inside long interval, 3rd chunk
            ("u", 3, ts(9999)),   # matches nothing
            ("u", 4, ts(500)),    # inside BOTH overlapping intervals
            ("v", 5, ts(100)),    # right key boundary: u's intervals no
        ],
        "k string, event_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            ("u", "a", ts(0), ts(1000)),
            ("u", "b", ts(400), ts(600)),     # overlaps a
            ("u", "c", ts(7000), ts(7500)),   # spans chunks at span=3600? no: single; use long one
            ("u", "d", ts(0), ts(8000)),      # spans 3 chunks
            ("u", "bad", ts(50), ts(10)),     # start > end: dropped
        ],
        "k string, iv string, start timestamp, end timestamp",
    )
    out = interval_join(
        events, intervals, on=["k"], chunk_span_s=3600
    )
    got = sorted((r["event_id"], r["iv"]) for r in out.collect())
    assert got == [
        (1, "a"), (1, "d"),
        (2, "c"), (2, "d"),
        (4, "a"), (4, "b"), (4, "d"),
    ], got

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan

    # end-exclusive: event exactly at an interval end no longer matches
    excl = interval_join(
        events, intervals, on=["k"], chunk_span_s=3600, end_inclusive=False
    )
    ev_end = spark.createDataFrame(
        [("u", 9, ts(1000))], "k string, event_id long, ts timestamp"
    )
    at_end = interval_join(
        ev_end, intervals, on=["k"], chunk_span_s=3600, end_inclusive=False
    )
    assert sorted(r["iv"] for r in at_end.collect()) == ["d"]  # not 'a'
    assert excl.count() == 7  # no event sits exactly on an end here

    # left join: unmatched events survive with NULL interval columns;
    # anti-join keys on the declared event_id, so a NULL payload column
    # on a MATCHED event must not re-emit it as a null-padded dup
    # (ADVICE r4: full-row '=' anti-join was null-rejecting)
    ev_null = events.withColumn(
        "payload",
        F.when(F.col("event_id") != 1, F.concat(F.lit("p"), "event_id")),
    )
    left = interval_join(
        ev_null, intervals, on=["k"], chunk_span_s=3600, how="left",
        event_id="event_id",
    )
    rows = {(r["event_id"], r["iv"]) for r in left.collect()}
    assert (3, None) in rows and (5, None) in rows
    assert (1, None) not in rows  # NULL payload on matched event: no dup
    assert len(rows) == 9  # 7 matches + 2 null-padded

    # how='left' without event_id and ambiguous column names both fail
    # with contract errors, not silent wrong answers
    import pytest as _pt

    with _pt.raises(ValueError, match="event_id"):
        interval_join(events, intervals, on=["k"], how="left")
    with _pt.raises(ValueError, match="share non-key"):
        interval_join(
            events.withColumn("iv", F.lit("x")), intervals, on=["k"]
        )


try:  # property harness (mirrors tests/test_asof.py)
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


def _ref_interval(events, intervals, end_inclusive):
    """Loop reference for containment: every (event, interval) pair of
    the same key with start <= ts <= end (or < end), inverted intervals
    dropped."""
    pairs = set()
    for ei, (k, t) in enumerate(events):
        for ii, (ik, s, e) in enumerate(intervals):
            if ik != k or s > e:
                continue
            if s <= t and (t <= e if end_inclusive else t < e):
                pairs.add((ei, ii))
    return pairs


if _HYP:

    @settings(max_examples=8, deadline=None)
    @given(
        events=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 80)),
            min_size=1, max_size=10,
        ),
        intervals=st.lists(
            st.tuples(
                st.sampled_from("ab"),
                st.integers(0, 80),
                st.integers(0, 80),
            ),
            min_size=0, max_size=8,
        ),
        end_inclusive=st.booleans(),
        span=st.sampled_from([1, 7, 50]),
        left=st.booleans(),
    )
    def test_interval_join_property_matches_reference(
        spark, events, intervals, end_inclusive, span, left
    ):
        """interval_join on random data — overlapping, zero-length,
        inverted and boundary-equal intervals, chunk spans from
        smaller-than-interval to larger-than-domain, inner and left —
        must equal the loop reference exactly (VERDICT r4 #5)."""
        import datetime as dt

        from feagen_spark.operators.intervals import interval_join

        t0 = dt.datetime(2025, 1, 1)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        edf = spark.createDataFrame(
            [(i, k, ts(t)) for i, (k, t) in enumerate(events)],
            "event_id long, k string, ts timestamp",
        )
        ivdf = spark.createDataFrame(
            [(i, k, ts(s), ts(e)) for i, (k, s, e) in enumerate(intervals)],
            "iv_id long, k string, start timestamp, end timestamp",
        ) if intervals else spark.createDataFrame(
            [], "iv_id long, k string, start timestamp, end timestamp"
        )
        out = interval_join(
            edf, ivdf, on=["k"], chunk_span_s=span,
            end_inclusive=end_inclusive,
            how="left" if left else "inner",
            event_id="event_id" if left else None,
        )
        want = _ref_interval(events, intervals, end_inclusive)
        rows = [(r["event_id"], r["iv_id"]) for r in out.collect()]
        got = {(e, i) for e, i in rows if i is not None}
        assert got == want
        assert len(rows) == len(set(rows)), "duplicate pairs emitted"
        if left:
            matched_events = {e for e, _ in want}
            null_events = {e for e, i in rows if i is None}
            assert null_events == set(range(len(events))) - matched_events


def _dequantize(row, qmax=127):
    """v̂_i = q_i · scale / qmax: the reconstruction a reader of the
    int8 codes computes."""
    return np.asarray(row["q_vec"], dtype="float64") * row["q_scale"] / qmax


def test_quantize_embeddings_roundtrip_and_edge_cases(spark, vectors):
    """int8 codes: |code| <= 127, scale = max|v|, reconstruction error
    bounded by scale/254 per element; zero/empty/NULL vectors safe."""
    from feagen_spark.operators.similarity import quantize_embeddings

    df, base = vectors
    out = quantize_embeddings(df, "embedding").orderBy("vec_id").collect()
    for r in out:
        v = np.asarray(r["embedding"], dtype="float64")
        codes = np.asarray(r["q_vec"])
        scale = r["q_scale"]
        assert scale == pytest.approx(float(np.abs(v).max()))
        assert np.abs(codes).max() <= 127
        err = np.abs(_dequantize(r) - v)
        assert err.max() <= scale / 254 + 1e-12
    # exact integer codes match the definition
    want = np.round(
        np.asarray(out[0]["embedding"], dtype="float64")
        / out[0]["q_scale"] * 127
    ).astype("int64")
    assert list(want) == list(out[0]["q_vec"])

    edge = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, []), (3, None)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(edge, "embedding").collect()}
    assert rows[1]["q_scale"] == 0.0 and rows[1]["q_vec"] == [0, 0]
    assert rows[2]["q_scale"] == 0.0 and rows[2]["q_vec"] == []
    assert rows[3]["q_scale"] is None and rows[3]["q_vec"] is None

    with pytest.raises(ValueError, match="bits"):
        quantize_embeddings(df, "embedding", bits=1)


def test_quantize_embeddings_stays_jvm_map_only(vectors):
    """Quantization is storage-path code: it must compile to a map-only
    JVM plan — no Exchange, no Python workers (higher-order functions
    only)."""
    from feagen_spark.operators.similarity import quantize_embeddings

    df, _ = vectors
    out = quantize_embeddings(df, "embedding")
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in final, final


def test_quantized_cosine_preserves_neighbor_ranking(vectors):
    """The point of int8 storage: top-1 cosine neighbors survive
    quantization for well-separated vectors (the planted near-dup pair
    must still find each other through the codes)."""
    from feagen_spark.operators.similarity import quantize_embeddings

    df, base = vectors
    q = quantize_embeddings(df, "embedding")
    rec = {r["vec_id"]: _dequantize(r) for r in q.collect()}
    m = np.stack([rec[i] for i in range(40)])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = mn @ mn.T
    np.fill_diagonal(sims, -np.inf)
    assert sims[2].argmax() == 13 and sims[13].argmax() == 2


def test_quantize_embeddings_nan_guard_and_storage_width(spark):
    """NaN/Inf elements must fail LOUDLY (ANSI cast would otherwise
    die cryptically mid-job), and int8 codes must be schema-level
    tinyint — the 4x storage claim is about the column width."""
    from pyspark.sql.types import ArrayType, ByteType

    from feagen_spark.operators.similarity import quantize_embeddings

    ok = spark.createDataFrame(
        [(1, [0.5, -1.0])], "vec_id long, embedding array<double>"
    )
    q = quantize_embeddings(ok, "embedding")
    assert isinstance(q.schema["q_vec"].dataType, ArrayType)
    assert isinstance(q.schema["q_vec"].dataType.elementType, ByteType)

    for bad_vec in ([1.0, float("nan")], [float("inf"), 1.0]):
        bad = spark.createDataFrame(
            [(1, bad_vec)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception, match="non-finite"):
            quantize_embeddings(bad, "embedding").collect()


def test_hash_tokenize_matches_python_and_composes_with_packing(spark):
    """md5-mode ids reproduce hashlib exactly (the portable bridge);
    ids are stable across layouts; text → hash_tokenize → pack →
    materialize yields packed int arrays whose length equals used_len."""
    import hashlib

    from feagen_spark.operators.cleaning import (
        materialize_packed_sequences,
        pack_sequences,
    )
    from feagen_spark.operators.textstats import hash_tokenize

    docs = spark.createDataFrame(
        [(i, f"Doc {i} has words w{i % 7} and w{(i * 3) % 5}")
         for i in range(30)],
        "doc_id long, text string",
    )
    V = 1024
    t = hash_tokenize(docs, vocab_size=V, method="md5")
    got = {r["doc_id"]: r["token_ids"] for r in t.collect()}

    def pyid(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % V

    for i in range(30):
        toks = f"doc {i} has words w{i % 7} and w{(i * 3) % 5}".split()
        assert got[i] == [pyid(x) for x in toks]
    assert all(0 <= x < V for ids in got.values() for x in ids)

    # NULL text -> NULL ids; empty text -> empty array
    edge = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    e = {r["doc_id"]: r["token_ids"]
         for r in hash_tokenize(edge, vocab_size=V).collect()}
    assert e[1] is None and e[2] == []

    # end-to-end: token ids -> pack -> materialize (packed ints)
    lens = t.withColumn("n_tok", F.size("token_ids").cast("long"))
    assign = pack_sequences(lens, "doc_id", "n_tok", max_len=32, n_buckets=2)
    packed = materialize_packed_sequences(
        assign, lens.select("doc_id", "token_ids"),
        "doc_id", "n_tok", "token_ids", max_len=32,
    ).collect()
    assert sum(r["n_docs"] for r in packed) == 30
    for r in packed:
        assert len(r["packed"]) == r["used_len"]
        assert all(isinstance(x, int) for x in r["packed"])


def test_hash_tokenize_jvm_map_only(spark):
    from feagen_spark.operators.textstats import hash_tokenize

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = hash_tokenize(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in final, final


def test_token_count_whitespace_edges(spark):
    """token_count counts NON-EMPTY segments: tab/newline-edged and
    whitespace-only text must not produce phantom tokens (code-review
    r6); count equals len(_ws_tokens) on every input."""
    from feagen_spark.operators.textstats import add_token_count

    df = spark.createDataFrame(
        [
            (1, "\ta"),
            (2, "a b\n"),
            (3, "\t\n "),
            (4, ""),
            (5, None),
            (6, "  x  y  "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["token_count"] for r in add_token_count(df).collect()}
    assert got == {1: 1, 2: 2, 3: 0, 4: 0, 5: None, 6: 2}


def test_paragraph_dedup_matches_loop_reference(spark):
    """Cross-doc paragraph dedup == the obvious sequential algorithm:
    walk docs in (id, pos) order, keep a paragraph iff its normalized
    form is unseen (or structural/short)."""
    docs = {
        1: "alpha header\nbody one unique\nshared boilerplate line",
        2: "shared boilerplate line\nbody two unique\n\nalpha header",
        3: "body three unique\nbody three unique\nx",   # intra-doc dup + short para
        4: "shared boilerplate line",                    # fully boilerplate
        5: None,                                         # NULL text survives as ""
        6: "",                                           # empty doc
    }
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_paras_dropped"])
        for r in D.paragraph_dedup(df, min_chars=2).collect()
    }

    seen = set()
    want = {}
    for i in sorted(docs):
        paras = (docs[i] or "").split("\n")
        kept, dropped = [], 0
        for p in paras:
            norm = " ".join(p.lower().split())
            if len(norm) < 2:
                kept.append(p)
            elif norm not in seen:
                seen.add(norm)
                kept.append(p)
            else:
                dropped += 1
        want[i] = ("\n".join(kept), dropped)
    assert got == want, (got, want)


def test_paragraph_dedup_digest_shuffle_carries_no_text(spark):
    """The first-occurrence election must shuffle digests + scalars
    only — paragraph text enters a shuffle exactly once (reassembly)."""
    from tests.test_plans import _exchange_blocks, _formatted

    df = spark.createDataFrame(
        [(i, f"para {i}\nshared line") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _formatted(D.paragraph_dedup(df))
    text_exchanges = [
        b for b in _exchange_blocks(plan) if "__para" in b["input"]
    ]
    assert len(text_exchanges) <= 1, [b["input"] for b in text_exchanges]


# ---------------------------------------------------------------- DSIR


def _ref_dsir(raw_rows, tgt_ids, m, alpha, use_bigrams=True):
    """Loop reference for dsir_logweight (md5 bridge): hashed
    unigram+bigram bucket counts, smoothed log-ratio, per-doc sum."""
    import hashlib
    import math

    def grams(text):
        toks = [
            t
            for t in re.split("[ \t\n\f\r]+", (text or "").lower().strip())
            if t
        ]
        g = list(toks)
        if use_bigrams:
            g += [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return g

    def bkt(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    tgt_cnt: dict[int, int] = {}
    raw_cnt: dict[int, int] = {}
    doc_bkts = {}
    for doc_id, text in raw_rows:
        bs = [bkt(g) for g in grams(text)]
        doc_bkts[doc_id] = bs
        for b in bs:
            raw_cnt[b] = raw_cnt.get(b, 0) + 1
    for doc_id, text in raw_rows:
        if doc_id in tgt_ids:
            for b in (bkt(g) for g in grams(text)):
                tgt_cnt[b] = tgt_cnt.get(b, 0) + 1
    tt, rt = sum(tgt_cnt.values()), sum(raw_cnt.values())
    out = {}
    for doc_id, bs in doc_bkts.items():
        if not bs:
            out[doc_id] = (0, None)
            continue
        w = sum(
            math.log((tgt_cnt.get(b, 0) + alpha) / (tt + alpha * m))
            - math.log((raw_cnt[b] + alpha) / (rt + alpha * m))
            for b in bs
        )
        out[doc_id] = (len(bs), w)
    return out


def test_dsir_logweight_matches_loop_reference(spark, docs):
    tgt_ids = {1, 2, 8}  # the "quick brown fox" docs are the target
    target = docs.where(F.col("doc_id").isin(*tgt_ids))
    got = {
        r.doc_id: (r.n_grams, r.dsir_logweight)
        for r in TS.dsir_logweight(
            docs, target, n_buckets=64, alpha=0.5, method="md5"
        ).collect()
    }
    want = _ref_dsir(DOCS, tgt_ids, m=64, alpha=0.5)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], d
        if want[d][1] is None:
            assert got[d][1] is None
        else:
            assert abs(got[d][1] - want[d][1]) < 1e-9, d
    # target-likeness ordering: a target doc outscores the unrelated one
    assert got[1][1] > got[7][1]
    # empty doc: no grams, NULL weight (a filter decision, not a 0)
    assert got[6] == (0, None)


def test_dsir_logweight_self_target_is_zero_and_layout_invariant(spark, docs):
    # target == raw ⇒ every bucket's log-ratio is exactly ln(x) − ln(x)
    # = 0.0, so weights are exactly 0 (no float tolerance needed)
    same = TS.dsir_logweight(docs, docs, n_buckets=32, method="md5")
    for r in same.collect():
        assert r.dsir_logweight == 0.0 or (r.n_grams == 0 and r.dsir_logweight is None)
    # layout invariance: xxhash64 path, repartitioned input
    tgt = docs.where(F.col("doc_id") <= 3)
    a = sorted(
        (r.doc_id, r.n_grams, round(r.dsir_logweight, 9))
        for r in TS.dsir_logweight(docs, tgt, n_buckets=64).collect()
        if r.dsir_logweight is not None
    )
    b = sorted(
        (r.doc_id, r.n_grams, round(r.dsir_logweight, 9))
        for r in TS.dsir_logweight(
            docs.repartition(7), tgt.repartition(3), n_buckets=64
        ).collect()
        if r.dsir_logweight is not None
    )
    assert a == b and len(a) == 7


# ---------------------------------------------------------------- gopher


GOPHER_DOCS = [
    # long clean doc: passes every rule at the test thresholds
    (1, "the cat and the dog have to be friends with all of that time "
        "and they run and they play and they sleep and they eat food"),
    # bullet-heavy: >50% of lines start with a bullet marker
    (2, "the list be of and that have with items\n- one\n * two\n• three"),
    # ellipsis-heavy: most lines trail off
    (3, "the story be of and that have with more...\nwait for it …\nend."),
    # symbol-heavy: '#' spam
    (4, "the tag be of and ### that have with #### stuff ## here ###"),
    # non-alpha words: digit runs fail the alpha-word rule
    (5, "the 111 222 be 333 444 of 555 666 and 777 888 that have with"),
    # too few required stopwords
    (6, "zebra quokka wombat lemur gecko iguana mantis osprey puffin heron"),
    (7, ""),          # zero words
    (8, None),        # NULL text
    # mean word length out of band (all 1-char words)
    (9, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 2),
]


def _gopher_ref(text, min_words, max_words, min_mwl, max_mwl,
                max_sym, max_bul, max_ell, min_alpha, min_stop):
    """Loop reference implementing the documented rule definitions."""
    if text is None:
        return dict(n=None, keep=0)
    toks = [t for t in re.split("[ \t\n\f\r]+", text.strip().lower()) if t]
    n = len(toks)
    mwl = sum(len(t) for t in toks) / n if n else None
    sym = (text.count("#") + text.count("…") + text.count("...")) / n if n else None
    lines = text.split("\n")
    bul = sum(l.lstrip(" ").startswith(("-", "*", "•")) for l in lines) / len(lines)
    ell = sum(l.rstrip(" ").endswith(("...", "…")) for l in lines) / len(lines)
    alpha = sum(bool(re.search("[a-z]", t)) for t in toks) / n if n else None
    stop = sum(w in toks for w in TS.GOPHER_STOPWORDS)
    keep = (
        n is not None and min_words <= n <= max_words
        and mwl is not None and min_mwl <= mwl <= max_mwl
        and sym is not None and sym < max_sym
        and bul < max_bul and ell < max_ell
        and alpha is not None and alpha >= min_alpha
        and stop >= min_stop
    )
    return dict(n=n, mwl=mwl, sym=sym, bul=bul, ell=ell, alpha=alpha,
                stop=stop, keep=int(keep))


def test_gopher_flags_match_loop_reference(spark):
    """Every signal and the keep verdict vs a pure-python loop oracle,
    across pass/bullet/ellipsis/symbol/alpha/stopword/empty/NULL/short
    fixtures (thresholds lowered so the fixture set straddles each
    rule)."""
    kw = dict(min_words=10, max_words=100, min_mean_word_len=2.0,
              max_mean_word_len=6.0, max_symbol_ratio=0.1,
              max_bullet_ratio=0.5, max_ellipsis_line_ratio=0.5,
              min_alpha_word_ratio=0.8, min_stop_hits=2)
    df = spark.createDataFrame(GOPHER_DOCS, "doc_id long, text string")
    got = TS.add_gopher_flags(df, **kw).orderBy("doc_id").collect()
    keeps_seen = set()
    for r, (_, text) in zip(got, GOPHER_DOCS):
        exp = _gopher_ref(text, 10, 100, 2.0, 6.0, 0.1, 0.5, 0.5, 0.8, 2)
        assert r["gq_n_words"] == exp["n"], r
        assert r["gopher_keep"] == exp["keep"], (r, exp)
        keeps_seen.add(exp["keep"])
        if text is None:
            assert r["gq_mean_word_len"] is None
            assert r["gq_stop_hits"] is None
            continue
        for col, key in [("gq_mean_word_len", "mwl"),
                         ("gq_symbol_ratio", "sym"),
                         ("gq_bullet_ratio", "bul"),
                         ("gq_ellipsis_line_ratio", "ell"),
                         ("gq_alpha_word_ratio", "alpha")]:
            if exp[key] is None:
                assert r[col] is None, (col, r)
            else:
                assert np.isclose(r[col], exp[key]), (col, r, exp)
        assert r["gq_stop_hits"] == exp["stop"], r
    assert keeps_seen == {0, 1}  # the fixture straddles the verdict
    # each rule-specific fixture fails for its own reason
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["gopher_keep"] == 1
    assert by_id[2]["gq_bullet_ratio"] >= 0.5
    assert by_id[3]["gq_ellipsis_line_ratio"] >= 0.5
    assert by_id[4]["gq_symbol_ratio"] >= 0.1
    assert by_id[5]["gq_alpha_word_ratio"] < 0.8
    assert by_id[5]["gq_n_words"] >= 10  # fails ONLY the alpha rule
    assert by_id[6]["gq_stop_hits"] < 2
    assert by_id[9]["gq_mean_word_len"] < 2.0


def test_gopher_flags_jvm_map_only(spark):
    """Corpus-filter hot path: must compile to a map-only JVM plan —
    no Exchange, no Python workers."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = TS.add_gopher_flags(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in final, final


# ------------------------------------------------------- boilerplate scrub


def _boiler_ref(docs, min_count, min_chars=1):
    """Loop reference: drop every occurrence of any normalized line
    appearing >= min_count times; short lines structural."""
    from collections import Counter

    def norm(l):
        return " ".join(l.strip().lower().split())

    counts = Counter()
    for _, t in docs:
        for l in (t or "").split("\n"):
            if len(norm(l)) >= min_chars:
                counts[norm(l)] += 1
    out = {}
    for i, t in docs:
        kept, dropped = [], 0
        for l in (t or "").split("\n"):
            if len(norm(l)) >= min_chars and counts[norm(l)] >= min_count:
                dropped += 1
            else:
                kept.append(l)
        out[i] = ("\n".join(kept), dropped)
    return out


BOILER_DOCS = [
    (1, "Cookie Banner Text\nreal content one\nNav Menu\nmore real text"),
    (2, "cookie   banner TEXT\nunique second doc\nNav Menu"),  # ws/case-normalized dup lines
    (3, "Cookie Banner Text\n\nonly boilerplate here\nNav Menu"),
    (4, "totally unique document\nwith its own lines"),
    (5, ""),       # empty doc
    (6, None),     # NULL text survives as empty
    (7, "Cookie Banner Text\nNav Menu"),  # fully boilerplate -> empty
]


def test_boilerplate_scrub_matches_loop_reference(spark):
    exp = _boiler_ref(BOILER_DOCS, min_count=3)
    df = spark.createDataFrame(BOILER_DOCS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines_dropped"])
        for r in D.boilerplate_scrub(df, min_count=3).collect()
    }
    assert got == exp
    # the hot lines really were global drops, everywhere they appear
    assert got[7][0] == "" and got[7][1] == 2
    assert "Cookie" not in got[1][0] and "real content one" in got[1][0]
    # doc 3's structural empty line survives at the head of the rebuild
    assert got[3][0].startswith("\n")
    assert got[3][1] == 2 and "only boilerplate here" in got[3][0]


def test_boilerplate_scrub_sketch_mode_and_guards(spark):
    """The guards of the exact digest groupBy (the only plan left; the
    name dates from the removed sketch path): a wide line domain at a
    low threshold scrubs every doc, and min_count=1 is refused."""
    df = spark.createDataFrame(BOILER_DOCS, "doc_id long, text string")
    wide = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("line-"), F.pmod("id", F.lit(500)).cast("string")
        ).alias("text"),
    )
    n = D.boilerplate_scrub(wide, min_count=3).where(
        F.col("n_lines_dropped") > 0
    ).count()
    assert n == 4000  # every line repeats 8x >= 3
    with pytest.raises(ValueError, match="min_count"):
        D.boilerplate_scrub(df, min_count=1)
