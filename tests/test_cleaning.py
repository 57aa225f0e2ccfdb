"""Cleaning/prep operators: PII scrub, deterministic splits, chunking."""

from __future__ import annotations

from pyspark.sql import functions as F

from feagen_spark.operators import cleaning as C


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.0.1 responded"),
            (3, "clean text stays clean"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in C.scrub_pii(df).collect()}
    assert "<EMAIL>" in got[1] and "<PHONE>" in got[1]
    assert "jane" not in got[1] and "555" not in got[1]
    assert got[2] == "server at <IP> responded"
    assert got[3] == "clean text stays clean"


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(10_000).select(F.col("id").alias("doc_id"))
    s1 = C.hash_split(df).groupBy("split").count().toPandas().set_index("split")["count"]
    s2 = (
        C.hash_split(df.repartition(13))
        .groupBy("split").count().toPandas().set_index("split")["count"]
    )
    assert (s1.sort_index() == s2.sort_index()).all()  # layout-independent
    assert abs(s1["train"] / 10_000 - 0.9) < 0.02
    assert abs(s1["val"] / 10_000 - 0.05) < 0.02
    # per-row stability across runs
    a = C.hash_split(df).orderBy("doc_id").toPandas()["split"]
    b = C.hash_split(df).orderBy("doc_id").toPandas()["split"]
    assert (a == b).all()
    # a NULL id: md5 gives it no fold; xxhash64 hashes the seed alone
    # (xxhash64(42) mod 100 = 36 -> train)
    with_null = df.limit(3).unionByName(
        spark.createDataFrame([(None,)], "doc_id long")
    )
    for method, want in (("md5", None), ("xxhash64", "train")):
        got = C.hash_split(with_null, method=method).where(
            F.col("doc_id").isNull()
        ).collect()
        assert [r["split"] for r in got] == [want], method


def test_chunk_text_coverage_and_overlap(spark):
    text = "".join(chr(ord("a") + i % 26) for i in range(1200))
    df = spark.createDataFrame(
        [(1, text), (2, "short"), (3, "")], "doc_id long, text string"
    )
    got = C.chunk_text(df, chunk_chars=512, overlap=64).orderBy(
        "doc_id", "chunk_idx"
    ).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
    # doc 1: stride 448 → chunks at 0,448,896 → 3 chunks
    assert len(by_doc[1]) == 3
    assert by_doc[1][0] == text[:512]
    assert by_doc[1][1] == text[448:960]
    assert by_doc[1][2] == text[896:1200]
    # overlap: consecutive chunks share exactly 64 chars
    assert by_doc[1][0][-64:] == by_doc[1][1][:64]
    # reassembly: stripping the overlap reconstructs the document
    rebuilt = by_doc[1][0] + "".join(c[64:] for c in by_doc[1][1:])
    assert rebuilt == text
    # short doc → one chunk; empty doc → none
    assert by_doc[2] == ["short"]
    assert 3 not in by_doc


def test_chunk_text_null_text_yields_no_rows(spark):
    """NULL text must behave like empty text (no phantom NULL-chunk row
    — regression test: greatest(NULL, 1) evaluated to 1)."""
    df = spark.createDataFrame(
        [(1, None), (2, "hello")], "doc_id long, text string"
    )
    got = C.chunk_text(df, chunk_chars=8, overlap=2).collect()
    assert len(got) == 1 and got[0].doc_id == 2


def test_stratified_sample_deterministic_and_exact(spark):
    """Hash-based stratified sampling: identical keep-set under any
    partitioning (never rand()); unmapped strata drop; approximate
    fraction respected; invalid fractions rejected."""
    from feagen_spark.operators.cleaning import stratified_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("lang"),
    )
    fr = {"en": 0.5, "de": 0.1}
    a = {r["doc_id"] for r in stratified_sample(df, "lang", fr).collect()}
    b = {
        r["doc_id"]
        for r in stratified_sample(df.repartition(13), "lang", fr).collect()
    }
    assert a == b and len(a) > 0
    by_lang = (
        stratified_sample(df, "lang", fr)
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    assert "fr" not in by_lang.index               # unmapped stratum dropped
    assert abs(by_lang["en"] / (2000 / 3) - 0.5) < 0.1
    assert abs(by_lang["de"] / (2000 / 3) - 0.1) < 0.06

    import pytest as _pytest

    # a NULL id: md5 has no bucket for it, so even a fraction of 1.0
    # drops the row
    with_null = df.unionByName(
        spark.createDataFrame([(None, "en")], "doc_id long, lang string")
    )
    got = stratified_sample(with_null, "lang", {"en": 1.0})
    assert got.where(F.col("doc_id").isNull()).count() == 0
    assert got.count() == len([i for i in range(2000) if i % 3 == 0])

    with _pytest.raises(ValueError, match="fractions"):
        stratified_sample(df, "lang", {"en": 1.5})


def test_deterministic_negatives_properties(spark):
    """deterministic_negatives: k draws per anchor (minus empty-bucket
    draws), no self-pairs, bit-identical across runs AND layouts, and
    negatives spread over the corpus (not collapsing onto a few ids)."""
    from feagen_spark.operators.cleaning import deterministic_negatives

    corpus = spark.range(500).select(F.col("id").alias("doc_id"))
    anchors = spark.range(60).select(F.col("id").alias("doc_id"))

    out = deterministic_negatives(
        anchors, corpus, "doc_id", "doc_id", k=4, n_buckets=64
    )
    rows = {(r["doc_id"], r["draw"], r["neg_id"]) for r in out.collect()}
    # duplicate (anchor, neg) picks across colliding draws collapse, so
    # an anchor yields UP TO k distinct negatives — most keep all 4
    assert 60 * 3 <= len(rows) <= 60 * 4
    assert all(a != n for a, _, n in rows)  # no self-pairs
    per_anchor = {}
    for a, d, n in rows:
        per_anchor.setdefault(a, []).append(n)
    # DISTINCT negatives per anchor (the code-review r5 guarantee)
    assert all(len(ns) == len(set(ns)) for ns in per_anchor.values())
    assert sum(len(ns) == 4 for ns in per_anchor.values()) >= 45
    # diversity: far more distinct negatives than anchors' bucket count
    assert len({n for _, _, n in rows}) > 50

    # determinism under different layouts and a fresh run
    out2 = deterministic_negatives(
        anchors.repartition(7), corpus.repartition(13, "doc_id"),
        "doc_id", "doc_id", k=4, n_buckets=64,
    )
    rows2 = {(r["doc_id"], r["draw"], r["neg_id"]) for r in out2.collect()}
    assert rows2 == rows

    # adding corpus rows only changes draws whose PROBED bucket gained a
    # better-ranked candidate — assignments never reshuffle wholesale
    bigger = spark.range(600).select(F.col("id").alias("doc_id"))
    rows3 = {
        (r["doc_id"], r["draw"], r["neg_id"])
        for r in deterministic_negatives(
            anchors, bigger, "doc_id", "doc_id", k=4, n_buckets=64
        ).collect()
    }
    stable = len(rows & rows3) / len(rows)
    assert stable > 0.7, stable

    # plan shape: equi-join, never a cartesian/BNLJ
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def _bfd_reference(items, max_len):
    """Loop best-fit-decreasing reference: items = [(len, doc)] sorted
    (len desc, id asc); returns {doc: bin_index}. Best fit = tightest
    open bin that still fits, ties to the LOWEST bin index — the exact
    contract pack_sequences' bisect implements."""
    caps = []  # residual capacity per bin index
    assign = {}
    for ln, doc in items:
        if ln > max_len:
            caps.append(0)
            assign[doc] = len(caps) - 1
            continue
        # c > 0: full bins leave the open set (matters only for
        # zero-length docs, which never reopen a full bin)
        fits = [(c, i) for i, c in enumerate(caps) if c >= ln and c > 0]
        if fits:
            _, i = min(fits)
            assign[doc] = i
            caps[i] -= ln
        else:
            caps.append(max_len - ln)
            assign[doc] = len(caps) - 1
    return assign


def test_pack_sequences_matches_bfd_reference(spark):
    """pack_sequences: every doc exactly once, budget respected,
    best-fit-decreasing parity with a loop reference per bucket
    (r6: the O(n·bins) first-fit scan became O(n log n) best-fit),
    oversize singletons flagged, deterministic under repartition."""
    from feagen_spark.operators.cleaning import pack_sequences

    lens = [900, 512, 300, 300, 256, 200, 150, 100, 64, 30, 1100, 7]
    docs = spark.createDataFrame(
        [(i, lens[i % len(lens)] + (i // len(lens))) for i in range(120)],
        "doc_id long, n_tok long",
    )
    out = pack_sequences(
        docs, "doc_id", "n_tok", max_len=1024, n_buckets=8
    )
    rows = [
        (r["doc_id"], r["n_tok"], r["bucket"], r["seq"], r["offset"],
         r["oversize"], r["seq_uid"])
        for r in out.collect()
    ]
    assert len(rows) == 120
    assert len({r[0] for r in rows}) == 120  # every doc exactly once

    # budget: sum of lens per sequence <= max_len unless oversize
    by_seq = {}
    for doc, ln, bkt, seq, off, ov, uid in rows:
        assert uid == bkt * 2**32 + seq
        by_seq.setdefault(uid, []).append((ln, off, ov))
    for uid, members in by_seq.items():
        if any(ov for _, _, ov in members):
            assert len(members) == 1  # oversize docs are singletons
        else:
            assert sum(ln for ln, _, _ in members) <= 1024, uid
            # offsets are consistent: distinct, start at 0 packing order
            offs = sorted(off for _, off, _ in members)
            assert offs[0] == 0 and len(set(offs)) == len(offs)

    # BFD loop reference per bucket (same order: len desc, id asc)
    import collections
    ref_assign = {}
    by_bucket = collections.defaultdict(list)
    for doc, ln, bkt, *_ in rows:
        by_bucket[bkt].append((ln, doc))
    for bkt, items in by_bucket.items():
        items.sort(key=lambda p: (-p[0], p[1]))
        for doc, i in _bfd_reference(items, 1024).items():
            ref_assign[doc] = (bkt, i)
    got_assign = {doc: (bkt, seq) for doc, _, bkt, seq, _, _, _ in rows}
    assert got_assign == ref_assign

    # layout determinism
    rows2 = {
        (r["doc_id"], r["seq_uid"], r["offset"])
        for r in pack_sequences(
            docs.repartition(13), "doc_id", "n_tok", max_len=1024, n_buckets=8
        ).collect()
    }
    assert rows2 == {(r[0], r[6], r[4]) for r in rows}


def test_pack_sequences_rows_hint_bounds_bucket_size(spark):
    """The r6 sizing contract: rows_hint raises n_buckets so the
    expected docs-per-bucket never exceeds max_docs_per_bucket (an
    applyInPandas task materializes a whole bucket)."""
    from feagen_spark.operators.cleaning import pack_sequences

    docs = spark.createDataFrame(
        [(i, 100) for i in range(200)], "doc_id long, n_tok long"
    )
    out = pack_sequences(
        docs, "doc_id", "n_tok", max_len=1024,
        n_buckets=2, rows_hint=200, max_docs_per_bucket=10,
    )
    # ceil(200/10) = 20 buckets despite n_buckets=2; with 200 uniform
    # docs every bucket should be hit
    n_buckets_seen = out.select("bucket").distinct().count()
    assert n_buckets_seen > 2, n_buckets_seen
    assert out.count() == 200


def test_pack_sequences_rejects_negative_lengths(spark):
    import pytest

    from feagen_spark.operators.cleaning import pack_sequences

    docs = spark.createDataFrame(
        [(1, 100), (2, -5)], "doc_id long, n_tok long"
    )
    with pytest.raises(Exception, match="negative length"):
        pack_sequences(docs, "doc_id", "n_tok", max_len=1024, n_buckets=1).collect()


def test_materialize_packed_sequences_array_and_text(spark):
    """materialize_packed_sequences: packed payloads concatenate in
    offset order, used_len == sum of member lens <= max_len for
    non-oversize rows, every doc appears in exactly one packed row,
    array and string payloads both work."""
    from feagen_spark.operators.cleaning import (
        materialize_packed_sequences,
        pack_sequences,
    )

    data = [(i, [i] * (30 + 7 * (i % 9))) for i in range(60)]
    data.append((60, list(range(300))))  # oversize vs max_len=256
    payload = spark.createDataFrame(
        [(i, toks, "".join(chr(97 + t % 26) for t in toks))
         for i, toks in data],
        "doc_id long, toks array<int>, text string",
    ).withColumn("n_tok", F.size("toks").cast("long"))

    assign = pack_sequences(
        payload, "doc_id", "n_tok", max_len=256, n_buckets=4
    )
    packed = materialize_packed_sequences(
        assign, payload, "doc_id", "n_tok", "toks", max_len=256
    ).collect()

    # coverage: total docs across packed rows == corpus size
    assert sum(r["n_docs"] for r in packed) == 61
    for r in packed:
        assert len(r["packed"]) == r["used_len"]
        if not r["oversize"]:
            assert r["used_len"] <= 256
    # concatenation order matches offsets: rebuild each sequence from
    # the assignment table and compare
    a_rows = assign.collect()
    by_seq = {}
    for ar in a_rows:
        by_seq.setdefault(ar["seq_uid"], []).append(ar)
    tok_of = dict(data)
    for r in packed:
        members = sorted(
            by_seq[r["seq_uid"]], key=lambda x: (x["offset"], x["doc_id"])
        )
        want = [t for m in members for t in tok_of[m["doc_id"]]]
        assert list(r["packed"]) == want, r["seq_uid"]

    # string payload path: array_join in the same order
    packed_txt = materialize_packed_sequences(
        assign, payload, "doc_id", "n_tok", "text"
    ).collect()
    txt_of = {i: "".join(chr(97 + t % 26) for t in toks) for i, toks in data}
    for r in packed_txt:
        members = sorted(
            by_seq[r["seq_uid"]], key=lambda x: (x["offset"], x["doc_id"])
        )
        assert r["packed"] == "".join(txt_of[m["doc_id"]] for m in members)


def test_materialize_packed_budget_violation_raises(spark):
    """A corrupted assignment that over-packs a sequence must fail the
    job (ANSI raise_error), never silently ship an over-budget row."""
    import pytest

    from feagen_spark.operators.cleaning import materialize_packed_sequences

    payload = spark.createDataFrame(
        [(1, [0] * 200), (2, [1] * 200)], "doc_id long, toks array<int>"
    )
    bogus = spark.createDataFrame(
        [(1, 200, 0, 0, 0, 0, 0), (2, 200, 0, 0, 200, 0, 0)],
        "doc_id long, n_tok long, bucket int, seq long, offset long, "
        "oversize int, seq_uid long",
    )
    with pytest.raises(Exception, match="over budget"):
        materialize_packed_sequences(
            bogus, payload, "doc_id", "n_tok", "toks", max_len=256
        ).collect()


def test_pack_sequences_rejects_null_lengths(spark):
    """A NULL length must die with the contract message, not an opaque
    'cannot convert float NaN to integer' in the worker (code-review
    r6: nullable longs arrive in pandas as float64+NaN)."""
    import pytest

    from feagen_spark.operators.cleaning import pack_sequences

    docs = spark.createDataFrame(
        [(1, 100), (2, None)], "doc_id long, n_tok long"
    )
    with pytest.raises(Exception, match="must be non-null"):
        pack_sequences(docs, "doc_id", "n_tok", max_len=1024, n_buckets=1).collect()


def test_materialize_packed_missing_payload_raises(spark):
    """An assigned doc with no payload row must fail loudly, never
    silently vanish from its packed sequence (code-review r6: the old
    inner join dropped it and n_docs/used_len stayed self-consistent,
    so nothing downstream could catch the hole)."""
    import pytest

    from feagen_spark.operators.cleaning import (
        materialize_packed_sequences,
        pack_sequences,
    )

    payload = spark.createDataFrame(
        [(1, [0] * 50), (2, [1] * 50)], "doc_id long, toks array<int>"
    ).withColumn("n_tok", F.size("toks").cast("long"))
    assign = pack_sequences(payload, "doc_id", "n_tok", max_len=256, n_buckets=1)
    holey = payload.where(F.col("doc_id") != 2)
    with pytest.raises(Exception, match="no payload row"):
        materialize_packed_sequences(
            assign, holey, "doc_id", "n_tok", "toks", max_len=256
        ).collect()


def test_sample_to_token_budget_int_strata(spark):
    """Non-string strata columns work (code-review r6: the budget
    lookup is a literal when-chain like stratified_sample, not a
    hardcoded-string-schema frame)."""
    from feagen_spark.operators.cleaning import sample_to_token_budget

    df = spark.createDataFrame(
        [(i, i % 3, 100) for i in range(300)],
        "doc_id long, source_id int, n_tok long",
    )
    out = sample_to_token_budget(
        df, "source_id", "n_tok", {0: 5_000, 1: 100_000_000}
    ).collect()
    # stratum 1 fits its budget -> kept whole; stratum 2 absent -> dropped
    by = {}
    for r in out:
        by.setdefault(r["source_id"], []).append(r)
    assert len(by.get(1, [])) == 100
    assert 2 not in by
    # stratum 0: half the 10k total tokens -> a strict hash-subsample
    assert 0 < len(by.get(0, [])) < 100


def test_deterministic_negatives_md5_and_id_contract(spark):
    """r6: method='md5' (the oracle bridge) is deterministic, ignores
    the seed and obeys the same invariants; NULL ids are rejected up
    front; and an id-coincident candidate is always excluded as a
    self-pair."""
    from feagen_spark.operators.cleaning import deterministic_negatives

    corpus = spark.range(300).select(F.col("id").alias("doc_id"))
    anchors = spark.range(40).select(F.col("id").alias("doc_id"))
    out = deterministic_negatives(
        anchors, corpus, "doc_id", "doc_id", k=3, n_buckets=32, method="md5"
    )
    rows = {(r["doc_id"], r["draw"], r["neg_id"]) for r in out.collect()}
    assert 40 * 2 <= len(rows) <= 40 * 3
    assert all(a != n for a, _, n in rows)
    rows2 = {
        (r["doc_id"], r["draw"], r["neg_id"])
        for r in deterministic_negatives(
            anchors.repartition(5), corpus.repartition(9, "doc_id"),
            "doc_id", "doc_id", k=3, n_buckets=32, method="md5",
        ).collect()
    }
    assert rows2 == rows

    # md5 ignores the seed (a fixed, portable function); xxhash64 draws
    # afresh per seed
    def pairs(method, seed):
        return {
            (r["doc_id"], r["draw"], r["neg_id"])
            for r in deterministic_negatives(
                anchors, corpus, "doc_id", "doc_id", k=3, n_buckets=16,
                seed=seed, method=method,
            ).collect()
        }

    assert pairs("md5", 1) == pairs("md5", 7)
    assert pairs("xxhash64", 1) != pairs("xxhash64", 7)

    # NULL ids on either side are dropped up front, not silently eaten
    # by the self-pair comparison
    anchors_n = spark.createDataFrame(
        [(1,), (None,)], "doc_id long"
    )
    corpus_n = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,)], "doc_id long"
    )
    got = deterministic_negatives(
        anchors_n, corpus_n, "doc_id", "doc_id", k=2, n_buckets=4
    ).collect()
    assert all(r["doc_id"] == 1 and r["neg_id"] is not None for r in got)

    # an id-coincident candidate is a self-pair: excluded, so a corpus
    # holding only the anchor's id yields no negative
    one_anchor = spark.createDataFrame([(7,)], "qid long")
    tiny_corpus = spark.createDataFrame([(7,)], "doc_id long")
    dropped = deterministic_negatives(
        one_anchor, tiny_corpus, "qid", "doc_id", k=2, n_buckets=1,
    ).collect()
    assert dropped == []


try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @settings(max_examples=10, deadline=None)
    @given(
        lens=st.lists(st.integers(0, 1400), min_size=1, max_size=80),
        max_len=st.sampled_from([128, 1024]),
    )
    def test_pack_sequences_property(spark, lens, max_len):
        """Random length mixes (zeros, oversize, duplicates): BFD loop
        parity per bucket + budget/coverage/offset invariants
        (VERDICT r5 #2)."""
        from feagen_spark.operators.cleaning import pack_sequences

        docs = spark.createDataFrame(
            [(i, ln) for i, ln in enumerate(lens)],
            "doc_id long, n_tok long",
        )
        rows = pack_sequences(
            docs, "doc_id", "n_tok", max_len=max_len, n_buckets=2
        ).collect()
        assert sorted(r["doc_id"] for r in rows) == sorted(range(len(lens)))
        import collections

        by_bucket = collections.defaultdict(list)
        by_seq = collections.defaultdict(list)
        for r in rows:
            by_bucket[r["bucket"]].append((r["n_tok"], r["doc_id"]))
            by_seq[(r["bucket"], r["seq"])].append(r)
        for bkt, items in by_bucket.items():
            items.sort(key=lambda p: (-p[0], p[1]))
            ref = _bfd_reference(items, max_len)
            got = {
                r["doc_id"]: r["seq"] for r in rows if r["bucket"] == bkt
            }
            assert got == ref, bkt
        for (bkt, seq), members in by_seq.items():
            if any(m["oversize"] for m in members):
                assert len(members) == 1
            else:
                assert sum(m["n_tok"] for m in members) <= max_len
                # offsets = running prefix in assignment order
                fills = sorted(
                    (m["offset"], m["n_tok"]) for m in members
                )
                run = 0
                for off, ln in fills:
                    assert off == run
                    run += ln


def test_sample_to_token_budget(spark):
    """sample_to_token_budget (r6): per-stratum kept tokens ≈ budget,
    within-budget strata keep everything, zero/absent budgets drop,
    deterministic under repartition, keep decision is per-doc stable
    when another stratum's budget changes."""
    from feagen_spark.operators.cleaning import sample_to_token_budget

    df = spark.range(6000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("web"), F.lit("code"), F.lit("wiki"), F.lit("junk")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("source"),
        (F.col("id") % 100 + 10).cast("long").alias("n_tok"),
    )
    totals = {
        r["source"]: r["t"]
        for r in df.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    budgets = {
        "web": int(totals["web"] * 0.3),   # downsample to ~30%
        "code": int(totals["code"] * 2),   # within budget: keep all
        "wiki": 0,                          # explicit zero: drop
        # junk absent: drop
    }
    out = sample_to_token_budget(df, "source", "n_tok", budgets)
    kept = out.groupBy("source").agg(
        F.sum("n_tok").alias("t"), F.count(F.lit(1)).alias("n")
    ).collect()
    by = {r["source"]: r for r in kept}
    assert set(by) == {"web", "code"}  # wiki + junk dropped
    assert by["code"]["t"] == totals["code"]  # kept whole
    # web: realized tokens within ~15% of budget (hash-draw variance)
    assert abs(by["web"]["t"] - budgets["web"]) / budgets["web"] < 0.15
    # audit column present and sensible
    fr = {r["source"]: r["keep_fraction"] for r in out.select(
        "source", "keep_fraction").distinct().collect()}
    assert fr["code"] == 1.0 and 0.2 < fr["web"] < 0.4

    # layout determinism
    a = {r["doc_id"] for r in out.collect()}
    b = {
        r["doc_id"]
        for r in sample_to_token_budget(
            df.repartition(13), "source", "n_tok", budgets
        ).collect()
    }
    assert a == b

    # cross-stratum independence: changing code's budget never touches
    # the web keep-set
    budgets2 = dict(budgets, code=int(totals["code"] * 0.5))
    c = {
        r["doc_id"]
        for r in sample_to_token_budget(df, "source", "n_tok", budgets2)
        .where(F.col("source") == "web").collect()
    }
    assert c == {x for x in a if x % 4 == 0}

    import pytest

    with pytest.raises(ValueError, match="budgets"):
        sample_to_token_budget(df, "source", "n_tok", {"web": -1})


def test_sample_to_token_budget_broadcast_plan(spark):
    """The fraction join must broadcast the sketch-sized per-stratum
    frame — the corpus side stays map-only after one small aggregate."""
    from feagen_spark.operators.cleaning import sample_to_token_budget

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("web").alias("source"),
        F.lit(10).cast("long").alias("n_tok"),
    )
    out = sample_to_token_budget(df, "source", "n_tok", {"web": 100})
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final or "BroadcastExchange" in final
    assert "SortMergeJoin" not in final


# ---------------------------------------------------------------- shuffle


def _shuffle_fixture(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
    )


def test_deterministic_shuffle_rank_matches_global_order(spark):
    """Ranks must equal the position in the total order by (key, id) —
    checked against a driver-side sort of the same hash keys."""
    import hashlib

    from feagen_spark.operators.cleaning import deterministic_shuffle

    df = _shuffle_fixture(spark)
    out = deterministic_shuffle(df, "doc_id", seed=7, method="md5",
                                n_partitions=8)
    got = {r["doc_id"]: r["shuffle_rank"] for r in out.collect()}
    keys = sorted(
        (hashlib.md5(f"7:{i}".encode()).hexdigest(), i) for i in range(500)
    )
    want = {i: pos for pos, (_, i) in enumerate(keys)}
    assert got == want


def test_deterministic_shuffle_stable_and_seed_sensitive(spark):
    from feagen_spark.operators.cleaning import deterministic_shuffle

    df = _shuffle_fixture(spark, 300)
    a = {r["doc_id"]: r["shuffle_rank"] for r in
         deterministic_shuffle(df, "doc_id", seed=1).collect()}
    # same seed, different physical layout -> identical permutation
    b = {r["doc_id"]: r["shuffle_rank"] for r in
         deterministic_shuffle(df.repartition(13), "doc_id", seed=1)
         .collect()}
    assert a == b
    # a new seed is a new epoch order
    c = {r["doc_id"]: r["shuffle_rank"] for r in
         deterministic_shuffle(df, "doc_id", seed=2).collect()}
    assert a != c
    # permutation: ranks are exactly 0..n-1
    assert sorted(a.values()) == list(range(300))


def test_deterministic_shuffle_order_only_mode_and_null_guard(spark):
    import pytest

    from feagen_spark.operators.cleaning import deterministic_shuffle

    df = _shuffle_fixture(spark, 100)
    ordered = deterministic_shuffle(df, "doc_id", seed=3, rank_col=None)
    assert "shuffle_rank" not in ordered.columns
    # collect() returns range partitions in boundary order and rows in
    # their in-partition sort order, so the PHYSICAL row order must
    # equal the rank order exactly (no re-sort on the left — a sorted
    # comparison would pass for any layout, code-review r6)
    rows = [r["shuffle_key"] for r in ordered.select("shuffle_key").collect()]
    ranked = deterministic_shuffle(df, "doc_id", seed=3)
    keys_by_rank = [
        r["shuffle_key"]
        for r in ranked.orderBy("shuffle_rank").select("shuffle_key").collect()
    ]
    assert rows == keys_by_rank

    bad = spark.createDataFrame([(1,), (None,)], "doc_id bigint")
    # the guard fires inside stage materialization → wrapped Java error
    with pytest.raises(Exception, match="NULL id"):
        deterministic_shuffle(bad, "doc_id").collect()


def test_deterministic_shuffle_plan_pinned_and_jvm_only(spark):
    """The rank path is pure JVM (no Python workers) and both the rank
    and the count branch must read the PINNED localCheckpoint of the
    one range shuffle — a visible rangepartitioning exchange in the
    final plan would mean a branch re-executes the shuffle and could
    sample different range boundaries (corrupt ranks, see operator).
    Offsets come back broadcast; the payload never rides a hash
    exchange."""
    import re

    from feagen_spark.operators.cleaning import deterministic_shuffle

    df = _shuffle_fixture(spark, 1000)
    out = deterministic_shuffle(df, "doc_id", seed=5, n_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # both branches read the checkpointed RDD, not a re-derived shuffle
    assert "Exchange rangepartitioning" not in final, final
    assert "ExistingRDD" in final or "LogicalRDD" in final, final
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in final, final
    assert "BroadcastExchange" in final or "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    # the payload (text) must never ride a hash exchange
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", final):
        assert "text" not in m.group(1), final
    # and the order-only mode compiles to exactly the one range shuffle
    ordered = deterministic_shuffle(df, "doc_id", seed=5, rank_col=None)
    oplan = ordered._jdf.queryExecution().executedPlan().toString()
    ofinal = oplan.split("== Initial Plan ==")[0]
    assert ofinal.count("Exchange rangepartitioning") == 1, ofinal


def test_deterministic_shuffle_string_ids_md5_parity(spark):
    """String ids go through the same md5 bridge — ranks must match a
    driver-side hashlib sort of the raw id strings."""
    import hashlib

    from feagen_spark.operators.cleaning import deterministic_shuffle

    ids = [f"doc-{i:04d}" for i in range(200)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in deterministic_shuffle(
            df, "doc_id", seed=11, method="md5", n_partitions=5
        ).collect()
    }
    keys = sorted(
        (hashlib.md5(f"11:{i}".encode()).hexdigest(), i) for i in ids
    )
    assert got == {i: pos for pos, (_, i) in enumerate(keys)}


try:
    from hypothesis import given, settings, strategies as st

    _HYP_SHUF = True
except ImportError:  # pragma: no cover
    _HYP_SHUF = False


if _HYP_SHUF:

    @settings(max_examples=8, deadline=None)
    @given(
        ids=st.sets(st.integers(-(2**40), 2**40), min_size=1, max_size=120),
        seed=st.integers(0, 2**20),
        n_parts=st.integers(1, 9),
    )
    def test_deterministic_shuffle_rank_property(spark, ids, seed, n_parts):
        """For ANY id set (negatives included), seed and partition
        count: ranks are exactly the positions of the driver-side
        (md5(seed:id), id) sort — unique, contiguous, 0-based."""
        import hashlib

        from feagen_spark.operators.cleaning import deterministic_shuffle

        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["shuffle_rank"]
            for r in deterministic_shuffle(
                df, "doc_id", seed=seed, method="md5", n_partitions=n_parts
            ).collect()
        }
        keys = sorted(
            (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i) for i in ids
        )
        assert got == {i: pos for pos, (_, i) in enumerate(keys)}


# ------------------------------------------------------------ gumbel_topk


def _ref_gumbel_key(doc_id, score, seed=42):
    import hashlib
    import math

    h = int(
        hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16
    ) % 1_000_000
    u = (h + 0.5) / 1_000_000.0
    return score + -math.log(-math.log(u))


def test_gumbel_topk_matches_loop_reference(spark):
    rows = [(i, float(i % 7) - 3.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        (r.doc_id, r.gumbel_key)
        for r in C.gumbel_topk(df, "w", k=25, method="md5").collect()
    ]
    keys = sorted(
        ((_ref_gumbel_key(d, s), d) for d, s in rows),
        key=lambda t: (-t[0], t[1]),
    )
    want = [(d, k) for k, d in keys[:25]]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gk), (wd, wk) in zip(got, want):
        assert abs(gk - wk) < 1e-9
    # without-replacement: k distinct rows
    assert len({d for d, _ in got}) == 25


def test_gumbel_topk_determinism_threshold_and_contracts(spark):
    rows = [(i, float((i * 37) % 11)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = [r.doc_id for r in C.gumbel_topk(df, "w", k=50).collect()]
    b = [r.doc_id for r in C.gumbel_topk(df.repartition(13), "w", k=50).collect()]
    assert a == b  # layout-independent selection
    c = [r.doc_id for r in C.gumbel_topk(df, "w", k=50, seed=7).collect()]
    assert a != c  # a new seed is a fresh draw
    # threshold mode: map-only filter, equals the key cutoff by hand
    keyed = C.gumbel_topk(df, "w", threshold=10.0, method="md5")
    by_id = dict(rows)
    got_thr = keyed.collect()
    assert got_thr  # the cutoff keeps some rows on this fixture
    for r in got_thr:
        assert r.gumbel_key >= 10.0
        assert abs(r.gumbel_key - _ref_gumbel_key(r.doc_id, by_id[r.doc_id], seed=42)) < 1e-9
    # threshold mode is map-only: no Exchange anywhere in the plan
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # NULL scores are dropped
    with_null = spark.createDataFrame(
        [(1, 2.0), (2, None)], "doc_id long, w double"
    )
    assert {r.doc_id for r in C.gumbel_topk(with_null, "w", k=5).collect()} == {1}
    # exactly one of k / threshold
    import pytest as _pt

    with _pt.raises(ValueError):
        C.gumbel_topk(df, "w")
    with _pt.raises(ValueError):
        C.gumbel_topk(df, "w", k=3, threshold=1.0)
    # k ∪ threshold agree: top-k set == rows at/above the k-th key
    top = C.gumbel_topk(df, "w", k=10, method="md5").collect()
    kth = min(r.gumbel_key for r in top)
    thr = {r.doc_id for r in C.gumbel_topk(df, "w", threshold=kth, method="md5").collect()}
    assert {r.doc_id for r in top} == thr


# ---------------------------------------------------- repeat_to_token_budget


def test_repeat_to_token_budget_expected_tokens_and_epochs(spark):
    rows = [(i, "wiki" if i < 100 else "web", 100) for i in range(1100)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n_tok int")
    # wiki: 10k tokens, budget 35k -> r=3.5: 3 or 4 copies each;
    # web: 100k tokens, budget absent -> pass-through
    out = C.repeat_to_token_budget(
        df, "src", "n_tok", {"wiki": 35_000}
    )
    pdf = out.toPandas()
    web = pdf[pdf.src == "web"]
    assert len(web) == 1000 and (web.epoch == 0).all()
    wiki = pdf[pdf.src == "wiki"]
    per_doc = wiki.groupby("doc_id").epoch.agg(["count", "max"])
    # every copy count is 3 or 4, epochs are contiguous 0..n-1
    assert set(per_doc["count"]) <= {3, 4}
    assert (per_doc["max"] == per_doc["count"] - 1).all()
    got_tokens = int(wiki.n_tok.sum())
    assert abs(got_tokens - 35_000) / 35_000 < 0.05  # ≈ budget
    # deterministic across layouts
    pdf2 = (
        C.repeat_to_token_budget(
            df.repartition(13), "src", "n_tok", {"wiki": 35_000}
        )
        .toPandas()
    )
    a = pdf.sort_values(["doc_id", "epoch"]).reset_index(drop=True)
    b = pdf2.sort_values(["doc_id", "epoch"]).reset_index(drop=True)
    assert (a[["doc_id", "epoch"]].values == b[["doc_id", "epoch"]].values).all()


def test_repeat_to_token_budget_edges(spark):
    df = spark.createDataFrame(
        [(1, "a", 50), (2, "a", 50), (3, "b", 10), (4, "c", 0)],
        "doc_id long, src string, n_tok int",
    )
    # at-budget and under-budget strata pass through once; integer
    # factor duplicates exactly; all-zero-token stratum passes through
    out = C.repeat_to_token_budget(
        df, "src", "n_tok", {"a": 100, "b": 30, "c": 5}
    ).toPandas()
    assert len(out[out.src == "a"]) == 2          # at budget: 1 epoch
    assert len(out[out.src == "b"]) == 3          # r=3 exactly
    assert len(out[out.src == "c"]) == 1          # zero tokens: no blow-up
    import pytest as _pt

    with _pt.raises(ValueError):
        C.repeat_to_token_budget(df, "src", "n_tok", {"a": -1})
    # a runaway factor fails loudly instead of exploding the corpus
    with _pt.raises(Exception, match="max_epochs"):
        C.repeat_to_token_budget(
            df, "src", "n_tok", {"b": 10_000}, max_epochs=10
        ).count()
    # broadcast factors: the corpus side never shuffles
    plan = (
        C.repeat_to_token_budget(df, "src", "n_tok", {"b": 30})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------- interleave


def _interleave_ref(rows, seed=42):
    """Loop reference: md5-keyed within-stratum rank -> pos = r/(n+1),
    global order by (pos, key, id)."""
    import hashlib

    key = {i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest() for i, _ in rows}
    by_s = {}
    for i, s in rows:
        by_s.setdefault(s, []).append(i)
    pos = {}
    for s, ids in by_s.items():
        n = len(ids)
        for r, i in enumerate(sorted(ids, key=lambda i: (key[i], i)), 1):
            pos[i] = r / (n + 1)
    order = sorted(
        (i for i, _ in rows), key=lambda i: (pos[i], key[i], i)
    )
    return pos, {i: r for r, i in enumerate(order)}


def test_interleave_strata_matches_loop_reference(spark):
    rows = [(i, ["web", "wiki", "code"][i % 3] if i % 7 else "rare")
            for i in range(60)]
    exp_pos, exp_rank = _interleave_ref(rows)
    df = spark.createDataFrame(rows, "doc_id long, src string")
    got = C.interleave_strata(
        df, "src", method="md5", n_partitions=5
    ).collect()
    assert len(got) == 60
    for r in got:
        assert r["interleave_pos"] == exp_pos[r["doc_id"]], r
        assert r["interleave_rank"] == exp_rank[r["doc_id"]], r


def test_interleave_strata_exact_proportional_spread(spark):
    """Any prefix of the global order holds each stratum's proportional
    share within ±(#strata) — including a 2-doc stratum at thirds of a
    300-doc corpus (where a hash shuffle can clump)."""
    rows = [(i, "big") for i in range(200)]
    rows += [(200 + i, "mid") for i in range(98)]
    rows += [(298, "tiny"), (299, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    got = (
        C.interleave_strata(df, "src", n_partitions=7)
        .orderBy("interleave_rank")
        .collect()
    )
    n = {"big": 200, "mid": 98, "tiny": 2}
    seen = {s: 0 for s in n}
    for p, r in enumerate(got, 1):
        seen[r["src"]] += 1
        for s in n:
            assert abs(seen[s] - p * n[s] / 300) <= 3, (p, s, seen)
    # the tiny stratum splits the corpus in thirds (±a few positions)
    tiny = sorted(r["interleave_rank"] for r in got if r["src"] == "tiny")
    assert abs(tiny[0] - 100) <= 3 and abs(tiny[1] - 200) <= 3, tiny


def test_interleave_strata_layout_invariant_and_seed_sensitive(spark):
    rows = [(i, "ab"[i % 2]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    a = {
        r["doc_id"]: (r["interleave_pos"], r["interleave_rank"])
        for r in C.interleave_strata(df, "src", n_partitions=3).collect()
    }
    b = {
        r["doc_id"]: (r["interleave_pos"], r["interleave_rank"])
        for r in C.interleave_strata(
            df.repartition(11), "src", n_partitions=6
        ).collect()
    }
    assert a == b  # positions and ranks are layout/parallelism-invariant
    c = {
        r["doc_id"]: r["interleave_rank"]
        for r in C.interleave_strata(
            df, "src", seed=7, n_partitions=3
        ).collect()
    }
    assert c != {k: v[1] for k, v in a.items()}  # new seed = new order


def test_interleave_strata_null_guards_and_order_only(spark):
    import pytest
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "doc_id long, src string"
    )
    with pytest.raises(PySparkException):
        C.interleave_strata(df, "src", n_partitions=2).collect()
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, src string")
    ordered = C.interleave_strata(ok, "src", rank_col=None, n_partitions=2)
    assert "interleave_rank" not in ordered.columns
    assert {r["doc_id"] for r in ordered.collect()} == {1, 2}


# --------------------------------------------------- temperature mixture


def test_temperature_budgets_closed_form(spark):
    import math

    toks = {"a": 8000, "b": 1500, "c": 500}
    rows = [(f"{s}{i}", s, n // 10) for s, n in toks.items() for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, src string, tc long")
    for temp in (1.0, 2.0, 5.0):
        got = {
            r["src"]: (r["total_tokens"], r["weight"], r["budget"])
            for r in C.temperature_budgets(
                df, "src", "tc", total_budget=100_000, temperature=temp
            ).collect()
        }
        tot = sum(toks.values())
        raw = {s: (n / tot) ** (1.0 / temp) for s, n in toks.items()}
        z = sum(raw.values())
        for s, n in toks.items():
            w = raw[s] / z
            assert got[s][0] == n
            assert math.isclose(got[s][1], w, rel_tol=1e-12), (temp, s)
            assert got[s][2] == round(w * 100_000), (temp, s)
    # T=1 keeps the natural mixture exactly; higher T flattens
    w1 = {r["src"]: r["weight"] for r in C.temperature_budgets(
        df, "src", "tc", 100, temperature=1.0).collect()}
    w5 = {r["src"]: r["weight"] for r in C.temperature_budgets(
        df, "src", "tc", 100, temperature=5.0).collect()}
    assert math.isclose(w1["a"], 0.8, rel_tol=1e-12)
    assert w5["a"] < w1["a"] and w5["c"] > w1["c"]


def test_temperature_budgets_edges(spark):
    import pytest
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [("x1", "x", 100), ("y1", "y", 0)], "doc_id string, src string, tc long"
    )
    got = {r["src"]: r for r in C.temperature_budgets(
        df, "src", "tc", 1000, temperature=2.0).collect()}
    assert got["y"]["weight"] == 0.0 and got["y"]["budget"] == 0
    assert got["x"]["budget"] == 1000
    with pytest.raises(ValueError, match="temperature"):
        C.temperature_budgets(df, "src", "tc", 1000, temperature=0.0)
    bad = spark.createDataFrame([("z1", None, 5)], "doc_id string, src string, tc long")
    with pytest.raises(PySparkException):
        C.temperature_budgets(bad, "src", "tc", 10).collect()


def test_temperature_budgets_all_zero_corpus(spark):
    df = spark.createDataFrame(
        [("a1", "a", 0), ("b1", "b", 0)], "doc_id string, src string, tc long"
    )
    got = {r["src"]: r for r in C.temperature_budgets(
        df, "src", "tc", 1000, temperature=2.0).collect()}
    assert all(r["weight"] == 0.0 and r["budget"] == 0 for r in got.values())


def test_down_then_upsample_needs_independent_draws(spark):
    """Composition contract (code-review r6): chaining the downsampler
    and the epoch-upsampler on the SAME md5 draw makes the extra-copy
    rule pick exactly the downsample survivors (rate frac/f, not
    frac); an independent xxhash64 draw restores the expectation."""
    df = spark.createDataFrame(
        [(f"d{i}", "s", 1) for i in range(4000)],
        "doc_id string, src string, tc long",
    )
    down = C.sample_to_token_budget(
        df, "src", "tc", budgets={"s": 400}, id_col="doc_id"
    )
    kept = down.count()
    assert abs(kept - 400) < 80
    up_budget = {"s": int(kept * 1.3)}
    good = C.repeat_to_token_budget(
        down, "src", "tc", up_budget, id_col="doc_id",
        method="xxhash64", seed=1,
    ).count()
    bad = C.repeat_to_token_budget(
        down, "src", "tc", up_budget, id_col="doc_id",  # same md5 draw
    ).count()
    assert abs(good - 1.3 * kept) < 0.12 * kept, (good, kept)
    # the correlated draw doubles every survivor (frac/f ≈ 3 -> capped)
    assert bad > 1.8 * kept, (bad, kept)


if _HYP_SHUF:

    @settings(max_examples=6, deadline=None)
    @given(
        rows=st.dictionaries(
            st.integers(-(2**40), 2**40),
            st.sampled_from(["a", "b", "c", "dominant"]),
            min_size=2,
            max_size=90,
        ),
        seed=st.integers(0, 2**20),
        n_parts=st.integers(1, 7),
    )
    def test_interleave_strata_property(spark, rows, seed, n_parts):
        """For ANY (id -> stratum) map, seed and partition count:
        positions are exactly r/(n_s+1) of the driver-side per-stratum
        (md5(seed:id), id) sort and ranks are the positions of the
        global (pos, key, id) sort — the mono-id/side-table machinery
        never disagrees with the sequential definition."""
        import hashlib

        key = {
            i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest() for i in rows
        }
        by_s: dict = {}
        for i, s in rows.items():
            by_s.setdefault(s, []).append(i)
        pos = {}
        for s, ids in by_s.items():
            for r, i in enumerate(sorted(ids, key=lambda i: (key[i], i)), 1):
                pos[i] = r / (len(ids) + 1)
        order = sorted(rows, key=lambda i: (pos[i], key[i], i))
        exp_rank = {i: r for r, i in enumerate(order)}

        df = spark.createDataFrame(
            list(rows.items()), "doc_id long, src string"
        )
        got = C.interleave_strata(
            df, "src", seed=seed, method="md5", n_partitions=n_parts
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert r["interleave_pos"] == pos[r["doc_id"]], r
            assert r["interleave_rank"] == exp_rank[r["doc_id"]], r


def test_interleave_strata_curriculum_order(spark):
    """order_col mode: each stratum walks its own easy->hard score
    order while the proportional spread is unchanged."""
    rows = [(i, "ab"[i % 2], float((7 * i) % 40)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, src string, score double")
    got = (
        C.interleave_strata(df, "src", order_col="score", n_partitions=3)
        .orderBy("interleave_rank")
        .collect()
    )
    # within each stratum, ranks respect ascending score
    for s in ("a", "b"):
        scores = [r["score"] for r in got if r["src"] == s]
        assert scores == sorted(scores), (s, scores)
    # proportional spread: strata alternate through any prefix
    seen = {"a": 0, "b": 0}
    for p, r in enumerate(got, 1):
        seen[r["src"]] += 1
        assert abs(seen["a"] - seen["b"]) <= 2, (p, seen)
    # layout invariance holds in curriculum mode too
    again = {
        r["doc_id"]: r["interleave_rank"]
        for r in C.interleave_strata(
            df.repartition(7), "src", order_col="score", n_partitions=5
        ).collect()
    }
    assert again == {r["doc_id"]: r["interleave_rank"] for r in got}
    # NULL score is rejected loudly
    import pytest
    from pyspark.errors import PySparkException

    bad = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "doc_id long, src string, score double"
    )
    with pytest.raises(PySparkException, match="NULL score"):
        C.interleave_strata(
            bad, "src", order_col="score", n_partitions=2
        ).collect()
