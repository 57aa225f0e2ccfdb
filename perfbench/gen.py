"""Seeded input generators for the benchmark workloads.

Everything here is numpy + pyarrow: the program under test only ever
sees the parquet files these functions write, and nothing here imports
the program, so a change to the library cannot change a workload.

Each generator also returns the planted answer the verifier checks
against (kept documents, dropped twins) where one exists.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_767_225_600 * 1_000_000  # 2026-01-01T00:00:00Z
TOOLS = np.array(["search", "bash", "read", "write", "browser"])
ROLES = np.array(["user", "assistant", "tool"])
TEXT_ALPHABET = np.frombuffer(b"abcdefghijklmnop    ", dtype="S1")
SESSION_GAP_S = 1800
TEXT_LEN = (20, 400)  # [lo, hi) characters per turn text
TRANSCRIPT_FILES = 8
GIANT_CONVS = 3  # the skew tail: this many conversations of giant_turns turns
REFRESH_SHARE = 0.01  # share of conversations a refresh batch touches
EMB_DIM = 64
TWIN_SHARE = 0.05  # share of the embeddings that are a planted twin

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
LABEL_SCHEMA = pa.schema([("conv_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))])


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random-letter strings of length in ``TEXT_LEN``."""
    lo, hi = TEXT_LEN
    pool = rng.choice(TEXT_ALPHABET, size=hi * 64).tobytes().decode("ascii")
    offs = rng.integers(0, len(pool) - hi, size=n)
    lens = rng.integers(lo, hi, size=n)
    return [pool[o : o + k] for o, k in zip(offs.tolist(), lens.tolist())]


@dataclass
class Transcripts:
    """Generated transcript table plus the per-conversation state the
    refresh batches extend."""

    path: str
    labels_path: str
    rows: int
    labels: int
    conv_ids: np.ndarray  # conversation id strings
    last_turn: np.ndarray  # last turn_idx per conversation
    last_ts_us: np.ndarray  # last ts per conversation (epoch µs)


def transcripts(root: str, seed: int, n_conv: int, giant_turns: int) -> Transcripts:
    """Conversations of 1–30 turns plus ``GIANT_CONVS`` conversations of
    ``giant_turns`` turns (the skew tail). Gaps are 1–120 s, with ~4 %
    session breaks (> 30 min) and ~3 % equal-ts ties. Rows are shuffled
    across ``TRANSCRIPT_FILES`` parquet files. Label points cover a third of the
    conversations: exact turn ts, ts + 1 s, one hour before the first
    turn and one hour after the last."""
    rng = np.random.default_rng([seed, 1])
    lens = np.concatenate(
        [rng.integers(1, 31, size=n_conv), np.full(GIANT_CONVS, giant_turns)]
    ).astype(np.int64)
    total_conv = len(lens)
    conv_ids = np.array([f"s{seed}c{i:07d}" for i in rng.permutation(total_conv)])
    n = int(lens.sum())
    conv = np.repeat(np.arange(total_conv), lens)
    starts = np.cumsum(lens) - lens
    turn = np.arange(n) - np.repeat(starts, lens)
    first = turn == 0

    role = ROLES[rng.choice(3, size=n, p=[0.35, 0.4, 0.25])]
    role[first & (rng.random(n) < 0.3)] = "system"
    role[first & (role != "system")] = "user"
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), size=n)], "")

    gap = rng.integers(1, 121, size=n)
    u = rng.random(n)
    gap[u < 0.03] = 0
    brk = (u >= 0.03) & (u < 0.07)
    gap[brk] = rng.integers(SESSION_GAP_S + 1, 4 * SESSION_GAP_S, size=int(brk.sum()))
    gap[first] = 0
    conv_start = EPOCH_US + rng.integers(0, 30 * 86400, size=total_conv) * 1_000_000
    csum = np.cumsum(gap)
    within = csum - np.repeat(csum[starts], lens)
    ts = np.repeat(conv_start, lens) + within * 1_000_000

    order = rng.permutation(n)
    table = pa.table(
        {
            "conv_id": conv_ids[conv][order],
            "turn_idx": turn[order].astype(np.int32),
            "role": role[order],
            "text": np.array(_texts(rng, n), dtype=object)[order],
            "tool": tool[order],
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    path = os.path.join(root, "transcripts")
    _write_split(table, path, TRANSCRIPT_FILES)

    # label points on every third conversation
    picked = rng.random(total_conv) < 1 / 3
    sel = picked[conv]
    exact = sel & (turn % 4 == 1)
    plus1 = sel & (turn % 4 == 2)
    ends = starts + lens - 1
    pc = np.nonzero(picked)[0]
    label_conv = np.concatenate([conv[exact], conv[plus1], pc, pc])
    label_ts = np.concatenate(
        [
            ts[exact],
            ts[plus1] + 1_000_000,
            ts[starts[pc]] - 3600 * 1_000_000,
            ts[ends[pc]] + 3600 * 1_000_000,
        ]
    )
    lorder = rng.permutation(len(label_conv))
    labels = pa.table(
        {
            "conv_id": conv_ids[label_conv][lorder],
            "ts": pa.array(label_ts[lorder], pa.timestamp("us", tz="UTC")),
        },
        schema=LABEL_SCHEMA,
    )
    labels_path = os.path.join(root, "labels")
    _write_split(labels, labels_path, 2)
    return Transcripts(
        path=path,
        labels_path=labels_path,
        rows=n,
        labels=labels.num_rows,
        conv_ids=conv_ids,
        last_turn=lens - 1,
        last_ts_us=ts[ends],
    )


def refresh_batch(tr: Transcripts, path: str, seed: int, k: int) -> int:
    """Batch ``k`` of new turns: 1–4 turns appended after the last turn of
    ``REFRESH_SHARE`` of the conversations. Same size for every ``k``, different
    conversations. Returns the number of new turns."""
    rng = np.random.default_rng([seed, 2, k])
    n_conv = len(tr.conv_ids)
    picked = rng.choice(n_conv, size=max(1, int(n_conv * REFRESH_SHARE)), replace=False)
    extra = rng.integers(1, 5, size=len(picked))
    conv = np.repeat(picked, extra)
    m = len(conv)
    first = np.cumsum(extra) - extra
    step = np.arange(m) - np.repeat(first, extra) + 1
    gap = rng.integers(1, 121, size=m)
    csum = np.cumsum(gap)
    gap_sum = csum - np.repeat(csum[first] - gap[first], extra)  # per-conv running sum
    role = ROLES[rng.choice(3, size=m, p=[0.35, 0.4, 0.25])]
    table = pa.table(
        {
            "conv_id": tr.conv_ids[conv],
            "turn_idx": (tr.last_turn[conv] + step).astype(np.int32),
            "role": role,
            "text": _texts(rng, m),
            "tool": np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), size=m)], ""),
            "ts": pa.array(tr.last_ts_us[conv] + gap_sum * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPT_SCHEMA,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
    return m


@dataclass
class Corpus:
    docs_path: str
    emb_path: str
    n_docs: int
    n_vecs: int
    kept_docs: set  # planted answer: doc ids the dedup keeps
    dropped_vecs: set  # planted answer: vec ids semantic dedup drops


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrst"))
    lens = rng.integers(3, 9, size=size)
    words = {"".join(rng.choice(letters, size=k)) for k in lens.tolist()}
    return np.array(sorted(words))


def corpus(root: str, seed: int, n_docs: int, n_vecs: int) -> Corpus:
    """Pseudo-word documents with planted duplicates, and Gaussian
    embeddings with planted twins.

    Documents: a quarter of the documents are near-duplicate family
    members (one family of a tenth of the documents, the rest of 2–5) whose
    members replace ~8 % of the base's words, so member–base character
    3-gram Jaccard stays far above 0.5 while unrelated documents share
    almost none. About 8 % of the documents are exact copies of another
    document up to case and whitespace. Ids are a random permutation.

    Embeddings: ``TWIN_SHARE`` of the vectors are the twin of another:
    the same vector scaled by 0.5 or 2. Power-of-two scaling keeps every cosine and
    centroid assignment bit-identical, so each twin pair has cosine 1
    and lands in one cluster with equal centroid similarity; semantic
    dedup then drops the higher id of each pair and nothing else."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    n_exact = int(n_docs * 0.08)
    n_unique = n_docs - n_exact

    # family sizes: one big family, then 2–5-member families until a
    # quarter of the unique documents are family members
    sizes = [n_docs // 10]
    while sum(sizes) < n_unique // 4:
        sizes.append(int(rng.integers(2, 6)))
    n_base = n_unique - sum(sizes) + len(sizes)
    word_lists = [
        list(rng.choice(vocab, size=int(k))) for k in rng.integers(20, 60, size=n_base)
    ]
    family = list(range(n_base))  # family id per unique doc (own index for singletons)
    for f, size in enumerate(sizes):
        base = word_lists[f]
        for _ in range(size - 1):
            w = list(base)
            pos = rng.choice(len(w), size=max(1, len(w) * 8 // 100), replace=False)
            for p, r in zip(pos.tolist(), rng.choice(vocab, size=len(pos)).tolist()):
                w[p] = r
            word_lists.append(w)
            family.append(f)
    texts = [" ".join(w) for w in word_lists]
    family = np.array(family)

    # exact copies up to case and whitespace
    src = rng.integers(0, n_unique, size=n_exact)
    copies = []
    for s in src.tolist():
        words = texts[s].split(" ")
        j = int(rng.integers(0, len(words)))
        words[j] = words[j].upper()
        copies.append("  " + "  ".join(words) + " ")
    all_texts = texts + copies
    origin = np.concatenate([np.arange(n_unique), src])  # unique text each doc carries
    ids = rng.permutation(n_docs).astype(np.int64) + 1

    # planted answer: exact dedup keeps the min id per unique text, then
    # each family keeps the min surviving id
    survivor = np.full(n_unique, np.iinfo(np.int64).max)
    np.minimum.at(survivor, origin, ids)
    fam_min = np.full(n_base, np.iinfo(np.int64).max)
    np.minimum.at(fam_min, family, survivor)
    kept = set(fam_min.tolist())

    order = rng.permutation(n_docs)
    docs = pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([all_texts[i] for i in order.tolist()], pa.string()),
        }
    )
    docs_path = os.path.join(root, "docs")
    _write_split(docs, docs_path, 4)

    # embeddings with planted twins
    n_twins = int(n_vecs * TWIN_SHARE)
    n_orig = n_vecs - n_twins
    X = rng.standard_normal((n_orig, EMB_DIM))
    twin_of = rng.choice(n_orig, size=n_twins, replace=False)
    scale = np.where(rng.random(n_twins) < 0.5, 0.5, 2.0)
    X = np.vstack([X, X[twin_of] * scale[:, None]])
    vids = rng.permutation(n_vecs).astype(np.int64) + 1
    dropped = set(np.maximum(vids[twin_of], vids[n_orig:]).tolist())
    vorder = rng.permutation(n_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(vids[vorder], pa.int64()),
            "embedding": pa.array(list(X[vorder]), pa.list_(pa.float64())),
        }
    )
    emb_path = os.path.join(root, "embeddings")
    _write_split(emb, emb_path, 4)
    return Corpus(
        docs_path=docs_path,
        emb_path=emb_path,
        n_docs=n_docs,
        n_vecs=n_vecs,
        kept_docs=kept,
        dropped_vecs=dropped,
    )
