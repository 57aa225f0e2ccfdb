"""Pandas loop-oracles for the golden feature set (FIXTURES.md §5).

Deliberately written as explicit per-conversation loops — slow, obvious,
and independent of the Spark implementations they check. Leakage-safe
semantics mirror SURVEY.md §2.C: trailing frames end strictly before the
current row (row frames) or at ts - 1µs (time frames).

Also holds plain-Spark reference plans that the library replaced with
faster ones and keeps only as parity oracles (``ngram_jaccard_pairs_join``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from feagen_spark.operators import dedup as D

SESSION_GAP_S = 1800


def per_conv(pdf: pd.DataFrame):
    for _, g in pdf.groupby("conv_id", sort=True):
        yield g.sort_values("turn_idx").reset_index()


def oracle_features(pdf: pd.DataFrame) -> pd.DataFrame:
    """Compute all golden features with explicit loops; returns a frame
    indexed like pdf sorted by (conv_id, turn_idx)."""
    out_rows = []
    for g in per_conv(pdf):
        n = len(g)
        ts = g["ts"].astype("datetime64[us]")
        ts_us = ts.astype("int64").to_numpy()
        role = g["role"].to_numpy()
        session_id = np.zeros(n, dtype=int)
        for i in range(n):
            row = {
                "conv_id": g.loc[i, "conv_id"],
                "turn_idx": int(g.loc[i, "turn_idx"]),
                "text_len": len(g.loc[i, "text"]),
                "is_tool_turn": int(role[i] == "tool"),
                "prev_role": role[i - 1] if i > 0 else None,
                "next_role": role[i + 1] if i < n - 1 else None,
                "ts_delta_prev": (
                    (ts_us[i] - ts_us[i - 1]) / 1e6 if i > 0 else None
                ),
                "turns_so_far": i,
                "cum_tool_calls": int(np.sum(role[:i] == "tool")),
                "user_turns_last_10": int(
                    np.sum(role[max(0, i - 10) : i] == "user")
                ),
                "tool_calls_last_10": int(
                    np.sum(role[max(0, i - 10) : i] == "tool")
                ),
            }
            # time frame [ts-600s, ts-1us]
            lo, hi = ts_us[i] - 600 * 1_000_000, ts_us[i] - 1
            mask = (ts_us >= lo) & (ts_us <= hi)
            row["tool_calls_last_600s"] = int(np.sum(mask & (role == "tool")))
            if i > 0 and (ts_us[i] - ts_us[i - 1]) > SESSION_GAP_S * 1_000_000:
                session_id[i] = session_id[i - 1] + 1
            elif i > 0:
                session_id[i] = session_id[i - 1]
            row["session_id"] = int(session_id[i])
            out_rows.append(row)
        # second pass for session-scoped features
        base = len(out_rows) - n
        for i in range(n):
            sid = session_id[i]
            in_sess = np.where(session_id == sid)[0]
            out_rows[base + i]["turn_in_session"] = int(
                np.sum(in_sess < i)
            )
            out_rows[base + i]["session_start_ts"] = ts.iloc[in_sess[0]]
    return pd.DataFrame(out_rows)


def oracle_asof(
    labels: pd.DataFrame,
    right: pd.DataFrame,
    value_cols: list[str],
    strict: bool = True,
) -> pd.DataFrame:
    """Loop as-of: for each (conv_id, ts) label pick the right row with the
    greatest (ts, turn_idx) such that right.ts < (or <=) label.ts."""
    rows = []
    rg = {k: g.sort_values(["ts", "turn_idx"]) for k, g in right.groupby("conv_id")}
    for _, lr in labels.iterrows():
        g = rg.get(lr["conv_id"])
        picked = None
        if g is not None:
            if strict:
                adm = g[g["ts"] < lr["ts"]]
            else:
                adm = g[g["ts"] <= lr["ts"]]
            if len(adm):
                picked = adm.iloc[-1]
        row = {"conv_id": lr["conv_id"], "ts": lr["ts"]}
        for v in value_cols:
            row[v] = picked[v] if picked is not None else None
        rows.append(row)
    return pd.DataFrame(rows)


def oracle_session_aggs(pdf_with_sessions: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for (conv, sid), g in pdf_with_sessions.groupby(["conv_id", "session_id"]):
        ts = g["ts"].astype("datetime64[us]")
        rows.append(
            {
                "conv_id": conv,
                "session_id": int(sid),
                "session_turns": len(g),
                "session_start": ts.min(),
                "session_end": ts.max(),
                "session_duration_s": (
                    ts.max() - ts.min()
                ).total_seconds(),
                "session_tool_calls": int((g["role"] == "tool").sum()),
            }
        )
    return pd.DataFrame(rows)


def ngram_jaccard_pairs_join(
    df, n=3, threshold=0.8, id_col="doc_id", text_col="text"
):
    """Reference plan for ``dedup.ngram_jaccard_pairs``: the shingle-
    explode self-join — every shared shingle is one joined row, counted
    per (id_a < id_b) pair, then joined to both set sizes. Σ df(s)² rows,
    so test-sized inputs only. Shares the library's shingles and its JVM
    jaccard expression, so the emitted doubles are comparable bit for
    bit."""
    sh = D.shingles(df, n, id_col, text_col)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    cand = inter.join(sa, "id_a").join(sb, "id_b")
    return D._jaccard_at_least(cand, threshold).select("id_a", "id_b", "jaccard")
