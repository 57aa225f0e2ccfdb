"""Independent DuckDB reference for the transcript workloads, and
order-independent checksums of what the program wrote.

The reference recomputes the 12 golden features and the strict-``<``
as-of snapshot from the generated parquet with DuckDB window functions
and an ``ASOF JOIN``; it shares no code with the program. Both sides are
reduced to (row count, sum of row hashes) over the same canonical
column types, so row order and file layout do not matter.
"""

from __future__ import annotations

import contextlib
import glob
import os

import duckdb

GOLDEN_FEATURES = [
    "text_len", "is_tool_turn", "prev_role", "ts_delta_prev",
    "turns_so_far", "cum_tool_calls", "user_turns_last_10",
    "tool_calls_last_10", "tool_calls_last_600s", "session_id",
    "turn_in_session", "session_start_ts",
]
_TS_COLS = {"ts", "session_start_ts"}
_STR_COLS = {"conv_id", "prev_role"}
_DOUBLE_COLS = {"ts_delta_prev"}
FEATURE_COLS = ["conv_id", "turn_idx", "ts", *GOLDEN_FEATURES]
SNAPSHOT_COLS = ["conv_id", "ts", *GOLDEN_FEATURES]

_FEATURES_SQL = """
WITH t AS (
  SELECT conv_id, turn_idx::BIGINT AS turn_idx, role, text, epoch_us(ts) AS ts_us
  FROM read_parquet({files})
  {where}
), b AS (
  SELECT *, lag(role) OVER w AS prev_role, lag(ts_us) OVER w AS prev_ts
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), s AS (
  SELECT *, sum(CASE WHEN ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS session_id
  FROM b
)
SELECT conv_id, turn_idx, ts_us AS ts,
  length(text) AS text_len,
  (role = 'tool')::BIGINT AS is_tool_turn,
  prev_role,
  (ts_us - prev_ts)::DOUBLE / 1000000.0::DOUBLE AS ts_delta_prev,
  count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS turns_so_far,
  coalesce(sum((role = 'tool')::BIGINT) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_tool_calls,
  coalesce(sum((role = 'user')::BIGINT) OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 0) AS user_turns_last_10,
  coalesce(sum((role = 'tool')::BIGINT) OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 0) AS tool_calls_last_10,
  coalesce(sum((role = 'tool')::BIGINT) OVER (PARTITION BY conv_id ORDER BY ts_us
           RANGE BETWEEN 600000000 PRECEDING AND 1 PRECEDING), 0) AS tool_calls_last_600s,
  session_id,
  row_number() OVER (PARTITION BY conv_id, session_id ORDER BY turn_idx) - 1 AS turn_in_session,
  first_value(ts_us) OVER (PARTITION BY conv_id, session_id ORDER BY turn_idx) AS session_start_ts
FROM s WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""


def _canon(col: str, already_us: bool) -> str:
    """Canonical-typed expression for one output column."""
    if col in _TS_COLS:
        return f"{col}::BIGINT" if already_us else f"epoch_us({col})"
    if col in _STR_COLS:
        return f"{col}::VARCHAR"
    if col in _DOUBLE_COLS:
        return f"{col}::DOUBLE"
    return f"{col}::BIGINT"


@contextlib.contextmanager
def _connect():
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        yield con
    finally:
        con.close()


def _digest(con, relation: str, cols: list[str], already_us: bool) -> tuple[int, int]:
    exprs = ", ".join(_canon(c, already_us) for c in cols)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({exprs})::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _files(paths) -> str:
    paths = [paths] if isinstance(paths, str) else list(paths)
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)) if os.path.isdir(p) else [p]
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


class Reference:
    """Expected digests of a transcript table's feature rows and
    snapshot rows, computed once per input."""

    def __init__(self, transcripts, labels_path: str) -> None:
        with _connect() as con:
            con.execute(
                "CREATE TEMP TABLE feats AS " + _FEATURES_SQL.format(files=_files(transcripts), where="")
            )
            self.features = _digest(con, "feats", FEATURE_COLS, already_us=True)
            # strict as-of: the latest turn with ts < label ts; among
            # equal-ts turns the highest turn_idx wins
            snaps = f"""(
                WITH l AS (SELECT conv_id, epoch_us(ts) AS ts FROM read_parquet({_files(labels_path)})),
                f AS (SELECT * FROM feats
                      QUALIFY row_number() OVER (PARTITION BY conv_id, ts ORDER BY turn_idx DESC) = 1)
                SELECT l.conv_id, l.ts, {", ".join("f." + c for c in GOLDEN_FEATURES)}
                FROM l ASOF LEFT JOIN f ON l.conv_id = f.conv_id AND l.ts > f.ts)"""
            self.snapshots = _digest(con, snaps, SNAPSHOT_COLS, already_us=True)


def refresh_digest(transcript_paths, conv_ids) -> tuple[int, int]:
    """Expected digest of the feature rows of ``conv_ids`` recomputed
    from scratch over ``transcript_paths``."""
    with _connect() as con:
        con.execute("CREATE TEMP TABLE ids (conv_id VARCHAR)")
        con.executemany("INSERT INTO ids VALUES (?)", [(c,) for c in conv_ids])
        sql = _FEATURES_SQL.format(
            files=_files(transcript_paths),
            where="WHERE conv_id IN (SELECT conv_id FROM ids)",
        )
        return _digest(con, f"({sql})", FEATURE_COLS, already_us=True)


def output_digest(path, cols: list[str], hive: bool = False) -> tuple[int, int]:
    """Digest of parquet output written by the program."""
    with _connect() as con:
        rel = f"read_parquet({_files(path)}, hive_partitioning = {str(hive).lower()})"
        return _digest(con, rel, cols, already_us=False)


def count_where(path, predicate: str) -> int:
    with _connect() as con:
        return int(con.execute(
            f"SELECT count(*) FROM read_parquet({_files(path)}) WHERE {predicate}"
        ).fetchone()[0])


def column_values(path, col: str, predicate: str = "true") -> list:
    with _connect() as con:
        return [r[0] for r in con.execute(
            f"SELECT {col} FROM read_parquet({_files(path)}) WHERE {predicate}"
        ).fetchall()]
