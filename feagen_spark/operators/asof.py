"""Point-in-time / as-of join and backfill (SURVEY.md §2.C C9-C10).

For each left (label/query) row ``(keys, ts)`` attach the latest right
(feature) row with ``right.ts <= left.ts`` (``strict=False``) or
``right.ts < left.ts`` (``strict=True``, the leakage-safe default per
BASELINE.json:14 — a feature snapshot taken AT the label instant is
already information from that instant).

Implementation: the union-and-window pattern, chosen over a range join
because it costs exactly ONE shuffle on the join keys and never
materializes an (n_left × n_right) intermediate — at 10^12 turns a
range/theta join on (conv_id, ts<=) would explode. Both sides are
tagged, unioned by name, and a single
``last(snapshot, ignorenulls=True)`` window ordered by
``(ts, side_tag)`` carries the most recent feature struct forward onto
each left row. Tie-break at equal ts is encoded purely in the side tag
ordering:

    strict=False: right rows sort BEFORE left rows at equal ts → visible
    strict=True:  right rows sort AFTER  left rows at equal ts → hidden

Right-side values are carried inside ONE struct column, so genuinely
NULL feature values do not make ``last(..., ignorenulls)`` leak an older
snapshot forward (the struct itself is non-null for every right row).

Skew: the single window partitions by the join keys; AQE cannot split a
skewed window partition, so one pathologically hot key pins one task.
:func:`asof_join_chunked` is the skew-safe variant: it buckets the
union by time span and runs the carry-forward in two passes (within-
chunk window + per-chunk-prefix fixup), turning a giant key's single
task into O(span_count) parallel tasks. :func:`asof_join_nearest` runs
two plain legs, so a hot key pins one task per leg.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_SIDE = "__asof_side"
_SNAP = "__asof_snap"
_ORD = "__asof_ord"
_CHUNK = "__asof_chunk"
_RTS = "__asof_rts"


@dataclass(frozen=True)
class _AsofUnion:
    u: DataFrame
    on: list[str]
    left_ts: str
    values: list[str]
    out_cols: list[str]
    left_payload: list[str]
    ord_aliases: list[str]
    left_side: int
    right_side: int


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    values: Sequence[str] | None,
    strict: bool,
    right_order: Sequence[str],
    value_prefix: str,
) -> _AsofUnion:
    """Shared construction: tag both sides, union by name. The window
    (plain) or two-pass (chunked) carry runs on the result."""
    on = list(on)
    if values is None:
        values = [c for c in right.columns if c not in set(on) | {right_ts}]
    values = list(values)

    out_cols = [f"{value_prefix}{v}" for v in values]
    left_payload = [c for c in left.columns if c not in set(on) | {left_ts}]

    # a snapshot output colliding with a left column would "succeed"
    # into a frame with two same-named columns — every later reference
    # dies with AMBIGUOUS_REFERENCE far from the cause (code-review r6).
    # Surface it at call time with the fix in hand.
    clash = sorted(set(out_cols) & ({*left_payload, *on, left_ts}))
    if clash:
        raise ValueError(
            f"as-of output column(s) {clash} already exist on the left "
            f"side; pass value_prefix= or values= to disambiguate"
        )

    # tag ordering: lower _SIDE sorts first at equal ts
    right_side = 0 if not strict else 2
    left_side = 1

    # tie-break columns among equal-ts right rows, renamed to avoid any
    # clash with left payload columns
    ord_aliases = [f"{_ORD}{i}" for i in range(len(right_order))]

    r = right.select(
        *on,
        F.col(right_ts).alias(_ORD),
        F.lit(right_side).alias(_SIDE),
        # the matched right row's own ts rides inside the snapshot
        # struct: tolerance_s (staleness TTL) and include_right_ts need
        # it after the carry — one extra fixed-width field, no extra
        # shuffle stage
        F.struct(
            *[F.col(v) for v in values], F.col(right_ts).alias(_RTS)
        ).alias(_SNAP),
        *[
            F.col(c).alias(a)
            for c, a in zip(right_order, ord_aliases)
        ],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        F.lit(None).cast(left.schema[left_ts].dataType).alias(left_ts),
    )
    l = left.select(
        *on,
        F.col(left_ts).alias(_ORD),
        F.lit(left_side).alias(_SIDE),
        F.lit(None).cast(r.schema[_SNAP].dataType).alias(_SNAP),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(a)
            for c, a in zip(right_order, ord_aliases)
        ],
        *left_payload,
        F.col(left_ts),
    )
    return _AsofUnion(
        u=r.unionByName(l),
        on=on,
        left_ts=left_ts,
        values=values,
        out_cols=out_cols,
        left_payload=left_payload,
        ord_aliases=ord_aliases,
        left_side=left_side,
        right_side=right_side,
    )


def _asof_project(
    au: _AsofUnion, u: DataFrame, include_right_ts: str | None = None
) -> DataFrame:
    picked = u.where(F.col(_SIDE) == au.left_side)
    extra = (
        [F.col(f"{_SNAP}.{_RTS}").alias(include_right_ts)]
        if include_right_ts
        else []
    )
    return picked.select(
        *au.on,
        au.left_ts,
        *au.left_payload,
        *[
            F.col(f"{_SNAP}.{v}").alias(o)
            for v, o in zip(au.values, au.out_cols)
        ],
        *extra,
    )


def _apply_tolerance(
    au: _AsofUnion, u: DataFrame, tolerance_s: float | None
) -> DataFrame:
    """Staleness TTL (feature-store semantics): a matched snapshot older
    than ``tolerance_s`` relative to the left row's ts is discarded —
    the row gets NULLs exactly as if no right row existed. Applied after
    the carry, so it is one map-side projection (no extra shuffle)."""
    if tolerance_s is None:
        return u
    lt = u.schema[au.left_ts].dataType
    rts = F.col(f"{_SNAP}.{_RTS}")
    if isinstance(lt, (T.TimestampType, T.TimestampNTZType)):
        age = F.unix_micros(F.col(au.left_ts).cast("timestamp")) - F.unix_micros(
            rts.cast("timestamp")
        )
        limit = int(tolerance_s * 1_000_000)
    elif isinstance(lt, T.NumericType):
        # numeric ordering column: tolerance in the column's own units
        age = F.col(au.left_ts).cast("double") - rts.cast("double")
        limit = tolerance_s
    else:
        # DateType etc. would die inside the cast with an opaque
        # AnalysisException — fail with the actual contract instead
        raise ValueError(
            f"tolerance_s needs a timestamp or numeric ordering column; "
            f"got {lt.simpleString()} (for dates, cast to timestamp or "
            f"to epoch days first)"
        )
    return u.withColumn(_SNAP, F.when(age <= F.lit(limit), F.col(_SNAP)))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    values: Sequence[str] | None = None,
    strict: bool = True,
    right_order: Sequence[str] = (),
    value_prefix: str = "",
    tolerance_s: float | None = None,
    include_right_ts: str | None = None,
) -> DataFrame:
    """As-of join left←right on ``on`` keys ordered by timestamps.

    Returns all left rows + ``values`` columns from the latest admissible
    right row (null when none exists). ``right_order`` breaks ties among
    right rows sharing a timestamp (latest wins); defaults to input order
    of the right frame made deterministic by right_ts only.

    ``tolerance_s`` (feature-store staleness TTL): a match older than
    this relative to the left ts is discarded — NULLs, as if no right
    row existed (for numeric ordering columns the unit is the column's
    own). ``include_right_ts`` additionally emits the matched right
    row's timestamp under that name (the "feature as-of WHEN?" audit
    column)."""
    au = _asof_union(
        left, right, on, left_ts, right_ts, values, strict, right_order,
        value_prefix,
    )
    order = [F.col(_ORD).asc(), F.col(_SIDE).asc()] + [
        F.col(a).asc() for a in au.ord_aliases
    ]
    w = (
        Window.partitionBy(*au.on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = au.u.withColumn(_SNAP, F.last(_SNAP, ignorenulls=True).over(w))
    u = _apply_tolerance(au, u, tolerance_s)
    return _asof_project(au, u, include_right_ts)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    values: Sequence[str] | None = None,
    right_order: Sequence[str] = (),
    value_prefix: str = "",
    tolerance_s: float | None = None,
    include_right_ts: str | None = None,
) -> DataFrame:
    """Nearest-in-time join (pandas ``merge_asof(direction='nearest')``
    analogue — sensor fusion / closest-reading attachment): each left
    row gets the right row with the SMALLEST |ts difference|, looking
    both backward and forward; ``tolerance_s`` bounds the distance in
    either direction.

    Composition, not a new engine: the backward leg is the inclusive
    as-of join; the forward leg is the same machinery run on NEGATED
    event time (so "latest ≤" becomes "earliest ≥"); a map-side
    projection picks whichever matched closer. Two union+window passes
    → two exchanges on the keys, still never a range-join explosion.

    Tie rules (deterministic, mirrored in the oracle): equal distance
    both directions → the BACKWARD (earlier) row wins; equal-ts rows
    within the backward leg → largest ``right_order`` wins (as-of
    convention), within the forward leg → smallest. ``right_order``
    columns must be numeric (they are negated for the forward leg);
    timestamps only for the ts columns."""
    on = list(on)
    if values is None:
        values = [c for c in right.columns if c not in set(on) | {right_ts}]
    values = list(values)
    for c in right_order:
        if not isinstance(right.schema[c].dataType, T.NumericType):
            raise ValueError(
                f"asof_join_nearest right_order columns must be numeric "
                f"(they are negated for the forward leg); {c!r} is "
                f"{right.schema[c].dataType.simpleString()}"
            )
    NEG, BTS, FTS = "__nr_neg", "__nr_bts", "__nr_fts"
    bp, fp_ = "__nr_b_", "__nr_f_"

    back = asof_join(
        left, right, on=on, left_ts=left_ts, right_ts=right_ts,
        values=values, strict=False, right_order=right_order,
        value_prefix=bp, tolerance_s=tolerance_s, include_right_ts=BTS,
    )

    lus = F.unix_micros(F.col(left_ts).cast("timestamp"))
    rneg = right.withColumn(
        NEG, -F.unix_micros(F.col(right_ts).cast("timestamp"))
    )
    neg_order = []
    for c in right_order:
        rneg = rneg.withColumn(f"__nr_no_{c}", -F.col(c))
        neg_order.append(f"__nr_no_{c}")
    fwd = asof_join(
        back.withColumn(NEG, -lus),
        rneg,
        on=on,
        left_ts=NEG,
        right_ts=NEG,
        values=values,
        strict=False,
        right_order=neg_order,
        value_prefix=fp_,
        # NEG is numeric (negated µs) → tolerance is in column units
        tolerance_s=None if tolerance_s is None else tolerance_s * 1_000_000,
        include_right_ts=FTS,
    )

    bdelta = lus - F.unix_micros(F.col(BTS).cast("timestamp"))
    fdelta = (-F.col(FTS)) - lus
    choose_back = F.col(BTS).isNotNull() & (
        F.col(FTS).isNull() | (bdelta <= fdelta)
    )
    out = fwd
    for v in values:
        out = out.withColumn(
            f"{value_prefix}{v}",
            F.when(choose_back, F.col(f"{bp}{v}")).otherwise(
                F.col(f"{fp_}{v}")
            ),
        )
    if include_right_ts:
        out = out.withColumn(
            include_right_ts,
            F.when(choose_back, F.col(BTS).cast("timestamp")).otherwise(
                F.timestamp_micros(-F.col(FTS))
            ),
        )
    drop = [NEG, BTS, FTS] + [f"{bp}{v}" for v in values] + [
        f"{fp_}{v}" for v in values
    ]
    return out.drop(*drop)


def asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    values: Sequence[str] | None = None,
    strict: bool = True,
    right_order: Sequence[str] = (),
    value_prefix: str = "",
    chunk_span_s: int = 3600,
    tolerance_s: float | None = None,
    include_right_ts: str | None = None,
) -> DataFrame:
    """Skew-safe as-of join, value-identical to :func:`asof_join`.

    A hot key in the plain union+window pins one task (Spark windows
    cannot be split by AQE). Here the union is bucketed into
    ``chunk_span_s``-second time chunks and the carry-forward runs in
    two passes:

    1. within-chunk: ``last(snap) ignorenulls`` over (keys, chunk) —
       parallelism O(time-span / chunk_span_s) per key;
    2. cross-chunk: the latest right row per (keys, chunk) — ONE row per
       chunk via ``max_by`` — is prefix-carried over a tiny per-key
       window and joined back; a row's snapshot is its within-chunk
       carry, else the previous chunks' carry.

    Boundary semantics are exact: equal timestamps always land in the
    same chunk, so the strict/inclusive side-tag tie-break happens
    entirely within pass 1, and every cross-chunk carry is strictly
    earlier than any row of later chunks. Choose ``chunk_span_s`` so a
    hot key has far more chunks than executor-cores-per-key; empty
    chunks cost nothing (no row, no task).

    Units: the ordering column must be a timestamp (TIMESTAMP or
    TIMESTAMP_NTZ) and the bucket width is ``chunk_span_s`` seconds. A
    numeric ordering column raises ``ValueError``: its units are unknown,
    so any bucket width would be a guess; :func:`asof_join` takes it.
    """
    au = _asof_union(
        left, right, on, left_ts, right_ts, values, strict, right_order,
        value_prefix,
    )
    ord_t = au.u.schema[_ORD].dataType
    if not isinstance(ord_t, (T.TimestampType, T.TimestampNTZType)):
        raise ValueError(
            f"asof_join_chunked needs a timestamp ordering column, got "
            f"{ord_t.simpleString()}; use asof_join for numeric ordering"
        )
    # NTZ needs an explicit cast: unix_micros only accepts TIMESTAMP
    ord_num = F.unix_micros(F.col(_ORD).cast("timestamp"))
    span = int(chunk_span_s) * 1_000_000
    u = au.u.withColumn(_CHUNK, F.floor(ord_num / F.lit(span)))

    order = [F.col(_ORD).asc(), F.col(_SIDE).asc()] + [
        F.col(a).asc() for a in au.ord_aliases
    ]
    w_in = (
        Window.partitionBy(*au.on, _CHUNK)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = u.withColumn("__within", F.last(_SNAP, ignorenulls=True).over(w_in))

    # pass 2 over ONE ROW PER non-empty (key, chunk): the chunk-final
    # carry is __within at the chunk's maximal-ordered row (__within is
    # monotone along the order, so max_by is exact; null for right-free
    # chunks), prefix-carried to later chunks over a tiny per-key
    # window. Built from the pass-1 result — not from right rows alone —
    # so EVERY chunk that holds any row gets a carries entry and left
    # rows in right-free chunks still inherit the latest earlier
    # snapshot. This branch groups on the window's own partitioning
    # keys, so Spark reuses the pass-1 shuffle (ReusedExchange): the
    # marginal cost is one windowed aggregate, not a second scan.
    chunk_last = within.groupBy(*au.on, _CHUNK).agg(
        F.max_by(
            "__within",
            F.struct(
                F.col(_ORD), F.col(_SIDE),
                *[F.col(a) for a in au.ord_aliases],
            ),
        ).alias("__chunk_last")
    )
    w_pfx = (
        Window.partitionBy(*au.on)
        .orderBy(_CHUNK)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = chunk_last.select(
        *au.on,
        _CHUNK,
        F.last("__chunk_last", ignorenulls=True).over(w_pfx).alias("__carry"),
    )
    # carries holds one row per non-empty (key, chunk) — usually small
    # next to the data; the broadcast keeps the fixup join shuffle-free
    # on the big side.
    out = within.join(F.broadcast(carries), on=[*au.on, _CHUNK], how="left")
    out = out.withColumn(_SNAP, F.coalesce(F.col("__within"), F.col("__carry")))
    out = _apply_tolerance(au, out, tolerance_s)
    return _asof_project(au, out, include_right_ts)


def backfill_snapshots(
    turns_with_features: DataFrame,
    label_points: DataFrame,
    on: Sequence[str] = ("conv_id",),
    feature_cols: Sequence[str] | None = None,
    strict: bool = True,
    label_ts: str = "ts",
    turns_ts: str = "ts",
) -> DataFrame:
    """C10: attach the as-of feature snapshot to each label point.

    ``turns_with_features`` is the transcript table with trailing-window
    features already appended (those ARE the as-of state at each turn);
    this projects the snapshot onto arbitrary (conv_id, ts) query points.
    ``label_ts``/``turns_ts`` name the ordering columns when either side
    does not call its event time ``ts``.
    """
    for df_, col_, side in (
        (label_points, label_ts, "label_points"),
        (turns_with_features, turns_ts, "turns_with_features"),
    ):
        if col_ not in df_.columns:
            raise ValueError(f"{side} has no timestamp column {col_!r}")
    if feature_cols is None:
        feature_cols = [
            c
            for c in turns_with_features.columns
            if c not in {"conv_id", "turn_idx", "role", "text", "tool",
                         turns_ts, "next_role"}  # leads never enter snapshots
        ]
    return asof_join(
        label_points,
        turns_with_features,
        on=on,
        left_ts=label_ts,
        right_ts=turns_ts,
        values=list(feature_cols),
        strict=strict,
        right_order=("turn_idx",) if "turn_idx" in turns_with_features.columns else (),
    )
