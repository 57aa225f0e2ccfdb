"""The md5 oracle bridge: the engine-portable hashes the samplers,
splitters, tokenizer, MinHash signatures and centroid seeds can run in
place of the faster JVM-only ``xxhash64``. Any engine with ``md5``
(DuckDB, Postgres, Python's ``hashlib``) reproduces them bit for bit,
which is what lets the DuckDB oracle recompute md5-mode outputs.

The bridge is two decisions, each written once: the digest
``md5_hex`` (md5 hex of the ``':'``-joined string casts) and the
reader ``hex_u32`` (8 hex characters as an unsigned 32-bit integer).
``hash_bucket`` composes them into the samplers' bucket rule, next to
its ``xxhash64`` twin.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, functions as F


def md5_hex(cols: Sequence[Column]) -> Column:
    """md5 hex digest of the ``':'``-joined string casts of ``cols``.
    One column hashes as its plain cast, so NULL gives a NULL digest;
    ``concat_ws`` skips NULL parts of several, so multi-column callers
    reject or filter NULL keys first."""
    if len(cols) == 1:
        return F.md5(cols[0].cast("string"))
    return F.md5(F.concat_ws(":", *[c.cast("string") for c in cols]))


def hex_u32(hex_digest: Column, start: int = 1) -> Column:
    """The 8 hex characters of ``hex_digest`` from 1-based position
    ``start``, read as an unsigned 32-bit integer (a ``long``)."""
    return F.conv(F.substring(hex_digest, start, 8), 16, 10).cast("long")


def hash_bucket(
    cols: Sequence[Column], method: str, seed: int, mod: int
) -> Column:
    """Content-hash bucket in ``[0, mod)`` of ``cols``. method='md5'
    is ``hex_u32(md5_hex(cols))`` mod ``mod``: it ignores ``seed``
    (portability means a fixed function) and a single NULL column has
    a NULL bucket. method='xxhash64' is ``xxhash64(seed, *cols)`` mod
    ``mod``, which skips NULL columns: a NULL id gets the seed's
    bucket."""
    if method == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(mod))
    if method == "md5":
        return F.pmod(hex_u32(md5_hex(cols)), F.lit(mod))
    raise ValueError(f"unknown method {method!r}")
