"""Checkpointed feature tables with per-partition lineage + metrics.

Replaces feagen's storage handlers (feagen/data_handlers.py, ~L20-220,
unverified — mount empty, SURVEY.md §0):

- skip-if-exists existence check  → manifest fingerprint lookup (A5)
- ``write_data`` + NaN rejection  → parquet write + distributed NaN audit
  (H5pyDataHandler.write_data ~L90-120 rejects NaN arrays) (A7)
- HDF5 dataset per data key       → one parquet table per checkpointed
  node holding (key columns + node outputs)

"Iceberg-like" in-sandbox: no Iceberg runtime jar ships with this
install (verified, SURVEY.md §1.2), so tables are parquet + a JSON
manifest carrying the Iceberg-style metadata the north rule requires —
snapshot id, per-partition (per-file) row counts + min/max ts from
parquet footer statistics, and an order-independent content checksum.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T


# age past which ``CheckpointStore.vacuum`` treats a ``.staging-*`` or
# ``.old-*`` dir as stranded by a crash rather than held by a live swap
VACUUM_GRACE_S = 24 * 3600


class NaNWriteError(ValueError):
    """Reference parity: H5py handler rejects NaN-containing arrays."""


class CheckpointStore:
    """Manifest = one JSON file PER FINGERPRINT under ``manifest.d/``,
    each written atomically (tmp + rename). The realistic 100 TB
    deployment runs one engine per feature job, so several writers
    checkpoint into the same store concurrently; a single shared
    manifest.json with read-modify-write loses entries under that race
    (writer A's rewrite drops writer B's entry). Per-entry files make
    concurrent writes commutative with no lock: the fingerprint is the
    filename, distinct fingerprints never touch each other, and a
    same-fingerprint race is idempotent (both writers produced the same
    logical table; whichever table-swap lands second detects the
    winner's table and keeps it).

    Every checkpoint's files live under ``root`` at
    ``<node>-<fingerprint[:16]>/``, in both layouts; nothing is written
    to the Spark warehouse."""

    def __init__(
        self,
        root: str,
        bucket_by: tuple[int, str | tuple[str, ...]] | None = None,
    ) -> None:
        """``bucket_by=(n_buckets, key_col_or_cols)`` writes each
        checkpoint as Spark-native BUCKETED files and registers them as
        an EXTERNAL catalog table over the checkpoint's directory under
        ``root``: a join-back then reads a table whose HashPartitioning
        is already known to the planner, so when the join is a
        sort-merge join the checkpoint side needs NO exchange; the flow
        side still shuffles. Bucket on the FULL join-back key set (the
        Engine's ``keys``): Spark's default
        ``requireAllClusterKeysForCoPartition=true`` demands exact-key
        co-partitioning for a join side to skip its shuffle — a prefix
        is not enough (verified by the plan tests). A checkpoint small
        enough to broadcast is joined back by a BroadcastExchange
        either way: the ``conf/run.yml`` golden plan (cold and resume)
        has 1 hash + 2 BroadcastExchanges bucketed or not, and with
        ``spark.sql.autoBroadcastJoinThreshold=-1`` 5 hash Exchanges
        bucketed vs 7 unbucketed. Default None keeps the plain
        path-based parquet layout."""
        self.root = root
        self.bucket_by = bucket_by
        self.manifest_dir = os.path.join(root, "manifest.d")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest -------------------------------------------------------------
    def _entry_path(self, fingerprint: str) -> str:
        return os.path.join(self.manifest_dir, f"{fingerprint}.json")

    def _save_entry(self, entry: dict) -> None:
        path = self._entry_path(entry["fingerprint"])
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def entry(self, fingerprint: str) -> dict | None:
        p = self._entry_path(fingerprint)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def exists(self, fingerprint: str) -> bool:
        entry = self.entry(fingerprint)
        return entry is not None and os.path.exists(entry["path"])

    # -- read/write -----------------------------------------------------------
    def read(self, spark: SparkSession, fingerprint: str) -> DataFrame:
        entry = self.entry(fingerprint)
        if entry is None:
            raise KeyError(fingerprint)
        if entry.get("table"):
            # MUST go through the catalog: a path read would discard the
            # bucketing metadata and the shuffle-free join-back with it.
            # Catalog registrations die with the session (default
            # in-memory catalog), but the files + manifest entry persist
            # — so after a restart exists() is True while the table name
            # resolves to nothing. Re-register the EXTERNAL bucketed
            # table from the manifest before reading (ADVICE r3): Spark
            # recovers each file's bucket id from the bucketed-write file
            # naming, so the shuffle-free join-back survives the restart.
            if not spark.catalog.tableExists(entry["table"]):
                try:
                    self._register_bucketed(
                        spark, entry, spark.read.parquet(entry["path"]).schema
                    )
                except Exception:
                    # registration is an optimization; the data itself
                    # lives at entry['path'] — degrade to a path read
                    # (correct rows, join-back shuffles again)
                    return spark.read.parquet(entry["path"])
            return spark.read.table(entry["table"])
        return spark.read.parquet(entry["path"])

    @staticmethod
    def _register_bucketed(
        spark: SparkSession, entry: dict, schema: T.StructType
    ) -> None:
        """CREATE TABLE ... USING parquet CLUSTERED BY ... LOCATION
        ``entry['path']`` under the name ``entry['table']`` (a no-op if
        a concurrent writer registered it first). Dropping such an
        EXTERNAL table later never deletes the files."""
        n, cols = entry["bucket_by"]
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        clustered = ", ".join(f"`{c}`" for c in cols)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {entry['table']} ({ddl}) "
            f"USING parquet CLUSTERED BY ({clustered}) INTO {n} BUCKETS "
            f"LOCATION '{os.path.abspath(entry['path'])}'"
        )

    def write(
        self,
        df: DataFrame,
        fingerprint: str,
        node_name: str,
        ts_col: str | None = None,
        audit_nan: bool = True,
    ) -> dict:
        """Write a checkpoint table + manifest entry with lineage/metrics.

        ONE Spark job: the NaN counts and content checksum ride on the
        write action as ``df.observe`` metrics (a pre-write ``df.agg``
        audit would scan — and, uncached, fully recompute — the lineage
        twice; at 100TB that doubles every checkpoint). NaN validation
        therefore happens post-write, against a STAGING path: on
        violation the staged files are quarantined (deleted) and the
        write is REJECTED (reference semantics) — any previously valid
        checkpoint at the same fingerprint, and its manifest entry,
        survive untouched. Only a validated staging dir is renamed into
        the final path. The checksum observed during the write describes
        exactly the materialized files even for nondeterministic
        upstreams. Both layouts share this swap; the bucketed one then
        points (or refreshes) its catalog table at the final path.
        """
        import shutil

        from pyspark.sql import Observation

        self._check_node_name(node_name)
        path = os.path.join(self.root, f"{node_name}-{fingerprint[:16]}")
        token = uuid.uuid4().hex[:8]
        staging = f"{path}.staging-{token}"
        table = self._table_name(node_name, fingerprint)

        float_cols, aggs = self._audit_aggs(df, audit_nan)
        obs = Observation(f"ckpt_audit_{node_name}")
        try:
            self._stage(df.observe(obs, *aggs), staging, f"{table}_stg_{token}")
            audit = obs.get
            self._check_nan(audit, float_cols, node_name)
            # validated: swap staging into place. Ordering (ADVICE r2):
            # the prior version is renamed ASIDE (never deleted) before
            # the new one is renamed in, so no failure mode destroys
            # data — a crash in the window between the two renames
            # leaves path absent and the prior table intact under
            # .old-<token> (exists() then reports a miss → recompute; the
            # aside copy is a leak, not a loss). If the swap rename
            # fails because a CONCURRENT same-fingerprint writer landed
            # first, their identical table is kept (idempotent) and our
            # copy is discarded; on any other failure the aside copy is
            # rolled back into place before re-raising.
            old = f"{path}.old-{token}"
            renamed_old = False
            if os.path.exists(path):
                try:
                    os.rename(path, old)
                    os.utime(old, None)  # grace clock starts at set-aside
                    renamed_old = True
                except FileNotFoundError:
                    # a concurrent same-fingerprint writer renamed the
                    # prior version aside between our exists() check and
                    # the rename — same situation as path never having
                    # existed; continue into the swap (ADVICE r3)
                    pass
            try:
                os.rename(staging, path)
            except OSError:
                if renamed_old and not os.path.exists(path):
                    os.rename(old, path)  # roll the prior version back
                    # the rollback restored the PRIOR files — falling
                    # through would _save_entry the NEW data's audit over
                    # them (stale table, lying checksum — code-review r5)
                    raise
                if not os.path.exists(path):
                    raise
                # else: a concurrent same-fingerprint WINNER holds path —
                # identical logical table, so the entry below is true of
                # it; keep it
            if renamed_old:
                shutil.rmtree(old, ignore_errors=True)
        finally:
            # any failure above (write error, NaN rejection, rename race)
            # must not leak the staging dir
            shutil.rmtree(staging, ignore_errors=True)

        entry = {
            "node": node_name,
            "fingerprint": fingerprint,
            "path": path,
            "format": "parquet",
            "snapshot_id": uuid.uuid4().hex,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "row_count": int(audit["__rows"] or 0),
            "checksum": int(audit["__checksum"] or 0),
            "columns": df.columns,
        }
        if self.bucket_by is not None:
            entry.update(
                table=table,
                format="parquet+bucketed",
                bucket_by=list(self._bucket_spec()),
            )
            # the table's LOCATION is always this fingerprint's path, so
            # an existing registration only needs its cached file
            # listing dropped
            spark = df.sparkSession
            if spark.catalog.tableExists(table):
                spark.sql(f"REFRESH TABLE {table}")
            else:
                self._register_bucketed(spark, entry, df.schema)
        entry["partitions"] = self._file_metrics(path, ts_col)
        self._save_entry(entry)
        return entry

    def _stage(self, df: DataFrame, staging: str, staging_table: str) -> None:
        """Materialize ``df`` at ``staging`` — the one step where the two
        layouts differ. The bucketed write needs a catalog table to
        carry the bucket spec; given a path, ``saveAsTable`` makes it
        EXTERNAL, so dropping that staging pointer right away keeps the
        files."""
        if self.bucket_by is None:
            df.write.parquet(staging)
            return
        n, cols = self._bucket_spec()
        try:
            (
                df.write.format("parquet")
                .bucketBy(n, *cols)
                .option("path", os.path.abspath(staging))
                .saveAsTable(staging_table)
            )
        finally:
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {staging_table}")

    def _bucket_spec(self) -> tuple[int, list[str]]:
        n, cols = self.bucket_by
        return n, [cols] if isinstance(cols, str) else list(cols)

    @staticmethod
    def _audit_aggs(df: DataFrame, audit_nan: bool):
        """Observe-metric expressions: content checksum, row count and,
        with ``audit_nan``, one NaN count per float column."""
        float_cols = (
            [
                f.name
                for f in df.schema.fields
                if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            ]
            if audit_nan
            else []
        )
        aggs = [
            # decimal(38,0) sum: order-independent and overflow-proof under
            # ANSI mode even at 10^12 rows × int64 hash range
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("__checksum"),
            F.count(F.lit(1)).alias("__rows"),
        ]
        for c in float_cols:
            aggs.append(
                F.sum(F.isnan(F.col(c)).cast("long")).alias(f"__nan_{c}")
            )
        return float_cols, aggs

    @staticmethod
    def _check_nan(audit: dict, float_cols: list, node_name: str) -> None:
        bad = {
            c: audit[f"__nan_{c}"]
            for c in float_cols
            if (audit[f"__nan_{c}"] or 0) > 0
        }
        if bad:
            raise NaNWriteError(
                f"node {node_name!r}: NaN values rejected on write: {bad}"
            )

    def _root_tag(self) -> str:
        """Per-store catalog namespace tag (md5 of the absolute root)."""
        import hashlib

        return hashlib.md5(
            os.path.abspath(self.root).encode("utf-8")
        ).hexdigest()[:8]

    @staticmethod
    def _check_node_name(node_name: str) -> None:
        """Node names become SQL identifiers (bucketed table names) and
        filesystem path segments; an unsafe name fails the FIRST write
        with a ParseException or corrupts the path layout (code-review
        r6). Reject it by name up front — decorated methods are always
        identifiers, this only bites hand-built FeatureNodes."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", node_name or ""):
            raise ValueError(
                f"checkpoint node name {node_name!r} must match "
                "[A-Za-z0-9_]+ (it is used as a SQL identifier and a "
                "path segment)"
            )

    def _table_name(self, node_name: str, fingerprint: str) -> str:
        """Catalog identifier for a bucketed checkpoint: scoped by a hash
        of the store ROOT so two stores sharing one session can never
        collide on (node, fingerprint)."""
        return f"ckpt_{self._root_tag()}_{node_name}_{fingerprint[:16]}".lower()

    def vacuum(self, spark: SparkSession) -> list[str]:
        """Remove crash leftovers the swap discipline can strand; a job
        calls it right after it opens its store:

        - ``.staging-*`` / ``.old-*`` dirs older than ``VACUUM_GRACE_S``
          (the grace period protects writers of other sessions that are
          mid-swap right now);
        - orphaned ``_stg_`` CATALOG tables of ``spark`` from
          bucketed-mode crashes (no age is tracked for these — only run
          the catalog sweep when no writer of ``spark`` is active, as at
          job start). The sweep is scoped to THIS store's
          ``ckpt_<root_tag>_`` prefix (ADVICE r4): vacuuming store A
          must never drop a mid-swap staging table belonging to store B
          in the same session.

        Never touches live tables or live entries. Returns what it
        removed (for the operator's log)."""
        import shutil

        removed: list[str] = []
        now = time.time()
        for fn in os.listdir(self.root):
            p = os.path.join(self.root, fn)
            if (
                (".staging-" in fn or ".old-" in fn)
                and os.path.isdir(p)
                and now - os.path.getmtime(p) >= VACUUM_GRACE_S
            ):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(fn)
        prefix = f"ckpt_{self._root_tag()}_"
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix) and "_stg_" in t.name:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
                removed.append(f"table:{t.name}")
        return removed

    @staticmethod
    def _file_metrics(path: str, ts_col: str | None) -> list[dict]:
        import pyarrow.parquet as pq

        out = []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            fpath = os.path.join(path, fn)
            md = pq.ParquetFile(fpath).metadata
            part = {"file": fn, "rows": md.num_rows}
            if ts_col is not None:
                mn, mx = None, None
                schema_names = md.schema.to_arrow_schema().names
                if ts_col in schema_names:
                    idx = schema_names.index(ts_col)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is not None and st.has_min_max:
                            mn = st.min if mn is None else min(mn, st.min)
                            mx = st.max if mx is None else max(mx, st.max)
                part["min_ts"] = str(mn) if mn is not None else None
                part["max_ts"] = str(mx) if mx is not None else None
            out.append(part)
        return out
