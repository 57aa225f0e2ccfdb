"""Source/sink layer (SURVEY.md §2.C C1-C2): an Iceberg-first input
read with a parquet fallback, and parquet layout maintenance.

No Iceberg runtime jar ships with this install (verified — SURVEY.md
§1.2), so ``read_table(fmt="iceberg")`` only activates when the runtime
is present (real cluster: `spark-submit --packages
org.apache.iceberg:...` + catalog conf). The checkpoint store, the
MinHash/IVF index writers and the refresh and streaming sinks write
parquet directly, and the jobs write their configured output format;
only the MinHash index rebaseline goes through this module
(``rewrite_table``, the crash-safe swap ``compact_table`` shares).

Layout guidance for the writers (the 100TB defaults):
- transcripts partitioned by bucket(conv_id) — co-locates each
  conversation for the window suite and bounds file counts;
  `days(ts)`-style partitioning is the alternative when retention
  pruning matters more than conversation locality.
- feature snapshot tables keyed (conv_id, turn_idx), written with the
  checkpoint store's manifest (per-file rows, ts min/max, checksum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(
    spark: SparkSession,
    location: str,
    fmt: str = "parquet",
    ts_col: str | None = "ts",
) -> DataFrame:
    """Read an input table; NTZ timestamps are normalized to session-TZ
    timestamps so window range frames and as-of joins are well-defined."""
    if fmt == "iceberg" and not iceberg_available(spark):
        fmt = "parquet"  # sandbox fallback; see module docstring
    df = (
        spark.read.format(fmt).load(location)
        if fmt != "iceberg"
        else spark.read.table(location)
    )
    if ts_col and ts_col in df.columns and df.schema[ts_col].dataType.typeName() == (
        "timestamp_ntz"
    ):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def compact_table(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 << 20,
    sort_cols: tuple[str, ...] | None = None,
    min_files_saved: int = 2,
) -> dict:
    """Small-file compaction for a path-backed table — the layout
    maintenance every long-running ingestion needs: incremental /
    streaming / dynamic-partition writers accrete files far below the
    scan-efficient size, and at 100 TB the resulting per-file open +
    footer-read overhead (plus driver listing memory) dominates scan
    cost long before data volume does.

    Sizing is measured, not guessed: one recursive Hadoop listing
    (works on HDFS/S3A/local alike) gives total DATA bytes + file count
    — metadata files (``_SUCCESS``, hidden ``.crc``) are excluded, so
    the no-op threshold and the target ``ceil(bytes /
    target_file_bytes)`` file count reflect real data files only. Two
    rewrite strategies:

    - default: ``coalesce(n)`` — merges partitions MAP-SIDE, no
      Exchange; pure read+write, the cheapest possible compaction.
    - ``sort_cols``: ``repartitionByRange + sortWithinPartitions`` —
      pays one range exchange and buys range-clustered files whose
      parquet min/max footers prune scans on those columns (the
      poor-man's Z-order for a single sort dimension).

    Hive-partitioned layouts (``key=value`` subdirs — the
    ``write_minhash_index`` / ``write_ivf_index`` shape) are detected
    from the directory tree and PRESERVED: the rewrite hash-partitions
    on the partition columns and writes with ``partitionBy``, emitting
    ONE file per partition value — so PartitionFilters pruning survives
    compaction. Pick partition granularity so one value stays ≲
    ``target_file_bytes`` (true for band/centroid indexes by
    construction). ``sort_cols`` then sorts within each partition
    value.

    The swap is the checkpoint store's rename discipline: staging write
    completes first (a full Spark action), then old → aside, staging →
    live, aside deleted; any failure restores the original. Renames are
    atomic on HDFS/local — on S3 proper, compact into a NEW location
    and flip the catalog pointer (or use Iceberg's rewrite_data_files)
    instead of in-place renames.

    QUIESCE WRITERS FIRST. A partition appended between the staging
    read and the swap is moved aside and deleted with the old files —
    this is offline maintenance, same as every rename-based rewrite;
    concurrent-writer-safe compaction needs a table format with commit
    coordination (Iceberg), not a directory swap.

    Returns ``{"files_before", "bytes", "files_after", "rewritten"}``;
    a no-op (savings below ``min_files_saved``) reports rewritten=False
    and touches nothing."""
    # trailing slash would make staging/aside CHILDREN of the live dir
    # and the swap would move staging along with the table it replaces
    location = location.rstrip("/") or "/"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    live = jvm.org.apache.hadoop.fs.Path(location)
    fs = live.getFileSystem(hconf)
    live_uri = str(fs.makeQualified(live))

    def _part_segments(parent: str) -> tuple[str, ...]:
        # key=value segments between the table root and a data file
        rel = parent[len(live_uri):].strip("/")
        return tuple(
            s.split("=", 1)[0] for s in rel.split("/") if s and "=" in s
        )

    def _data_stats(path) -> tuple[int, int, int, list[str]]:
        # recursive listing, metadata files excluded — the same files a
        # scan would read. Negligible next to the rewrite it gates.
        # Partition columns are inferred from DATA-FILE paths (not by
        # walking first subdirs: an empty partition dir left by an
        # aborted writer would truncate the column list and the rewrite
        # would silently drop a partition level — code-review r6) and
        # must agree across every file.
        total = 0
        count = 0
        parents = set()
        it = fs.listFiles(path, True)
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            total += int(st.getLen())
            count += 1
            parents.add(str(fs.makeQualified(st.getPath().getParent())))
        layouts = {_part_segments(p) for p in parents}
        if len(layouts) > 1:
            raise ValueError(
                f"compact_table: inconsistent partition layouts under "
                f"{location}: {sorted(layouts)}"
            )
        cols = list(layouts.pop()) if layouts else []
        return total, count, len(parents), cols

    total, files_before, n_leaf_dirs, part_cols = _data_stats(live)
    if part_cols:
        n_files = n_leaf_dirs  # one file per partition value
    else:
        n_files = max(1, -(-total // int(target_file_bytes)))
    report = {
        "files_before": files_before,
        "bytes": total,
        "files_after": files_before,
        "rewritten": False,
        "partition_cols": part_cols,
    }
    if files_before - n_files < min_files_saved:
        return report
    df = spark.read.parquet(location)
    if part_cols:
        # hash-partition on the partition columns: every value lands in
        # exactly one task, so partitionBy emits one file per value and
        # the key=value layout (and its PartitionFilters) is preserved
        out = df.repartition(*[F.col(c) for c in part_cols])
        if sort_cols:
            # partition cols lead the sort: partitionBy REQUIRES an
            # ordering on them, and sorting only by sort_cols would let
            # the planner insert its own (unstable) sort on top,
            # un-sorting rows within each file (code-review r6)
            out = out.sortWithinPartitions(*part_cols, *sort_cols)
    elif sort_cols:
        out = df.repartitionByRange(
            n_files, *[F.col(c) for c in sort_cols]
        ).sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n_files)
    rewrite_table(spark, location, out, partition_by=part_cols)
    report["files_after"] = _data_stats(live)[1]
    report["partition_cols"] = part_cols
    report["rewritten"] = True
    return report


def rewrite_table(
    spark: SparkSession,
    location: str,
    out: DataFrame,
    partition_by: list[str] | None = None,
) -> None:
    """Crash-safe in-place table rewrite: write ``out`` (which may be
    derived from reading ``location`` — it is fully materialized into a
    staging dir BEFORE the live dir is touched) then swap via the
    rename discipline: live → aside, staging → live, aside deleted;
    any failure restores the original. Same quiesce-writers contract
    and S3 caveat as :func:`compact_table` (this is its extracted swap
    half; :func:`feagen_spark.operators.dedup.rebaseline_minhash_index`
    is the other caller)."""
    import uuid

    location = location.rstrip("/") or "/"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    live = jvm.org.apache.hadoop.fs.Path(location)
    fs = live.getFileSystem(hconf)
    token = uuid.uuid4().hex[:8]
    staging = jvm.org.apache.hadoop.fs.Path(f"{location}.compact-{token}")
    aside = jvm.org.apache.hadoop.fs.Path(f"{location}.old-{token}")
    try:
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(staging))
        if not fs.rename(live, aside):
            raise IOError(f"rewrite_table: cannot move {location} aside")
        try:
            if not fs.rename(staging, live):
                raise IOError(
                    f"rewrite_table: cannot move staging into {location}"
                )
        except BaseException:
            # restore the original before surfacing the failure
            if not fs.exists(live):
                fs.rename(aside, live)
            raise
    except BaseException:
        if fs.exists(staging):
            fs.delete(staging, True)
        raise
    fs.delete(aside, True)
