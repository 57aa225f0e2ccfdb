"""Source/sink layer (C1/C2): NTZ normalization, iceberg fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feagen_spark.sources import tables as SRC


def test_iceberg_falls_back_in_sandbox(spark):
    # no iceberg jar ships here (SURVEY.md §1.2): must report unavailable
    assert SRC.iceberg_available(spark) is False


def test_read_normalizes_ntz(spark):
    """Driver parquet is TIMESTAMP_NTZ; read_table must hand back a
    session-TZ timestamp so unix_micros/range frames work."""
    df = SRC.read_table(spark, "/root/testdata/sf0.001/events.parquet")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    # and the instant matches duckdb's epoch_us view of the same file
    got = df.select(F.unix_micros("ts").alias("us")).orderBy("us").first()["us"]
    import duckdb

    exp = duckdb.connect().execute(
        "select min(epoch_us(ts)) from read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchone()[0]
    assert got == exp


def test_iceberg_roundtrip_when_runtime_present(spark, tmp_path):
    """Self-verifying 'drops in via --packages' claim (VERDICT r3 #7):
    when an Iceberg runtime jar IS on the classpath (real cluster), this
    round-trips write→read→snapshot-metadata against a hadoop catalog;
    in-sandbox (no jar ships — SURVEY §1.2) it SKIPS, never silently
    passes. Catalog conf is set lazily — Iceberg instantiates catalogs
    on first use, so a mid-session registration works."""
    from feagen_spark.sources.tables import iceberg_available, read_table

    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar absent (expected in this sandbox)")

    wh = str(tmp_path / "iceberg_wh")
    spark.conf.set(
        "spark.sql.catalog.fg_it", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.fg_it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.fg_it.warehouse", wh)

    df = spark.range(100).select(
        F.col("id").alias("conv_id"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    df.writeTo("fg_it.db.tr").using("iceberg").createOrReplace()

    got = read_table(spark, "fg_it.db.tr", fmt="iceberg")
    assert got.count() == 100
    assert got.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")

    # Iceberg-native metadata the manifest mirrors in-sandbox
    snaps = spark.sql("SELECT snapshot_id FROM fg_it.db.tr.snapshots")
    assert snaps.count() >= 1

    # engine runs off the catalog table exactly as off parquet
    from feagen_spark.core.dag import FeatureDAG
    from feagen_spark.core.engine import Engine
    from feagen_spark.features.events import event_nodes, event_templates

    ev = got.select(
        F.col("conv_id").alias("event_id"),
        (F.col("conv_id") % 5).cast("string").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.col("v").alias("value"),
        "ts",
    )
    dag = FeatureDAG(
        nodes=event_nodes(), templates=event_templates(),
        input_columns=tuple(ev.columns),
    )
    out = Engine(dag, store=None, keys=("user_id", "event_id")).generate(
        ev, ["n_so_far"]
    )
    assert out.count() == 100


# -- compact_table (small-file layout maintenance) ---------------------------

def _parquet_files(path):
    import glob
    import os

    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def test_compact_table_coalesce(spark, tmp_path):
    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "frag")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(32).write.parquet(loc)
    assert len(_parquet_files(loc)) == 32

    rep = compact_table(spark, loc, target_file_bytes=1 << 30)
    assert rep["rewritten"] is True
    assert rep["files_before"] >= 32
    got = _parquet_files(loc)
    assert len(got) == 1
    df = spark.read.parquet(loc)
    assert df.count() == 10_000
    assert df.agg(F.sum(F.col("id").cast("decimal(38,0)"))).first()[0] == (
        9999 * 10_000 // 2
    )
    # no stranded staging/aside dirs
    leftovers = [p for p in tmp_path.iterdir() if p.name != "frag"]
    assert not leftovers, leftovers


def test_compact_table_sorted_files_do_not_overlap(spark, tmp_path):
    """sort_cols compaction must produce range-clustered files: parquet
    min/max footers on the sort column prune scans only if per-file id
    ranges are disjoint."""
    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "frag")
    # ~24 KB/file of int rows -> a small target yields several files
    spark.range(60_000).repartition(16).write.parquet(loc)
    rep = compact_table(
        spark, loc, target_file_bytes=100_000, sort_cols=("id",)
    )
    assert rep["rewritten"] is True
    files = _parquet_files(loc)
    assert 1 < len(files) < 16
    ranges = []
    for f in files:
        a = spark.read.parquet(f).agg(F.min("id"), F.max("id")).first()
        ranges.append((a[0], a[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    assert spark.read.parquet(loc).count() == 60_000


def test_compact_table_preserves_hive_partitioning(spark, tmp_path):
    """Compacting a key=value-partitioned layout (the minhash/IVF index
    shape) must keep the directory structure — one data file per
    partition value — or PartitionFilters pruning dies with the
    rewrite."""
    import glob
    import os

    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "idx")
    (
        spark.range(4_000)
        .select(F.col("id"), (F.col("id") % 4).alias("band"))
        .repartition(8)
        .write.partitionBy("band")
        .parquet(loc)
    )
    before = glob.glob(os.path.join(loc, "band=*", "*.parquet"))
    assert len(before) > 8  # several files per band value

    rep = compact_table(spark, loc, target_file_bytes=1 << 30)
    assert rep["rewritten"] is True
    assert rep["partition_cols"] == ["band"]
    band_dirs = sorted(
        p for p in os.listdir(loc) if p.startswith("band=")
    )
    assert band_dirs == ["band=0", "band=1", "band=2", "band=3"]
    for d in band_dirs:
        files = glob.glob(os.path.join(loc, d, "*.parquet"))
        assert len(files) == 1, (d, files)
    df = spark.read.parquet(loc)
    assert df.count() == 4_000
    assert df.where(F.col("band") == 2).count() == 1_000
    got = df.agg(F.sum(F.col("id").cast("decimal(38,0)"))).first()[0]
    assert got == 3999 * 4_000 // 2


def test_compact_table_partitioned_with_sort_cols(spark, tmp_path):
    """sort_cols on a partitioned layout: rows INSIDE each partition
    value's file must actually be sorted (the naive sortWithinPartitions
    on sort_cols alone lets the planner stack an unstable partition-col
    sort on top — code-review r6)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "idx")
    (
        spark.range(20_000)
        .select(
            F.col("id"),
            (F.col("id") % 4).alias("band"),
            (F.col("id") * 2654435761 % 1000003).alias("bucket"),
        )
        .repartition(8)
        .write.partitionBy("band")
        .parquet(loc)
    )
    rep = compact_table(
        spark, loc, target_file_bytes=1 << 30, sort_cols=("bucket",)
    )
    assert rep["rewritten"] is True and rep["partition_cols"] == ["band"]
    files = glob.glob(os.path.join(loc, "band=*", "*.parquet"))
    assert len(files) == 4
    for f in files:
        col = pq.read_table(f, columns=["bucket"])["bucket"].to_pylist()
        assert col == sorted(col), f
    assert spark.read.parquet(loc).count() == 20_000


def test_compact_table_ignores_empty_partition_dir(spark, tmp_path):
    """Partition columns are inferred from data-file paths: an empty
    partition dir left by an aborted writer must not truncate the
    inferred layout (code-review r6)."""
    import os

    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "idx")
    (
        spark.range(4_000)
        .select(
            (F.col("id") % 3).alias("ingest_batch"),
            (F.col("id") % 4).alias("band"),
            F.col("id"),
        )
        .repartition(8)
        .write.partitionBy("ingest_batch", "band")
        .parquet(loc)
    )
    os.makedirs(os.path.join(loc, "ingest_batch=7"))  # aborted writer debris
    rep = compact_table(spark, loc, target_file_bytes=1 << 30)
    assert rep["partition_cols"] == ["ingest_batch", "band"]
    assert rep["rewritten"] is True
    assert spark.read.parquet(loc).count() == 4_000


def test_compact_table_trailing_slash(spark, tmp_path):
    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "frag")
    spark.range(10_000).repartition(16).write.parquet(loc)
    rep = compact_table(spark, loc + "/", target_file_bytes=1 << 30)
    assert rep["rewritten"] is True and rep["files_after"] == 1
    assert spark.read.parquet(loc).count() == 10_000
    leftovers = [p for p in tmp_path.iterdir() if p.name != "frag"]
    assert not leftovers, leftovers


def test_compact_table_noop_below_savings(spark, tmp_path):
    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "small")
    spark.range(100).coalesce(1).write.parquet(loc)
    before = _parquet_files(loc)
    rep = compact_table(spark, loc, target_file_bytes=1 << 30)
    assert rep["rewritten"] is False
    assert _parquet_files(loc) == before


def test_compact_table_write_failure_leaves_original(spark, tmp_path):
    import pytest as _pytest

    from feagen_spark.sources.tables import compact_table

    loc = str(tmp_path / "frag")
    spark.range(1_000).repartition(8).write.parquet(loc)
    with _pytest.raises(Exception):
        compact_table(
            spark, loc, target_file_bytes=1 << 30, sort_cols=("no_such_col",)
        )
    # original table intact, staging cleaned up
    assert spark.read.parquet(loc).count() == 1_000
    assert len(_parquet_files(loc)) == 8
    leftovers = [p for p in tmp_path.iterdir() if p.name != "frag"]
    assert not leftovers, leftovers
