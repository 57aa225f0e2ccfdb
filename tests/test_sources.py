"""Input read (C1): NTZ normalization, and Iceberg only with its runtime."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feagen_spark.sources import tables as SRC


def test_iceberg_read_without_runtime_raises(spark, tmp_path):
    """No Iceberg jar ships here (SURVEY.md §1.2): the runtime reports
    unavailable, and an Iceberg read names that instead of scanning the
    location as parquet (which would also read deleted rows' files)."""
    assert SRC.iceberg_available(spark) is False
    loc = str(tmp_path / "t")
    spark.range(3).write.parquet(loc)
    with pytest.raises(SRC.IcebergUnavailableError, match="Iceberg runtime"):
        SRC.read_table(spark, loc, fmt="iceberg")


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
