"""Input read (SURVEY.md §2.C C1): ``read_table`` is the one input read
of ``jobs/run_features.py``.

``fmt`` names any Spark data source (parquet by default).
``fmt="iceberg"`` reads ``location`` as a table identifier or path and
needs the Iceberg runtime on the classpath (real cluster: `spark-submit
--packages org.apache.iceberg:...` + catalog conf). No Iceberg runtime
jar ships with this install (verified — SURVEY.md §1.2). Without it the
read raises ``IcebergUnavailableError`` instead of scanning the
location as parquet: an Iceberg table's data directory also holds the
files of deleted rows and expired snapshots, so a parquet scan would
return rows the table no longer has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


class IcebergUnavailableError(RuntimeError):
    """``fmt="iceberg"`` was asked for without the Iceberg runtime."""


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
) -> DataFrame:
    """Read an input table; an NTZ ``ts`` column is normalized to a
    session-TZ timestamp so window range frames and as-of joins are
    well-defined."""
    if fmt == "iceberg" and not iceberg_available(spark):
        raise IcebergUnavailableError(
            f"read_table({location!r}, fmt='iceberg'): the Iceberg "
            "runtime is not on the classpath (add it with spark-submit "
            "--packages org.apache.iceberg:...)"
        )
    df = spark.read.format(fmt).load(location)
    if "ts" in df.columns and df.schema["ts"].dataType.typeName() == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
