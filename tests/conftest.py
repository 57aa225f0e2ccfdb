from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from feagen_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-session warehouse: no test, failing or not, leaves tables in
    # the checkout
    s = get_spark(
        app_name="feagen_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "1048576",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    """Small deterministic transcript fixture shared across tests."""
    from feagen_spark.datagen.transcripts import transcripts

    df = transcripts(spark, n_conv=40, giant_convs=1, giant_turns=300)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_pdf(tiny_transcripts):
    return (
        tiny_transcripts.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
