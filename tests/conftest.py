import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ivm_extension_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


def rows(df):
    """Order-insensitive golden compare helper: sorted list of tuples."""
    return sorted([tuple(r) for r in df.collect()], key=lambda t: tuple(map(str, t)))


def force_merge(monkeypatch, strategy):
    """Route every view merge to ``strategy`` ("patch" or "shuffle") by
    moving the state-row threshold the engine picks the path with."""
    from ivm_extension_spark import engine

    monkeypatch.setattr(
        engine, "PATCH_MIN_STATE_ROWS", 0 if strategy == "patch" else 10**18
    )
