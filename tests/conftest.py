import os

import pytest
from pyspark.sql import DataFrame, SparkSession

# The generated sf testdata tables (FIXTURES.md §6), read-only.
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="session")
def spark():
    from pdf_to_text_spark.config import build_spark

    s = build_spark("pdf_to_text_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
