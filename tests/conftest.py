import contextlib
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


@contextlib.contextmanager
def gateway_calls(spark: SparkSession):
    """Count the py4j round trips (``send_command`` calls) made while the
    block runs; yields a one-item list that holds the count. Commands
    that release JVM handles of garbage-collected Python objects are
    left out: py4j sends them in bursts whenever the collector runs, not
    for the work inside the block."""
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield calls
    finally:
        del client.send_command
