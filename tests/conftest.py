from __future__ import annotations

import pytest


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running integration test")

from fact_extraction_spark.fixtures import generate_corpus, corpus_to_dataframes
from fact_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fact_extraction_spark_tests", master="local[4]",
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(seed=42, n_persons=60)


@pytest.fixture(scope="session")
def tables(spark, corpus):
    return corpus_to_dataframes(spark, corpus, partitions=6)
