"""Shared test fixtures: one SparkSession per test run, small synthetic tables.

Parallelism is local[8] (the bench's N size); tests assert semantics that must
be partitioning-invariant, so any fixed level works.

The whole suite shares one JVM, so its heap is capped (``SPARK_DRIVER_MEMORY``,
default 4g here instead of the engine's 16g: a 16g heap grows past what a
host with ~15 GB of RAM has left next to the Python workers), and every test's
``tmp_path`` is deleted when the test ends (crawl-engine tests write up to
~1.3 GB of fetched image payloads each, which would otherwise pile up for the
whole session).
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scrapy_newsutils_spark import fixtures  # noqa: E402
from scrapy_newsutils_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture()
def tmp_path(tmp_path):
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def frontier_df(spark):
    return fixtures.frontier_table(spark, n=600, n_images=200).cache()


@pytest.fixture(scope="session")
def images_df(spark):
    return fixtures.images_table(spark, n=200).cache()


@pytest.fixture(scope="session")
def robots_df(spark):
    return fixtures.robots_table(spark)


@pytest.fixture(scope="session")
def url_seen_df(spark, frontier_df):
    return fixtures.url_seen_table(spark, frontier_df).cache()


@pytest.fixture(scope="session")
def documents_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="session")
def embeddings_df(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
