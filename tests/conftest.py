import os
import sys

import pytest

# the checkout that holds this file, so pytest in any copy of the repo
# imports that copy's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clucene_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def docs_rows(sf_dir):
    """(doc_id, text) rows via duckdb — fast single-node load for oracles."""
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


@pytest.fixture(scope="session")
def index(spark, sf_dir):
    from clucene_spark.index.build import InvertedIndex

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return InvertedIndex(docs).cache()
