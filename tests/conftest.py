import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from music_dedupe_spark.fixtures import generate_corpus, write_corpus  # noqa: E402
from music_dedupe_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("music_dedupe_spark_tests")
    yield s


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(seed=42)


@pytest.fixture(scope="session")
def corpus_dir(corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_corpus(corpus, str(d))
    return str(d)


@pytest.fixture(scope="session")
def files_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/files.parquet")


@pytest.fixture(scope="session")
def labeled_pairs_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/labeled_pairs.parquet")


@pytest.fixture(scope="session")
def expected_clusters_df(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/expected_clusters.parquet")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
