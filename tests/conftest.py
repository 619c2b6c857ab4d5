import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from searchengine_spark.session import get_spark

    s = get_spark("searchengine-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from searchengine_spark.corpus import generate_pages_pdf

    return generate_pages_pdf(300)


@pytest.fixture(scope="session")
def oracle_index(small_corpus_pdf):
    from searchengine_spark.oracle.refmodel import build_oracle_index

    return build_oracle_index(small_corpus_pdf)


@pytest.fixture(scope="session")
def built_index(spark, small_corpus_pdf, tmp_path_factory):
    """Spark-built index over the same 300-page corpus, small buckets and
    several chunks so bucketing/chunking paths are actually exercised."""
    from searchengine_spark.index.build import IndexBuilder

    out = str(tmp_path_factory.mktemp("index"))
    pages = spark.createDataFrame(small_corpus_pdf)
    b = IndexBuilder(spark, out, bucket_docs=64, chunk_docs=128)
    stats = b.build(pages)
    assert stats["n_docs"] == 300
    return out


@pytest.fixture(scope="session")
def clustered_index(spark, tmp_path_factory):
    """Topic-clustered 2000-page index with 128-doc buckets: per-bucket
    block maxima differ, so block-max pruning has buckets to skip."""
    from searchengine_spark.corpus import generate_pages
    from searchengine_spark.index.build import IndexBuilder

    out = str(tmp_path_factory.mktemp("clustered_idx"))
    pages = generate_pages(spark, 2000, parallelism=8, clustered=True)
    IndexBuilder(spark, out, bucket_docs=128).build(pages)
    return out
