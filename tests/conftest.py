"""Shared Spark session + synthetic corpus fixtures for the test suite."""

from __future__ import annotations

import pytest

from mmgraphrag_spark import datagen, schema
from mmgraphrag_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    # cores from SPARK_GRAFT_CPUS, else the host's CPU count
    s = build_session("mmgraphrag_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    return datagen.generate_documents(n_docs=24, n_entities=40, seed=42)


@pytest.fixture(scope="session")
def documents_df(spark, corpus):
    return spark.createDataFrame(datagen.corpus_rows(corpus), schema.DOCUMENTS)


@pytest.fixture(scope="session")
def pipeline_out(spark, documents_df):
    from mmgraphrag_spark.pipeline import run_pipeline

    return run_pipeline(spark, documents_df)
