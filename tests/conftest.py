from __future__ import annotations

import os

import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.corpus import generate_rows, write_corpus
from semantic_search_engine_spark.oracle import OracleIndex

TINY_N = 200

#: the small-bucket layout of the boolean and wildcard test modules
TINY_CFG = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                        shuffle_partitions=4, block_size=16)


@pytest.fixture(scope="session")
def tiny_rows():
    return list(generate_rows(TINY_N))


@pytest.fixture(scope="session")
def tiny_oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, EngineConfig())


@pytest.fixture(scope="session")
def tiny_corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_tiny"))
    write_corpus(d, TINY_N)
    return d


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("PYSPARK_PYTHON", os.sys.executable)
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("sse-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_engine(spark, tiny_corpus_dir, tmp_path_factory):
    """A QueryEngine over the tiny corpus built under ``TINY_CFG``, with
    its reverse (``build_suffix``) and trigram (``build_trigram``) term
    dictionaries: one build shared by every module that only reads it.
    A test that writes to its index builds its own."""
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_tiny")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    b = IndexBuilder(spark, store, TINY_CFG)
    b.build(docs)
    b.build_suffix()
    b.build_trigram()
    return QueryEngine(spark, store, TINY_CFG)


@pytest.fixture
def collected_plans(spark, monkeypatch):
    """The executed-plan string of every DataFrame collected while the
    test runs (``collect``, ``toArrow``, ``toPandas``), in call order:
    the plans a serve call actually ran, including the frames it
    collects internally."""
    plans: list[str] = []
    cls = type(spark.range(1))
    for name in ("collect", "toArrow", "toPandas"):
        def recorded(self, *a, _orig=getattr(cls, name), **kw):
            plans.append(self._jdf.queryExecution().executedPlan()
                         .toString())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, recorded)
    return plans
