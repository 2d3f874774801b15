from __future__ import annotations

import os

import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.corpus import generate_rows, write_corpus
from semantic_search_engine_spark.oracle import OracleIndex

TINY_N = 200


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
