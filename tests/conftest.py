import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("diagon-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()


SUBSTRATES = ("spark", "driver")


def pin_substrate(monkeypatch, name: str) -> None:
    from diagon_spark.search.searcher import Searcher
    if name == "spark":
        def pick(self, spec):
            return False
    else:  # the df bound lifted; Range/MatchAll clauses stay on Spark
        def pick(self, spec):
            return not spec.get("aux_specs")
    monkeypatch.setattr(Searcher, "_scores_on_driver", pick)


@pytest.fixture
def substrate(request, monkeypatch):
    """Pin the substrate `Searcher.search` scores on (an indirect
    parameter, "spark" or "driver"): small fixtures would otherwise all
    score on the driver and never reach the applyInPandas scorer."""
    pin_substrate(monkeypatch, request.param)
    return request.param


@pytest.fixture
def on_spark(monkeypatch):
    """For tests of the distributed plan itself."""
    pin_substrate(monkeypatch, "spark")


def both_substrates(values):
    """Parameters `values` x SUBSTRATES for
    `parametrize("<arg>,substrate", ..., indirect=["substrate"])`: the
    plain id runs on Spark, `<id>-driver` on the driver."""
    return [pytest.param(v, sub, id=str(v) if sub == "spark"
                         else f"{v}-driver")
            for v in values for sub in SUBSTRATES]


def pin_build_substrate(monkeypatch, name: str) -> None:
    """Pin where an append flushes ("spark" or "driver"), as
    `pin_substrate` does for queries: "driver" lifts the byte bound of
    `builder._flushes_on_driver` (in-memory inputs included); fresh
    builds, resume and capped builds stay on Spark."""
    from diagon_spark.index import builder
    if name == "spark":
        def pick(df, cat, *, append, resume, max_batches):
            return False
    else:
        def pick(df, cat, *, append, resume, max_batches):
            return append and not resume and max_batches is None
    monkeypatch.setattr(builder, "_flushes_on_driver", pick)


@pytest.fixture(scope="module")
def spark_build():
    """Module-wide: every build of the module flushes on Spark (for tests
    of the distributed build plan itself)."""
    with pytest.MonkeyPatch.context() as mp:
        pin_build_substrate(mp, "spark")
        yield


def tombstoned_copy(spark, cat, dest, doc_ids):
    """A private copy of `cat`'s index at `dest`, with `doc_ids` deleted
    durably (`delete_documents` by doc_id); returns its catalog."""
    import shutil
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.index.deletes import delete_documents
    shutil.copytree(cat.root, dest)
    copy = IndexCatalog.load(str(dest))
    delete_documents(spark, copy, spark.createDataFrame(
        [(int(d),) for d in doc_ids], "doc_id long"), join_cols=["doc_id"])
    return copy
