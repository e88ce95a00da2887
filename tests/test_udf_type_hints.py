"""PySpark infers a grouped-map function's eval type from its type hints
and warns when they are partial. A build, a merge with tombstones and a
Spark-scored query must log no such warning."""

import os
import sys
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog
from diagon_spark.index.deletes import delete_documents
from diagon_spark.index.merge import commit_merge
from diagon_spark.search.query import Term


def test_build_merge_search_log_no_eval_type_warning(spark, tmp_path,
                                                     on_spark):
    out = str(tmp_path / "idx")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        build_index(spark, spark.createDataFrame(generate_pandas(0, 40)),
                    out, num_segments=4, num_buckets=2, positions=True)
        cat = IndexCatalog.load(out)
        delete_documents(spark, cat, spark.createDataFrame(
            [(0,)], "doc_id long"), join_cols=["doc_id"])
        merged = commit_merge(spark, IndexCatalog.load(out), num_segments=2)
        assert Searcher(spark, merged).search(Term("int"), k=5).count() > 0
    msgs = [str(w.message) for w in seen]
    assert not [m for m in msgs if "Cannot infer the eval type" in m], msgs
