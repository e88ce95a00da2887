"""diagon_spark — a PySpark-native inverted-index build + BM25 search engine.

A from-scratch rebuild of the capabilities of the reference C++ engine
(model-collapse/diagon): Lucene-style inverted index (tokenize → posting
lists with delta/bitpack/varint compression → segment merge → term
dictionary) and BM25 top-k search with Block-Max WAND pruning — expressed
Spark-first: DataFrame ops + vectorized Arrow/pandas UDFs, parquet-backed
index tables, shuffle-based sort-merge.

Public API (analogue of the reference C API, c_api/diagon_c_api.h:28-160):

    from diagon_spark import build_index, IndexCatalog, Searcher
    from diagon_spark.search.query import Term, Boolean, Phrase, MatchAll

    cat = build_index(spark, corpus_df, out_dir, num_segments=8)
    s = Searcher(spark, cat)
    top = s.search(Boolean(should=[Term("oil"), Term("price")]), k=100)
"""

__all__ = ["build_index", "IndexCatalog", "Searcher"]
__version__ = "0.1.0"

# The exports load on first use (PEP 562), so a Python worker that
# unpickles a pipeline kernel imports neither the builder nor the searcher.
_EXPORTS = {"build_index": "diagon_spark.index.builder",
            "IndexCatalog": "diagon_spark.index.builder",
            "Searcher": "diagon_spark.search.searcher"}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    from importlib import import_module
    return getattr(import_module(_EXPORTS[name]), name)
