"""A Python worker that unpickles a pipeline kernel imports the modules
the kernel uses, not the builder and the searcher behind the package's
top-level names (`diagon_spark.__getattr__` loads those on first use)."""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAVY = ("diagon_spark.index.builder", "diagon_spark.search.searcher")


@pytest.mark.parametrize("module", ["diagon_spark.analysis.tokenizer",
                                    "diagon_spark.pipelines.textstats",
                                    "diagon_spark.pipelines.dedup"])
def test_kernel_imports_skip_builder_and_searcher(module):
    code = (f"import sys, pyspark.worker, {module}; "
            f"print(sorted(m for m in {HEAVY!r} if m in sys.modules))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


def test_top_level_exports_still_resolve():
    import diagon_spark
    from diagon_spark import IndexCatalog, Searcher, build_index
    from diagon_spark.index import builder
    from diagon_spark.search import searcher
    assert (build_index, IndexCatalog, Searcher) == \
        (builder.build_index, builder.IndexCatalog, searcher.Searcher)
    assert set(diagon_spark.__all__) == {"build_index", "IndexCatalog",
                                         "Searcher"}
    with pytest.raises(AttributeError):
        diagon_spark.no_such_name
