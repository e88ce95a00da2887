"""Scoring-task batching (seg_grp) — task count is decoupled from
segment count (VERDICT r4 ask #3): an index with many more segments than
cores runs few multi-segment scoring tasks, and results / totals /
per-segment counters stay bit-identical to the per-segment path (the
LocalSearcher runs the same kernels segment-by-segment and is the
oracle)."""

import pytest
from conftest import SUBSTRATES

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import corpus_df
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import Boolean, Phrase, Range, Term

# tests of the distributed build plan: every build flushes on Spark
pytestmark = pytest.mark.usefixtures("spark_build")


@pytest.fixture(scope="module")
def many_seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("manyseg"))
    # 24 segments on a local[4] session -> seg_grp batching folds ~3
    # segments per scoring task (n_grp = 8 = defaultParallelism * 2)
    cat = build_index(spark, corpus_df(spark, 600, partitions=4), out,
                      num_segments=24, num_buckets=8, positions=True)
    return Searcher(spark, cat), LocalSearcher(cat)


QUERIES = [
    Term("int"),
    Boolean(must=[Term("int"), Term("return")]),
    Boolean(should=[Term("int"), Term("if"), Term("for"), Term("while"),
                    Term("def")]),
    Boolean(should=[Term("int")], must_not=[Term("return")]),
    Phrase(("int", "return")),
    Boolean(must=[Term("int")], filter=[Range("doc_len", 30, 300)]),
]


@pytest.mark.parametrize("substrate", SUBSTRATES, indirect=True)
def test_batched_results_match_serving_path(many_seg, substrate):
    s, ls = many_seg
    for q in QUERIES:
        spark_hits = [(int(r.doc_id), round(float(r.score), 5))
                      for r in s.search(q, k=50).collect()]
        local_hits = [(d, round(sc, 5)) for d, sc in ls.search(q, k=50)]
        assert spark_hits == local_hits, q


@pytest.mark.parametrize("substrate", SUBSTRATES, indirect=True)
def test_batched_counts_and_totals(many_seg, substrate):
    s, ls = many_seg
    for q in QUERIES:
        assert s.count(q) == ls.count(q), q
    hits, total, rel = s.search_with_total(Term("int"), k=10)
    lhits, ltotal, lrel = ls.search_with_total(Term("int"), k=10)
    assert (total, rel) == (ltotal, lrel)
    assert [(d, round(sc, 5)) for d, sc in
            [(int(r.doc_id), float(r.score)) for r in hits.collect()]
            ] if hasattr(hits, "collect") else True


@pytest.mark.parametrize("substrate", SUBSTRATES, indirect=True)
def test_profile_reports_every_matching_segment(many_seg, substrate):
    s, _ = many_seg
    prof = s.profile(Term("int"), k=10)
    assert prof["substrate"] == substrate
    # per-segment counters survive batching: every segment with matches
    # reports its own total, and they sum to the global hit count
    assert prof["segments_matched"] > 4  # far more segments than tasks
    assert prof["total_hits"] == s.count(Term("int"))


def test_matching_docs_batched(many_seg):
    s, ls = many_seg
    q = Boolean(should=[Term("int"), Term("def")])
    got = sorted(int(r.doc_id) for r in s.matching_docs(q).collect())
    assert got == list(ls.matching_doc_ids(q))
