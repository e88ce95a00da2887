"""LocalSearcher (pyarrow serving path) must be result-identical to the
Spark Searcher on every query kind, and fast (no Spark job)."""

import time
import uuid

import pytest
from conftest import both_substrates, tombstoned_copy

from diagon_spark import build_index, Searcher
from diagon_spark.corpus import corpus_df, VOCAB
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import Boolean, Phrase, Term


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lr"))
    df = corpus_df(spark, 400, partitions=4)
    cat = build_index(spark, df, out, num_segments=4, num_buckets=8,
                      positions=True)
    return Searcher(spark, cat), LocalSearcher(cat)


QS = [
    Term("int"),
    Term("var_30"),
    Boolean(should=[Term(t) for t in VOCAB[:10]]),
    Boolean(should=[Term(t) for t in VOCAB[:5]], min_should_match=2),
    Boolean(must=[Term("int"), Term("return")]),
    Boolean(must=[Term("int")], must_not=[Term("while")]),
    Boolean(must=[Term("int")], filter=[Term("return")]),
    Phrase(("static", "void")),
]


@pytest.mark.parametrize("qi,substrate", both_substrates(range(len(QS))),
                         indirect=["substrate"])
def test_local_equals_spark(pair, qi, substrate):
    s_spark, s_local = pair
    want = [(r.doc_id, r.score) for r in s_spark.search(QS[qi], k=50).collect()]
    got = s_local.search(QS[qi], k=50)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-6)


def test_local_count(pair):
    s_spark, s_local = pair
    assert s_local.count(Term("int")) == s_spark.count(Term("int"))


def test_local_is_fast(spark, pair):
    # CPU time of this process, so a loaded host does not fail it; the
    # job count shows the queries never went through the JVM
    _, s_local = pair
    q = Boolean(should=[Term(t) for t in VOCAB[:10]])
    s_local.search(q, k=100)  # warm (dataset discovery)
    sc = spark.sparkContext
    group = f"local-fast-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        t0 = time.process_time()
        for _ in range(5):
            s_local.search(q, k=100)
        per_query = (time.process_time() - t0) / 5
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert per_query < 0.25, f"local path too slow: {per_query:.3f}s"
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_local_respects_deletes(spark, pair, tmp_path):
    s_spark, s_local = pair
    top2 = [d for d, _ in s_local.search(Term("int"), k=2)]
    s_del = LocalSearcher(tombstoned_copy(spark, s_local.cat,
                                          tmp_path / "del", top2))
    after = [d for d, _ in s_del.search(Term("int"), k=5)]
    assert not set(top2) & set(after)


def test_local_search_with_total_parity(pair):
    s, ls = pair
    q = Boolean(must=[Term("int")], should=[Term("return")])
    hits_s, total_s, rel_s = s.search_with_total(q, k=10)
    hits_l, total_l, rel_l = ls.search_with_total(q, k=10)
    assert hits_l == hits_s
    assert total_l == total_s
    assert rel_l == rel_s


def test_terms_enum_sorted_and_prefix(spark, tmp_path):
    """TermsEnum parity (diagon_reader_get_terms / terms_enum_next):
    ascending enumeration with exact df/cttf, prefix seek prunes."""
    import pandas as pd

    from diagon_spark import build_index
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.search.local_reader import LocalSearcher

    pdf = pd.DataFrame({"doc_id": [0, 1, 2],
                        "text": ["apple apricot banana",
                                 "apple cherry", "banana banana"]})
    cat = build_index(spark, spark.createDataFrame(pdf),
                      str(tmp_path / "idx"), num_segments=2, num_buckets=4,
                      id_col="doc_id", content_col="text", positions=False)
    ls = LocalSearcher(IndexCatalog.load(str(tmp_path / "idx")))
    all_terms = list(ls.terms())
    assert [t for t, _, _ in all_terms] == sorted(t for t, _, _ in all_terms)
    by_term = {t: (df, cttf) for t, df, cttf in all_terms}
    assert by_term["apple"] == (2, 2)
    assert by_term["banana"] == (2, 3)
    assert by_term["apricot"] == (1, 1)
    ap = [t for t, _, _ in ls.terms(prefix="ap")]
    assert ap == ["apple", "apricot"]
