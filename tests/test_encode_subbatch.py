"""Encode-group sub-batching — encode task size decoupled from segment
size: a (segment, field) group splits into doc-range sub-batches whose
chunks land in disjoint, doc-ordered namespaces (sub << 20). Results
must be identical to an unbatched build for every query class."""

import pytest

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import corpus_df
from diagon_spark.index import builder
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import Boolean, Phrase, Range, Term

# tests of the distributed build plan: every build flushes on Spark
pytestmark = pytest.mark.usefixtures("spark_build")


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    df = corpus_df(spark, 500, partitions=4)
    base = str(tmp_path_factory.mktemp("subbase"))
    subbed = str(tmp_path_factory.mktemp("subbed"))
    cat_a = build_index(spark, df, base, num_segments=2, num_buckets=4,
                        positions=True)
    # force ~10 sub-batches per segment
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(builder, "ENCODE_GROUP_DOCS", 25)
        cat_b = build_index(spark, df, subbed, num_segments=2,
                            num_buckets=4, positions=True)
    return Searcher(spark, cat_a), Searcher(spark, cat_b)


QUERIES = [
    Term("int"),
    Boolean(must=[Term("int"), Term("return")]),
    Boolean(should=[Term("int"), Term("if"), Term("for")]),
    Boolean(should=[Term("int")], must_not=[Term("return")]),
    Phrase(("int", "return")),
    Phrase(("int", "return"), slop=2),
    Boolean(must=[Term("int")], filter=[Range("doc_len", 30, 300)]),
]


def test_subbatched_results_identical(pair):
    a, b = pair
    for q in QUERIES:
        ra = [(int(r.doc_id), float(r.score))
              for r in a.search(q, k=60).collect()]
        rb = [(int(r.doc_id), float(r.score))
              for r in b.search(q, k=60).collect()]
        assert ra == rb, q


def test_subbatched_counts_and_stats(pair):
    a, b = pair
    for q in QUERIES:
        assert a.count(q) == b.count(q), q
    # term stats aggregate across sub-batch chunk rows
    key = ("content", "int")
    assert a.term_stats([key]) == b.term_stats([key])


def test_subbatched_serving_path(pair):
    a, b = pair
    ls = LocalSearcher(b.cat)
    for q in QUERIES:
        spark_hits = [(int(r.doc_id), round(float(r.score), 5))
                      for r in b.search(q, k=60).collect()]
        local_hits = [(d, round(s, 5)) for d, s in ls.search(q, k=60)]
        assert spark_hits == local_hits, q


def test_chunks_are_doc_ordered(pair):
    # the _SegmentPostings contract: rows sorted by chunk value must be
    # docID-ordered across sub-batches
    _, b = pair
    import pyarrow.dataset as ds
    from diagon_spark.search import wand
    tbl = ds.dataset(b.cat.postings_path, partitioning="hive").to_table()
    rows = [r for r in tbl.to_pylist()
            if r["term"] == "int" and r["segment_id"] == 0]
    assert len(rows) > 1  # sub-batching actually split this term
    sp = wand._SegmentPostings(rows)
    docs, _, _ = sp.decode_all()
    assert list(docs) == sorted(docs)
