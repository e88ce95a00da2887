"""Substrate routing in the Spark Searcher: a query without Range/MatchAll
clauses whose summed df fits one Spark scoring task scores on the driver
through the reader core and starts no Spark job; its hits equal the
distributed plan's bit for bit. Everything else stays on Spark."""

import uuid

import pytest
from conftest import pin_substrate, tombstoned_copy
from pyspark.sql import functions as F

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import corpus_df
from diagon_spark.index.deletes import delete_documents
from diagon_spark.search.query import Boolean, Phrase, Range, Term

K = 20


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("substrate"))
    cat = build_index(spark, corpus_df(spark, 400, partitions=4), out,
                      num_segments=4, num_buckets=8, positions=True)
    # durable tombstones on the top hits of the head term
    top = [r.doc_id for r in
           Searcher(spark, cat).search(Term("int"), k=3).collect()]
    keys = (spark.read.parquet(cat.docs_path)
            .filter(F.col("doc_id").isin(top)).select(*cat.key_cols))
    assert delete_documents(spark, cat, keys) == 3
    return cat


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"substrate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hits(df):
    return [(r.doc_id, r.score) for r in df.collect()]


QUERIES = [
    Term("int"),
    Boolean(should=[Term("int"), Term("return"), Term("while")]),
    Boolean(must=[Term("int"), Term("return")], must_not=[Term("void")]),
    Phrase(("static", "void")),
]


def test_small_query_starts_no_spark_job(spark, cat):
    s = Searcher(spark, cat)
    for q in QUERIES:
        hits, jobs = _jobs(spark, lambda: _hits(s.search(q, k=K)))
        assert hits and jobs == 0, (q, jobs)
        assert s.profile(q, k=K)["substrate"] == "driver"


@pytest.mark.parametrize("f64", [False, True])
def test_driver_hits_equal_spark_bitwise(spark, cat, monkeypatch, f64,
                                        tmp_path):
    top = [d for d, _ in _hits(Searcher(spark, cat).search(QUERIES[1], k=3))]
    explicit = top[::2]
    s = Searcher(spark, tombstoned_copy(spark, cat, tmp_path / "del",
                                        explicit))
    assert len(s.deleted) == 3 + len(explicit)  # fixture's + this test's
    assert s.profile(QUERIES[1], k=K)["segments_matched"] == 4
    for q in QUERIES:
        driver = _hits(s.search(q, k=K, f64=f64))
        after = driver[4][::-1]  # (score, doc_id) of the 5th hit
        d_total = s.search_with_total(q, k=K, f64=f64)
        d_page = _hits(s.search(q, k=K, f64=f64, after=after))
        with monkeypatch.context() as m:
            pin_substrate(m, "spark")
            spark_hits = _hits(s.search(q, k=K, f64=f64))
            s_total = s.search_with_total(q, k=K, f64=f64)
            s_page = _hits(s.search(q, k=K, f64=f64, after=after))
        assert driver == spark_hits, q
        assert d_total == s_total, q
        assert d_page == s_page and d_page[0] == driver[5], q
        assert not set(explicit) & {d for d, _ in driver}


def test_absent_term_is_empty_with_hit_schema(spark, cat):
    s = Searcher(spark, cat)
    df, jobs = _jobs(spark, lambda: s.search(Term("zz_absent_term"), k=K))
    assert jobs == 0
    assert df.schema.simpleString() == "struct<doc_id:bigint,score:double>"
    assert df.collect() == []


def test_range_clause_stays_on_spark(spark, cat):
    s = Searcher(spark, cat)
    q = Boolean(must=[Term("int")], filter=[Range("doc_len", 10, 200)])
    hits, jobs = _jobs(spark, lambda: _hits(s.search(q, k=K)))
    assert hits and jobs > 0
    assert s.profile(q, k=K)["substrate"] == "spark"
