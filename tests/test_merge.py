"""forceMerge correctness (MergeTest/ForceMergeTest analogue): merged
single-segment index answers every query identically to the multi-segment
one."""

import pytest
from pyspark.sql import functions as F

from diagon_spark import build_index, Searcher
from diagon_spark.corpus import corpus_df, VOCAB
from diagon_spark.index.merge import force_merge
from diagon_spark.search.query import Boolean, Phrase, Term


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("m")
    df = corpus_df(spark, 400, partitions=4)
    cat = build_index(spark, df, str(root / "multi"), num_segments=4,
                      num_buckets=8, positions=True)
    merged = force_merge(spark, cat, str(root / "merged"))
    return Searcher(spark, cat), Searcher(spark, merged)


QUERIES = [
    Term("int"),
    Boolean(must=[Term("int"), Term("return")]),
    Boolean(should=[Term(t) for t in VOCAB[:10]]),
    Phrase(("static", "void")),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_merged_rank_identical(pair, qi):
    s_multi, s_merged = pair
    a = [(r.doc_id, r.score) for r in s_multi.search(QUERIES[qi], k=100).collect()]
    b = [(r.doc_id, r.score) for r in s_merged.search(QUERIES[qi], k=100).collect()]
    assert a == b


def test_merged_is_single_segment(pair, spark):
    _, s_merged = pair
    p = spark.read.parquet(s_merged.cat.postings_path)
    # one segment, at the first id above the 4 it merged
    assert [r.segment_id for r in p.select("segment_id").distinct().collect()] == [4]
    # every (term, chunk) unique — chunks re-packed maximally
    dup = (p.groupBy("term", "chunk").count()
           .filter(F.col("count") > 1).collect())
    assert dup == []


def test_merged_df_preserved(pair, spark):
    s_multi, s_merged = pair
    assert s_merged.count(Term("int")) == s_multi.count(Term("int"))


def test_merge_tombstones_distributed_at_scale(spark, tmp_path):
    """Compaction with a >=100k-row tombstone table stays fully
    distributed: no driver collect of tombstone ids, no createDataFrame
    literal in the purge path (round-2 VERDICT scale hazard #1). The
    tombstones are cogrouped into the salted merge groups exactly like
    the query path's delete mask."""
    from pyspark.sql import SparkSession

    from diagon_spark.index.merge import merge_segments

    df = corpus_df(spark, 2000, partitions=4)
    cat = build_index(spark, df, str(tmp_path / "idx"), num_segments=4,
                      num_buckets=8, positions=False)
    docs = spark.read.parquet(cat.docs_path)
    real = docs.select("doc_id", "segment_id").limit(500)
    # 99.5k synthetic tombstones (ids absent from the index) push the
    # table well past anything a driver-side literal could hide behind
    synth = spark.range(99_500).select(
        (F.col("id") + F.lit(1 << 60)).alias("doc_id"),
        F.lit(0).cast("int").alias("segment_id"))
    real.unionByName(synth).write.mode("overwrite") \
        .parquet(f"{cat.root}/deleted")
    cat.commit({"deleted_added": 100_000})

    victims = {int(r.doc_id) for r in real.collect()}

    # guard rail: the merge path must never parallelize a driver-side
    # tombstone id list
    orig_create = SparkSession.createDataFrame

    def _guard_create(self, data, *a, **k):
        if isinstance(data, (list, tuple)) and len(data) > 1000:
            raise AssertionError("driver-side literal of tombstone scale")
        return orig_create(self, data, *a, **k)

    SparkSession.createDataFrame = _guard_create
    try:
        merged = merge_segments(spark, cat, str(tmp_path / "m2"), 2)
    finally:
        SparkSession.createDataFrame = orig_create

    s_masked = Searcher(spark, cat)
    s_purged = Searcher(spark, merged)
    assert len(s_purged.deleted) == 0
    assert s_purged.count(Term("int")) == s_masked.count(Term("int"))
    hits = {int(r.doc_id) for r in
            s_purged.search(Term("int"), k=2000).collect()}
    assert not hits & victims
    a = [(r.doc_id, round(r.score, 5)) for r in
         s_masked.search(Term("int"), k=50).collect()]
    b = [(r.doc_id, round(r.score, 5)) for r in
         s_purged.search(Term("int"), k=50).collect()]
    assert [d for d, _ in a] == [d for d, _ in b]
