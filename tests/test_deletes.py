"""Deletes / updates lifecycle (DeletionIntegrationTest analogue,
index/IndexWriter.h:224-233): tombstone -> vanish from top-k -> purge on
merge; updateDocument = delete + add."""

import json

import pytest
from pyspark.sql import functions as F

from diagon_spark import IndexCatalog, build_index, Searcher
from diagon_spark.corpus import corpus_df
from diagon_spark.index.deletes import delete_documents, update_documents
from diagon_spark.index.merge import merge_segments
from diagon_spark.search.query import MatchAll, Term


@pytest.fixture()
def built(spark, tmp_path):
    df = corpus_df(spark, 200, partitions=2)
    cat = build_index(spark, df, str(tmp_path / "idx"), num_segments=2,
                      num_buckets=4, positions=False)
    return cat, df


def test_delete_then_search(spark, built, tmp_path):
    cat, df = built
    s0 = Searcher(spark, cat)
    top = s0.search(Term("int"), k=3).collect()
    victims = [r.doc_id for r in top[:2]]
    victim_keys = (spark.read.parquet(cat.docs_path)
                   .filter(F.col("doc_id").isin(victims))
                   .select("repo", "path", "commit"))
    n = delete_documents(spark, cat, victim_keys)
    assert n == 2

    s1 = Searcher(spark, cat)  # reopen sees tombstones
    hits = [r.doc_id for r in s1.search(Term("int"), k=10).collect()]
    assert not set(victims) & set(hits)
    assert s1.count(MatchAll()) == 200 - 2

    # merge purges tombstones for good; results identical to masked search
    merged = merge_segments(spark, cat, str(tmp_path / "merged"), 2)
    s2 = Searcher(spark, merged)
    assert len(s2.deleted) == 0
    assert s2.count(MatchAll()) == 198
    masked = [(r.doc_id, round(r.score, 5)) for r in
              s1.search(Term("int"), k=10).collect()]
    purged = [(r.doc_id, round(r.score, 5)) for r in
              s2.search(Term("int"), k=10).collect()]
    assert [d for d, _ in masked] == [d for d, _ in purged]


def test_update_documents(spark, built):
    cat, df = built
    one = df.limit(1).collect()[0]
    updated = spark.createDataFrame(
        [(one.repo, one.path, one.commit, one.lang,
          "zzupdated zzupdated fresh content")],
        "repo string, path string, commit string, lang string, content string")
    cat2 = update_documents(spark, cat, updated)
    s = Searcher(spark, cat2)
    hits = s.search(Term("zzupdated"), k=5).collect()
    assert len(hits) == 1
    # total live docs unchanged: one deleted + one added
    assert s.count(MatchAll()) == 200
    # old content of that doc no longer retrievable under its key's new id
    fetched = s.fetch(s.search(Term("zzupdated"), k=1)).collect()[0]
    assert fetched.repo == one.repo and fetched.path == one.path


def test_delete_counts_only_live_docs(spark, built):
    """delete_documents resolves keys against LIVE docs: deleting the same
    file twice returns 1 then 0, and a second update of a file tombstones
    only its current version, not the version the first update replaced."""
    cat, df = built
    one, two = df.orderBy("repo", "path", "commit").limit(2).collect()
    key = spark.createDataFrame([(one.repo, one.path, one.commit)],
                                "repo string, path string, commit string")
    assert delete_documents(spark, cat, key) == 1
    assert delete_documents(spark, cat, key) == 0

    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    for text in ("zzfirst version", "zzsecond version"):
        cat = update_documents(spark, cat, spark.createDataFrame(
            [(two.repo, two.path, two.commit, two.lang, text)], schema))
    added = [json.loads(p.read_text()).get("deleted_added")
             for p in IndexCatalog.list_commits(cat.root)]
    assert [a for a in added if a is not None] == [1, 0, 1, 1]
    assert Searcher(spark, cat).count(MatchAll()) == 200 - 1
