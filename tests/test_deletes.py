"""Deletes / updates lifecycle (DeletionIntegrationTest analogue,
index/IndexWriter.h:224-233): tombstone -> vanish from top-k -> purge on
merge; updateDocument = delete + add in one commit."""

import json
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from diagon_spark import IndexCatalog, build_index, Searcher
from diagon_spark.corpus import corpus_df
from diagon_spark.index.deletes import (delete_documents, resolve_deletes,
                                        update_documents)
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


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"deletes-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _keys(spark, df, n):
    rows = df.orderBy("repo", "path", "commit").limit(n) \
        .select("repo", "path", "commit").collect()
    return spark.createDataFrame(rows, "repo string, path string, "
                                       "commit string")


def test_update_is_one_commit_generation(spark, built):
    cat, df = built
    one = df.orderBy("repo", "path", "commit").limit(1).collect()[0]
    before = len(IndexCatalog.list_commits(cat.root))
    cat2 = update_documents(spark, cat, spark.createDataFrame(
        [(one.repo, one.path, one.commit, one.lang, "zzonce")],
        "repo string, path string, commit string, lang string, "
        "content string"))
    commits = IndexCatalog.list_commits(cat.root)
    assert len(commits) == before + 1
    meta = json.loads(commits[-1].read_text())
    assert meta["deleted_added"] == 1
    assert meta["flush"] in ("driver", "spark") and "batches_run" in meta
    s = Searcher(spark, cat2)
    assert s.count(MatchAll()) == 200
    assert len(s.search(Term("zzonce"), k=5).collect()) == 1


def test_delete_runs_its_resolution_once(spark, built):
    # the delete starts no more jobs than one execution of its resolution
    # plan: the hits are written once and counted from the part footers
    cat, df = built
    for n in (3, 6):  # the second one also anti-joins the tombstones
        keys = _keys(spark, df, n)
        _, once = _jobs(spark, lambda: resolve_deletes(spark, cat, keys)
                        .write.format("noop").mode("overwrite").save())
        got, jobs = _jobs(spark, lambda: delete_documents(spark, cat, keys))
        assert got == 3
        assert jobs <= once, (jobs, once)


def test_zero_hit_delete_writes_no_tombstones(spark, built):
    cat, df = built
    none = spark.createDataFrame([("no", "such", "file")],
                                 "repo string, path string, commit string")
    assert delete_documents(spark, cat, none) == 0
    assert not Path(cat.root, "deleted").exists()
    meta = json.loads(IndexCatalog.list_commits(cat.root)[-1].read_text())
    assert meta["deleted_added"] == 0
    assert delete_documents(spark, cat, _keys(spark, df, 1)) == 1
    parts = sorted(Path(cat.root, "deleted").glob("*.parquet"))
    assert delete_documents(spark, cat, none) == 0
    assert sorted(Path(cat.root, "deleted").glob("*.parquet")) == parts
    assert not Path(cat.root, "_staging").exists()


def test_searcher_opens_over_tombstones_with_no_spark_job(spark, built):
    cat, df = built
    assert delete_documents(spark, cat, _keys(spark, df, 2)) == 2
    s, jobs = _jobs(spark, lambda: Searcher(spark, IndexCatalog.load(
        cat.root)))
    assert jobs == 0
    assert s.count(MatchAll()) == 198
