"""Segment ids have one owner, the commit's `segments` list: every
writer takes new ids from the latest commit (`next_segment_id`), so no
id is minted twice (the reference's SegmentInfos counter). Also:
rollback restores the live docs of its target generation, and a
Searcher's Spark sources read the commit it was opened at."""

import pandas as pd
import pytest
from conftest import pin_substrate

from diagon_spark import Searcher, build_index
from diagon_spark.index.builder import IndexCatalog, rollback
from diagon_spark.index.check import HEALTHY, check_index
from diagon_spark.index.deletes import delete_documents, update_documents
from diagon_spark.index.merge import commit_merge
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import MatchAll, Term
from diagon_spark.streaming.incremental import index_stream

KEY = ["repo", "path"]
ARGS = dict(num_buckets=4, positions=False, key_cols=KEY)


def _files(spark, ids, version=0):
    return spark.createDataFrame(pd.DataFrame({
        "repo": "r", "path": [f"p{i}.py" for i in ids],
        "content": [f"tok{i} ver{version} shared words" for i in ids]}))


def _assert_sound(spark, root, n_docs):
    docs = spark.read.parquet(f"{root}/docs")
    assert docs.count() == n_docs
    assert docs.select("doc_id").distinct().count() == n_docs
    rep = check_index(spark, root)
    assert rep["status"] == HEALTHY, rep


def test_merge_then_update_mints_fresh_doc_ids(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, _files(spark, range(40)), root, num_segments=4,
                **ARGS)
    merged = commit_merge(spark, IndexCatalog.load(root), num_segments=2)
    new = update_documents(spark, merged, _files(spark, [3], version=1))
    _assert_sound(spark, root, 41)
    assert merged.segments == [4, 5] and new.segments == [4, 5, 6]
    ls = LocalSearcher(IndexCatalog.load(root))
    assert ls.count(MatchAll()) == 40
    assert ls.count(Term("tok3")) == 1 and ls.count(Term("ver1")) == 1


def test_delete_through_an_older_handle_keeps_the_latest_segments(
        spark, tmp_path):
    root = str(tmp_path / "idx")
    handle = build_index(spark, _files(spark, range(20)), root,
                         num_segments=2, **ARGS)
    build_index(spark, _files(spark, range(20, 30)), root, num_segments=1,
                append=True, **ARGS)
    assert delete_documents(spark, handle, _files(spark, [5])
                            .select(*KEY)) == 1
    new = update_documents(spark, handle, _files(spark, [25], version=1))
    _assert_sound(spark, root, 31)
    # the delete (generation 2) kept the appended segment
    assert IndexCatalog.load(root, 2).segments == [0, 1, 2]
    assert new.segments == [0, 1, 2, 3]
    ls = LocalSearcher(IndexCatalog.load(root))
    assert ls.count(MatchAll()) == 29
    assert ls.count(Term("tok25")) == 1 and ls.count(Term("tok5")) == 0


def test_stream_epochs_merge_only_above_the_bound(spark, tmp_path):
    # four stream epochs of 4 segments with compact_max_segments=8: only
    # the third leaves more than 8 live segments, so only it merges
    src, root = tmp_path / "incoming", str(tmp_path / "idx")
    merges = []
    for epoch in range(4):
        _files(spark, range(10 * epoch, 10 * epoch + 10)).coalesce(1) \
            .write.mode("append").parquet(str(src))
        index_stream(spark, str(src), root, str(tmp_path / "ckpt"),
                     "repo string, path string, content string",
                     segments_per_batch=4, compact_max_segments=8,
                     **ARGS).awaitTermination(120)
        merges.append("merge_committed" in
                      IndexCatalog.load(root).commit_meta)
    assert merges == [False, False, True, False]
    assert IndexCatalog.load(root).segments == list(range(12, 20))
    _assert_sound(spark, root, 40)


def test_explicit_segment_base_below_the_next_id_raises(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, _files(spark, range(10)), root, num_segments=2,
                **ARGS)
    with pytest.raises(ValueError, match="next free id is 2"):
        build_index(spark, _files(spark, [10]), root, num_segments=1,
                    append=True, segment_base=1, **ARGS)
    cat = build_index(spark, _files(spark, [10]), root, num_segments=1,
                      append=True, segment_base=2, **ARGS)
    assert cat.segments == [0, 1, 2] and cat.num_segments == 3
    with pytest.raises(AttributeError):
        cat.num_segments = 1  # a count of `segments`, not an id source


def test_rollback_restores_a_deleted_file(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, _files(spark, range(40)), root, num_segments=4,
                **ARGS)
    delete_documents(spark, IndexCatalog.load(root),
                     _files(spark, [3]).select(*KEY))
    rollback(spark, root, 0)
    ls = LocalSearcher(IndexCatalog.load(root))
    assert ls.count(MatchAll()) == 40
    assert len(ls.search(Term("tok3"), k=10)) == 1
    assert check_index(spark, root)["status"] == HEALTHY


def test_rollback_of_an_update_restores_the_old_version(spark, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, _files(spark, range(40)), root, num_segments=4,
                **ARGS)
    update_documents(spark, IndexCatalog.load(root),
                     _files(spark, [3], version=1))
    rollback(spark, root, 0)
    ls = LocalSearcher(IndexCatalog.load(root))
    assert ls.count(MatchAll()) == 40
    assert len(ls.search(Term("tok3"), k=10)) == 1
    assert ls.count(Term("ver1")) == 0
    _assert_sound(spark, root, 40)


def test_searcher_spark_sources_stay_at_its_generation(spark, tmp_path,
                                                       monkeypatch):
    root = str(tmp_path / "idx")
    build_index(spark, _files(spark, range(40)), root, num_segments=4,
                **ARGS)
    s = Searcher(spark, IndexCatalog.load(root))
    delete_documents(spark, IndexCatalog.load(root),
                     _files(spark, [3, 7]).select(*KEY))
    q = Term("shared")
    driver = s._reader.search(q, k=100)
    assert len(driver) == 40
    pin_substrate(monkeypatch, "spark")
    on_spark = [(int(r.doc_id), float(r.score))
                for r in s.search(q, k=100).collect()]
    assert on_spark == driver
    assert s.search(MatchAll(), k=100).count() == 40
