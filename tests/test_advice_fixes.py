"""Regression tests for round-1 advisor findings (ADVICE.md r01):

1. commit generations must order numerically (commit_10 > commit_9);
2. a fresh build into an existing out_dir must not inherit stale postings;
3. MatchAll search masks tombstoned docs like every other query path;
4. replayed streaming epochs are idempotent (at-least-once foreachBatch);
5. non-ASCII fallback tokenizer treats '_' as a separator.
"""

import numpy as np
import pytest

from diagon_spark import Searcher, build_index
from diagon_spark.analysis.tokenizer import tokenize
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog
from diagon_spark.index.check import HEALTHY, check_index
from diagon_spark.search.query import MatchAll, Term


def test_commit_generation_numeric_order(tmp_path):
    root = str(tmp_path / "idx")
    cat = IndexCatalog(root=root, num_buckets=4, segments=[0],
                       has_positions=False, key_cols=[])
    for i in range(12):  # crosses the 9 -> 10 lexicographic boundary
        cat.segments = list(range(i + 1))
        cat.commit()
    loaded = IndexCatalog.load(root)
    assert loaded.num_segments == 12
    # open-at-older-commit (rollback read path)
    old = IndexCatalog.load(root, generation=3)
    assert old.num_segments == 4


def test_fresh_rebuild_clears_stale_postings(spark, tmp_path):
    out = str(tmp_path / "idx")
    pdf = generate_pandas(0, 80)
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, num_segments=2, num_buckets=4,
                positions=False)
    s1 = Searcher(spark, IndexCatalog.load(out))
    key = (s1.default_field, "int")
    df1, _ = s1.term_stats([key])[key]

    # fresh (non-append) rebuild into the SAME dir over the same corpus:
    # df/cttf must not double and match-all must not see phantom rows
    build_index(spark, df, out, num_segments=2, num_buckets=4,
                positions=False)
    s2 = Searcher(spark, IndexCatalog.load(out))
    df2, _ = s2.term_stats([key])[key]
    assert df2 == df1
    assert s2.count(MatchAll()) == 80


def test_match_all_masks_deletes(spark, tmp_path):
    from diagon_spark.index.deletes import delete_documents
    out = str(tmp_path / "idx")
    df = spark.createDataFrame(generate_pandas(0, 60))
    cat = build_index(spark, df, out, num_segments=2, num_buckets=4,
                      positions=False)
    victims = df.limit(5).select("repo", "path", "commit")
    n_del = delete_documents(spark, cat, victims)
    assert n_del == 5
    s = Searcher(spark, IndexCatalog.load(out))
    hits = s.search(MatchAll(), k=100).collect()
    assert len(hits) == s.count(MatchAll()) == 55
    assert not (set(int(r.doc_id) for r in hits)
                & set(int(d) for d in s.deleted))


def test_streaming_epoch_replay_idempotent(spark, tmp_path):
    """Simulate foreachBatch at-least-once: run the same epoch's build
    twice through the incremental module's guards — second run must be a
    no-op, and a partially-written epoch must be scrubbed before retry."""
    from diagon_spark.streaming.incremental import (_scrub_partial_epoch,
                                                    committed_epochs)
    out = str(tmp_path / "idx")
    df0 = spark.createDataFrame(generate_pandas(0, 60))
    build_index(spark, df0, out, num_segments=2, num_buckets=4,
                positions=False, commit_extra={"stream_epoch": 0})
    assert committed_epochs(out) == {0}

    # epoch 1 partially written: docs+postings appended and term_dict/
    # stats swapped in, then the writer dies just before its commit
    df1 = spark.createDataFrame(generate_pandas(60, 100))

    def die(self, extra=None):
        raise RuntimeError("killed before the commit")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(IndexCatalog, "commit", die)
        with pytest.raises(RuntimeError, match="killed"):
            build_index(spark, df1, out, num_segments=2, num_buckets=4,
                        positions=False, append=True, segment_base=2)
    assert committed_epochs(out) == {0}
    # the retry path: scrub, then re-append
    _scrub_partial_epoch(spark, out)
    build_index(spark, df1, out, num_segments=2, num_buckets=4,
                positions=False, append=True, segment_base=2,
                commit_extra={"stream_epoch": 1})
    s = Searcher(spark, IndexCatalog.load(out))
    assert s.count(MatchAll()) == 100  # no duplicated epoch rows
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == 100
    assert docs.select("doc_id").distinct().count() == 100
    assert check_index(spark, out)["status"] == HEALTHY


def test_unicode_fallback_underscore_separator():
    # a non-ASCII char anywhere in the row routes through the fallback;
    # '_' must still split tokens exactly like the ASCII fast path
    assert tokenize("foo_bar") == ["foo", "bar"]
    assert tokenize("foo_bar été") == ["foo", "bar", "été"]
    assert tokenize("café don't_stop") == ["café", "don't", "stop"]
