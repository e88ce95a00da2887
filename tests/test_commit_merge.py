"""In-place merge commit — writer.commitMergeResults parity
(tests/unit/index/MergeCommitPointTest.cpp): source segments are removed
under the same root, a reopened reader sees the exact live-doc count (no
duplication from stale segments), older commit points are pruned, and the
no-op case is safe.
"""

from pathlib import Path

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog
from diagon_spark.index.deletes import delete_documents
from diagon_spark.index.merge import commit_merge
from diagon_spark.index.publish import ASIDE, INTENT, STAGING, repair_index
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import MatchAll, Term


def test_commit_merge_in_place_removes_sources_and_purges(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 80)), out,
                num_segments=4, num_buckets=4, positions=False)
    cat = IndexCatalog.load(out)
    ls0 = LocalSearcher(cat)
    victims = [d for d, _ in ls0.search(Term("int"), k=4)]
    vdf = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    delete_documents(spark, cat, vdf, join_cols=["doc_id"])
    pre_hits = {d for d, _ in LocalSearcher(IndexCatalog.load(out))
                .search(Term("int"), k=1000)}

    merged = commit_merge(spark, cat, num_segments=1)
    assert merged.root == out and merged.num_segments == 1

    # reopened reader: exact live count, no stale-segment duplication
    ls = LocalSearcher(IndexCatalog.load(out))
    assert ls.count(MatchAll()) == 80 - len(set(victims))
    # physical segment count is down to 1 (doc_ids stay stable — they
    # embed their ORIGINAL segment bits; the tables' segment_id column is
    # the physical grouping), at the first id above the 4 merged ones
    segs = {r.segment_id for r in
            spark.read.parquet(f"{out}/docs").select("segment_id")
            .distinct().collect()}
    psegs = {r.segment_id for r in
             spark.read.parquet(f"{out}/postings").select("segment_id")
             .distinct().collect()}
    assert segs == {4} and psegs == {4}
    # surviving matches unchanged as a SET; exact scores/order legitimately
    # shift because merge recomputes df/avgdl WITHOUT the purged docs
    # (pre-merge stats count deleted docs until a merge — Lucene behavior,
    # deletes.py module docstring)
    assert {d for d, _ in ls.search(Term("int"), k=1000)} == pre_hits
    # tombstones are purged for good
    assert not Path(out, "deleted").exists()
    # KeepOnlyLastCommitDeletionPolicy: only the merge commit remains
    commits = IndexCatalog.list_commits(out)
    assert len(commits) == 1
    assert not Path(out, STAGING).exists()

    # Spark path agrees post-merge
    s = Searcher(spark, merged)
    assert s.count(MatchAll()) == 80 - len(set(victims))


def test_commit_merge_safe_with_no_merges_needed(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 40)), out,
                num_segments=1, num_buckets=4, positions=False)
    cat = IndexCatalog.load(out)
    before = [(d, round(sc, 5)) for d, sc in
              LocalSearcher(cat).search(Term("int"), k=20)]
    merged = commit_merge(spark, cat, num_segments=1)
    after = [(d, round(sc, 5)) for d, sc in
             LocalSearcher(IndexCatalog.load(out)).search(Term("int"), k=20)]
    assert after == before
    assert merged.generation is not None


def _setup_with_deletes(spark, tmp_path, n=60):
    from diagon_spark.corpus import generate_pandas
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, n)), out,
                num_segments=4, num_buckets=4, positions=False)
    cat = IndexCatalog.load(out)
    ls = LocalSearcher(cat)
    victims = [d for d, _ in ls.search(Term("int"), k=3)]
    vdf = spark.createDataFrame([(int(v),) for v in victims], "doc_id long")
    delete_documents(spark, cat, vdf, join_cols=["doc_id"])
    return out, cat, set(victims), n


_MERGE_ENTRIES = {t: True for t in
                  ("docs", "postings", "term_dict", "stats", "deleted")}


def test_repair_rolls_back_crash_mid_swap(spark, tmp_path):
    """Kill window: intent written, only SOME tables swapped, commit
    never published — repair must restore the pre-merge state exactly."""
    import json

    from diagon_spark.index import merge as m

    out, cat, victims, n = _setup_with_deletes(spark, tmp_path)
    pre = LocalSearcher(IndexCatalog.load(out))
    pre_hits = pre.search(Term("int"), k=1000)
    pre_count = pre.count(MatchAll())

    # simulate the crash: stage a merge, write the intent, swap ONE
    # table, then "die" (no commit)
    staging = Path(out, STAGING)
    m.merge_segments(spark, cat, str(staging), num_segments=1)
    gen = IndexCatalog._gen_of(IndexCatalog.list_commits(out)[-1])
    Path(out, INTENT).write_text(json.dumps(
        {"pre_generation": gen, "entries": _MERGE_ENTRIES,
         "prune_commits": True}))
    Path(out, ASIDE).mkdir()
    Path(out, "docs").rename(Path(out, ASIDE, "docs"))
    (staging / "docs").rename(Path(out, "docs"))

    assert repair_index(out) == "rolled_back"
    post = LocalSearcher(IndexCatalog.load(out))
    assert post.count(MatchAll()) == pre_count
    assert post.search(Term("int"), k=1000) == pre_hits
    assert not Path(out, INTENT).exists()
    assert not Path(out, ASIDE).exists()
    assert not staging.exists()
    # and a subsequent commit_merge heals + completes normally
    cat2 = IndexCatalog.load(out)
    m.commit_merge(spark, cat2, num_segments=1)
    assert (LocalSearcher(IndexCatalog.load(out)).count(MatchAll())
            == n - len(victims))


def test_repair_rolls_forward_crash_mid_cleanup(spark, tmp_path):
    """Kill window: commit published but the aside/deleted cleanup died —
    repair must finish the cleanup, never resurrect old tables."""
    import json
    import shutil

    out, cat, victims, n = _setup_with_deletes(spark, tmp_path)

    # run a real commit_merge, then re-create the crashed-cleanup state:
    # intent present, the old docs/ and deleted/ still set aside
    pre_gen = IndexCatalog._gen_of(IndexCatalog.list_commits(out)[-1])
    commit_merge(spark, cat, num_segments=1)
    Path(out, INTENT).write_text(json.dumps(
        {"pre_generation": pre_gen, "entries": _MERGE_ENTRIES,
         "prune_commits": True}))
    shutil.copytree(Path(out, "docs"), Path(out, ASIDE, "docs"))
    Path(out, ASIDE, "deleted").mkdir()

    assert repair_index(out) == "rolled_forward"
    assert not Path(out, ASIDE).exists()
    assert not Path(out, "deleted").exists()
    assert not Path(out, INTENT).exists()
    assert len(IndexCatalog.list_commits(out)) == 1
    assert (LocalSearcher(IndexCatalog.load(out)).count(MatchAll())
            == n - len(victims))


def test_repair_noop_without_sentinel(spark, tmp_path):
    out, _, _, _ = _setup_with_deletes(spark, tmp_path)
    assert repair_index(out) is None


def test_maybe_merge_policy_gate(spark, tmp_path):
    """MaybeMergeTest parity: no-op at or under the bound, compacts
    (and stays searchable) above it."""
    from diagon_spark.corpus import generate_pandas
    from diagon_spark.index.merge import maybe_merge

    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 60)), out,
                num_segments=6, num_buckets=4, positions=False)
    cat = IndexCatalog.load(out)
    # under the bound: same handle back, no new commit
    before = len(IndexCatalog.list_commits(out))
    assert maybe_merge(spark, cat, max_segments=8) is cat
    assert len(IndexCatalog.list_commits(out)) == before
    # above the bound: compacts to max_segments // 2, results intact
    pre = {d for d, _ in LocalSearcher(cat).search(Term("int"), k=1000)}
    merged = maybe_merge(spark, cat, max_segments=4)
    assert merged.num_segments == 2
    ls = LocalSearcher(IndexCatalog.load(out))
    assert ls.count(MatchAll()) == 60
    assert {d for d, _ in ls.search(Term("int"), k=1000)} == pre
