"""Kill-point test of the in-place table rewrites (segments_N discipline,
index/IndexWriter.cpp:208-247): a crash injected at each filesystem step
(rename, rmtree, unlink) a writer takes inside the index root — fresh
build, append, delete, update, rollback, commit_merge — must leave every table that
writer swaps at its generation-N or generation-N+1 content once the next
writer has opened the index, never missing and never mixed.

A crash is simulated by making the chosen step and every later one
raise, as if the process died there (no cleanup code of the writer gets
to touch the index afterwards); the kernel-released write.lock is the
one file left alone. The next writer is an empty delete_documents: it
takes write.lock like any writer and rewrites no table.
"""

import os
import shutil

import pyarrow.dataset as ds
import pytest
from conftest import pin_build_substrate

from diagon_spark import build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog, rollback
from diagon_spark.index.check import HEALTHY, check_index
from diagon_spark.index.deletes import delete_documents, update_documents
from diagon_spark.index.merge import commit_merge
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import MatchAll, Term

ARGS = dict(num_buckets=2, positions=False)
QUERIES = [Term("int"), Term("return"), MatchAll()]


class _Killed(RuntimeError):
    pass


class _Steps:
    """Counts the filesystem steps taken inside `root`; from step
    `kill_at` on, each one raises instead."""

    def __init__(self, root: str, kill_at: int | None = None):
        self.root, self.kill_at, self.n = root, kill_at, 0
        self._in_rmtree = False

    def wrap(self, fn):
        def step(path, *args, **kwargs):
            p = os.fspath(path)
            counted = (not self._in_rmtree and "dir_fd" not in kwargs
                       and p.startswith(self.root)
                       and os.path.basename(p) != "write.lock")
            if counted:
                self.n += 1
                if self.kill_at is not None and self.n > self.kill_at:
                    raise _Killed(f"killed at step {self.n}: "
                                  f"{fn.__name__}({p})")
            if fn is _RMTREE:
                self._in_rmtree = True
                try:
                    return fn(path, *args, **kwargs)
                finally:
                    self._in_rmtree = False
            return fn(path, *args, **kwargs)
        return step

    def install(self, mp):
        for name in ("rename", "replace", "unlink", "remove"):
            mp.setattr(os, name, self.wrap(getattr(os, name)))
        mp.setattr(shutil, "rmtree", self.wrap(_RMTREE))


_RMTREE = shutil.rmtree


def _rows(root: str, table: str):
    p = os.path.join(root, table)
    if not os.path.exists(p):
        return None
    t = ds.dataset(p, format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    return sorted(repr(tuple(r[c] for c in cols)) for r in t.to_pylist())


def _latest(root: str) -> int:
    commits = IndexCatalog.list_commits(root)
    return IndexCatalog._gen_of(commits[-1]) if commits else -1


def _hits(root: str):
    ls = LocalSearcher(IndexCatalog.load(root))
    return [ls.search(q, k=100) for q in QUERIES]


def _run_killpoints(spark, tmp_path, base: str, op, tables, full=False):
    """Run `op(root)` on copies of `base`, killed at every step it takes;
    check each table in `tables` after the next writer opened the index.
    `full` also checks check_index and LocalSearcher hits."""
    def fresh(name):
        root = str(tmp_path / name)
        shutil.copytree(base, root)
        return root

    gen_n = _latest(base)
    want = {gen_n: {t: _rows(base, t) for t in tables}}
    ref = fresh("ref")
    with pytest.MonkeyPatch.context() as mp:
        steps = _Steps(ref)
        steps.install(mp)
        op(ref)
    assert steps.n > 0
    want[_latest(ref)] = {t: _rows(ref, t) for t in tables}
    assert len(want) == 2, "the operation must publish one new commit"
    hits = {gen_n: _hits(base), _latest(ref): _hits(ref)} if full else {}

    empty = spark.createDataFrame([], "doc_id long")
    for k in range(steps.n):
        root = fresh(f"kill{k}")
        with pytest.MonkeyPatch.context() as mp:
            _Steps(root, kill_at=k).install(mp)
            with pytest.raises(_Killed):
                op(root)
        gen = _latest(root)
        assert gen in want, (k, gen)
        delete_documents(spark, IndexCatalog.load(root), empty,
                         join_cols=["doc_id"])
        for t in tables:
            assert _rows(root, t) == want[gen][t], (
                f"step {k}: {t}/ is neither generation {gen_n} nor "
                f"{gen_n + 1} content (the latest commit is {gen})")
        if full:
            r = check_index(spark, root)
            assert r["status"] == HEALTHY, (k, r)
            assert _hits(root) == hits[gen], k
        shutil.rmtree(root)


def _build(spark, root, lo, hi, **kw):
    build_index(spark, spark.createDataFrame(generate_pandas(lo, hi)), root,
                **ARGS, **kw)


def test_killpoints_fresh_build(spark, tmp_path):
    base = str(tmp_path / "base")
    _build(spark, base, 0, 30, num_segments=2)
    # only term_dict/stats: a fresh build clears postings/lineage/deleted
    # and overwrites docs before its commit, outside the publish
    _run_killpoints(spark, tmp_path, base,
                    lambda r: _build(spark, r, 30, 60, num_segments=2),
                    ["term_dict", "stats"])


def _killpoints_append(spark, tmp_path, monkeypatch, flush):
    base = str(tmp_path / "base")
    _build(spark, base, 0, 30, num_segments=2)
    pin_build_substrate(monkeypatch, flush)
    _run_killpoints(spark, tmp_path, base,
                    lambda r: _build(spark, r, 30, 45, num_segments=1,
                                     append=True, segment_base=2),
                    ["term_dict", "stats"])


def test_killpoints_append(spark, tmp_path, monkeypatch):
    _killpoints_append(spark, tmp_path, monkeypatch, "spark")


def test_killpoints_append_driver_flush(spark, tmp_path, monkeypatch):
    """The driver flush adds its docs/postings/lineage parts by rename,
    like the Spark one adds them by its job commit, and publishes
    term_dict/stats the same way."""
    _killpoints_append(spark, tmp_path, monkeypatch, "driver")


def _with_deletes(spark, root):
    ls = LocalSearcher(IndexCatalog.load(root))
    victims = [d for d, _ in ls.search(Term("int"), k=100)][::5]
    delete_documents(spark, IndexCatalog.load(root),
                     spark.createDataFrame([(int(v),) for v in victims],
                                           "doc_id long"),
                     join_cols=["doc_id"])


def test_killpoints_rollback(spark, tmp_path):
    base = str(tmp_path / "base")
    _build(spark, base, 0, 30, num_segments=2)
    _build(spark, base, 30, 45, num_segments=1, append=True, segment_base=2)
    _with_deletes(spark, base)
    _run_killpoints(spark, tmp_path, base,
                    lambda r: rollback(spark, r, 0),
                    ["docs", "postings", "deleted", "lineage", "term_dict",
                     "stats"], full=True)


def test_killpoints_commit_merge(spark, tmp_path):
    base = str(tmp_path / "base")
    _build(spark, base, 0, 40, num_segments=3)
    _with_deletes(spark, base)
    _run_killpoints(spark, tmp_path, base,
                    lambda r: commit_merge(spark, IndexCatalog.load(r),
                                           num_segments=1),
                    ["docs", "postings", "deleted", "term_dict", "stats"],
                    full=True)


def test_killpoints_delete(spark, tmp_path):
    """A delete's tombstone parts are entries of its publish: a crash
    before its commit leaves deleted/ as it was."""
    base = str(tmp_path / "base")
    _build(spark, base, 0, 40, num_segments=2)
    _with_deletes(spark, base)
    _run_killpoints(spark, tmp_path, base, lambda r: _with_deletes(spark, r),
                    ["deleted", "term_dict", "stats"], full=True)


def test_killpoints_update(spark, tmp_path):
    """An update publishes its tombstones with its new segment's
    term_dict/stats in one commit."""
    base = str(tmp_path / "base")
    _build(spark, base, 0, 30, num_segments=2)
    _run_killpoints(spark, tmp_path, base,
                    lambda r: update_documents(
                        spark, IndexCatalog.load(r),
                        spark.createDataFrame(generate_pandas(10, 15))),
                    ["deleted", "term_dict", "stats"])
