"""Single-writer write.lock enforcement (index/lock.py) — the
IndexWriter lock analogue (index/IndexWriter.cpp open path): a second
live writer — another process or another thread — fails fast with
LockObtainFailedError and never touches the first writer's commit chain;
a crashed writer's kernel lock releases automatically (no stale-pid
breaking step, hence none of its races); a nested acquire fails fast
too, so composed mutators take the lock once."""

import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

from diagon_spark import build_index, IndexCatalog, Searcher
from diagon_spark.corpus import corpus_df
from diagon_spark.index.lock import (LOCK_NAME, LockObtainFailedError,
                                     write_lock)
from diagon_spark.search.query import Term

_HOLDER_SRC = """
import fcntl, os, sys, time
path = sys.argv[1]
fd = os.open(path, os.O_CREAT | os.O_RDWR)
fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
print("locked", flush=True)
time.sleep(60)
"""


def _foreign_holder(root: str) -> subprocess.Popen:
    """A live foreign PROCESS genuinely holding the kernel lock."""
    p = subprocess.Popen(
        [sys.executable, "-c", _HOLDER_SRC, str(Path(root, LOCK_NAME))],
        stdout=subprocess.PIPE, text=True)
    assert p.stdout.readline().strip() == "locked"
    return p


@pytest.fixture()
def built(spark, tmp_path):
    df = corpus_df(spark, 120, partitions=2)
    root = str(tmp_path / "idx")
    cat = build_index(spark, df, root, num_segments=2, num_buckets=4,
                      positions=False)
    return cat, df, root


def test_second_writer_fails_fast_and_first_commit_survives(
        spark, built, tmp_path):
    cat, df, root = built
    gen_before = cat.generation
    holder = _foreign_holder(root)
    try:
        with pytest.raises(LockObtainFailedError):
            build_index(spark, df, root, num_segments=1, num_buckets=4,
                        positions=False, append=True, segment_base=2)
        from diagon_spark.index.deletes import delete_documents
        with pytest.raises(LockObtainFailedError):
            delete_documents(spark, cat, df.limit(1)
                             .select("repo", "path", "commit"))
        from diagon_spark.index.merge import commit_merge
        with pytest.raises(LockObtainFailedError):
            commit_merge(spark, cat, num_segments=1)
    finally:
        holder.kill()
        holder.wait()
        Path(root, LOCK_NAME).unlink(missing_ok=True)
    # first writer's commit chain untouched; the index still serves
    reloaded = IndexCatalog.load(root)
    assert reloaded.generation == gen_before
    assert len(Searcher(spark, reloaded).search(Term("int"), k=5)
               .collect()) > 0


def test_crashed_holder_releases_automatically(spark, built):
    cat, df, root = built
    # a KILLED holder's flock is released by the kernel; its leftover
    # lock file must not block the next writer (the crashed-JVM story)
    holder = _foreign_holder(root)
    holder.kill()
    holder.wait()
    assert Path(root, LOCK_NAME).exists()  # file left behind by the crash
    cat2 = build_index(spark, df.limit(10), root, num_segments=1,
                       num_buckets=4, positions=False, append=True,
                       segment_base=2)
    assert cat2.num_segments == 3
    assert not Path(root, LOCK_NAME).exists()  # released after the build


def test_nested_same_thread_acquire_fails_fast(tmp_path):
    # no re-entry: a nested acquire is a second writer, even on the
    # holding thread, and fails fast instead of deadlocking
    root = str(tmp_path / "idx2")
    with write_lock(root):
        with pytest.raises(LockObtainFailedError):
            with write_lock(root):
                pass
        assert Path(root, LOCK_NAME).exists()  # the outer hold survives
    assert not Path(root, LOCK_NAME).exists()


def test_update_holds_the_lock_until_its_one_commit(spark, built,
                                                   monkeypatch):
    # while update_documents writes the new versions, a second writer
    # fails fast and no generation showing the old versions deleted has
    # been published yet
    from diagon_spark.index import builder
    from diagon_spark.index.deletes import update_documents
    cat, df, root = built
    gen_before = cat.generation
    seen: list = []
    real = builder._flushes_on_driver

    def hook(*args, **kwargs):
        errs: list[Exception] = []

        def second():
            try:
                with write_lock(root):
                    pass
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        t = threading.Thread(target=second)
        t.start()
        t.join(10)
        seen.append((errs, IndexCatalog.load(root).generation))
        return real(*args, **kwargs)

    monkeypatch.setattr(builder, "_flushes_on_driver", hook)
    new = update_documents(spark, cat, df.limit(2))
    assert len(seen) == 1
    errs, gen = seen[0]
    assert len(errs) == 1 and isinstance(errs[0], LockObtainFailedError)
    assert gen == gen_before
    assert new.generation == gen_before + 1


def test_second_thread_fails_fast(tmp_path):
    # writer-scoped, not process-scoped: a SIBLING THREAD gets no
    # re-entrant pass — it must fail exactly like a second process
    # (ADVICE r4: ThreadPoolExecutor writers previously interleaved)
    root = str(tmp_path / "idx_thread")
    errs: list[Exception] = []
    entered = threading.Event()
    release = threading.Event()

    def first():
        with write_lock(root):
            entered.set()
            release.wait(10)

    def second():
        try:
            with write_lock(root):
                pass
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=first)
    t1.start()
    assert entered.wait(10)
    t2 = threading.Thread(target=second)
    t2.start()
    t2.join(10)
    release.set()
    t1.join(10)
    assert len(errs) == 1 and isinstance(errs[0], LockObtainFailedError)
    # and the root is free again afterwards
    with write_lock(root):
        pass


def test_lock_released_on_writer_error(spark, tmp_path):
    root = str(tmp_path / "idx3")
    df = corpus_df(spark, 10, partitions=1)
    with pytest.raises(Exception):
        # nonexistent content column -> build fails inside the lock
        build_index(spark, df, root, num_segments=1, num_buckets=2,
                    content_col="no_such_col", positions=False)
    assert not Path(root, LOCK_NAME).exists()
    # and the root is writable again
    cat = build_index(spark, df, root, num_segments=1, num_buckets=2,
                      positions=False)
    assert cat.generation is not None


def test_unlink_vs_flock_race_is_closed(tmp_path):
    # a releasing writer unlinks before closing; an acquirer that opened
    # the doomed inode must detect it (inode check) and retry onto the
    # fresh file rather than "holding" a lock on an unlinked inode.
    # Sequential reacquisition exercises the retry loop's liveness check.
    root = str(tmp_path / "idx5")
    for _ in range(5):
        with write_lock(root):
            assert Path(root, LOCK_NAME).exists()
        assert not Path(root, LOCK_NAME).exists()
    # hammer it from many threads: exactly one holder at a time
    active = []
    lockstats = {"max": 0}
    mu = threading.Lock()

    def worker():
        for _ in range(10):
            try:
                with write_lock(root):
                    with mu:
                        active.append(1)
                        lockstats["max"] = max(lockstats["max"],
                                               len(active))
                    time.sleep(0.001)
                    with mu:
                        active.pop()
            except LockObtainFailedError:
                time.sleep(0.001)

    ts = [threading.Thread(target=worker) for _ in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(30)
    assert lockstats["max"] == 1
