"""write.lock — single-writer enforcement.

The reference's IndexWriter acquires a `write.lock` in the directory
before any mutation and holds it for the writer's lifetime
(index/IndexWriter.cpp open path; Lucene NativeFSLockFactory semantics):
a second writer on the same index fails fast with LockObtainFailed
instead of corrupting the commit chain. This repo's mutators
(build_index, delete_documents, update_documents, commit_merge,
rollback) all hold this
lock, and taking it first heals any publish a crashed writer left
pending (publish.repair_index — the IndexWriter-open cleanup of files
no commit references).

Mechanics — a kernel advisory lock (fcntl.flock LOCK_EX|LOCK_NB) on
`<root>/write.lock`, exactly NativeFSLockFactory's native-lock design:

* a crashed holder's lock is released by the kernel automatically — no
  stale-pid detection, no lock-breaking step, and therefore none of the
  read-check-unlink races a pid-file protocol has;
* a second writer — another process OR another thread of this process
  (flock conflicts between distinct open file descriptions, even within
  one process) — fails fast with LockObtainFailedError, matching the
  reference's obtain(timeout=0) behavior; the lock body records
  {pid, host, ts} purely for the error message;
* there is no re-entry: a nested acquire, even from the thread that
  holds the lock, fails fast like any second writer. Composed mutators
  (update_documents, maybe_merge -> commit_merge) take the lock once and
  call the unlocked `_impl` bodies;
* acquire verifies by inode that the file it locked is still the live
  `write.lock` (the unlink-vs-flock race: locking an already-unlinked
  inode protects nothing), retrying if not; release unlinks the path
  BEFORE closing the fd, so any racer that opened the doomed inode fails
  that check and retries onto the fresh file.

Object-store caveat (same as index/publish.py's renames): flock is a
local-fs primitive. On S3-like stores the equivalent is a conditional PUT
(If-None-Match) or the catalog's own optimistic commit (Iceberg/Hive
lock); the call sites are the integration points.
"""

from __future__ import annotations

import fcntl
import json
import os
import socket
import time
from contextlib import contextmanager
from pathlib import Path

LOCK_NAME = "write.lock"

class LockObtainFailedError(RuntimeError):
    """Another live writer holds this index's write.lock."""


def _read_meta(path: Path) -> dict:
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError):
        return {}


def _acquire(path: Path) -> int:
    """flock the live lock file; return its open fd. Fails fast when any
    other writer (process or thread) holds the kernel lock."""
    while True:
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            meta = _read_meta(path)
            raise LockObtainFailedError(
                f"index {path.parent} is locked by pid "
                f"{meta.get('pid', '?')} on {meta.get('host', '?')} since "
                f"{meta.get('ts', '?')} ({path}); a second concurrent "
                "writer would corrupt the commit chain — wait for it (a "
                "crashed holder's lock releases automatically)") from None
        # verify we locked the LIVE file, not an inode a releasing writer
        # unlinked between our open and flock
        try:
            live_ino = os.stat(path).st_ino
        except FileNotFoundError:
            live_ino = -1
        if os.fstat(fd).st_ino == live_ino:
            os.ftruncate(fd, 0)
            os.write(fd, json.dumps({
                "pid": os.getpid(), "host": socket.gethostname(),
                "ts": time.time()}).encode())
            return fd
        os.close(fd)  # locked a dead inode — retry on the fresh file


@contextmanager
def write_lock(root: str):
    """Hold the index's write.lock for the duration of a mutation.

    Raises LockObtainFailedError if another live writer (process or
    sibling thread) holds it; a crashed writer's lock needs no breaking —
    the kernel released it, and the first acquire repairs what it left
    half-published. A nested acquire fails fast too."""
    key = os.path.abspath(root)
    Path(key).mkdir(parents=True, exist_ok=True)
    path = Path(key, LOCK_NAME)
    fd = _acquire(path)
    try:
        from diagon_spark.index.publish import repair_index
        repair_index(key)
        yield
    finally:
        # unlink BEFORE close: we still hold the flock, so a racer that
        # already opened this inode fails its liveness check and retries
        path.unlink(missing_ok=True)
        os.close(fd)
