"""Crash-safe publish of in-place index-table rewrites — the one swap
protocol behind every writer that replaces a table under a live root
(build's term_dict/stats refresh, rollback, commit_merge, the streaming
scrub).

The reference's commit point (segments_N, index/IndexWriter.cpp:208-247)
is replaced atomically and old files are deleted only after the new
commit is durable. A set of parquet table dirs cannot be swapped in one
atomic rename, so a publish runs these steps:

1. the writer stages the new tables under `<root>/_staging/`;
2. an intent file records the pre-publish commit generation and every
   entry being replaced, created or removed (an entry is a table dir,
   one `bucket=N` partition of it, or one part file appended to it);
3. each live entry is renamed aside under `<root>/_aside/`;
4. each staged entry is renamed in (an entry staged empty is removed);
5. the new commit generation is published;
6. the asides, the staging area and the intent are dropped.

`repair_index` heals a crash at any step: with no commit newer than the
intent's generation it rolls back (asides return, staged entries leave);
with one it rolls forward (finishes step 6). Every writer runs it on
entry, under write.lock (index/lock.py). Single-host filesystem only,
like the rest of the commit chain: on an object store the analogue is a
snapshot commit (Iceberg), not a rename.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

INTENT = "_publish_pending.json"
STAGING = "_staging"
ASIDE = "_aside"


class Publish:
    """One in-place rewrite of a root's tables, published with a commit.

    Writers stage tables through `stage`/`write`/`remove`, read what the
    rewrite will publish through `source`, and finish with `commit`."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root, self.path = root, Path(root)
        self.entries: list[str] = []

    def stage(self, table: str, parts=None) -> str:
        """Staging dir of `table`. The publish swaps in the whole table
        (`parts` None), or only its `parts` — the touched `bucket=N`
        partitions of an append, or new part files of an append-only
        table (tombstones); an entry left unwritten is removed."""
        self.entries += ([table] if parts is None
                         else [f"{table}/{p}" for p in parts])
        return str(self.path / STAGING / table)

    def remove(self, table: str) -> None:
        self.entries.append(table)

    def write(self, df, table: str, partition_by: str | None = None,
              options: dict | None = None, parts=None) -> None:
        """Stage `df` as (the `parts` of) `table`."""
        w = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(self.stage(table, parts))

    def source(self, table: str) -> str:
        """Where `table` reads as this publish will leave it: the staged
        copy when the whole table is rewritten, else the live dir."""
        staged = table in self.entries
        return str(self.path / STAGING / table if staged
                   else self.path / table)

    def commit(self, cat, extra: dict, prune_commits: bool = False) -> None:
        """Steps 2-6: swap every staged entry in and publish `cat`'s new
        commit generation with the manifest keys `extra`.
        `prune_commits` then drops every older commit
        (KeepOnlyLastCommitDeletionPolicy, for rewrites that remove the
        files older commits point at)."""
        from diagon_spark.index.builder import IndexCatalog
        commits = IndexCatalog.list_commits(self.root)
        staging, aside = self.path / STAGING, self.path / ASIDE
        staging.mkdir(parents=True, exist_ok=True)
        tmp = staging / INTENT
        tmp.write_text(json.dumps({
            "pre_generation": (IndexCatalog._gen_of(commits[-1])
                               if commits else -1),
            "entries": {e: (self.path / e).exists() for e in self.entries},
            "prune_commits": prune_commits}))
        tmp.rename(self.path / INTENT)
        for e in self.entries:
            if (self.path / e).exists():
                (aside / e).parent.mkdir(parents=True, exist_ok=True)
                (self.path / e).rename(aside / e)
        for e in self.entries:
            if (staging / e).exists():
                (self.path / e).parent.mkdir(parents=True, exist_ok=True)
                (staging / e).rename(self.path / e)
        cat.commit(extra)
        _finish(self.path, prune_commits)
        # a later read of a swapped path must re-list, not chase the
        # session-cached listing of removed part files
        for table in dict.fromkeys(e.split("/")[0] for e in self.entries):
            self.spark.catalog.refreshByPath(str(self.path / table))


def _finish(root: Path, prune_commits: bool) -> None:
    from diagon_spark.index.builder import IndexCatalog
    for d in (ASIDE, STAGING):
        if (root / d).exists():
            shutil.rmtree(root / d)
    if prune_commits:
        for p in IndexCatalog.list_commits(str(root))[:-1]:
            p.unlink()
    (root / INTENT).unlink()


def repair_index(root: str) -> str | None:
    """Heal a publish that crashed under `root` (single writer: callers
    hold write.lock). Returns "rolled_back" when its commit never
    published (every aside returns, every staged entry leaves),
    "rolled_forward" when it did (the cleanup finishes), or None when no
    publish was pending — a staging area left by a writer that died
    before its intent is then just dropped. Idempotent, so a crash during
    repair is healed by the next one."""
    r = Path(root)
    intent = r / INTENT
    if not intent.exists():
        if (r / STAGING).exists():
            shutil.rmtree(r / STAGING)
        return None
    from diagon_spark.index.builder import IndexCatalog
    meta = json.loads(intent.read_text())
    commits = IndexCatalog.list_commits(root)
    latest = IndexCatalog._gen_of(commits[-1]) if commits else -1
    if latest > meta["pre_generation"]:
        _finish(r, meta["prune_commits"])
        return "rolled_forward"
    for e, existed in meta["entries"].items():
        live, old = r / e, r / ASIDE / e
        if old.exists():
            if live.exists():  # the staged entry already swapped in
                _rm(live)
            old.rename(live)
        elif not existed and live.exists():
            _rm(live)
        if (not existed and live.parent != r and live.parent.is_dir()
                and not any(live.parent.iterdir())):
            live.parent.rmdir()  # a table dir step 4 created
    _finish(r, False)
    return "rolled_back"


def _rm(p: Path) -> None:
    """Remove an entry: a table or partition dir, or an appended part."""
    if p.is_dir():
        shutil.rmtree(p)
    else:
        p.unlink()
