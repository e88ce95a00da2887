"""Incremental / near-real-time index maintenance via Structured Streaming.

The reference's NRT path is buffer → flush a new segment → atomically
reopen readers on the new commit point (index/DirectoryReader.cpp,
tests ReaderReopenTest.cpp; commit points index/IndexWriter.cpp:208-247).
The Spark restatement maps one micro-batch to one commit epoch:

    readStream (new corpus files) → foreachBatch:
        build_index(append=True)
        → new segments (ids from the latest commit's next_segment_id)
          + refreshed term_dict/stats + new commit_N.json

`trigger(availableNow=True)` drains the backlog batch-by-batch and stops —
the batch-job-with-streaming-bookkeeping idiom; a continuous trigger keeps
the index live. Every epoch after the first is an append, so a small one
(input files plus term_dict within one doc-prep task,
`builder._flushes_on_driver`) flushes on the driver in one Spark job; the
first epoch and larger ones flush on Spark. Searchers opened after a commit see it atomically
(IndexCatalog.load picks the highest commit generation — the reopen).

Exactly-once publish on top of foreachBatch's at-least-once delivery:
each epoch's batch_id is recorded in the commit metadata; a replayed
epoch that already committed is skipped. An epoch that failed mid-write
may leave two kinds of debris: a half-done term_dict/stats publish,
which the retry's write.lock heals on entry (index/publish.py rolls it
back, since its commit never landed), and segment rows already appended
to docs/postings/lineage, which the retry scrubs first (their segment
ids are not in the latest commit's `segments`) before re-appending.
The scrub leaves term_dict/stats alone: after the
rollback they already match the last commit. On Iceberg the scrub would
be a snapshot rollback instead of a filter-rewrite.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from diagon_spark.index.builder import IndexCatalog, build_index


def index_stream(spark: SparkSession, source_dir: str, out_dir: str,
                 checkpoint_dir: str, schema: str, *,
                 segments_per_batch: int = 8, num_buckets: int = 16,
                 key_cols: list[str] | None = None, id_col: str | None = None,
                 content_col: str = "content",
                 fields: list[str] | None = None, positions: bool = True,
                 available_now: bool = True,
                 compact_max_segments: int | None = None):
    """Incrementally index parquet files arriving under source_dir.

    Returns the StreamingQuery (already started). With available_now the
    caller should `query.awaitTermination()` then `IndexCatalog.load`.

    `compact_max_segments` bounds segment fan-out under continuous
    appends: after each epoch, merge.maybe_merge runs a crash-safe
    in-place compaction once the count exceeds the bound (the
    commit-time-merge pattern, MaybeMergeTest.cpp::CommitTimeMerge).
    Compaction preserves stream-epoch bookkeeping, so replays of
    already-merged epochs stay no-ops.
    """

    def process_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        epoch = int(batch_id)
        if epoch in committed_epochs(out_dir):
            return  # at-least-once replay of a published epoch: no-op
        exists = _exists(out_dir)
        if exists:
            _scrub_partial_epoch(batch_df.sparkSession, out_dir)
        build_index(
            batch_df.sparkSession, batch_df, out_dir,
            num_segments=segments_per_batch, num_buckets=num_buckets,
            key_cols=key_cols, id_col=id_col, content_col=content_col,
            fields=fields, positions=positions, append=exists,
            commit_extra={"stream_epoch": epoch})
        if compact_max_segments is not None:
            from diagon_spark.index.merge import maybe_merge
            maybe_merge(batch_df.sparkSession,
                        IndexCatalog.load(out_dir),
                        max_segments=compact_max_segments)

    stream = (spark.readStream.schema(schema).parquet(source_dir))
    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def committed_epochs(out_dir: str) -> set[int]:
    """Stream epochs already published in some commit generation."""
    if not _exists(out_dir):
        return set()
    out = set()
    for p in IndexCatalog.list_commits(out_dir):
        meta = json.loads(p.read_text())
        if "stream_epoch" in meta:
            out.add(int(meta["stream_epoch"]))
        # compaction prunes old commits but carries their epochs forward
        out.update(int(e) for e in meta.get("merged_epochs", []))
    return out


def _scrub_partial_epoch(spark: SparkSession, out_dir: str) -> None:
    """Remove rows of a partially-written (uncommitted) epoch so the retry
    is idempotent: rows whose segment id is not in the latest commit's
    `segments`. Rare path: only finds rows when a previous attempt of
    this epoch died between its first append and its commit.
    term_dict/stats change only together with a commit, and write.lock
    rolls back a publish that died before its own, so they already match
    the last commit; only docs/postings/lineage are filtered, swapped in
    under a commit of their own (index/publish.py)."""
    from diagon_spark.index.builder import _stage_dropping
    from diagon_spark.index.lock import write_lock
    from diagon_spark.index.publish import Publish
    with write_lock(out_dir):
        cat = IndexCatalog.load(out_dir)
        pub = Publish(spark, out_dir)
        _stage_dropping(spark, pub, cat.segments)
        if pub.entries:
            pub.commit(cat, {"scrubbed": True})


def _exists(out_dir: str) -> bool:
    return bool(IndexCatalog.list_commits(out_dir))
