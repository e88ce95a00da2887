"""Segment merge / compaction — the SegmentMerger + TieredMergePolicy
analogue (index/SegmentMerger.cpp:143-195, 555-585; TieredMergePolicy.h).

The reference merges segments with a min-heap k-way merge over sorted
per-segment TermsEnums, concatenating postings with a docBase remap. Our
doc ids are globally deterministic (builder.py), so no remap is needed;
the k-way merge *is* Spark's shuffle: group every (field, term)'s chunk
rows onto one task, decode, merge-sort by doc id in numpy, then hand the
merged arrays of each (new segment, field) to the build's own postings
writer (builder._postings_frame: one batched codec call, maximal chunks)
— as the reference hands a merge to the FieldsConsumer a flush uses.
Output is a single-segment index — forceMerge(1) — which is the
reference's preferred serving layout (BASELINE.md: all query numbers are
forceMerge(1)).

Scale notes:
* merge parallelism is NOT capped at num_buckets: groups are salted by
  pmod(xxhash64(field, term), S) so the stage runs num_buckets × S tasks
  (all rows of one term share a salt — correctness unaffected);
* positions merge as FLAT numpy streams (decode_block_flat → vectorized
  per-doc reorder → delta re-encode in one varint pass) — no per-doc
  python lists;
* tombstoned docs are purged for good (live-docs compaction — Iceberg
  equality-delete compaction analogue) and term_dict/stats recomputed
  post-purge so the merged index scores like a freshly-built one.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from diagon_spark.index.builder import (CHUNK_DOCS, IndexCatalog,
                                        POSTINGS_SCHEMA, _BLOOM_OPTS,
                                        _POSTINGS_COLS, _postings_frame,
                                        _refresh_term_dict_and_stats)
from diagon_spark.index.codec import decode_all, decode_block_flat


def _exclusive_cumsum(a: np.ndarray) -> np.ndarray:
    out = np.empty(len(a), dtype=np.int64)
    if len(a):
        out[0] = 0
        np.cumsum(a[:-1], out=out[1:])
    return out


def _merge_term_rows(recs: list[dict], has_positions: bool,
                     tombstones: np.ndarray):
    """Merge one (field, term)'s chunk rows (multiple segments) into
    doc-sorted flat arrays (docs, tfs, norms, pos_deltas|None). Positions
    stay FLAT throughout: reorder by doc via one gather, re-delta in one
    vectorized pass."""
    docs_l, tfs_l, norms_l, pos_l = [], [], [], []
    for rec in recs:
        if has_positions:
            n = int(rec["df"])
            nblocks = (n + 127) // 128
            for bi in range(nblocks):
                d, t, nn, flat = decode_block_flat(rec, bi)
                docs_l.append(d); tfs_l.append(t); norms_l.append(nn)
                pos_l.append(flat)
        else:
            d, t, nn = decode_all(rec)
            docs_l.append(d); tfs_l.append(t); norms_l.append(nn)
    docs = np.concatenate(docs_l)
    tfs = np.concatenate(tfs_l).astype(np.int64)
    norms = np.concatenate(norms_l)
    flat_pos = np.concatenate(pos_l) if has_positions else None

    if len(tombstones):
        keep = ~np.isin(docs, tombstones)
        if not keep.all():
            if has_positions:
                flat_pos = flat_pos[np.repeat(keep, tfs)]
            docs, tfs, norms = docs[keep], tfs[keep], norms[keep]
    if len(docs) == 0:
        return docs, tfs, norms, None

    order = np.argsort(docs, kind="stable")
    if has_positions:
        starts = _exclusive_cumsum(tfs)
        new_tfs = tfs[order]
        new_starts = _exclusive_cumsum(new_tfs)
        total = int(new_tfs.sum())
        # gather: value i of the sorted stream comes from the old slice
        gather = (np.repeat(starts[order], new_tfs)
                  + np.arange(total, dtype=np.int64)
                  - np.repeat(new_starts, new_tfs))
        flat_sorted = flat_pos[gather]
        # re-delta: first position of each doc absolute, the rest gaps
        deltas = np.empty_like(flat_sorted)
        if total:
            deltas[0] = flat_sorted[0]
            deltas[1:] = flat_sorted[1:] - flat_sorted[:-1]
            deltas[new_starts] = flat_sorted[new_starts]
    else:
        deltas = None
    return docs[order], tfs[order], norms[order], deltas


def _merge_group_fn(has_positions: bool, new_segment: dict[int, int]):
    """Cogrouped merge fn: (postings rows of one (bucket, salt) group,
    tombstone rows replicated to that group). Tombstones arrive through
    the shuffle — never a driver collect, never a pickled closure array
    (the scale-safe pattern of searcher.py's delete cogroup). Each
    (field, term) merges through `_merge_term_rows`; each (new segment,
    field) then encodes through the build's own `_postings_frame`."""

    def merge(key, pdf: pd.DataFrame, tomb_pdf: pd.DataFrame | None
              ) -> pd.DataFrame:
        from diagon_spark._runtime import worker_init
        worker_init()
        if tomb_pdf is not None and len(tomb_pdf):
            tombstones = np.unique(tomb_pdf["doc_id"].to_numpy(np.int64))
        else:
            tombstones = np.zeros(0, dtype=np.int64)
        if len(pdf) == 0:
            return pd.DataFrame(columns=_POSTINGS_COLS)
        pdf = (pdf.assign(_new_seg=pdf["segment_id"].map(new_segment))
               .sort_values(["_new_seg", "field", "term"], kind="stable"))
        frames = []
        for (new_seg, fld), seg_recs in groupby(
                pdf.to_dict("records"), key=itemgetter("_new_seg", "field")):
            terms, buckets, merged = [], [], []
            for term, recs in groupby(seg_recs, key=itemgetter("term")):
                recs = list(recs)
                m = _merge_term_rows(recs, has_positions, tombstones)
                if len(m[0]):
                    terms.append(term)
                    buckets.append(int(recs[0]["bucket"]))
                    merged.append(m)
            if not terms:
                continue
            docs, tfs, norms, deltas = zip(*merged)
            t_lens = np.array([len(d) for d in docs], dtype=np.int64)
            t_ends = np.cumsum(t_lens)
            tfs = np.concatenate(tfs)
            frames.append(_postings_frame(
                fld, int(new_seg), terms, buckets, np.concatenate(docs),
                tfs, np.concatenate(norms), t_ends - t_lens, t_ends,
                np.concatenate(deltas) if has_positions else None,
                _exclusive_cumsum(tfs) if has_positions else None,
                CHUNK_DOCS))
        if not frames:
            return pd.DataFrame(columns=_POSTINGS_COLS)
        return pd.concat(frames, ignore_index=True)

    return merge


def merge_segments(spark: SparkSession, cat: IndexCatalog, out_dir: str,
                   num_segments: int = 1) -> IndexCatalog:
    """Merge/compact to `num_segments` segments under out_dir, purging
    tombstoned docs (the TieredMergePolicy compaction step; num_segments=1
    is forceMerge(1)). Holds out_dir's write.lock — the merge target is a
    new index root being written and committed."""
    from diagon_spark.index.lock import write_lock
    from diagon_spark.index.publish import Publish
    with write_lock(out_dir):
        pub = Publish(spark, out_dir)
        merged, n_purged = _stage_merge(
            spark, IndexCatalog.load(cat.root), pub, num_segments)
        pub.commit(merged, {"merged_from": cat.root, "purged": n_purged})
        return merged


def _stage_merge(spark: SparkSession, cat: IndexCatalog, pub,
                 num_segments: int) -> tuple[IndexCatalog, int]:
    """Stage `cat` merged to `num_segments` segments into the publish
    `pub` (index/publish.py): docs, postings, term_dict and stats, at
    fresh ids from `cat.next_segment_id` (`cat` is the latest commit).
    Returns the merged, not yet committed catalog of `pub`'s root and
    the number of purged docs."""
    from diagon_spark._ship import ensure_shipped
    from diagon_spark.index.deletes import deleted_docs_df
    ensure_shipped(spark)

    base = cat.next_segment_id
    new_segment = {s: base + i * num_segments // cat.num_segments
                   for i, s in enumerate(cat.segments)}
    deleted = deleted_docs_df(spark, cat)  # distributed; None if no deletes
    merged = IndexCatalog(root=pub.root, num_buckets=cat.num_buckets,
                          segments=list(range(base, base + num_segments)),
                          has_positions=cat.has_positions,
                          key_cols=cat.key_cols, fields=cat.fields)
    postings = spark.read.parquet(cat.postings_path)
    # salt the merge groups: parallelism = num_buckets × n_salts, not
    # capped at num_buckets; explicit partition count — AQE byte-coalescing
    # would serialize the CPU-heavy merge groups (see builder.py note)
    par = spark.sparkContext.defaultParallelism
    n_salts = max(1, (par * 2 + cat.num_buckets - 1) // cat.num_buckets)
    n_groups = cat.num_buckets * n_salts
    salted = postings.withColumn(
        "_salt", F.pmod(F.xxhash64("field", "term"), F.lit(n_salts))
        .cast("int"))
    left = (salted.repartition(n_groups, F.col("bucket"), F.col("_salt"))
            .groupBy("bucket", "_salt"))
    fn = _merge_group_fn(cat.has_positions, new_segment)
    if deleted is None:
        out = left.applyInPandas(
            lambda key, pdf: fn(key, pdf, None), schema=POSTINGS_SCHEMA)
    else:
        # a tombstone has no (field, term) key but affects EVERY term's
        # postings, so the tombstone table is replicated to each of the
        # O(cores) merge groups via a broadcast grid cross-join and
        # COGROUPED in — shuffle volume is tombstones × n_groups tiny
        # rows, fully distributed (vs. the old driver collect + pickled
        # closure array, a driver OOM at billions of tombstones)
        grid = spark.range(n_groups).select(
            (F.col("id") / n_salts).cast("int").alias("bucket"),
            F.pmod(F.col("id"), F.lit(n_salts)).cast("int").alias("_salt"))
        tomb_rep = deleted.select("doc_id").crossJoin(F.broadcast(grid))
        out = (left.cogroup(
                   tomb_rep.repartition(n_groups, F.col("bucket"),
                                        F.col("_salt"))
                   .groupBy("bucket", "_salt"))
               .applyInPandas(fn, schema=POSTINGS_SCHEMA))
    pub.write(out.repartition(cat.num_buckets, F.col("bucket")),
              "postings", partition_by="bucket", options=_BLOOM_OPTS)

    docs = spark.read.parquet(cat.docs_path).withColumn(
        "segment_id", F.create_map(*[F.lit(x) for kv in new_segment.items()
                                     for x in kv])[F.col("segment_id")])
    n_purged = 0
    if deleted is not None:
        # distributed anti-join purge (no createDataFrame(list) literal);
        # Catalyst/AQE picks broadcast vs shuffle by tombstone size
        docs = docs.join(deleted.select("doc_id"), "doc_id", "left_anti")
        n_purged = int(deleted.count())
    pub.write(docs, "docs")
    _refresh_term_dict_and_stats(
        spark, merged, pub,
        new_docs_idx=spark.read.parquet(pub.source("docs")),
        append=False)
    return merged, n_purged


def force_merge(spark: SparkSession, cat: IndexCatalog,
                out_dir: str) -> IndexCatalog:
    """Merge all segments into one (forceMerge(1)) under out_dir."""
    return merge_segments(spark, cat, out_dir, num_segments=1)


def maybe_merge(spark: SparkSession, cat: IndexCatalog,
                max_segments: int = 32,
                target_segments: int | None = None) -> IndexCatalog:
    """Policy-gated compaction — the IndexWriter::maybeMerge analogue
    (tests/unit/index/MaybeMergeTest.cpp): a no-op while the index holds
    at most `max_segments` segments (SegmentsBoundedDuringBulkIndexing /
    NoMergeForSingleSegment); above the bound, runs a crash-safe
    commit_merge down to `target_segments` (default max_segments // 2,
    the tiered-policy idea of merging well below the trigger so appends
    don't re-trigger immediately). Call it after append epochs to keep
    per-query segment fan-out bounded."""
    if cat.num_segments <= max_segments:
        return cat
    return commit_merge(spark, cat,
                        num_segments=target_segments
                        or max(1, max_segments // 2))


def commit_merge(spark: SparkSession, cat: IndexCatalog,
                 num_segments: int = 1) -> IndexCatalog:
    """Single-writer wrapper around `_commit_merge_impl`: the in-place
    table swaps REQUIRE exclusivity, so the round-3 docstring's
    "single-writer assumption" is now enforced by `<root>/write.lock`
    (index/lock.py) instead of merely documented."""
    from diagon_spark.index.lock import write_lock
    with write_lock(cat.root):
        return _commit_merge_impl(spark, cat, num_segments)


def _commit_merge_impl(spark: SparkSession, cat: IndexCatalog,
                       num_segments: int = 1) -> IndexCatalog:
    """In-place compaction — the writer.commitMergeResults() analogue
    (index/IndexWriter.h merge lifecycle,
    tests/unit/index/MergeCommitPointTest.cpp): merge to `num_segments`
    segments, swap the index tables under the SAME root, and publish a
    new commit generation. Source segments are physically removed, so
    older commit points can no longer be opened; they are pruned like
    Lucene's default KeepOnlyLastCommitDeletionPolicy. Tombstoned docs
    are purged, so the deleted/ table is dropped too.

    Crash safety: the merged tables, the removal of deleted/ and the
    commit pruning go through the one publish protocol
    (index/publish.py), so `publish.repair_index` — run by every writer
    on entry — rolls a crashed merge back (commit absent) or forward
    (commit present). Readers opened pre-merge must reopen
    (LocalSearcher.reopen_if_changed) — on an object store the
    Iceberg-snapshot analogue keeps old files live until old readers are
    released (flagged like IndexCatalog.commit).
    """
    from diagon_spark.index.publish import Publish
    from diagon_spark.streaming.incremental import committed_epochs

    cat = IndexCatalog.load(cat.root)  # the latest, under write.lock
    pub = Publish(spark, cat.root)
    merged, _ = _stage_merge(spark, cat, pub, num_segments)
    pub.remove("deleted")  # purged into the merged postings/docs
    pub.remove("lineage")  # it describes the segments the merge removed
    # stream-epoch bookkeeping must SURVIVE commit pruning: carry every
    # epoch published by the commits about to be deleted so streaming
    # replay idempotency (incremental.committed_epochs) keeps holding
    epochs = committed_epochs(cat.root)

    pub.commit(merged, {"merge_committed": True,
                        "merged_from_segments": cat.num_segments,
                        **({"merged_epochs": sorted(epochs)}
                           if epochs else {})},
               prune_commits=True)
    return merged
