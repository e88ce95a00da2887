"""Deletes / updates — the live-docs + updateDocument analogue.

Reference semantics (index/IndexWriter.h:224-233, codecs/LiveDocsFormat.h):
deleteDocuments(term/key) tombstones matching docs in a bitmap; readers
mask them out; updateDocument = delete + add in one commit; stats keep
counting deleted docs until a merge rewrites the segment (Lucene
behavior, reproduced).

Here tombstones are a `deleted/` parquet table of (doc_id, segment_id)
under the index root, the only way a doc is masked. A delete resolves
its keys once, with Spark, into `_staging/deleted/` (never a driver
collect); the commit's publish (index/publish.py) renames the non-empty
parts in. The Spark Searcher cogroups the table with the postings scan
per segment and masks candidates before top-k; the LocalSearcher loads
the touched segments' tombstones with a pushed segment_id filter.
merge_segments purges tombstoned postings for good (Iceberg
equality-delete compaction analogue).

Each commit that publishes tombstone parts names them in its manifest
(`deleted_parts`), so a rollback removes exactly the tombstones the
commits after its target added.

Not covered yet (ROADMAP): an update's docs/postings parts are visible
to a reader that opens before its commit.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from diagon_spark.index.builder import IndexCatalog, _build_index_impl
from diagon_spark.index.lock import write_lock
from diagon_spark.index.publish import STAGING, Publish


def resolve_deletes(spark: SparkSession, cat: IndexCatalog,
                    deletes_df: DataFrame,
                    join_cols: list[str] | None = None) -> DataFrame:
    """Map delete keys (e.g. repo/path/commit rows) to the
    (doc_id, segment_id) of LIVE docs via a broadcast join against the
    docs table — already-tombstoned rows are anti-joined away, so a key
    deleted twice (or an updated doc's old version) is not counted
    again."""
    cols = join_cols or cat.key_cols
    if not cols:
        cols = ["doc_id"]
    docs = spark.read.parquet(cat.docs_path)
    hits = (docs.join(F.broadcast(deletes_df.select(*cols).distinct()),
                      cols, "inner")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("segment_id").cast("int").alias("segment_id")))
    dp = Path(cat.root, "deleted")
    if dp.exists():
        hits = hits.join(spark.read.parquet(str(dp)).select("doc_id"),
                         "doc_id", "left_anti")
    return hits


def _stage_tombstones(spark: SparkSession, cat: IndexCatalog,
                      deletes_df: DataFrame,
                      join_cols: list[str] | None = None
                      ) -> tuple[list[str], int]:
    """Run the resolution plan once: Spark writes the hits under
    `_staging/deleted/`. Returns the names of the non-empty parts — the
    caller stages them as `deleted/<part>` entries of the publish whose
    commit renames them in — and the number of hits, read from the part
    footers."""
    staged = Path(cat.root, STAGING, "deleted")
    resolve_deletes(spark, cat, deletes_df, join_cols) \
        .write.mode("overwrite").parquet(str(staged))
    rows = {p.name: pq.read_metadata(p).num_rows
            for p in staged.glob("*.parquet")}
    return sorted(p for p, n in rows.items() if n), sum(rows.values())


def delete_documents(spark: SparkSession, cat: IndexCatalog,
                     deletes_df: DataFrame,
                     join_cols: list[str] | None = None) -> int:
    """Tombstone matching docs; returns the number deleted. Atomic via a
    new commit generation (deleteDocuments analogue), which a delete
    that matches nothing still publishes (`deleted_added: 0`). Holds
    write.lock — the tombstone append + commit must not interleave with
    another writer's commit-generation allocation. The commit extends
    the latest one, whatever generation `cat` was opened at."""
    with write_lock(cat.root):
        parts, n = _stage_tombstones(spark, cat, deletes_df, join_cols)
        pub = Publish(spark, cat.root)
        pub.stage("deleted", parts=parts)
        pub.commit(IndexCatalog.load(cat.root),
                   {"deleted_added": n, "deleted_parts": parts})
        return n


def deleted_docs_df(spark: SparkSession, cat: IndexCatalog) -> DataFrame | None:
    """Tombstones as a DataFrame (doc_id, segment_id), or None if the
    index has none. Stays distributed — the merge cogroups it with the
    postings scan instead of collecting ids to the driver."""
    p = Path(cat.root, "deleted")
    if not p.exists():
        return None
    df = spark.read.parquet(str(p))
    return df.select(F.col("doc_id").cast("long").alias("doc_id"),
                     F.col("segment_id").cast("int").alias("segment_id")) \
             .distinct()


def update_documents(spark: SparkSession, cat: IndexCatalog,
                     new_docs: DataFrame, *,
                     content_col: str = "content",
                     fields: list[str] | None = None) -> IndexCatalog:
    """updateDocument analogue: tombstone the live docs with the same
    keys and index the new versions as a fresh segment epoch, in ONE
    commit generation (delete + add, IndexWriter.h:233) under one hold
    of write.lock. The old versions resolve before the new docs are
    written, since both share the key. Fields default to the index's own
    field set so a multi-field index updates consistently."""
    with write_lock(cat.root):
        parts, n = _stage_tombstones(spark, cat,
                                     new_docs.select(*cat.key_cols))
        # field names equal the column names they were built from, so the
        # catalog's own field list is the correct default
        field_cols = fields if fields is not None else cat.fields
        new, pub, meta = _build_index_impl(
            spark, new_docs, cat.root, num_segments=1,
            num_buckets=cat.num_buckets, key_cols=cat.key_cols,
            content_col=content_col, fields=field_cols,
            positions=cat.has_positions, append=True)
        pub.stage("deleted", parts=parts)
        pub.commit(new, {**meta, "deleted_added": n, "deleted_parts": parts})
        return new
