"""Deletes / updates — the live-docs + updateDocument analogue.

Reference semantics (index/IndexWriter.h:224-233, codecs/LiveDocsFormat.h):
deleteDocuments(term/key) tombstones matching docs in a bitmap; readers
mask them out; updateDocument = delete + add; stats keep counting deleted
docs until a merge rewrites the segment (Lucene behavior, reproduced).

Here tombstones are a `deleted/` parquet table of (doc_id, segment_id)
under the index root, published with a new commit generation. The Spark
Searcher masks them SCALE-SAFELY: the tombstone table is cogrouped with
the postings scan per segment (one extra tiny shuffle input — never a
driver collect, never an `isin` literal in the plan, and top-k is not
inflated), and match candidates are masked inside the scoring UDF before
top-k selection. The LocalSearcher serving path loads the tombstones of
the segments a query touches, lazily, with a pushed segment_id filter.
merge_segments purges tombstoned postings for good (compaction — Iceberg
equality-delete compaction analogue).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from diagon_spark.index.builder import IndexCatalog, build_index


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


def delete_documents(spark: SparkSession, cat: IndexCatalog,
                     deletes_df: DataFrame,
                     join_cols: list[str] | None = None) -> int:
    """Tombstone matching docs; returns the number deleted. Atomic via a
    new commit generation (deleteDocuments analogue). Holds write.lock —
    the tombstone append + commit must not interleave with another
    writer's commit-generation allocation."""
    from diagon_spark.index.lock import write_lock
    with write_lock(cat.root):
        hits = resolve_deletes(spark, cat, deletes_df, join_cols)
        n = hits.count()
        if n:
            hits.write.mode("append").parquet(f"{cat.root}/deleted")
        cat.commit({"deleted_added": n})
        return n


def deleted_docs_df(spark: SparkSession, cat: IndexCatalog) -> DataFrame | None:
    """Tombstones as a DataFrame (doc_id, segment_id), or None if the
    index has none. Stays distributed — the Searcher cogroups it with the
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
    """updateDocument analogue: delete existing docs with the same keys,
    then index the new versions as a fresh segment epoch (delete + add,
    IndexWriter.h:233). Fields default to the index's own field set so a
    multi-field index updates consistently."""
    delete_documents(spark, cat, new_docs.select(*cat.key_cols))
    # field names equal the column names they were built from, so the
    # catalog's own field list is the correct default
    field_cols = fields if fields is not None else cat.fields
    return build_index(
        spark, new_docs, cat.root, num_segments=1,
        num_buckets=cat.num_buckets, key_cols=cat.key_cols,
        content_col=content_col, fields=field_cols,
        positions=cat.has_positions,
        append=True, segment_base=cat.num_segments)
