"""Checkpoint/resume at segment granularity + heavy-hitter skew handling
(north_rule). Analogue of IndexWriterRollbackTest / DeletionIntegrationTest.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from diagon_spark import build_index, Searcher
from diagon_spark.corpus import corpus_df
from diagon_spark.index.builder import CHUNK_DOCS, IndexCatalog
from diagon_spark.search.query import Term

# tests of the distributed build plan: every build flushes on Spark
pytestmark = pytest.mark.usefixtures("spark_build")

N = 400


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_df(spark, N, partitions=4)


def _postings_fingerprint(spark, cat):
    rows = (spark.read.parquet(cat.postings_path)
            .select("term", "segment_id", "chunk", "df",
                    F.md5(F.col("doc_blocks")).alias("h"))
            .collect())
    return sorted((r.term, r.segment_id, r.chunk, r.df, r.h) for r in rows)


def test_kill_mid_build_then_resume(spark, corpus, tmp_path):
    """Build batch 1 of 2, 'die', resume -> index identical to clean run,
    and completed segments are skipped (lineage check)."""
    clean_dir = str(tmp_path / "clean")
    cat_clean = build_index(spark, corpus, clean_dir, num_segments=4,
                            num_buckets=8, segment_batches=1, positions=False)

    part_dir = str(tmp_path / "partial")
    # wave 1 only, then stop (simulated kill between batches)
    build_index(spark, corpus, part_dir, num_segments=4, num_buckets=8,
                segment_batches=2, max_batches=1, positions=False)
    lin1 = spark.read.parquet(f"{part_dir}/lineage")
    done_after_kill = {r.segment_id for r in lin1.collect()}
    assert 0 < len(done_after_kill) < 4, "kill should leave partial lineage"

    # resume: completes remaining segments only
    cat_resumed = build_index(spark, corpus, part_dir, num_segments=4,
                              num_buckets=8, segment_batches=2, resume=True,
                              positions=False)
    lin2 = spark.read.parquet(f"{part_dir}/lineage")
    assert {r.segment_id for r in lin2.collect()} == {0, 1, 2, 3}
    # segments from wave 1 were not re-processed
    redone = (lin2.groupBy("segment_id").count()
              .filter(F.col("count") > 1).collect())
    assert redone == [], "completed segments must not be re-built on resume"

    assert _postings_fingerprint(spark, cat_resumed) == \
        _postings_fingerprint(spark, cat_clean)


def test_resume_noop_when_complete(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, num_segments=2, num_buckets=4,
                positions=False)
    cat2 = build_index(spark, corpus, out, num_segments=2, num_buckets=4,
                       positions=False, resume=True)
    lin = spark.read.parquet(f"{out}/lineage")
    assert lin.count() == 2  # no new lineage rows


def test_heavy_hitter_chunking(spark, tmp_path):
    """A term occurring in (almost) every doc is split across rows of
    <= CHUNK_DOCS docs (the salting path) and still queries correctly."""
    import diagon_spark.index.builder as B
    orig = B.CHUNK_DOCS
    B.CHUNK_DOCS = 64  # force chunking at test scale
    try:
        df = corpus_df(spark, 300, partitions=2)
        cat = build_index(spark, df, str(tmp_path / "skew"), num_segments=1,
                          num_buckets=4, positions=False)
    finally:
        B.CHUNK_DOCS = orig
    p = spark.read.parquet(cat.postings_path)
    hot = p.filter(F.col("term") == "int")
    chunks = hot.select("segment_id", "chunk", "df").collect()
    assert len(chunks) > 1, "heavy hitter must be salted into several rows"
    assert max(r.df for r in chunks) <= 64
    # query across chunks still returns the full df
    s = Searcher(spark, cat)
    total_df = sum(r.df for r in chunks)
    assert s.count(Term("int")) == total_df
    hits = s.search(Term("int"), k=total_df + 10).collect()
    assert len(hits) == total_df
    docs = [r.doc_id for r in hits]
    assert len(set(docs)) == total_df


def test_commit_points_are_atomic(spark, corpus, tmp_path):
    out = str(tmp_path / "c")
    build_index(spark, corpus, out, num_segments=2, num_buckets=4,
                positions=False)
    cat = IndexCatalog.load(out)
    assert cat.num_segments == 2
    # second build adds a new commit generation; load returns the latest
    build_index(spark, corpus, out, num_segments=2, num_buckets=4,
                positions=False, resume=True)
    import pathlib
    gens = sorted(pathlib.Path(out, "_commits").glob("commit_*.json"))
    assert len(gens) == 2
