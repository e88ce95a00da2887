"""Serving-tier tombstone bound (VERDICT r03 ask #7): LocalSearcher must
open and serve point queries WITHOUT materializing the index's full
tombstone set — tombstones load lazily, per touched segment, through a
pushed segment_id filter. A ~1M-tombstone index stays flat-memory for a
query that touches only a small segment's postings."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import tombstoned_copy
from pyspark.sql import functions as F

from diagon_spark import Searcher, build_index
from diagon_spark.index.deletes import delete_documents
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import MatchAll, Term

N_FAKE = 1_000_000


@pytest.fixture(scope="module")
def big_tomb(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tomb") / "idx")
    rows = [(i, f"common w{i % 11} text filler"
             + (" zzunique" if i == 3 else "")) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    cat = build_index(spark, df, out, num_segments=2, num_buckets=4,
                      id_col="doc_id", positions=False)
    docs = spark.read.parquet(cat.docs_path)
    uniq_seg = int(docs.filter(F.col("content").contains("zzunique"))
                   .select("segment_id").collect()[0].segment_id)
    other_seg = 1 - uniq_seg
    # ~1M tombstones, ALL in the other segment (ids far above real docs —
    # masking semantics just never match them)
    import os
    os.makedirs(f"{out}/deleted", exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(2_000_000 + np.arange(N_FAKE), pa.int64()),
        "segment_id": pa.array(np.full(N_FAKE, other_seg, np.int32)),
    }), f"{out}/deleted/fake.parquet")
    return cat, uniq_seg, other_seg


def test_open_loads_no_tombstones(big_tomb):
    cat, _, _ = big_tomb
    ls = LocalSearcher(cat)
    assert ls._tomb_by_seg == {}
    assert ls._tomb_all is None


def test_point_query_touches_only_its_segments_tombstones(big_tomb):
    cat, uniq_seg, other_seg = big_tomb
    ls = LocalSearcher(cat)
    hits = ls.search(Term("zzunique"), k=10)
    assert [d for d, _ in hits] == [3]
    # only the touched segment's tombstones were fetched — and that
    # segment has none; the 1M-row segment was never read
    assert set(ls._tomb_by_seg) == {uniq_seg}
    assert len(ls._tomb_by_seg[uniq_seg]) == 0
    assert ls._tomb_all is None


def test_flat_memory_open_and_query(big_tomb):
    import tracemalloc
    cat, _, _ = big_tomb
    tracemalloc.start()
    ls = LocalSearcher(cat)
    ls.search(Term("zzunique"), k=10)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # 1M int64 tombstone ids alone would be 8 MB; open+query stays well
    # under that because they are never materialized
    assert peak < 6 * 1024 * 1024, f"peak {peak / 1e6:.1f} MB"


def test_big_segment_query_still_correct(big_tomb):
    cat, uniq_seg, other_seg = big_tomb
    ls = LocalSearcher(cat)
    # 'common' is in every doc -> touches both segments, loads the 1M
    # array for other_seg once, results unaffected (fake ids never match)
    hits = ls.search(Term("common"), k=300)
    assert len(hits) == 300
    assert set(ls._tomb_by_seg) == {0, 1}
    assert len(ls._tomb_by_seg[other_seg]) == N_FAKE


def test_real_deletes_via_lazy_path(spark, tmp_path):
    from diagon_spark.corpus import corpus_df
    out = str(tmp_path / "idx")
    df = corpus_df(spark, 150, partitions=2)
    cat = build_index(spark, df, out, num_segments=2, num_buckets=4,
                      positions=False)
    s = Searcher(spark, cat)
    victims = [r.doc_id for r in s.search(Term("int"), k=2).collect()]
    keys = (spark.read.parquet(cat.docs_path)
            .filter(F.col("doc_id").isin([int(v) for v in victims]))
            .select("repo", "path", "commit"))
    assert delete_documents(spark, cat, keys) == 2
    ls = LocalSearcher(cat)
    hits = [d for d, _ in ls.search(Term("int"), k=20)]
    assert not set(int(v) for v in victims) & set(hits)
    assert ls.count(MatchAll()) == 148  # global path materializes lazily
    assert ls._tomb_all is not None
    # a later delete's tombstones compose with the earlier ones
    ls2 = LocalSearcher(tombstoned_copy(spark, cat, tmp_path / "del",
                                        hits[:1]))
    hits2 = [d for d, _ in ls2.search(Term("int"), k=20)]
    assert hits[0] not in hits2
    assert not set(int(v) for v in victims) & set(hits2)
