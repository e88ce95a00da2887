"""Round-8 optimization: the encode-group exchange routes each
(segment, field, sub) group by a pre-solved salt through a plain hash
repartition instead of repartitionByRange (whose sampling job re-ran
the whole child plan). Correctness of the grouping is structural — the
salt is a function of the group key, so a group can never split across
partitions — and the BALANCE guarantee (one group per task, what range
partitioning provided) rests on two properties checked here:

1. the driver-side murmur3 copy equals Spark's `F.hash` on ints;
2. _partition_salts(n) yields one salt per partition (a bijection), so
   every group lands alone in its own task.

Plus an end-to-end check that builds with different encode-group
layouts (hence different salt routings) stay query-identical.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diagon_spark.index.builder import _murmur3_hash_int, _partition_salts

# tests of the distributed build plan: every build flushes on Spark
pytestmark = pytest.mark.usefixtures("spark_build")


def test_murmur_matches_spark_hash(spark):
    from pyspark.sql import functions as F
    vals = list(range(0, 200)) + [2**31 - 1, -1, -2**31, 12345678,
                                  -987654321]
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    rows = df.select("x", F.hash("x").alias("h")).collect()
    for r in rows:
        assert _murmur3_hash_int(int(r.x)) == int(r.h), r.x


@pytest.mark.parametrize("n", [1, 2, 7, 32, 448])
def test_salts_cover_all_partitions(n):
    salts = _partition_salts(n)
    assert len(salts) == n
    parts = {_murmur3_hash_int(s) % n for s in salts}
    assert parts == set(range(n))


def test_salt_routed_layouts_query_identical(spark, tmp_path, monkeypatch):
    import pandas as pd
    from diagon_spark import build_index, Searcher
    from diagon_spark.index import builder
    from diagon_spark.search.query import Boolean, Term

    n = 3000
    texts = [f"alpha beta w{i % 23} gamma t{i % 7} delta" for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(range(n)), "text": texts}))

    monkeypatch.setattr(builder, "ENCODE_GROUP_DOCS", 500)
    cat_a = build_index(spark, df, str(tmp_path / "a"), num_segments=4,
                        num_buckets=4, id_col="doc_id", content_col="text",
                        positions=False)
    monkeypatch.setattr(builder, "ENCODE_GROUP_DOCS", 100)
    cat_b = build_index(spark, df, str(tmp_path / "b"), num_segments=4,
                        num_buckets=4, id_col="doc_id", content_col="text",
                        positions=False)
    sa = Searcher(spark, cat_a)
    sb = Searcher(spark, cat_b)
    q = Boolean(should=[Term("alpha"), Term("w3"), Term("t2")])
    ra = [(r.doc_id, round(r.score, 6)) for r in sa.search(q, k=50).collect()]
    rb = [(r.doc_id, round(r.score, 6)) for r in sb.search(q, k=50).collect()]
    assert ra == rb
