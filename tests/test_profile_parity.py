"""profile() counters agree across substrates: the driver and the Spark
scoring UDF run the reader core's one per-segment loop, so both score
exactly the segments that hold the query's postings — a segment that
holds only tombstones is not scored (and not reported) on either."""

import pandas as pd
import pytest
from conftest import pin_substrate

from diagon_spark import Searcher, build_index
from diagon_spark.index.deletes import delete_documents
from diagon_spark.search.query import Boolean, Phrase, Term

KEYS = ("per_segment_matches", "blocks_total", "blocks_decoded",
        "total_relation")


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory):
    # doc_id % 4 is the segment: "alpha beta" only in segment 0
    docs = pd.DataFrame({
        "doc_id": list(range(40)),
        "content": [("alpha beta filler" if i % 4 == 0 else "filler gamma")
                    + f" w{i}" for i in range(40)]})
    cat = build_index(spark, spark.createDataFrame(docs),
                      str(tmp_path_factory.mktemp("parity")), id_col="doc_id",
                      num_segments=4, num_buckets=4, positions=True)
    # one tombstone, in segment 2, which no alpha/beta posting touches
    gone = spark.createDataFrame([(2,)], "doc_id long")
    assert delete_documents(spark, cat, gone) == 1
    return cat


@pytest.mark.parametrize("q", [
    Term("alpha"),
    Boolean(should=[Term("alpha"), Term("beta")]),
    Boolean(must=[Term("alpha"), Term("beta")]),
    Phrase(("alpha", "beta")),
], ids=["term", "or", "and", "phrase"])
def test_profile_counters_equal_on_both_substrates(spark, cat, monkeypatch, q):
    s = Searcher(spark, cat)
    prof = {}
    for sub in ("spark", "driver"):
        with monkeypatch.context() as m:
            pin_substrate(m, sub)
            p = s.profile(q, k=5)
        assert p["substrate"] == sub
        prof[sub] = {key: p[key] for key in KEYS}
    assert prof["spark"] == prof["driver"]
    assert prof["driver"]["per_segment_matches"] == {0: 10}
