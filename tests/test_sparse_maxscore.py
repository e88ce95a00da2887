"""MaxScore-pruned sparse top-k must be bit-identical to the exhaustive
scatter-add (sparse/SindiScorer.h semantics with QBlock-style pruning);
quantized weights must be sound upper bounds; filter cache reuse."""

import pytest
from pyspark.sql import functions as F

from diagon_spark.corpus import corpus_df
from diagon_spark.pipelines import sparse


@pytest.fixture(scope="module")
def postings(spark):
    docs = corpus_df(spark, 300, partitions=4) \
        .withColumn("doc_id", F.xxhash64("path"))
    return sparse.build_value_postings(docs, text_col="content").cache()


@pytest.mark.parametrize("query", [
    {"int": 2.0, "return": 1.0},
    {"int": 0.1, "var_21": 5.0, "return": 0.2, "if": 0.1, "for": 0.05},
    {"zzz_absent": 1.0},
    {"int": 1.0},
])
def test_maxscore_equals_exhaustive(spark, postings, query):
    a = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk(postings, query, k=15).collect()]
    b = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk_maxscore(postings, query, k=15).collect()]
    assert a == b


def test_maxscore_prunes_nonessential(spark, postings):
    """With a rare high-weight term and heavy low-impact terms, the
    non-essential set must be non-empty (pruning engaged), results exact."""
    meta = sparse.term_meta(postings)
    rare = meta.orderBy(F.asc("df"), F.asc("term")).first().term
    query = {rare: 50.0, "int": 0.001, "return": 0.001}
    rows = {r.term: float(r.max_weight) for r in
            meta.filter(F.col("term").isin(list(query))).collect()}
    ubs = sorted((query[t] * w for t, w in rows.items()), reverse=True)
    assert ubs[0] > 100 * (ubs[1] + ubs[2])  # pruning precondition
    a = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk(postings, query, k=10).collect()]
    b = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk_maxscore(postings, query, k=10).collect()]
    assert a == b


def test_quantized_weights_are_upper_bounds(spark, postings):
    q = sparse.quantize_weights(postings)
    bad = q.filter(F.col("qweight") * F.col("scale")
                   < F.col("weight") - 1e-12).count()
    assert bad == 0
    # and tight: within one quantum
    loose = q.filter(F.col("qweight") * F.col("scale")
                     > F.col("weight") + F.col("scale") + 1e-12).count()
    assert loose == 0


def test_qblock_skips_where_term_granularity_cannot(spark):
    """Heavy-tailed weights: every query term carries ONE outlier weight,
    so every GLOBAL term ub >= θ and term-granularity MaxScore keeps all
    terms essential (no skip). Window-granular QBlock maxima prune every
    window except the two outlier windows — and results stay bit-exact
    (round-2 VERDICT item 5)."""
    rows = []
    for d in range(10_000):
        rows.append(("a", d, 100.0 if d == 0 else 0.1))
        rows.append(("b", d, 100.0 if d == 5_000 else 0.1))
    postings = spark.createDataFrame(rows,
                                     "term string, doc_id long, weight double")
    query = {"a": 1.0, "b": 1.0}
    window = 1_000

    # term-granularity precondition: probe θ = 100.0 (top-1 of either
    # term), both global ubs = 100.0 >= θ -> no term is non-essential
    meta = {r.term: float(r.max_weight) for r in
            sparse.term_meta(postings).collect()}
    theta = 100.0
    assert all(query[t] * meta[t] >= theta for t in query)

    live = sparse.qblock_live_windows(postings, query, theta, window)
    assert live == {0, 5}  # 8 of 10 windows provably skipped

    a = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk(postings, query, k=5).collect()]
    b = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk_qblock(postings, query, k=5,
                                   window=window).collect()]
    assert a == b


@pytest.mark.parametrize("query", [
    {"int": 2.0, "return": 1.0},
    {"int": 0.1, "var_21": 5.0, "return": 0.2, "if": 0.1, "for": 0.05},
    {"zzz_absent": 1.0},
])
def test_qblock_equals_exhaustive_on_corpus(spark, postings, query):
    a = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk(postings, query, k=15).collect()]
    b = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk_qblock(postings, query, k=15,
                                   window=64).collect()]
    assert a == b


def test_qblock_with_quantized_window_maxima(spark, postings):
    """Window maxima from quantized weights (dequantized sound upper
    bounds, BlockMaxQuantizedIndex semantics) must still yield exact
    results — quantization loosens bounds, never breaks them."""
    query = {"int": 2.0, "return": 1.0, "if": 0.5}
    qpost = sparse.quantize_weights(postings)
    wmeta = sparse.window_meta(qpost, window=64)
    a = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk(postings, query, k=15).collect()]
    b = [(int(r.doc_id), float(r.score)) for r in
         sparse.sparse_topk_qblock(postings, query, k=15, window=64,
                                   wmeta=wmeta).collect()]
    assert a == b


def test_filter_cache_reuse(spark, tmp_path):
    from diagon_spark import Searcher, build_index
    from diagon_spark.search.query import Boolean, Range, Term
    out = str(tmp_path / "idx")
    cat = build_index(spark, corpus_df(spark, 120, partitions=2), out,
                      num_segments=2, num_buckets=4, positions=False)
    s = Searcher(spark, cat)
    q = Boolean(must=[Term("int")], filter=[Range("doc_len", 10, 200)])
    r1 = [(int(r.doc_id), float(r.score))
          for r in s.search(q, k=10).collect()]
    assert len(s.filter_cache._map) == 1
    r2 = [(int(r.doc_id), float(r.score))
          for r in s.search(q, k=10).collect()]
    assert r1 == r2
    assert len(s.filter_cache._map) == 1  # hit, not a second entry


def test_value_postings_idf_counts_distinct_docs(spark):
    """N in the idf is the number of distinct doc_ids (as df and tf count
    docs, not rows), and building the postings starts no Spark job."""
    import math
    import uuid
    rows = spark.createDataFrame(
        [(1, "alpha beta"), (1, "gamma"), (2, "alpha")],
        "doc_id long, text string")
    sc = spark.sparkContext
    group = f"vp-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        postings = sparse.build_value_postings(rows)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    got = {(r.term, r.doc_id): r.weight for r in postings.collect()}
    assert got[("beta", 1)] == pytest.approx(math.log(1 + 1.5 / 1.5))
    assert got[("alpha", 1)] == pytest.approx(math.log(1 + 0.5 / 2.5))
    assert got[("alpha", 2)] == pytest.approx(math.log(1 + 0.5 / 2.5))
