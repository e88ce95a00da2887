"""Nested boolean query trees + multi-field indexing vs the pure-Python
golden oracle (the Lucene104QueryTest composition/multi-field assertions,
tests/integration/Lucene104QueryTest.cpp:219-263; BooleanQuery.cpp:557
rewrite semantics). Float32 path — scores must match the oracle
bit-for-bit (same clause-order accumulation)."""

import re

import numpy as np
import pytest
from conftest import tombstoned_copy
from pyspark.sql import functions as F

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.oracle import OracleIndex, eval_query_oracle, topk_oracle
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import (Boolean, MatchAll, Phrase, Range,
                                       Term)

N = 240
K = 30


@pytest.fixture(scope="module")
def mf(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mfidx"))
    df = spark.createDataFrame(generate_pandas(0, N))
    cat = build_index(spark, df, out, num_segments=3, num_buckets=4,
                      fields=["content", "lang"], positions=True)
    s = Searcher(spark, cat)
    rows = (spark.read.parquet(cat.docs_path)
            .select("doc_id", "lang", "content", "doc_len").collect())
    ctx = {
        "fields": {"content": OracleIndex({int(r.doc_id): r.content
                                           for r in rows}),
                   "lang": OracleIndex({int(r.doc_id): r.lang
                                        for r in rows})},
        "doc_values": {"doc_len": {int(r.doc_id): int(r.doc_len)
                                   for r in rows}},
    }
    return s, cat, ctx


def _expected(q, ctx, k=K):
    scores = eval_query_oracle(q, ctx["fields"], "content",
                               ctx["doc_values"])
    return topk_oracle(scores, k)


def _check(s, q, ctx, k=K):
    exp = _expected(q, ctx, k)
    got = [(int(r.doc_id), float(r.score))
           for r in s.search(q, k=k).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp], (got[:5], exp[:5])
    np.testing.assert_allclose([x for _, x in got], [x for _, x in exp],
                               rtol=1e-6)
    return exp


def test_multifield_term(mf):
    s, cat, ctx = mf
    assert "lang" in cat.fields and cat.default_field == "content"
    exp = _check(s, Term("py", field="lang"), ctx)
    assert len(exp) > 0
    # per-field avgLen: lang field is single-token docs
    assert ctx["fields"]["lang"].sum_total_term_freq == N
    assert s.field_stats["lang"] == N


def test_multifield_bool(mf):
    s, _, ctx = mf
    q = Boolean(must=[Term("int")], filter=[Term("py", field="lang")])
    exp = _check(s, q, ctx)
    assert 0 < len(exp)
    # filter is non-scoring: scores equal the pure content-must scores
    only = {d: sc for d, sc in _expected(Term("int"), ctx, k=N + 1)}
    for d, sc in exp:
        assert sc == pytest.approx(only[d], rel=1e-6)


def test_nested_bool(mf):
    s, _, ctx = mf
    q = Boolean(must=[Boolean(should=[Term("int"), Term("return")])],
                should=[Term("if")], must_not=[Term("class")])
    exp = _check(s, q, ctx)
    assert len(exp) > 0


def test_bool_of_phrase(mf):
    s, _, ctx = mf
    # find a bigram with df >= 2 from the raw corpus
    from collections import Counter
    from diagon_spark.analysis.tokenizer import tokenize
    pdf = generate_pandas(0, N)
    big = Counter()
    for txt in pdf["content"]:
        toks = tokenize(txt)
        big.update({(a, b) for a, b in zip(toks, toks[1:])})
    (w1, w2), df_ = big.most_common(1)[0]
    assert df_ >= 2
    q = Boolean(must=[Phrase((w1, w2))], should=[Term("int")])
    exp = _check(s, q, ctx)
    assert len(exp) > 0


def test_range_clause_in_bool(mf):
    s, _, ctx = mf
    q = Boolean(must=[Term("int")], filter=[Range("doc_len", 20, 80)])
    exp = _check(s, q, ctx)
    lens = ctx["doc_values"]["doc_len"]
    assert all(20 <= lens[d] <= 80 for d, _ in exp)


def test_matchall_clause_in_bool(mf):
    s, _, ctx = mf
    q = Boolean(must=[MatchAll()], must_not=[Term("class")])
    exp = _check(s, q, ctx, k=N + 1)
    n_class = ctx["fields"]["content"].count_term("class")
    assert len(exp) == N - n_class
    assert all(sc == 1.0 for _, sc in exp)


def test_msm_with_must(mf):
    s, _, ctx = mf
    q = Boolean(must=[Term("int")],
                should=[Term("if"), Term("for"), Term("while")],
                min_should_match=2)
    _check(s, q, ctx)


def test_count_nested_no_sort(mf):
    s, _, ctx = mf
    q = Boolean(must=[Boolean(should=[Term("int"), Term("return")])],
                must_not=[Term("class")])
    n = s.count(q)
    exp = eval_query_oracle(q, ctx["fields"], "content", ctx["doc_values"])
    assert n == len(exp)
    # count-only path: no top-k sort in the plan
    spec = s.plan(q, force_tree=True)
    counts = s._run_spec(spec, "segment_id int, n long", k=0, f64=False,
                         after=None, count_only=True)
    plan = counts._jdf.queryExecution().executedPlan().toString()
    # no top-k materialization: no global ordered-limit, no score sort
    # (the remaining Sort [segment_id] is the groupBy's group-local sort)
    assert "TakeOrderedAndProject" not in plan
    assert not re.search(r"Sort \[score", plan)


def test_search_with_total(mf):
    s, _, ctx = mf
    q = Boolean(must=[Term("int")], should=[Term("if")])
    hits, total, rel = s.search_with_total(q, k=10)
    exp = eval_query_oracle(q, ctx["fields"], "content", ctx["doc_values"])
    assert rel == "eq"
    assert total == len(exp)
    assert len(hits) == 10
    assert [d for d, _ in hits] == [d for d, _ in topk_oracle(exp, 10)]


def test_local_searcher_nested_parity(mf):
    s, cat, ctx = mf
    q = Boolean(must=[Boolean(should=[Term("int"), Term("return")])],
                should=[Term("if"), Term("py", field="lang")])
    local = LocalSearcher(cat)
    got_local = local.search(q, k=K)
    got_spark = [(int(r.doc_id), float(r.score))
                 for r in s.search(q, k=K).collect()]
    assert got_local == got_spark


def test_deletes_masked_in_nested_no_isin(mf, spark, on_spark, tmp_path):
    s, cat, ctx = mf
    q = Boolean(must=[Term("int")], should=[Term("if")])
    top = [int(r.doc_id) for r in s.search(q, k=3).collect()]
    s2 = Searcher(spark, tombstoned_copy(spark, cat, tmp_path / "del",
                                         top[:2]))
    got = [int(r.doc_id) for r in s2.search(q, k=K).collect()]
    assert not (set(top[:2]) & set(got))
    assert got[0] == top[2]
    # scale-safe: the plan carries NO doc_id IN (...) literal — deletes
    # arrive via the cogrouped tombstone table
    plan = (s2.search(q, k=K)._jdf.queryExecution()
            .executedPlan().toString())
    assert not re.search(r"doc_id#\d+L? IN \(", plan), plan[:500]
    assert "CoGroup" in plan or "FlatMapCoGroupsInPandas" in plan
