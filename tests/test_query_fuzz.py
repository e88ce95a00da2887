"""Randomized nested-query fuzzing: arbitrary Boolean trees (terms,
phrases, ranges, match-all, nesting, boosts, msm) must match the
pure-Python tree oracle bit-for-bit in float32 — the property-based
analogue of Lucene104QueryTest's composition matrix."""

import random

import numpy as np
import pytest
from conftest import both_substrates

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.oracle import OracleIndex, eval_query_oracle, topk_oracle
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import (Boolean, MatchAll, Phrase, Range,
                                       Term)

N = 200
TERMS = ["int", "return", "if", "for", "while", "const", "static", "void",
         "class", "def", "var_0", "fn_1", "zzz_absent"]
LANGS = ["py", "c", "rs", "zz_absent"]


@pytest.fixture(scope="module")
def fz(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzzidx"))
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


def _rand_leaf(rng, depth):
    roll = rng.random()
    if roll < 0.55:
        return Term(rng.choice(TERMS),
                    boost=rng.choice([1.0, 1.0, 2.0, 0.5]))
    if roll < 0.7:
        return Term(rng.choice(LANGS), field="lang")
    if roll < 0.8:
        t1 = rng.choice(TERMS[:10])
        t2 = rng.choice(TERMS[:10])
        # random slop + order mode (t1 may equal t2, fuzzing the
        # repeated-term distinct-position path too)
        slop = rng.choice([0, 0, 0, 1, 2, 3])
        ordered = slop == 0 or rng.random() < 0.5
        return Phrase((t1, t2), slop=slop, ordered=ordered)
    if roll < 0.9:
        lo = rng.choice([None, 10, 30])
        hi = rng.choice([None, 60, 120])
        if lo is None and hi is None:
            hi = 60
        return Range("doc_len", lo, hi)
    return MatchAll()


def _rand_query(rng, depth=0):
    if depth >= 2 or rng.random() < 0.35:
        return _rand_leaf(rng, depth)
    n_must = rng.randint(0, 2)
    n_should = rng.randint(0, 3)
    n_not = rng.randint(0, 1)
    n_filt = rng.randint(0, 1)
    if n_must + n_should + n_filt == 0:
        n_should = 1
    msm = rng.choice([0, 0, 0, 1, 2]) if n_should >= 2 else 0
    return Boolean(
        must=[_rand_query(rng, depth + 1) for _ in range(n_must)],
        should=[_rand_query(rng, depth + 1) for _ in range(n_should)],
        must_not=[_rand_leaf(rng, depth + 1) for _ in range(n_not)],
        filter=[_rand_query(rng, depth + 1) for _ in range(n_filt)],
        min_should_match=msm)


@pytest.mark.parametrize("seed,substrate", both_substrates(range(48)),
                         indirect=["substrate"])
def test_random_tree_matches_oracle(fz, seed, substrate):
    s, cat, ctx = fz
    rng = random.Random(seed)
    q = _rand_query(rng)
    exp_scores = eval_query_oracle(q, ctx["fields"], "content",
                                   ctx["doc_values"])
    exp = topk_oracle(exp_scores, 25)
    got = [(int(r.doc_id), float(r.score))
           for r in s.search(q, k=25).collect()]
    assert [d for d, _ in got] == [d for d, _ in exp], (q, got[:5], exp[:5])
    np.testing.assert_allclose([x for _, x in got], [x for _, x in exp],
                               rtol=1e-6, err_msg=str(q))
    # count path agrees with the oracle's full match set
    assert s.count(q) == len(exp_scores), q


@pytest.mark.parametrize("seed,substrate", both_substrates(range(48, 64)),
                         indirect=["substrate"])
def test_random_tree_local_parity(fz, seed, substrate):
    """LocalSearcher serves the same nested trees identically — INCLUDING
    Range/MatchAll clauses, which materialize from a pyarrow doc-values
    scan of the docs table (the serving-path parity the reference gets
    from one IndexSearcher serving every query type)."""
    s, cat, ctx = fz
    rng = random.Random(seed)
    q = _rand_query(rng)
    local = LocalSearcher(cat)
    got_local = local.search(q, k=25)
    got_spark = [(int(r.doc_id), float(r.score))
                 for r in s.search(q, k=25).collect()]
    assert got_local == got_spark, q
    # count-only path parity (no top-k materialization on either side)
    assert local.count(q) == s.count(q), q
