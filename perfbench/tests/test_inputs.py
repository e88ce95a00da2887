"""Equal seeds give byte-identical inputs and query streams."""

import filecmp
import os

from perfbench import inputs


def _make(cache, seed):
    corpus = inputs.code_corpus(cache, seed, 60)
    stream = inputs.query_stream(cache, seed, corpus, per_class=1,
                                 rounds=3)
    inputs.expected_topk(cache, corpus, stream, k=10)
    inputs.dedup_corpus(cache, seed, 120)
    return corpus, stream


def test_same_seed_same_bytes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _make(a, 7)
    _make(b, 7)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 4
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_other_inputs(tmp_path):
    c7, s7 = _make(str(tmp_path / "a"), 7)
    c8, s8 = _make(str(tmp_path / "b"), 8)
    assert not set(c7.content) & set(c8.content)
    assert [list(t) for t in s7.terms] != [list(t) for t in s8.terms]


def test_stream_rounds_cover_every_class_and_shape(tmp_path):
    corpus, stream = _make(str(tmp_path), 3)
    pool = inputs.pool_of(stream)
    classes = {(c, s) for c in inputs.DF_CLASSES for s in inputs.SHAPES}
    assert {(c, s) for c, s, _t in pool.values()} == classes
    assert len(stream) == 3 * len(pool)
    for r in range(3):  # every round is one permutation of the pool
        assert sorted(stream.qid[r * 15:(r + 1) * 15]) == list(range(15))
    for _c, shape, terms in pool.values():
        assert len(terms) == {"term": 1, "and2": 2, "or5": 5, "or10": 10,
                              "phrase": 2}[shape]


def test_dedup_corpus_plants_exact_copies(tmp_path):
    pdf = inputs.dedup_corpus(str(tmp_path), 5, 200)
    props = inputs.dedup_properties(pdf)
    assert props["docs"] == 200 and props["largest_cluster"] == 10
    assert props["exact_dup_pairs"] > 0
    for a, b in inputs.exact_dup_pairs(pdf):
        assert (pdf.content[pdf.doc_id == a].iloc[0]
                == pdf.content[pdf.doc_id == b].iloc[0])


def test_ingest_plan_is_seeded_and_disjoint():
    live = list(range(100))
    p1 = inputs.ingest_cycle(4, live, 100, 10, 5, 5)
    assert p1 == inputs.ingest_cycle(4, live, 100, 10, 5, 5)
    assert p1 != inputs.ingest_cycle(5, live, 100, 10, 5, 5)
    assert not set(p1["update"]) & set(p1["delete"])
    assert p1["append"] == list(range(100, 110))
    assert inputs.new_texts(4, [1, 2], 1) == inputs.new_texts(4, [1, 2], 1)
