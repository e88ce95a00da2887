"""tokenize_group_flat / factorize_tokens — the no-Python-objects group
tokenizer used by the segment encoder must be token-for-token identical
to `tokenize` (the per-string reference semantics, utf-8 encoded),
across ASCII, non-ASCII, apostrophe, and empty rows."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from diagon_spark.analysis.tokenizer import (factorize_tokens, tokenize,
                                             tokenize_group_flat)


def _regroup(texts: pd.Series):
    """Flat arrays -> per-row token lists (ordered by pos) for compare."""
    doc_idx, pos, toks, _ = tokenize_group_flat(texts)
    out = [[] for _ in range(len(texts))]
    order = np.lexsort((pos, doc_idx))
    for d, p, t in zip(doc_idx[order], pos[order], toks[order]):
        assert p == len(out[d])  # positions are dense ordinals
        out[d].append(bytes(t))
    return out


def _oracle(texts: pd.Series):
    return [[t.encode() for t in tokenize(s)] for s in texts]


def test_mixed_fixture_rows():
    texts = pd.Series([
        "int x = 0; return x",
        "Don't stop'   ''lead 'trail' '''",
        "",
        "   \n\t  ",
        "café résumé naïve",              # non-ASCII row
        "UPPER lower 123abc abc123 1000",
        "a'b''c ' d",
        "tab\tsep\nnewline",
        None,
        "mixed café then ascii again",    # non-ASCII row
        "x" * 300,                        # longer than the S width of others
    ])
    assert _regroup(texts) == _oracle(texts)


def test_all_ascii_flag():
    _, _, _, flag = tokenize_group_flat(pd.Series(["abc def", "ghi"]))
    assert flag is True
    _, _, _, flag = tokenize_group_flat(pd.Series(["abc", "café"]))
    assert flag is False


def test_empty_group():
    d, p, t, flag = tokenize_group_flat(pd.Series([], dtype=object))
    assert len(d) == len(p) == len(t) == 0 and flag is True


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x17F),
    max_size=120), min_size=0, max_size=12))
def test_property_equivalence(rows):
    texts = pd.Series(rows, dtype=object)
    assert _regroup(texts) == _oracle(texts)


def test_factorize_rank_order_and_roundtrip():
    toks = np.array([b"bb", b"a", b"ccc", b"a", b"bb", b"a"], dtype="S3")
    inv, vocab = factorize_tokens(toks)
    assert [bytes(v) for v in vocab] == [b"a", b"bb", b"ccc"]
    assert list(vocab[inv].astype("S3")) == list(toks)
    # rank ids are sorted-vocabulary ordinals
    assert inv.tolist() == [1, 0, 2, 0, 1, 0]


def test_factorize_wide_tokens():
    # width > 8 exercises the 'S'-dtype np.unique path
    toks = np.array([b"averylongtoken", b"short", b"averylongtoken",
                     b"zzzzzzzzzzzzz"], dtype="S14")
    inv, vocab = factorize_tokens(toks)
    assert [bytes(v) for v in vocab] == sorted(set(toks.tolist()))
    assert list(vocab[inv].astype("S14")) == list(toks)


def test_factorize_u64_order_matches_bytes_order():
    # 8-byte packing must preserve lexicographic order incl. prefixes
    toks = np.array([b"ab", b"abc", b"a", b"b", b"abcd", b"aa"], dtype="S8")
    _, vocab = factorize_tokens(toks)
    assert [bytes(v) for v in vocab] == sorted(set(toks.tolist()))


def test_sliced_factorize_equals_unsliced():
    from diagon_spark.analysis.tokenizer import tokenize_factorize_sliced
    rows = [f"int x{i} return if café_{i % 5} for" if i % 7 == 0 else
            f"while w{i % 13} const static void x{i}" for i in range(900)]
    texts = pd.Series(rows, dtype=object)
    d1, p1, t1, v1, a1 = tokenize_factorize_sliced(texts, slice_docs=10**9)
    d2, p2, t2, v2, a2 = tokenize_factorize_sliced(texts, slice_docs=128)
    assert a1 == a2
    w = max(v1.dtype.itemsize, v2.dtype.itemsize)
    assert list(v1.astype(f"S{w}")) == list(v2.astype(f"S{w}"))
    # same (doc, pos) -> term mapping regardless of slicing
    m1 = {(int(a), int(b)): int(c) for a, b, c in zip(d1, p1, t1)}
    m2 = {(int(a), int(b)): int(c) for a, b, c in zip(d2, p2, t2)}
    assert m1 == m2
