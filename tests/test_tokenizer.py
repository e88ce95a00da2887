"""Tokenizer behavior vs the reference ASCII fast path
(util/StandardTokenizer.h:100-150)."""

from diagon_spark.analysis.tokenizer import tokenize


def test_ascii_basic():
    assert tokenize("int main() { return 0; }") == ["int", "main", "return", "0"]


def test_lowercase():
    assert tokenize("Foo BAR baz") == ["foo", "bar", "baz"]


def test_apostrophe_inside_token():
    # token continues over apostrophes but cannot start with one
    assert tokenize("don't 'quoted'") == ["don't", "quoted'"]


def test_numbers_kept():
    assert tokenize("x = 42 + 0xFF") == ["x", "42", "0xff"]


def test_punctuation_dropped():
    assert tokenize("... ---- ;;; ") == []


def test_empty_and_none():
    assert tokenize("") == []
    assert tokenize(None) == []


def test_non_ascii_fallback():
    toks = tokenize("café_x naïve λcalc")
    assert "café" in toks or "café_x" in toks  # unicode word run
    assert all(t == t.lower() for t in toks)

