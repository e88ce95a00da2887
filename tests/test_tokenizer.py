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



def test_ascii_path_equals_old_regex_on_adversarial_text():
    # the ASCII path's rule as the regex it replaced states it: an alnum,
    # then (alnum | ')*, lowercased (StandardTokenizer.h:118-137)
    import re
    old = re.compile(r"[A-Za-z0-9][A-Za-z0-9']*")
    text = ("'lead ''double 'x' trail'' in'ner ro'ck'n'roll ' '' ''' "
            "MiXeD CaSe0 0xDEAD 9'9 1e-3 3.14 _u_n_d_e_r_ a__b "
            "\x00nul\x01ctl\x1f\x7fdel\tTab\nnl\r\x0b\x0c end'")
    want = [t.lower() for t in old.findall(text)]
    assert tokenize(text) == want
    assert "'" in "".join(want) and any(c.isdigit() for c in "".join(want))
    for i in range(len(text)):  # every prefix cut, apostrophes included
        assert tokenize(text[:i]) == [t.lower()
                                      for t in old.findall(text[:i])]
