"""Analyzer framework — pluggable tokenizer chains.

Mirrors analysis/AnalyzerFactory.cpp:14-89: named analyzers `whitespace`,
`keyword`, `simple`, `standard` (tokenize + lowercase [+ stop]), `english`
(+ ASCII folding), `search` (+ synonyms). Token filters as composable
vectorized stages (analysis/LowercaseFilter, StopFilter, SynonymFilter,
ASCIIFoldingFilter). ASCII folding approximates the reference's ICU fold
table with NFKD combining-mark stripping — covers the Latin-accent cases
its tests exercise.

An analyzer is `Callable[[pd.Series], pd.Series-of-list[str]]`, directly
usable as the builder's tokenizer.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Callable

import pandas as pd

from diagon_spark.analysis.tokenizer import tokenize

Analyzer = Callable[[pd.Series], pd.Series]

ENGLISH_STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split())

_WS = re.compile(r"\S+")


def whitespace_analyzer(texts: pd.Series) -> pd.Series:
    return texts.fillna("").str.findall(_WS)


def keyword_analyzer(texts: pd.Series) -> pd.Series:
    """Whole value = one term (untokenized fields, Field.h:92-99)."""
    return texts.fillna("").map(lambda t: [t] if t else [])


def simple_analyzer(texts: pd.Series) -> pd.Series:
    """Letter runs, lowercased (Lucene SimpleAnalyzer)."""
    return texts.fillna("").str.lower().str.findall(re.compile(r"[a-z]+"))


def standard_analyzer(texts: pd.Series) -> pd.Series:
    """The indexing-path default (StandardTokenizer, §1.4)."""
    return texts.fillna("").map(tokenize)


# ------------------------------------------------------------- filters


def stop_filter(stopwords: frozenset[str] = ENGLISH_STOPWORDS):
    def f(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda ts: [t for t in ts if t not in stopwords])
    return f


def lowercase_filter():
    def f(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda ts: [t.lower() for t in ts])
    return f


def ascii_folding_filter():
    """Strip diacritics: NFKD-decompose, drop combining marks
    (ASCIIFoldingFilter.cpp analogue for Latin accents)."""
    def fold(t: str) -> str:
        return "".join(c for c in unicodedata.normalize("NFKD", t)
                       if not unicodedata.combining(c))

    def f(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda ts: [fold(t) for t in ts])
    return f


def synonym_filter(synonyms: dict[str, list[str]]):
    """Flat expand-mode synonyms (QUERY-time chains, where a flat term
    list feeds disjunctions and positions don't exist). For INDEX-time
    expansion use synonym_analyzer / positioned_synonym_filter, which
    emit expansions at the SAME position (SynonymFilter.cpp
    position-increment-0 semantics) so phrase queries match across
    synonyms."""
    def f(tokens: pd.Series) -> pd.Series:
        def expand(ts):
            out = []
            for t in ts:
                out.append(t)
                out.extend(synonyms.get(t, ()))
            return out
        return tokens.map(expand)
    return f


def positioned_synonym_filter(synonyms: dict[str, list[str]]):
    """SynonymFilter.cpp semantics (analysis/SynonymFilter.cpp): each
    expansion is emitted at the SAME position as the matched token
    (position increment 0). Consumes flat tokens, emits (token, position)
    pairs — chain it LAST; the index builder detects pair-emitting
    analyzers via the `emits_positions` attribute and uses the supplied
    positions instead of enumerating."""
    def f(tokens: pd.Series) -> pd.Series:
        def expand(ts):
            out = []
            for pos, t in enumerate(ts):
                out.append((t, pos))
                for s in synonyms.get(t, ()):
                    out.append((s, pos))
            return out
        return tokens.map(expand)
    return f


def synonym_analyzer(synonyms: dict[str, list[str]] | None = None,
                     base: Analyzer | None = None) -> Analyzer:
    """INDEX-time synonym expansion with same-position semantics: a doc
    containing "fn run" indexes fn@0, function@0, run@1 — so
    Phrase("function", "run") matches it and Phrase("fn", "function")
    does NOT (they share a position). Token count (and thus norms/doc
    length) includes expansions, matching FieldInvertState.length."""
    az = chain(base or standard_analyzer,
               positioned_synonym_filter(synonyms or DEFAULT_SYNONYMS))
    az.emits_positions = True
    return az


def chain(analyzer: Analyzer, *filters) -> Analyzer:
    def run(texts: pd.Series) -> pd.Series:
        out = analyzer(texts)
        for f in filters:
            out = f(out)
        return out
    return run


def english_analyzer() -> Analyzer:
    return chain(standard_analyzer, ascii_folding_filter(),
                 stop_filter())


# ------------------------------------------- CJK / multilingual / search

# CJK unified ideographs + extensions, hiragana/katakana, hangul
_CJK_RANGES = (
    (0x3040, 0x30FF), (0x3400, 0x4DBF), (0x4E00, 0x9FFF),
    (0xAC00, 0xD7AF), (0xF900, 0xFAFF), (0x20000, 0x2A6DF),
)
_CJK_RE = re.compile("[" + "".join(
    f"{chr(lo)}-{chr(hi)}" for lo, hi in _CJK_RANGES) + "]+")


def _cjk_bigrams(run: str) -> list[str]:
    """Overlapping character bigrams of one CJK run (single char → itself).
    The standard dictionary-free CJK segmentation used by Lucene's
    CJKAnalyzer; the reference's `chinese` analyzer uses Jieba dictionary
    segmentation (analysis/AnalyzerFactory.cpp:38-52) — Jieba is not in
    this container, so bigrams are the documented stand-in and
    `chinese_analyzer(segmenter=...)` is where a real Jieba-style
    callable plugs in."""
    if len(run) == 1:
        return [run]
    return [run[i:i + 2] for i in range(len(run) - 1)]


def _mixed_tokenize(text: str, segmenter=None) -> list[str]:
    """Split text into CJK runs (segmented) and non-CJK spans
    (standard-tokenized), preserving order."""
    out: list[str] = []
    last = 0
    for m in _CJK_RE.finditer(text):
        if m.start() > last:
            out.extend(tokenize(text[last:m.start()]))
        seg = segmenter(m.group()) if segmenter else _cjk_bigrams(m.group())
        out.extend(seg)
        last = m.end()
    if last < len(text):
        out.extend(tokenize(text[last:]))
    return out


def dict_segmenter(words: list[str]):
    """Greedy longest-match dictionary segmenter — a deterministic
    stand-in with jieba.lcut's call signature (JiebaTokenizer.cpp's
    dictionary mode). Unmatched characters pass through singly. Use for
    tests/air-gapped runs; on a cluster pass jieba.lcut itself as the
    segmenter."""
    by_len = sorted(set(words), key=len, reverse=True)

    def seg(run: str) -> list[str]:
        out, i = [], 0
        while i < len(run):
            for w in by_len:
                if run.startswith(w, i):
                    out.append(w)
                    i += len(w)
                    break
            else:
                out.append(run[i])
                i += 1
        return out

    return seg


def chinese_analyzer(segmenter=None) -> Analyzer:
    """`chinese` analyzer (AnalyzerFactory.cpp:38-52). The reference
    segments with Jieba; here CJK runs become overlapping character
    bigrams (CJKAnalyzer semantics) unless a `segmenter(str)->list[str]`
    callable (e.g. jieba.lcut on a real cluster) is supplied. Non-CJK
    spans go through the standard tokenizer."""
    def run(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(
            lambda t: _mixed_tokenize(t, segmenter))
    return run


def multilingual_analyzer() -> Analyzer:
    """`multilingual` (AnalyzerFactory.cpp:54-70): script-aware routing —
    CJK runs segmented, everything else standard + ASCII folding."""
    fold = ascii_folding_filter()

    def run(texts: pd.Series) -> pd.Series:
        toks = texts.fillna("").map(_mixed_tokenize)
        return fold(toks)
    return run


DEFAULT_SYNONYMS: dict[str, list[str]] = {
    # AnalyzerFactory.cpp:72-89 search-analyzer default chain carries a
    # synonym set; ours is pluggable via search_analyzer(synonyms=...)
    "fn": ["function"], "func": ["function"],
    "init": ["initialize"], "config": ["configuration"],
}


def search_analyzer(synonyms: dict[str, list[str]] | None = None
                    ) -> Analyzer:
    """`search` analyzer (AnalyzerFactory.cpp:72-89): the query-time chain
    — standard tokenize + lowercase + synonym expansion. Used on the
    QUERY side only (expanding a term multiplies posting lookups, not
    index size)."""
    return chain(standard_analyzer,
                 synonym_filter(synonyms or DEFAULT_SYNONYMS))


ANALYZERS: dict[str, Callable[[], Analyzer]] = {
    "whitespace": lambda: whitespace_analyzer,
    "keyword": lambda: keyword_analyzer,
    "simple": lambda: simple_analyzer,
    "standard": lambda: standard_analyzer,
    "english": english_analyzer,
    "chinese": chinese_analyzer,
    "multilingual": multilingual_analyzer,
    "search": search_analyzer,
    "synonym": synonym_analyzer,
}


def analyzer_for(name: str) -> Analyzer:
    """AnalyzerFactory::create analogue."""
    try:
        return ANALYZERS[name]()
    except KeyError:
        raise ValueError(f"unknown analyzer {name!r}; "
                         f"known: {sorted(ANALYZERS)}") from None
