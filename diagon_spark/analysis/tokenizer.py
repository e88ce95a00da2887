"""Standard tokenizer — behavior-identical to the reference's indexing path.

Reference semantics (util/StandardTokenizer.h:39-260, document/Field.h:76-113):

* ASCII fast path (StandardTokenizer.h:100-150): a token starts at an
  ASCII alphanumeric `[A-Za-z0-9]` and continues over alphanumerics *or*
  apostrophe `'`; everything is lowercased byte-wise. A token can never
  start with `'`, but may contain or end with one ("don't", "rock'").
* Non-ASCII strings go through ICU UAX#29 word segmentation + lowercase +
  drop whitespace/punctuation-only tokens, keep numerics with `.,-`
  (StandardTokenizer.h:195-260). PyICU is not available in this
  environment, so the fallback approximates UAX#29 with a Unicode-aware
  regex over `\\w` runs — documented divergence, exercised only by the
  ~1% non-ASCII fixture rows; all correctness fixtures and the reference
  query set are pure ASCII where the two paths agree exactly.

The hot path is vectorized: one pandas Series in, one Series of
list[str] out (Arrow batches; no per-row Python in the Spark plan).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Unicode fallback (ICU stand-in): letters/digits runs incl. apostrophe.
# Underscore is a separator (as in the ASCII path) — [^\W_] excludes it
# from both the start and continuation classes so 'foo_bar' tokenizes the
# same whether or not the row contains non-ASCII characters elsewhere.
_UNI_TOKEN = re.compile(r"[^\W_](?:[^\W_]|')*", re.UNICODE)

# Real ICU UAX#29 segmentation when PyICU is installed (the reference's
# exact path, StandardTokenizer.h:195-260) — the regex above remains the
# documented fallback. Gated import: the sandbox image has no PyICU; a
# cluster image with it picks this up with zero config.
try:  # pragma: no cover - exercised only where PyICU is installed
    import icu as _icu
    HAVE_ICU = True
except ImportError:
    _icu = None
    HAVE_ICU = False


def _icu_tokenize(text: str) -> list[str]:  # pragma: no cover - needs PyICU
    """UAX#29 word segmentation via ICU BreakIterator: keep segments with
    a word/number/ideographic rule status (this is what carries numerics
    with `.,-` through as single tokens), lowercase."""
    bi = _icu.BreakIterator.createWordInstance(_icu.Locale.getRoot())
    bi.setText(text)
    toks: list[str] = []
    start = bi.first()
    for end in bi:
        if bi.getRuleStatus() >= 100:  # >= UBRK_WORD_NUMBER: real words
            toks.append(text[start:end].lower())
        start = end
    return toks


def tokenize(text: str) -> list[str]:
    """Tokenize one string (pure-Python; tests + oracle use this)."""
    if text is None:
        return []
    if text.isascii():
        return [t.decode("ascii") for t in _ascii_tokens_bytes(text)]
    if HAVE_ICU:
        return _icu_tokenize(text)
    toks = []
    for t in _UNI_TOKEN.findall(text):
        t = t.lower()
        # drop pure-punctuation artifacts; keep tokens with letter/digit
        if any(c.isalnum() for c in t):
            toks.append(t)
    return toks


# The ASCII path (StandardTokenizer.h:118-137): a token is an alnum, then
# (alnum | ')*, lowercased. Translate table: A-Z -> a-z; keep a-z 0-9 ';
# everything else -> space. bytes.translate + split is ~4x faster than a
# regex findall (leading apostrophes stripped post-split, because a token
# must START alphanumeric — StandardTokenizer.h:118-124).
_TRANS = bytes(
    (c + 32) if 65 <= c <= 90 else
    (c if (97 <= c <= 122 or 48 <= c <= 57 or c == 39) else 32)
    for c in range(256))


def _ascii_tokens_bytes(s: str) -> list[bytes]:
    tb = s.encode("ascii").translate(_TRANS)
    toks = tb.split()
    if b"'" not in tb:  # common case: no apostrophes at all
        return toks
    out = []
    for t in toks:
        t = t.lstrip(b"'")
        if t:
            out.append(t)
    return out


# The pipelines' token rule (textstats, dedup, sparse): TOKEN_RE over the
# lowercased text, as the SQL oracle writes it. `pipeline_tokens` is the
# one implementation in the package; every pipeline kernel calls it.
TOKEN_RE = "[a-z0-9][a-z0-9']*"
_PIPELINE_TOKEN = re.compile(TOKEN_RE)


def pipeline_tokens(text: str) -> list[bytes]:
    """TOKEN_RE over `text.lower()`, as ASCII bytes. ASCII rows take the
    byte-translate path, token-for-token equal and ~4x faster than
    findall. For the rest, Python's `str.lower` and Spark's `lower` both
    apply full Unicode case mapping; the code points that lower to ASCII
    (U+0130 -> "i" + U+0307, the Kelvin sign -> "k") are checked in
    tests/test_text_kernels.py."""
    if text.isascii():
        return _ascii_tokens_bytes(text)
    return [t.encode("ascii") for t in _PIPELINE_TOKEN.findall(text.lower())]


def shingle_set(toks: list[bytes], k: int) -> set[bytes]:
    """The distinct k-shingles of a token list: k consecutive tokens
    joined by one space. Fewer than k tokens give none."""
    return {b" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


_TRANS_NP = np.frombuffer(_TRANS, dtype=np.uint8)


def tokenize_group_flat(texts: pd.Series
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray, bool]:
    """Whole-group tokenization with NO per-token Python objects:
    Series[str] -> (doc_idx int64, pos int64, tokens fixed-width-bytes,
    all_ascii).

    Token-for-token identical to `tokenize` (utf-8 encoded; tested), and
    the token stream lives in numpy arrays end to end: the group's ASCII rows
    are joined into ONE buffer, translated through the same 256-byte
    table, and tokens become (start, end) spans materialized into a
    fixed-width 'S' array. This removes the ~200 tracked Python objects
    per document that made large encode groups superlinear under
    concurrency (round-4 10M ladder: 156k-doc groups ~4x worse s/doc than
    15.6k ones — GC/allocator pressure over tens of millions of bytes
    objects, reproduced without Spark).

    Non-ASCII rows (≈1% of the fixture corpus) still route through the
    per-row standard path; their tokens are appended to the same arrays.
    `pos` is the token's ordinal within its document; `doc_idx` indexes
    into `texts` positionally (0..len-1). Tokens never contain NUL, so
    the trailing-NUL padding of the 'S' dtype is lossless and its
    lexicographic order matches bytes order.
    """
    texts = texts.fillna("")
    is_ascii_m = np.fromiter((t.isascii() for t in texts), bool,
                             count=len(texts))
    doc_parts: list[np.ndarray] = []
    pos_parts: list[np.ndarray] = []
    tok_parts: list[np.ndarray] = []
    widths: list[int] = []

    if is_ascii_m.any():
        a_rows = np.flatnonzero(is_ascii_m)
        joined = "\n".join(texts.iloc[a_rows].tolist()) + "\n"
        trans = _TRANS_NP[np.frombuffer(joined.encode("ascii"),
                                        dtype=np.uint8)]
        del joined
        lens = texts.iloc[a_rows].str.len().to_numpy(np.int64)
        doc_starts = np.concatenate(([0], np.cumsum(lens + 1)[:-1]))
        mask = trans != 32
        prev = np.empty_like(mask)
        prev[0] = False
        prev[1:] = mask[:-1]
        starts = np.flatnonzero(mask & ~prev)
        nxt = np.empty_like(mask)
        nxt[-1] = False
        nxt[:-1] = mask[1:]
        ends = np.flatnonzero(mask & ~nxt) + 1
        # a token must START alphanumeric: strip leading apostrophes
        # (StandardTokenizer.h:118-124), drop all-apostrophe runs
        while True:
            lead = (starts < ends) & (trans[starts] == 39)
            if not lead.any():
                break
            starts = starts + lead
        keep = starts < ends
        if not keep.all():
            starts, ends = starts[keep], ends[keep]
        if len(starts):
            tl = ends - starts
            w = int(tl.max())
            doc_of = np.searchsorted(doc_starts, starts, side="right") - 1
            # ordinal within doc: index minus first index of this doc's
            # run (one linear pass — doc_of is non-decreasing)
            idxs = np.arange(len(starts), dtype=np.int64)
            change = np.empty(len(starts), dtype=bool)
            change[0] = True
            change[1:] = doc_of[1:] != doc_of[:-1]
            pos = idxs - np.maximum.accumulate(np.where(change, idxs, 0))
            tok = np.zeros((len(starts), w), dtype=np.uint8)
            # int32 gather indices halve the slab traffic (buffer bytes
            # fit int32 by construction for any sane group; guard anyway)
            idt = np.int32 if len(trans) < (1 << 31) - 1 else np.int64
            s32 = starts.astype(idt)
            l32 = tl.astype(idt)
            col = np.arange(w, dtype=idt)
            slab = 1 << 20  # bound the (slab, w) gather temporaries
            for i in range(0, len(starts), slab):
                s = s32[i:i + slab]
                ln = l32[i:i + slab]
                idx = np.minimum(s[:, None] + col[None, :],
                                 idt(len(trans) - 1))
                np.copyto(tok[i:i + len(s)],
                          np.where(col[None, :] < ln[:, None],
                                   trans[idx], 0))
            del s32, l32
            doc_parts.append(a_rows[doc_of])
            pos_parts.append(pos)
            tok_parts.append(tok)
            widths.append(w)
        del trans

    if not is_ascii_m.all():
        na_rows = np.flatnonzero(~is_ascii_m)
        flat: list[bytes] = []
        counts = np.empty(len(na_rows), dtype=np.int64)
        for j, s in enumerate(texts.iloc[na_rows]):
            ts = [t.encode("utf-8") for t in tokenize(s)]
            counts[j] = len(ts)
            flat.extend(ts)
        if flat:
            w2 = max(len(t) for t in flat)
            tok2 = np.zeros((len(flat), w2), dtype=np.uint8)
            for j, t in enumerate(flat):
                tok2[j, :len(t)] = np.frombuffer(t, dtype=np.uint8)
            doc_parts.append(np.repeat(na_rows, counts))
            pos_parts.append(np.concatenate(
                [np.arange(c, dtype=np.int64) for c in counts]))
            tok_parts.append(tok2)
            widths.append(w2)

    if not tok_parts:
        z = np.zeros(0, np.int64)
        return z, z, np.zeros(0, dtype="S1"), True
    w_all = max(widths)
    views = []
    for tp, w in zip(tok_parts, widths):
        if w < w_all:
            padded = np.zeros((len(tp), w_all), dtype=np.uint8)
            padded[:, :w] = tp
            tp = padded
        views.append(np.ascontiguousarray(tp).view(f"S{w_all}").ravel())
    doc_idx = (doc_parts[0] if len(doc_parts) == 1
               else np.concatenate(doc_parts))
    pos = pos_parts[0] if len(pos_parts) == 1 else np.concatenate(pos_parts)
    toks = views[0] if len(views) == 1 else np.concatenate(views)
    return doc_idx, pos, toks, bool(is_ascii_m.all())


def factorize_tokens(toks: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(rank_ids, sorted_unique_tokens) for a fixed-width 'S' token array.

    Rank ids are ordinal positions in the SORTED vocabulary (what the
    encoder's term sort needs), computed without any Python-object
    detour. Width ≤ 8 reinterprets the padded bytes as big-endian uint64
    — identical ordering to bytes comparison (NUL pads sort first), and
    np.unique on integers is much faster than on 'S' records."""
    w = toks.dtype.itemsize
    if w <= 8:
        mat = np.zeros((len(toks), 8), dtype=np.uint8)
        mat[:, :w] = toks.view(np.uint8).reshape(len(toks), w)
        u64 = np.ascontiguousarray(mat).view(">u8").ravel() \
            .astype(np.uint64)
        uniq, inv = np.unique(u64, return_inverse=True)
        vocab = (uniq.astype(">u8").tobytes())
        sorted_vocab = np.frombuffer(vocab, dtype="S8")
        return inv.astype(np.int32), sorted_vocab
    uniq, inv = np.unique(toks, return_inverse=True)
    return inv.astype(np.int32), uniq


def tokenize_factorize_sliced(texts: pd.Series, slice_docs: int = 16384
                              ) -> tuple[np.ndarray, np.ndarray,
                                         np.ndarray, np.ndarray, bool]:
    """Group tokenization + vocabulary factorization in CACHE-SIZED
    slices: (doc_idx, pos, term_ids, sorted_vocab, all_ascii).

    Why slices: the flat tokenizer's random-access phases (span gathers,
    doc searchsorted, vocabulary unique) are DRAM-latency-bound once the
    group's buffers outgrow the LLC — measured 4-5x per-task inflation at
    8 concurrent 150k-doc groups vs NO inflation for the cache-resident
    phases (round-4 per-phase probe). Tokenizing ~16k docs
    at a time keeps each slice's buffer + token arrays cache-warm; the
    slice vocabularies then merge two-level (np.unique over the SMALL
    per-slice vocabs, searchsorted remap of each slice's ids — the
    classic DWPT-flush-then-merge dictionary build). term_ids are
    ordinals in the merged SORTED vocabulary, exactly what the segment
    encoder's term sort consumes.
    """
    n = len(texts)
    if n <= slice_docs:
        doc_idx, pos, toks, all_ascii = tokenize_group_flat(texts)
        term_ids, vocab = factorize_tokens(toks)
        return doc_idx, pos, term_ids, vocab, all_ascii
    di_parts, pos_parts, inv_parts, vocabs = [], [], [], []
    all_ascii = True
    for lo in range(0, n, slice_docs):
        d, p, toks, asc = tokenize_group_flat(texts.iloc[lo:lo + slice_docs])
        all_ascii &= asc
        inv, voc = factorize_tokens(toks)
        di_parts.append(d + lo)
        pos_parts.append(p)
        inv_parts.append(inv)
        vocabs.append(voc)
    w = max(v.dtype.itemsize for v in vocabs)
    vocabs = [v.astype(f"S{w}") for v in vocabs]
    vocab = np.unique(np.concatenate(vocabs))
    # remap each slice's local ranks to global ranks, in slice-local
    # (small, cache-resident) passes
    term_parts = [np.searchsorted(vocab, v).astype(np.int32)[inv]
                  for v, inv in zip(vocabs, inv_parts)]
    return (np.concatenate(di_parts), np.concatenate(pos_parts),
            np.concatenate(term_parts), vocab, all_ascii)


def count_tokens_series(texts: pd.Series) -> np.ndarray:
    """Token counts per row (doc_len for norms): the bytes fast path for
    ASCII rows, `tokenize` for the rest."""
    return np.fromiter(
        (len(_ascii_tokens_bytes(s) if s.isascii() else tokenize(s))
         for s in texts.fillna("")), dtype=np.int64, count=len(texts))
