"""Seeded benchmark inputs, written once per (seed, size) and cached.

Everything the program under test receives is generated here from the
workload seed: the code corpus (an id range of `diagon_spark.corpus`
picked by the seed), the duplicate-heavy dedup corpus (planted fork and
vendored-copy clusters), the serve query stream and the ingest plan. The
expected top-k of every distinct query is computed once per seed with the
pure-Python oracle (`diagon_spark/oracle.py`), outside any timing.

Each cached file is a pure function of its name, so equal seeds give
byte-identical files.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections import Counter

import numpy as np
import pandas as pd

TOP_K = 100
DF_CLASSES = ("head", "torso", "tail")
SHAPES = ("term", "and2", "or5", "or10", "phrase")
_SHAPE_TERMS = {"term": 1, "and2": 2, "or5": 5, "or10": 10, "phrase": 2}
# engine ASCII tokenizer: alnum, then alnum or apostrophe, lowercased
_TOKEN = re.compile(r"[A-Za-z0-9][A-Za-z0-9']*")


def corpus_start(seed: int) -> int:
    """First corpus row id of a seed: each seed reads its own id range."""
    return 1_000_000 * (1 + seed % 4096)


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pdf.to_parquet(tmp, index=False, compression="snappy")
    os.replace(tmp, path)


def _cached(cache_dir: str, name: str, make) -> pd.DataFrame:
    """The parquet input `name` (built by `make` on first use); its
    `attrs["name"]` keys the inputs derived from it."""
    path = os.path.join(cache_dir, name + ".parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        _write_parquet(make(), path)
    pdf = pd.read_parquet(path)
    pdf.attrs["name"] = name
    return pdf


def cached_path(cache_dir: str, pdf: pd.DataFrame) -> str:
    return os.path.join(cache_dir, pdf.attrs["name"] + ".parquet")


def code_corpus(cache_dir: str, seed: int, n: int) -> pd.DataFrame:
    """The first `n` generated code files of the seed's id range, with a
    `doc_id` column equal to the generator row id."""
    def make():
        from diagon_spark.corpus import generate_pandas
        start = corpus_start(seed)
        pdf = generate_pandas(start, start + n)
        pdf.insert(0, "doc_id", np.arange(start, start + n, dtype=np.int64))
        return pdf
    return _cached(cache_dir, f"corpus-s{seed}-n{n}", make)


def tokens(text: str) -> list[str]:
    return [t.lower() for t in _TOKEN.findall(text)]


# ------------------------------------------------------------ dedup corpus

def dedup_corpus(cache_dir: str, seed: int, n: int) -> pd.DataFrame:
    """`n` code files of which about a quarter sit in planted clusters.

    A cluster is one original file plus copies: exact copies (forks) and
    near copies (vendored files with a header line and a few tokens
    edited). One cluster holds n/20 files, so every LSH band of its exact
    copies is one hot bucket; the rest follow a geometric size law.
    Columns: doc_id, repo, path, content, cluster (-1 outside clusters),
    exact (True for an exact copy of its cluster's original)."""
    def make():
        from diagon_spark.corpus import VOCAB, generate_pandas
        rng = np.random.default_rng([seed, 0xD0])
        sizes = [max(8, n // 20)]
        budget = n // 4 - sizes[0]
        while budget > 2:
            s = int(min(budget, 2 + rng.geometric(0.3), sizes[0]))
            sizes.append(s)
            budget -= s
        n_orig = n - sum(s - 1 for s in sizes)
        start = corpus_start(seed) + 500_000
        base = generate_pandas(start, start + n_orig)
        rows = []
        for i, r in enumerate(base.itertuples(index=False)):
            cl = i if i < len(sizes) else -1
            rows.append((r.repo, r.path, r.content, cl, False))
        for cl, size in enumerate(sizes):
            orig = base.content.iloc[cl]
            for j in range(1, size):
                repo = f"fork{cl}-{j}/vendor"
                path = base.path.iloc[cl]
                if rng.random() < 0.5:
                    rows.append((repo, path, orig, cl, True))
                    continue
                words = orig.split(" ")
                for p in rng.choice(len(words), size=max(1, len(words) // 40),
                                    replace=False):
                    words[p] = VOCAB[int(rng.integers(len(VOCAB)))]
                edited = f"// vendored from {repo} rev {j}\n" + " ".join(words)
                rows.append((repo, path, edited, cl, False))
        order = rng.permutation(len(rows))
        pdf = pd.DataFrame([rows[i] for i in order],
                           columns=["repo", "path", "content", "cluster",
                                    "exact"])
        pdf.insert(0, "doc_id", np.arange(len(pdf), dtype=np.int64))
        return pdf
    return _cached(cache_dir, f"dedup-s{seed}-n{n}", make)


def exact_dup_pairs(pdf: pd.DataFrame) -> set[tuple[int, int]]:
    """All (a, b), a < b, of docs with byte-identical content."""
    pairs: set[tuple[int, int]] = set()
    for _content, ids in pdf.groupby("content").doc_id:
        ids = sorted(int(i) for i in ids)
        pairs.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    return pairs


def dedup_properties(pdf: pd.DataFrame) -> dict:
    in_cl = pdf[pdf.cluster >= 0]
    sizes = in_cl.groupby("cluster").size()
    return {"docs": int(len(pdf)),
            "duplicate_share": round(float((len(in_cl) - len(sizes))
                                           / len(pdf)), 4),
            "clusters": int(len(sizes)),
            "largest_cluster": int(sizes.max()),
            "exact_dup_pairs": len(exact_dup_pairs(pdf))}


# ------------------------------------------------------------ query stream

def _ascii_tokens(text: str) -> list[str]:
    """Tokens of an ASCII doc; non-ASCII docs take the engine's Unicode
    path, which this regex does not model, so they contribute none."""
    return tokens(text) if text.isascii() else []


def _df_ranks(contents) -> list[tuple[str, int]]:
    df: Counter = Counter()
    for c in contents:
        df.update(set(_ascii_tokens(c)))
    return sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))


def _class_terms(ranked: list[tuple[str, int]]) -> dict[str, list[str]]:
    """Head, torso and tail ranks of the doc-frequency ranking; terms in
    one doc only are left out."""
    ranked = [(t, df) for t, df in ranked if df > 1]
    v = len(ranked)
    bounds = {"head": (0, 16), "torso": (64, 256), "tail": (v // 2, v)}
    return {c: [t for t, _ in ranked[lo:hi]] for c, (lo, hi) in bounds.items()}


def query_stream(cache_dir: str, seed: int, corpus: pd.DataFrame,
                 per_class: int = 3, rounds: int = 20) -> pd.DataFrame:
    """A replayable stream over a pool of `per_class` distinct queries for
    each (df class x shape): `rounds` seeded permutations of the pool, so
    every pool query recurs equally often and any whole round has the
    same class mix. Columns: seq, qid, df_class, shape, terms."""
    def make():
        rng = np.random.default_rng([seed, 0x5E])
        classes = _class_terms(_df_ranks(corpus.content))
        docs_toks = [_ascii_tokens(c) for c in corpus.content]
        pool = []
        for cls in DF_CLASSES:
            members = set(classes[cls])
            for shape in SHAPES:
                for _ in range(per_class):
                    if shape == "phrase":
                        terms = _phrase(rng, docs_toks, members)
                    else:
                        terms = [str(t) for t in rng.choice(
                            classes[cls], size=_SHAPE_TERMS[shape],
                            replace=False)]
                    pool.append((cls, shape, terms))
        seq = np.concatenate([rng.permutation(len(pool))
                              for _ in range(rounds)])
        return pd.DataFrame({
            "seq": np.arange(len(seq), dtype=np.int64),
            "qid": seq.astype(np.int64),
            "df_class": [pool[q][0] for q in seq],
            "shape": [pool[q][1] for q in seq],
            "terms": [pool[q][2] for q in seq]})
    return _cached(cache_dir, f"queries-{corpus.attrs['name']}-s{seed}"
                   f"-p{per_class}-r{rounds}", make)


def _phrase(rng, docs_toks, members: set) -> list[str]:
    """Two adjacent tokens of a corpus doc whose first is in the class,
    so every phrase query matches at least one doc."""
    cand = [(d, i) for d, toks in enumerate(docs_toks)
            for i in range(len(toks) - 1) if toks[i] in members]
    d, i = cand[int(rng.integers(len(cand)))]
    return [docs_toks[d][i], docs_toks[d][i + 1]]


def pool_of(stream: pd.DataFrame) -> dict[int, tuple[str, str, list[str]]]:
    """qid -> (df_class, shape, terms) of the stream's distinct queries."""
    first = stream.drop_duplicates("qid")
    return {int(r.qid): (r.df_class, r.shape, list(r.terms))
            for r in first.itertuples(index=False)}


def stream_properties(stream: pd.DataFrame, corpus: pd.DataFrame) -> dict:
    """The properties of the stream an optimisation could depend on."""
    df = dict(_df_ranks(corpus.content))
    seen: set[str] = set()
    repeats = total = 0
    for terms in stream.terms:
        for t in terms:
            total += 1
            repeats += t in seen
            seen.add(t)
    pool = pool_of(stream)
    mean_df = {}
    for cls in DF_CLASSES:
        dfs = [df.get(t, 0) for c, _s, ts in pool.values() if c == cls
               for t in ts]
        mean_df[cls] = round(float(np.mean(dfs)), 1)
    return {"queries": int(len(stream)), "distinct_queries": len(pool),
            "df_class_mix": {c: int((stream.df_class == c).sum())
                             for c in DF_CLASSES},
            "shape_mix": {s: int((stream["shape"] == s).sum())
                          for s in SHAPES},
            "repeated_term_share": round(repeats / max(total, 1), 4),
            "mean_df_by_class": mean_df, "corpus_docs": int(len(corpus))}


def to_query(shape: str, terms: list[str]):
    from diagon_spark.search.query import Boolean, Phrase, Term
    if shape == "term":
        return Term(terms[0])
    if shape == "and2":
        return Boolean(must=[Term(t) for t in terms])
    if shape == "phrase":
        return Phrase(tuple(terms))
    return Boolean(should=[Term(t) for t in terms])


def expected_topk(cache_dir: str, corpus: pd.DataFrame,
                  stream: pd.DataFrame, k: int = TOP_K
                  ) -> dict[int, list[tuple[int, float]]]:
    """qid -> oracle top-k [(doc_id, float32 score)], cached as JSON."""
    path = os.path.join(cache_dir,
                        f"expected-{stream.attrs['name']}-k{k}.json")
    if not os.path.exists(path):
        from diagon_spark.oracle import OracleIndex
        oracle = OracleIndex(dict(zip(corpus.doc_id.tolist(),
                                      corpus.content.tolist())))
        # per-term scores are pure in the term; memoise them across queries
        oracle._term_scores = functools.lru_cache(maxsize=None)(
            oracle._term_scores)
        search = {"term": lambda ts: oracle.search_term(ts[0], k),
                  "and2": lambda ts: oracle.search_and(ts, k),
                  "or5": lambda ts: oracle.search_or(ts, k),
                  "or10": lambda ts: oracle.search_or(ts, k),
                  "phrase": lambda ts: oracle.search_phrase(ts, k)}
        out = {str(q): [[int(d), float(s)] for d, s in search[shape](terms)]
               for q, (_c, shape, terms) in sorted(pool_of(stream).items())}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
    with open(path) as f:
        raw = json.load(f)
    return {int(q): [(int(d), float(s)) for d, s in hits]
            for q, hits in raw.items()}


def same_topk(got, want) -> bool:
    """Equal doc order and equal float32 scores."""
    if [int(d) for d, _ in got] != [d for d, _ in want]:
        return False
    return all(np.float32(a) == np.float32(b)
               for (_, a), (_, b) in zip(got, want))


# ------------------------------------------------------------- ingest plan

def marker(row: int, version: int) -> str:
    """A token unique to one version of one ingest file; the indexed
    content ends with it, so visibility is probed per file."""
    return f"mk{row}v{version}"


def new_texts(seed: int, rows: list[int], version: int) -> list[str]:
    """Fresh file texts for ingest rows (appends, or rewrites when
    version > 0), from the seed's own generator id range."""
    from diagon_spark.corpus import generate_pandas
    base = corpus_start(seed) + 700_000 + 97_000 * version
    return [generate_pandas(base + r, base + r + 1).content[0] for r in rows]


def ingest_cycle(seed: int, live: list[int], next_row: int,
                 n_append: int, n_update: int, n_delete: int) -> dict:
    """The seeded plan of an ingest cycle over the live rows: new rows to
    append (the next `n_append` row ids), live rows to rewrite and live
    rows to remove (disjoint)."""
    rng = np.random.default_rng([seed, 0x1C])
    pick = rng.choice(len(live), size=n_update + n_delete, replace=False)
    chosen = [live[i] for i in pick]
    return {"append": list(range(next_row, next_row + n_append)),
            "update": chosen[:n_update], "delete": chosen[n_update:]}
