"""Text-analysis operators for large-scale training-data pipelines.

Tokens are TOKEN_RE (`[a-z0-9][a-z0-9']*`) over the lowercased text, the
rule the engine's ASCII fast path and the SQL oracle share. Every
pipeline operator (these, and the shingles, simhash, minhash and sparse
value postings) tokenizes with its one implementation,
`analysis.tokenizer.pipeline_tokens`, inside an Arrow-batched kernel fed
by `_kernel_input`: each pipeline pays one Python boundary per batch.

`token_counts`, `quality_scores` and `language_id` read one kernel
(`_text_facts`) that emits integer facts per row. The operators derive
their columns from those facts with JVM `round`/`greatest` arithmetic,
so Spark's HALF_UP rounding is kept. `fingerprints` hashes each row's
token stream in its own kernel.
"""

from __future__ import annotations

from hashlib import md5

from pyspark.sql import DataFrame, functions as F

from diagon_spark.parallel import (DEFAULT_BYTES_PER_PARTITION,
                                   ensure_min_parallelism)

# small fixed stopword list (quality/lang-id heuristics)
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on",
             "with", "as", "this", "that", "by", "be", "or", "an", "are"]

# per-row facts of `_facts_kernel`; all NULL for a NULL text
_FACTS = ("n_chars", "n_tokens", "n_distinct", "n_stop", "token_chars",
          "alnum_chars")
_FACTS_SCHEMA = "doc_id long, " + ", ".join(f"{c} long" for c in _FACTS)
# The facts kernel costs ~40 ms of CPU per input MB (serve corpus, 4
# cores); a partition should carry at least the ~1 s a fresh Python
# worker costs to start (parallel.py), so it gets one per 25 MB, not the
# md5-grade default density of the shingle/minhash kernels.
_FACTS_MS_PER_MB = 40
_FACTS_BYTES_PER_PARTITION = (1000 // _FACTS_MS_PER_MB) << 20


def _kernel_input(df: DataFrame, id_col: str, text_col: str,
                  by_doc: bool = False,
                  bytes_per_partition: int = DEFAULT_BYTES_PER_PARTITION
                  ) -> DataFrame:
    """The input of every pipeline kernel: (doc_id long, __text) rows,
    sized by parallel.py at the kernel's own work density
    (`bytes_per_partition`), which hash-partitions them on doc_id when it
    splits them. With `by_doc`, an input it leaves as it is is
    hash-partitioned on doc_id too, so each doc's rows share a partition.
    Ships the package: the kernels import diagon_spark on executors."""
    from diagon_spark._ship import ensure_shipped
    ensure_shipped(df.sparkSession)
    src = df.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(text_col).alias("__text"))
    t = ensure_min_parallelism(src, "doc_id", bytes_per_partition)
    if by_doc and t is src:
        t = src.repartition("doc_id")
    return t


def _token_rows(df: DataFrame, id_col: str, text_col: str, cols_of,
                fields: list[tuple[str, str]]) -> DataFrame:
    """An Arrow-batched kernel over each row's pipeline tokens:
    `cols_of(tokens)` gives the row's output as one equal-length
    collection per (name, Arrow type) of `fields`; each output row is
    prefixed with the row's doc_id."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema
    schema = pa.schema([("doc_id", pa.int64())]
                       + [(n, pa.type_for_alias(t)) for n, t in fields])

    def kernel(batches):
        from diagon_spark.analysis.tokenizer import pipeline_tokens
        for batch in batches:
            cols: list[list] = [[] for _ in schema]
            for did, text in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                out = cols_of(pipeline_tokens(text or ""))
                cols[0] += [did] * len(out[0])
                for c, v in zip(cols[1:], out):
                    c += v
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)],
                schema=schema)

    return _kernel_input(df, id_col, text_col).mapInArrow(
        kernel, from_arrow_schema(schema))


def _facts_kernel(batches):
    """mapInArrow body: (doc_id, text) batches -> (doc_id, *_FACTS).
    n_chars counts code points (Spark's `length`); n_stop counts distinct
    stopword tokens; token_chars sums token lengths; alnum_chars counts
    [a-z0-9] in the lowercased text. Every such char lies in a token, so
    it is token_chars less the tokens' apostrophes."""
    import pyarrow as pa
    from diagon_spark.analysis.tokenizer import pipeline_tokens
    stop = frozenset(w.encode() for w in STOPWORDS)
    for batch in batches:
        cols: list[list] = [[] for _ in _FACTS]
        for text in batch.column(1).to_pylist():
            if text is None:
                for c in cols:
                    c.append(None)
                continue
            toks = pipeline_tokens(text)
            distinct = set(toks)
            joined = b"".join(toks)
            for c, v in zip(cols, (len(text), len(toks), len(distinct),
                                   len(distinct & stop), len(joined),
                                   len(joined) - joined.count(b"'"))):
                c.append(v)
        yield pa.RecordBatch.from_arrays(
            [batch.column(0)] + [pa.array(c, pa.int64()) for c in cols],
            names=["doc_id", *_FACTS])


def _text_facts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return _kernel_input(
        df, id_col, text_col,
        bytes_per_partition=_FACTS_BYTES_PER_PARTITION).mapInArrow(
            _facts_kernel, _FACTS_SCHEMA)


def _sized(fact: str):
    """A size() fact: a NULL text has no token array, and size() of one
    follows the session's ANSI / legacy sizeOfNull setting (NULL or -1)."""
    return F.coalesce(F.col(fact),
                      F.size(F.lit(None).cast("array<string>")))


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc token count + distinct-token count (BPE-ish regex counting)."""
    f = _text_facts(df, id_col, text_col)
    return f.select(
        "doc_id",
        _sized("n_tokens").alias("n_tokens"),
        _sized("n_distinct").alias("n_distinct"),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Heuristic quality metrics: length, alnum ratio, stopword ratio,
    mean token length — the usual pretraining-data quality features."""
    f = _text_facts(df, id_col, text_col)
    n_tok = _sized("n_tokens")
    return f.select(
        "doc_id",
        F.col("n_chars").alias("n_chars_raw"),
        n_tok.alias("n_tokens"),
        F.round(F.col("alnum_chars").cast("double") /
                F.greatest("n_chars", F.lit(1)), 6).alias("alnum_ratio"),
        F.round(_sized("n_stop").cast("double") /
                F.greatest(_sized("n_distinct"), F.lit(1)), 6)
        .alias("stopword_ratio"),
        F.round(F.col("token_chars").cast("double")
                / F.greatest(n_tok, F.lit(1)), 6).alias("mean_token_len"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """n-gram/stopword-heuristic language ID: docs whose distinct-token
    overlap with an English stopword list exceeds a threshold -> 'en',
    else 'unknown'. (Real model swapped in where fasttext/cld3 exists.)"""
    f = _text_facts(df, id_col, text_col)
    ratio = (_sized("n_stop").cast("double")
             / F.greatest(_sized("n_distinct"), F.lit(1)))
    return f.select(
        "doc_id",
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))
        .alias("lang_pred"),
        F.round(ratio, 6).alias("stopword_ratio"),
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Document fingerprint = md5 over the normalized token stream (the
    content-defined analogue of a rolling hash at doc granularity): the
    tokens joined by one space, so a NULL text gives md5("")."""
    return _token_rows(df, id_col, text_col,
                       lambda toks: ([md5(b" ".join(toks)).hexdigest()],),
                       [("fingerprint", "string")])
