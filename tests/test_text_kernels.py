"""The Arrow kernels behind `token_counts`, `quality_scores`,
`language_id`, `simhash`, `shingles`, `fingerprints` and
`build_value_postings` against the JVM expression plans they replaced,
restated below as the reference: equal rows (as a multiset) and equal
schema (names and types).

Arrow batches hold 2 records and every input has at least 2 partitions,
so a doc_id repeated across rows reaches the kernels in several batches:
the simhash kernel must carry its signed sums across them, and the
shingle and value-postings plans must merge the doc's rows."""

import os
import sys
from collections import Counter

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from diagon_spark.corpus import generate_pandas
from diagon_spark.parallel import ensure_min_parallelism
from diagon_spark.analysis.tokenizer import TOKEN_RE
from diagon_spark.pipelines import dedup, sparse, textstats
from diagon_spark.pipelines.dedup import _h32
from diagon_spark.pipelines.textstats import STOPWORDS
from tests.test_entry_oracle import SF_DIR


# ------------------------------------------------ reference (JVM plans)

def _ref_tokens(df, text_col):
    return df.withColumn(
        "tokens",
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0))


def ref_token_counts(df, id_col="doc_id", text_col="text"):
    t = _ref_tokens(df, text_col)
    return t.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size("tokens").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_distinct"),
    )


def ref_quality_scores(df, id_col="doc_id", text_col="text"):
    t = _ref_tokens(df, text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tok = F.size("tokens")
    n_stop = F.size(F.array_intersect(F.array_distinct("tokens"), stop_arr))
    alnum_chars = F.length(F.regexp_replace(F.lower(F.col(text_col)),
                                            "[^a-z0-9]", ""))
    return t.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.length(text_col).cast("long").alias("n_chars_raw"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(alnum_chars.cast("double") /
                F.greatest(F.length(text_col), F.lit(1)), 6).alias("alnum_ratio"),
        F.round(n_stop.cast("double") /
                F.greatest(F.size(F.array_distinct("tokens")), F.lit(1)), 6)
        .alias("stopword_ratio"),
        F.round((F.aggregate("tokens", F.lit(0).cast("long"),
                             lambda acc, x: acc + F.length(x)).cast("double"))
                / F.greatest(n_tok, F.lit(1)), 6).alias("mean_token_len"),
    )


def ref_language_id(df, id_col="doc_id", text_col="text"):
    t = _ref_tokens(df, text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = (F.size(F.array_intersect(F.array_distinct("tokens"), stop_arr))
             .cast("double")
             / F.greatest(F.size(F.array_distinct("tokens")), F.lit(1)))
    return t.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("unknown"))
        .alias("lang_pred"),
        F.round(ratio, 6).alias("stopword_ratio"),
    )


def ref_simhash(df, id_col="doc_id", text_col="text", bits=32):
    t = df.select(F.col(id_col).cast("long").alias("doc_id"),
                  F.col(text_col))
    t = _ref_tokens(t, text_col).select(
        "doc_id", F.explode("tokens").alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    h = tf.withColumn("h", _h32(F.col("token")))
    per_bit = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1,
                     F.col("tf")).otherwise(-F.col("tf"))).alias(f"s_{j}")
        for j in range(bits)]
    agg = h.groupBy("doc_id").agg(*per_bit)
    return agg.select(
        "doc_id",
        sum((F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
             for j in range(bits)), F.lit(0)).cast("long").alias("simhash"))


def ref_shingles(df, id_col="doc_id", text_col="text", k=3):
    t = df.select(F.col(id_col).cast("long").alias("doc_id"),
                  F.col(text_col))
    t = _ref_tokens(t, text_col).select("doc_id", "tokens")
    n = F.size("tokens")
    idxs = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    return t.select(
        "doc_id",
        F.explode(F.transform(idxs, lambda i:
                              F.concat_ws(" ", F.slice("tokens", i + 1, k))))
        .alias("shingle")).distinct()


def ref_fingerprints(df, id_col="doc_id", text_col="text"):
    t = _ref_tokens(df, text_col)
    return t.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.concat_ws(" ", "tokens")).alias("fingerprint"),
    )


def ref_build_value_postings(df, id_col="doc_id", text_col="text"):
    t = df.select(F.col(id_col).cast("long").alias("doc_id"),
                  F.col(text_col))
    t = _ref_tokens(t, text_col).select(
        "doc_id", F.explode("tokens").alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.agg(F.count_distinct(F.col(id_col))).first()[0]
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (tf.join(dfreq, "term")
            .select("term", "doc_id",
                    (F.col("tf") *
                     F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df")
                                         + F.lit(0.5)) / (F.col("df") + F.lit(0.5))))
                    .alias("weight")))


def shingles_3(df, id_col, text_col):
    return dedup.shingles(df, id_col, text_col, k=3)


def shingles_5(df, id_col, text_col):
    return dedup.shingles(df, id_col, text_col, k=5)


PAIRS = [(textstats.token_counts, ref_token_counts),
         (textstats.quality_scores, ref_quality_scores),
         (textstats.language_id, ref_language_id),
         (dedup.simhash, ref_simhash),
         (shingles_3, ref_shingles),
         (shingles_5, lambda df, i, t: ref_shingles(df, i, t, k=5)),
         (textstats.fingerprints, ref_fingerprints),
         (sparse.build_value_postings, ref_build_value_postings)]

# ------------------------------------------------------------- inputs

ADVERSARIAL = [
    None, "", "   \t\n ",
    "\u0130STANBUL \u0130yi",  # lowers to "i" + U+0307
    "KELVIN 5\u212a run",  # the Kelvin sign lowers to "k"
    "\u039f\u0394\u039f\u03a3 \u03c3\u03bf\u03c6\u03cc\u03c2 the",  # sigma
    "Stra\u00dfe STRASSE \u00df and",
    "a\U0001F600b \U00010400x",  # astral plane
    "don't 'quoted' rock' ''' it's the", "foo_bar __init__ snake_case of",
    "MiXeD CaSe The THE the", "x" * 50_000 + " the " + "y z " * 12_500,
]


@pytest.fixture(scope="module")
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield spark
    spark.conf.set(key, old)


def _adversarial(spark):
    # doc 7 repeats across 6 more rows (one of them empty), so its rows
    # span several 2-record batches, and two of them share shingles;
    # doc 8 has only token-less rows
    texts = ADVERSARIAL + ["The cat", "", "the dog of it", "a cat",
                           "\u0130 the", "   ", None,
                           "The dog of it, the cat"]
    ids = list(range(len(ADVERSARIAL))) + [7, 7, 7, 7, 7, 8, 8, 7]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": texts}),
        "doc_id long, text string").repartition(3)


@pytest.fixture(scope="module")
def inputs(tiny_batches, tmp_path_factory):
    """Each input reaches the kernels in >= 2 partitions: sf0.01 and the
    adversarial rows as they are, the corpus sample (one parquet file)
    through parallel.py's repartition."""
    spark = tiny_batches
    sample = generate_pandas(0, 1000)
    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": range(len(sample)), "text": sample["content"]})) \
        .coalesce(1).write.parquet(path)
    out = {"sf0.01": spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .select("doc_id", "text").repartition(2),
           "corpus": spark.read.parquet(path),
           "adversarial": _adversarial(spark)}
    for df in out.values():
        assert ensure_min_parallelism(df, "doc_id").rdd \
            .getNumPartitions() >= 2
    return out


def _assert_same(got, want):
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in want.schema.fields]
    g = Counter(map(tuple, got.collect()))
    w = Counter(map(tuple, want.collect()))
    assert g == w, (sorted(g - w, key=repr)[:5], sorted(w - g, key=repr)[:5])


@pytest.mark.parametrize("source", ["sf0.01", "corpus", "adversarial"])
@pytest.mark.parametrize("op,ref", PAIRS, ids=[p[0].__name__ for p in PAIRS])
def test_kernel_equals_jvm_reference(inputs, source, op, ref):
    df = inputs[source]
    _assert_same(op(df, "doc_id", "text"), ref(df, "doc_id", "text"))


@pytest.mark.parametrize("op,ref", PAIRS[:3], ids=[p[0].__name__
                                                   for p in PAIRS[:3]])
def test_null_text_follows_size_of_null(tiny_batches, op, ref):
    """With ANSI off, size() of a NULL array is -1, not NULL."""
    old = tiny_batches.conf.get("spark.sql.ansi.enabled")
    tiny_batches.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = _adversarial(tiny_batches)
        _assert_same(op(df, "doc_id", "text"), ref(df, "doc_id", "text"))
    finally:
        tiny_batches.conf.set("spark.sql.ansi.enabled", old)


def test_simhash_bits(tiny_batches):
    df = _adversarial(tiny_batches)
    for bits in (8, 40):
        _assert_same(dedup.simhash(df, bits=bits), ref_simhash(df, bits=bits))
