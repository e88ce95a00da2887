"""Deduplication operators for web/pretraining-scale corpora.

Exact (hash groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH
(band-bucket join), SimHash (hamming buckets). All shuffle-conscious:

* exact dedup groups on a 128-bit content hash — one shuffle, no skew
  (hash keys are uniform);
* Jaccard/minhash self-joins are joins on *shingle/bucket* keys, never a
  doc×doc cross join; hot shingles (boilerplate lines) are capped with a
  max-df filter before the join, the standard web-dedup skew guard;
* all hashes derive from md5 so an ANSI-SQL oracle can reproduce them.

Shingles, MinHash and SimHash are Arrow-batched kernels on the pipeline
tokenizer (`analysis.tokenizer.pipeline_tokens`); no token array is
exploded into rows on the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from diagon_spark.analysis.tokenizer import shingle_set
from diagon_spark.pipelines.textstats import _kernel_input, _token_rows

# md5-derived 32-bit hash, reproducible in DuckDB:
#   CAST(concat('0x', substr(md5(s),1,8)) AS BIGINT)


def _h32(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact-duplicate clusters: md5(content) groups with >1 member."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
            .agg(F.count("*").cast("long").alias("n_dups"),
                 F.min(F.col(id_col).cast("long")).alias("keep_doc_id"))
            .filter(F.col("n_dups") > 1))


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             k: int = 3) -> DataFrame:
    """Distinct token k-gram shingles per doc: (doc_id, shingle), the k
    tokens joined by one space. A doc with fewer than k tokens has none.

    One Arrow-batched kernel emits each row's distinct shingles; the
    global distinct merges a doc_id repeated across rows."""
    return _token_rows(df, id_col, text_col,
                       lambda toks: (shingle_set(toks, k),),
                       [("shingle", "string")]).distinct()


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.8, max_shingle_df: int = 10_000
                  ) -> DataFrame:
    """Near-duplicate pairs with k-gram Jaccard >= threshold.

    Self-join on shingle (docs sharing no shingle never meet — this is
    the LSH-free exact variant); `max_shingle_df` drops boilerplate
    shingles that would create quadratic skew at web scale.
    """
    sh = shingles(df, id_col, text_col, k)
    hot = (sh.groupBy("shingle").count()
           .filter(F.col("count") > max_shingle_df).select("shingle"))
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    pairs = (sh.alias("a").join(sh.alias("b"), "shingle")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").cast("long").alias("n_common")))
    out = (pairs
           .join(sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_shingles", "n_a"), "doc_a")
           .join(sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_shingles", "n_b"), "doc_b")
           .withColumn("jaccard", F.round(
               F.col("n_common").cast("double") /
               (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6))
           .filter(F.col("jaccard") >= threshold)
           .select("doc_a", "doc_b", "n_common", "jaccard"))
    return out


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """MinHash signatures, deterministic and SQL-reproducible.

    One md5 digest carries FOUR independent 32-bit hashes (hex windows
    1-8, 9-16, 17-24, 25-32), so num_hashes permutations cost only
    ceil(num_hashes/4) md5 calls per shingle:
    h_i = int(md5((i//4) || ':' || shingle)[8*(i%4) : 8*(i%4)+8], 16).

    One Arrow-batched kernel (mapInPandas) hashes each row's distinct
    shingles (`shingle_set`: MIN over a multiset equals MIN over its
    set) and reads h_i as big-endian u32 windows of the digest bytes,
    exactly int(hex_window, 16). It replaced an explode → md5-expression
    → groupBy plan whose transform/slice HOFs are CodegenFallback
    (measured 8.4 s at 50k docs / 32 cores, against ~1 s). A doc with
    < k tokens has no signature row. The trailing groupBy merges a
    doc_id repeated across rows or batches (MIN over the union of their
    shingles, as the SQL oracle's GROUP BY); a partial aggregate runs
    below its exchange, so it moves about one 17-long row per (doc_id,
    partition), and the shingle stream crosses no shuffle.
    """
    n_digests = (num_hashes + 3) // 4
    schema = ("doc_id long, "
              + ", ".join(f"mh_{i} long" for i in range(num_hashes)))

    def kernel(batches):
        from hashlib import md5
        import numpy as np
        import pandas as pd
        from diagon_spark.analysis.tokenizer import pipeline_tokens
        prefixes = tuple(f"{g}:".encode() for g in range(n_digests))
        _md5 = md5
        for pdf in batches:
            ids: list[int] = []
            mins: list = []
            for did, text in zip(pdf["doc_id"].tolist(),
                                 pdf["__text"].tolist()):
                sh = shingle_set(pipeline_tokens(text or ""), k)
                if not sh:
                    continue
                buf = b"".join(
                    b"".join(_md5(p + s).digest() for p in prefixes)
                    for s in sh)
                arr = np.frombuffer(buf, dtype=">u4") \
                    .reshape(-1, n_digests * 4)[:, :num_hashes]
                ids.append(did)
                mins.append(arr.min(axis=0))
            m = (np.asarray(mins, dtype=np.int64) if ids
                 else np.zeros((0, num_hashes), np.int64))
            yield pd.DataFrame({
                "doc_id": np.asarray(ids, dtype=np.int64),
                **{f"mh_{i}": m[:, i] for i in range(num_hashes)}})

    # merge repeated doc_ids (split across rows or Arrow batches): MIN
    # per hash over the union of their shingles — identical to the old
    # groupBy-over-shingles semantics and the SQL oracle's GROUP BY
    return (_kernel_input(df, id_col, text_col)
            .mapInPandas(kernel, schema=schema)
            .groupBy("doc_id")
            .agg(*[F.min(f"mh_{i}").alias(f"mh_{i}")
                   for i in range(num_hashes)]))


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 3,
                           num_hashes: int = 16, band_size: int = 2
                           ) -> DataFrame:
    """LSH banding: docs sharing any (band_id, band_hash) bucket are
    candidate near-dups. Join is on bucket keys — linear, not quadratic.

    Band projection is ONE posexplode over an array of band-hash columns
    (not an n-way union of selects, which re-derives the signature
    aggregation once per band unless ReuseExchange happens to fire —
    measured 3x slower)."""
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    band_cols = [
        F.md5(F.concat_ws("_", *[F.col(f"mh_{b * band_size + j}")
                                 .cast("string")
                                 for j in range(band_size)]))
        for b in range(num_hashes // band_size)]
    buckets = sig.select(
        "doc_id", F.posexplode(F.array(*band_cols))
        .alias("band", "band_hash"))
    # no persist: the adaptive plan reuses the signature aggregation's
    # exchange on both sides of the self-join (ReusedExchange), so the
    # minhash kernel runs once per action and no cached block outlives it
    pairs = (buckets.alias("a").join(buckets.alias("b"), ["band", "band_hash"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


def _simhash_kernel(bits: int):
    """mapInArrow body over (doc_id, text) rows sorted by doc_id within
    the partition -> (doc_id, simhash). Each doc's signed sums
    s_j = sum over tokens of tf * (+1 if hash bit j is set else -1) are
    carried across its rows and Arrow batches until the next doc_id, so
    a repeated doc_id is one doc, as in a groupBy(doc_id, token)."""

    def kernel(batches):
        from collections import Counter
        from hashlib import md5
        import numpy as np
        import pyarrow as pa
        from diagon_spark.analysis.tokenizer import pipeline_tokens
        n_bits = min(bits, 32)  # _h32 has 32 bits; higher s_j are < 0
        place = np.left_shift(np.int64(1), np.arange(n_bits, dtype=np.int64))
        h32: dict[bytes, int] = {}

        def finished(ids, sums, n_tok):
            keep = n_tok > 0  # a doc without tokens has no row
            return pa.RecordBatch.from_arrays(
                [pa.array([d for d, k in zip(ids, keep) if k], pa.int64()),
                 pa.array(((sums[keep] > 0) * place).sum(axis=1),
                          pa.int64())],
                names=["doc_id", "simhash"])

        carry = None  # ([doc_id], sums[1, n_bits], n_tok[1]) of the last doc
        for batch in batches:
            if len(h32) > 1 << 20:  # bound the token-hash cache
                h32.clear()
            run_ids: list = []
            run_of, hs, tfs = [], [], []
            for did, text in zip(batch.column(0).to_pylist(),
                                 batch.column(1).to_pylist()):
                if not run_ids or did != run_ids[-1]:
                    run_ids.append(did)
                r = len(run_ids) - 1
                for tok, tf in Counter(pipeline_tokens(text or "")).items():
                    h = h32.get(tok)
                    if h is None:
                        h = h32[tok] = int.from_bytes(md5(tok).digest()[:4],
                                                      "big")
                    run_of.append(r)
                    hs.append(h)
                    tfs.append(tf)
            if not run_ids:
                continue
            n = len(run_ids)
            run_of = np.asarray(run_of, np.int64)
            h = np.asarray(hs, np.uint32)
            tf = np.asarray(tfs, np.int64)
            n_tok = np.bincount(run_of, tf, n).astype(np.int64)
            sums = np.empty((n, n_bits), np.int64)
            for j in range(n_bits):
                sums[:, j] = np.bincount(
                    run_of, np.where((h >> j) & 1, tf, -tf), n)
            if carry is not None:
                if carry[0][0] == run_ids[0]:
                    sums[0] += carry[1][0]
                    n_tok[0] += carry[2][0]
                else:
                    yield finished(*carry)
            yield finished(run_ids[:-1], sums[:-1], n_tok[:-1])
            carry = (run_ids[-1:], sums[-1:], n_tok[-1:])
        if carry is not None:
            yield finished(*carry)

    return kernel


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """SimHash over tokens: sign-sum of per-token hash bits, weighted by tf.

    Bit j of simhash = 1 iff Σ_tokens tf * (±1 for hash bit j) > 0, with
    the md5-derived token hash `_h32` the SQL oracle also uses. A doc_id
    repeated across rows is one doc; a doc with no token has no row.

    One Arrow-batched kernel (`_simhash_kernel`): the narrow (doc_id,
    text) rows are hash-partitioned on doc_id (sized by parallel.py) and
    sorted within partitions, so each doc's rows are adjacent and the
    kernel carries its 32 signed sums across rows and batches. No token
    row crosses a shuffle and no 32-column aggregate runs.
    """
    return (_kernel_input(df, id_col, text_col, by_doc=True)
            .sortWithinPartitions("doc_id")
            .mapInArrow(_simhash_kernel(bits), "doc_id long, simhash long"))
