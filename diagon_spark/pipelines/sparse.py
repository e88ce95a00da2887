"""Sparse-vector retrieval — the SINDI/QBlock analogue
(sparse/SindiIndex.h:71-163, sparse/SindiScorer.h:45-111): value-storing
posting lists where score(q, d) = Σ_t q_w(t) · d_w(t), answered by
scatter-add over the query terms' postings.

Spark-first restatement: the value postings are a plain DataFrame
(term, doc_id, weight) bucketed by term — the scatter-add IS
`groupBy(doc_id).sum(q_w * weight)`, whole-stage-codegen'd by Catalyst,
no UDF at all. Weights here are deterministic tf·idf (double) standing in
for learned-sparse weights (SPLADE-style models emit exactly this shape);
swap the weight column for model outputs and nothing else changes. The
term frequencies come from an Arrow-batched kernel on the pipeline
tokenizer (`analysis.tokenizer.pipeline_tokens`).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from diagon_spark.pipelines.textstats import _token_rows


def _term_counts(toks):
    tf = Counter(toks)
    return tf.keys(), tf.values()


def build_value_postings(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """(term, doc_id, weight) value postings with tf·idf weights.

    weight = tf * ln(1 + (N - df + 0.5)/(df + 0.5)) in double — the same
    idf form the BM25 engine uses, so the two paths share semantics.

    A kernel counts each row's tokens; the sum over (doc_id, term) merges
    a doc_id repeated across rows, and N counts distinct doc_ids, like
    df. N is a one-row aggregate joined in, so no job starts before an
    action.
    """
    tf = (_token_rows(df, id_col, text_col, _term_counts,
                      [("term", "string"), ("tf", "int64")])
          .groupBy("doc_id", "term").agg(F.sum("tf").alias("tf")))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).cast("double")
                    .alias("__n"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (tf.join(dfreq, "term").crossJoin(n_docs)
            .select("term", "doc_id",
                    (F.col("tf") *
                     F.log(F.lit(1.0) + (F.col("__n") - F.col("df")
                                         + F.lit(0.5)) / (F.col("df") + F.lit(0.5))))
                    .alias("weight")))


def term_meta(postings: DataFrame) -> DataFrame:
    """Per-term upper-bound metadata (term, max_weight, df) — the QBlock
    per-block impact table collapsed to term granularity
    (sparse/QBlockIndex.h:21-139). Tiny (vocab-sized); on a cluster it is
    written once next to the postings and broadcast at query time."""
    return postings.groupBy("term").agg(
        F.max("weight").alias("max_weight"),
        F.count("*").alias("df"))


def quantize_weights(postings: DataFrame, bits: int = 8) -> DataFrame:
    """Optional uint8 weight quantization (BlockMaxQuantizedIndex.h:56-89):
    qweight = ceil(weight / scale) with per-term scale = max_weight / 255,
    so dequantized values are SOUND UPPER BOUNDS (qweight·scale >= weight)
    — candidates pruned with quantized scores can never lose a true
    top-k doc; exact rescore uses the full-precision weight column."""
    levels = float((1 << bits) - 1)
    meta = postings.groupBy("term").agg(F.max("weight").alias("_mw"))
    return (postings.join(meta, "term")
            .withColumn("qweight",
                        F.ceil(F.col("weight") * levels / F.col("_mw"))
                        .cast("int"))
            .withColumn("scale", F.col("_mw") / levels)
            .drop("_mw"))


def sparse_topk_maxscore(postings: DataFrame, query: dict[str, float],
                         k: int = 10,
                         meta: DataFrame | None = None) -> DataFrame:
    """EXACT top-k with MaxScore pruning (SindiScorer.h:45-111 /
    MaxScoreBulkScorer restated batch-style):

    1. per-term upper bounds ub_t = q_w(t)·max_weight(t) from the (tiny)
       meta table — one driver-side collect of |query| rows;
    2. θ = k-th exact score over the single largest-ub term's postings
       (a LOWER bound on the final k-th score, since those docs' final
       scores only grow);
    3. ESSENTIAL terms = minimal ub-descending prefix whose excluded
       suffix sums below θ: a doc matching only non-essential terms
       scores < θ — provably non-competitive, its postings rows are
       never aggregated;
    4. exact scores = essential postings scatter-add, PLUS non-essential
       postings semi-joined to the candidate doc set (runtime row-level
       skipping — the scan of heavy low-impact terms reduces to candidate
       rows only).

    Results are bit-identical to the exhaustive sparse_topk (driver-gate
    checked); only work is skipped, never weight. With quantized postings
    the candidate phase can read the uint8 column (sound upper bounds,
    see quantize_weights) and rescore exactly — same guarantee.
    """
    m = (meta if meta is not None else term_meta(postings))
    rows = (m.filter(F.col("term").isin(list(query)))
            .select("term", "max_weight").collect())
    ubs = sorted(((float(query[r.term]) * float(r.max_weight), r.term)
                  for r in rows), reverse=True)
    if not ubs:
        return (postings.select(F.col("doc_id"),
                                F.lit(0.0).alias("score"))
                .filter(F.lit(False)))
    qmap = F.create_map(*[F.lit(x) for kv in query.items() for x in kv])

    # θ probe: exact top-k of the largest-ub term alone
    t0 = ubs[0][1]
    probe = (postings.filter(F.col("term") == t0)
             .select("doc_id",
                     (F.lit(float(query[t0])) * F.col("weight"))
                     .alias("s"))
             .orderBy(F.desc("s")).limit(k).collect())
    theta = float(probe[-1].s) if len(probe) >= k else float("-inf")

    # minimal essential prefix: one O(n) walk from the tail, shrinking
    # the prefix while the dropped-suffix upper-bound sum stays < θ —
    # a dropped term alone can then never lift a doc past θ
    n_ess = len(ubs)
    suffix = 0.0
    while n_ess > 1 and suffix + ubs[n_ess - 1][0] < theta:
        suffix += ubs[n_ess - 1][0]
        n_ess -= 1
    essential = [t for _ub, t in ubs[:n_ess]]
    non_essential = [t for _ub, t in ubs[n_ess:]]

    ess = (postings.filter(F.col("term").isin(essential))
           .select("doc_id",
                   (qmap[F.col("term")] * F.col("weight")).alias("part")))
    partial = ess.groupBy("doc_id").agg(F.sum("part").alias("dot"))
    if non_essential:
        cand = partial.select("doc_id")
        ne = (postings.filter(F.col("term").isin(non_essential))
              .join(cand, "doc_id", "left_semi")
              .select("doc_id",
                      (qmap[F.col("term")] * F.col("weight")).alias("part"))
              .groupBy("doc_id").agg(F.sum("part").alias("dot")))
        hits = (partial.unionByName(ne)
                .groupBy("doc_id").agg(F.sum("dot").alias("dot")))
    else:
        hits = partial
    return (hits.select("doc_id", F.round("dot", 6).alias("score"))
            .orderBy(F.desc("dot"), F.asc("doc_id")).limit(k))


def window_meta(postings: DataFrame, window: int = 4096) -> DataFrame:
    """Per-(term, doc-window) maxima — the QBlock per-block impact table
    at its real granularity (sparse/QBlockIndex.h:21-139): win =
    doc_id // window, max over the term's weights inside that window.
    If the postings carry quantized weights (quantize_weights), the
    maxima use the DEQUANTIZED sound upper bounds qweight·scale >= weight
    (index/BlockMaxQuantizedIndex.h:56-89) — pruning bounds stay sound.
    On a cluster this table is written once next to the postings
    (vocab × windows rows, ~postings/window in size)."""
    w = (F.col("qweight") * F.col("scale")
         if "qweight" in postings.columns else F.col("weight"))
    return (postings
            .withColumn("win", F.floor(F.col("doc_id") / window))
            .groupBy("term", "win")
            .agg(F.max(w).alias("max_weight")))


def sparse_topk_qblock(postings: DataFrame, query: dict[str, float],
                       k: int = 10, window: int = 4096,
                       wmeta: DataFrame | None = None) -> DataFrame:
    """EXACT top-k with BLOCK-granular (doc-window) pruning — the QBlock
    / BlockMaxQuantizedIndex semantics (sparse/QBlockIndex.h:21-139,
    index/BlockMaxQuantizedIndex.h:56-89):

    1. θ = k-th exact score of the largest-ub term's postings (lower
       bound on the final k-th score, as in sparse_topk_maxscore);
    2. window upper bound ub(w) = Σ_t q_w(t)·block_max(t, w); a window
       with ub(w) < θ cannot hold a top-k doc (every doc's score is
       bounded by its window's ub), and the probe's top-k docs sit in
       windows with ub >= θ, so pruning is sound;
    3. only surviving windows' postings rows are aggregated (a tiny
       broadcast semi-join on win).

    This prunes where term-granularity MaxScore cannot: a term whose
    single outlier weight inflates its GLOBAL max to ub >= θ makes the
    whole term essential at term granularity, but only the outlier's
    window survives here. Results are bit-identical to the exhaustive
    sparse_topk — only work is skipped, never weight."""
    m = (wmeta if wmeta is not None else window_meta(postings, window))
    m = m.filter(F.col("term").isin(list(query)))
    qmap = F.create_map(*[F.lit(x) for kv in query.items() for x in kv])

    # per-term GLOBAL ubs (max over windows) -> θ probe term
    rows = (m.groupBy("term").agg(F.max("max_weight").alias("mw"))
            .collect())
    ubs = sorted(((float(query[r.term]) * float(r.mw), r.term)
                  for r in rows), reverse=True)
    if not ubs:
        return (postings.select(F.col("doc_id"),
                                F.lit(0.0).alias("score"))
                .filter(F.lit(False)))
    t0 = ubs[0][1]
    probe = (postings.filter(F.col("term") == t0)
             .select("doc_id",
                     (F.lit(float(query[t0])) * F.col("weight"))
                     .alias("s"))
             .orderBy(F.desc("s")).limit(k).collect())
    theta = float(probe[-1].s) if len(probe) >= k else float("-inf")

    qp = (postings.filter(F.col("term").isin(list(query)))
          .withColumn("win", F.floor(F.col("doc_id") / window)))
    if theta > float("-inf"):
        live = (m.withColumn("ub", qmap[F.col("term")]
                             * F.col("max_weight"))
                .groupBy("win").agg(F.sum("ub").alias("win_ub"))
                .filter(F.col("win_ub") >= theta)
                .select("win"))
        qp = qp.join(F.broadcast(live), "win", "left_semi")
    hits = (qp.select("doc_id",
                      (qmap[F.col("term")] * F.col("weight")).alias("part"))
            .groupBy("doc_id").agg(F.sum("part").alias("dot")))
    return (hits.select("doc_id", F.round("dot", 6).alias("score"))
            .orderBy(F.desc("dot"), F.asc("doc_id")).limit(k))


def qblock_live_windows(postings: DataFrame, query: dict[str, float],
                        theta: float, window: int = 4096,
                        wmeta: DataFrame | None = None) -> set[int]:
    """Diagnostic: the windows surviving θ-pruning (test observability)."""
    m = (wmeta if wmeta is not None else window_meta(postings, window))
    qmap = F.create_map(*[F.lit(x) for kv in query.items() for x in kv])
    live = (m.filter(F.col("term").isin(list(query)))
            .withColumn("ub", qmap[F.col("term")] * F.col("max_weight"))
            .groupBy("win").agg(F.sum("ub").alias("win_ub"))
            .filter(F.col("win_ub") >= theta))
    return {int(r.win) for r in live.select("win").collect()}


def sparse_topk(postings: DataFrame, query: dict[str, float],
                k: int = 10) -> DataFrame:
    """Top-k docs by sparse dot product with the query vector.

    The scan touches only the query terms' postings (predicate pushdown);
    the scatter-add is a hash aggregation — map-side partial combine, one
    shuffle of (doc, partial-sum) pairs.
    """
    qdf = F.create_map(*[F.lit(x) for kv in query.items() for x in kv])
    hits = (postings.filter(F.col("term").isin(list(query)))
            .withColumn("q_w", qdf[F.col("term")])
            .groupBy("doc_id")
            .agg(F.sum(F.col("q_w") * F.col("weight")).alias("dot")))
    return (hits.select("doc_id", F.round("dot", 6).alias("score"))
            .orderBy(F.desc("dot"), F.asc("doc_id")).limit(k))
