"""Searcher — the IndexSearcher analogue (search/IndexSearcher.cpp:50-135).

The reader core is a LocalSearcher over the same catalog (local_reader.py):
collection stats and term_dict lookups are pyarrow reads, so planning —
the FST term-seek analogue, each leaf's SimScorer constants computed once
per query like Weight creation (TermQuery.cpp:184-259) — starts no Spark
job. After planning a query is routed by the df values it just read:

  * driver: no Range/MatchAll clause and a summed df of at most
      _DOCS_PER_SCORE_TASK (the work bound of one Spark scoring task) —
      the reader core scores it with the kernels the executors run, and
      the top-k comes back as a LocalRelation DataFrame (no Spark job);
  * Spark: everything else runs the distributed plan (SURVEY.md §3.1):
      stage 1: scan ONLY the pruned postings rows (partition pruning on
        bucket + parquet predicate/bloom pushdown on term; positions
        column read only for phrase queries — column pruning);
      stage 2: per segment group, the reader core's per-segment loop
        (local_reader.segment_hits over the wand.py block-max kernels),
        emitting each segment's local top-k;
      stage 3: one tiny shuffle — global orderBy(score desc, doc_id asc)
        limit k, the TopScoreDocCollector tie-break.

Nested query trees (boolean-of-phrase/boolean/range — BooleanQuery.cpp
rewrite/composition semantics) run through the same stages; Range /
MatchAll clauses become aux doc-set DataFrames COGROUPED with the
postings scan per segment, so constant-score clauses never collect to
the driver.

Deletes are scale-safe: the tombstone table (doc_id, segment_id) — the
one live-docs input, written by index/deletes.py — is cogrouped into the
scoring UDF as another aux set and masked before top-k selection — never
a driver-collected id list, never an `isin` literal in the plan, and k
is NOT inflated (the live-docs bitmap of codecs/LiveDocsFormat.h:18-47
applied at scorer level). The driver substrate masks the same
tombstones per touched segment.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from diagon_spark.index.builder import IndexCatalog, term_bucket
from diagon_spark.search.local_reader import (BASE_COLS, POS_COLS,
                                              LocalSearcher, segment_groups,
                                              segment_hits, segment_ids,
                                              term_filter)
from diagon_spark.search.planner import PlannerMixin
from diagon_spark.search.query import (MatchAll, MatchNone, Query, Range,
                                       Term, rewrite)

_HIT_SCHEMA = "doc_id long, score double"
_TOTAL_SCHEMA = ("doc_id long, score double, segment_id int, "
                 "seg_total long, seg_exact boolean, "
                 "seg_blocks long, seg_blocks_dec long")
_COUNT_SCHEMA = "segment_id int, n long"
_IDS_SCHEMA = "doc_id long"

# upper bound on the doc-span one scoring task covers (segments batched
# per task until their combined maxDoc reaches this): bounds a task's
# decoded-postings working set to cache scale, and makes the scoring
# decomposition core-count-independent on large corpora. It is also the
# routing bound: a query whose postings fit one such task scores on the
# driver (Searcher._scores_on_driver)
_DOCS_PER_SCORE_TASK = 100_000


class _FilterCache:
    """LRU of materialized filter doc sets — the FilterCache /
    CachingWrapperQuery analogue (SURVEY §2.3 filter-cache row): a Range /
    MatchAll clause reused across queries hits a persisted
    (MEMORY_AND_DISK) (segment_id, doc_id) DataFrame instead of
    re-scanning the docs table. Eviction unpersists."""

    def __init__(self, capacity: int = 32):
        from collections import OrderedDict
        self.capacity = capacity
        self._map: "OrderedDict[tuple, object]" = OrderedDict()

    def get(self, key: tuple, build):
        if key in self._map:
            self._map.move_to_end(key)
            return self._map[key]
        from pyspark import StorageLevel
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        self._map[key] = df
        if len(self._map) > self.capacity:
            _, old = self._map.popitem(last=False)
            old.unpersist()
        return df


class Searcher(PlannerMixin):
    def __init__(self, spark: SparkSession, catalog: IndexCatalog):
        from diagon_spark._ship import ensure_shipped
        ensure_shipped(spark)
        self.spark = spark
        self.cat = catalog
        self.default_field = catalog.default_field
        # the reader core: stats, term_dict, tombstones and
        # driver-substrate scoring
        self._reader = LocalSearcher(catalog)
        self.field_stats = self._reader.field_stats
        self.max_doc = self._reader.max_doc
        self.filter_cache = _FilterCache()

    # Spark sources, read at the first call that runs on Spark from the
    # files the reader core listed at open, with the schemas it read: no
    # inference job, so opening a Searcher and driver-substrate queries
    # start none, and both substrates serve the commit the Searcher was
    # opened at. Reads stay lazy and pruned; open a new Searcher to see a
    # later commit.

    def _pinned(self, dataset, path: str) -> DataFrame:
        from pyspark.sql.pandas.types import from_arrow_schema
        return (self.spark.read.schema(from_arrow_schema(dataset.schema))
                .option("basePath", path).parquet(*dataset.files))

    @cached_property
    def _postings_src(self) -> DataFrame:
        return self._pinned(self._reader._postings_ds, self.cat.postings_path)

    @cached_property
    def _docs_src(self) -> DataFrame:
        return self._pinned(self._reader._docs_ds, self.cat.docs_path)

    @cached_property
    def _deleted_df(self) -> DataFrame | None:
        """The tombstone table, kept DISTRIBUTED (None without one)."""
        tomb = self._reader._tomb_ds
        return (None if tomb is None else
                self._pinned(tomb, f"{self.cat.root}/deleted")
                .select("doc_id", "segment_id").distinct())

    @property
    def deleted(self) -> np.ndarray:
        """Tombstoned doc ids, sorted — read by the reader core for the
        MatchAll count and tests; queries mask per segment."""
        return self._reader.deleted

    # ------------------------------------------------------- routing

    def term_stats(self, pairs: list[tuple[str, str]]
                   ) -> dict[tuple[str, str], tuple[int, int]]:
        """(field, term) -> (df, cttf), read by the reader core."""
        return self._reader.term_stats(pairs)

    def _summed_df(self, spec: dict) -> int:
        """Postings the spec's distinct terms hold — its scoring work."""
        return sum(df for df, _ in
                   self.term_stats(spec["all_terms"]).values())

    def _scores_on_driver(self, spec: dict) -> bool:
        """The substrate decision: a spec without Range/MatchAll aux
        clauses whose postings fit one Spark scoring task scores on the
        driver; three Spark jobs would cost far more than its scoring."""
        return (not spec.get("aux_specs")
                and self._summed_df(spec) <= _DOCS_PER_SCORE_TASK)

    def _hits_df(self, docs: np.ndarray, scores: np.ndarray) -> DataFrame:
        """Driver-scored hits, in collector order, as a DataFrame built
        from an Arrow table — a LocalRelation, which collects with no
        Spark job (a Python-list DataFrame runs a parallelize job)."""
        return self.spark.createDataFrame(pa.table({
            "doc_id": pa.array(docs.astype(np.int64)),
            "score": pa.array(scores.astype(np.float64))}))

    def _scored(self, spec: dict, k: int, f64: bool, on_driver: bool
                ) -> tuple[list[tuple[int, float]], list[dict]]:
        """Top-k hits plus one counters dict per scored segment (total,
        exact, blocks_total, blocks_decoded, segment_id) on the given
        substrate."""
        if on_driver:
            docs, scores, stats = self._reader._top_hits(spec, k, f64, None)
            return (list(zip(docs.tolist(),
                             scores.astype(np.float64).tolist())), stats)
        rows = self._run_spec(spec, _TOTAL_SCHEMA, k=k, f64=f64,
                              after=None).collect()
        by_seg: dict[int, dict] = {}
        scored = []
        for r in rows:
            if r.doc_id >= 0:  # doc_id -1 = counters-only marker
                scored.append((r.score, r.doc_id))
            by_seg.setdefault(r.segment_id, {
                "segment_id": r.segment_id, "total": r.seg_total,
                "exact": r.seg_exact, "blocks_total": r.seg_blocks,
                "blocks_decoded": r.seg_blocks_dec})
        scored.sort(key=lambda x: (-x[0], x[1]))
        return [(d, s) for s, d in scored[:k]], list(by_seg.values())

    # --------------------------------------------------- postings scan

    def _postings(self, pairs: list[tuple[str, str]],
                  need_positions: bool) -> DataFrame:
        cols = POS_COLS if need_positions else BASE_COLS
        src = self._postings_src.select("bucket", *cols)
        if not pairs:
            return src.filter(F.lit(False))
        # bucket partition pruning + pushed field/term predicates
        return src.filter(term_filter(F.col, pairs, self.cat.num_buckets))

    # ----------------------------------------------------- aux doc sets

    def _aux_df(self, spec: dict) -> DataFrame | None:
        """Union of tombstones (set -1) and the spec's Range/MatchAll aux
        sets (set i) as (segment_id, doc_id, set_id) — cogrouped with the
        postings scan, one tiny extra shuffle input per segment."""
        parts: list[DataFrame] = []
        if self._deleted_df is not None:
            parts.append(self._deleted_df.select(
                F.col("segment_id"), F.col("doc_id"),
                F.lit(-1).cast("int").alias("set_id")))
        for i, q in enumerate(spec.get("aux_specs", [])):
            if isinstance(q, Range):
                key = ("range", q.field, q.lower, q.upper)
                src = self.filter_cache.get(
                    key, lambda q=q: self._range_docs(q, mask_deletes=False)
                    .select("segment_id", "doc_id"))
            else:  # MatchAll
                src = self.filter_cache.get(
                    ("matchall",),
                    lambda: self._docs_src.select("segment_id", "doc_id"))
            parts.append(src.select(
                F.col("segment_id").cast("int"),
                F.col("doc_id").cast("long"),
                F.lit(i).cast("int").alias("set_id")))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------ search

    def search(self, query: Query, k: int = 100, f64: bool = False,
               after: tuple[float, int] | None = None) -> DataFrame:
        """Top-k hits as a DataFrame (doc_id, score), best-first.

        f64=True scores in float64 (ANSI-SQL-reproducible, for the DuckDB
        oracle harness); default float32 matches the reference bit-wise.
        after=(score, doc_id) returns the next page strictly after that
        hit in collector order — searchAfter pagination
        (TopScoreDocCollector.h:22).
        """
        q = rewrite(query)
        if isinstance(q, MatchNone):
            return self.spark.createDataFrame([], _HIT_SCHEMA)
        if isinstance(q, MatchAll):
            score = F.lit(float(q.boost)).cast("double")
            return (self._mask_deleted(self._docs_src)
                    .select(F.col("doc_id"), score.alias("score"))
                    .orderBy(F.asc("doc_id")).limit(k))
        if isinstance(q, Range):
            # constant-score range over docs-table doc values; Catalyst +
            # parquet row-group stats provide the BKD-style pruning
            return (self._range_docs(q)
                    .select(F.col("doc_id"),
                            F.lit(float(q.boost)).cast("double")
                            .alias("score"))
                    .orderBy(F.asc("doc_id")).limit(k))

        spec = self.plan(q)
        if self._scores_on_driver(spec):
            docs, scores, _ = self._reader._top_hits(spec, k, f64, after)
            return self._hits_df(docs, scores)
        hits = self._run_spec(spec, _HIT_SCHEMA, k=k, f64=f64, after=after)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_with_total(self, query: Query, k: int = 100,
                          f64: bool = False
                          ) -> tuple[list[tuple[int, float]], int, str]:
        """Top-k + total hit count with relation — the TopDocs.totalHits
        analogue (TopScoreDocCollector.cpp:143-151, 237-246). Relation is
        "eq" when every segment enumerated its matches exactly, "gte"
        when Block-Max pruning stopped a segment early (the count is then
        a lower bound, like totalHitsThreshold collectors)."""
        q = rewrite(query)
        if isinstance(q, (MatchNone, MatchAll, Range)):
            n = self.count(q)
            hits = [(int(r.doc_id), float(r.score))
                    for r in self.search(q, k=k, f64=f64).collect()]
            return hits, n, "eq"
        spec = self.plan(q)
        hits, stats = self._scored(spec, k, f64,
                                   self._scores_on_driver(spec))
        exact = all(st["exact"] for st in stats)
        return (hits, sum(st["total"] for st in stats),
                "eq" if exact else "gte")

    def _run_spec(self, spec: dict, schema: str, *, k: int, f64: bool,
                  after, count_only: bool = False,
                  ids_only: bool = False) -> DataFrame:
        if spec["kind"] == "none":
            return self.spark.createDataFrame([], schema)
        postings_df = self._postings(spec["all_terms"],
                                     spec["need_positions"])
        aux_df = self._aux_df(spec)
        seg_fn = _make_segment_fn(spec, k, f64, after, schema, count_only,
                                  ids_only)
        # Scoring tasks are DECOUPLED from segment count (VERDICT r4 ask
        # #3): group on seg_grp = segment_id % n_grp, so a 512-segment
        # index at 8 cores runs ~100 scoring tasks of ~5 segments each
        # (one Arrow/UDF invocation per task, per-segment scoring looped
        # inside) instead of 512 per-segment UDF invocations. Two bounds:
        # at least 2x the session parallelism (scheduling), and at least
        # one group per _DOCS_PER_SCORE_TASK docs — a task's postings
        # working set must stay cache-sized regardless of core count.
        # The docs bound also keeps the DECOMPOSITION core-independent
        # once the corpus is large (same tasks at 1 and 4 cores), which
        # the scaling ladder requires for a fair efficiency number: the
        # parallelism-only formula gave a 1-core session 2 tasks of 16
        # segments (400k docs each) whose per-doc cost inflated ~50%
        # (the encode kernel's working-set superlinearity, same cause),
        # depressing the 1-core baseline into a bogus >1.0 efficiency.
        # Explicit repartition on the group key: the stage is CPU-bound
        # but tiny by bytes, so AQE's size-based coalescing would
        # otherwise collapse it to one task.
        size_grps = -(-max(self.max_doc, 1) // _DOCS_PER_SCORE_TASK)
        n_grp = max(1, min(self.cat.num_segments,
                           max(self.spark.sparkContext
                               .defaultParallelism * 2, size_grps)))
        grp = F.pmod(F.col("segment_id"), F.lit(n_grp)).cast("int")
        left = postings_df.withColumn("seg_grp", grp) \
            .repartition(n_grp, F.col("seg_grp"))
        if aux_df is None:
            # one parameter: PySpark reads a two-parameter fn as (key, pdf)
            return left.groupBy("seg_grp").applyInPandas(
                lambda pdf: seg_fn(pdf, None), schema=schema)
        right = aux_df.withColumn("seg_grp", grp) \
            .repartition(n_grp, F.col("seg_grp"))
        return (left.groupby("seg_grp")
                .cogroup(right.groupby("seg_grp"))
                .applyInPandas(seg_fn, schema=schema))

    def _mask_deleted(self, docs: DataFrame) -> DataFrame:
        """Live-docs mask via a (broadcastable) anti-join — no collected
        id list, no `isin` literal in the plan."""
        if self._deleted_df is None:
            return docs
        return docs.join(F.broadcast(self._deleted_df.select("doc_id")),
                         "doc_id", "left_anti")

    def _range_docs(self, query: Range, mask_deletes: bool = True
                    ) -> DataFrame:
        docs = self._docs_src
        col = F.col(query.field)
        if query.lower is not None:
            docs = docs.filter(col >= query.lower)
        if query.upper is not None:
            docs = docs.filter(col <= query.upper)
        return self._mask_deleted(docs) if mask_deletes else docs

    def fetch(self, hits: DataFrame, bulk: bool = False) -> DataFrame:
        """Stored-fields fetch (StoredFieldsReader analogue): attach the
        docs-table columns to top-k hits. Point path (default): the k doc
        ids are collected and pushed into the docs scan as an IN filter
        (parquet row-group stats skip everything else — the .fdx
        point-lookup analogue), then a broadcast join re-attaches scores.
        bulk=True skips the driver collect entirely (a plain broadcast
        join) — use when `hits` is large (exports, rerankers)."""
        if bulk:
            return (self._docs_src.join(F.broadcast(hits), "doc_id",
                                        "inner")
                    .orderBy(F.desc("score"), F.asc("doc_id")))
        ids = [int(r.doc_id) for r in hits.select("doc_id").collect()]
        stored = self._docs_src.filter(F.col("doc_id").isin(ids))
        return (stored.join(F.broadcast(hits), "doc_id", "inner")
                .orderBy(F.desc("score"), F.asc("doc_id")))

    def profile(self, query: Query, k: int = 100, f64: bool = False) -> dict:
        """Query-side observability — the SearchProfiler / query-metrics
        analogue (util/SearchProfiler.cpp, observability/Metrics.h):
        returns plan shape + the substrate `search` routes it to (with the
        summed df it decided on) + scan pruning facts + per-phase wall
        times + per-segment match totals for one executed search."""
        import time as _t
        t0 = _t.time()
        q = rewrite(query)
        if isinstance(q, (MatchNone, MatchAll, Range)):
            hits = self.search(q, k=k, f64=f64).collect()
            return {"kind": type(q).__name__.lower(),
                    "plan_ms": round((_t.time() - t0) * 1000, 2),
                    "hits_returned": len(hits)}
        spec = self.plan(q)
        on_driver = self._scores_on_driver(spec)
        plan_ms = (_t.time() - t0) * 1000
        t1 = _t.time()
        hits, stats = self._scored(spec, k, f64, on_driver)
        exec_ms = (_t.time() - t1) * 1000
        seg_totals = {st["segment_id"]: st["total"] for st in stats}
        blocks_total = sum(st["blocks_total"] for st in stats)
        blocks_decoded = sum(st["blocks_decoded"] for st in stats)
        return {
            "kind": spec["kind"],
            "substrate": "driver" if on_driver else "spark",
            "summed_df": self._summed_df(spec),
            "leaves": [list(p) for p in spec["all_terms"]],
            "buckets_scanned": sorted(
                {term_bucket(t, self.cat.num_buckets, f)
                 for f, t in spec["all_terms"]}),
            "num_buckets": self.cat.num_buckets,
            "positions_read": bool(spec["need_positions"]),
            "segments_matched": sum(1 for v in seg_totals.values() if v > 0),
            "per_segment_matches": seg_totals,
            "total_hits": sum(seg_totals.values()),
            "total_relation": ("eq" if all(st["exact"] for st in stats)
                               else "gte"),
            # Block-Max pruning observability: posting blocks the query's
            # terms HAVE vs blocks actually DECODED (skipped = difference)
            "blocks_total": blocks_total,
            "blocks_decoded": blocks_decoded,
            "blocks_skipped": blocks_total - blocks_decoded,
            "hits_returned": len(hits),
            "plan_ms": round(plan_ms, 2),
            "exec_ms": round(exec_ms, 2),
        }

    def matching_docs(self, query: Query) -> DataFrame:
        """ALL matching doc_ids as a DataFrame (no scoring, no top-k) —
        the COMPLETE_NO_SCORES DocIdCollector analogue
        (c_api/diagon_c_api.cpp:1497-1520). Feeds doc-values analytics
        (date_histogram) and export-style consumers; stays distributed
        end-to-end."""
        q = rewrite(query)
        if isinstance(q, MatchNone):
            return self.spark.createDataFrame([], _IDS_SCHEMA)
        if isinstance(q, MatchAll):
            return self._mask_deleted(self._docs_src).select(
                F.col("doc_id").cast("long"))
        if isinstance(q, Range):
            return self._range_docs(q).select(F.col("doc_id").cast("long"))
        spec = self.plan(q, force_tree=True)
        return self._run_spec(spec, _IDS_SCHEMA, k=0, f64=False,
                              after=None, ids_only=True)

    def histogram(self, field: str, min_value: float, interval: float,
                  num_buckets: int) -> DataFrame:
        """Fixed-interval histogram over a numeric doc-values column of
        ALL docs — diagon_compute_histogram parity
        (c_api/diagon_c_api.cpp:1257-1350): bucket = int((v-min)/interval),
        kept iff 0 <= bucket < num_buckets. Like the reference's BKD
        visitor (which walks point values with no live-docs check),
        tombstoned docs are counted until a merge purges them. Empty
        buckets are omitted (the C API's dense zero-filled array is a
        calling-convention detail). One parquet scan, parquet row-group
        stats prune out-of-range files, map-side combine on the bucket
        key."""
        v = F.col(field).cast("double")
        b = F.floor((v - F.lit(float(min_value))) / F.lit(float(interval)))
        return (self._docs_src
                .filter((b >= 0) & (b < num_buckets))
                .groupBy(b.cast("int").alias("bucket"))
                .agg(F.count("*").cast("long").alias("count"))
                .orderBy("bucket"))

    def date_histogram(self, query: Query, field: str, interval: float,
                       min_value: float, max_value: float) -> DataFrame:
        """Query-filtered fixed-interval histogram over a numeric
        doc-values column — diagon_search_with_date_histogram parity
        (c_api/diagon_c_api.cpp:1471-1600): docs matching `query` (match
        set only, no scoring) whose value lies in [min, max) bucket at
        key = floor((v-min)/interval)*interval + min; only non-empty
        buckets, ascending by key. The match set is produced distributed
        (matching_docs) and joined to the doc-values scan — Catalyst
        picks broadcast vs shuffle by match-set size."""
        vals = self._docs_src.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(field).cast("double").alias("__v"))
        vv = F.col("__v")
        key = (F.floor((vv - F.lit(float(min_value)))
                       / F.lit(float(interval)))
               * F.lit(float(interval)) + F.lit(float(min_value)))
        return (self.matching_docs(query).join(vals, "doc_id")
                .filter((vv >= min_value) & (vv < max_value))
                .groupBy(key.cast("double").alias("bucket_key"))
                .agg(F.count("*").cast("long").alias("count"))
                .orderBy("bucket_key"))

    def count(self, query: Query) -> int:
        """Hit count; O(1) from term_dict for a single live-index term
        (TermQuery.cpp:312-341 Weight::count analogue); arithmetic for
        MatchAll; columnar skip/bulk/scan for Range (ColumnarStore.h:9-13,
        parquet stats skip non-overlapping row groups). Everything else
        runs a COUNT-ONLY distributed path: per-segment match counting
        with no scoring-order sort and no top-k materialization
        (TotalHitCountCollector analogue)."""
        q = rewrite(query)
        if isinstance(q, MatchNone):
            return 0
        if isinstance(q, MatchAll):
            return self.max_doc - len(self.deleted)
        if isinstance(q, Term) and not self._reader._has_tombstones:
            key = (self._resolve_field(q.field), q.term)
            return self.term_stats([key])[key][0]
        if isinstance(q, Range):
            return self._range_docs(q).count()
        spec = self.plan(q, force_tree=True)
        counts = self._run_spec(spec, _COUNT_SCHEMA, k=0, f64=False,
                                after=None, count_only=True)
        row = counts.agg(F.sum("n").alias("n")).collect()[0]
        return int(row.n or 0)


def _make_segment_fn(spec: dict, k: int, f64: bool, after, schema: str,
                     count_only: bool, ids_only: bool = False):
    """Build the scoring function (pickled to executors). A group may
    carry SEVERAL segments (seg_grp batching — task count is decoupled
    from segment count): the task turns its frames into the reader core's
    per-segment loop inputs (local_reader.segment_groups) and packs that
    loop's output into `schema`. Cogrouped form: (postings_pdf, aux_pdf)
    where aux rows are (segment_id, doc_id, set_id); set -1 = tombstones,
    set i = the spec's i-th Range/MatchAll clause doc set."""
    with_total = "seg_total" in schema

    def seg_fn(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame | None
               ) -> pd.DataFrame:
        from diagon_spark._runtime import worker_init
        worker_init()
        aux_by_seg: dict[int, dict[int, np.ndarray]] = {}
        banned_by_seg: dict[int, np.ndarray] = {}
        if r_pdf is not None and len(r_pdf):
            for (seg, sid), grp in r_pdf.groupby(["segment_id", "set_id"]):
                ids = np.unique(grp["doc_id"].to_numpy(np.int64))
                if sid == -1:
                    banned_by_seg[int(seg)] = ids
                else:
                    aux_by_seg.setdefault(int(seg), {})[int(sid)] = ids
        groups = segment_groups(l_pdf.to_dict("records"), aux_by_seg,
                                banned_by_seg)

        if count_only or ids_only:
            parts = list(segment_ids(spec, groups))
            if ids_only:
                return pd.DataFrame({"doc_id": np.concatenate(
                    [np.zeros(0, np.int64), *(i for _, i in parts)])})
            return pd.DataFrame({
                "segment_id": np.asarray([g for g, _ in parts], np.int32),
                "n": np.asarray([len(i) for _, i in parts], np.int64)})

        docs, scores, counters = [], [], []
        for d, s, st in segment_hits(spec, groups, k, f64, after):
            if with_total and len(d) == 0:
                # zero hits must still report this segment's counters: one
                # marker row (doc_id -1 — real ids are >= 0), consumers
                # treat it as counters-only, never as a hit
                d, s = np.full(1, -1, np.int64), np.zeros(1, np.float64)
            docs.append(d)
            scores.append(np.asarray(s, dtype=np.float64))
            counters.append(st)
        out = {"doc_id": np.concatenate([np.zeros(0, np.int64), *docs]),
               "score": np.concatenate([np.zeros(0, np.float64), *scores])}
        if with_total:
            n = [len(d) for d in docs]
            for col, key, dt in (("segment_id", "segment_id", np.int32),
                                 ("seg_total", "total", np.int64),
                                 ("seg_exact", "exact", bool),
                                 ("seg_blocks", "blocks_total", np.int64),
                                 ("seg_blocks_dec", "blocks_decoded",
                                  np.int64)):
                out[col] = np.repeat(
                    np.asarray([st[key] for st in counters], dtype=dt), n)
        return pd.DataFrame(out)

    return seg_fn
