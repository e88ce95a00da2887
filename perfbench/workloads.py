"""The benchmark's workloads. Each takes (env, seed, seconds) and returns a
`Result`; see README.md for what each measures and why it was chosen.

Load comes from one process with one client thread (a closed loop: the
next call starts when the previous one returned).
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

import numpy as np

from perfbench import inputs
from perfbench.harness import SETUP_REPEATS
from perfbench.stats import class_geomean, median, summarize

N_SERVE = 1000          # serve corpus files
LOCAL_MIN_QUERIES = 180  # serve local loop floor: 3 rounds
LOCAL_PARTS = 3          # serve local loop parts, spread over the run
N_INGEST_BASE = 400     # ingest base index files
# the shares of scripts/soak_lifecycle.py: appends of n/20, deletes of
# n/40; it has no rewrites, so they take the delete share
INGEST_APPEND = N_INGEST_BASE // 20
INGEST_UPDATE = INGEST_DELETE = N_INGEST_BASE // 40
BUILD_ARGS = dict(num_buckets=4, positions=True)
SEGMENTS = 4
# the cycle adds an append and an update segment; the bound is crossed
# once, as the soak merges once
MERGE_BOUND = SEGMENTS + 1


class Result:
    """What a workload measured, checked and traced. The gated timings
    are CPU seconds (see README.md, "End-to-end metrics")."""

    def __init__(self):
        self.setup_s: list[float] = []       # CPU seconds, gated median
        self.setup_wall_s: list[float] = []
        self.throughput_per_cpu_s = 0.0      # gated
        self.query_cpu_ms = 0.0              # gated
        self.spark_cpu_s = 0.0               # gated
        self.named: dict[str, dict] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.known_defects: list[str] = []
        self.properties: dict = {}
        self.layers: dict[str, float] = {}
        self.table: dict = {}
        self.peak_rss_mb = 0.0
        self.measured_wall = 0.0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def name(self, metric: str, value, unit: str, **extra) -> None:
        self.named[metric] = {"value": value, "unit": unit, **extra}

    def timing(self, prefix: str, secs: list[float]) -> None:
        """Name `<prefix>_p50_ms` and `<prefix>_tail_ms`."""
        s = summarize(secs, 1e3)
        self.name(f"{prefix}_p50_ms", s["p50"], "ms", n=s["n"])
        if s["tail"] is not None:
            self.name(f"{prefix}_tail_ms", s["tail"], "ms", n=s["n"],
                      percentile=s["tail_pct"])

    def record(self, env, drift: dict, run_wall: float) -> dict:
        setup = median(self.setup_s)
        self.name("setup_s", setup, "s", n=len(self.setup_s),
                  samples=self.setup_s, note="CPU seconds")
        self.name("setup_wall_s", median(self.setup_wall_s), "s",
                  samples=self.setup_wall_s)
        self.name("peak_rss_mb", self.peak_rss_mb, "MB")
        self.name("error_rate", len(self.failures) / max(self.attempted, 1),
                  "ratio", attempted=self.attempted)
        rec = {"workload": env.workload, "seed": env.seed,
               "traced": env.traced,
               "end_to_end": {
                   "setup_s": setup,
                   "throughput_per_cpu_s": self.throughput_per_cpu_s,
                   "query_cpu_ms": self.query_cpu_ms,
                   "spark_cpu_s": self.spark_cpu_s,
                   "peak_rss_mb": self.peak_rss_mb},
               "named": self.named, "attempted": self.attempted,
               "failed": len(self.failures),
               "failures": self.failures[:20],
               "known_defects": self.known_defects,
               "properties": self.properties,
               "by_class": self.table.get("by_class"),
               "drift": {**drift, "spark_job_floor_ms": env.job_floor_ms},
               "run_wall_s": run_wall}
        if env.traced:
            self.layers["spark.job_floor_ms"] = float(np.mean(
                env.job_floor_ms))
            rec["per_layer"] = self.layers
            rec["layer_table"] = self.table
        return rec


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------------ serve

def serve(env, seed: int, seconds: float) -> Result:
    """The read side over a duplicate-heavy code corpus, in the query
    session: a closed-loop replay of a seeded query stream through
    LocalSearcher, one query of each shape through the Spark Searcher,
    and the dedup and quality pipelines over the corpus."""
    from diagon_spark import Searcher, build_index
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.search.local_reader import LocalSearcher

    res, tr = Result(), env.tracer
    corpus = inputs.dedup_corpus(env.cache, seed, N_SERVE)
    stream = inputs.query_stream(env.cache, seed, corpus, per_class=4)
    expected = inputs.expected_topk(env.cache, corpus, stream)
    res.properties = {"corpus": inputs.dedup_properties(corpus),
                      "stream": inputs.stream_properties(stream, corpus)}
    pool = inputs.pool_of(stream)
    queries = {q: inputs.to_query(shape, terms)
               for q, (_c, shape, terms) in pool.items()}
    rows = list(stream.itertuples(index=False))
    path = inputs.cached_path(env.cache, corpus)
    src = env.spark.read.parquet(path).select("doc_id", "repo", "path",
                                              "content")
    out = env.fresh_dir("index")
    with tr.span("prep.build"):  # input preparation, not set-up
        t0 = time.perf_counter()
        build_index(env.spark, src, out, num_segments=SEGMENTS,
                    id_col="doc_id", content_col="content", **BUILD_ARGS)
        prep_s = time.perf_counter() - t0
    res.name("build_docs_per_s", len(corpus) / prep_s, "docs/s",
             note="first build in a fresh JVM")
    res.name("index_bytes_per_input_byte",
             _du(out) / _text_bytes(corpus.content), "ratio")
    spark = env.spark
    src = src.select("doc_id", "content")

    # set-up: open the local reader and fill its caches with one pass over
    # the distinct queries
    for _ in range(SETUP_REPEATS):
        t0, c0 = time.perf_counter(), env.local_cpu_s()
        with tr.span("setup.open"):
            ls = LocalSearcher(IndexCatalog.load(out))
            for q in sorted(queries):
                ls.search(queries[q], k=inputs.TOP_K)
        res.setup_wall_s.append(time.perf_counter() - t0)
        res.setup_s.append(env.local_cpu_s() - c0)
    with tr.span("setup.spark"):
        t0 = time.perf_counter()
        searcher = Searcher(spark, IndexCatalog.load(out))
        res.name("searcher_open_s", time.perf_counter() - t0, "s")
        searcher.search(queries[rows[0].qid], k=inputs.TOP_K).collect()

    # The local loop replays whole rounds of the stream, so the class mix
    # is the same every run, in LOCAL_PARTS parts: before the Spark
    # queries, between them and the pipelines, and after the pipelines. A
    # burst of load from other guests of the host then slows one part,
    # not every sample.
    local: list[tuple] = []
    local_wall = 0.0

    def local_part():
        nonlocal local_wall
        start, t_start = len(local), time.perf_counter()
        deadline = t_start + seconds / LOCAL_PARTS
        while (time.perf_counter() < deadline
               or len(local) - start < LOCAL_MIN_QUERIES // LOCAL_PARTS
               or len(local) % len(pool)):
            r = rows[len(local) % len(rows)]
            with tr.span("local.query", new_request=True, qclass=_cls(r)):
                t0, c0 = time.perf_counter(), env.local_cpu_s()
                hits = ls.search(queries[r.qid], k=inputs.TOP_K)
                local.append((r, time.perf_counter() - t0, hits,
                              env.local_cpu_s() - c0))
        local_wall += time.perf_counter() - t_start

    local_part()
    # the Spark Searcher runs the stream's first query of each shape, the
    # df class turning with the shape (head term, torso AND-2, tail OR-5,
    # head OR-10, torso phrase), so every shape and every df class runs
    spark_rows = [next(r for r in rows if r.shape == shape and r.df_class
                       == inputs.DF_CLASSES[i % len(inputs.DF_CLASSES)])
                  for i, shape in enumerate(inputs.SHAPES)]
    remote: list[tuple] = []
    t_spark = time.perf_counter()
    for r in spark_rows:
        with tr.span("searcher.query", new_request=True, qclass=_cls(r)):
            t0, c0 = time.perf_counter(), env.cpu_s()
            hits = [(int(x.doc_id), float(x.score)) for x in
                    searcher.search(queries[r.qid],
                                    k=inputs.TOP_K).collect()]
            remote.append((r, time.perf_counter() - t0, hits,
                           env.cpu_s() - c0))
    spark_wall = time.perf_counter() - t_spark

    local_part()
    t_pipes = time.perf_counter()
    pipes = _pipelines(tr, src, "content", env)
    pipes_wall = time.perf_counter() - t_pipes
    local_part()
    res.measured_wall = local_wall + spark_wall + pipes_wall

    for where, done in (("local", local), ("spark", remote)):
        for r, _dt, hits, _c in done:
            res.check(inputs.same_topk(hits, expected[r.qid]),
                      f"{where} query {r.seq} ({_cls(r)}) differs from oracle")
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    with tr.span("check.pipelines"):
        n_pairs = _check_pipelines(res, corpus, pipes)

    by_class = defaultdict(list)
    for r, *_, c in local:
        by_class[_cls(r)].append(c)
    res.query_cpu_ms = class_geomean(by_class) * 1e3
    res.name("local_query_cpu_ms", res.query_cpu_ms, "ms", n=len(local),
             note="geometric mean over classes of each class's median")
    res.timing("local_query_cpu", [c for *_, c in local])
    res.throughput_per_cpu_s = len(local) / sum(c for *_, c in local)
    res.name("local_queries_per_cpu_s", res.throughput_per_cpu_s,
             "queries/cpu_s", n=len(local))
    res.timing("local_query", [t for _r, t, *_ in local])
    res.name("local_qps", len(local) / local_wall, "queries/s")
    res.timing("spark_query_cpu", [c for *_, c in remote])
    res.timing("spark_query", [t for _r, t, *_ in remote])
    n = len(corpus)
    lsh, quality, sim = (pipes[k][0] for k in ("dedup.minhash_lsh",
                                               "textstats.quality",
                                               "dedup.simhash"))
    res.name("dedup_docs_per_s", n / (lsh + sim), "docs/s")
    res.name("textstats_docs_per_s", n / quality, "docs/s")
    res.spark_cpu_s = (sum(c for *_, c in remote)
                       + sum(v[2] for v in pipes.values()))
    res.name("spark_cpu_s", res.spark_cpu_s, "s",
             note="Searcher queries + one pass of the three pipelines")
    res.table["by_class"] = {"local": _by_class(local),
                             "spark": _by_class(remote)}
    res.properties["time_share_by_df_class"] = {
        "local": _df_class_share(local), "spark": _df_class_share(remote)}
    res.layers.update({"dedup.candidate_pairs": n_pairs,
                       "dedup.persisted_rdds_after": persisted})
    if env.traced:
        res.layers["tokenizer.us_per_doc"] = _tokenizer_probe(corpus)
    return res


def _pipelines(tr, df, text_col: str, env) -> dict[str, tuple]:
    """One dedup + quality pass: span name -> (wall, collected rows, CPU
    seconds)."""
    from diagon_spark.pipelines import dedup, textstats
    calls = {
        "dedup.minhash_lsh": lambda: dedup.minhash_lsh_candidates(
            df, "doc_id", text_col, k=3, num_hashes=16, band_size=2),
        "textstats.quality": lambda: textstats.quality_scores(
            df, "doc_id", text_col),
        "dedup.simhash": lambda: dedup.simhash(df, "doc_id", text_col)}
    out = {}
    for name, call in calls.items():
        with tr.span(name, new_request=True):
            t0, c0 = time.perf_counter(), env.cpu_s()
            rows = call().collect()
            out[name] = (time.perf_counter() - t0, rows, env.cpu_s() - c0)
    return out


def _check_pipelines(res, corpus, pipes) -> int:
    """Planted exact duplicates are all LSH candidates; quality_scores and
    simhash give one row per input doc. Returns the number of candidate
    pairs."""
    got = {(int(x.doc_a), int(x.doc_b))
           for x in pipes["dedup.minhash_lsh"][1]}
    missed = inputs.exact_dup_pairs(corpus) - got
    res.check(not missed, f"{len(missed)} exact duplicate pairs missed")
    want = sorted(corpus.doc_id.tolist())
    for name in ("textstats.quality", "dedup.simhash"):
        res.check(sorted(int(x.doc_id) for x in pipes[name][1]) == want,
                  f"{name} rows != one per input doc")
    return len(got)


# ----------------------------------------------------------------- ingest

KEY = ["repo", "path"]


def ingest(env, seed: int, seconds: float) -> Result:
    """The write side beside reads: one seeded cycle that appends new
    files, rewrites some, removes some, queries a just-reopened reader and
    calls `maybe_merge`. The work is fixed, so `seconds` is not used."""
    import pandas as pd

    from diagon_spark import build_index
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.index.deletes import delete_documents, update_documents
    from diagon_spark.index.merge import maybe_merge
    from diagon_spark.search.local_reader import LocalSearcher

    res, tr, spark = Result(), env.tracer, env.spark
    base = inputs.code_corpus(env.cache, seed, N_INGEST_BASE)
    probes = inputs.query_stream(env.cache, seed, base, per_class=5,
                                 rounds=1)
    res.properties = inputs.stream_properties(probes, base)
    probe_qs = [inputs.to_query(r.shape, list(r.terms))
                for r in probes.itertuples(index=False)]
    # row -> (repo, path, text, version); the index gets text + marker
    live = {int(r.doc_id): (r.repo, r.path, r.content, 0)
            for r in base.itertuples(index=False)}

    def arrived(name, rows):
        return _arrived(env, name, pd.DataFrame(
            [(live[r][0], live[r][1],
              f"{live[r][2]} {inputs.marker(r, live[r][3])}") for r in rows],
            columns=["repo", "path", "content"]))

    out = env.fresh_dir("index")
    with tr.span("prep.build"):  # input preparation, not set-up
        cat = build_index(spark, arrived("base", sorted(live)), out,
                          num_segments=SEGMENTS, key_cols=KEY, **BUILD_ARGS)
    spark = env.session(reuse_workers=False)  # the build setting

    # set-up: open a reader and run one probe query of each class
    one_per_class = {_cls(r): q for r, q in
                     zip(probes.itertuples(index=False), probe_qs)}
    for _ in range(SETUP_REPEATS):
        t0, c0 = time.perf_counter(), env.local_cpu_s()
        with tr.span("setup.open"):
            ls = LocalSearcher(IndexCatalog.load(out))
            for q in one_per_class.values():
                ls.search(q, k=inputs.TOP_K)
        res.setup_wall_s.append(time.perf_counter() - t0)
        res.setup_s.append(env.local_cpu_s() - c0)

    plan = inputs.ingest_cycle(seed, sorted(live), N_INGEST_BASE,
                               INGEST_APPEND, INGEST_UPDATE, INGEST_DELETE)
    for r, text in zip(plan["append"],
                       inputs.new_texts(seed, plan["append"], 0)):
        live[r] = (f"org{r % 7}/new", f"src/new/file_{r}.py", text, 0)
    for r, text in zip(plan["update"],
                       inputs.new_texts(seed, plan["update"], 1)):
        live[r] = (*live[r][:2], text, 1)
    add_df = arrived("append", plan["append"])
    upd_df = arrived("update", plan["update"])
    gone_df = _arrived(env, "delete", pd.DataFrame(
        [live[r][:2] for r in plan["delete"]], columns=KEY))
    for r in plan["delete"]:
        del live[r]

    walls, cpus = {}, {}   # call -> wall, CPU seconds

    @contextlib.contextmanager
    def timed(name, clock=env.cpu_s):
        t0, c0 = time.perf_counter(), clock()
        yield
        walls[name], cpus[name] = time.perf_counter() - t0, clock() - c0

    fresh = defaultdict(list)     # query class -> [(wall, CPU seconds)]
    t_cycle, c_cycle = time.perf_counter(), env.cpu_s()
    with tr.span("builder.append", new_request=True, input_bytes=(
            _text_bytes(live[r][2] for r in plan["append"]))), \
            timed("append"):
        cat = build_index(spark, add_df, out, num_segments=1, key_cols=KEY,
                          append=True, segment_base=cat.num_segments,
                          **BUILD_ARGS)
    with tr.span("deletes.update", new_request=True, input_bytes=(
            _text_bytes(live[r][2] for r in plan["update"]))), \
            timed("update"):
        cat = update_documents(spark, cat, upd_df)
    with tr.span("deletes.delete", new_request=True), timed("delete"):
        n_gone = delete_documents(spark, cat, gone_df)
    with tr.span("reader.reopen", new_request=True):
        reopened = ls.reopen_if_changed()
    if reopened is not None:
        ls = reopened
    for r, q in zip(probes.itertuples(index=False), probe_qs):
        with tr.span("fresh.query", new_request=True, qclass=_cls(r)), \
                timed("query", env.local_cpu_s):
            ls.search(q, k=inputs.TOP_K)
        fresh[_cls(r)].append((walls["query"], cpus["query"]))
    # checks run on the reopened reader before the merge swaps its files;
    # their time is taken out of the cycle's
    with tr.span("check.visibility"), timed("check"):
        res.check(reopened is not None, "reopen saw no new commit")
        res.check(n_gone == len(plan["delete"]),
                  f"deleted {n_gone} of {len(plan['delete'])}")
        for r in plan["update"]:
            _expect_hits(res, ls, inputs.marker(r, 0), 0,
                         f"old version of row {r}")
        for r in plan["append"] + plan["update"]:
            _expect_hits(res, ls, inputs.marker(r, live[r][3]), 1,
                         f"row {r}")
        for r in plan["delete"]:
            _expect_hits(res, ls, inputs.marker(r, 0), 0,
                         f"deleted row {r}")
        res.layers.update(_index_shape(ls))
    with tr.span("merge.maybe_merge", new_request=True) as sp, \
            timed("merge"):
        merged = maybe_merge(spark, cat, max_segments=MERGE_BOUND)
        if sp is not None:
            sp.attrs["merged"] = merged is not cat
    cat = merged
    cycle_wall = time.perf_counter() - t_cycle - walls["check"]
    cycle_cpu = env.cpu_s() - c_cycle - cpus["check"]
    res.measured_wall = cycle_wall

    with tr.span("check.index"):
        _check_healthy(res, spark, out)
        res.known_defects += _recount_probe(spark, cat, live)

    docs_in = INGEST_APPEND + INGEST_UPDATE
    res.throughput_per_cpu_s = docs_in / cycle_cpu
    res.name("ingest_docs_per_cpu_s", res.throughput_per_cpu_s,
             "docs/cpu_s")
    res.name("ingest_docs_per_s", docs_in / cycle_wall, "docs/s")
    spark_calls = ("append", "update", "delete", "merge")
    res.spark_cpu_s = sum(cpus[k] for k in spark_calls)
    for k in spark_calls:
        res.name(f"{k}_s", walls[k], "s")
        res.name(f"{k}_cpu_s", cpus[k], "s")
    res.query_cpu_ms = class_geomean(
        {c: [cpu for _w, cpu in v] for c, v in fresh.items()}) * 1e3
    res.name("fresh_query_cpu_ms", res.query_cpu_ms, "ms",
             n=sum(map(len, fresh.values())),
             note="geometric mean over classes of each class's median")
    res.name("fresh_query_ms", class_geomean(
        {c: [w for w, _cpu in v] for c, v in fresh.items()}) * 1e3, "ms",
        note="geometric mean over classes of each class's median")
    res.timing("fresh_query", [w for v in fresh.values() for w, _c in v])
    res.table["by_class"] = {"fresh": {
        c: {"n": len(v), "p50_ms": median([w for w, _c in v]) * 1e3,
            "cpu_p50_ms": median([c for _w, c in v]) * 1e3}
        for c, v in sorted(fresh.items())}}
    if env.traced:
        res.layers["tokenizer.us_per_doc"] = _tokenizer_probe(base)
    return res


def _arrived(env, name: str, pdf):
    """`pdf` as a Spark DataFrame read from a parquet file, the way input
    files arrive."""
    path = os.path.join(env.run_dir, "inputs", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return env.spark.read.parquet(path)


def _text_bytes(texts) -> int:
    return int(sum(len(t.encode()) for t in texts))


def _expect_hits(res: Result, ls, term: str, want: int, what: str) -> None:
    from diagon_spark.search.query import Term
    got = len(ls.search(Term(term), k=5))
    res.check(got == want, f"{what}: {got} hits for {term}, want {want}")


def _recount_probe(spark, cat, live: dict) -> list[str]:
    """Remove one live file twice, after the timed work: the second call
    should find no live doc. `delete_documents` resolves keys against the
    whole docs table, tombstoned rows included, so it counts again docs
    it already removed; the same defect makes it count the old version of
    a rewritten file. Returns what was seen, for the record."""
    from diagon_spark.index.deletes import delete_documents
    repo, path = live[min(live)][:2]
    key = spark.createDataFrame([(repo, path)], KEY)
    got = [delete_documents(spark, cat, key) for _ in range(2)]
    if got == [1, 0]:
        return []
    return [f"delete_documents returned {got} removing one live file "
            f"twice, want [1, 0]: it counts tombstoned docs again"]


def _index_shape(ls) -> dict:
    """Live segments and tombstones the reader sees."""
    import pyarrow.dataset as ds
    segs = ds.dataset(ls.cat.docs_path).to_table(columns=["segment_id"])
    tomb = os.path.join(ls.cat.root, "deleted")
    return {"index.segments": len(set(segs.column(0).to_pylist())),
            "index.tombstones": (ds.dataset(tomb).count_rows()
                                 if os.path.exists(tomb) else 0)}


def _check_healthy(res: Result, spark, root: str) -> None:
    from diagon_spark.index.check import HEALTHY, check_index
    rep = check_index(spark, root)
    res.check(rep["status"] == HEALTHY,
              f"check_index {rep['status']}: {rep['messages']}")


def _tokenizer_probe(corpus) -> float:
    """Median of three timings of the build's tokenizer over the
    workload's corpus, in microseconds per doc."""
    from diagon_spark.analysis.tokenizer import tokenize_factorize_sliced
    sample = corpus.content.reset_index(drop=True)
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        tokenize_factorize_sliced(sample)
        walls.append(time.perf_counter() - t0)
    return median(walls) / len(sample) * 1e6


def _cls(r) -> str:
    return f"{r.df_class}/{r.shape}"


def _by_class(done) -> dict:
    """Per query class: sample count, median wall and CPU time in ms and
    share of the summed query time."""
    by = defaultdict(list)
    for r, dt, *_, cpu in done:
        by[_cls(r)].append((dt, cpu))
    total = sum(dt for _r, dt, *_ in done)
    return {c: {"n": len(v), "p50_ms": median(w for w, _ in v) * 1e3,
                "cpu_p50_ms": median(cpu for _, cpu in v) * 1e3,
                "time_share": sum(w for w, _ in v) / total}
            for c, v in sorted(by.items())}


def _df_class_share(done) -> dict:
    """Share of the summed query time spent on each df class."""
    total = sum(dt for _r, dt, *_ in done)
    return {c: round(sum(dt for r, dt, *_ in done if r.df_class == c)
                     / total, 4) for c in inputs.DF_CLASSES}


WORKLOADS = {"serve": serve, "ingest": ingest}
