"""Round-8 optimization harness — NOT the driver bench (bench.py is
frozen). Isolates each timed operator of bench.py with the identical
session config and methodology, so per-operator before/after numbers and
plan captures can be iterated on quickly (guide §1: measure first,
noop-sink isolation, labelled jobs).

Usage:
  python bench_extra.py suite            # time build/queries/minhash/text pipelines/knn at $SPARK_GRAFT_SF_DIR
  python bench_extra.py suite --big      # same but over a generated 50k-doc corpus (driver sf1.0 shape)
  python bench_extra.py plans <outdir>   # dump .explain('formatted') for the touched queries
  python bench_extra.py jobs             # per-phase Spark job/stage counts (scheduler-overhead audit)
  python bench_extra.py flush_crossover  # driver vs Spark append flush, CPU and wall, by size

Prints one JSON line per phase; nothing here is read by the driver.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEAT = int(os.environ.get("BENCH_REPEAT", "3"))


def _session(reuse_workers: bool):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{CPUS}]")
            .appName("diagon-bench-extra")
            .config("spark.sql.shuffle.partitions", CPUS)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.python.worker.reuse",
                    "true" if reuse_workers else "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def _big_dir() -> str:
    """Generate (once) a 50k-doc documents.parquet + 15k embeddings with
    the driver-sf1.0 shape: ONE parquet file each, same schema as
    /root/testdata/sf*/documents.parquet. Measurement corpus only."""
    out = "/tmp/diagon_r8_big"
    if os.path.exists(f"{out}/_DONE"):
        return out
    import numpy as np
    import pandas as pd
    from diagon_spark.corpus import generate_pandas
    os.makedirs(out, exist_ok=True)
    spark = _session(True)
    spark.sparkContext.setLogLevel("ERROR")
    pdf = generate_pandas(0, 50_000)
    docs = pd.DataFrame({
        "doc_id": np.arange(50_000, dtype=np.int64),
        "text": pdf["content"],
        "lang": ["en", "es", "zh", "de", "fr"] * 10_000,
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite") \
        .parquet(f"{out}/documents.parquet")
    rng = np.random.RandomState(7)
    emb = pd.DataFrame({
        "vec_id": np.arange(15_000, dtype=np.int64),
        "embedding": [rng.standard_normal(128).astype(np.float32).tolist()
                      for _ in range(15_000)],
    })
    spark.createDataFrame(emb).coalesce(1).write.mode("overwrite") \
        .parquet(f"{out}/embeddings.parquet")
    spark.stop()
    open(f"{out}/_DONE", "w").close()
    return out


def _append_input(src: str, n: int, idx_dir: str) -> str:
    """The first `n` rows of the documents parquet `src` under fresh
    doc_ids, written as one parquet file beside the index."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(src)
    ids = t.column("doc_id")
    top = pc.max(ids).as_py() + 1
    t = t.slice(0, n)
    t = t.set_column(t.schema.get_field_index("doc_id"), "doc_id",
                     pc.add(t.column("doc_id"), top))
    path = f"{idx_dir}_append_{n}.parquet"
    pq.write_table(t, path)
    return path


def flush_crossover() -> None:
    """Driver vs Spark flush of one append, CPU and wall, at 20 / 200 /
    2,000 docs and at the byte bound of builder._flushes_on_driver
    (input + term_dict = DOC_PREP_BYTES_PER_PARTITION): one JSON line per
    (docs, substrate), the median of BENCH_REPEAT runs on copies of one
    Spark-built 2,000-doc base index (key_cols, 4 segments, 4 buckets,
    positions — perfbench ingest's layout). CPU is this process and its
    descendants (the JVM and its Python workers). Set SPARK_GRAFT_CPUS."""
    import statistics
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from diagon_spark import build_index
    from diagon_spark.corpus import generate_pandas
    from diagon_spark.index import builder
    from perfbench.harness import descendants, tree_cpu_s

    def cpu_s():
        return tree_cpu_s([os.getpid(), *descendants(os.getpid())])

    spark = _session(reuse_workers=False)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="diagon_extra_xo_")
    kw = dict(num_buckets=4, key_cols=["repo", "path"], positions=True)
    src = f"{work}/base.parquet"
    generate_pandas(0, 2000).to_parquet(src, index=False)
    base = f"{work}/base"
    build_index(spark, spark.read.parquet(src), base, num_segments=4, **kw)
    td_bytes = sum(f.stat().st_size for f in
                   Path(base, "term_dict").rglob("*") if f.is_file())
    probe = f"{work}/probe.parquet"
    generate_pandas(10**6, 10**6 + 2000).to_parquet(probe, index=False)
    per_doc = os.path.getsize(probe) / 2000
    at_bound = int((builder.DOC_PREP_BYTES_PER_PARTITION - td_bytes)
                   / per_doc)
    route = builder._flushes_on_driver
    for n in (20, 200, 2000, at_bound):
        add = f"{work}/add_{n}.parquet"
        pq.write_table(pa.Table.from_pandas(
            generate_pandas(10**6, 10**6 + n), preserve_index=False), add)
        runs: dict[str, list] = {"driver": [], "spark": []}
        for rep in range(REPEAT):
            for sub in ("spark", "driver"):
                root = f"{work}/{sub}_{n}_{rep}"
                shutil.copytree(base, root)
                builder._flushes_on_driver = (
                    lambda *a, _d=(sub == "driver"), **k: _d)
                t0, c0 = time.time(), cpu_s()
                build_index(spark, spark.read.parquet(add), root,
                            num_segments=1, append=True, **kw)
                runs[sub].append((time.time() - t0, cpu_s() - c0))
                builder._flushes_on_driver = route
                shutil.rmtree(root)
        for sub, rs in runs.items():
            print(json.dumps({
                "docs": n, "input_bytes": os.path.getsize(add),
                "term_dict_bytes": td_bytes, "substrate": sub,
                "wall_s": round(statistics.median(r[0] for r in rs), 3),
                "cpu_s": round(statistics.median(r[1] for r in rs), 3)}))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def suite(sf_dir: str) -> None:
    from pyspark.sql import functions as F
    from diagon_spark import build_index, Searcher
    from diagon_spark.pipelines import dedup, similarity, sparse, textstats
    from diagon_spark.search.query import Boolean, Phrase, Term
    from diagon_spark._runtime import worker_init
    worker_init()

    out: dict[str, float] = {}
    spark = _session(reuse_workers=False)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    idx_dir = tempfile.mkdtemp(prefix="diagon_extra_idx_")
    sc.setJobDescription("extra: index_build")
    t0 = time.time()
    cat = build_index(spark, docs, idx_dir, num_segments=int(CPUS),
                      num_buckets=16, id_col="doc_id", content_col="text",
                      positions=True)
    out["index_build"] = round(time.time() - t0, 4)

    # a 20-file append routed as build_index routes it (a driver flush
    # while input + term_dict fit one doc-prep task)
    add = _append_input(f"{sf_dir}/documents.parquet", 20, idx_dir)
    sc.setJobDescription("extra: append_small")
    t0 = time.time()
    build_index(spark, spark.read.parquet(add), idx_dir, num_segments=1,
                num_buckets=16, id_col="doc_id", content_col="text",
                positions=True, append=True)
    out["append_small"] = round(time.time() - t0, 4)
    os.remove(add)

    spark.stop()
    spark = _session(reuse_workers=True)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    searcher = Searcher(spark, cat)
    qset = {
        "single_term": Term("data"),
        "and_2": Boolean(must=[Term("table"), Term("value")]),
        "or_5": Boolean(should=[Term(t) for t in
                                ["join", "window", "batch", "query", "line"]]),
        "or_10": Boolean(should=[Term(t) for t in
                                 ["join", "window", "batch", "query", "line",
                                  "spark", "order", "column", "hash", "scan"]]),
        "phrase": Phrase(("fast", "slow")),
    }
    for name, q in qset.items():
        sc.setJobDescription(f"extra: {name}")
        searcher.search(q, k=100).collect()
        best = float("inf")
        for _ in range(REPEAT):
            t = time.time()
            searcher.search(q, k=100).collect()
            best = min(best, time.time() - t)
        out[name] = round(best, 4)

    from diagon_spark.search.local_reader import LocalSearcher
    ls = LocalSearcher(cat)
    for name, q in qset.items():
        ls.search(q, k=100)
        samples = []
        for _ in range(10):
            t = time.time()
            ls.search(q, k=100)
            samples.append(time.time() - t)
        out[f"local_{name}"] = round(sorted(samples)[len(samples) // 2], 4)

    sc.setJobDescription("extra: minhash_lsh")
    t = time.time()
    dedup.minhash_lsh_candidates(docs, k=3, num_hashes=16,
                                 band_size=2).count()
    out["minhash_lsh"] = round(time.time() - t, 4)

    # a full collect: a count() would let the optimizer prune the columns
    # of a JVM expression plan and time none of its work
    for name, op in (("quality_scores", textstats.quality_scores),
                     ("simhash", dedup.simhash),
                     ("jaccard_pairs", dedup.jaccard_pairs),
                     ("fingerprints", textstats.fingerprints),
                     ("build_value_postings", sparse.build_value_postings)):
        sc.setJobDescription(f"extra: {name}")
        t = time.time()
        op(docs, "doc_id", "text").collect()
        out[name] = round(time.time() - t, 4)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    sc.setJobDescription("extra: knn_cosine")
    t = time.time()
    similarity.cosine_topk(emb, qvec, k=10, exclude_id=0).collect()
    out["knn_cosine"] = round(time.time() - t, 4)

    shutil.rmtree(idx_dir, ignore_errors=True)
    out["_total"] = round(sum(v for k, v in out.items()
                              if not k.startswith("_")), 3)
    out["_n_docs"] = n_docs
    out["_sf_dir"] = sf_dir
    print(json.dumps(out))
    spark.stop()


def plans(out_dir: str, sf_dir: str) -> None:
    """Dump .explain('formatted') for each touched query (judge evidence:
    plans/r08/<query>_{before,after}.txt)."""
    from pyspark.sql import functions as F
    from diagon_spark import build_index, Searcher
    from diagon_spark.pipelines import dedup, similarity
    from diagon_spark.search.query import Boolean, Phrase, Term

    os.makedirs(out_dir, exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    spark = _session(reuse_workers=True)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def dump(name, df):
        p = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print("wrote", p)

    dump("minhash_lsh",
         dedup.minhash_lsh_candidates(docs, k=3, num_hashes=16, band_size=2))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    dump("knn_cosine", similarity.cosine_topk(emb, qvec, k=10, exclude_id=0))

    idx_dir = tempfile.mkdtemp(prefix="diagon_extra_pl_")
    cat = build_index(spark, docs, idx_dir, num_segments=int(CPUS),
                      num_buckets=16, id_col="doc_id", content_col="text",
                      positions=True)
    s = Searcher(spark, cat)
    dump("single_term_search", s.search(Term("data"), k=100))
    dump("or_10_search", s.search(
        Boolean(should=[Term(t) for t in
                        ["join", "window", "batch", "query", "line",
                         "spark", "order", "column", "hash", "scan"]]),
        k=100))
    dump("phrase_search", s.search(Phrase(("fast", "slow")), k=100))
    shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


def jobs(sf_dir: str) -> None:
    """Count Spark jobs per phase via the status tracker — where the
    scheduler floor comes from."""
    from pyspark.sql import functions as F
    from diagon_spark import build_index, Searcher
    from diagon_spark.pipelines import dedup
    from diagon_spark.search.query import Term

    spark = _session(reuse_workers=False)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    st = sc.statusTracker()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()

    def njobs():
        ids = st.getJobIdsForGroup(None)
        return len(ids)

    j0 = njobs()
    idx_dir = tempfile.mkdtemp(prefix="diagon_extra_jb_")
    t0 = time.time()
    cat = build_index(spark, docs, idx_dir, num_segments=int(CPUS),
                      num_buckets=16, id_col="doc_id", content_col="text",
                      positions=True)
    print(json.dumps({"phase": "index_build", "jobs": njobs() - j0,
                      "wall": round(time.time() - t0, 3)}))

    s = Searcher(spark, cat)
    s.search(Term("data"), k=100).collect()  # warm
    j0 = njobs()
    t0 = time.time()
    s.search(Term("data"), k=100).collect()
    print(json.dumps({"phase": "single_term", "jobs": njobs() - j0,
                      "wall": round(time.time() - t0, 3)}))

    j0 = njobs()
    t0 = time.time()
    dedup.minhash_lsh_candidates(docs, k=3, num_hashes=16,
                                 band_size=2).count()
    print(json.dumps({"phase": "minhash_lsh", "jobs": njobs() - j0,
                      "wall": round(time.time() - t0, 3)}))
    shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "suite"
    sf = _big_dir() if "--big" in sys.argv else SF_DIR
    if cmd == "suite":
        suite(sf)
    elif cmd == "plans":
        plans(sys.argv[2] if len(sys.argv) > 2 else "plans/r08", sf)
    elif cmd == "jobs":
        jobs(sf)
    elif cmd == "flush_crossover":
        flush_crossover()
    else:
        raise SystemExit(f"unknown cmd {cmd}")
