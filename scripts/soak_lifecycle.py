"""Full index-lifecycle soak at the largest sandbox scale (default 2M
docs): build -> queries -> delete -> append -> reader reopen ->
crash-safe in-place merge commit -> queries again -> update of one
file -> check_index, with invariants
checked at every step. Prints one JSON line of timings + checks.

This is the robustness receipt the per-operator tests can't give: every
lifecycle transition exercised back-to-back on one index, at a scale
where driver-side shortcuts (collected tombstones, global rewrites)
would already hurt.

Usage: python scripts/soak_lifecycle.py [n_docs] (default 2048000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _session():
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{CPUS}]")
            .appName("diagon-soak")
            .config("spark.sql.shuffle.partitions", CPUS)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            .config("spark.python.worker.reuse", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def main() -> None:
    from pyspark.sql import functions as F

    from diagon_spark import Searcher, build_index
    from diagon_spark.corpus import corpus_df, VOCAB
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.index.check import HEALTHY, check_index
    from diagon_spark.index.deletes import delete_documents, update_documents
    from diagon_spark.index.merge import commit_merge
    from diagon_spark.search.local_reader import LocalSearcher
    from diagon_spark.search.query import Boolean, MatchAll, Phrase, Term

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_048_000
    n_append = max(1000, n_docs // 20)
    out = tempfile.mkdtemp(prefix="diagon_soak_")
    t: dict[str, float] = {}
    checks: dict[str, bool] = {}
    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    cat = build_index(spark, corpus_df(spark, n_docs, partitions=128), out,
                      num_segments=int(CPUS) * 2, num_buckets=16,
                      positions=True)
    t["build"] = time.time() - t0

    s = Searcher(spark, cat)
    q_or = Boolean(should=[Term(w) for w in VOCAB[:10]])
    t0 = time.time()
    checks["match_all_count"] = s.count(MatchAll()) == n_docs
    base_hits = {int(r.doc_id) for r in s.search(q_or, k=1000).collect()}
    checks["or10_full_k"] = len(base_hits) == 1000
    phrase_hits = s.search(Phrase((VOCAB[0], VOCAB[1])), k=100).collect()
    checks["phrase_ran"] = phrase_hits is not None
    t["queries_initial"] = time.time() - t0

    # deterministic ~2.5% delete set via md5 threshold (no RNG)
    t0 = time.time()
    victims = (spark.read.parquet(cat.docs_path)
               .filter(F.pmod(F.conv(F.substring(
                   F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
                   .cast("long"), F.lit(40)) == 0)
               .select("doc_id"))
    # materialize NOW: a lazy DF over docs/ would chase deleted part
    # files after commit_merge swaps the table (readers must reopen)
    vic_set = {int(r.doc_id) for r in victims.collect()}
    n_del = delete_documents(spark, cat, victims, join_cols=["doc_id"])
    t["delete"] = time.time() - t0
    checks["delete_ratio_sane"] = abs(n_del / n_docs - 0.025) < 0.005
    # a Searcher is a reader opened at a commit — the delete published a
    # NEW generation, so reopen (fresh Searcher) to observe it
    checks["count_after_delete"] = (
        Searcher(spark, IndexCatalog.load(out)).count(MatchAll())
        == n_docs - n_del)

    # reader reopen across the delete commit
    ls_old = LocalSearcher(IndexCatalog.load(out, generation=0))
    ls_new = ls_old.reopen_if_changed()
    checks["reopen_sees_delete"] = (
        ls_new is not None
        and ls_new.count(MatchAll()) == n_docs - n_del)

    t0 = time.time()
    build_index(spark, corpus_df(spark, n_append, partitions=16,
                                 start=n_docs), out,
                num_segments=8, num_buckets=16, positions=True,
                append=True)
    t["append"] = time.time() - t0
    cat2 = IndexCatalog.load(out)
    s2 = Searcher(spark, cat2)
    live = n_docs - n_del + n_append
    checks["count_after_append"] = s2.count(MatchAll()) == live

    t0 = time.time()
    merged = commit_merge(spark, cat2, num_segments=int(CPUS))
    t["merge_commit"] = time.time() - t0
    s3 = Searcher(spark, merged)
    checks["count_after_merge"] = s3.count(MatchAll()) == live
    post_hits = {int(r.doc_id) for r in s3.search(q_or, k=1000).collect()}
    # top-1000 shifts only because merge purges change df/avgdl; the hit
    # POOL must still exclude every tombstoned doc
    checks["merged_hits_exclude_deleted"] = not (post_hits & vic_set)
    t0 = time.time()
    checks["or10_after_merge"] = len(post_hits) == 1000
    lsm = LocalSearcher(merged)
    checks["local_reader_after_merge"] = (
        lsm.count(MatchAll()) == live
        and len(lsm.search(q_or, k=100)) == 100)
    t["queries_final"] = time.time() - t0

    # an update after the merge takes a fresh segment id: the new
    # version's doc_id is unique and the index stays healthy
    t0 = time.time()
    updated = update_documents(spark, merged, corpus_df(
        spark, 1, partitions=1, start=n_docs))
    t["update"] = time.time() - t0
    checks["update_after_merge"] = (
        LocalSearcher(updated).count(MatchAll()) == live)
    t0 = time.time()
    checks["check_index_healthy"] = (
        check_index(spark, out)["status"] == HEALTHY)
    t["check_index"] = time.time() - t0

    ok = all(checks.values())
    print(json.dumps({
        "soak": "lifecycle", "n_docs": n_docs, "n_deleted": n_del,
        "n_appended": n_append, "live_docs": live,
        "timings_sec": {k: round(v, 1) for k, v in t.items()},
        "checks": checks, "ok": ok,
    }))
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
