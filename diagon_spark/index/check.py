"""Index integrity checker — the CheckIndex / HealthCheck analogue
(observability/HealthCheck.h:19-87 healthy/degraded/unhealthy tiers;
Lucene's CheckIndex verification discipline applied to the parquet
tables).

check_index(spark, root) runs structural checks (commit readable, codec
registered, tables present, no publish left pending by a crashed writer)
and cross-table invariants (doc counts vs stats, per-field df/cttf in
term_dict equal to the postings-table aggregates, norms/doc_len
consistency on a sample).
Everything is one Spark pass per invariant — no driver-side row loops —
so it runs at any index size.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession, functions as F

HEALTHY = "healthy"
DEGRADED = "degraded"
UNHEALTHY = "unhealthy"


def check_index(spark: SparkSession, root: str,
                verify_postings: bool = True) -> dict:
    """Returns {"status": healthy|degraded|unhealthy, "checks": {...},
    "messages": [...]}. unhealthy = structural breakage (unreadable /
    inconsistent tables); degraded = recoverable leftovers (a pending
    publish intent, orphan tombstones); healthy otherwise."""
    from diagon_spark.index.builder import IndexCatalog
    from diagon_spark.index.publish import INTENT

    checks: dict[str, bool] = {}
    msgs: list[str] = []

    def fail(name: str, msg: str) -> None:
        checks[name] = False
        msgs.append(msg)

    try:
        cat = IndexCatalog.load(root)
        checks["commit_loads"] = True
    except Exception as e:  # unreadable commit or unknown codec
        fail("commit_loads", f"cannot open latest commit: {e}")
        return {"status": UNHEALTHY, "checks": checks, "messages": msgs}

    for sub in ("docs", "postings", "term_dict", "stats"):
        present = Path(root, sub).exists()
        checks[f"table_{sub}_present"] = present
        if not present:
            msgs.append(f"missing table dir: {sub}/")
    if not all(checks.values()):
        return {"status": UNHEALTHY, "checks": checks, "messages": msgs}

    pending = Path(root, INTENT).exists()
    checks["no_pending_publish"] = not pending
    if pending:
        msgs.append(f"a writer crashed mid-publish ({INTENT} present) — "
                    "run diagon_spark.index.publish.repair_index(root), "
                    "which every writer also runs on entry")

    # serving with a different non-ASCII tokenizer than the build used
    # diverges silently on non-ASCII queries. The commit manifest records
    # the build-side flag (maintenance commits inherit it; custom-analyzer
    # builds stamp "custom-analyzer" and are skipped here). Caveat: the
    # flag reflects the BUILD DRIVER's environment — on a cluster whose
    # executors differ from their driver (mismatched images), this check
    # can't see it; keep images homogeneous.
    from diagon_spark.analysis.tokenizer import HAVE_ICU
    built_tok = (cat.commit_meta or {}).get("tokenizer")
    current_tok = "icu" if HAVE_ICU else "ascii+regex"
    if built_tok in ("icu", "ascii+regex"):
        checks["tokenizer_matches_build"] = built_tok == current_tok
        if built_tok != current_tok:
            msgs.append(f"index built with tokenizer={built_tok} but this "
                        f"environment serves {current_tok} — non-ASCII "
                        "queries may mis-tokenize")

    docs = spark.read.parquet(cat.docs_path)
    stats = spark.read.parquet(cat.stats_path)
    n_docs = docs.count()
    stats_max_doc = int(stats.agg(F.max("max_doc")).collect()[0][0] or 0)
    checks["stats_max_doc_matches_docs"] = stats_max_doc == n_docs
    if stats_max_doc != n_docs:
        msgs.append(f"stats.max_doc={stats_max_doc} but docs table has "
                    f"{n_docs} rows")

    bad_segs = (docs.select("segment_id").distinct()
                .filter(~F.col("segment_id").isin(cat.segments)).count())
    checks["segment_ids_in_range"] = bad_segs == 0
    if bad_segs:
        msgs.append(f"{bad_segs} docs segment ids are not segments of "
                    "the latest commit")

    dup = (docs.groupBy("doc_id").count()
           .filter(F.col("count") > 1).count())
    checks["doc_ids_unique"] = dup == 0
    if dup:
        msgs.append(f"{dup} duplicate doc_ids in docs table")

    dp = Path(root, "deleted")
    if dp.exists():
        from diagon_spark.index.deletes import deleted_docs_df
        deleted = deleted_docs_df(spark, cat)
        orphans = (deleted.join(docs.select("doc_id"), "doc_id",
                                "left_anti").count())
        checks["tombstones_reference_live_docs"] = orphans == 0
        if orphans:
            msgs.append(f"{orphans} tombstones reference doc_ids absent "
                        "from the docs table (stale after a purge?)")

    if verify_postings:
        # term_dict is the aggregate of postings: df and cttf per
        # (field, term) must match exactly — one distributed anti-join
        post = spark.read.parquet(cat.postings_path)
        agg = (post.groupBy("field", "term")
               .agg(F.sum("df").cast("long").alias("adf"),
                    F.sum("ttf").cast("long").alias("attf")))
        td = (spark.read.parquet(cat.term_dict_path)
              .select("field", "term",
                      F.col("df").cast("long").alias("df"),
                      F.col("cttf").cast("long").alias("cttf")))
        mismatch = (td.join(agg, ["field", "term"], "full_outer")
                    .filter((F.col("df").isNull()) | (F.col("adf").isNull())
                            | (F.col("df") != F.col("adf"))
                            | (F.col("cttf") != F.col("attf")))
                    .count())
        checks["term_dict_matches_postings"] = mismatch == 0
        if mismatch:
            msgs.append(f"{mismatch} (field, term) rows disagree between "
                        "term_dict and postings aggregates")

    structural = ["stats_max_doc_matches_docs", "segment_ids_in_range",
                  "doc_ids_unique", "term_dict_matches_postings"]
    recoverable = ["no_pending_publish", "tombstones_reference_live_docs",
                   "tokenizer_matches_build"]
    if any(checks.get(k) is False for k in structural):
        status = UNHEALTHY
    elif any(checks.get(k) is False for k in recoverable):
        status = DEGRADED
    else:
        status = HEALTHY
    return {"status": status, "checks": checks, "messages": msgs}
