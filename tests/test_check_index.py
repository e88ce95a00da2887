"""check_index — CheckIndex / HealthCheck.h parity: healthy on a fresh
index, degraded on a pending publish intent, unhealthy on cross-table
inconsistencies."""

import json
from pathlib import Path

from diagon_spark import build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.check import check_index
from diagon_spark.index.publish import INTENT


def _build(spark, tmp_path, n=50):
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, n)), out,
                num_segments=2, num_buckets=4, positions=False)
    return out


def test_fresh_index_healthy(spark, tmp_path):
    out = _build(spark, tmp_path)
    r = check_index(spark, out)
    assert r["status"] == "healthy", r
    assert r["checks"]["term_dict_matches_postings"]
    assert r["messages"] == []


def test_pending_merge_sentinel_degrades(spark, tmp_path):
    out = _build(spark, tmp_path)
    Path(out, INTENT).write_text(json.dumps({"pre_generation": 0}))
    r = check_index(spark, out)
    assert r["status"] == "degraded"
    assert not r["checks"]["no_pending_publish"]
    assert any("repair_index" in m for m in r["messages"])


def test_stats_mismatch_unhealthy(spark, tmp_path):
    from pyspark.sql import functions as F
    out = _build(spark, tmp_path)
    stats = spark.read.parquet(f"{out}/stats").collect()
    broken = (spark.createDataFrame(stats)
              .withColumn("max_doc", F.col("max_doc") + 5))
    broken.write.mode("overwrite").parquet(f"{out}/stats_new")
    import shutil
    shutil.rmtree(f"{out}/stats")
    Path(f"{out}/stats_new").rename(f"{out}/stats")
    spark.catalog.refreshByPath(f"{out}/stats")
    r = check_index(spark, out, verify_postings=False)
    assert r["status"] == "unhealthy"
    assert not r["checks"]["stats_max_doc_matches_docs"]


def test_orphan_tombstone_degraded(spark, tmp_path):
    """Stale tombstones are recoverable leftovers (drop the rows), not
    structural breakage — degraded, same tier as a crashed-merge
    sentinel."""
    out = _build(spark, tmp_path)
    spark.createDataFrame([(10**15, 0)], "doc_id long, segment_id int") \
        .write.mode("overwrite").parquet(f"{out}/deleted")
    r = check_index(spark, out, verify_postings=False)
    assert r["status"] == "degraded"
    assert not r["checks"]["tombstones_reference_live_docs"]


def test_missing_table_unhealthy(spark, tmp_path):
    import shutil
    out = _build(spark, tmp_path)
    shutil.rmtree(f"{out}/stats")
    r = check_index(spark, out)
    assert r["status"] == "unhealthy"
    assert not r["checks"]["table_stats_present"]


def test_tokenizer_mismatch_degrades(spark, tmp_path):
    """Serving with a different non-ASCII tokenizer than the build used
    (commit manifest `tokenizer` key) is recoverable-but-risky: degraded."""
    import json as _json
    out = _build(spark, tmp_path)
    from diagon_spark.index.builder import IndexCatalog
    latest = IndexCatalog.list_commits(out)[-1]
    meta = _json.loads(latest.read_text())
    assert meta["tokenizer"] in ("icu", "ascii+regex")
    meta["tokenizer"] = ("icu" if meta["tokenizer"] == "ascii+regex"
                         else "ascii+regex")
    latest.write_text(_json.dumps(meta))
    r = check_index(spark, out, verify_postings=False)
    assert r["status"] == "degraded"
    assert not r["checks"]["tokenizer_matches_build"]
    assert any("tokenize" in m for m in r["messages"])


def test_maintenance_commit_inherits_tokenizer_flag(spark, tmp_path):
    """Deletes/merges never re-tokenize: their commits must carry the
    BUILD-side tokenizer flag forward, not re-stamp the current
    environment (which would erase the mismatch check_index looks for)."""
    import json as _json

    from diagon_spark.index.deletes import delete_documents

    out = _build(spark, tmp_path)
    from diagon_spark.index.builder import IndexCatalog
    latest = IndexCatalog.list_commits(out)[-1]
    meta = _json.loads(latest.read_text())
    other = "icu" if meta["tokenizer"] == "ascii+regex" else "ascii+regex"
    meta["tokenizer"] = other  # pretend the build env differed
    latest.write_text(_json.dumps(meta))

    cat = IndexCatalog.load(out)
    vdf = spark.createDataFrame([(0,)], "doc_id long")
    delete_documents(spark, cat, vdf, join_cols=["doc_id"])  # new commit
    newest = _json.loads(IndexCatalog.list_commits(out)[-1].read_text())
    assert newest["tokenizer"] == other  # inherited, not re-stamped
