"""Regression tests for round-2 advisor findings (ADVICE.md r02, items
3-5): codec/format-version rejection of pre-change commits, rollback
pruning the tombstones of dropped segments. Items 1-2 (rewrite flattening /
filter-MatchAll) are covered by tests/test_rewrite_semantics.py and the
un-rewritten-oracle fuzz suite; item 5 (MAXSCORE upward rounding) by
tests/test_wand_pruning.py exactness assertions."""

import json
from pathlib import Path

import pytest

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog, rollback
from diagon_spark.search.query import MatchAll, Term


def _write_commit(root: str, gen: int, meta: dict) -> None:
    cdir = Path(root, "_commits")
    cdir.mkdir(parents=True, exist_ok=True)
    (cdir / f"commit_{gen}.json").write_text(json.dumps(meta))


_BASE_META = {"num_buckets": 4, "num_segments": 1, "has_positions": False,
              "key_cols": [], "fields": ["content"]}


def test_load_rejects_pre_spi_commit_without_codec_key(tmp_path):
    root = str(tmp_path / "idx")
    _write_commit(root, 0, dict(_BASE_META))  # no "codec" key: round-1 era
    with pytest.raises(ValueError, match="legacy codec.*Rebuild"):
        IndexCatalog.load(root)


def test_load_rejects_legacy_format_name(tmp_path):
    root = str(tmp_path / "idx")
    _write_commit(root, 0, {**_BASE_META, "codec": "bitpack128-varint-1"})
    with pytest.raises(ValueError, match="legacy codec.*Rebuild"):
        IndexCatalog.load(root)


def test_load_rejects_unknown_codec(tmp_path):
    root = str(tmp_path / "idx")
    _write_commit(root, 0, {**_BASE_META, "codec": "zstd-fancy-9"})
    with pytest.raises(ValueError, match="unknown postings codec"):
        IndexCatalog.load(root)


def test_current_commit_loads(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 30)), out,
                num_segments=1, num_buckets=4, positions=False)
    cat = IndexCatalog.load(out)
    assert cat.num_segments == 1


def test_rollback_prunes_tombstones_of_dropped_segments(spark, tmp_path):
    """Rollback keeps the tombstones of surviving docs and prunes those
    of docs in the segments it drops (ADVICE r02 item 4)."""
    from diagon_spark.index.deletes import delete_documents
    out = str(tmp_path / "idx")
    df0 = spark.createDataFrame(generate_pandas(0, 40))
    cat = build_index(spark, df0, out, num_segments=2, num_buckets=4,
                      positions=False)  # commit gen 0

    def delete(victim):
        return delete_documents(
            spark, IndexCatalog.load(out),
            spark.createDataFrame([(victim,)], "doc_id long"),
            join_cols=["doc_id"])

    # tombstones: one surviving doc (gen 1, the rollback target), then
    # one doc of an appended segment (gen 2 append, gen 3 delete)
    docs = spark.read.parquet(f"{out}/docs")
    keep_victim = int(docs.filter("segment_id < 2")
                      .select("doc_id").first().doc_id)
    assert delete(keep_victim) == 1
    df1 = spark.createDataFrame(generate_pandas(40, 70))
    build_index(spark, df1, out, num_segments=1, num_buckets=4,
                positions=False, append=True, segment_base=2)  # gen 2
    docs = spark.read.parquet(f"{out}/docs")
    drop_victim = int(docs.filter("segment_id >= 2")
                      .select("doc_id").first().doc_id)
    assert delete(drop_victim) == 1

    rolled = rollback(spark, out, generation=1)
    assert rolled.num_segments == 2
    # tombstone of the dropped epoch's doc is pruned; the survivor keeps
    # its tombstone row
    del_rows = spark.read.parquet(f"{out}/deleted").collect()
    assert {int(r.doc_id) for r in del_rows} == {keep_victim}
    s = Searcher(spark, rolled)
    assert s.count(MatchAll()) == 39  # 40 docs - 1 live tombstone
    hit_ids = {int(r.doc_id) for r in s.search(MatchAll(), k=100).collect()}
    assert keep_victim not in hit_ids and drop_victim not in hit_ids
