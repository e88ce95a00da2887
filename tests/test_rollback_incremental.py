"""Rollback to an older commit point (IndexWriter.h:251) and incremental
term_dict/stats maintenance on append (no old-postings rescan)."""

from pyspark.sql import functions as F

from diagon_spark import Searcher, build_index
from diagon_spark.corpus import generate_pandas
from diagon_spark.index.builder import IndexCatalog, rollback
from diagon_spark.search.query import MatchAll, Term


def test_rollback_truncates_appended_segments(spark, tmp_path):
    out = str(tmp_path / "idx")
    df0 = spark.createDataFrame(generate_pandas(0, 60))
    build_index(spark, df0, out, num_segments=2, num_buckets=4,
                positions=False)  # commit gen 0
    s0 = Searcher(spark, IndexCatalog.load(out))
    base_hits = [(int(r.doc_id), float(r.score))
                 for r in s0.search(Term("int"), k=20).collect()]
    key = (s0.default_field, "int")
    base_df = s0.term_stats([key])[key][0]

    df1 = spark.createDataFrame(generate_pandas(60, 100))
    build_index(spark, df1, out, num_segments=2, num_buckets=4,
                positions=False, append=True, segment_base=2)  # gen 1
    s1 = Searcher(spark, IndexCatalog.load(out))
    assert s1.count(MatchAll()) == 100

    cat = rollback(spark, out, 0)
    assert cat.num_segments == 2
    s2 = Searcher(spark, IndexCatalog.load(out))
    assert s2.count(MatchAll()) == 60
    assert s2.term_stats([key])[key][0] == base_df
    rolled_hits = [(int(r.doc_id), float(r.score))
                   for r in s2.search(Term("int"), k=20).collect()]
    assert rolled_hits == base_hits


def test_append_incremental_stats_match_full_rebuild(spark, tmp_path):
    """Append maintains term_dict/stats by merge-adding the NEW segments'
    aggregates; results must equal a from-scratch build over the union."""
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    pdf_all = generate_pandas(0, 120)
    df01 = spark.createDataFrame(pdf_all.iloc[:70])
    df2 = spark.createDataFrame(pdf_all.iloc[70:])
    build_index(spark, df01, out_a, num_segments=2, num_buckets=4,
                positions=False)
    build_index(spark, df2, out_a, num_segments=2, num_buckets=4,
                positions=False, append=True, segment_base=2)
    build_index(spark, spark.createDataFrame(pdf_all), out_b,
                num_segments=4, num_buckets=4, positions=False)

    td_a = {(r.field, r.term): (int(r.df), int(r.cttf)) for r in
            spark.read.parquet(f"{out_a}/term_dict").collect()}
    td_b = {(r.field, r.term): (int(r.df), int(r.cttf)) for r in
            spark.read.parquet(f"{out_b}/term_dict").collect()}
    assert td_a == td_b

    st_a = {r.field: (int(r.max_doc), int(r.sum_total_term_freq),
                      int(r.sum_doc_freq))
            for r in spark.read.parquet(f"{out_a}/stats").collect()}
    st_b = {r.field: (int(r.max_doc), int(r.sum_total_term_freq),
                      int(r.sum_doc_freq))
            for r in spark.read.parquet(f"{out_b}/stats").collect()}
    assert st_a == st_b


def test_append_rewrites_only_touched_term_dict_buckets(spark, tmp_path):
    """term_dict is hive-partitioned by bucket; an append epoch must swap
    ONLY the bucket dirs its new terms hash to — O(touched vocabulary)
    maintenance per micro-batch, not an O(global vocabulary) rewrite
    (round-2 VERDICT scale hazard #2)."""
    import glob
    import os

    from diagon_spark.index.builder import term_bucket

    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 80)), out,
                num_segments=2, num_buckets=8, positions=False)

    def listing():
        state = {}
        for d in sorted(glob.glob(f"{out}/term_dict/bucket=*")):
            b = int(d.split("=")[-1])
            state[b] = sorted((os.path.basename(f), os.path.getmtime(f))
                              for f in glob.glob(f"{d}/*.parquet"))
        return state

    before = listing()
    assert len(before) >= 4  # the 80-doc Zipf corpus hits most buckets

    # an epoch whose vocabulary is ONE term -> exactly one touched bucket
    solo = spark.createDataFrame(
        [("r_solo", "p_solo", "c_solo", "py", "zzsolo zzsolo zzsolo")],
        "repo string, path string, commit string, lang string, content string")
    build_index(spark, solo, out, num_segments=1, num_buckets=8,
                positions=False, append=True, segment_base=2)
    after = listing()

    tb = term_bucket("zzsolo", 8, "content")
    changed = {b for b in set(before) | set(after)
               if before.get(b) != after.get(b)}
    assert changed == {tb}, (changed, tb)

    # and the merged stats are still exact
    s = Searcher(spark, IndexCatalog.load(out))
    assert s.count(MatchAll()) == 81
    key = (s.default_field, "zzsolo")
    assert s.term_stats([key])[key] == (1, 3)


def test_append_scan_prunes_old_segments(spark, tmp_path):
    """The append-time term_dict aggregation reads only new-segment rows:
    its scan carries a pushed segment_id >= base predicate, so parquet
    row-group stats skip every old-segment file."""
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 60)), out,
                num_segments=2, num_buckets=4, positions=False)
    pdf = (spark.read.parquet(f"{out}/postings")
           .filter(F.col("segment_id") >= 2))
    plan = pdf._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(segment_id,2)" in plan


def test_append_of_empty_content_keeps_term_dict(spark, tmp_path):
    """An append whose docs yield no postings touches no term_dict bucket:
    the whole live term_dict stays as it was and the index stays
    consistent (an empty bucket list must not mean 'replace the table')."""
    import pyarrow.dataset as ds

    from diagon_spark.index.check import HEALTHY, check_index

    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(generate_pandas(0, 40)), out,
                num_segments=2, num_buckets=4, positions=False)

    def term_dict():
        t = ds.dataset(f"{out}/term_dict", format="parquet",
                       partitioning="hive").to_table()
        return sorted((r["field"], r["term"], int(r["df"]), int(r["cttf"]))
                      for r in t.to_pylist())

    before = term_dict()
    empty = spark.createDataFrame(
        [("r_empty", "p_empty", "c_empty", "py", "")],
        "repo string, path string, commit string, lang string, content string")
    build_index(spark, empty, out, num_segments=1, num_buckets=4,
                positions=False, append=True, segment_base=2)
    assert term_dict() == before
    assert check_index(spark, out)["status"] == HEALTHY
    s = Searcher(spark, IndexCatalog.load(out))
    assert s.count(MatchAll()) == 41
