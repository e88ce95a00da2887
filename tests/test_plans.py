"""Physical-plan regression tests: the scale properties SURVEY.md §4 claims
must show up in the executed plan — bucket partition pruning, term
predicate pushdown, positions column pruning, and no AQE-collapsed
single-task scoring stage."""

import pytest
from pyspark.sql import functions as F

from diagon_spark import build_index, Searcher
from diagon_spark.corpus import corpus_df
from diagon_spark.search.query import Boolean, Term


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    df = corpus_df(spark, 300, partitions=4)
    cat = build_index(spark, df, out, num_segments=4, num_buckets=8,
                      positions=True)
    return Searcher(spark, cat)


@pytest.fixture(scope="module")
def driver_parts(searcher, spark, tmp_path_factory):
    """A postings part and a term_dict part written by a driver flush (a
    small append onto a copy of the index)."""
    import glob
    import shutil

    from diagon_spark.corpus import generate_pandas
    from diagon_spark.index.builder import IndexCatalog
    root = str(tmp_path_factory.mktemp("planidx-append") / "idx")
    shutil.copytree(searcher.cat.root, root)
    src = str(tmp_path_factory.mktemp("planidx-src") / "add.parquet")
    generate_pandas(300, 320).to_parquet(src, index=False)
    build_index(spark, spark.read.parquet(src), root, num_segments=1,
                num_buckets=8, positions=True, append=True, segment_base=4)
    assert IndexCatalog.load(root).commit_meta["flush"] == "driver"
    return [sorted(glob.glob(f"{root}/{t}/*/part-driver-*.parquet"))[0]
            for t in ("postings", "term_dict")]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_scan_is_pruned(searcher):
    fld = searcher.default_field
    pairs = [(fld, "int"), (fld, "return")]
    plan = _plan(searcher._postings(pairs, need_positions=False))
    assert "PartitionFilters: [bucket" in plan, "bucket partition pruning lost"
    assert "In(term" in plan and "PushedFilters" in plan, \
        "term predicate pushdown lost"
    assert "EqualTo(field" in plan, "field predicate pushdown lost"
    # positions are the biggest column (reference .pos = 173 B/doc); term
    # queries must never read them — column pruning via projection
    df = searcher._postings(pairs, need_positions=False)
    assert "pos_blocks" not in df.columns, \
        "column pruning lost: term query reads positions"


def test_phrase_scan_reads_positions(searcher):
    df = searcher._postings([(searcher.default_field, "int")],
                            need_positions=True)
    assert "pos_blocks" in df.columns


def test_scoring_stage_not_coalesced(searcher, on_spark):
    """AQE must not byte-coalesce the CPU-heavy scoring stage to one task
    (regression for the 32x serialization bug)."""
    q = Boolean(should=[Term("int"), Term("return")])
    plan = _plan(searcher.search(q, k=10))
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan \
        or "hashpartitioning(segment_id" in plan, plan[:800]


def test_term_granule_skip_bloom_or_dictionary(searcher, spark,
                                               driver_parts):
    """Term point-lookup granule skip (SURVEY §2.3 bloom row): every
    postings/term_dict row group either carries a parquet bloom filter on
    `term` (verified in the footer via the JVM reader) or its term column
    is FULLY dictionary-encoded — in which case parquet-mr intentionally
    omits the bloom because the page dictionary already gives exact
    row-group membership (same skipping power). At 100 TB the per-bucket
    vocabulary overflows the dictionary, encoding falls back to PLAIN,
    and the bloom (written with parquet.bloom.filter.enabled#term) takes
    over — self-tuning granule skip. The parts a driver flush writes with
    pyarrow (no blooms) must be fully dictionary-encoded."""
    import glob
    import pyarrow.parquet as pq
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    checked = 0
    for f in [sorted(glob.glob(pattern))[0] for pattern in (
            f"{searcher.cat.postings_path}/*/*.parquet",
            f"{searcher.cat.term_dict_path}/*/*.parquet")] + driver_parts:
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf)
        r = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        cols = r.getFooter().getBlocks().get(0).getColumns()
        offsets = {cols.get(i).getPath().toDotString():
                   cols.get(i).getBloomFilterOffset()
                   for i in range(cols.size())}
        r.close()
        if offsets.get("term", -1) > 0:
            checked += 1
            continue
        rg = pq.ParquetFile(f).metadata.row_group(0)
        enc = next(rg.column(i).encodings for i in range(rg.num_columns)
                   if rg.column(i).path_in_schema == "term")
        assert "PLAIN_DICTIONARY" in enc or "RLE_DICTIONARY" in enc, \
            (f, offsets, enc)
        checked += 1
    assert checked == 4


def test_term_dict_lookup_is_partition_pruned(searcher, spark):
    """term_dict is hive-partitioned by bucket (round 3): a stats lookup
    must prune to the query terms' bucket partitions, not scan the whole
    dictionary — checked on a Spark read through the lookup filter both
    substrates share."""
    from diagon_spark.search.local_reader import term_filter

    fld = searcher.default_field
    pairs = [(fld, "int"), (fld, "return")]
    df = (spark.read.parquet(searcher.cat.term_dict_path)
          .filter(term_filter(F.col, pairs, searcher.cat.num_buckets))
          .select("field", "term", "df", "cttf"))
    plan = _plan(df)
    scan_line = next(ln for ln in plan.splitlines()
                     if "PartitionFilters" in ln)
    assert "bucket" in scan_line.split("PartitionFilters")[1], plan[:800]


def test_docs_range_pushdown(searcher):
    from diagon_spark.search.query import Range
    plan = _plan(searcher._range_docs(Range("doc_len", 10, 50)))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(doc_len,10)" in plan
    assert "LessThanOrEqual(doc_len,50)" in plan
