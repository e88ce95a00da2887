"""The two flush substrates of an append: an append smaller than one
doc-prep task flushes on the driver (`builder._flushes_on_driver`) in one
Spark job. On every case of the matrix below it must leave the tables a
Spark flush leaves — docs, postings (every column), term_dict, stats and
lineage (but wall_ms/ts) — so both query substrates and the LocalSearcher
return the same hits, check_index stays healthy and a following merge
writes the same tables."""

import os
import re
import shutil
import uuid
from pathlib import Path

import pyarrow.dataset as ds
import pytest
from conftest import pin_build_substrate, pin_substrate

from diagon_spark import Searcher, build_index
from diagon_spark.analysis.analyzers import synonym_analyzer
from diagon_spark.corpus import generate_pandas
from diagon_spark.index import builder
from diagon_spark.index.builder import IndexCatalog
from diagon_spark.index.check import HEALTHY, check_index
from diagon_spark.index.merge import maybe_merge
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import Boolean, Phrase, Term

TABLES = ("docs", "postings", "term_dict", "stats", "lineage")
ODD = [None, "", "naïve café — 日本語 int return", "ÅNGSTRÖM ﬁle int",
       "int int int", "İstanbul straße"]


def _corpus(lo, hi):
    pdf = generate_pandas(lo, hi)[["repo", "path", "content"]]
    pdf["doc_id"] = range(lo, hi)
    pdf["title"] = [p.rsplit("/", 1)[-1].replace(".", " ") for p in pdf.path]
    return pdf


def _odd(lo):
    """NULL, empty and non-ASCII content beside ordinary rows."""
    pdf = _corpus(lo, lo + 12)
    pdf.loc[:len(ODD) - 1, "content"] = ODD
    pdf.loc[len(ODD):len(ODD) * 2 - 1, "title"] = ODD
    return pdf


# build_index options of each base index
BASES = {
    "keys": dict(key_cols=["repo", "path"]),
    "id": dict(id_col="doc_id", positions=False),
    "fields": dict(key_cols=["repo", "path"], fields=["content", "title"]),
    "synonyms": dict(key_cols=["repo", "path"],
                     analyzer=synonym_analyzer()),
}

# case -> (base, append rows, append kwargs, (CHUNK_DOCS, ENCODE_GROUP_DOCS))
CASES = {
    "keys": ("keys", lambda: _corpus(40, 60), {}, None),
    "three_segments": ("keys", lambda: _corpus(40, 70),
                       dict(num_segments=3), None),
    "chunked_subbatched": ("keys", lambda: _corpus(40, 76), {}, (4, 9)),
    "odd_content": ("keys", lambda: _odd(40), {}, None),
    "empty_content": ("keys", lambda: _corpus(40, 46).assign(content=""),
                      {}, None),
    "id_no_positions": ("id", lambda: _corpus(40, 60), {}, None),
    "two_fields": ("fields", lambda: _odd(40), {}, None),
    "synonyms": ("synonyms", lambda: _corpus(40, 60), {}, None),
}

QUERIES = [Term("int"), Term("return"),
           Boolean(should=[Term("int"), Term("while"), Term("café")]),
           Boolean(must=[Term("int")], must_not=[Term("void")]),
           Phrase(("static", "void")), Term("function"),
           Term("py", field="title")]


def _frame(spark, tmp_path, pdf):
    path = str(tmp_path / f"in-{uuid.uuid4().hex}.parquet")
    pdf.to_parquet(path, index=False)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """One Spark-built base index per option set (40 docs, 2 segments)."""
    out = {}
    for name, kw in BASES.items():
        root = str(tmp_path_factory.mktemp(f"base-{name}"))
        pdf = _corpus(0, 40)
        path = os.path.join(root, "..", f"{name}-src.parquet")
        pdf.to_parquet(path, index=False)
        build_index(spark, spark.read.parquet(path), root, num_segments=2,
                    num_buckets=4, **kw)
        out[name] = root
    return out


def _rows(root, table, drop=()):
    t = ds.dataset(os.path.join(root, table), format="parquet",
                   partitioning="hive").to_table()
    cols = sorted(c for c in t.column_names if c not in drop)
    return sorted(repr(tuple(r[c] for c in cols)) for r in t.to_pylist())


def _tables(root, tables=TABLES):
    return {t: _rows(root, t, drop=("wall_ms", "ts")) for t in tables}


def _hits(spark, root, fields):
    cat = IndexCatalog.load(root)
    qs = [q for q in QUERIES
          if getattr(q, "field", None) in (None, *fields)
          and (cat.has_positions or not isinstance(q, Phrase))]
    ls = LocalSearcher(cat)
    out = {"local": [ls.search(q, k=50) for q in qs]}
    for sub in ("spark", "driver"):
        with pytest.MonkeyPatch.context() as mp:
            pin_substrate(mp, sub)
            s = Searcher(spark, cat)
            out[sub] = [[(r.doc_id, r.score)
                         for r in s.search(q, k=50).collect()] for q in qs]
    return out


def _append(spark, root, df, flush, opts, sizes):
    cat = IndexCatalog.load(root)
    with pytest.MonkeyPatch.context() as mp:
        pin_build_substrate(mp, flush)
        if sizes is not None:
            mp.setattr(builder, "CHUNK_DOCS", sizes[0])
            mp.setattr(builder, "ENCODE_GROUP_DOCS", sizes[1])
        build_index(spark, df, root, num_buckets=cat.num_buckets,
                    append=True, segment_base=cat.num_segments,
                    **{"num_segments": 1, **opts})
    meta = IndexCatalog.load(root).commit_meta
    assert meta["flush"] == flush
    return meta


@pytest.mark.parametrize("case", list(CASES))
def test_flush_substrates_write_identical_tables(spark, bases, tmp_path,
                                                 case):
    base, rows, kw, sizes = CASES[case]
    df = _frame(spark, tmp_path, rows())
    roots = {}
    for flush in ("spark", "driver"):
        roots[flush] = str(tmp_path / flush)
        shutil.copytree(bases[base], roots[flush])
        meta = _append(spark, roots[flush], df, flush,
                       {**BASES[base], **kw}, sizes)
        assert meta["batches_run"] == 1
    assert _tables(roots["driver"]) == _tables(roots["spark"])
    if sizes is not None:  # the case reached several chunks and sub-batches
        post = ds.dataset(os.path.join(roots["driver"], "postings"),
                          format="parquet", partitioning="hive").to_table()
        chunks = set(post.column("chunk").to_pylist())
        assert any(c >= 1 << 20 for c in chunks)
        assert any(0 < c < 1 << 20 for c in chunks)

    fields = IndexCatalog.load(roots["driver"]).fields
    assert _hits(spark, roots["driver"], fields) == \
        _hits(spark, roots["spark"], fields)
    assert check_index(spark, roots["driver"])["status"] == HEALTHY
    for root in roots.values():
        maybe_merge(spark, IndexCatalog.load(root), max_segments=1)
    merged = ("docs", "postings", "term_dict", "stats")
    assert _tables(roots["driver"], merged) == \
        _tables(roots["spark"], merged)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"flush-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_append_is_one_job_without_python_workers(spark, bases,
                                                        tmp_path,
                                                        monkeypatch):
    """Routed by the predicate itself (no pin): a small file-backed append
    flushes on the driver in exactly one Spark job, builds no Python UDF
    plan, and leaves the worker-only process tweaks unset."""
    from diagon_spark import _runtime
    root = str(tmp_path / "idx")
    shutil.copytree(bases["keys"], root)
    df = _frame(spark, tmp_path, _corpus(40, 60))

    def no_udf(*a, **k):
        raise AssertionError("the driver flush built a Python UDF plan")

    monkeypatch.setattr(builder, "prepare_docs", no_udf)
    monkeypatch.setattr(builder, "_in_worker", no_udf)
    monkeypatch.setattr(_runtime, "_done", False)
    monkeypatch.setattr(_runtime, "_malloc_done", False)
    _, n_jobs = _jobs(spark, lambda: build_index(
        spark, df, root, num_segments=1, num_buckets=4,
        key_cols=["repo", "path"], append=True, segment_base=2))
    assert n_jobs == 1
    assert IndexCatalog.load(root).commit_meta["flush"] == "driver"
    assert not _runtime._done and not _runtime._malloc_done


def test_routing_keeps_everything_else_on_spark(spark, bases, tmp_path,
                                                monkeypatch):
    """Fresh builds, in-memory inputs and appends above the byte bound
    (input plus live term_dict) flush on Spark."""
    pdf = _corpus(40, 50)
    files = _frame(spark, tmp_path, pdf)
    cat = IndexCatalog.load(bases["keys"])
    route = builder._flushes_on_driver
    kw = dict(resume=False, max_batches=None)
    assert route(files, cat, append=True, **kw)
    assert not route(files, cat, append=False, **kw)
    assert not route(files, cat, append=True, resume=True, max_batches=None)
    assert not route(files, cat, append=True, resume=False, max_batches=1)
    assert not route(spark.createDataFrame(pdf), cat, append=True, **kw)
    td = sum(f.stat().st_size for f in Path(cat.term_dict_path).rglob("*")
             if f.is_file())
    monkeypatch.setattr(builder, "DOC_PREP_BYTES_PER_PARTITION", td)
    assert not route(files, cat, append=True, **kw)


def test_doc_prep_evaluates_len_norm_once_per_field(spark):
    # doc_len and norm come out of one Python call per field (a struct):
    # the plan carries that UDF once per field, so neither column
    # re-evaluates it
    docs = builder.prepare_docs(
        spark.createDataFrame(_corpus(0, 10)), ["repo", "path"], None,
        ["content", "title"], 2)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 1, plan
    for col in ("content", "title"):
        assert len(re.findall(rf"len_norm_udf\({col}#", plan)) == 1, plan
