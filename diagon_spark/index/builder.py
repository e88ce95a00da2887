"""Index builder — Spark-first restatement of the reference write path.

Reference lifecycle (SURVEY.md §3.2, index/DocumentsWriterPerThread.cpp:522-701):
tokenize → in-memory FreqProx postings → flush a segment (sorted terms,
block-encoded postings + norms + stored) → atomic commit. Here:

* one **segment = one shuffle partition group**; DWPT assignment =
  `pmod(hash(key), num_segments)` above the latest commit's
  `next_segment_id` (its `segments` list is the SegmentInfos counter);
* FreqProx accumulation = `posexplode` + one shuffle into
  `(segment_id, field)` groups; term sort deferred to the encode UDF
  (numpy lexsort) exactly like the reference defers sorting to flush
  (index/FreqProxTermsWriter.h:32);
* posting-block encode (delta+bitpack+varint) in an Arrow-batched
  applyInPandas — see index/codec.py;
* **multi-field documents** (document/Field.h:24, index/FieldInfo.h:127-230):
  every postings/term_dict row carries a `field` column; norms, doc
  lengths and collection stats are per-field; one (segment, field) pair =
  one encode task, so fields add parallelism, not serialization;
* heavy-hitter terms are **chunked/salted**: a term's postings within a
  segment split into rows of <= CHUNK_DOCS docs, so no single parquet row
  or query-side group explodes on terms like "int"/"return" that occur in
  >50% of docs;
* atomic publish = appended segment rows + term_dict/stats staged and
  swapped in with the manifest commit file (index/publish.py — the
  parquet analogue of segments_N, index/IndexWriter.cpp:208-247);
* recommended session config for builds: spark.python.worker.reuse=false —
  the encode tasks of a large build run seconds each and long-lived
  python workers degrade ~60% over sequential heavy tasks (allocator
  growth). Worker spawn cost is noise at that task granularity, but not
  for a small commit: there it, plan compilation and JIT dominate;
* **two flush substrates**, routed by one predicate,
  `_flushes_on_driver` (the write-side twin of
  `Searcher._scores_on_driver`): an append whose input files plus the
  live term_dict fit one doc-prep task (DOC_PREP_BYTES_PER_PARTITION)
  flushes on the driver — one Spark job for the JVM doc-id step, then
  doc_len/norm, the same encode kernel and the term_dict merge-add in
  process, parts written with pyarrow (`_flush_on_driver`, the
  reference's in-process DWPT flush). Fresh builds, resume, large
  appends and in-memory inputs flush on Spark. Both write the same rows;
* **segment-granular resume**: a `lineage` table records per segment-batch
  (fingerprint, status, n_docs, n_postings, wall_ms); on resume, completed
  segments are skipped (north_rule checkpoint requirement);
* **incremental stats maintenance**: `append=True` aggregates term_dict /
  stats over the NEW segments only and merge-adds into the existing
  tables (both are additive sums) — a streaming micro-batch never rescans
  old postings (the reference's per-segment FieldStats that are summed at
  read time, index/SegmentInfos analogue).

Index tables written under `out_dir`:
  docs/       per-doc: segment_id, doc_id, key cols…, content_sha256,
              per-field doc_len__f / norm__f (+ doc_len/norm aliases of
              the default field)  (stored-fields/.nvd analogue)
  postings/   partitioned by bucket: (field, term) chunks w/ binary blocks
  term_dict/  (field, term) → global df, cttf (the .tim/.tip analogue)
  stats/      per-field collection stats (maxDoc, sumTotalTermFreq, …)
  lineage/    per-segment build lineage + metrics
  _commits/   manifest JSONs; highest N = current commit point

Parquet bloom filters are enabled on the `term` column of postings/
term_dict (writer option) so term point-lookups skip row groups that
dictionary/min-max stats can't exclude — the granule-skip analogue of the
reference's bloom index (SURVEY §2.3).
"""

from __future__ import annotations

import json
import time
import zlib
from dataclasses import dataclass, field as dc_field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from diagon_spark.index.norms import encode_norm

CHUNK_DOCS = 16384  # max docs per postings row (salting of heavy hitters)
ENCODE_GROUP_DOCS = 20_000  # docs per encode sub-batch (driver-side)
# encode-group routing: above this many groups the literal salt map would
# bloat the plan — fall back to repartitionByRange (see _partition_salts)
_SALT_ROUTE_MAX_GROUPS = 4096
DOC_ID_SEGMENT_SHIFT = 40  # doc_id = segment_id << 40 | local_id
# doc-prep work density: one input partition per this many parquet
# bytes. The doc-prep UDF costs ~0.1 s of CPU per input MB, and under the
# build session's worker.reuse=false every extra task pays a fresh fork +
# pandas import — small inputs must NOT fan out to core-count tasks
# (measured 2 s -> 5.6 s at 5k docs doing so). An append whose whole
# commit is below one such task flushes on the driver
# (_flushes_on_driver).
DOC_PREP_BYTES_PER_PARTITION = 4 << 20


def _lineage_arrow_schema(n_fields: int):
    import pyarrow as pa
    return pa.schema(
        [pa.field("segment_id", pa.int32()),
         pa.field("n_docs", pa.int64()),
         pa.field("input_fingerprint", pa.int64()),
         pa.field("n_postings", pa.int64())]
        + [pa.field(f"sum_len__{i}", pa.int64()) for i in range(n_fields)]
        + [pa.field("status", pa.string()),
           pa.field("wall_ms", pa.int32()),
           pa.field("batch", pa.int32()),
           pa.field("ts", pa.timestamp("us", tz="UTC"))])


def _write_part(path: str, table) -> None:
    """Add `table` to the parquet dir `path` as one pyarrow part file,
    written to a tmp name and atomically renamed in, so a reader listing
    the dir never sees a partial file. The `term` column of a postings or
    term_dict part is fully dictionary-encoded (no fallback to PLAIN):
    pyarrow writes no bloom filters, and the page dictionary gives the
    same row-group skip (tests/test_plans.py)."""
    import uuid

    import pyarrow.parquet as pq

    d = Path(path)
    d.mkdir(parents=True, exist_ok=True)
    name = f"part-driver-{uuid.uuid4().hex}.parquet"
    tmp = d / f".{name}.tmp"
    if "term" in table.column_names:
        pq.write_table(table, tmp, use_dictionary=["field", "term"],
                       dictionary_pagesize_limit=1 << 30)
    else:
        pq.write_table(table, tmp)
    tmp.rename(d / name)


def _append_tiny_parquet(spark, path: str, rows: list[dict],
                         schema) -> None:
    """Append a driver-known handful of metadata rows to a parquet dir
    WITHOUT a Spark job (`_write_part`). Types are pinned by `schema` so
    files from different waves/rounds always merge. A `ts` column, when
    present in the schema but absent from the rows, is stamped with the
    current time."""
    from datetime import datetime, timezone

    import pyarrow as pa

    if not rows:
        return
    if "ts" in schema.names and "ts" not in rows[0]:
        now = datetime.now(timezone.utc)
        rows = [{**r, "ts": now} for r in rows]
    _write_part(path, pa.Table.from_pylist(rows, schema=schema))
    spark.catalog.refreshByPath(path)


def _murmur3_hash_int(x: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt — what `F.hash(int_col)` computes
    (seed 42). Driver-side copy used to pre-solve hash-routing salts
    (see _partition_salts); equality with the JVM implementation is
    asserted in tests/test_salt_routing.py."""
    m = 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = (seed ^ k1) & m
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # fmix, len = 4 bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_salts(n: int) -> list[int]:
    """salts[p] = smallest non-negative int whose Spark hash lands in
    partition p of n — pmod(hash(salts[p]), n) == p. Routing rows by a
    per-group salt through an ordinary hash repartition then places each
    group ALONE in its own partition: the balance guarantee of
    repartitionByRange without its sampling pass (which re-executes the
    whole child plan once per build wave). Expected cost n·ln(n) hash
    probes, driver-side."""
    salts: list[int | None] = [None] * n
    found = 0
    x = 0
    while found < n:
        p = _murmur3_hash_int(x) % n  # python % is already non-negative
        if salts[p] is None:
            salts[p] = x
            found += 1
        x += 1
    return salts  # type: ignore[return-value]


def term_bucket(term: str, num_buckets: int, field: str) -> int:
    """Python-side bucket — postings/term_dict partition key. Hashes
    (field, term) so one term indexed under many fields spreads across
    buckets."""
    key = field.encode("utf-8") + b"\x00" + term.encode("utf-8")
    return zlib.crc32(key) % num_buckets


def _bq(name: str) -> str:
    """Backtick-quote a column name (dotted flattened-JSON names)."""
    return "`" + name.strip("`") + "`"


def _field_name(col: str) -> str:
    return col.strip("`")


def doc_len_col(field: str) -> str:
    return f"doc_len__{field}"


def norm_col(field: str) -> str:
    return f"norm__{field}"


POSTINGS_SCHEMA = StructType([
    StructField("field", StringType()),
    StructField("term", StringType()),
    StructField("bucket", IntegerType()),
    StructField("segment_id", IntegerType()),
    StructField("chunk", IntegerType()),
    StructField("df", IntegerType()),
    StructField("ttf", LongType()),
    StructField("doc_blocks", BinaryType()),
    StructField("tf_blocks", BinaryType()),
    StructField("norm_bytes", BinaryType()),
    StructField("block_first", ArrayType(LongType())),
    StructField("block_last", ArrayType(LongType())),
    StructField("block_max_tf", ArrayType(IntegerType())),
    StructField("block_max_norm", ArrayType(IntegerType())),
    StructField("block_doc_off", ArrayType(IntegerType())),
    StructField("block_tf_off", ArrayType(IntegerType())),
    StructField("pos_blocks", BinaryType()),
    StructField("block_pos_off", ArrayType(IntegerType())),
])

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]

# parquet bloom filters on the term point-lookup column (granule skip
# beyond min-max/dictionary stats — SURVEY §2.3 bloom row). Bloom size is
# ~1.3 B per expected distinct value per row group; 4096 keeps the
# fixed overhead ~5 KB/row-group (noise at scale, honest at sandbox
# scale).
_BLOOM_OPTS = {"parquet.bloom.filter.enabled#term": "true",
               "parquet.bloom.filter.expected.ndv#term": "4096"}


@dataclass
class IndexCatalog:
    """Handle to a committed index (the DirectoryReader analogue);
    `segments` lists its live segment ids in ascending order."""

    root: str
    num_buckets: int
    segments: list[int]
    has_positions: bool
    key_cols: list[str]
    fields: list[str] = dc_field(default_factory=lambda: ["content"])
    # commit generation this handle was opened at (IndexCommit analogue);
    # None for a not-yet-committed builder handle. commit() advances it.
    generation: int | None = None
    # parsed metadata of the commit this handle was opened at (load) or
    # last published (commit) — one source of truth for readers
    commit_meta: dict | None = None

    @property
    def default_field(self) -> str:
        return self.fields[0]

    @property
    def num_segments(self) -> int:
        return len(self.segments)

    @property
    def next_segment_id(self) -> int:
        return max(self.segments, default=-1) + 1

    @property
    def docs_path(self) -> str:
        return f"{self.root}/docs"

    @property
    def postings_path(self) -> str:
        return f"{self.root}/postings"

    @property
    def term_dict_path(self) -> str:
        return f"{self.root}/term_dict"

    @property
    def stats_path(self) -> str:
        return f"{self.root}/stats"

    @property
    def lineage_path(self) -> str:
        return f"{self.root}/lineage"

    @staticmethod
    def _gen_of(p: Path) -> int:
        return int(p.stem.split("_")[-1])

    @staticmethod
    def list_commits(root: str) -> list:
        """Commit files sorted by generation (numeric — commit_10 follows
        commit_9, not commit_1)."""
        return sorted(Path(root, "_commits").glob("commit_*.json"),
                      key=IndexCatalog._gen_of)

    @staticmethod
    def load(root: str, generation: int | None = None) -> "IndexCatalog":
        """Open the index at its latest commit point, or at an older
        `generation` — the IndexCommit/open-at-commit-point analogue
        (index/IndexWriter.h:251 rollback, DirectoryReader open-at-commit)."""
        commits = IndexCatalog.list_commits(root)
        if not commits:
            raise FileNotFoundError(f"no commit point under {root}/_commits")
        if generation is not None:
            by_gen = {IndexCatalog._gen_of(p): p for p in commits}
            if generation not in by_gen:
                raise FileNotFoundError(
                    f"no commit generation {generation} under {root}")
            meta = json.loads(by_gen[generation].read_text())
            opened_gen = generation
        else:
            meta = json.loads(commits[-1].read_text())
            opened_gen = IndexCatalog._gen_of(commits[-1])
        from diagon_spark.index.codec import codec_for_name
        # commits without a codec key predate the SPI (round-1 format) —
        # they must be REJECTED with a migration message, not defaulted to
        # the current name and mis-read
        codec_for_name(meta.get("codec", "<pre-SPI commit, no codec key>"))
        if "segments" not in meta:  # older format: callers rebuild
            raise FileNotFoundError(f"{root}: commit lists no segments")
        return IndexCatalog(
            root=root,
            fields=list(meta.get("fields") or ["content"]),
            generation=opened_gen,
            commit_meta=meta,
            **{k: meta[k] for k in ("num_buckets", "segments",
                                    "has_positions", "key_cols")})

    def commit(self, extra: dict | None = None) -> None:
        cdir = Path(self.root, "_commits")
        cdir.mkdir(parents=True, exist_ok=True)
        existing = IndexCatalog.list_commits(self.root)
        gen = (IndexCatalog._gen_of(existing[-1]) + 1) if existing else 0
        from diagon_spark.analysis.tokenizer import HAVE_ICU
        from diagon_spark.index.codec import CODEC_NAME
        # which non-ASCII tokenizer BUILT this index (the ASCII fast path
        # is identical either way, but non-ASCII rows under ICU UAX#29
        # differ from the regex fallback, so serving should match this
        # flag — check_index compares). Maintenance commits (deletes,
        # merge, rollback) never re-tokenize, so they INHERIT the flag of
        # the commit they extend rather than re-stamping the current
        # environment; only a first build (or an explicit extra override,
        # e.g. a custom analyzer) sets it.
        prev_tok = None
        if existing:
            prev_tok = json.loads(existing[-1].read_text()).get("tokenizer")
        meta = {
            "num_buckets": self.num_buckets,
            "segments": self.segments,
            "has_positions": self.has_positions,
            "key_cols": self.key_cols,
            "fields": self.fields,
            "codec": CODEC_NAME,  # Codec SPI: readers validate via registry
            "tokenizer": prev_tok or ("icu" if HAVE_ICU
                                      else "ascii+regex"),
            "ts": time.time(),
            **(extra or {}),
        }
        tmp = cdir / f".commit_{gen}.json.tmp"
        tmp.write_text(json.dumps(meta))
        tmp.rename(cdir / f"commit_{gen}.json")  # atomic publish (segments_N)
        self.generation = gen


def _postings_frame(fld: str, segment_id: int, terms: list[str],
                    buckets: list[int], docs: np.ndarray, tfs: np.ndarray,
                    norms: np.ndarray, t_starts: np.ndarray,
                    t_ends: np.ndarray, pos_deltas: np.ndarray | None,
                    td_starts: np.ndarray | None, chunk_docs: int,
                    chunk_base: int = 0) -> pd.DataFrame:
    """The POSTINGS_SCHEMA rows of one (segment, field) — the one
    postings writer behind both the build's flush and the merge (the
    reference hands a merge's k-way-merged postings to the same
    FieldsConsumer a flush uses, SegmentMerger.cpp:555-585).

    Inputs are (term, doc)-grouped arrays in (term, doc) order: one
    `docs/tfs/norms` entry per (term, doc) pair, `t_starts/t_ends` the
    bounds of term i (named `terms[i]`, stored under `buckets[i]`) in that
    space. With positions, `pos_deltas` is the value-space delta stream
    (first position of each (term, doc) absolute, the rest gaps) and
    `td_starts` the value-space start of each (term, doc) pair (both None
    without positions). Every term splits into chunks of <= `chunk_docs`
    docs, numbered from `chunk_base`; all of them encode in one
    `codec.encode_segment_batch` call.

    Callers pass `chunk_docs` from inside their Spark closures, so the
    CHUNK_DOCS a driver sees ships with the closure."""
    from diagon_spark.index.codec import encode_segment_batch
    recs = encode_segment_batch(docs, tfs, norms, t_starts, t_ends,
                                chunk_docs, pos_deltas, td_starts)
    rows = []
    for rec in recs:
        ti = rec["term_i"]
        rows.append({
            "field": fld,
            "term": terms[ti],
            "bucket": buckets[ti],
            "segment_id": segment_id,
            "chunk": chunk_base + int(rec["chunk"]),
            "df": int(rec["df"]),
            "ttf": int(rec["ttf"]),
            "doc_blocks": rec["doc_blocks"],
            "tf_blocks": rec["tf_blocks"],
            "norm_bytes": rec["norm_bytes"],
            "block_first": rec["block_first"].tolist(),
            "block_last": rec["block_last"].tolist(),
            "block_max_tf": rec["block_max_tf"].tolist(),
            "block_max_norm": rec["block_max_norm"].tolist(),
            "block_doc_off": rec["block_doc_off"].tolist(),
            "block_tf_off": rec["block_tf_off"].tolist(),
            "pos_blocks": rec["pos_blocks"],
            "block_pos_off": (None if rec["block_pos_off"] is None
                              else rec["block_pos_off"].tolist()),
        })
    return pd.DataFrame(rows, columns=_POSTINGS_COLS)


def _analyze_flat(analyzer, texts: pd.Series):
    """A custom analyzer's output as the flat arrays
    `tokenize_factorize_sliced` emits: (row, pos, term_id, sorted_vocab).
    Analyzers marked `emits_positions` return (token, position) pairs
    (same-position synonym semantics, SynonymFilter.cpp); for the others a
    token's position is its ordinal within its row."""
    from itertools import chain
    tok_lists = analyzer(texts).tolist()
    lens = np.fromiter(map(len, tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    flat = list(chain.from_iterable(tok_lists))
    rows = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
    if getattr(analyzer, "emits_positions", False):
        poss = np.fromiter((p for _, p in flat), dtype=np.int64,
                           count=len(flat))
        flat = [t for t, _ in flat]
    else:
        starts = np.cumsum(lens) - lens
        poss = np.arange(len(flat), dtype=np.int64) - starts[rows]
    term_ids, vocab = pd.factorize(np.array(flat, dtype=object), sort=True)
    return rows, poss, term_ids, vocab


def _encode_segment_fn(num_buckets: int, has_positions: bool, analyzer=None):
    """The encode kernel of ONE (segment, field) group of compact
    (doc_id, __content) rows — the DWPT flush analogue. Tokenization,
    norms, the token-level explode, (term, doc) aggregation, term sort,
    and block encode ALL happen in numpy inside the UDF. The only shuffle
    in the postings build carries ONE string per (doc, field) and NOTHING
    computed runs on its map side: fusing even the tokenizer UDF into the
    shuffle-write stage measured negatively-scaling (python-worker +
    shuffle-writer contention), and shuffling token arrays moved tens of
    millions of small objects through UnsafeRow/Arrow/pandas boundaries.

    The default tokenizer and a custom `analyzer` both reduce the group to
    the same flat (row, pos, term_id, sorted_vocab) arrays over rows
    pre-sorted by doc_id; from there one sort, one grouping and one
    `_postings_frame` call serve both. The Spark flush runs it through
    `_in_worker`, the driver flush in the driver process."""

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(columns=_POSTINGS_COLS)
        segment_id = int(key[0])
        fld = str(key[1])
        # sub-batch chunk namespace: sub order == doc-range order, so
        # chunk values stay docID-ordered across sub-batches
        chunk_base = (int(key[2]) << 20) if len(key) > 2 else 0
        row_doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        row_order = np.argsort(row_doc_ids, kind="stable")
        texts = pdf["__content"].iloc[row_order]
        if analyzer is None:
            # the WHOLE group tokenizes into flat numpy arrays — zero
            # per-token Python objects. Large groups were superlinear
            # purely from allocator/GC pressure over tens of millions of
            # bytes objects (measured 3-4x s/doc at 150k-doc groups under
            # 8-way concurrency, round-4 group-size probes); this path
            # holds s/doc flat across group sizes. Only the per-segment
            # vocabulary is decoded to str.
            from diagon_spark.analysis.tokenizer import \
                tokenize_factorize_sliced
            doc_idx, poss, term_ids, sorted_vocab, _ = \
                tokenize_factorize_sliced(texts)
            term_strs = [v.decode("utf-8") for v in sorted_vocab]
        else:
            doc_idx, poss, term_ids, term_strs = _analyze_flat(analyzer,
                                                               texts)
        if len(term_ids) == 0:
            return pd.DataFrame(columns=_POSTINGS_COLS)
        docs_per_row = row_doc_ids[row_order]
        lens = np.bincount(doc_idx, minlength=len(pdf))
        norms_per_row = encode_norm(lens).astype(np.int64)
        if (len(pdf) < (1 << 20) and 0 <= int(poss.min())
                and int(poss.max()) < (1 << 16)
                and len(term_strs) < (1 << 28)):
            # the (term, doc, pos) sort as ONE in-place u64 sort of
            # packed keys — term(28b) | row(20b) | pos(16b). Replaces
            # the 3-key lexsort + FOUR 250MB random-read permute
            # gathers (the two phases left DRAM-latency-bound after
            # slicing — round-4 per-phase probe)
            # with sequential shift/mask passes and two gathers into
            # the per-ROW tables (cache-resident). Row order is doc_id
            # order (rows pre-sorted), so row-ascending == doc-
            # ascending and the packed order IS (term, doc, pos).
            packed = ((term_ids.astype(np.uint64) << np.uint64(36))
                      | (doc_idx.astype(np.uint64) << np.uint64(16))
                      | poss.astype(np.uint64))
            del term_ids, doc_idx, poss
            packed.sort()
            term_ids = (packed >> np.uint64(36)).astype(np.int32)
            doc_local = ((packed >> np.uint64(16))
                         & np.uint64(0xFFFFF)).astype(np.int64)
            poss = (packed & np.uint64(0xFFFF)).astype(np.int64)
            del packed
            docs = docs_per_row[doc_local]
            norms = norms_per_row[doc_local]
            del doc_local
        else:
            # guard fallback (≥1M-row group, a position outside
            # [0, 64k), or ≥256M vocab): classic lexsort + permute
            docs = docs_per_row[doc_idx]
            norms = norms_per_row[doc_idx]
            order = np.lexsort((poss, docs, term_ids))
            term_ids, docs, norms, poss = (
                term_ids[order], docs[order], norms[order], poss[order])

        # group boundaries at (term, doc) change → tf per (term, doc)
        new_td = np.empty(len(term_ids), dtype=bool)
        new_td[0] = True
        new_td[1:] = (term_ids[1:] != term_ids[:-1]) | (docs[1:] != docs[:-1])
        td_starts = np.flatnonzero(new_td)
        td_ends = np.append(td_starts[1:], len(term_ids))
        tfs = (td_ends - td_starts).astype(np.int64)
        g_term_ids = term_ids[td_starts]

        # term boundaries over the (term, doc) groups
        new_t = np.empty(len(g_term_ids), dtype=bool)
        new_t[0] = True
        new_t[1:] = g_term_ids[1:] != g_term_ids[:-1]
        t_starts = np.flatnonzero(new_t)
        t_ends = np.append(t_starts[1:], len(g_term_ids))

        pos_deltas = None
        if has_positions:
            # flat delta stream over the WHOLE group in one vectorized
            # pass: first position of each (term, doc) absolute, the rest
            # gaps (the per-doc python loop was 77% of encode CPU)
            pos_deltas = np.empty_like(poss)
            pos_deltas[0] = poss[0]
            pos_deltas[1:] = poss[1:] - poss[:-1]
            pos_deltas[td_starts] = poss[td_starts]

        terms = [term_strs[i] for i in g_term_ids[t_starts]]
        return _postings_frame(
            fld, segment_id, terms,
            [term_bucket(t, num_buckets, fld) for t in terms],
            docs[td_starts], tfs, norms[td_starts], t_starts, t_ends,
            pos_deltas, td_starts if has_positions else None, CHUNK_DOCS,
            chunk_base)

    return encode


def _doc_ids(df: DataFrame, key_cols: list[str] | None, id_col: str | None,
             num_segments: int, segment_base: int = 0) -> DataFrame:
    """`df` with deterministic `segment_id` and `doc_id` columns.

    Deterministic doc_id (north_rule): with key_cols, docs are ordered by
    sha256(key) inside their hash-assigned segment and numbered — identical
    regardless of input partitioning (SegmentMerger docBase remap analogue,
    index/SegmentMerger.cpp:45-63). With id_col, the given unique id is
    used as-is and the segment derives from it.
    """
    if id_col is not None:
        base = df.withColumn("doc_id", F.col(id_col).cast("long"))
        return base.withColumn(
            "segment_id",
            (F.pmod(F.col("doc_id"), F.lit(num_segments))
             + F.lit(segment_base)).cast("int"))
    key = F.concat_ws("\x00", *[F.col(c) for c in key_cols])
    base = df.withColumn("_key_sha", F.sha2(key, 256))
    base = base.withColumn(
        "segment_id",
        (F.pmod(F.xxhash64(F.col("_key_sha")), F.lit(num_segments))
         + F.lit(segment_base)).cast("int"))
    w = Window.partitionBy("segment_id").orderBy("_key_sha")
    base = base.withColumn(
        "doc_id",
        (F.col("segment_id").cast("long") * F.lit(1 << DOC_ID_SEGMENT_SHIFT)
         + F.row_number().over(w) - 1))
    return base.drop("_key_sha")


def _content_sha(field_cols: list[str]):
    """content_sha256 (north_rule per-row invariant): single-field ==
    sha256(content) of the source row; multi-field hashes the NUL-joined
    field values."""
    if len(field_cols) == 1:
        return F.sha2(F.col(field_cols[0]), 256)
    return F.sha2(F.concat_ws("\x00", *[F.coalesce(F.col(c).cast("string"),
                                                   F.lit(""))
                                        for c in field_cols]), 256)


def _len_norm(texts: pd.Series, analyzer=None) -> pd.DataFrame:
    """Per-row doc_len (token count) and norm of one field: the body of
    the doc-prep UDF and of the driver flush."""
    if analyzer is None:
        # fast path: count tokens without materializing token lists
        from diagon_spark.analysis.tokenizer import count_tokens_series
        lens = count_tokens_series(texts).astype(np.int32)
    else:
        lens = analyzer(texts).map(len).to_numpy(dtype=np.int32)
    return pd.DataFrame({"doc_len": lens,
                         "norm": encode_norm(lens).astype(np.int32)})


def prepare_docs(df: DataFrame, key_cols: list[str] | None, id_col: str | None,
                 field_cols: list[str], num_segments: int, analyzer=None,
                 segment_base: int = 0) -> DataFrame:
    """The Spark flush's doc prep: `_doc_ids`, then per-field doc_len/norm
    (one UDF call per field) and content_sha256."""
    default_col = field_cols[0]
    base = _doc_ids(df, key_cols, id_col, num_segments, segment_base)

    @F.pandas_udf("doc_len int, norm int")
    def len_norm_udf(texts: pd.Series) -> pd.DataFrame:
        return _len_norm(texts, analyzer)

    for col in field_cols:
        fname = _field_name(col)
        base = base.withColumn("__len_norm", len_norm_udf(F.col(col)))
        base = (base.withColumn(doc_len_col(fname), F.col("__len_norm.doc_len"))
                .withColumn(norm_col(fname), F.col("__len_norm.norm"))
                .drop("__len_norm"))
    # back-compat aliases for the default field
    base = base.withColumn("doc_len",
                           F.col(_bq(doc_len_col(_field_name(default_col)))))
    base = base.withColumn("norm",
                           F.col(_bq(norm_col(_field_name(default_col)))))
    return base.withColumn("content_sha256", _content_sha(field_cols))


def _in_worker(encode):
    """The Spark side of an encode kernel: `_runtime.worker_init` first.
    Its process-global tweaks belong in the Python workers Spark starts,
    never in the driver, which is a host application's process."""

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from diagon_spark._runtime import worker_init
        worker_init()
        return encode(key, pdf)

    return kernel


def _segment_facts(r, n_fields: int) -> dict:
    """One segment's lineage facts and encode-group bounds, from a row of
    the per-segment aggregate (segment_id, lo, hi, n, input_fingerprint
    = sum of crc32(content_sha256), n_postings, sum_len__i)."""
    return {"segment_id": int(r["segment_id"]), "lo": int(r["lo"]),
            "hi": int(r["hi"]), "n_docs": int(r["n"]),
            "input_fingerprint": int(r["input_fingerprint"] or 0),
            "n_postings": int(r["n_postings"] or 0),
            **{f"sum_len__{i}": int(r[f"sum_len__{i}"] or 0)
               for i in range(n_fields)}}


def _sub_batches(facts: list[dict]) -> dict[int, tuple[int, int, int]]:
    """segment_id -> (lo, span, n_subs): each (segment, field) encodes in
    doc-id-range sub-batches of ~ENCODE_GROUP_DOCS docs, sub-batch
    `_sub(doc_id, lo, span)`. Capped so sub<<20 fits the int32 chunk
    column (sub <= 2047)."""
    out = {}
    for f in facts:
        n_subs = max(1, min(2000, f["n_docs"] // ENCODE_GROUP_DOCS))
        out[f["segment_id"]] = (f["lo"], max(
            1, -(-(f["hi"] - f["lo"] + 1) // n_subs)), n_subs)
    return out


def _sub(doc_id, lo, span, floor):
    """The encode sub-batch of a doc — one expression over Spark columns
    (floor=F.floor) or numpy arrays (floor=np.floor)."""
    return floor((doc_id - lo) / span)


def _record_segments(spark, cat: IndexCatalog, facts: list[dict],
                     wall_ms: int, batch: int, stats_acc: dict) -> None:
    """Lineage rows of one wave's segments, appended as one tiny parquet
    part (no Spark job), and their doc/len sums added to `stats_acc` —
    the stats refresh then needs no docs scan."""
    n_fields = len(cat.fields)
    _append_tiny_parquet(
        spark, cat.lineage_path,
        [{**{k: f[k] for k in ("segment_id", "n_docs", "input_fingerprint",
                               "n_postings")},
          **{f"sum_len__{i}": f[f"sum_len__{i}"] for i in range(n_fields)},
          "status": "done", "wall_ms": wall_ms, "batch": batch}
         for f in facts],
        _lineage_arrow_schema(n_fields))
    for f in facts:
        stats_acc["n"] += f["n_docs"]
        for i, fn_ in enumerate(cat.fields):
            stats_acc["sttf"][fn_] += f[f"sum_len__{i}"]


def _flushes_on_driver(df: DataFrame, cat: IndexCatalog, *, append: bool,
                       resume: bool, max_batches: int | None) -> bool:
    """Whether a build flushes on the driver: a plain append whose input
    files plus the live term_dict (which the append merge-adds into) fit
    one doc-prep task, DOC_PREP_BYTES_PER_PARTITION — so the whole commit
    is less than one Spark task of work, where a Spark flush spends its
    time in plan compilation and Python-worker start-up. Fresh builds,
    resume, capped builds and inputs without known file bytes (in-memory
    frames) flush on Spark. The same routing as
    `Searcher._scores_on_driver` on the read side."""
    from diagon_spark.parallel import _input_bytes
    if not append or resume or max_batches is not None:
        return False
    files = df.inputFiles()
    n = _input_bytes(files) if files else None
    if n is None:
        return False
    td = Path(cat.term_dict_path)
    td_bytes = (sum(f.stat().st_size for f in td.rglob("*") if f.is_file())
                if td.exists() else 0)
    return n + td_bytes <= DOC_PREP_BYTES_PER_PARTITION


def _flush_on_driver(spark, df: DataFrame, cat: IndexCatalog, pub, *,
                     key_cols, id_col, field_cols: list[str],
                     docs_cols: list[str], num_segments: int,
                     segment_base: int, batches: list[list[int]],
                     analyzer) -> None:
    """Flush a small append on the driver — the in-process segment flush
    of the reference's DocumentsWriterPerThread (SURVEY §3.2). One Spark
    job collects the JVM id step (`_doc_ids`), content_sha256 and the
    lineage crc32 as Arrow over the input coalesced to one partition (so
    the doc-id window needs no exchange); doc_len/norm, the encode
    (`_encode_segment_fn` per (segment, field, sub) group) and the
    term_dict merge-add run in this process, and every part is written
    with pyarrow. The tables equal a Spark flush's row for row
    (tests/test_flush_substrate.py); stats and the commit take the same
    path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    t0 = time.time()
    field_names = cat.fields
    computed = {"doc_len", "norm", *(c for fn_ in field_names
                                     for c in (doc_len_col(fn_),
                                               norm_col(fn_)))}
    tbl = (_doc_ids(df.coalesce(1), key_cols, id_col, num_segments,
                    segment_base)
           .withColumn("content_sha256", _content_sha(field_cols))
           .select(*[F.col(_bq(c)) for c in docs_cols if c not in computed],
                   F.crc32(F.col("content_sha256")).alias("__crc"))
           .toArrow())
    seg = tbl.column("segment_id").to_numpy()
    doc = tbl.column("doc_id").to_numpy()
    crc = tbl.column("__crc").fill_null(0).to_numpy()  # NULL content
    texts = {fn_: tbl.column(fn_).to_pandas() for fn_ in field_names}
    lens = {}
    for fn_ in field_names:
        ln = _len_norm(texts[fn_], analyzer)
        lens[fn_] = ln["doc_len"].to_numpy()
        tbl = (tbl.append_column(doc_len_col(fn_), pa.array(lens[fn_]))
               .append_column(norm_col(fn_), pa.array(ln["norm"])))
    tbl = (tbl.append_column("doc_len", tbl.column(doc_len_col(field_names[0])))
           .append_column("norm", tbl.column(norm_col(field_names[0]))))
    docs_tbl = tbl.select([_field_name(c) for c in docs_cols])
    if len(docs_tbl):
        # the live table's column order and types; Spark writes every
        # column nullable
        live = (ds.dataset(cat.docs_path, format="parquet").schema
                if Path(cat.docs_path).exists() else None)
        if live is None or sorted(live.names) != sorted(docs_tbl.column_names):
            live = pa.schema([f.with_nullable(True) for f in docs_tbl.schema])
        _write_part(cat.docs_path, docs_tbl.select(live.names).cast(live))
        spark.catalog.refreshByPath(cat.docs_path)

    total = sum(lens[fn_].astype(np.int64) for fn_ in field_names)
    facts = []
    for s in np.unique(seg).tolist():
        m = seg == s
        facts.append(_segment_facts({
            "segment_id": s, "lo": doc[m].min(), "hi": doc[m].max(),
            "n": int(m.sum()), "input_fingerprint": int(crc[m].sum()),
            "n_postings": int(total[m].sum()),
            **{f"sum_len__{i}": int(lens[fn_][m].sum(dtype=np.int64))
               for i, fn_ in enumerate(field_names)}}, len(field_names)))
    subs = _sub_batches(facts)
    sub = _sub(doc, np.array([subs[s][0] for s in seg.tolist()], np.int64),
               np.array([subs[s][1] for s in seg.tolist()], np.int64),
               np.floor).astype(np.int64)
    encode = _encode_segment_fn(cat.num_buckets, cat.has_positions,
                                analyzer)
    frames = []
    for fn_ in field_names:
        for s in sorted(subs):
            for b in range(subs[s][2]):
                m = (seg == s) & (sub == b)
                if m.any():
                    frames.append(encode((s, fn_, b), pd.DataFrame({
                        "doc_id": doc[m],
                        "__content": texts[fn_][m].reset_index(drop=True)})))
    frames = [f for f in frames if len(f)]
    post = pa.Table.from_pandas(
        pd.concat(frames, ignore_index=True) if frames
        else pd.DataFrame(columns=_POSTINGS_COLS),
        schema=to_arrow_schema(POSTINGS_SCHEMA), preserve_index=False)
    touched = sorted(set(post.column("bucket").to_pylist()))
    for b in touched:
        _write_part(f"{cat.postings_path}/bucket={b}",
                    post.filter(pc.equal(post.column("bucket"), b))
                    .drop_columns(["bucket"]))
    if touched:
        spark.catalog.refreshByPath(cat.postings_path)
    wall_ms = int((time.time() - t0) * 1000)
    stats_acc = {"n": 0, "sttf": {fn_: 0 for fn_ in field_names}}
    for bi, seg_ids in enumerate(batches):
        wave = [f for f in facts if f["segment_id"] in seg_ids]
        if wave:
            _record_segments(spark, cat, wave, wall_ms, bi, stats_acc)

    sdf = _merge_term_dict_parts(cat, pub, post, touched)
    _stage_stats(spark, cat, pub, append=True, n_new=stats_acc["n"],
                 sttf_new=stats_acc["sttf"], sdf=sdf, additive=True)


def _merge_term_dict_parts(cat: IndexCatalog, pub, post, touched: list[int]
                           ) -> dict[str, int]:
    """The driver flush's term_dict refresh: merge-add the new postings'
    per-(field, term) df/cttf into each touched `bucket=N` partition
    (read the live one, sum) and stage those partitions into `pub`.
    Returns the per-field df delta, for sum_doc_freq."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    new = (post.group_by(["field", "term", "bucket"])
           .aggregate([("df", "sum"), ("ttf", "sum")])
           .rename_columns(["field", "term", "bucket", "df", "cttf"]))
    sdf = {r["field"]: int(r["df_sum"]) for r in
           new.group_by("field").aggregate([("df", "sum")]).to_pylist()}
    if not touched:  # docs without postings leave term_dict as it is
        return sdf
    staged = pub.stage("term_dict", parts=[f"bucket={b}" for b in touched])
    for b in touched:
        add = (new.filter(pc.equal(new.column("bucket"), b))
               .drop_columns(["bucket"]))
        live = Path(cat.term_dict_path, f"bucket={b}")
        if live.exists():
            old = pq.read_table(live)
            add = pa.concat_tables([old, add.cast(old.schema)])
        merged = (add.group_by(["field", "term"])
                  .aggregate([("df", "sum"), ("cttf", "sum")])
                  .rename_columns(["field", "term", "df", "cttf"])
                  .sort_by([("field", "ascending"), ("term", "ascending")]))
        _write_part(f"{staged}/bucket={b}", merged.cast(add.schema))
    return sdf


def build_index(spark: SparkSession, df: DataFrame, out_dir: str,
                **kwargs) -> IndexCatalog:
    """Single-writer entry point: acquires `<out_dir>/write.lock` for the
    duration of the build (IndexWriter lock semantics — a second
    concurrent writer on the same root fails fast instead of corrupting
    the commit chain; see index/lock.py). All build options are forwarded
    to `_build_index_impl`, whose docstring documents them."""
    from diagon_spark.index.lock import write_lock
    with write_lock(out_dir):
        cat, pub, meta = _build_index_impl(spark, df, out_dir, **kwargs)
        pub.commit(cat, meta)
        return cat


def _build_index_impl(spark: SparkSession, df: DataFrame, out_dir: str, *,
                      num_segments: int = 8, num_buckets: int = 16,
                      key_cols: list[str] | None = None,
                      id_col: str | None = None,
                      content_col: str = "content",
                      fields: list[str] | None = None,
                      positions: bool = True,
                      segment_batches: int = 1, max_batches: int | None = None,
                      resume: bool = False, analyzer=None,
                      append: bool = False, segment_base: int | None = None,
                      commit_extra: dict | None = None):
    """Build (or resume) the full index up to its commit. Returns the
    new IndexCatalog, the Publish that holds its staged tables and the
    manifest keys of its commit; the caller, under write.lock, publishes
    them with `pub.commit(cat, meta)` (update_documents adds its
    tombstones to the same commit).

    `fields` lists the document columns to index, each as its own field
    with per-field postings/norms/stats (document/Field.h:24 multi-field
    semantics); default is the single `content_col`. The FIRST entry is
    the index's default field for unqualified queries.

    segment_batches > 1 splits the postings build into independent waves of
    segments, each atomically appended + recorded in lineage — the
    checkpoint/resume granularity. `max_batches` stops early (used by the
    kill-mid-build test). `resume=True` skips segments already completed
    per the lineage table.

    `append=True` adds `num_segments` NEW segments, at ids from the latest
    commit's `next_segment_id` (or an explicit `segment_base` not below
    it), to an existing index (incremental / near-real-time ingest: each
    micro-batch is an epoch of fresh segments, the buffer→flush→reopen
    cycle of the reference's NRT path — index/DirectoryReader.cpp reopen
    semantics). term_dict and stats are maintained incrementally: only the
    new segments are aggregated and merge-added (additive sums) — no
    rescan of old postings.

    Where a commit flushes: an append smaller than one doc-prep task
    (`_flushes_on_driver`) flushes on the driver in one Spark job
    (`_flush_on_driver`); everything else runs the Spark plan below. The
    commit records which (`"flush": "driver"|"spark"`).
    """
    from diagon_spark._ship import ensure_shipped
    ensure_shipped(spark)
    if key_cols is None and id_col is None:
        key_cols = ["repo", "path", "commit"]
    field_cols = list(fields) if fields else [content_col]
    field_names = [_field_name(c) for c in field_cols]
    cat = IndexCatalog(root=out_dir, num_buckets=num_buckets, segments=(
        IndexCatalog.load(out_dir).segments if append else []),
        has_positions=positions, key_cols=key_cols or [], fields=field_names)
    if segment_base is None:
        segment_base = cat.next_segment_id
    elif segment_base < cat.next_segment_id:
        raise ValueError(f"segment_base={segment_base} would reuse a segment"
                         f" id: the next free id is {cat.next_segment_id}")
    all_segments = list(range(segment_base, segment_base + num_segments))
    cat.segments += all_segments
    root = Path(out_dir)
    root.mkdir(parents=True, exist_ok=True)
    # the stored-fields (.fdt) analogue (codecs/StoredFieldsWriter.h:19-63)
    # keeps the original field columns; it also lets the postings stage
    # read docs parquet instead of re-running the sha/window doc-id chain.
    keep = (key_cols or []) + ([id_col] if id_col else []) + field_cols
    per_field_cols = [c for fn_ in field_names
                      for c in (doc_len_col(fn_), norm_col(fn_))]
    docs_cols = list(dict.fromkeys(
        ["segment_id", "doc_id", *keep, "content_sha256",
         *per_field_cols, "doc_len", "norm"]))
    batches: list[list[int]] = [
        [s for s in all_segments[i::segment_batches]]
        for i in range(segment_batches)
    ]
    from diagon_spark.index.publish import Publish
    pub = Publish(spark, out_dir)

    if _flushes_on_driver(df, cat, append=append, resume=resume,
                          max_batches=max_batches):
        _flush_on_driver(spark, df, cat, pub, key_cols=key_cols,
                         id_col=id_col, field_cols=field_cols,
                         docs_cols=docs_cols, num_segments=num_segments,
                         segment_base=segment_base, batches=batches,
                         analyzer=analyzer)
        return _staged_build(cat, pub, analyzer, sum(map(bool, batches)),
                             "driver", commit_extra)

    # Scale-adaptive input parallelism (guide §2.5 input skew): a one-
    # file source otherwise runs the whole doc-prep stage (sha256 +
    # per-field token-count UDFs + docs write) in ONE task; no-op when
    # the source already arrives in enough splits.
    from diagon_spark.parallel import ensure_min_parallelism
    df = ensure_min_parallelism(
        df, bytes_per_partition=DOC_PREP_BYTES_PER_PARTITION)

    if not append and not resume:
        # Fresh build into an existing out_dir: the postings write below is
        # mode('append') (needed for segment waves within one run), so stale
        # postings/lineage/tombstones from a previous index at this path
        # must be cleared or they double df/cttf and return phantom hits.
        import shutil
        for sub in ("postings", "lineage", "deleted"):
            p = root / sub
            if p.exists():
                shutil.rmtree(p)

    # Tokenization feeds both the docs table and the postings build; the
    # postings stage re-runs it rather than caching `docs` (measured
    # faster: JVM columnar caching of token columns costs more in
    # memory/GC than the vectorized tokenizer).
    docs = prepare_docs(df, key_cols, id_col, field_cols, num_segments,
                        analyzer, segment_base)

    done: set[int] = set()
    if resume:
        lin = Path(cat.lineage_path)
        if lin.exists():
            ldf = spark.read.parquet(str(lin))
            done = {r.segment_id for r in
                    ldf.filter(F.col("status") == "done").select("segment_id").collect()}

    docs_written = resume and Path(cat.docs_path, "_SUCCESS").exists()

    if not docs_written:
        docs.select(*[F.col(_bq(c)) for c in docs_cols]).write \
            .mode("append" if append else "overwrite").parquet(cat.docs_path)

    docs_idx = spark.read.parquet(cat.docs_path)  # re-read: stable doc ids
    new_docs_idx = (docs_idx.filter(F.col("segment_id") >= segment_base)
                    if append else docs_idx)

    tok_docs = None  # lazily recompute tokens only if some batch runs
    n_run = 0
    # per-wave doc/len sums accumulated from the lineage agg — feeds the
    # stats refresh without a second docs scan (valid only when THIS run
    # processed every new segment, i.e. not resuming into partial state)
    stats_acc = {"n": 0, "sttf": {fn_: 0 for fn_ in field_names}}
    for bi, seg_ids in enumerate(batches):
        todo = [s for s in seg_ids if s not in done]
        if not todo:
            continue
        if max_batches is not None and n_run >= max_batches:
            break
        n_run += 1
        t0 = time.time()
        if tok_docs is None:
            # one row per (doc, field): the shuffle carries the field's
            # content string under a fixed safe alias (applyInPandas
            # resolves plain names internally, which breaks for dotted
            # flattened-JSON names like `body.text`)
            # id_col path: (segment_id, doc_id) from the in-memory plan
            # is a cheap cast+pmod, so keep reading the (repartitioned,
            # parallel) SOURCE — the just-written docs parquet is a few
            # small files that openCostInBytes packs into 1-3 scan
            # splits, serializing the encode exchange's map side and the
            # range-sampling pass. key_cols builds still read the docs
            # parquet: re-deriving ids there re-runs the sha/window
            # chain (a shuffle + sort).
            src = docs if id_col is not None else docs_idx
            fstructs = [F.struct(F.lit(fn_).alias("field"),
                                 F.col(c).cast("string").alias("__content"))
                        for fn_, c in zip(field_names, field_cols)]
            tok_docs = (src.select("segment_id", "doc_id",
                                   F.explode(F.array(*fstructs)).alias("fc"))
                        .select("segment_id", "doc_id",
                                F.col("fc.field").alias("field"),
                                F.col("fc.__content").alias("__content")))
        part = tok_docs.filter(F.col("segment_id").isin(todo))
        # ENCODE GROUP SIZE is decoupled from segment size: each
        # (segment, field) splits into doc-id-RANGE sub-batches of
        # ~ENCODE_GROUP_DOCS docs (`sub` column below; the postings
        # format already supports many chunks per term — sub-batch b
        # emits chunks at base b<<20, and sub order == doc order, so
        # rows sorted by chunk stay docID-ordered exactly as
        # _SegmentPostings requires). Measured: the encode kernel's
        # s/doc is flat at 15-20k-doc groups and inflates 3-10x at 156k
        # under concurrent workers (cache + fresh-page-fault working
        # set, round-4 group-size probes) — sub-batching makes a
        # big-segment layout build like a small-segment one while
        # keeping the segment COUNT a pure layout choice. The doc-id
        # range split uses per-segment (min, max) collected from the
        # narrow docs scan: dense ids (this engine's own assignment)
        # give even sub-batches; sparse user ids degrade to skewed ones,
        # never to more than n_subs groups.
        # ONE per-segment aggregation job per wave: the encode-group
        # bounds (lo/hi/n) AND the lineage facts (fingerprint, postings
        # count, per-field doc_len sums) come out of the same docs scan;
        # lineage rows are then assembled driver-side after the encode
        # (they need wall_ms) — the separate post-encode docs scan the
        # old lineage aggregation paid is gone.
        total_len = None
        per_field_sums = []
        for i_, fn_ in enumerate(field_names):
            c = F.col(_bq(doc_len_col(fn_)))
            total_len = c if total_len is None else total_len + c
            per_field_sums.append(F.sum(c).alias(f"sum_len__{i_}"))
        seg_rows = (docs_idx.filter(F.col("segment_id").isin(todo))
                    .groupBy("segment_id")
                    .agg(F.min("doc_id").alias("lo"),
                         F.max("doc_id").alias("hi"),
                         F.count("*").alias("n"),
                         F.sum(F.crc32(F.col("content_sha256")))
                         .alias("input_fingerprint"),
                         F.sum(total_len).alias("n_postings"),
                         *per_field_sums).collect())
        if not seg_rows:
            continue  # no docs in these segments: nothing to encode
        facts = [_segment_facts(r, len(field_names)) for r in seg_rows]
        subs = _sub_batches(facts)
        seg_nsubs = {s: n for s, (_lo, _span, n) in subs.items()}
        n_groups = sum(seg_nsubs.values()) * len(field_names)
        lo_map, span_map = (
            F.create_map(*[F.lit(x) for s, v in subs.items()
                           for x in (s, v[i])]) for i in (0, 1))
        part = part.withColumn(
            "sub", _sub(F.col("doc_id"), lo_map[F.col("segment_id")],
                        span_map[F.col("segment_id")], F.floor).cast("int"))
        # Explicit partition count = one task per encode group: AQE's
        # byte-based coalescing would otherwise merge these CPU-heavy
        # groups, and with n_partitions ~= n_keys plain hash-partitioning
        # on the GROUP COLUMNS collides ~1/e of the keys (measured: an
        # 8-segment build ran on 5 effective workers with double-group
        # straggler tasks). Routing: every (segment, field, sub) group is
        # known driver-side, so each is tagged with a pre-solved SALT
        # whose Spark hash lands in its own partition (_partition_salts)
        # and routed through an ordinary hash repartition — the balance
        # guarantee of repartitionByRange WITHOUT its range-sampling
        # job, which re-executed the whole child plan (scan + explode of
        # every content string) once per build wave. HashPartitioning on
        # the salt satisfies the applyInPandas clustering (salt is part
        # of the grouping key set) so no second shuffle is inserted;
        # the salt is appended LAST so key[0..2] keep their meaning in
        # the encode fn. Builds with pathologically many groups fall
        # back to range partitioning (literal-map plan-size guard).
        enc_fn = _in_worker(_encode_segment_fn(num_buckets, positions,
                                               analyzer))
        group_keys = [(s, fi, b) for s in sorted(seg_nsubs)
                      for fi in range(len(field_names))
                      for b in range(seg_nsubs[s])]
        if 0 < len(group_keys) <= _SALT_ROUTE_MAX_GROUPS:
            salts = _partition_salts(len(group_keys))
            nf = len(field_names)
            if nf > 1:
                fidx = F.create_map(*[F.lit(x) for i, fn_ in
                                      enumerate(field_names)
                                      for x in (fn_, i)])[F.col("field")]
            else:
                fidx = F.lit(0)
            # dense group ordinal gi = seg_offset + fidx*n_subs + sub,
            # then element_at into the salt array — O(1) per row plus
            # two segment-count map probes, instead of a per-row linear
            # scan of a groups-count literal map (up to 4096 entries)
            off = {}
            acc = 0
            for s in sorted(seg_nsubs):
                off[s] = acc
                acc += nf * seg_nsubs[s]
            off_map = F.create_map(*[F.lit(x) for kv in off.items()
                                     for x in kv])
            nsubs_map = F.create_map(*[F.lit(x) for kv in
                                       seg_nsubs.items() for x in kv])
            gi = (off_map[F.col("segment_id")]
                  + fidx * nsubs_map[F.col("segment_id")]
                  + F.col("sub"))
            salt_arr = F.array(*[F.lit(int(s)).cast("int")
                                 for s in salts])
            routed = part.withColumn(
                "pk", F.element_at(salt_arr, gi.cast("int") + 1))
            postings = (routed.repartition(len(group_keys), F.col("pk"))
                        .groupBy("segment_id", "field", "sub", "pk")
                        .applyInPandas(enc_fn, schema=POSTINGS_SCHEMA))
        else:
            postings = (part.repartitionByRange(max(n_groups, 1),
                                                F.col("segment_id"),
                                                F.col("field"),
                                                F.col("sub"))
                        .groupBy("segment_id", "field", "sub").applyInPandas(
                            enc_fn, schema=POSTINGS_SCHEMA))
        # compact by bucket before writing: without this every segment
        # task writes one file into every bucket dir (segments × buckets
        # small files); the shuffle moves already-encoded compact bytes
        (postings.repartition(num_buckets, F.col("bucket"))
         .write.mode("append").options(**_BLOOM_OPTS)
         .partitionBy("bucket").parquet(cat.postings_path))
        _record_segments(spark, cat, facts, int((time.time() - t0) * 1000),
                         bi, stats_acc)

    covered_all = (not resume and max_batches is None and not done)
    _refresh_term_dict_and_stats(
        spark, cat, pub, new_docs_idx=new_docs_idx, append=append,
        segment_base=segment_base,
        stats_acc=stats_acc if covered_all else None)
    return _staged_build(cat, pub, analyzer, n_run, "spark", commit_extra)


def _staged_build(cat: IndexCatalog, pub, analyzer, n_run: int, flush: str,
                  commit_extra: dict | None):
    # a custom analyzer bypasses the standard tokenizer entirely — stamp
    # the manifest so check_index skips the icu/regex comparison instead
    # of degrading a perfectly consistent analyzer-built index
    tok_extra = ({"tokenizer": "custom-analyzer"} if analyzer is not None
                 else {})
    return cat, pub, {"batches_run": n_run, "flush": flush, **tok_extra,
                      **(commit_extra or {})}


def rollback(spark: SparkSession, root: str, generation: int
             ) -> IndexCatalog:
    """Single-writer wrapper around `_rollback_impl` (write.lock held for
    the duration — rollback rewrites postings/docs tables in place)."""
    from diagon_spark.index.lock import write_lock
    with write_lock(root):
        return _rollback_impl(spark, root, generation)


def _rollback_impl(spark: SparkSession, root: str, generation: int
                   ) -> IndexCatalog:
    """Roll the index back to an older commit point — the
    IndexWriter::rollback / open-at-IndexCommit analogue
    (index/IndexWriter.h:251). Rows of segments outside that commit's
    `segments` are physically dropped, the tombstone parts later commits
    published (`deleted_parts`) are removed, so the docs live at that
    commit are live again, term_dict/stats are recomputed, and a NEW
    commit generation publishes the rolled-back state: every rewritten
    table and the recomputed term_dict/stats swap in together with that
    commit (index/publish.py), so a crash leaves all of them at one
    generation. A merge prunes older commits, so no rollback crosses
    one."""
    from diagon_spark.index.publish import Publish
    old = IndexCatalog.load(root, generation)
    pub = Publish(spark, root)
    _stage_dropping(spark, pub, old.segments)
    later = {p for c in IndexCatalog.list_commits(root)
             if IndexCatalog._gen_of(c) > generation
             for p in json.loads(c.read_text()).get("deleted_parts", [])}
    live = {p.name for p in Path(root, "deleted").glob("*.parquet")}
    if live and live <= later:
        pub.remove("deleted")  # no part survives: the table goes
    else:
        for p in sorted(live & later):
            pub.remove(f"deleted/{p}")
    _refresh_term_dict_and_stats(
        spark, old, pub, new_docs_idx=spark.read.parquet(pub.source("docs")),
        append=False)
    pub.commit(old, {"rolled_back_to": generation})
    return old


def _stage_dropping(spark: SparkSession, pub, segments: list[int]) -> None:
    """Stage docs, postings and lineage into the publish `pub` without
    their rows whose segment_id is outside `segments` (a commit's live
    segments); a table holding no such row is left as it is."""
    drop = ~F.col("segment_id").isin(segments)
    for sub in ("docs", "postings", "lineage"):
        p = pub.path / sub
        if not p.exists():
            continue
        df = spark.read.parquet(str(p))
        if df.filter(drop).limit(1).count() == 0:
            continue
        postings = sub == "postings"
        pub.write(df.filter(~drop), sub,
                  partition_by="bucket" if postings else None,
                  options=_BLOOM_OPTS if postings else None)


def _refresh_term_dict_and_stats(spark: SparkSession, cat: IndexCatalog,
                                 pub, *, new_docs_idx: DataFrame,
                                 append: bool, segment_base: int = 0,
                                 stats_acc: dict | None = None) -> None:
    """Term dictionary + per-field collection stats, staged into the
    writer's publish `pub` (index/publish.py) over the postings it will
    publish.

    term_dict is hive-partitioned by `bucket`. Fresh build: one global
    shuffle agg over all postings (the k-way SegmentMerger heap is
    Spark's sort-merge shuffle). Append: aggregate ONLY the new segments
    (parquet pushdown on segment_id skips old row groups), merge-add into
    ONLY the bucket partitions those terms hash to, and stage just those
    bucket dirs — maintenance cost is O(touched vocabulary), not
    O(global vocabulary), per micro-batch (the per-segment SegmentInfos
    stats model, summed at write time instead of read time). df/cttf/
    sttf/sum_doc_freq are additive, so incremental maintenance is exact.
    """
    field_names = cat.fields
    pdf = spark.read.parquet(pub.source("postings"))
    if append:
        pdf = pdf.filter(F.col("segment_id") >= segment_base)
    new_td = (pdf.groupBy("field", "term", "bucket")
              .agg(F.sum("df").alias("df"), F.sum("ttf").alias("cttf")))
    td_exists = Path(cat.term_dict_path).exists()
    obs = None
    sdf_delta: dict[str, int] = {}
    if append and td_exists:
        new_td = new_td.persist()
        # one tiny collect (<= fields × buckets rows): which bucket
        # partitions this epoch touches + per-field df deltas for the
        # additive sum_doc_freq update (no global term_dict scan)
        agg_rows = (new_td.groupBy("field", "bucket")
                    .agg(F.sum("df").alias("sdf")).collect())
        touched = sorted({int(r.bucket) for r in agg_rows})
        for r in agg_rows:
            sdf_delta[r.field] = sdf_delta.get(r.field, 0) + int(r.sdf)
        old_sub = (spark.read.parquet(cat.term_dict_path)
                   .filter(F.col("bucket").isin(touched)))  # partition prune
        merged = (old_sub.unionByName(new_td)
                  .groupBy("field", "term", "bucket")
                  .agg(F.sum("df").alias("df"), F.sum("cttf").alias("cttf")))
        if touched:  # docs without postings leave term_dict as it is
            pub.write(merged, "term_dict", partition_by="bucket",
                      options=_BLOOM_OPTS,
                      parts=[f"bucket={b}" for b in touched])
        new_td.unpersist()
    else:
        # per-field sum_doc_freq rides the term_dict WRITE as observed
        # metrics (Observation) — the separate read-back/aggregate job
        # the old path ran after the write is gone
        from pyspark.sql import Observation
        obs = Observation("sum_doc_freq")
        observed = new_td.observe(obs, *[
            F.sum(F.when(F.col("field") == fn_, F.col("df")))
            .alias(f"sdf_{i}") for i, fn_ in enumerate(field_names)])
        pub.write(observed, "term_dict", partition_by="bucket",
                  options=_BLOOM_OPTS)

    # per-field stats: (field, max_doc, doc_count, sum_total_term_freq,
    # sum_doc_freq). Sums come from the lineage aggregation accumulated
    # during the build (no extra docs scan) when the caller covered every
    # new segment; resume/merge/scrub paths fall back to a docs scan.
    if stats_acc is not None:
        n_new = int(stats_acc["n"])
        sttf_new = {fn_: int(stats_acc["sttf"][fn_]) for fn_ in field_names}
    else:
        aggs = [F.count("*").alias("__n")] + [
            F.sum(F.col(_bq(doc_len_col(fn_)))).alias(f"__s_{i}")
            for i, fn_ in enumerate(field_names)]
        row = new_docs_idx.agg(*aggs).collect()[0]
        n_new = int(row["__n"])
        sttf_new = {fn_: int(row[f"__s_{i}"] or 0)
                    for i, fn_ in enumerate(field_names)}
    if obs is not None:
        got = obs.get  # blocks until the write action finished (it has)
        sdf_delta = {fn_: int(got[f"sdf_{i}"] or 0)
                     for i, fn_ in enumerate(field_names)}
    _stage_stats(spark, cat, pub, append=append, n_new=n_new,
                 sttf_new=sttf_new, sdf=sdf_delta,
                 additive=append and td_exists)


def _stage_stats(spark: SparkSession, cat: IndexCatalog, pub, *,
                 append: bool, n_new: int, sttf_new: dict[str, int],
                 sdf: dict[str, int], additive: bool) -> None:
    """Stage the per-field stats table (field, max_doc, doc_count,
    sum_total_term_freq, sum_doc_freq) into `pub`: an append adds `n_new`
    docs, `sttf_new` and, when `additive`, the df delta `sdf` to the live
    stats; otherwise `sdf` is the whole sum_doc_freq. max_doc/doc_count
    are global doc counts (the reference pins docCount := maxDoc,
    TermQuery.cpp:220-223)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    field_names = cat.fields
    old_stats: dict[str, dict] = {}
    if append and Path(cat.stats_path).exists():
        for r in pq.read_table(cat.stats_path).to_pylist():
            old_stats[r["field"]] = r
    if additive:
        # additive: merged df sums = old sums + this epoch's df sums —
        # no O(vocabulary) term_dict rescan per micro-batch
        sum_doc_freq = {f: int(p.get("sum_doc_freq", 0)) + sdf.get(f, 0)
                        for f, p in old_stats.items()}
        for f, d in sdf.items():
            sum_doc_freq.setdefault(f, d)
    else:
        sum_doc_freq = sdf
    rows = []
    for fn_ in field_names:
        prev = old_stats.get(fn_, {})
        rows.append((
            fn_,
            int(prev.get("max_doc", 0)) + n_new,
            int(prev.get("doc_count", 0)) + n_new,
            int(prev.get("sum_total_term_freq", 0)) + sttf_new[fn_],
            sum_doc_freq.get(fn_, 0),
        ))
    # carry forward stats of fields not in this append wave
    for fn_, prev in old_stats.items():
        if fn_ not in field_names:
            rows.append((fn_, int(prev["max_doc"]) + n_new,
                         int(prev["doc_count"]) + n_new,
                         int(prev["sum_total_term_freq"]),
                         sum_doc_freq.get(fn_, 0)))
    # the stats table is a per-field handful of driver-known numbers:
    # stage it directly with pyarrow — no Spark job at all (the earlier
    # JVM-literal-union form still paid plan analysis plus a write job;
    # createDataFrame(list) was worse still — one python worker spawn
    # per partition under worker.reuse=false)
    stats_schema = pa.schema([
        pa.field("field", pa.string()),
        pa.field("max_doc", pa.int64()),
        pa.field("doc_count", pa.int64()),
        pa.field("sum_total_term_freq", pa.int64()),
        pa.field("sum_doc_freq", pa.int64())])
    _append_tiny_parquet(
        spark, pub.stage("stats"),
        [{"field": fn_, "max_doc": int(md), "doc_count": int(dc),
          "sum_total_term_freq": int(sttf), "sum_doc_freq": int(sdf_)}
         for fn_, md, dc, sttf, sdf_ in rows], stats_schema)
