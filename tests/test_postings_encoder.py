"""Build and merge write postings through one encoder
(`builder._postings_frame`). These tests pin its output byte for byte:

* the merge's rows equal a per-term `codec.encode_term_postings`
  reference, row for row, with positions on and off, with tombstones,
  and with terms that span several chunks;
* a custom analyzer that tokenizes like the default (`standard_analyzer`)
  yields exactly the default flat path's rows, on a group with non-ASCII
  rows and unsorted doc ids.
"""

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest

from diagon_spark import build_index
from diagon_spark.analysis.analyzers import standard_analyzer
from diagon_spark.corpus import corpus_df, generate_pandas
from diagon_spark.index import merge
from diagon_spark.index.builder import _POSTINGS_COLS, _encode_segment_fn
from diagon_spark.index.codec import encode_term_postings
from diagon_spark.index.merge import _merge_group_fn, _merge_term_rows

CHUNK = 160  # > one 128-doc block, far below the frequent terms' df


def _rows(frame: pd.DataFrame) -> list[tuple]:
    """Comparable rows: arrays as lists, sorted by the postings key."""
    def plain(v):
        return v.tolist() if isinstance(v, np.ndarray) else v
    rows = [tuple(plain(v) for v in r)
            for r in frame[_POSTINGS_COLS].itertuples(index=False)]
    return sorted(rows, key=lambda r: (r[3], r[0], r[1], r[4]))


def _reference_merge(pdf, tombstones, has_positions, new_segment):
    """One `encode_term_postings` call per term chunk."""
    rows = []
    pdf = pdf.assign(_new_seg=pdf["segment_id"].map(new_segment))
    for (new_seg, fld, term), grp in pdf.groupby(
            ["_new_seg", "field", "term"], sort=False):
        docs, tfs, norms, deltas = _merge_term_rows(
            grp.to_dict("records"), has_positions, tombstones)
        tf_cum = np.concatenate(([0], np.cumsum(tfs)))
        for ci, lo in enumerate(range(0, len(docs), CHUNK)):
            hi = min(lo + CHUNK, len(docs))
            enc = encode_term_postings(
                docs[lo:hi], tfs[lo:hi], norms[lo:hi].astype(np.uint8),
                pos_deltas=(deltas[tf_cum[lo]:tf_cum[hi]]
                            if has_positions else None))
            rows.append({
                "field": fld, "term": term,
                "bucket": int(grp["bucket"].iloc[0]),
                "segment_id": int(new_seg), "chunk": ci,
                "df": int(enc["df"]), "ttf": int(tfs[lo:hi].sum()),
                **{c: enc[c] for c in ("doc_blocks", "tf_blocks",
                                       "norm_bytes", "pos_blocks")},
                **{c: enc[c].tolist() for c in (
                    "block_first", "block_last", "block_max_tf",
                    "block_max_norm", "block_doc_off", "block_tf_off")},
                "block_pos_off": (enc["block_pos_off"].tolist()
                                  if has_positions else None),
            })
    return pd.DataFrame(rows, columns=_POSTINGS_COLS)


@pytest.fixture(scope="module", params=[True, False],
                ids=["positions", "no-positions"])
def four_segments(request, spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("enc")
    cat = build_index(spark, corpus_df(spark, 600, partitions=4),
                      str(root / "idx"), num_segments=4, num_buckets=4,
                      positions=request.param)
    postings = (ds.dataset(cat.postings_path, partitioning="hive")
                .to_table().to_pandas())
    doc_ids = np.sort(ds.dataset(cat.docs_path).to_table(
        columns=["doc_id"]).column("doc_id").to_numpy())
    return request.param, postings, doc_ids


@pytest.mark.parametrize("num_segments", [1, 2])
@pytest.mark.parametrize("tombstoned", [False, True],
                         ids=["live", "tombstones"])
def test_merge_equals_per_term_reference(four_segments, monkeypatch,
                                         num_segments, tombstoned):
    has_positions, postings, doc_ids = four_segments
    assert postings["segment_id"].nunique() == 4
    tomb = doc_ids[::7] if tombstoned else np.zeros(0, dtype=np.int64)
    monkeypatch.setattr(merge, "CHUNK_DOCS", CHUNK)

    # the merge's segment map: the 4 segments onto fresh ids from 4
    new_segment = {s: 4 + s * num_segments // 4 for s in range(4)}
    got = _merge_group_fn(has_positions, new_segment)(
        (0, 0), postings, pd.DataFrame({"doc_id": tomb}))
    want = _reference_merge(postings, tomb, has_positions, new_segment)

    assert (got["chunk"] > 0).any()  # some terms span several chunks
    assert len(got) == len(want)
    assert _rows(got) == _rows(want)


def test_analyzer_path_equals_default_flat_path():
    texts = generate_pandas(0, 1200)["content"].tolist()
    for i in range(0, len(texts), 29):
        texts[i] += " café naïve straße ΣΊΣΥΦΟΣ Ünïcode_mixed 日本語"
    texts[3], texts[11] = "", None
    ids = np.random.default_rng(5).permutation(len(texts)) * 3 + 11
    group = pd.DataFrame({"doc_id": ids.astype(np.int64),
                          "__content": texts})
    for has_positions in (True, False):
        for key in ((2, "content"), (2, "content", 3)):
            default = _encode_segment_fn(16, has_positions)(key, group)
            custom = _encode_segment_fn(16, has_positions,
                                        standard_analyzer)(key, group)
            assert len(default) > 1000
            assert _rows(custom) == _rows(default)
