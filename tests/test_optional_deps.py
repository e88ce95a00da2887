"""Optional-dependency lane (VERDICT r03 ask #3): the three
environment-gated partials — real ICU tokenization, real Jieba
segmentation, real image decode — each have genuine hooks in the
package; this module exercises them WITH the real libraries wherever
they are installed, and skips with an explicit reason where they are
not (this container has none of the three). Run via
scripts/run_extras_matrix.sh, which also reports which extras the
environment provides.

Reference parity targets: util/StandardTokenizer.h:195-260 (ICU UAX#29),
analysis/JiebaTokenizer.cpp + analysis/AnalyzerFactory.cpp:38-52
(Jieba), and the image-decode swap point in pipelines/multimodal.py.
"""

import importlib.util

import numpy as np
import pandas as pd
import pytest

from diagon_spark.analysis import tokenizer as tok_mod

HAVE_JIEBA = importlib.util.find_spec("jieba") is not None
HAVE_PIL = importlib.util.find_spec("PIL") is not None

# ------------------------------------------------------------------ ICU

icu_only = pytest.mark.skipif(
    not tok_mod.HAVE_ICU,
    reason="PyICU not installed in this environment (regex fallback is "
           "the exercised path; see analysis/tokenizer.py:42-47)")


@icu_only
class TestRealICU:  # pragma: no cover - needs PyICU
    ASCII_FIXTURES = [
        "The quick brown fox jumps over 42 lazy dogs",
        "don't stop believing",
        "snake_case and CamelCase tokens",
        "versions 1 2 3 released",
    ]

    def test_ascii_equivalence_icu_vs_fast_path(self):
        """On pure-ASCII text the ICU path and the ASCII fast path must
        produce the same token stream (the dual-path invariant the
        builder relies on — ASCII rows never consult ICU)."""
        for t in self.ASCII_FIXTURES:
            fast = tok_mod.tokenize(t)
            assert tok_mod._icu_tokenize(t) == fast, t

    def test_nonascii_divergence_quantified(self):
        """Quantify ICU-vs-regex-fallback divergence on a non-ASCII
        fixture set: accented Latin must agree exactly; scriptio-continua
        scripts (CJK/Japanese) are EXPECTED to diverge (ICU segments
        words, the fallback yields whole runs) — record the ratio."""
        latin = ["café déjà vu", "naïve approach", "été français"]
        for t in latin:
            regex_toks = [x.lower() for x in tok_mod._UNI_TOKEN.findall(t)
                          if any(c.isalnum() for c in x)]
            assert tok_mod._icu_tokenize(t) == regex_toks, t
        cjk = ["日本語のテキスト処理", "中文分词测试", "データ解析 1.5 万件"]
        diverged = sum(
            tok_mod._icu_tokenize(t) !=
            [x.lower() for x in tok_mod._UNI_TOKEN.findall(t)
             if any(c.isalnum() for c in x)]
            for t in cjk)
        # ICU produces FINER segmentation on at least one CJK fixture;
        # the exact ratio is environment ICU-version dependent
        assert diverged >= 1, "expected UAX#29 to split CJK runs"

    def test_end_to_end_nonascii_build_and_search(self, spark, tmp_path):
        """Index a non-ASCII corpus with ICU active on driver AND
        executors; rank-identity vs the oracle running the same
        tokenize() proves the full pipeline consumes ICU tokens."""
        from diagon_spark import Searcher, build_index
        from diagon_spark.oracle import (OracleIndex, eval_query_oracle,
                                         topk_oracle)
        from diagon_spark.search.query import Term
        docs = ["café au lait réservé", "déjà vu encore café",
                "plain ascii filler doc", "été à paris café"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)],
            "doc_id long, content string")
        cat = build_index(spark, df, str(tmp_path / "icuidx"),
                          num_segments=2, num_buckets=4, id_col="doc_id")
        s = Searcher(spark, cat)
        rows = (spark.read.parquet(cat.docs_path)
                .select("doc_id", "content").collect())
        oidx = OracleIndex({int(r.doc_id): r.content for r in rows})
        exp = topk_oracle(
            eval_query_oracle(Term("café"), {"content": oidx}, "content"),
            10)
        got = [(int(r.doc_id), float(r.score))
               for r in s.search(Term("café"), k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp]


# ---------------------------------------------------------------- Jieba

jieba_only = pytest.mark.skipif(
    not HAVE_JIEBA,
    reason="jieba not installed in this environment (dict_segmenter "
           "stand-in carries the CJK tests; see "
           "tests/test_cjk_rank_identity.py)")


@jieba_only
class TestRealJieba:  # pragma: no cover - needs jieba
    def test_rank_identity_with_real_jieba(self, spark, tmp_path):
        """The existing CJK rank-identity harness with segmenter =
        jieba.lcut — the exact config change the chinese_analyzer
        docstring promises (analysis/analyzers.py)."""
        import jieba
        from diagon_spark import Searcher, build_index
        from diagon_spark.analysis.analyzers import (_mixed_tokenize,
                                                     chinese_analyzer)
        from diagon_spark.oracle import (OracleIndex, eval_query_oracle,
                                         topk_oracle)
        from diagon_spark.search.query import Boolean, Phrase, Term
        from tests.test_cjk_rank_identity import DOCS

        pdf = pd.DataFrame({
            "repo": [f"r{i}" for i in range(len(DOCS))],
            "path": [f"p{i}" for i in range(len(DOCS))],
            "commit": [f"c{i}" for i in range(len(DOCS))],
            "lang": ["zh"] * len(DOCS),
            "content": DOCS,
        })
        cat = build_index(spark, spark.createDataFrame(pdf),
                          str(tmp_path / "jiebaidx"), num_segments=2,
                          num_buckets=4,
                          analyzer=chinese_analyzer(segmenter=jieba.lcut))
        s = Searcher(spark, cat)
        rows = (spark.read.parquet(cat.docs_path)
                .select("doc_id", "content").collect())
        oidx = OracleIndex(
            {int(r.doc_id): r.content for r in rows},
            tokenizer=lambda t: _mixed_tokenize(t, jieba.lcut))
        for q in (Term("搜索"), Term("引擎"), Phrase(("搜索", "引擎")),
                  Boolean(must=[Term("引擎")], should=[Term("fast")])):
            exp_scores = eval_query_oracle(q, {"content": oidx}, "content")
            exp = topk_oracle(exp_scores, 10)
            got = [(int(r.doc_id), float(r.score))
                   for r in s.search(q, k=10).collect()]
            assert [d for d, _ in got] == [d for d, _ in exp], q
            np.testing.assert_allclose([x for _, x in got],
                                       [x for _, x in exp], rtol=1e-6)


# --------------------------------------------------------------- Pillow

pil_only = pytest.mark.skipif(
    not HAVE_PIL,
    reason="Pillow not installed in this environment (fake decode "
           "carries the plumbing tests; see pipelines/multimodal.py)")


@pil_only
class TestRealImageDecode:  # pragma: no cover - needs Pillow
    def test_real_decode_swap_in(self, spark):
        """decode_image(fake=False) decodes REAL png payloads through
        Pillow inside the same mapInPandas plumbing the fake path uses."""
        import io
        from PIL import Image
        from diagon_spark.pipelines.multimodal import decode_image

        def png(w, h, mode):
            buf = io.BytesIO()
            Image.new(mode, (w, h)).save(buf, format="PNG")
            return buf.getvalue()

        rows = [(1, png(20, 10, "RGB")), (2, png(7, 33, "L")),
                (3, png(64, 48, "RGBA"))]
        blobs = spark.createDataFrame(rows, "doc_id long, blob binary")
        got = {r.doc_id: (r.width, r.height, r.n_channels)
               for r in decode_image(blobs, fake=False).collect()}
        assert got == {1: (20, 10, 3), 2: (7, 33, 1), 3: (64, 48, 4)}


def test_missing_pil_raises_with_swap_message(spark):
    """Without Pillow the real-decode request must fail loudly at the
    documented swap point (not silently fall back to fake)."""
    if HAVE_PIL:
        pytest.skip("Pillow IS installed here; the raise path is the "
                    "no-imaging-libs container's")
    from diagon_spark.pipelines.multimodal import decode_image
    blobs = spark.createDataFrame([(1, b"xx")], "doc_id long, blob binary")
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(blobs, fake=False)
