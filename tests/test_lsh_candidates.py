"""minhash_lsh_candidates on a duplicate-heavy corpus: every planted
duplicate pair is a candidate, nothing else is, and the call leaves no
cached RDD behind."""

import random

import pandas as pd


def _corpus():
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(5000)]
    rows, groups, doc_id = [], [], 0
    for copies in [rng.randint(1, 6) for _ in range(60)]:
        text = " ".join(rng.choice(vocab) for _ in range(40))
        groups.append(list(range(doc_id, doc_id + copies)))
        for _ in range(copies):
            rows.append((doc_id, text))
            doc_id += 1
    pairs = {(a, b) for g in groups for a in g for b in g if a < b}
    return pd.DataFrame(rows, columns=["doc_id", "text"]), pairs


def test_lsh_pairs_and_no_cache_left(spark):
    from diagon_spark.pipelines.dedup import minhash_lsh_candidates
    pdf, expected = _corpus()
    df = spark.createDataFrame(pdf)
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    rows = minhash_lsh_candidates(df, "doc_id", "text", k=3, num_hashes=16,
                                  band_size=2).collect()
    assert len(jsc.getPersistentRDDs()) == before
    assert {(r.doc_a, r.doc_b) for r in rows} == expected
    assert len(expected) > 100
