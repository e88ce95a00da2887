"""parallel.ensure_min_parallelism on a many-file input: an input that
already has at least the cap of partitions returns unchanged without a
stat per input file; a narrower one is still sized by its bytes."""

import os

from diagon_spark import parallel

N_FILES = 64


def _stat_counter(monkeypatch, root: str) -> list[str]:
    seen: list[str] = []
    real = os.stat

    def stat(path, *args, **kwargs):
        if root in str(path):
            seen.append(str(path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(os, "stat", stat)
    return seen


def test_parallel_input_skips_file_stats(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "many")
    spark.range(0, N_FILES * 8, numPartitions=N_FILES).write.parquet(src)
    cap = spark.sparkContext.defaultParallelism * 2

    # default split sizing packs the tiny files into fewer partitions than
    # the cap: the sizing path runs and stats every file
    narrow = spark.read.parquet(src)
    assert narrow.rdd.getNumPartitions() < cap
    seen = _stat_counter(monkeypatch, src)
    parallel.ensure_min_parallelism(narrow, "id")
    assert len(seen) == len(narrow.inputFiles()) == N_FILES

    # one split per file: already past the cap, so no file is stat'ed
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        wide = spark.read.parquet(src)
        seen.clear()
        out = parallel.ensure_min_parallelism(wide, "id")
        assert wide.rdd.getNumPartitions() >= cap
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert out is wide
    assert seen == []
