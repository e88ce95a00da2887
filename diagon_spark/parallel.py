"""Scale-adaptive input parallelization (guide §2.4/§2.5).

Bench- and driver-shaped inputs are ONE small parquet file, so every
pipeline whose first shuffle sits AFTER its heavy per-row work
(tokenize → shingle → md5, Arrow kernels, doc preparation) runs that
work in a single task regardless of core count. The fix is to move the
exchange the pipeline already pays BELOW the heavy projection: hash-
repartition the narrow input rows by the eventual aggregation key, so

* the heavy projection runs at full parallelism, and
* a downstream groupBy/distinct on a key set CONTAINING the
  repartition key reuses the exchange (HashPartitioning(k) satisfies
  ClusteredDistribution(k, ...)) — shuffle count is unchanged.

Partition count is sized by INPUT BYTES, clamped to 2x the session
cores — not a core-count constant: a Python-UDF task under
spark.python.worker.reuse=false pays a fresh fork + pandas/numpy
import (~0.5-1 s), so 64 tasks over a 600 KB input is strictly worse
than 1 (measured: the 5k-doc docs-prep stage went 2 s → 5.6 s when
blindly repartitioned to 2x cores). And a 100-TB table that already
arrives in thousands of splits is left untouched — repartitioning it
would ADD a shuffle of the payload, exactly what guide §2.3 says to
avoid.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

# Default work density: one partition per this many input bytes. Chosen
# for md5/tokenize-grade pipelines (~50-100 ms of CPU per input MB per
# downstream expansion); callers with lighter per-byte work pass a
# larger value.
DEFAULT_BYTES_PER_PARTITION = 256 << 10


def _input_bytes(files: list[str]) -> int | None:
    """Best-effort input size of a scan's files; None when one cannot be
    stat'ed."""
    total = 0
    for f in files:
        p = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.stat(p).st_size
        except OSError:
            return None
    return total


def ensure_min_parallelism(df: DataFrame, key_col: str | None = None,
                           bytes_per_partition: int =
                           DEFAULT_BYTES_PER_PARTITION) -> DataFrame:
    """Repartition `df` to ~input_bytes/bytes_per_partition partitions
    (clamped to [1, 2 x defaultParallelism]) when it currently has fewer;
    no-op when the input is already at least that parallel or the target
    is not above the current count.

    key_col given: hash-partition by that column so downstream
    aggregations keyed on it (or supersets) reuse the exchange.
    key_col None: round-robin (deterministic — Spark sorts before
    round-robin repartition, SPARK-23207).
    """
    try:
        # the scan's file list (listing is already cached by the session)
        files = df.inputFiles()
        n = df.rdd.getNumPartitions() if files else 0
    except Exception:  # pragma: no cover - defensive (unresolvable plan)
        return df
    cap = df.sparkSession.sparkContext.defaultParallelism * 2
    # no file source to size from (in-memory DataFrame): trust the
    # caller's existing partitioning. At the cap already: no target can
    # be higher, so skip sizing — it stats every input file
    if not files or n >= cap:
        return df
    est = _input_bytes(files)
    if est is None:
        return df
    target = max(1, min(cap, -(-est // max(bytes_per_partition, 1))))
    if n >= target:
        return df
    if key_col is not None:
        return df.repartition(target, F.col(key_col))
    return df.repartition(target)
