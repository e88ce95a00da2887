"""Scaling-efficiency evidence (north_rule): run the SAME index-build job
on the SAME input at two parallelism levels (sandbox stand-in for N vs 4N
executors), report throughput at both + efficiency.

Usage:
  python scripts/scaling_run.py prepare <n_docs> <input_dir>   # once
  python scripts/scaling_run.py run <cpus> <input_dir> <out>   # per level
  python scripts/scaling_run.py report <json8> <json32>        # efficiency
  python scripts/scaling_run.py pairseq <n> <4n> <input_dir> <out_base> \
      [segments] [n_pairs] [artifact.json]   # drift-proof alternating
      # adjacent pairs; artifact.json is atomically rewritten after
      # EVERY pair ({"complete": false, pairs so far}) and flipped to
      # complete:true at the end — a killed run leaves a parseable
      # partial record, never a 0-byte file

`run` prints one JSON line {"cpus":..,"n_docs":..,"build_sec":..,
"docs_per_sec":..,"query_p50_ms":{...}}. Each level must run in its own
process (Spark master fixed per JVM).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(cpus: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"diagon-scaling-{cpus}")
            .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "48g")
            # fresh python worker per task: long-lived workers degrade
            # ~60% across sequential heavy encode tasks (allocator/heap
            # growth); spawn cost is negligible vs seconds-long tasks
            .config("spark.python.worker.reuse", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate())


def prepare(n_docs: int, input_dir: str) -> None:
    from diagon_spark.corpus import corpus_df
    spark = _spark(32)
    corpus_df(spark, n_docs, partitions=64).write.mode("overwrite") \
        .parquet(input_dir)
    print(f"wrote {n_docs} docs to {input_dir}")
    spark.stop()


def run(cpus: int, input_dir: str, out_dir: str,
        num_segments: int = 64) -> None:
    from pyspark.sql import functions as F
    from diagon_spark import build_index, Searcher
    from diagon_spark.search.query import Boolean, Phrase, Term

    spark = _spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(input_dir)
    n_docs = df.count()
    shutil.rmtree(out_dir, ignore_errors=True)

    # IDENTICAL work at every parallelism level: fixed segment count
    # (default 64 = 2x the largest level), only executor slots vary.
    # Round-4 measured encode-group cost SUPERLINEAR in group size
    # (15.6k-doc groups ≈ 2,200 docs/s/task vs 156k ≈ 590) which forced
    # num_segments to scale with corpus size. Round 5 root-caused it
    # (cache-capacity: random-access phases go DRAM-latency-bound under
    # concurrency once buffers outgrow the LLC share) and fixed the
    # kernel: zero-object flat tokenization + cache-sized internal
    # slices for tokenize/factorize/codec (tokenizer.
    # tokenize_factorize_sliced, codec.encode_segment_batch slice_groups).
    # Segment count is now a layout choice, not a survival knob.
    t0 = time.time()
    cat = build_index(spark, df, out_dir, num_segments=num_segments,
                      num_buckets=16, positions=True)
    build_sec = time.time() - t0

    searcher = Searcher(spark, cat)
    qset = {
        "single": Term("int"),
        "and_2": Boolean(must=[Term("int"), Term("return")]),
        "or_10": Boolean(should=[Term(t) for t in
                                 ["int", "return", "if", "for", "while",
                                  "const", "static", "void", "class", "def"]]),
        "phrase": Phrase(("static", "void")),
    }
    lat = {}
    for name, q in qset.items():
        searcher.search(q, k=100).collect()  # warm
        times = []
        for _ in range(5):
            t = time.time()
            searcher.search(q, k=100).collect()
            times.append(time.time() - t)
        lat[name] = round(sorted(times)[len(times) // 2] * 1000, 1)

    print(json.dumps({
        "cpus": cpus,
        "n_docs": n_docs,
        "build_sec": round(build_sec, 2),
        "docs_per_sec": round(n_docs / build_sec, 1),
        "query_p50_ms": lat,
    }))
    spark.stop()


# ---- build-kernel substrate probe (shared state for fork workers)
_BUILD_KERNEL: dict = {}


def _build_kernel_task(i: int) -> float:
    enc = _BUILD_KERNEL["enc"]
    groups = _BUILD_KERNEL["groups"]
    t = time.time()
    enc((i, "text"), groups[i % len(groups)])
    return time.time() - t


class _BuildKernelProbe:
    """Per-PAIR build-kernel ceiling — the pairseq analogue of bench.py's
    query-side _KernelProbe (the instrument that closed the query-scaling
    gate in round 6, VERDICT r6 ask #3): the bare encode kernel
    (builder._encode_segment_fn over ~20k-doc deterministic corpus
    groups, the real sub-batch size) under plain multiprocessing — zero
    Spark, zero scheduler. On one box, memory-bus contention caps ANY
    multi-core concurrent run of this kernel below 1.0, so each build
    pair is judged against a ceiling measured in ITS OWN drift window.
    Both arms run back-to-back inside one pass (arm order matches the
    pair's level order), so neither arm can cherry-pick a drift window.
    Efficiency form generalizes the 1-vs-4 case: with per-arm walls w_a
    (cpus_a procs) and w_b (cpus_b procs) over the same task set,
    ratio = (w_a * cpus_a) / (w_b * cpus_b)."""

    def __init__(self, cpus_a: int, cpus_b: int,
                 group_docs: int = 20_000, n_groups: int = 4):
        import numpy as np
        import pandas as pd

        from diagon_spark._runtime import worker_init
        from diagon_spark.corpus import generate_pandas
        from diagon_spark.index.builder import _encode_segment_fn

        worker_init()  # THP off + allocator pinned, inherited by forks
        groups = []
        for g in range(n_groups):
            pdf = generate_pandas(g * group_docs, (g + 1) * group_docs)
            groups.append(pd.DataFrame({
                "doc_id": np.arange(g * group_docs, (g + 1) * group_docs,
                                    dtype=np.int64),
                "__content": pdf["content"]}))
        _BUILD_KERNEL["enc"] = _encode_segment_fn(num_buckets=16,
                                                  has_positions=True)
        _BUILD_KERNEL["groups"] = groups
        self.a, self.b = cpus_a, cpus_b
        # enough tasks that the wide arm runs >= 2 full waves
        self.n_tasks = max(2 * max(cpus_a, cpus_b), 8)

    def _one_pass(self, order: tuple[int, int]) -> dict:
        import multiprocessing as mp
        walls: dict[int, float] = {}
        for procs in order:
            t0 = time.time()
            with mp.get_context("fork").Pool(procs) as pool:
                pool.map(_build_kernel_task, range(self.n_tasks),
                         chunksize=1)
            walls[procs] = time.time() - t0
        return {"w_n": round(walls[self.a], 2),
                "w_4n": round(walls[self.b], 2),
                "ratio": round((walls[self.a] * self.a)
                               / (walls[self.b] * self.b), 3)}

    def pair_pass(self, first: int) -> dict:
        """TWO alternating arm-pair passes, median (= midpoint at n=2)
        of their ratios — one ~60 s back-to-back pass let a drift burst
        between its two arms record a physically impossible 1.168
        "ceiling" that then penalized eff_vs_ceiling for exactly the
        pair it was defending (VERDICT r7 ask #2). Alternating the arm
        order between passes biases residual monotone drift in opposite
        directions; raw passes stay in the artifact."""
        o1 = (self.a, self.b) if first == self.a else (self.b, self.a)
        p1 = self._one_pass(o1)
        p2 = self._one_pass(tuple(reversed(o1)))
        med = round((p1["ratio"] + p2["ratio"]) / 2.0, 3)
        # clamp at 1.0 (the physically possible bound — a concurrency
        # CEILING above perfect scaling is residual drift, not
        # hardware); the raw passes stay in the artifact
        return {"w_n": p1["w_n"], "w_4n": p1["w_4n"],
                "ratio": min(1.0, med), "ratio_raw": med,
                "passes": [p1, p2]}

    def close(self) -> None:
        _BUILD_KERNEL.clear()


def _count_docs(input_dir: str) -> int:
    """Row count from parquet footers (no Spark) — sizes the pairseq
    per-level timeout."""
    import pathlib

    import pyarrow.parquet as pq
    n = 0
    for f in pathlib.Path(input_dir).rglob("*.parquet"):
        try:
            n += pq.ParquetFile(str(f)).metadata.num_rows
        except Exception:  # noqa: BLE001 - non-parquet stragglers
            pass
    return max(n, 1)


def _write_artifact_atomic(path: str | None, payload: dict) -> None:
    """Atomically (tmp + os.replace) rewrite the pairseq artifact with
    pairs-so-far — a multi-hour run crossing a round boundary must leave
    a PARSEABLE partial record, not a 0-byte file that reads as a
    recorded result (VERDICT r7 ask #1; the r7 10M run's only record
    died with /tmp)."""
    if not path:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, path)


def pairseq(cpus_a: int, cpus_b: int, input_dir: str, out_base: str,
            num_segments: int = 64, n_pairs: int = 2,
            artifact: str | None = None) -> None:
    """Drift-proof N→4N pair: run build levels in ALTERNATING order
    (a,b then b,a then a,b ...), each level in its own subprocess/JVM,
    and report every adjacent-pair efficiency plus the median — the
    discipline bench.py's query ladder uses, applied to the build gate.
    Round-5 measured two identical-config 10M builds 24% apart two
    hours apart; a single sequential pair inherits that drift as bias,
    alternating adjacent pairs cancel it in the median.

    Each pair also records its OWN same-window substrate ceiling
    (_BuildKernelProbe, run right after the pair's two levels): the gate
    is two-pronged exactly like the query ladder's —
    median efficiency >= 0.8 absolute, OR every pair within 5% of its
    own bare-kernel ceiling (VERDICT r6 ask #3)."""
    results: list[dict] = []  # chronological {cpus, docs_per_sec}
    probe: _BuildKernelProbe | None = None  # lazy (ADVICE r7 #3): the
    # probe's generated corpus stays out of the parent until the first
    # pair needs it, and close() is guaranteed by the finally below

    def _one(cpus: int, tag: str) -> dict:
        from diagon_spark._procutil import GroupTimeout, run_grouped
        out = f"{out_base}_{tag}"
        # generous corpus-scaled timeout (ADVICE r5 #3): one hung build
        # must fail the level, not stall the whole alternating harness.
        # Budget: worst measured low-core rate ~1.2k docs/s with 5x
        # headroom, floor 30 min (same spirit as bench.py --cell's 1800).
        # The level runs as its own process GROUP with file-backed
        # output, SIGKILLed whole on timeout — a hung Spark JVM
        # grandchild can neither survive the kill nor block the parent
        # on inherited stdout pipes (ADVICE r6 #1); the rmtree below
        # only ever runs after the group is dead.
        n_docs = _count_docs(input_dir)
        budget = max(1800.0, n_docs / 1200.0 * 5.0)
        try:
            rc, out_s, err_s = run_grouped(
                [sys.executable, os.path.abspath(__file__), "run",
                 str(cpus), input_dir, out, str(num_segments)],
                timeout=budget)
        except GroupTimeout:
            shutil.rmtree(out, ignore_errors=True)
            raise RuntimeError(
                f"level {cpus} timed out after {budget:.0f}s")
        shutil.rmtree(out, ignore_errors=True)
        if rc != 0:
            raise RuntimeError(f"level {cpus} failed: {err_s[-2000:]}")
        line = [ln for ln in out_s.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)

    pairs: list[dict] = []
    try:
        for i in range(n_pairs):
            order = (cpus_a, cpus_b) if i % 2 == 0 else (cpus_b, cpus_a)
            got: dict[int, dict] = {}
            for c in order:
                r = _one(c, f"p{i}c{c}")
                got[c] = r
                results.append({"cpus": r["cpus"],
                                "docs_per_sec": r["docs_per_sec"]})
                # incremental per-level progress on stderr: a multi-hour
                # pairseq previously held ALL results in parent memory
                # until the final print — a kill or crash lost the whole
                # session. One flushed line per completed level makes a
                # partial run recoverable from the log (round-6 lesson:
                # a 4.5 h 10M run with zero visibility).
                print("PAIRSEQ-LEVEL " + json.dumps(
                    {"ts": round(time.time(), 1), "pair": i, "cpus": c,
                     "build_sec": r["build_sec"],
                     "docs_per_sec": r["docs_per_sec"]}),
                    file=sys.stderr, flush=True)
            # the pair's own hardware denominator, measured in the same
            # window; arm order matches the pair's level order
            if probe is None:
                probe = _BuildKernelProbe(cpus_a, cpus_b)
            ceil_pass = probe.pair_pass(first=order[0])
            eff = round(got[cpus_b]["docs_per_sec"]
                        / ((cpus_b / cpus_a)
                           * got[cpus_a]["docs_per_sec"]), 3)
            pairs.append({
                "order": "-".join(str(c) for c in order),
                "eff": eff,
                "ceiling": ceil_pass["ratio"],
                "ceiling_passes": ceil_pass.get("passes"),
                "eff_vs_ceiling": round(eff / ceil_pass["ratio"], 3),
                "kernel_walls": {"w_n": ceil_pass["w_n"],
                                 "w_4n": ceil_pass["w_4n"]},
                "docs_per_sec_n": got[cpus_a]["docs_per_sec"],
                "docs_per_sec_4n": got[cpus_b]["docs_per_sec"],
            })
            print("PAIRSEQ-PAIR " + json.dumps(
                {"ts": round(time.time(), 1), "pair": i, **pairs[-1]}),
                file=sys.stderr, flush=True)
            _write_artifact_atomic(artifact, {
                "complete": False, "n": cpus_a, "4n": cpus_b,
                "pairs_done": len(pairs), "pairs_planned": n_pairs,
                "pairs": pairs, "levels": results,
                "ts": round(time.time(), 1)})
    finally:
        if probe is not None:
            probe.close()
    pair_effs = [p["eff"] for p in pairs]
    eff_vs_own = [p["eff_vs_ceiling"] for p in pairs]
    med = None
    if pair_effs:
        s = sorted(pair_effs)
        n = len(s)
        # true median; for even counts the MIDPOINT of the middle two —
        # the upper-median would silently report max() at n_pairs=2
        med = round(s[n // 2] if n % 2 else
                    (s[n // 2 - 1] + s[n // 2]) / 2, 3)
    final = {
        "gate_met": bool(med is not None
                         and (med >= 0.8
                              or (eff_vs_own
                                  and min(eff_vs_own) >= 0.95))),
        "n": cpus_a, "4n": cpus_b,
        "pair_effs": pair_effs,
        "pair_ceilings": [p["ceiling"] for p in pairs],
        "pair_eff_vs_ceiling": eff_vs_own,
        "efficiency_median": med,
        "meets_0.8": bool(med is not None and med >= 0.8),
        "levels": results,
        "pairs": pairs,
    }
    _write_artifact_atomic(artifact, {"complete": True, **final})
    print(json.dumps(final))


def report(path8: str, path32: str) -> None:
    a = json.loads(open(path8).read().strip().splitlines()[-1])
    b = json.loads(open(path32).read().strip().splitlines()[-1])
    ratio = b["cpus"] / a["cpus"]
    eff = b["docs_per_sec"] / (ratio * a["docs_per_sec"])
    print(json.dumps({
        "n": a["cpus"], "4n": b["cpus"],
        "throughput_n": a["docs_per_sec"],
        "throughput_4n": b["docs_per_sec"],
        "scaling_efficiency": round(eff, 3),
        "meets_0.8": eff >= 0.8,
    }))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "prepare":
        prepare(int(sys.argv[2]), sys.argv[3])
    elif cmd == "run":
        run(int(sys.argv[2]), sys.argv[3], sys.argv[4],
            int(sys.argv[5]) if len(sys.argv) > 5 else 64)
    elif cmd == "pairseq":
        pairseq(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4],
                sys.argv[5],
                int(sys.argv[6]) if len(sys.argv) > 6 else 64,
                int(sys.argv[7]) if len(sys.argv) > 7 else 2,
                sys.argv[8] if len(sys.argv) > 8 else None)
    elif cmd == "report":
        report(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(f"unknown command {cmd}")
