"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Span names say which layer a span measures (`<layer>.<call>`); spans
named `setup.*` (set-up), `prep.*` (input preparation) and `check.*`
(correctness checks) count toward no layer. Every workload's
traced run reports every metric in `PER_LAYER`; a layer the workload does
not exercise reads 0. Per-call metrics are means over the layer's calls,
so runs with different call counts compare.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import trace
from perfbench.harness import CORES

# (name, unit, better)
PER_LAYER = [
    ("builder.wall_s", "s", "lower"),
    ("builder.jobs", "count", "lower"),
    ("builder.tasks", "count", "lower"),
    ("builder.executor_cpu_s", "s", "lower"),
    ("builder.core_busy_ratio", "ratio", "higher"),
    ("builder.gc_s", "s", "lower"),
    ("builder.shuffle_write_bytes", "bytes", "lower"),
    ("builder.spill_bytes", "bytes", "lower"),
    ("builder.python_sent_bytes", "bytes", "lower"),
    ("builder.python_start_s", "s", "lower"),
    ("builder.python_run_s", "s", "lower"),
    ("builder.task_skew", "ratio", "lower"),
    ("builder.output_bytes", "bytes", "lower"),
    ("tokenizer.us_per_doc", "us", "lower"),
    ("local_reader.open_s", "s", "lower"),
    ("local_reader.term_stats_s", "s", "lower"),
    ("local_reader.term_stats_hit_ratio", "ratio", "higher"),
    ("local_reader.postings_read_s", "s", "lower"),
    ("local_reader.postings_bytes", "bytes", "lower"),
    ("local_reader.segments_per_query", "count", "lower"),
    ("planner.plan_s", "s", "lower"),
    ("planner.score_self_s", "s", "lower"),
    ("wand.blocks_total", "count", "lower"),
    ("wand.blocks_decoded", "count", "lower"),
    ("wand.decode_ratio", "ratio", "lower"),
    ("wand.topk_s", "s", "lower"),
    ("codec.decode_calls", "count", "lower"),
    ("codec.decode_s", "s", "lower"),
    ("searcher.jobs_per_query", "count", "lower"),
    ("searcher.tasks_per_query", "count", "lower"),
    ("searcher.term_stats_s", "s", "lower"),
    ("searcher.exec_s", "s", "lower"),
    ("searcher.scheduler_delay_s", "s", "lower"),
    ("searcher.python_start_s", "s", "lower"),
    ("searcher.python_sent_bytes", "bytes", "lower"),
    ("searcher.shuffle_bytes", "bytes", "lower"),
    ("searcher.executor_run_s", "s", "lower"),
    ("spark.job_floor_ms", "ms", "lower"),
    ("deletes.wall_s", "s", "lower"),
    ("merge.wall_s", "s", "lower"),
    ("merge.count", "count", "lower"),
    ("merge.bytes_rewritten", "bytes", "lower"),
    ("ingest.write_amp", "ratio", "lower"),
    ("index.segments", "count", "lower"),
    ("index.tombstones", "count", "lower"),
    ("dedup.wall_s", "s", "lower"),
    ("dedup.jobs", "count", "lower"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.task_skew", "ratio", "lower"),
    ("dedup.python_run_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.persisted_rdds_after", "count", "lower"),
    ("textstats.wall_s", "s", "lower"),
    ("textstats.executor_cpu_s", "s", "lower"),
    ("trace.span_coverage", "ratio", "higher"),
]

QUERY_SPANS = ("local.query", "fresh.query")
UNMEASURED = ("setup.", "prep.", "check.")


def _wall(s) -> float:
    return s.end - s.start


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def compute(spans: list, groups: dict, measured: dict) -> tuple[dict, dict]:
    """(per-layer metrics, layer table). `measured` holds the values the
    workload measured itself (tokenizer probe, index shape, candidate
    pairs, ...) and `measured_wall`, the wall of its timed phases."""
    m = {name: 0.0 for name, _u, _b in PER_LAYER}
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)

    def of(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    def ev(ss):
        ids = set()
        for s in ss:
            ids |= trace.subtree_ids(spans, s.id)
        return trace.sum_groups(groups, ids)

    builds = of("builder.")
    if builds:
        n, g = len(builds), ev(builds)
        wall = sum(_wall(s) for s in builds)
        m.update({
            "builder.wall_s": wall / n,
            "builder.jobs": g["jobs"] / n, "builder.tasks": g["tasks"] / n,
            "builder.executor_cpu_s": g["cpu_ns"] / 1e9 / n,
            "builder.core_busy_ratio": g["run_ms"] / 1e3 / (wall * CORES),
            "builder.gc_s": g["gc_ms"] / 1e3 / n,
            "builder.shuffle_write_bytes": g["shuffle_write_bytes"] / n,
            "builder.spill_bytes": g["spill_bytes"] / n,
            "builder.python_sent_bytes": g["python_sent_bytes"] / n,
            "builder.python_start_s": g["python_start_ms"] / 1e3 / n,
            "builder.python_run_s": g["python_run_ms"] / 1e3 / n,
            "builder.task_skew": g["task_skew"],
            "builder.output_bytes": g["output_bytes"] / n})

    c = defaultdict(float)
    for s in spans:
        for k, v in s.counts.items():
            c[k] += v
    m["local_reader.open_s"] = _per(c["local_reader.open_s"],
                                    c["local_reader.open_calls"])
    qc = defaultdict(float)
    nq = 0
    for name in QUERY_SPANS:
        for s in by_name[name]:
            nq += 1
            for k, v in s.counts.items():
                qc[k] += v
    if nq:
        m.update({
            "local_reader.term_stats_s": qc["local_reader.term_stats_s"] / nq,
            "local_reader.term_stats_hit_ratio": _per(
                qc["local_reader.term_stats_hits"],
                qc["local_reader.term_stats_lookups"]),
            "local_reader.postings_read_s":
                qc["local_reader.postings_read_s"] / nq,
            "local_reader.postings_bytes":
                qc["local_reader.postings_bytes"] / nq,
            "local_reader.segments_per_query": qc["planner.segments"] / nq,
            "planner.plan_s": (qc["planner.plan_s"]
                               - qc["local_reader.term_stats_s"]) / nq,
            "planner.score_self_s": (qc["planner.run_segment_s"]
                                     - qc["codec.decode_s"]) / nq,
            "wand.blocks_total": qc["wand.blocks_total"] / nq,
            "wand.blocks_decoded": qc["wand.blocks_decoded"] / nq,
            "wand.decode_ratio": _per(qc["wand.blocks_decoded"],
                                      qc["wand.blocks_total"]),
            "wand.topk_s": qc["wand.topk_s"] / nq,
            "codec.decode_calls": qc["codec.decode_calls"] / nq,
            "codec.decode_s": qc["codec.decode_s"] / nq})

    sq = by_name["searcher.query"]
    if sq:
        n, g = len(sq), ev(sq)
        qids = {s.id for s in sq}
        ts = sum(_wall(s) for s in by_name["searcher.term_stats"]
                 if s.parent in qids)
        m.update({
            "searcher.jobs_per_query": g["jobs"] / n,
            "searcher.tasks_per_query": g["tasks"] / n,
            "searcher.term_stats_s": ts / n,
            "searcher.exec_s": (sum(_wall(s) for s in sq) - ts) / n,
            "searcher.scheduler_delay_s": g["scheduler_delay_ms"] / 1e3 / n,
            "searcher.python_start_s": g["python_start_ms"] / 1e3 / n,
            "searcher.python_sent_bytes": g["python_sent_bytes"] / n,
            "searcher.shuffle_bytes": g["shuffle_write_bytes"] / n,
            "searcher.executor_run_s": g["run_ms"] / 1e3 / n})

    dels = of("deletes.")
    merges = by_name["merge.maybe_merge"]
    if dels:
        m["deletes.wall_s"] = sum(_wall(s) for s in dels) / len(dels)
    if merges:
        m["merge.wall_s"] = sum(_wall(s) for s in merges) / len(merges)
        m["merge.count"] = sum(1 for s in merges if s.attrs.get("merged"))
        m["merge.bytes_rewritten"] = ev(merges)["output_bytes"]
    writes = builds + dels + merges
    in_bytes = sum(s.attrs.get("input_bytes", 0) for s in writes)
    if in_bytes and (dels or merges):
        m["ingest.write_amp"] = ev(writes)["output_bytes"] / in_bytes

    dd = of("dedup.")
    if dd:
        passes = len(by_name["dedup.minhash_lsh"])
        g = ev(dd)
        m.update({
            "dedup.wall_s": sum(_wall(s) for s in dd) / passes,
            "dedup.jobs": g["jobs"] / passes,
            "dedup.shuffle_write_bytes": g["shuffle_write_bytes"] / passes,
            "dedup.task_skew": g["task_skew"],
            "dedup.python_run_s": g["python_run_ms"] / 1e3 / passes})
    tx = of("textstats.")
    if tx:
        m["textstats.wall_s"] = sum(_wall(s) for s in tx) / len(tx)
        m["textstats.executor_cpu_s"] = ev(tx)["cpu_ns"] / 1e9 / len(tx)

    for k, v in measured.items():
        if k in m:
            m[k] = float(v)
    top = [s for s in spans if s.parent is None
           and not s.name.startswith(UNMEASURED)]
    wall = measured.get("measured_wall", 0.0)
    cover = trace.union_length([(s.start, s.end) for s in top],
                               min((s.start for s in top), default=0.0),
                               max((s.end for s in top), default=0.0))
    m["trace.span_coverage"] = _per(cover, wall)
    return m, _table(spans, groups)


def _table(spans: list, groups: dict) -> dict:
    """Per span name: calls, total wall, self time (wall minus the part
    covered by child spans) and the Spark counters of its own jobs."""
    selft = trace.self_times(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"calls": 0, "wall_s": 0.0,
                                     "self_s": 0.0, "jobs": 0, "tasks": 0,
                                     "executor_run_s": 0.0})
        g = groups.get(f"span-{s.id}")
        r["calls"] += 1
        r["wall_s"] += _wall(s)
        r["self_s"] += selft[s.id]
        if g:
            r["jobs"] += g["jobs"]
            r["tasks"] += g["tasks"]
            r["executor_run_s"] += g["run_ms"] / 1e3
    return rows
