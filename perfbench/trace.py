"""Tracing for the benchmark's traced run, measured from outside the program.

* Spans: the benchmark opens a span around each public call it makes into
  a layer. A span has a name, start, end, parent and a request id shared by
  every span of one request (query, commit, pipeline pass). Entering a span
  sets the Spark job group to the span id, so every Spark job it causes
  carries that id in Spark's event log. Spans stay in memory and are
  written out once, at the end of the run.
* Driver-side wrappers: on the LocalSearcher path, a few module functions
  are wrapped to add a call count and a total time to the current span.
  They never write one record per call. They are installed only in the
  traced run.
* Event log: `parse_event_log` reads Spark's uncompressed event log
  (enabled in the traced run only) and sums the per-task counters of each
  job group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.stats import median


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=lambda: defaultdict(float))


class Tracer:
    """Span recorder. When `enabled` is false, `span` only runs its body:
    no record, no job group, no counters."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, new_request: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        req = sid if (new_request or parent is None) else parent.request
        sp = Span(sid, name, parent.id if parent else None, req,
                  time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sp.id}", sp.name)

    def add(self, key: str, value: float = 1.0) -> None:
        """Add to a counter of the innermost open span."""
        if self._stack:
            self._stack[-1].counts[key] += value

    def records(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "request": s.request, "start": s.start, "end": s.end,
                 "attrs": s.attrs, "counts": dict(s.counts)}
                for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records():
                f.write(json.dumps(r) + "\n")


# ------------------------------------------------------------ span algebra

def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length([(c.start, c.end) for c in kids[s.id]],
                               s.start, s.end)
        out[s.id] = (s.end - s.start) - covered
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def subtree_ids(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids[i])
    return out


# ------------------------------------------------------ in-process wrappers

def _timed(tracer: Tracer, key: str, fn, on_result=None):
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        tracer.add(key + "_s", time.perf_counter() - t0)
        tracer.add(key + "_calls")
        if on_result is not None:
            on_result(args, out)
        return out
    return wrapper


@contextlib.contextmanager
def local_path_wrappers(tracer: Tracer):
    """Wrap the LocalSearcher path's layer boundaries for the traced run:
    open, term-stats lookup, postings read, planning, per-segment scoring,
    block decode and top-k selection. Restores every original on exit."""
    from diagon_spark.index import codec
    from diagon_spark.search import local_reader, wand
    from diagon_spark.search.local_reader import LocalSearcher

    saved = []

    def patch(owner, name, new):
        saved.append((owner, name, owner.__dict__.get(name)))
        setattr(owner, name, new)

    orig_stats = LocalSearcher.term_stats

    def term_stats(self, pairs):
        cache = self._term_stats_cache
        tracer.add("local_reader.term_stats_lookups", len(pairs))
        tracer.add("local_reader.term_stats_hits",
                   sum(1 for p in pairs if p in cache))
        t0 = time.perf_counter()
        out = orig_stats(self, pairs)
        tracer.add("local_reader.term_stats_s", time.perf_counter() - t0)
        return out

    def postings_bytes(args, rows):
        tracer.add("local_reader.postings_bytes", sum(
            len(v) for r in rows for v in r.values()
            if isinstance(v, (bytes, bytearray))))

    orig_run = local_reader.run_segment_spec

    def run_segment_spec(spec, postings, aux, k, f64, after, banned,
                         stats_out=None):
        st = {} if stats_out is None else stats_out
        t0 = time.perf_counter()
        out = orig_run(spec, postings, aux, k, f64, after, banned,
                       stats_out=st)
        tracer.add("planner.run_segment_s", time.perf_counter() - t0)
        tracer.add("planner.segments")
        tracer.add("wand.blocks_total", st.get("blocks_total", 0))
        tracer.add("wand.blocks_decoded", st.get("blocks_decoded", 0))
        return out

    patch(LocalSearcher, "__init__",
          _timed(tracer, "local_reader.open", LocalSearcher.__init__))
    patch(LocalSearcher, "term_stats", term_stats)
    patch(LocalSearcher, "_postings_rows",
          _timed(tracer, "local_reader.postings_read",
                 LocalSearcher._postings_rows, postings_bytes))
    patch(LocalSearcher, "plan",
          _timed(tracer, "planner.plan", LocalSearcher.plan))
    patch(local_reader, "run_segment_spec", run_segment_spec)
    patch(codec, "decode_block",
          _timed(tracer, "codec.decode", codec.decode_block))
    patch(codec, "decode_block_flat",
          _timed(tracer, "codec.decode", codec.decode_block_flat))
    patch(wand, "_topk", _timed(tracer, "wand.topk", wand._topk))
    try:
        yield
    finally:
        for owner, name, orig in reversed(saved):
            if orig is None:  # was inherited
                delattr(owner, name)
            else:
                setattr(owner, name, orig)


@contextlib.contextmanager
def spark_searcher_spans(tracer: Tracer):
    """Run each `Searcher.term_stats` call in its own child span, so the
    term-stats Spark job is attributed apart from the scoring jobs."""
    from diagon_spark.search.searcher import Searcher
    orig = Searcher.__dict__["term_stats"]

    def term_stats(self, pairs):
        with tracer.span("searcher.term_stats"):
            return orig(self, pairs)

    Searcher.term_stats = term_stats
    try:
        yield
    finally:
        Searcher.term_stats = orig


# ---------------------------------------------------------------- event log

_PY = {"data sent to Python workers": "python_sent_bytes",
       "data returned from Python workers": "python_returned_bytes",
       "time to start Python workers": "python_start_ms",
       "time to initialize Python workers": "python_init_ms",
       "time to run Python workers": "python_run_ms"}


def event_logs(log_dir: str) -> list[str]:
    """The event files of every application logged under log_dir; Spark 4
    writes a rolling-log directory `eventlog_v2_<app>/events_<n>_<app>`."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        found += [os.path.join(root, f) for f in files
                  if f.startswith("events_")]
    if not found:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return sorted(found)


def _task_record(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    dur = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    rec = {"stage": ev["Stage ID"], "duration_ms": dur, "run_ms": run,
           "cpu_ns": m.get("Executor CPU Time", 0),
           "gc_ms": m.get("JVM GC Time", 0),
           "scheduler_delay_ms": max(0, dur - run
                                     - m.get("Executor Deserialize Time", 0)
                                     - m.get("Result Serialization Time", 0)
                                     - info.get("Getting Result Time", 0)),
           "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {})
           .get("Shuffle Bytes Written", 0),
           "shuffle_read_bytes": sum(
               (m.get("Shuffle Read Metrics") or {}).get(k, 0)
               for k in ("Remote Bytes Read", "Local Bytes Read")),
           "spill_bytes": m.get("Memory Bytes Spilled", 0)
           + m.get("Disk Bytes Spilled", 0),
           "output_bytes": (m.get("Output Metrics") or {})
           .get("Bytes Written", 0),
           "failed": ev.get("Task End Reason", {}).get("Reason") != "Success"}
    for key in _PY.values():
        rec[key] = 0
    for acc in info.get("Accumulables", []):
        key = _PY.get(acc.get("Name"))
        if key is not None:
            rec[key] += int(acc.get("Update") or 0)
    return rec


def parse_event_logs(paths: list[str]) -> dict[str, dict]:
    """`parse_event_log` over several applications' logs, merged by job
    group (job ids restart in each application; group ids do not)."""
    merged: dict[str, dict] = {}
    for p in paths:
        for grp, g in parse_event_log(p).items():
            m = merged.setdefault(grp, _empty_group())
            _add_group(m, g)
    for m in merged.values():
        m.pop("_longest_stage_busy", None)
    return merged


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, failed tasks, summed task counters
    (executor run/CPU/GC, scheduler delay, shuffle, spill, output, Python
    worker bytes and times), the wall of its jobs, and the skew of its
    longest stage (max / median task time)."""
    job_group: dict[int, str | None] = {}
    job_wall: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    stage_name: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id")
                job_wall[jid] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_wall[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                stage_name[ev["Stage Info"]["Stage ID"]] = \
                    ev["Stage Info"]["Stage Name"]
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(_task_record(ev))
    out: dict[str, dict] = {}

    def group_of(jid):
        return job_group.get(jid) or "<none>"

    for jid in job_group:
        g = out.setdefault(group_of(jid), _empty_group())
        g["jobs"] += 1
        g["job_wall_ms"] += job_wall[jid][1] - job_wall[jid][0]
    for sid, recs in tasks.items():
        g = out.setdefault(group_of(stage_job.get(sid)), _empty_group())
        g["stages"] += 1
        for r in recs:
            g["tasks"] += 1
            g["failed_tasks"] += r["failed"]
            for key in _SUMMED:
                g[key] += r[key]
        busy = sum(r["duration_ms"] for r in recs)
        if busy > g["_longest_stage_busy"]:
            durs = [r["duration_ms"] for r in recs]
            g["_longest_stage_busy"] = busy
            g["longest_stage"] = stage_name.get(sid, "")
            g["task_skew"] = max(durs) / max(median(durs), 1)
    for g in out.values():
        del g["_longest_stage_busy"]
    return out


_SUMMED = ("duration_ms", "run_ms", "cpu_ns", "gc_ms", "scheduler_delay_ms",
           "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
           "output_bytes", *_PY.values())


def _empty_group() -> dict:
    g = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
         "job_wall_ms": 0, "task_skew": 0.0, "longest_stage": "",
         "_longest_stage_busy": -1}
    g.update({k: 0 for k in _SUMMED})
    return g


def _add_group(tot: dict, g: dict) -> None:
    for k in ("jobs", "stages", "tasks", "failed_tasks", "job_wall_ms",
              *_SUMMED):
        tot[k] += g[k]
    if g["task_skew"] > tot["task_skew"]:
        tot["task_skew"] = g["task_skew"]
        tot["longest_stage"] = g["longest_stage"]


def sum_groups(groups: dict[str, dict], span_ids) -> dict:
    """Sum the event-log counters of the job groups of `span_ids`; the
    task skew is the largest of theirs."""
    tot = _empty_group()
    del tot["_longest_stage_busy"]
    for sid in span_ids:
        g = groups.get(f"span-{sid}")
        if g is not None:
            _add_group(tot, g)
    return tot
