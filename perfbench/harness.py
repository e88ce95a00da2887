"""Run one workload: Spark sessions, drift fingerprint, memory sampling,
process clean-up and the result line.

Everything the run writes stays under `perfbench/.work/` of the checkout:
the input cache, Spark's scratch and event logs, indexes, and the result
records.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time

from perfbench import trace
from perfbench.stats import median

CORES = 4
# enough for these input sizes; a heap committed at its full size from the
# start keeps the peak memory from depending on when the JVM chose to grow it
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3


class Env:
    """One run's directories, Spark session and tracer."""

    def __init__(self, work: str, workload: str, seed: int, traced: bool):
        self.work = work
        self.cache = os.path.join(work, "cache")
        self.run_dir = os.path.join(work, "runs",
                                    f"{workload}-s{seed}-t{int(traced)}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.events = os.path.join(self.run_dir, "events")
        os.makedirs(self.events)
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.spark = None
        self.tracer = trace.Tracer(enabled=traced)
        self.job_floor_ms: list[float] = []
        self.rss = None   # the run's RssSampler

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and its descendants
        (the Spark JVM and its Python workers), the memory sampler's own
        share left out. Time the hypervisor gives to other guests (steal)
        is not counted, as wall time counts it."""
        own = self.rss.cpu_s if self.rss is not None else 0.0
        return tree_cpu_s([os.getpid(), *descendants(os.getpid())]) - own

    def local_cpu_s(self) -> float:
        """CPU seconds used so far by this process alone, the memory
        sampler's share left out: `cpu_s` for in-process work, at
        nanosecond resolution."""
        own = self.rss.cpu_s if self.rss is not None else 0.0
        return time.process_time() - own

    def session(self, reuse_workers: bool):
        """(Re)start the Spark session. bench.py's worker settings: fresh
        Python workers for measured builds, reused workers for queries
        (and for input preparation)."""
        from pyspark.sql import SparkSession
        if self.spark is not None:
            self.spark.stop()
        b = (SparkSession.builder.master(f"local[{CORES}]")
             .appName(f"perfbench-{self.workload}")
             .config("spark.sql.shuffle.partitions", str(CORES))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", DRIVER_MEMORY)
             .config("spark.python.worker.reuse",
                     "true" if reuse_workers else "false")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']}"))
        if self.traced:
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.events)
                 .config("spark.eventLog.compress", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return self.spark

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def job_floor(self) -> float:
        """Median wall of a trivial Spark job, in ms."""
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1).collect()
            walls.append((time.perf_counter() - t0) * 1e3)
        self.job_floor_ms.append(median(walls))
        return self.job_floor_ms[-1]

    def stop(self) -> None:
        """Stop Spark and wait for its JVM and Python workers to end."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_children()


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


# -------------------------------------------------------- process tree

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of `pids` and of their reaped children."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass  # ended meanwhile
    return ticks / _CLK_TCK

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every descendant of this process to end; kill stragglers."""
    import signal
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class RssSampler:
    """Peak summed resident memory of this process and its descendants,
    sampled every `interval` seconds on a background thread. Each process
    counts its proportional share (PSS) of pages it shares with others, so
    the pages Python workers share with the daemon they forked from count
    once. A sample costs about 20 ms of this process's time (the kernel
    walks the JVM's page tables), so it is taken once a second, not more
    often, to keep it out of the timed calls."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self.cpu_s = 0.0   # CPU time the sampling took
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _sample() -> int:
        total = 0
        for p in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass  # ended meanwhile
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------- a run

def run(workload: str, seed: int, seconds: float, traced: bool,
        work: str) -> dict:
    """Run one workload and return the result record (see README.md)."""
    from bench import _box_probe  # fixed-work numpy drift probe
    from perfbench import layers, workloads

    fn = workloads.WORKLOADS[workload]
    env = Env(work, workload, seed, traced)
    t_run = time.perf_counter()
    drift = {"box_probe_before": _box_probe(iters=3)}
    cpu0 = cpu_times()
    try:
        with RssSampler() as rss, contextlib.ExitStack() as hooks:
            env.rss = rss
            if traced:
                hooks.enter_context(trace.local_path_wrappers(env.tracer))
                hooks.enter_context(trace.spark_searcher_spans(env.tracer))
            env.session(reuse_workers=True)
            env.job_floor()
            res = fn(env, seed, seconds)
            env.job_floor()
    finally:
        env.stop()
    drift["cpu_steal_share"] = steal_share(cpu0, cpu_times())
    drift["box_probe_after"] = _box_probe(iters=3)
    res.peak_rss_mb = rss.peak_bytes / 2**20
    if traced:
        groups = trace.parse_event_logs(trace.event_logs(env.events))
        res.layers, res.table["spans"] = layers.compute(
            env.tracer.spans, groups,
            {**res.layers, "measured_wall": res.measured_wall})
    record = res.record(env, drift, time.perf_counter() - t_run)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stem = os.path.join(work, "results", f"{workload}-s{seed}-t{int(traced)}")
    if traced:
        record["layer_table"]["tracing_overhead"] = _overhead(
            record, stem[:-1] + "0.json")
        env.tracer.write(stem + "-spans.jsonl")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=float)
    shutil.rmtree(env.run_dir, ignore_errors=True)
    return record


def _overhead(traced: dict, untraced_path: str) -> dict | None:
    """Traced end-to-end metrics over the untraced run's, for the same
    workload and seed, when that run's record exists."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        base = json.load(f)["end_to_end"]
    return {k: traced["end_to_end"][k] / base[k] for k in base
            if base.get(k) and k in traced["end_to_end"]}
