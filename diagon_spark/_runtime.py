"""Process-level runtime tuning applied inside executor workers.

Transparent-huge-page interaction (measured on this host, generalizes
to any Linux with `/sys/kernel/mm/transparent_hugepage/enabled =
madvise`): numpy advises MADV_HUGEPAGE on every allocation >= 4 MiB, so
each large temporary in the encode/scoring kernels asks the kernel for
2 MiB-contiguous pages; under memory fragmentation that triggers direct
compaction, whose zone-lock stalls SERIALIZE across concurrently
faulting worker processes. Measured effect at 5 concurrent 156k-doc
encode groups: mean task 203 s with THP madvise vs 30-32 s with it
disabled (6.5x) — this single switch was the round-4 "encode-group
superlinearity". It also explains
the multi-x run-to-run drift on long sessions: compaction cost grows as
free memory fragments.

`PR_SET_THP_DISABLE` turns THP off for the calling process only (no
root, no sysfs writes, overrides numpy's madvise at the kernel level,
inherited by forks) — the per-process form of the THP-off guidance
ClickHouse and Elasticsearch ship for their servers.
"""

from __future__ import annotations

import ctypes

_PR_SET_THP_DISABLE = 41
_done = False


def disable_thp_once() -> None:
    """Disable transparent huge pages for this process (idempotent,
    best-effort, no-op off Linux). Called at the top of every heavy
    numpy kernel that runs inside executor python workers."""
    global _done
    if _done:
        return
    _done = True
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(_PR_SET_THP_DISABLE, 1, 0, 0, 0)
    except Exception:  # noqa: BLE001 - tuning must never break a task
        pass


# glibc mallopt parameter numbers (malloc.h; stable ABI constants)
_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
_malloc_done = False


def tune_malloc_once() -> None:
    """Pin glibc's dynamic mmap/trim thresholds (idempotent,
    best-effort, no-op off glibc).

    Why: glibc RAISES M_MMAP_THRESHOLD dynamically (up to 32 MiB) every
    time an mmap'd block is freed, so a long-lived worker that churns
    1-32 MiB numpy temporaries — exactly the scoring/encode kernels'
    allocation profile — migrates those temporaries from mmap (returned
    to the OS on free) onto the main heap, where interleaved lifetimes
    fragment it and RSS ratchets up monotonically. Under concurrency
    that creep multiplies by the worker count and turns into box-level
    memory pressure (reclaim/page-cache eviction), which is the
    signature BENCH_r05's query ladder recorded: 4-core cells decaying
    monotonically (0.581 -> 0.296 qps) while 1-core cells held. Pinning
    the threshold at 1 MiB keeps every large temp mmap-backed (freed =
    returned), trading a ~us mmap/munmap per large buffer — noise
    against ms-scale kernels. Same class of allocator guidance
    ClickHouse/ES ship (they switch allocators entirely; mallopt is the
    no-dependency form). THP is already off per-process
    (disable_thp_once), so mmap churn cannot re-trigger hugepage
    compaction."""
    global _malloc_done
    if _malloc_done:
        return
    _malloc_done = True
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, 1 << 20)
        libc.mallopt(_M_TRIM_THRESHOLD, 4 << 20)
    except Exception:  # noqa: BLE001 - tuning must never break a task
        pass


def worker_init() -> None:
    """Process-level runtime init for any process running heavy numpy
    kernels: THP off + allocator thresholds pinned. Idempotent.

    Call sites are EXPLICIT entry points we own — executor python
    workers (builder encode and merge fns, corpus gen), bench/scaling
    harness mains — never library constructors: both tweaks are
    process-GLOBAL side effects a host application must opt into, so
    `LocalSearcher` never applies them; a serving host that wants them
    calls this function itself."""
    disable_thp_once()
    tune_malloc_once()

