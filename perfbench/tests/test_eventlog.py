"""The event-log parser on a small log recorded from Spark 4.1 (a build
under job group span-1, a search under span-2, trimmed to five jobs)."""

import json
import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _raw():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def _by_group_independently():
    """Per group: jobs, tasks, summed run time and Python bytes sent,
    computed straight from the events."""
    evs = _raw()
    group = {e["Job ID"]: e["Properties"]["spark.jobGroup.id"]
             for e in evs if e["Event"] == "SparkListenerJobStart"}
    stage_group = {s: group[e["Job ID"]] for e in evs
                   if e["Event"] == "SparkListenerJobStart"
                   for s in e["Stage IDs"]}
    out = {}
    for g in set(group.values()):
        out[g] = {"jobs": sum(1 for v in group.values() if v == g),
                  "tasks": 0, "run_ms": 0, "python_sent_bytes": 0}
    for e in evs:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        o = out[stage_group[e["Stage ID"]]]
        o["tasks"] += 1
        o["run_ms"] += e["Task Metrics"]["Executor Run Time"]
        o["python_sent_bytes"] += sum(
            int(a["Update"]) for a in e["Task Info"]["Accumulables"]
            if a["Name"] == "data sent to Python workers")
    return out


def test_groups_match_an_independent_count():
    got = trace.parse_event_log(LOG)
    want = _by_group_independently()
    assert set(got) == {"span-1", "span-2"} == set(want)
    for g, w in want.items():
        for k, v in w.items():
            assert got[g][k] == v, (g, k)


def test_recorded_values():
    got = trace.parse_event_log(LOG)
    b, s = got["span-1"], got["span-2"]
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 5)
    assert (s["jobs"], s["stages"], s["tasks"]) == (3, 3, 6)
    assert b["python_run_ms"] == 11045 and b["output_bytes"] == 269373
    assert s["shuffle_write_bytes"] == s["shuffle_read_bytes"] == 1773
    assert b["failed_tasks"] == s["failed_tasks"] == 0
    assert s["task_skew"] == pytest.approx(1.7383592017738358)
    assert s["longest_stage"].startswith("collect at")


def test_sum_and_merge():
    groups = trace.parse_event_log(LOG)
    both = trace.sum_groups(groups, [1, 2, 99])
    assert both["jobs"] == 5 and both["tasks"] == 11
    assert both["task_skew"] == groups["span-2"]["task_skew"]
    twice = trace.parse_event_logs([LOG, LOG])
    assert twice["span-1"]["tasks"] == 10
    assert twice["span-2"]["run_ms"] == 2 * groups["span-2"]["run_ms"]
