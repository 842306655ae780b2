"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import workloads  # noqa: E402
from tracing import (Tracer, fold_event_log, percentile,  # noqa: E402
                     supported_percentile)


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, expected", [
    (3, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (1000, 99), (9999, 99), (10000, 99.9),
])
def test_supported_percentile_leaves_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([7.0], 50) == 7.0


# -- event-log folding --------------------------------------------------------

def _task(stage, launch, finish, run_ms, remote=0, local=0, written=0,
          spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                         "Local Bytes Read": local},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "replay.admit"}},
    _task(0, 1000, 1100, 90, written=500),
    _task(0, 1000, 1300, 280, written=700),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(1, 1300, 1400, 95, remote=200, local=1000, spill=64),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1450},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [2], "Properties": {}},
    _task(2, 2000, 2010, 9),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2020},
]


def test_fold_event_log_groups_by_job_description():
    lines = [json.dumps(e) + "\n" for e in CANNED]
    # events the folder does not need are skipped without being parsed
    lines.insert(1, '{"Event":"org.apache.spark.sql.execution.ui.'
                    'SparkListenerSQLExecutionStart", truncated\n')
    log = fold_event_log(lines)

    admit = log.labels["replay.admit"]
    assert (admit.jobs, admit.stages, admit.tasks) == (1, 2, 3)
    assert admit.executor_ms == 90 + 280 + 95
    assert admit.shuffle_write_bytes == 1200
    assert admit.shuffle_read_bytes == 1200
    assert admit.spill_bytes == 64
    assert admit.task_skew == pytest.approx(300 / 100)

    other = log.labels[None]
    assert (other.jobs, other.stages, other.tasks) == (1, 1, 1)
    assert log.jobs[0].end_ms == 1450 and log.jobs[1].submit_ms == 2000
    assert log.jobs[0].executor_ms == 465


def test_self_time_counts_overlapping_children_once():
    tracer = Tracer()
    parent = tracer.start("round")
    tracer.finish(parent)
    parent.start, parent.end = 0.0, 10.0
    for start, end in ((1.0, 4.0), (3.0, 6.0)):
        child = tracer.start("commit")
        tracer.finish(child)
        child.start, child.end, child.parent = start, end, parent.id
    assert tracer.self_time(parent) == pytest.approx(5.0)


# -- seeded inputs ------------------------------------------------------------

def _web_state(w):
    return (w.seeds, w.web.robots, w.web.sitemap_bodies, w.web.links,
            w.image_meta, w.sizes)


@pytest.mark.parametrize("name, expect", [
    ("crawl_zipf", lambda w: checks.expected_oracle(w, 2)),
    ("seen_heavy", lambda w: checks.expected_set_difference(w, 4)),
])
def test_same_seed_same_inputs_and_schedule(name, expect):
    gen = workloads.GENERATORS[name]
    a, b = gen(5), gen(5)
    assert _web_state(a) == _web_state(b)
    ea, eb = expect(a), expect(b)
    assert ea.schedule == eb.schedule and ea.admitted == eb.admitted
    assert all(ea.schedule.values())
    assert _web_state(gen(6))[0] != _web_state(a)[0]


def test_seen_heavy_shape():
    w = workloads.seen_heavy(3)
    exp = checks.expected_set_difference(w, 4)
    bulk = w.seeds[:w.sizes["bulk_urls"]]
    # the bulk seeds are canonical, which the set difference relies on
    assert all(checks.canonical(u) == u for u in bulk[::50])
    batch = w.sizes["candidates_per_round"]
    for r in range(1, 4):
        assert len(exp.schedule[r]) == (workloads.SEEN_CRAWL_HOSTS
                                        * workloads.SEEN_BUDGET)
        # the seen set dwarfs every batch
        assert len(bulk) >= 40 * batch
        # only the fresh share of the batch is admitted
        fresh = 1 + workloads.SEEN_LINKS_PER_PAGE - round(
            workloads.SEEN_LINKS_PER_PAGE * workloads.SEEN_DUP_SHARE)
        assert len(exp.admitted[r]) == len(exp.schedule[r - 1]) * fresh


# -- failed rounds ------------------------------------------------------------

def _perfect(exp, r):
    sched = exp.schedule[r]
    return checks.RoundOutput(schedule=list(sched),
                              admitted=set(exp.admitted[r]),
                              scheduled=len(sched), fetched_ok=len(sched) - 1,
                              fetch_failed=1)


def test_corrupted_schedule_counts_as_failed_round():
    exp = checks.expected_oracle(workloads.crawl_zipf(2), 2)
    assert checks.round_failure(1, _perfect(exp, 1), exp) is None

    swapped = _perfect(exp, 1)
    (r0, s0, u0), (r1, s1, u1) = swapped.schedule[:2]
    swapped.schedule[:2] = [(r0, s0, u1), (r1, s1, u0)]
    assert "schedule" in checks.round_failure(1, swapped, exp)

    lost = _perfect(exp, 0)
    lost.admitted.pop()
    assert "url_seen" in checks.round_failure(0, lost, exp)

    leaky = _perfect(exp, 1)
    leaky.fetch_failed = 0
    assert "metrics" in checks.round_failure(1, leaky, exp)
