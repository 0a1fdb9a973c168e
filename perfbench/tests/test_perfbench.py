"""The benchmark's own tests: generator determinism, span self-time
arithmetic and the event-log fold. No Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from spans import (  # noqa: E402
    Span, attribute_jobs, read_event_log, self_times, spark_totals,
)

FIXTURE_LOG = os.path.join(HERE, "fixtures", "eventlog_small.json")


# ---- generator determinism -------------------------------------------

def _feed_inputs(seed: int):
    g = gen.FeedGen(seed, rows=200, prior_days=2)
    model: dict = {}
    prior = g.prior_frame(model)
    loads = [*g.warmup_loads(), *g.cycle_loads(0), *g.cycle_loads(1)]
    return prior.to_dict("list"), model, [(l.kind, l.records, l.expected_status, l.hits) for l in loads]


def _catalog_inputs(seed: int):
    return {k: t.to_pylist() for k, t in gen.catalog_tables(seed, 0.001).items()}


@pytest.mark.parametrize("inputs", [_feed_inputs, _catalog_inputs])
def test_same_seed_same_inputs_other_seed_other_inputs(inputs):
    assert inputs(7) == inputs(7)
    assert inputs(7) != inputs(8)


def test_every_feed_cycle_has_one_dup_and_one_failing_load():
    g = gen.FeedGen(3, rows=100, prior_days=1)
    for c in range(5):
        kinds = sorted(l.kind for l in g.cycle_loads(c))
        assert kinds == [gen.CLEAN, gen.CLEAN, gen.DUPS, gen.NO_CHANNEL]


def test_feed_model_follows_keep_latest_and_dq_rules():
    g = gen.FeedGen(5, rows=100, prior_days=1)
    morning, evening = g.load(4, 0), g.load(4, 1)
    if morning.kind == gen.NO_CHANNEL or evening.kind == gen.NO_CHANNEL:
        morning, evening = g.load(6, 0), g.load(6, 1)
    shared = set(morning.hits) & set(evening.hits)
    assert len(shared) == 50  # the evening re-serves half the morning's keys
    dup = next(l for c in range(3) for l in g.cycle_loads(c) if l.kind == gen.DUPS)
    assert len(dup.records) == 101 and sum(len(v) == 2 for v in dup.hits.values()) == 1
    assert dup.expected_count == 100
    fail = next(l for c in range(3) for l in g.cycle_loads(c) if l.kind == gen.NO_CHANNEL)
    assert fail.expected_status == "FAILED" and fail.expected_count == 0
    assert all("channelGrouping" not in r for r in fail.records)


def test_paged_server_serves_pages_of_500():
    http_get, stats = gen.paged_server([{"i": i} for i in range(1200)])
    sizes = []
    page = 1
    while True:
        status, body = http_get(f"http://x/feed?page={page}")
        sizes.append(len(body["records"]))
        if not body.get("hasMore"):
            break
        page += 1
    assert sizes == [500, 500, 200] and stats["pages"] == 3


# ---- spans ------------------------------------------------------------

def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span(3, "a.child", 2.0, 3.0, parent=1),
        Span(4, "late", 9.0, 12.0, parent=0),  # runs past the root: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


# ---- event log ---------------------------------------------------------

def test_event_log_folds_into_jobs():
    jobs = read_event_log(FIXTURE_LOG)
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert (j0.group, j0.stages, j0.tasks) == ("perfbench-span-1", 2, 3)
    assert j0.executor_run_s == pytest.approx(0.23)
    assert j0.executor_cpu_s == pytest.approx(0.18)
    assert j0.gc_s == pytest.approx(0.005)
    assert (j0.shuffle_write_bytes, j0.shuffle_read_bytes) == (500, 500)
    assert (j0.input_bytes, j0.spill_bytes) == (1500, 64)
    assert (j0.submit, j0.end) == (1000.1, 1000.3)
    assert (jobs[1].query_id, jobs[1].batch_id, jobs[1].group) == ("q", 7, None)
    assert jobs[2].tasks == 0 and jobs[2].stages == 0


def test_jobs_attribute_by_group_then_batch_and_sum_up_the_tree():
    jobs = read_event_log(FIXTURE_LOG)
    spans = [
        Span(0, "op", 1000.0, 1001.0),
        Span(1, "inner", 1000.05, 1000.35, parent=0),
        Span(2, "batch", 1000.45, 1000.65, parent=0),
    ]
    by_span = attribute_jobs(jobs, spans, batch_spans={("q", 7): 2, ("other", 7): 0})
    assert [j.id for j in by_span[1]] == [0]
    assert [j.id for j in by_span[2]] == [1]
    assert 0 not in by_span  # job 2 has neither group nor batch id
    t = spark_totals(spans[0], spans, by_span)
    assert (t["jobs"], t["tasks"], t["stages"]) == (2, 4, 3)
    # in jobs 1000.1-1000.3 and 1000.5-1000.6: 0.3 s of the 1 s root
    assert t["driver_gap_s"] == pytest.approx(0.7)
