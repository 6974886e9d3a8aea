import threading

import pytest

from tracing import Span, Tracer, job_totals, plan_counts, self_times, union_length


class Clock:
    """Stands in for nextJobId: every call after ``tick`` sees the job
    counter advanced."""

    def __init__(self):
        self.job = 0

    def __call__(self):
        return self.job


def _span(layer, parent, depth, t0, t1, children=()):
    s = Span(layer, layer, "op", parent, depth, t0, 0, t1, 0)
    s.children.extend(children)
    return s


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 5) == 3
    assert union_length([]) == 0


def test_self_time_of_nested_spans():
    # op [0,10] -> silver [1,6] -> catalog [2,3], catalog [2.5,4]; gold [6,9]
    spans = [
        _span("op", None, 0, 0.0, 10.0, [1, 4]),
        _span("silver", 0, 1, 1.0, 6.0, [2, 3]),
        _span("catalog", 1, 2, 2.0, 3.0),
        _span("catalog", 1, 2, 2.5, 4.0),
        _span("gold", 0, 1, 6.0, 9.0),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 1.0, 1.5, 3.0])


def test_tracer_nests_spans_and_owns_jobs_innermost():
    clock = Clock()
    tr = Tracer(spark=None, next_job_id=clock)
    with tr.span("op", "refresh"):
        clock.job += 1  # job 0 ran in the op itself
        with tr.span("silver", "run"):
            clock.job += 2  # jobs 1, 2
            with tr.span("catalog", "append"):
                clock.job += 1  # job 3
        tr.count("x")
    a, b, c = tr.spans
    assert (b.parent, c.parent, c.depth) == (0, 1, 2)
    assert a.children == [1] and b.children == [2]
    assert tr.job_owner() == {0: 0, 1: 1, 2: 1, 3: 2}
    assert tr.counters[("setup", "x")] == 1


def test_worker_thread_span_is_child_of_main_span():
    tr = Tracer(spark=None, next_job_id=Clock())
    with tr.span("bronze", "run_bronze"):
        t = threading.Thread(target=lambda: tr.span("catalog", "append").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert tr.spans[1].parent == 0


def test_job_totals_skip_unknown_stages():
    jobs = {0: {"stages": [0, 1], "failed_tasks": 1}, 1: {"stages": [2], "failed_tasks": 0}}
    stages = {0: {"tasks": 4, "task_s": 1.0, "shuffle_mb": 2.0, "spill_mb": 0.0},
              2: {"tasks": 1, "task_s": 0.5, "shuffle_mb": 0.0, "spill_mb": 0.0}}
    out = job_totals([0, 1, 7], jobs, stages)
    assert out["jobs"] == 3 and out["stages"] == 2 and out["tasks"] == 5
    assert out["task_s"] == 1.5 and out["failed_tasks"] == 1


def test_plan_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a]
   +- BroadcastHashJoin [k], [k], Inner, BuildRight
      :- *(1) Project [a, k]
      :  +- Exchange hashpartitioning(k, 4), ENSURE_REQUIREMENTS, [plan_id=1]
      :     +- MapInPandas f(a), [a]
      +- BroadcastExchange HashedRelationBroadcastMode, [plan_id=2]
         +- ArrowEvalPython [g(k)], [pythonUDF0]
"""
    assert plan_counts(plan) == {"exchanges": 2, "python_nodes": 2}
