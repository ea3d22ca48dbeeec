"""Self-test of the span algebra: self time is never negative and never
exceeds the span's own duration, whatever the shape of the span tree.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tracing import Layers, Tracer, covered, descendants, self_times  # noqa: E402


def _random_tree(rng: random.Random, n: int) -> list[dict]:
    """Spans whose children lie inside their parent and may overlap each
    other (spans opened on another thread do)."""
    spans = [{"id": 0, "name": "root", "op": 0, "parent": None,
              "start": 0.0, "end": 100.0}]
    for i in range(1, n):
        parent = spans[rng.randrange(len(spans))]
        a = rng.uniform(parent["start"], parent["end"])
        b = rng.uniform(a, parent["end"])
        spans.append({"id": i, "name": f"s{i % 5}", "op": 0,
                      "parent": parent["id"], "start": a, "end": b})
    return spans


def test_self_time_within_span_time():
    rng = random.Random(7)
    for _ in range(200):
        spans = _random_tree(rng, rng.randrange(1, 40))
        st = self_times(spans)
        for s in spans:
            dur = s["end"] - s["start"]
            assert -1e-9 <= st[s["id"]] <= dur + 1e-9


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0
    assert covered([(2, 1)], 0, 5) == 0


def test_tracer_nesting_and_job_ownership():
    t = Tracer()
    t.op = 3
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    outer, in1, in2 = t.spans
    assert in1["parent"] == outer["id"] and in2["parent"] == outer["id"]
    assert all(s["op"] == 3 for s in t.spans)
    assert descendants(t.spans)[outer["id"]] == {0, 1, 2}
    # a job tagged by an inner span belongs to the outer span too
    fold = {"jobs": {1: {"tags": {in2["id"]}, "submit": in2["start"],
                         "end": in2["end"]}},
            "stages": [{"tags": {in2["id"]}, "tasks": 2, "task_s": 1.5,
                        "cpu_s": 1.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                        "spill_mb": 0.0, "records_read": 10}]}
    lay = Layers(t.spans, fold)
    assert len(lay.jobs(outer["id"])) == 1 and len(lay.jobs(in1["id"])) == 0
    assert lay.stage_sum(outer["id"])["task_s"] == 1.5
    assert 0 <= lay.driver_gap(outer["id"]) <= outer["end"] - outer["start"]


def test_wrap_and_unwrap():
    class Box:
        def work(self, x):
            return x + 1

    t = Tracer()
    t.wrap(Box, "work", lambda _self, x: None if x < 0 else "box.work")
    assert Box().work(1) == 2 and Box().work(-5) == -4
    assert [s["name"] for s in t.spans] == ["box.work"]
    t.unwrap_all()
    Box().work(1)
    assert len(t.spans) == 1
