"""Self time in the trace: a span minus what its children cover."""

from __future__ import annotations

from perfbench.sparkmon import Tracer, layer_self_s, self_times


def test_self_time_subtracts_the_union_of_clipped_children():
    tr = Tracer()
    root = tr.add("q", "op", 0.0, 100.0, None)
    tr.add("a", "jobs", 10.0, 30.0, root)
    tr.add("b", "jobs", 20.0, 50.0, root)  # overlaps a
    tr.add("c", "jobs", 90.0, 120.0, root)  # runs past the parent's end
    st = self_times(tr.spans)
    assert st[root["id"]] == 100.0 - 40.0 - 10.0
    assert layer_self_s(tr.spans) == {"op": 0.05, "jobs": 0.02 + 0.03 + 0.03}


def test_spans_of_one_operation_share_its_id():
    tr = Tracer()
    with tr.span("commit", "versioned") as outer:
        inner = tr.add("job 1", "jobs", outer["start_ms"], outer["start_ms"] + 1, outer)
    other = tr.add("q", "op", 0.0, 1.0, None)
    assert inner["op"] == outer["op"] == outer["id"]
    assert inner["parent"] == outer["id"]
    assert other["op"] == other["id"] != outer["op"]
