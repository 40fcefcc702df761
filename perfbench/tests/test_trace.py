"""Span self time: duration minus the union of the direct children's
intervals, clipped to the parent."""

from perfbench.trace import Span, Tracer, self_times


def _span(i, parent, start, end):
    return Span(i, parent, f"s{i}", start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 5.0, 9.0),
        _span(4, 3, 6.0, 7.0),  # grandchild: counts against 3 only
    ]
    st = self_times(spans)
    assert st == {1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0}


def test_overlapping_children_count_once_and_clip():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 6.0),
        _span(3, 1, 4.0, 8.0),  # overlaps 2 on [4, 6]
        _span(4, 1, 9.0, 12.0),  # runs past the parent: clipped to [9, 10]
    ]
    assert self_times(spans)[1] == 10.0 - (6.0 + 1.0)


def test_tracer_nesting_and_dump(tmp_path):
    tr = Tracer("run-1")
    with tr.span("workload"):
        with tr.span("item", item="q"):
            with tr.span("build"):
                pass
    ids = {s.name: s for s in tr.spans}
    assert ids["item"].parent_id == ids["workload"].span_id
    assert ids["build"].parent_id == ids["item"].span_id
    st = self_times(tr.spans)
    for s in tr.spans:
        assert 0.0 <= st[s.span_id] <= s.duration
    path = tmp_path / "spans.jsonl"
    tr.dump(str(path))
    lines = path.read_text().splitlines()
    assert len(lines) == 3 and all('"run_id": "run-1"' in ln for ln in lines)
