import pytest

from perfbench.trace import Span, Tracer, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_the_covered_part_of_children():
    spans = [
        Span("batch", 1, None, "b0", 0.0, 10.0),
        Span("job", 2, 1, "b0", 1.0, 4.0),
        Span("job", 3, 1, "b0", 3.0, 6.0),  # overlaps job 2
        Span("enqueue", 4, 1, "b0", 8.0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st["batch"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["job"] == pytest.approx(6.0)
    assert st["enqueue"] == pytest.approx(4.0)


def test_spans_nest_per_thread_and_wrap_times_calls():
    tr = Tracer(enabled=True)

    class Fabric:
        def enqueue(self, n):
            return n * 2

    fab = Fabric()
    seen = []
    tr.wrap(fab, "enqueue", "fabric.enqueue",
            on_return=lambda attrs, res, s: seen.append(res))
    with tr.span("batch", trace="b7") as outer:
        assert fab.enqueue(21) == 42
    inner = next(s for s in tr.spans if s.name == "fabric.enqueue")
    assert inner.parent == outer.id and seen == [42]
    assert Fabric.enqueue is not fab.enqueue  # the class is untouched


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as h:
        pass
    assert h.id is None and tr.add("y", 0, 1) is None and tr.spans == []
