import time

from spans import Tracer, innermost_at, self_times


def _span(name, start, end, parent=None, key=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "key": key}


def test_self_time_subtracts_children():
    spans = [
        _span("batch", 0.0, 10.0),
        _span("gate_a", 1.0, 4.0, parent=0),
        _span("gate_b", 2.0, 3.5, parent=1),  # nested through a callback
        _span("gate_c", 5.0, 9.0, parent=0),
    ]
    assert self_times(spans) == [10.0 - 3.0 - 4.0, 3.0 - 1.5, 1.5, 4.0]
    # self times partition the root span
    assert sum(self_times(spans)) == 10.0


def test_overlapping_children_count_once():
    spans = [_span("op", 0.0, 10.0), _span("a", 1.0, 5.0, 0), _span("b", 3.0, 6.0, 0)]
    assert self_times(spans)[0] == 10.0 - 5.0


def test_children_clipped_to_parent():
    spans = [_span("op", 0.0, 2.0), _span("late", 1.0, 5.0, 0)]
    assert self_times(spans)[0] == 1.0


def test_innermost_span_owns_the_instant():
    spans = [_span("op", 0.0, 10.0), _span("g", 2.0, 4.0, 0), _span("op", 11.0, 12.0)]
    assert innermost_at(spans, 3.0) == 1
    assert innermost_at(spans, 5.0) == 0
    assert innermost_at(spans, 10.5) is None


def test_tracer_nests_and_inherits_key():
    tr = Tracer()

    class Gate:
        def process_batch(self, df, bid):
            with tr.span("inner"):
                pass
            return bid * 2

    g = Gate()
    tr.wrap(g, "process_batch", "gate", key_arg=1)
    assert g.process_batch(None, 7) == 14
    outer, inner = tr.spans
    assert (outer["name"], outer["key"], outer["parent"]) == ("gate", 7, None)
    assert (inner["name"], inner["key"], inner["parent"]) == ("inner", 7, 0)
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    ms = (time.time() - 1.0) * 1000.0
    assert abs(tr.from_epoch_ms(ms) - (time.monotonic() - 1.0)) < 0.05
