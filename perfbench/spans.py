"""In-memory spans for the traced run.

A span is (name, start, end, parent, key): ``key`` is the micro-batch
id or query id the span belongs to, ``parent`` the index of the span
open on the same thread when it started. Spans stay in memory and are
written out once, at the end of the run. A layer's self time is its
span's duration minus the part of that interval its children cover;
only self times add up, because layers nest (the ingest gates call
each other through their ``on_kept`` hooks).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        # span clocks are monotonic; this pair maps them to epoch ms,
        # the clock the Spark event log uses
        self._mono0 = time.monotonic()
        self._epoch0 = time.time()

    def from_epoch_ms(self, ms: float) -> float:
        """An epoch-milliseconds stamp on the spans' monotonic clock."""
        return self._mono0 + (ms / 1000.0 - self._epoch0)

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, key=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if key is None and parent is not None:
            key = self.spans[parent]["key"]
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent, "key": key}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()

    def wrap(self, obj, attr: str, name: str, key_arg: int | None = None) -> None:
        """Shadow ``obj.attr`` with a spanned call. ``key_arg`` names the
        positional argument that carries the batch id, if any."""
        inner = getattr(obj, attr)

        @functools.wraps(inner)
        def spanned(*args, **kwargs):
            key = args[key_arg] if key_arg is not None and len(args) > key_arg else None
            with self.span(name, key):
                return inner(*args, **kwargs)

        setattr(obj, attr, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"epoch0": self._epoch0, "mono0": self._mono0,
                       "spans": self.spans}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            p = spans[s["parent"]]
            children[s["parent"]].append(
                (max(s["start"], p["start"]), min(s["end"], p["end"])))
    return [
        (s["end"] - s["start"]) - _covered(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def innermost_at(spans: list[dict], t: float, names: set[str] | None = None) -> int | None:
    """Index of the shortest span (optionally among ``names``) whose
    interval contains ``t``: the span that submitted work at ``t``."""
    best = None
    for i, s in enumerate(spans):
        if names is not None and s["name"] not in names:
            continue
        if s["start"] <= t <= s["end"]:
            if best is None or (s["end"] - s["start"]) < (spans[best]["end"] - spans[best]["start"]):
                best = i
    return best
