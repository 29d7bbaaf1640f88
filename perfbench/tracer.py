"""In-memory span recorder and the self-time arithmetic over its spans.

A span is (id, name, start, end, parent, run) with wall-clock times in
seconds. Spans live in memory during a run and are written once at the
end. With tracing off every call is a no-op, so the untraced runs that
give the end-to-end numbers pay nothing for it.

Self time: the spans of one run form a tree under a root. Each child is
clipped to its parent's interval, then every instant of the root is
credited to the deepest spans open at that instant, split evenly when
several siblings overlap (two streaming queries running at once). When
siblings do not overlap this is the usual "duration minus what the
children cover", and in every case the self times of a tree add up to
the root's duration exactly; the root's own self time is the time no
other span covers (reported as unattributed).
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        """Record a finished span; returns its id (None when tracing is off)."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id, **attrs}
            )
        self.overhead_s += time.perf_counter() - t
        return sid

    def current(self) -> int | None:
        """The innermost open span of the calling thread, if any."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block as a child of the innermost open span
        of the calling thread; yields the new span's id."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": 0.0, "end": 0.0,
                   "parent": parent, "run": self.run_id, **attrs}
            self.spans.append(rec)
        stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            stack.pop()
            self.overhead_s += time.perf_counter() - t


def _clip(spans: list[dict]) -> dict[int, tuple[float, float]]:
    """Each span's interval clipped to its (already clipped) parent's."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, tuple[float, float]] = {}

    def clip(sid: int) -> tuple[float, float]:
        if sid in out:
            return out[sid]
        s = by_id[sid]
        lo, hi = s["start"], s["end"]
        p = s["parent"]
        if p is not None and p in by_id:
            plo, phi = clip(p)
            lo, hi = max(lo, plo), min(hi, phi)
        out[sid] = (lo, max(lo, hi))
        return out[sid]

    for s in spans:
        clip(s["id"])
    return out


def self_times(spans: list[dict], root: int) -> dict[int, float]:
    """Self time of every span in the tree under ``root`` (see module
    docstring); the values add up to the root's duration."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    tree, todo = [], [root]
    while todo:
        sid = todo.pop()
        tree.append(sid)
        todo.extend(children[sid])
    iv = _clip([s for s in spans if s["id"] in set(tree)])
    parent = {s["id"]: s["parent"] for s in spans}
    cuts = sorted({t for sid in tree for t in iv[sid]})
    selfs = dict.fromkeys(tree, 0.0)
    # sweep the elementary intervals between consecutive span boundaries
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = {sid for sid in tree if iv[sid][0] <= mid < iv[sid][1]}
        if not active:
            continue
        busy_parents = {parent[sid] for sid in active}
        leaves = [sid for sid in active if sid not in busy_parents]
        for sid in leaves:
            selfs[sid] += (b - a) / len(leaves)
    return selfs


def self_by_name(spans: list[dict], root: int) -> dict[str, float]:
    """Self times under ``root`` summed per span name."""
    names = {s["id"]: s["name"] for s in spans}
    out: dict[str, float] = defaultdict(float)
    for sid, v in self_times(spans, root).items():
        out[names[sid]] += v
    return dict(out)


def total_by_name(spans: list[dict], name: str) -> float:
    """Summed duration of every span called ``name``."""
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)
