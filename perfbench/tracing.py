"""In-memory spans and the per-layer self-time ledger built from them.

A span is (name, start, end, parent, run id), with wall-clock epoch seconds
so it lines up with the timestamps in Spark's event log. Spans are recorded
around calls into a layer and written out once, when the benchmark ends.

The ledger splits one pass's wall time between layers, exactly: every
instant of the pass goes to the Spark stages running at that instant (shared
equally between them, each stage's share split between layers by its task
time, see ``eventlog``), or, when no stage runs, to the innermost span that
covers it. A span's layer is the part of its name before the first dot; time
covered by the pass's root span alone is the unattributed remainder.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when enabled; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on a thread with no open span (Spark calls
        # a streaming foreachBatch function on its own thread)
        self.default_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            parent = stack[-1] if stack else self.default_parent
            sp = Span(sid, name, time.time(), 0.0, parent, self.run_id)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def ledger(tracer: Tracer, root: Span, stages: list) -> dict[str, float]:
    """Self seconds per layer over ``root``'s interval; sums to its length.

    ``stages``: objects with ``start``, ``end`` (epoch seconds) and
    ``layer_shares`` (layer -> fraction, summing to 1).
    """
    spans = tracer.subtree(root)
    depth = {root.id: 0}
    for s in sorted(spans, key=lambda s: s.start):
        if s.id != root.id:
            depth[s.id] = depth.get(s.parent, 0) + 1
    live = [st for st in stages if st.end > root.start and st.start < root.end]
    cuts = {root.start, root.end}
    for s in spans:
        cuts.update((max(s.start, root.start), min(s.end, root.end)))
    for st in live:
        cuts.update((max(st.start, root.start), min(st.end, root.end)))
    edges = sorted(c for c in cuts if root.start <= c <= root.end)
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        running = [st for st in live if st.start <= mid < st.end]
        if running:
            for st in running:
                for layer, frac in st.layer_shares.items():
                    out[layer] = out.get(layer, 0.0) + (b - a) * frac / len(running)
            continue
        covering = [s for s in spans if s.start <= mid < s.end]
        owner = max(covering, key=lambda s: (depth[s.id], s.start))
        layer = UNATTRIBUTED if owner.id == root.id else layer_of(owner.name)
        out[layer] = out.get(layer, 0.0) + (b - a)
    return out
