"""Spans recorded from outside the program.

``Tracer.patch`` rebinds a layer's public entry point (a module function
or a class method) to a wrapper that records a span — name, layer, start,
end, parent — and, for spans that attribute engine work, sets a fresh
``spark.jobGroup.id`` on the calling thread for the span's duration, so
the event log can be folded per layer (``perfbench/eventlog.py``).  The
wrapper sets the group in whichever thread calls it, including the
runner's sink pool threads.  Spans are kept in memory; ``restore`` puts
the original bindings back.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

from perfbench.harness import interval_union

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.active = False
        self.root: dict | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, attribute: bool = True, root: bool = False):
        """Record a span while the tracer is active; ``attribute`` gives
        the jobs the span submits its own job group, ``root`` makes it the
        parent of spans opened in threads that have no open span."""
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{sid}" if attribute else None,
            "start": time.time(), "end": None,
        }
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        if attribute:
            self.sc.setLocalProperty(GROUP_KEY, rec["group"])
        stack.append(rec)
        if root:
            self.root = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if root:
                self.root = None
            if attribute:
                self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)

    def patch(self, owner, attr: str, layer, attribute: bool = True, after=None) -> None:
        """Rebind ``owner.attr``.  ``layer`` is a layer name, or a callable
        ``(args, kwargs) -> (span name, layer)``; ``after(rec, args,
        kwargs, result)`` may add counts to the span record."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if callable(layer):
                name, lay = layer(args, kwargs)
            else:
                name, lay = f"{layer}.{attr}", layer
            with tracer.span(name, lay, attribute=attribute) as rec:
                result = orig(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, args, kwargs, result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ----------------------------------------------------------- folding
    def layer_spans(self, layer: str, within: list[tuple[float, float]] | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and (within is None or any(a <= s["start"] <= b for a, b in within))
        ]

    def layer_wall(self, layer: str, within=None) -> float:
        """Wall covered by the union of the layer's spans (nested spans
        of one layer are not counted twice)."""
        return interval_union([(s["start"], s["end"]) for s in self.layer_spans(layer, within)])

    def layer_groups(self, layer: str, within=None) -> set:
        return {s["group"] for s in self.layer_spans(layer, within) if s["group"]}
