"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a trace id shared by every span of one micro-batch,
or query, a parent, and start/end times. Spans are only
recorded in the traced run; they stay in memory and are written to one
JSON file when the run ends. Self time is a span's duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, trace_id: str | None = None, **attrs):
        return _Span(self, name, trace_id, attrs)

    def wrap(self, owner, attr: str, name: str, trace_id_of=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per call.
        ``trace_id_of(args, kwargs)`` names a new trace (a root span)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tid = trace_id_of(args, kwargs) if trace_id_of else None
            with self.span(name, tid):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({
                **s,
                "dur_ms": round((s["end"] - s["start"]) * 1000, 3),
                "self_ms": round((s["end"] - s["start"] - covered) * 1000, 3),
            })
        with open(path, "w") as fh:
            json.dump({"spans": out}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None, attrs: dict):
        self.tracer, self.name, self.trace_id, self.attrs = tracer, name, trace_id, attrs

    def __enter__(self) -> dict:
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        tid = self.trace_id or (parent["trace"] if parent else "-")
        self.rec = {
            "id": next(self.tracer._ids),
            "name": self.name,
            "trace": tid,
            "parent": parent["id"] if parent and parent["trace"] == tid else None,
            "start": time.time(),
            "end": None,
            **self.attrs,
        }
        stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.time()
        self.tracer._stack().pop()
        with self.tracer._lock:
            self.tracer.spans.append(self.rec)
