"""In-memory span recorder for the traced benchmark run.

A span has a name, start, end, parent span and request id. Spans are kept
in a list and written once, when the process finishes, so the traced run
does no I/O on the measured path. With tracing off, ``span`` is a no-op
context manager, so the untraced run pays one attribute lookup per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool, process: str):
        self.enabled = enabled
        self.process = process
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, name: str, request: str | None = None):
        """Context manager timing ``name``; nested spans get this one as
        their parent and inherit its request id."""
        if not self.enabled:
            return _NULL
        return self._span(name, request)

    @contextlib.contextmanager
    def _span(self, name: str, request: str | None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": f"{self.process}:{sid}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_spans(paths) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of its
    interval covered by its children."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_end = s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def counts(spans: list[dict]) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + 1
    return out
