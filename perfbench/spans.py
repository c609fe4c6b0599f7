"""Spans around the benchmark's calls into the engine's modules.

A span records name, start, end, its parent span and the op it belongs
to. Spans stay in memory until the run ends. A layer's self time is its
span's duration minus the time its direct child spans cover (children
of one span run one after another on its thread, so that is their sum).

Wrappers are installed at run time on module and object attributes and
removed by ``uninstall``; nothing in the engine's source is changed.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int | None
    parent: Span | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    py4j: int = 0  # gateway calls made while this span was open (inclusive)
    rows: int = 0

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "op": self.op,
            "parent": self.parent.name if self.parent else None,
            "start": self.start,
            "end": self.end,
            "py4j": self.py4j,
            "rows": self.rows,
        }


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    # op id -> metric -> value, for numbers read at a span boundary
    # (Catalyst phase times, scheduler counts, API counters).
    values: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(dict))
    _tls: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _undo: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(name, op, parent, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
            with self._lock:
                self.spans.append(s)

    def add(self, metric: str, value: float) -> None:
        """Add ``value`` to ``metric`` of the op whose span is open here."""
        stack = self._stack()
        op = stack[-1].op if stack else None
        with self._lock:
            row = self.values[op]
            row[metric] = row.get(metric, 0.0) + value

    def wrap(self, owner: object, attr: str, name: str, count_rows: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if count_rows:
                    s.rows += len(out)
                return out

        self.patch(owner, attr, traced)

    def count_gateway_calls(self, client: object) -> None:
        """Count py4j ``send_command`` calls against every open span."""
        orig = client.send_command

        def send_command(*args, **kwargs):
            for s in getattr(self._tls, "stack", ()):
                s.py4j += 1
            return orig(*args, **kwargs)

        self.patch(client, "send_command", send_command)

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open on this thread."""
        return any(s.name == name for s in getattr(self._tls, "stack", ()))

    def patch(self, owner: object, attr: str, new: object) -> None:
        """Set ``owner.attr`` to ``new`` until ``uninstall``."""
        own = attr in getattr(owner, "__dict__", {})
        self._undo.append((owner, attr, getattr(owner, attr) if own else None, own))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old, own = self._undo.pop()
            if own:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)

    def per_op(self) -> dict[int, dict[str, float]]:
        """op -> {span name: self seconds, ``<name>.py4j``, ``<name>.rows``} plus added values."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.op is None:
                continue
            row = out[s.op]
            row[s.name] += (s.end - s.start) - s.child_s
            row[f"{s.name}.py4j"] += s.py4j
            row[f"{s.name}.rows"] += s.rows
        for op, vals in self.values.items():
            if op is None:
                continue
            for k, v in vals.items():
                out[op][k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")
