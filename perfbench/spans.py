"""Span recorder for the traced run.

Spans are recorded from outside the program: ``Recorder.wrap`` swaps a
public entry point (module function, class method) for a wrapper that
opens a span around the original call, and ``uninstall`` puts the
originals back. A span is (name, start, end, parent, request id) plus
optional attributes; all spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

NOW = time.perf_counter


class Span:
    __slots__ = ("name", "t0", "t1", "parent", "req", "attrs", "wall0")

    def __init__(self, name, t0, parent, req, attrs):
        self.name, self.t0, self.t1 = name, t0, t0
        self.parent, self.req, self.attrs = parent, req, attrs
        self.wall0 = time.time()

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.req: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------
    def begin(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, NOW(), parent, self.req, attrs))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].t1 = NOW()
        # pop through idx: a wrapped call that raised mid-child leaves
        # nothing dangling
        while self._stack and self._stack.pop() != idx:
            pass

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    # ---- wrappers ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, *, on_result=None,
             on_call=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``on_call(args,
        kwargs)`` may return new (args, kwargs); ``on_result(span,
        args, kwargs, result)`` may annotate the span."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                args, kwargs = on_call(args, kwargs)
            idx = rec.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                rec.end(idx)
            if on_result is not None:
                on_result(rec.spans[idx], args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ---- queries -----------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            out.setdefault(s.parent, []).append(i)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.t0, "end": s.t1,
                    "parent": s.parent, "req": s.req, **s.attrs,
                }) + "\n")


def self_time(rec: Recorder, idx: int, kids: dict[int, list[int]],
              exclude: tuple[str, ...]) -> float:
    """Duration of span ``idx`` minus the time covered by descendant
    spans whose names start with one of ``exclude``."""
    covered = 0.0
    todo = list(kids.get(idx, ()))
    while todo:
        j = todo.pop()
        if rec.spans[j].name.startswith(exclude):
            covered += rec.spans[j].dur
        else:
            todo.extend(kids.get(j, ()))
    return rec.spans[idx].dur - covered
