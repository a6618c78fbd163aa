"""In-memory spans around calls into the program's modules.

The tracer patches module attributes inside the benchmark process only, so
the program itself is unchanged.  Each span records its name, start, end
and the index of the span that was open when it began (its parent).  Spans
stay in memory until ``write`` dumps them once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import gzip
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self._stack.pop()
        name, start, _, parent = self.spans[idx]
        self.spans[idx] = (name, start, time.perf_counter(), parent)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``restore``."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return original(*args, **kwargs)
            finally:
                self._close(idx)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def total(self, name: str) -> float:
        """Summed duration of every span called *name*."""
        return sum(end - start for n, start, end, _ in self.spans if n == name)

    def calls(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def leaf_calls(self, name: str) -> int:
        """Spans called *name* inside which no other span opened."""
        parents = {p for *_, p in self.spans}
        return sum(1 for i, (n, *_) in enumerate(self.spans) if n == name and i not in parents)

    def self_times(self) -> dict[str, float]:
        """Per-name self time: duration minus the time covered by children."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with gzip.open(path, "wt") as f:
            json.dump(
                {
                    "fields": ["name", "start_s", "end_s", "parent"],
                    "spans": [
                        (n, round(s - t0, 6), round(e - t0, 6), p)
                        for n, s, e, p in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
            )
