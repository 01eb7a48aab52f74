"""In-memory spans recorded around calls into the program's public
functions, written out when the run ends.

A span has a name, start, end and the id of the span that was open when
it began (its parent). A layer's self time is its spans' durations minus
the time their child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call until ``restore``."""
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self.wrap_call(orig, name, on_result))

    def wrap_call(self, orig, name: str, on_result=None):
        """``orig`` as a spanned call. The clock is read right around the
        call, so the wrapper's own cost lands in the parent span."""
        spans, stack, clock = self.spans, self._stack, time.perf_counter

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sid = len(spans)
            spans.append(None)
            parent = stack[-1] if stack else None
            stack.append(sid)
            start = clock()
            try:
                result = orig(*args, **kwargs)
            finally:
                end = clock()
                stack.pop()
                spans[sid] = (sid, name, start, end, parent)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for _, _, start, end, parent in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _ in self.spans:
            out[name] += (end - start) - child[sid]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, start, end, parent in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": start,
                                    "end": end, "parent": parent}) + "\n")
