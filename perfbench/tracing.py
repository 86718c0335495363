"""In-memory spans around the benchmark's calls into each layer.

A span sets its id as the Spark job group, so the event log ties every
job to the span that submitted it (see :mod:`perfbench.eventlog`). With
tracing off, spans cost nothing and set no job group.
"""

from __future__ import annotations

import contextlib
import functools
import time
from typing import Iterator, List, Optional, Sequence, Tuple

from perfbench.eventlog import Span


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: List[Span] = []
        self.op: Optional[int] = None
        self._stack: List[str] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, layer: str, refine: bool = False) -> Iterator[Optional[str]]:
        if not self.enabled:
            yield None
            return
        self._n += 1
        sid = f"pb{self._n}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self.sc.setJobGroup(sid, layer)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(sid, layer, start, end, parent, self.op, refine))
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def wrapping(self, targets: Sequence[Tuple[object, str, str]]) -> Iterator[None]:
        """Put a span around each ``owner.attr`` (a module function or a
        class method the engine reaches by attribute lookup) for the
        duration of the block; restores the originals on exit."""
        if not self.enabled:
            yield
            return
        saved = []
        for owner, attr, layer in targets:
            orig = getattr(owner, attr)

            def make(orig=orig, layer=layer):
                @functools.wraps(orig)
                def traced(*args, **kwargs):
                    with self.span(layer):
                        return orig(*args, **kwargs)

                return traced

            setattr(owner, attr, make())
            saved.append((owner, attr, orig))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
