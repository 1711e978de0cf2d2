"""In-memory span tracer for the traced run.

A span records name, start, end, its own id and its parent's id; spans are
kept in a list and written out once, when the run ends.  With tracing off
``span`` is a no-op context manager and ``boundary`` returns its argument,
so the untraced run executes exactly the same calls.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def boundary(self, df):
        """Traced run only: materialise ``df`` (persist + count) so the
        enclosing span holds this layer's work rather than deferring it to
        the next action.  Untraced: ``df`` unchanged."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def self_times(self) -> dict:
        """name -> summed self time (s): each span's duration minus the
        part of it covered by its children (spans are sequential, so the
        children of one span never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
