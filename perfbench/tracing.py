"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent and the run id shared by
the spans of one pass. Spans stay in memory and are written out once,
when the benchmark ends. A layer's self time is its duration minus the
part covered by its child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> Dict[str, float]:
        """Total self time per span name, in seconds."""
        child_s: Dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: Dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: Optional[Dict] = None) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **(extra or {})}, f)
