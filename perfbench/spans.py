"""In-memory spans, written out once when the benchmark ends.

The hierarchy is workload -> operation -> layer call. Spans are recorded by
the benchmark around its calls into the engine's public functions; nothing
inside ``dcspark`` is instrumented.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from typing import Any, Dict, Iterator, List, Optional

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Optional[Dict[str, Any]]]:
        if not self.enabled:
            yield None
            return
        if not NAME_RE.match(name):
            raise ValueError(f"bad span name {name!r}")
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f)


def check_nesting(spans: List[Dict[str, Any]]) -> None:
    """Raise unless every span closes inside its parent's interval."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            raise ValueError(f"span {s['name']} not closed")
        p = s["parent"]
        if p is None:
            continue
        parent = by_id[p]
        if s["start"] < parent["start"] or s["end"] > parent["end"]:
            raise ValueError(f"span {s['name']} escapes parent {parent['name']}")
