"""Spans around calls into the engine's layers, recorded from the
benchmark's own code.

A span has a name (the layer and call, such as ``operators.backfill.build``),
a start and end, and a parent. Each job is one root span. A span's self time
is its duration minus the time its child spans cover, so the self times of
one job add up to the job's wall time; the root's self time is the residual
the spans leave unexplained.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    """``installed`` says whether this run traces at all (wrappers go in);
    ``enabled`` switches recording on for the current job only."""

    def __init__(self, installed: bool):
        self.installed = installed
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else len(self.spans),
            "start": time.monotonic(),
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["dur_s"] - rec.pop("child_s")
            if parent is not None:
                parent["child_s"] += rec["dur_s"]

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr`` made through
        that module attribute, for the rest of the process."""
        if not self.installed:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)

    def job_breakdown(self, root_id: int) -> dict[str, dict[str, float]]:
        """Per span name within one job: total duration and total self time."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans[root_id:]:
            if s["root"] != root_id or "dur_s" not in s:
                continue
            agg = out.setdefault(s["name"], {"dur_s": 0.0, "self_s": 0.0, "calls": 0})
            agg["dur_s"] += s["dur_s"]
            agg["self_s"] += s["self_s"]
            agg["calls"] += 1
        return out
