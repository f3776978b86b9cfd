"""In-memory spans recorded from outside the program.

The tracer wraps public functions of ``scones`` where their callers look
them up (``scones.pipeline.plan_new_files``, not ``scones.lineage``'s
copy), records ``(name, start, end, parent, op)`` for each call made
while an operation is open, and restores the originals on ``uninstall``.
A span's module is the part of its name before the first dot; a
module's self time is its spans' time minus the time their child spans
cover.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

#: (module path, attribute path, span name): the layer boundaries wrapped
#: in a traced run
BOUNDARIES = (
    ("scones.pipeline", "plan_new_files", "lineage.plan"),
    ("scones.pipeline", "build_snapshot_plan", "pipeline.build_plan"),
    ("scones.pipeline", "lineage_rows_for", "lineage.audit"),
    ("scones.lineage", "LineageStore.read_all", "lineage.manifest_read"),
    ("scones.lineage", "LineageStore.commit", "lineage.commit"),
    ("scones.lineage", "LineageStore.compact_manifest", "lineage.compact"),
    ("scones.statsserver", "persist_run_metrics", "statsserver.persist"),
    ("scones.tailsource", "plan_tail_work", "tailsource.plan"),
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.returns: dict[str, object] = {}  # last return value per span name

    @contextmanager
    def span(self, name: str):
        if self.op is None:  # calls outside an operation are not traced
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "op": self.op,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.returns[name] = out
            return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr_path, name in BOUNDARIES:
            owner = importlib.import_module(mod_name)
            *parents, attr = attr_path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            original = owner.__dict__[attr]
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    @contextmanager
    def operation(self, op: str, name: str):
        """Open operation ``op`` with its root span ``name``."""
        self.op = op
        try:
            with self.span(name):
                yield
        finally:
            self.op = None

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def total(self, op: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.op_spans(op) if s["name"] == name)

    def count(self, op: str, name: str) -> int:
        return sum(1 for s in self.op_spans(op) if s["name"] == name)

    def self_times(self, op: str) -> dict[str, float]:
        """Per-module self time of one operation."""
        spans = self.op_spans(op)
        index = {id(s): s for s in spans}
        child_time: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]
                if id(parent) in index:
                    child_time[id(parent)] = (
                        child_time.get(id(parent), 0.0) + s["end"] - s["start"]
                    )
        out: dict[str, float] = {}
        for s in spans:
            module = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_time.get(id(s), 0.0)
            out[module] = out.get(module, 0.0) + own
        return out
