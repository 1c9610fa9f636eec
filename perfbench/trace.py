"""Span tracer wrapped around the engine's public entry points at runtime.

The program is not edited: :func:`install` replaces a handful of methods
with wrappers that record a span (name, start, end, parent, operation
id, py4j round trips, Spark jobs) whenever tracing is switched on, and
call straight through when it is off.  Spans stay in memory; the harness
writes them out once the run ends.

Layer names follow the repo's modules:

==================  ==============================================
span                wrapped entry point
==================  ==============================================
queries.build       a registry query function (wrapped at call site)
sql_router.build    ``MooncakeEngine.sql``
engine.apply        ``MooncakeEngine.apply_changes``
engine.dml          ``MooncakeEngine.insert`` / ``update_where`` /
                    ``delete_where``
storage.merge       ``MoonTable.merge`` (``views.state_merge`` when
                    called under ``views.refresh``)
storage.write       ``MoonTable.append`` / ``update_where`` /
                    ``delete_where``
storage.read_build  ``MoonTable.read``
views.refresh       ``MaterializedView.refresh``
exports.sync        ``sources.iceberg.upsert_keys_iceberg``
catalog.update      ``SyncCatalog.update_watermarks``
==================  ==============================================
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

# spans whose Spark job count is sampled at entry and exit
JOB_COUNTED = {"engine.apply", "storage.merge", "views.refresh", "exports.sync"}


@dataclass
class Span:
    name: str
    op: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    children_s: float = 0.0
    _py4j0: int = field(default=0, repr=False)
    _jobs0: int = field(default=0, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """Collects spans for the operations run while ``enabled`` is set."""

    def __init__(self) -> None:
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self._counting = True
        self.job_count: Callable[[], int] = lambda: 0

    # -- py4j -----------------------------------------------------------
    def count_py4j(self, client: Any) -> None:
        """Count round trips through one py4j client's send_command."""
        send = client.send_command

        @functools.wraps(send)
        def counted(*a, **k):
            if self.enabled and self._counting:
                self.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted

    def _jobs(self) -> int:
        self._counting = False
        try:
            return self.job_count()
        finally:
            self._counting = True

    # -- spans ------------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        if name == "storage.merge" and self._under("views.refresh"):
            name = "views.state_merge"
        s = Span(name, self.op, parent, 0.0, _py4j0=self.py4j_calls)
        if name in JOB_COUNTED:
            s._jobs0 = self._jobs()
        s.start = time.perf_counter()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        s = self.spans[idx]
        s.end = time.perf_counter()
        if s.name in JOB_COUNTED:
            s.jobs = self._jobs() - s._jobs0
        s.py4j = self.py4j_calls - s._py4j0
        self._stack.pop()
        if s.parent is not None:
            self.spans[s.parent].children_s += s.dur

    def _under(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def span(self, name: str, fn: Callable, *a, **k):
        """Run ``fn`` inside a span (when tracing is on)."""
        if not self.enabled:
            return fn(*a, **k)
        idx = self._open(name)
        try:
            return fn(*a, **k)
        finally:
            self._close(idx)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*a, **k):
            return self.span(name, fn, *a, **k)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def patch(self, owner: Any, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        if not getattr(fn, "__wrapped_by_perfbench__", False):
            setattr(owner, attr, self.wrap(name, fn))

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "py4j": s.py4j, "jobs": s.jobs}
            for s in self.spans
        ]


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points (see the module table)."""
    from pg_mooncake_spark.catalog import SyncCatalog
    from pg_mooncake_spark.engine import MooncakeEngine
    from pg_mooncake_spark.sources import iceberg
    from pg_mooncake_spark.storage import MoonTable
    from pg_mooncake_spark.views import MaterializedView

    tracer.patch(MooncakeEngine, "sql", "sql_router.build")
    tracer.patch(MooncakeEngine, "apply_changes", "engine.apply")
    for attr in ("insert", "update_where", "delete_where"):
        tracer.patch(MooncakeEngine, attr, "engine.dml")
    tracer.patch(MoonTable, "merge", "storage.merge")
    for attr in ("append", "update_where", "delete_where"):
        tracer.patch(MoonTable, attr, "storage.write")
    tracer.patch(MoonTable, "read", "storage.read_build")
    tracer.patch(MaterializedView, "refresh", "views.refresh")
    tracer.patch(iceberg, "upsert_keys_iceberg", "exports.sync")
    tracer.patch(SyncCatalog, "update_watermarks", "catalog.update")


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def summarize(spans: list[Span], ops: int) -> dict[str, float]:
    """Per-operation totals: ``<span>_s`` (inclusive), ``<span>.self_s``,
    ``<layer>.self_s``, span counts, py4j calls and jobs."""
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        add(f"{s.name}_s", s.dur)
        add(f"{s.name}.count", 1)
        add(f"{s.name}.py4j_calls", s.py4j)
        add(f"{s.name}.jobs", s.jobs)
        add(f"{s.name}.self_s", s.self_s)
        add(f"{layer_of(s.name)}.self_s", s.self_s)
    return {k: v / max(ops, 1) for k, v in out.items()}
