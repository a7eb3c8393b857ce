"""Spans for the traced run, recorded from outside the program.

A :class:`Tracer` replaces public functions of the program's modules with
wrappers that record a span per call — name, start, end, parent span and
migration id — and the benchmark wraps the seams it hands to
``execute()`` the same way. Spans are kept in memory and reduced to
per-name counts, total time and self time (a span's duration minus the
part of it that its child spans cover) when the run ends.

Patching a module attribute does not reach a module that bound the
function with ``from x import f`` at its own import time, so
:meth:`Tracer.patch` also rebinds every loaded module that holds the
same function object under the same name.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    migration: int | None
    failed: bool = False
    info: object = None  # what Tracer.measures derived from the result


#: (module, attribute, span name) — the program's public functions the
#: traced run wraps. A "Class.method" attribute patches the method.
PATCH_POINTS = (
    ("mysql2pg_spark.session", "get_spark", "session.start"),
    ("mysql2pg_spark.orchestrator", "MigrationPipeline.plan",
     "orchestrator.plan"),
    ("mysql2pg_spark.orchestrator", "MigrationPipeline.execute",
     "orchestrator.execute"),
    ("mysql2pg_spark.orchestrator", "MigrationPipeline.execute_local",
     "orchestrator.execute_local"),
    ("mysql2pg_spark.sources.catalog", "build_snapshot", "sources.snapshot"),
    ("mysql2pg_spark.sources.dumpfile", "full_snapshot_from_dump",
     "sources.snapshot"),
    ("mysql2pg_spark.sources.dumpfile", "read_dump_inserts",
     "sources.read_dump_inserts"),
    ("mysql2pg_spark.sinks.copyexport", "export_pg_dir", "sinks.export_pg_dir"),
    ("mysql2pg_spark.sinks.copyexport", "write_pg_copy", "sinks.copy_write"),
    ("mysql2pg_spark.operators.validate", "get_observation",
     "validate.observation_wait"),
    ("mysql2pg_spark.schema.schema_map", "map_mysql_type", "schema.map_type"),
    ("mysql2pg_spark.dialect.transpile", "transpile_mysql",
     "dialect.transpile"),
    ("mysql2pg_spark.dialect.transpile", "transpile_mysql_ansi",
     "dialect.transpile"),
    *(("mysql2pg_spark.sinks.ddl", fn, "sinks.ddl.render") for fn in (
        "create_table_ddl", "create_index_ddl", "functional_index_ddl",
        "comment_ddl", "grant_ddl", "adapt_ddl", "add_fk_ddl",
        "add_check_ddl", "setval_ddl", "render_script",
    )),
    *(("mysql2pg_spark.sinks.plpgsql_builder", fn, "sinks.plpgsql.build")
      for fn in ("build_spec_from_mysql", "build_trigger_from_mysql")),
    *(("mysql2pg_spark.sinks.plpgsql", fn, "sinks.plpgsql.build")
      for fn in ("emit_plpgsql", "emit_trigger")),
)


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = True
        self.migration: int | None = None
        self._root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: span name → function of the call's result, kept on the span
        self.measures: dict[str, object] = {}

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``. A call on a thread
        with no open span (a pool worker) is parented to the current
        migration's root span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        stack.append(sid)
        failed, info = False, None
        t0 = self.clock()
        try:
            result = fn(*args, **kwargs)
            if name in self.measures:
                info = self.measures[name](result)
            return result
        except BaseException:
            failed = True
            raise
        finally:
            t1 = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent,
                                       self.migration, failed, info))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def begin_migration(self, mid: int) -> None:
        self.migration = mid
        self._root = next(self._ids) if self.enabled else None
        self._root_start = self.clock()

    def end_migration(self) -> None:
        if self._root is not None:
            with self._lock:
                self.spans.append(Span(self._root, "migration",
                                       self._root_start, self.clock(), None,
                                       self.migration))
        self.migration = self._root = None

    # -- patching ----------------------------------------------------------

    def patch(self, module_name: str, attr: str, name: str) -> None:
        mod = importlib.import_module(module_name)
        if "." in attr:  # Class.method
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            original = cls.__dict__[meth]
            self._undo.append((cls, meth, original))
            setattr(cls, meth, self.wrap(name, original))
            return
        original = getattr(mod, attr)
        traced = self.wrap(name, original)
        for m in list(sys.modules.values()):
            if getattr(m, attr, None) is original:
                self._undo.append((m, attr, original))
                setattr(m, attr, traced)

    def patch_all(self, points=PATCH_POINTS) -> None:
        for module_name, attr, name in points:
            self.patch(module_name, attr, name)

    def unpatch_all(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


# ---------------------------------------------------------------------------
# reduction
# ---------------------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time: duration minus the union of its children's
    intervals (children on parallel threads may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


@dataclass
class NameStats:
    calls: int = 0
    total_s: float = 0.0
    self_s: float = 0.0
    failed: int = 0


def reduce_spans(spans: list[Span]) -> dict[str, NameStats]:
    """Per span name: call count, total time, self time, failed calls."""
    selfs = self_times(spans)
    out: dict[str, NameStats] = {}
    for s in spans:
        st = out.setdefault(s.name, NameStats())
        st.calls += 1
        st.total_s += s.end - s.start
        st.self_s += selfs[s.id]
        st.failed += s.failed
    return out


def durations(spans: list[Span], name: str) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name]
