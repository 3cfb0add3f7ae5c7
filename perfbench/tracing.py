"""Span recording for the traced run.

A `Tracer` keeps spans in memory (name, start, end, parent span, op id)
and derives per-layer self times from them: a span's self time is its
duration minus the time its child spans cover. Spans are opened either by
the benchmark itself (`Tracer.span`) or by wrappers around the public
functions of each layer.

Wrappers must sit at the name the caller looks up, or they time nothing:
`engine` imports `federate` by name, so `engine.federate` is patched, not
`federation.federate`; `compiler` imports `cast_dataframe` by name;
`sources.provider` calls `arrow_to_spark` as a module global; the
`Unparser` and the executor are reached through attributes. `Patches`
installs a set of wrappers and puts every original back on `remove`.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional


@dataclass
class Span:
    id: int
    parent: Optional[int]
    op: int
    name: str
    start: float
    end: float = 0.0
    attrs: Dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self.op = -1

    @contextmanager
    def span(self, name: str, **attrs: float):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.op, name,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def innermost(self) -> Optional[str]:
        return self._stack[-1].name if self._stack else None

    def wrap(self, name: str, fn: Callable,
             attrs: Optional[Callable[..., Dict[str, float]]] = None,
             result_attrs: Optional[Callable[[Any], Dict[str, float]]] = None
             ) -> Callable:
        """``fn`` timed under span ``name``. A recursive call made inside
        an open span of the same name (optimizer passes recurse through
        their module-level names) runs unwrapped, so it stays in the
        outer span's self time instead of opening one span per node."""
        def wrapper(*args, **kwargs):
            if self.innermost() == name:
                return fn(*args, **kwargs)
            with self.span(name, **(attrs(*args, **kwargs)
                                    if attrs else {})) as s:
                out = fn(*args, **kwargs)
                if result_attrs is not None:
                    s.attrs.update(result_attrs(out))
                return out
        wrapper.__wrapped__ = fn
        return wrapper

    def self_times(self) -> Dict[int, float]:
        """span id -> duration minus the duration of its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def to_records(self) -> List[dict]:
        return [{"id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
                 "start": s.start, "end": s.end, **s.attrs}
                for s in self.spans]


class Patches:
    """Attribute replacements that can be installed and removed as a set."""

    def __init__(self) -> None:
        self._items: List[tuple] = []      # (owner, attr, wrapper)
        self._saved: List[tuple] = []

    def add(self, owner: Any, attr: str, wrapper: Callable) -> None:
        self._items.append((owner, attr, wrapper))

    def install(self) -> None:
        for owner, attr, wrapper in self._items:
            had_own = attr in vars(owner)
            self._saved.append((owner, attr, had_own,
                                vars(owner).get(attr)))
            setattr(owner, attr, wrapper)

    def remove(self) -> None:
        while self._saved:
            owner, attr, had_own, orig = self._saved.pop()
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)


def layer_patches(tracer: Tracer, workload) -> Patches:
    """Wrappers around each layer's public entry points, at the names
    their callers look up. Engine and executor wrappers are per-instance
    and only added when the workload has them."""
    from datafusion_federation_spark import compiler, optimizer, schema_infer
    from datafusion_federation_spark import engine as engine_mod
    from datafusion_federation_spark import sqlfront
    from datafusion_federation_spark.sources import provider
    from datafusion_federation_spark.unparser import Unparser

    w = tracer.wrap
    p = Patches()
    p.add(sqlfront, "parse_sql", w("sqlfront.parse", sqlfront.parse_sql))
    p.add(engine_mod, "federate",
          w("federation.federate", engine_mod.federate))
    p.add(optimizer, "push_filters",
          w("optimizer.push_filters", optimizer.push_filters))
    p.add(optimizer, "prune_scans",
          w("optimizer.prune_scans", optimizer.prune_scans))
    p.add(Unparser, "plan_to_sql",
          w("unparser.plan_to_sql", vars(Unparser)["plan_to_sql"]))
    p.add(schema_infer, "infer_plan_schema",
          w("schema_infer.infer", schema_infer.infer_plan_schema))
    # a cache miss is the one path that runs the Catalyst analysis
    shell = schema_infer._ShellCompiler
    p.add(shell, "compile",
          w("schema_infer.analyze", vars(shell)["compile"]))
    p.add(compiler, "cast_dataframe",
          w("schema_cast.cast", compiler.cast_dataframe))
    p.add(provider, "arrow_to_spark",
          w("sources.arrow_to_spark", provider.arrow_to_spark,
            attrs=lambda spark, arrow, *a, **k: {
                "rows": arrow.num_rows, "bytes": arrow.nbytes}))
    engine = getattr(workload, "engine", None)
    if engine is not None:
        p.add(engine.compiler, "compile",
              w("compiler.compile", engine.compiler.compile))
    ex = getattr(workload, "executor", None)
    if ex is not None:
        p.add(ex, "execute", w("sources.remote_exec", ex.execute))
        p.add(ex, "insert", w("sources.insert", ex.insert,
                              result_attrs=lambda n: {"rows": n or 0}))
        p.add(ex, "execute_statement",
              w("sources.statement", ex.execute_statement))
    return p
