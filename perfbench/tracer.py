"""Traced-run instrumentation, installed from the benchmark's side only.

With tracing on, the benchmark opens a span around each call into a
program layer.  Calls the benchmark makes itself (``PromAPI.handle``,
``write_samples``, ``RulesEngine.eval_tick``, the pipeline operators, ...)
are wrapped where they are made; calls the program makes internally are
wrapped by swapping the public function for a timing wrapper for the
length of the run:

- ``parse_expr`` (every module that imported it)      -> ``parser.parse``
- ``PromQLEngine.range_query`` / ``instant_query``    -> ``engine.plan``
- ``web.api.render_result``                           -> ``web.render``
- ``DataFrame.collect`` called by ``PromAPI.handle``  -> ``engine.exec``

Spans are recorded through the program's own tracing API
(``prometheus_spark.tracing``) with an in-memory exporter and sampling
fraction 1.0, so the program's existing spans (``promqlExec``,
``promqlPrepare``, ``promqlEval``, ``promqlSort``, ``rule``, ``Scrape``)
land in the same trees, nested under the benchmark's layer spans.  Every
span of one operation shares the operation's trace id.  Spans stay in
memory and are written out when the run ends.

With tracing off nothing is installed and :meth:`Tracer.span` is a no-op.
"""

from __future__ import annotations

import contextlib
import contextvars
import json
import sys
import time
import weakref
from collections import defaultdict
from pathlib import Path

# the benchmark's layer spans carry this attribute; program spans do not
LAYER_ATTR = "perfbench.layer"
# the span around one timed operation; its self time is the benchmark's
# own code inside the operation
ROOT_SPAN = "op"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.exporter = None
        self._manager = None
        self._stack: contextvars.ContextVar[tuple] = contextvars.ContextVar(
            "perfbench_layers", default=()
        )
        self._patches: list[tuple[object, str, object]] = []
        self._plans_seen: dict[tuple, weakref.ref] = {}
        self.plan_calls = 0
        self.plan_hits = 0
        self.parse_calls = 0
        self.exec_rows = 0
        self.span_cost_ms = 0.0

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        from prometheus_spark import tracing

        token = self._stack.set(self._stack.get() + (name,))
        try:
            with tracing.span(name, **{LAYER_ATTR: True}, **attrs) as s:
                yield s
        finally:
            self._stack.reset(token)

    def _inside(self, name: str) -> bool:
        return name in self._stack.get()

    def _top(self) -> str | None:
        stack = self._stack.get()
        return stack[-1] if stack else None

    # -- install / uninstall ------------------------------------------------

    def install(self, spark) -> None:
        if not self.enabled:
            return
        from prometheus_spark import tracing

        self.exporter = tracing.InMemoryExporter()
        self._manager = tracing.Manager(exporter_factory=lambda _cfg: self.exporter)
        self._manager.apply_config(
            {"endpoint": "in-memory", "sampling_fraction": 1.0}
        )
        self._calibrate()
        self._patch_parser()
        self._patch_engine()
        self._patch_web(type(spark.range(1)))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()
        if self._manager is not None:
            self._manager.force_flush()
            self._manager.stop()
            self._manager = None

    def _set(self, obj, attr: str, value) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def _calibrate(self, n: int = 2000) -> None:
        """Cost of one nested span pair, measured here so the traced run
        can state its own overhead."""
        t0 = time.perf_counter()
        for _ in range(n):
            with self.span("calibrate"):
                pass
        self.span_cost_ms = (time.perf_counter() - t0) * 1000.0 / n
        self._manager.force_flush()
        self.exporter.spans.clear()

    def _patch_parser(self) -> None:
        import prometheus_spark.parser as parser_pkg

        orig = parser_pkg.parse_expr
        tracer = self

        def parse_expr(*a, **k):
            tracer.parse_calls += 1
            with tracer.span("parser.parse"):
                return orig(*a, **k)

        for name, mod in list(sys.modules.items()):
            if name.startswith("prometheus_spark") and getattr(mod, "parse_expr", None) is orig:
                self._set(mod, "parse_expr", parse_expr)

    def _patch_engine(self) -> None:
        from prometheus_spark.engine.engine import PromQLEngine

        tracer = self

        def wrap(orig, kind):
            def method(engine, query, *args):
                if tracer._inside("engine.plan"):
                    return orig(engine, query, *args)
                with tracer.span("engine.plan", query=query):
                    df = orig(engine, query, *args)
                key = (id(engine), kind, query, *args)
                seen = tracer._plans_seen.get(key)
                tracer.plan_calls += 1
                if seen is not None and seen() is df:
                    tracer.plan_hits += 1
                tracer._plans_seen[key] = weakref.ref(df)
                return df

            return method

        self._set(PromQLEngine, "range_query", wrap(PromQLEngine.range_query, "range"))
        self._set(PromQLEngine, "instant_query", wrap(PromQLEngine.instant_query, "instant"))

    def _patch_web(self, frame_cls) -> None:
        import prometheus_spark.web.api as api

        tracer = self
        orig_render = api.render_result
        orig_collect = frame_cls.collect

        def render_result(*a, **k):
            with tracer.span("web.render"):
                return orig_render(*a, **k)

        def collect(df):
            if tracer._top() != "web.handle":
                return orig_collect(df)
            with tracer.span("engine.exec"):
                rows = orig_collect(df)
            tracer.exec_rows += len(rows)
            return rows

        self._set(api, "render_result", render_result)
        self._set(frame_cls, "collect", collect)

    # -- analysis ---------------------------------------------------------------

    def spans(self) -> list:
        if self._manager is not None:
            self._manager.force_flush()
        return list(self.exporter.spans) if self.exporter is not None else []

    def write(self, path: Path) -> None:
        rows = [
            {
                "name": s.name,
                "trace_id": f"{s.trace_id:032x}",
                "span_id": f"{s.span_id:016x}",
                "parent_id": f"{s.parent_id:016x}" if s.parent_id else None,
                "start_ns": s.start_ns,
                "end_ns": s.end_ns,
                "attributes": {k: _jsonable(v) for k, v in s.attributes.items()},
            }
            for s in self.spans()
        ]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def _jsonable(v):
    return v if isinstance(v, (bool, int, float, str)) or v is None else str(v)


def layer_table(spans: list) -> dict:
    """Per span name: calls, inclusive and self milliseconds.  Self time is
    the span's duration minus the union of its children's intervals
    (clipped to the parent)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent_id:
            children[s.parent_id].append(s)
    table: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
    for s in spans:
        dur = s.end_ns - s.start_ns
        ivs = sorted(
            (max(c.start_ns, s.start_ns), min(c.end_ns, s.end_ns))
            for c in children.get(s.span_id, ())
        )
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        row = table[s.name]
        row["calls"] += 1
        row["total_ms"] += dur / 1e6
        row["self_ms"] += (dur - covered) / 1e6
    return dict(table)


def nesting_report(spans: list) -> dict:
    """How many of the program's own spans sit under a benchmark layer
    span, and under which layer each program span name sits."""
    by_id = {s.span_id: s for s in spans}
    program = [s for s in spans if not s.attributes.get(LAYER_ATTR)]
    nested = 0
    parents: dict[str, set] = defaultdict(set)
    for s in program:
        p = by_id.get(s.parent_id)
        while p is not None and not p.attributes.get(LAYER_ATTR):
            p = by_id.get(p.parent_id)
        if p is not None:
            nested += 1
            parents[s.name].add(p.name)
    return {
        "program_spans": len(program),
        "nested_under_layers": nested,
        "layers_by_program_span": {k: sorted(v) for k, v in sorted(parents.items())},
    }
