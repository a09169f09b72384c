"""Traced run: spans recorded around the public functions of each layer.

``Tracer.install(names)`` replaces each target attribute of the named
spans with a wrapper that records a span (name, start, end, parent,
request id, thread) and ``remove()`` puts the originals back, so the
wrappers exist only while a traced run has them on. A gate per span
name picks which requests are recorded: the traced run records the
reads that carry the trace header, and every write. Spans are kept in
memory and written out when the run ends. A span's self time is its
duration minus the time its child spans cover; spans nest per thread,
so a child is always inside its parent's interval.

The spans sit at layer boundaries seen from outside the engine. Work
inside a layer that no wrapped function covers stays in its parent's
self time: for a read that is ``httpd.other`` (the self time of
``do_GET``), reported rather than hidden.
"""

from __future__ import annotations

import importlib
import itertools
import json
import threading
import time
from dataclasses import dataclass

# span name -> [(module, attribute path)]; a dotted path wraps a class
# attribute. The api.* aliases are the names the Engine itself calls.
TARGETS = {
    "httpd.get": [("gigapipe_spark.httpd", "_Handler.do_GET")],
    "httpd.post": [("gigapipe_spark.httpd", "_Handler.do_POST")],
    "httpd.labels_join": [("gigapipe_spark.httpd", "_stream_labels")],
    "httpd.envelope": [
        ("gigapipe_spark.httpd", "_loki_envelope"),
        ("gigapipe_spark.httpd", "_prom_envelope"),
        ("gigapipe_spark.httpd", "_Handler._json"),
    ],
    "logql.parse": [("gigapipe_spark.logql.parser", "parse")],
    "logql.compile": [
        ("gigapipe_spark.api", "_logql_query_range"),
        ("gigapipe_spark.logql.compiler", "query_range"),
    ],
    "promql.compile": [
        ("gigapipe_spark.api", "_promql_query"),
        ("gigapipe_spark.promql.compiler", "query"),
    ],
    "traceql.compile": [
        ("gigapipe_spark.api", "_traceql_query"),
        ("gigapipe_spark.traceql.compiler", "query"),
    ],
    "spark.collect": [("pyspark.sql.classic.dataframe", "DataFrame.collect")],
    "storage.read": [
        ("gigapipe_spark.storage.writer", "Catalog.read"),
        ("gigapipe_spark.storage.writer", "Catalog.read_series"),
    ],
    "storage.refresh": [("gigapipe_spark.storage.query", "StoreEngine.refresh")],
    "storage.fanout": [
        ("gigapipe_spark.storage.writer", "ingest_fanout"),
        ("gigapipe_spark.storage.writer", "spans_fanout"),
    ],
    "storage.patterns": [("gigapipe_spark.storage.writer", "patterns_fanout")],
    "storage.journal": [
        ("gigapipe_spark.storage.journal", "BatchJournal.__init__"),  # snapshot
        ("gigapipe_spark.storage.journal", "BatchJournal.begin"),
        ("gigapipe_spark.storage.journal", "BatchJournal.done"),
    ],
    "sources.decode": [
        ("gigapipe_spark.sources.ingest", "loki_push"),
        ("gigapipe_spark.sources.protowire", "remote_write"),
        ("gigapipe_spark.sources.ingest", "zipkin_spans"),
    ],
    "bulk.submit": [("gigapipe_spark.bulk", "BulkWriter.submit")],
    "bulk.flush_group": [("gigapipe_spark.bulk", "BulkWriter._flush_group")],
    "httpd.guard": [("gigapipe_spark.cancel", "RequestGuard.__enter__")],
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: int
    thread: int
    info: dict | None = None


class Tracer:
    """Span recorder. ``hooks`` maps a span name to a callable
    ``hook(span, args, result)`` run after the span closes, outside its
    timing, to attach facts to the span (payloads flushed, the request's
    Spark job group). ``gates`` maps a span name to a callable
    ``gate(args)`` deciding whether a call that would start a new
    request (no recorded span open on its thread) is recorded; calls
    nested in a recorded span always are."""

    def __init__(self, hooks: dict | None = None, gates: dict | None = None):
        self.spans: list[Span] = []
        self.hooks = hooks or {}
        self.gates = gates or {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._req = itertools.count(1)
        self._saved: dict[str, list[tuple[object, str, object]]] = {}

    # -------------------------------------------------------- wrapping
    def _wrapper(self, name: str, fn):
        tracer = self
        gate = self.gates.get(name)

        def traced(*args, **kwargs):
            local = tracer._local
            stack = getattr(local, "stack", None)
            if stack is None:
                stack = local.stack = []
            if not stack and gate is not None and not gate(args):
                return fn(*args, **kwargs)
            if not stack:  # a root span starts a new request
                local.req = next(tracer._req)
            span = Span(name, 0.0, 0.0, stack[-1] if stack else None,
                        local.req, threading.get_ident())
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            span.start = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
            hook = tracer.hooks.get(name)
            if hook is not None:
                hook(span, args, result)
            return result

        traced.__wrapped__ = fn
        return traced

    def install(self, names) -> None:
        for name in names:
            if name in self._saved:
                continue
            saved = self._saved[name] = []
            for module, path in TARGETS[name]:
                owner = importlib.import_module(module)
                *cls, attr = path.split(".")
                for c in cls:
                    owner = getattr(owner, c)
                original = owner.__dict__[attr]
                saved.append((owner, attr, original))
                setattr(owner, attr, self._wrapper(name, original))

    def remove(self, names=None) -> None:
        for name in list(self._saved if names is None else names):
            for owner, attr, original in reversed(self._saved.pop(name, [])):
                setattr(owner, attr, original)

    # -------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (times relative to the first)."""
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent, "req": s.req,
                    "thread": s.thread, "start_ms": (s.start - t0) * 1e3,
                    "end_ms": (s.end - t0) * 1e3, **({"info": s.info} if s.info else {}),
                }) + "\n")
