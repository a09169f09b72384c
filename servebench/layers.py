"""Per-layer metrics of a traced run, from spans plus counters read
around the run: GC time (GC MXBeans), Spark jobs and tasks (status
tracker, by the job group each request runs under), and the store
listing.

Write-side spans cover every write the workload makes: the preload for
``dashboard`` (its only writes, in set-up), the bulk flushes of the
measured run for ``live``. Read-side spans are recorded for the reads
that carry the trace header, half of the timed reads; the traced and
untraced reads of one run give the tracing overhead.

Read-side figures are self milliseconds per traced GET request, so they
add up to ``httpd.get_ms``. Write-side figures are per fan-out call (one
bulk flush group or one synchronous push). Every workload reports every
metric; a count the workload does not exercise (bulk flushes of the
synchronous dashboard preload) reads 0.
"""

from __future__ import annotations

from harness import TRACE_HEADER
from spans import Tracer

COMPILERS = ("logql.compile", "promql.compile", "traceql.compile")
READ_LAYERS = {
    "httpd.other_ms": ("httpd.get",),
    "httpd.labels_join_ms": ("httpd.labels_join",),
    "httpd.envelope_ms": ("httpd.envelope",),
    "logql.parse_ms": ("logql.parse",),
    # live reads only LogQL: the three compilers are one layer here, and
    # the per-language split goes on the dashboard's environment line
    "query.compile_ms": COMPILERS,
    "spark.collect_ms": ("spark.collect",),
    "storage.read_ms": ("storage.read",),
}
WRITE_LAYERS = {
    "storage.fanout_ms": "storage.fanout",
    "storage.patterns_ms": "storage.patterns",
    "storage.journal_ms": "storage.journal",
    "sources.decode_ms": "sources.decode",
}
WRITE_ROOTS = ("bulk.flush_group", "httpd.post")
READ_SPANS = (
    "httpd.get", "httpd.guard", "httpd.labels_join", "httpd.envelope",
    "logql.parse", "logql.compile", "promql.compile", "traceql.compile",
    "spark.collect", "storage.read",
)
WRITE_SPANS = (
    "httpd.post", "bulk.submit", "bulk.flush_group", "storage.refresh",
    "storage.fanout", "storage.patterns", "storage.journal", "sources.decode",
)
TABLES = ("samples", "time_series", "gin", "patterns")


def _flush_group_payloads(span, args, result) -> None:
    span.info = {"payloads": len(args[3])}  # (self, kind, params, payloads)


def _guard_group(span, args, result) -> None:
    span.info = {"group": args[0].group_id}


def _traced_request(args) -> bool:
    return args[0].headers.get(TRACE_HEADER) == "1"  # (handler,)


# a read is recorded from its do_GET down, and only when the client
# marked it; the other read-side spans are recorded only inside a
# recorded span (a traced GET, or a write that calls them)
READ_GATES = {name: (lambda args: False) for name in READ_SPANS}
READ_GATES["httpd.get"] = _traced_request


class LayerProbe:
    def __init__(self, served, spans_path: str):
        self.served = served
        self.spans_path = spans_path
        self.tracer = Tracer(hooks={
            "bulk.flush_group": _flush_group_payloads,
            "httpd.guard": _guard_group,
        }, gates=READ_GATES)
        self.tracker = served.spark.sparkContext.statusTracker()

    def start_writes(self) -> None:
        """Spans on (before the workload's first write); store listing
        and ungrouped jobs noted."""
        self.listing0 = self.served.store_listing()
        self.ungrouped0 = set(self.tracker.getJobIdsForGroup(None))
        self.tracer.install(WRITE_SPANS + READ_SPANS)

    def start_reads(self) -> None:
        """Start of the measured run: GC time noted."""
        self.gc0 = self.served.gc_ms()

    def stop(self) -> None:
        self.tracer.remove()
        self.gc_ms = self.served.gc_ms() - self.gc0
        self.listing1 = self.served.store_listing()
        self.ungrouped = set(self.tracker.getJobIdsForGroup(None)) - self.ungrouped0
        self.tracer.dump(self.spans_path)

    # ------------------------------------------------------------ spans
    def _roots(self) -> list[str]:
        spans = self.tracer.spans
        roots: list[str] = []
        for s in spans:  # a parent always precedes its children
            roots.append(roots[s.parent] if s.parent is not None else s.name)
        return roots

    def _self_by(self, root_names) -> dict:
        out: dict = {}
        roots = self._roots()
        for s, own, root in zip(self.tracer.spans, self.tracer.self_times(), roots):
            if root in root_names:
                out[s.name] = out.get(s.name, 0.0) + own
        return out

    def _spans(self, name: str) -> list:
        return [s for s in self.tracer.spans if s.name == name]

    def _jobs_and_tasks(self, groups) -> tuple[int, int]:
        jobs = tasks = 0
        for g in groups:
            for j in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(j)
                jobs += 1
                for stage in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(stage)
                    tasks += st.numTasks if st else 0
        return jobs, tasks

    # ---------------------------------------------------------- metrics
    def read_metrics(self, reads) -> dict:
        gets = [s for s in self._spans("httpd.get") if s.parent is None]
        n = max(len(gets), 1)
        own = self._self_by(("httpd.get",))
        m = {
            k: (sum(own.get(span, 0.0) for span in names) * 1e3 / n, "ms")
            for k, names in READ_LAYERS.items()
        }
        get_ms = sum(s.end - s.start for s in gets) * 1e3 / n
        m["httpd.get_ms"] = (get_ms, "ms")
        client_ms = sum(r.seconds for r in reads) * 1e3 / max(len(reads), 1)
        m["httpd.wait_ms"] = (client_ms - get_ms, "ms")
        m["httpd.response_bytes"] = (
            sum(r.nbytes for r in reads) / max(len(reads), 1), "bytes")
        roots = self._roots()
        groups = [
            s.info["group"] for s, root in zip(self.tracer.spans, roots)
            if s.name == "httpd.guard" and root == "httpd.get" and s.info
        ]
        jobs, tasks = self._jobs_and_tasks(groups)
        m["spark.jobs_per_read"] = (jobs / n, "count")
        m["spark.tasks_per_read"] = (tasks / n, "count")
        m["jvm.gc_ms"] = (self.gc_ms, "ms")
        return m

    def write_metrics(self) -> dict:
        fanouts = self._spans("storage.fanout")
        n = max(len(fanouts), 1)
        own = self._self_by(WRITE_ROOTS)
        m = {k: (own.get(span, 0.0) * 1e3 / n, "ms") for k, span in WRITE_LAYERS.items()}
        posts = self._spans("httpd.post")
        m["httpd.post_ms"] = (
            sum(s.end - s.start for s in posts) * 1e3 / max(len(posts), 1), "ms")
        flush_groups = self._spans("bulk.flush_group")
        m["bulk.flush_count"] = (len(flush_groups), "count")
        m["bulk.pushes_per_flush"] = (
            sum(s.info["payloads"] for s in flush_groups) / max(len(flush_groups), 1),
            "count")
        refreshes = self._spans("storage.refresh")
        m["storage.refresh_count"] = (len(refreshes), "count")
        m["storage.refresh_ms"] = (
            sum(s.end - s.start for s in refreshes) * 1e3 / max(len(refreshes), 1), "ms")
        files0 = sum(f for f, _ in self.listing0.values())
        files1 = sum(f for f, _ in self.listing1.values())
        m["storage.files_per_push"] = ((files1 - files0) / n, "count")
        m["storage.store_files"] = (files1, "count")
        for t in TABLES:
            m[f"storage.bytes.{t}"] = (self.listing1.get(t, (0, 0))[1], "bytes")
        m["spark.jobs_per_push"] = (len(self.ungrouped) / n, "count")
        return m

    # ----------------------------------------- one workload's figures
    def compile_split(self) -> dict:
        """Compile self ms per traced GET, per query language."""
        n = max(len([s for s in self._spans("httpd.get") if s.parent is None]), 1)
        own = self._self_by(("httpd.get",))
        return {f"{c}_ms": own.get(c, 0.0) * 1e3 / n for c in COMPILERS}

    def bulk_submit(self) -> dict:
        """Mean ``BulkWriter.submit`` time per push."""
        submits = self._spans("bulk.submit")
        return {"bulk.submit_ms": _mean_ms(s.end - s.start for s in submits)}


def _mean_ms(xs) -> float:
    xs = list(xs)
    return sum(xs) * 1e3 / len(xs) if xs else 0.0
