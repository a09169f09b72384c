"""The benchmark's workloads: ``dashboard`` and ``live``.

Each workload sets up a fresh store through the real push routes, warms
every path it will time, then measures for a fixed time and checks every
answer. Both are closed-loop readers; ``live`` also runs an open-loop
pusher. ``run()`` returns the samples, ``metrics()`` the end-to-end
metrics both workloads share, and ``details()`` the figures only one of
them exercises.

A traced run (``--trace 1``) records every write the workload makes and
half of its timed reads, which carry the trace header; the tracing
overhead is the mean latency of traced reads minus that of the untraced
reads of the same run (layers.py).
"""

from __future__ import annotations

import itertools
import json
import queue
import sys
import threading
import time
from dataclasses import dataclass, field
from urllib.parse import quote

import gen
import panels
from harness import Served
from layers import LayerProbe
from stats import percentile


@dataclass
class Read:
    panel: str
    seconds: float
    nbytes: int
    traced: bool | None  # None: outside the timed window (live's drain polls)


@dataclass
class Outcome:
    """What one measured run produced."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    reads: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def attempt(self) -> None:
        with self.lock:
            self.attempted += 1

    def fail(self, msg: str) -> None:
        with self.lock:
            self.failed += 1
            if len(self.errors) < 10:
                self.errors.append(msg)


def log(msg: str) -> None:
    print(f"servebench {time.strftime('%H:%M:%S')}: {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    bulk_max_age_ms: float | None = None

    def __init__(self, seed: int, work: str, spans_path: str | None):
        self.seed = seed
        self.work = work
        self.spans_path = spans_path
        self.trace = spans_path is not None
        self.gen = gen.Generator(seed)
        self.served: Served | None = None
        self.probe: LayerProbe | None = None

    def setup(self) -> None:
        """Fresh store and engine, then the workload's own ``warm()``:
        preload and warm-up of every path it will time."""
        t = time.perf_counter()
        self.served = Served(self.work, self.bulk_max_age_ms)
        log(f"engine up in {time.perf_counter() - t:.1f} s")
        if self.trace:
            self.probe = LayerProbe(self.served, self.spans_path)
        t = time.perf_counter()
        self.warm()
        log(f"preload and warm-up in {time.perf_counter() - t:.1f} s")

    def close(self) -> None:
        if self.served is not None:
            self.served.close()

    def start_tracing(self) -> None:
        if self.trace:
            self.probe.start_writes()
            self.probe.start_reads()

    def read_cycle(self, i: int) -> bool:
        """Whether read ``i`` (a dashboard refresh, or one tail poll of
        a connection) is traced: in a traced run, half of them in the
        order untraced, traced, traced, untraced, so a steady drift
        (warm-up still ending) cancels out of the overhead."""
        return self.trace and i % 4 in (1, 2)

    def stop_tracing(self) -> None:
        if self.probe is not None:
            self.probe.stop()

    def metrics(self, out: Outcome, setup_s: float) -> dict:
        """The end-to-end metrics, the same for every workload, over the
        timed reads (a read outside the timed window has ``traced`` None).
        Read latency is a mean: the reads mix panels of different cost
        (dashboard) or polls with and without a fan-out running beside
        them (live), and a median of such a mix jumps between clusters."""
        lat = _timed(out)
        return {
            "setup_s": (setup_s, "s"),
            "read_mean_ms": (_mean(lat) * 1e3, "ms"),
            "read_qps": (len(lat) / out.extra["elapsed_s"], "1/s"),
        }

    def layer_metrics(self, out: Outcome) -> dict:
        reads = [r for r in out.reads if r.traced is True]
        plain = [r for r in out.reads if r.traced is False]
        m = self.probe.read_metrics(reads)
        m.update(self.probe.write_metrics())
        m["jvm.peak_rss_mb"] = (self.served.peak_rss_mb(), "MB")
        m["trace.overhead_ms"] = (
            (_mean(r.seconds for r in reads) - _mean(r.seconds for r in plain)) * 1e3,
            "ms",
        )
        return m

    def details(self, out: Outcome) -> dict:
        """Figures of this workload alone, for the environment line."""
        lat = _timed(out)
        return {"reads": len(lat), "read_p50_ms": _ms_percentile(lat, 50)}


def _timed(out: Outcome) -> list:
    return [r.seconds for r in out.reads if r.traced is not None]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ms_percentile(xs, q) -> float:
    return percentile(xs, q) * 1e3


class Dashboard(Workload):
    """One closed-loop viewer refreshing the seven panels over three
    connections on a fixed schedule; the next refresh starts when the
    last panel returns."""

    name = "dashboard"
    min_refreshes = 3  # 21 reads: the median has ten beyond it

    def __init__(self, *a):
        super().__init__(*a)
        truth = self.gen.truth
        self.label_names = {k for lab in truth.stream_labels for k in lab}
        self.label_names |= {k for lab in truth.series_labels for k in lab}
        self.label_names.add("service_name")  # derived by the writer
        self._go = [queue.Queue() for _ in panels.SCHEDULE]
        self._done: queue.Queue = queue.Queue()
        self._workers: list[threading.Thread] = []
        self.refresh_no = 0

    def read_panel(self, client, panel: str, refresh: int, out: Outcome,
                   traced: bool) -> None:
        start, end = panels.window(refresh, gen.T0)
        t = time.perf_counter()
        try:
            status, body = client.get(panels.path(panel, start, end), traced)
        except OSError as ex:
            out.attempt()
            out.fail(f"{panel}: {ex}")
            return
        dt = time.perf_counter() - t
        out.attempt()
        out.reads.append(Read(panel, dt, len(body), traced))
        if status != 200:
            out.fail(f"{panel}: HTTP {status}: {body[:200]!r}")
            return
        err = panels.check(panel, body, self.gen.truth, start, end, self.label_names)
        if err:
            out.fail(f"{panel} window {start}..{end}: {err}")

    def _worker(self, conn: int) -> None:
        client = self.served.client()
        try:
            while (task := self._go[conn].get()) is not None:
                refresh, out, traced = task
                try:
                    for panel in panels.SCHEDULE[conn]:
                        self.read_panel(client, panel, refresh, out, traced)
                finally:
                    self._done.put(conn)
        finally:
            client.close()

    def refresh(self, out: Outcome, traced: bool = False) -> float:
        t = time.perf_counter()
        for go in self._go:
            go.put((self.refresh_no, out, traced))
        for _ in self._go:
            self._done.get()
        self.refresh_no += 1
        return time.perf_counter() - t

    def preload(self) -> None:
        """The generator's preload: one large synchronous push per kind,
        the three kinds at once on their own connections, so each
        route's first-use JIT overlaps the others' (the writer's store
        lock still serializes the fan-outs)."""
        answers: dict = {}

        def push(kind: str, body: bytes) -> None:
            c = self.served.client()
            t = time.perf_counter()
            try:
                answers[kind] = c.push(kind, body)
            finally:
                c.close()
            log(f"preload {kind} push in {time.perf_counter() - t:.1f} s")

        preload = self.gen.preload()
        pushes = [threading.Thread(target=push, args=(kind, body))
                  for kind, body, _ in preload]
        for th in pushes:
            th.start()
        for th in pushes:
            th.join()
        for kind, _, _ in preload:
            if answers.get(kind, 0) // 100 != 2:
                raise RuntimeError(f"preload {kind} push answered {answers.get(kind)}")

    def warm(self) -> None:
        # the preload is the dashboard's only writing: a traced run
        # traces its write side
        if self.trace:
            self.probe.start_writes()
        self.preload()
        self._workers = [
            threading.Thread(target=self._worker, args=(i,), daemon=True)
            for i in range(len(panels.SCHEDULE))
        ]
        for w in self._workers:
            w.start()
        # one refresh warms every panel: it pays the read path's JIT
        warm = Outcome()
        log(f"warm-up refresh in {self.refresh(warm):.1f} s")
        if warm.failed:
            raise RuntimeError(f"warm-up answers wrong: {warm.errors}")

    def start_tracing(self) -> None:
        if self.trace:
            self.probe.start_reads()

    def run(self, seconds: float) -> Outcome:
        out = Outcome()
        t0 = time.perf_counter()
        self.start_tracing()
        # a traced run alternates traced refreshes: two of each at least
        at_least = 4 if self.trace else self.min_refreshes
        refreshes = 0
        while time.perf_counter() < t0 + seconds or refreshes < at_least:
            self.refresh(out, self.read_cycle(refreshes))
            refreshes += 1
        self.stop_tracing()
        out.extra["elapsed_s"] = time.perf_counter() - t0
        return out

    def close(self) -> None:
        for go in self._go:
            go.put(None)
        for w in self._workers:
            w.join(timeout=60)
        super().close()

    def details(self, out: Outcome) -> dict:
        d = super().details(out)
        d["panel_mean_ms"] = {
            p: _mean(r.seconds for r in out.reads if r.panel == p) * 1e3
            for p in panels.PANELS
        }
        if self.probe is not None:
            d.update(self.probe.compile_split())
        return d


class Live(Workload):
    """Bulk ingest at the reference default ``BULK_MAX_AGE_MS=100``. An
    open-loop pusher sends Loki marker pushes at a fixed rate; three
    closed-loop viewers each poll the tail of the marker stream on their
    own connection. Every flush refreshes the engine, so polls run on
    cold plans and compete with the flushes for the cores. The store
    starts empty: the first flush, in set-up, pays the write path's JIT
    warm-up."""

    name = "live"
    bulk_max_age_ms = 100.0
    readers = 3
    rate = 15.0  # pushes per second
    lines = 5  # lines per push, each carrying the push's marker
    min_reads = 21  # the median needs 20 (stats.min_samples(50))
    drain_s = 60.0

    def __init__(self, *a):
        super().__init__(*a)
        self.seq = 0
        self.acked: dict = {}  # marker -> ack time
        self.newest = -1  # newest marker any tail poll has returned
        self._lock = threading.Lock()

    def tail_path(self, limit: int = 1) -> str:
        q = quote('{app="%s"}' % gen.LIVE_APP)
        return (f"/loki/api/v1/query_range?query={q}&start={gen.LIVE_T0}"
                f"&end={gen.LIVE_T0 + gen.HOUR_NS}&limit={limit}&direction=backward")

    def tail(self, client, out: Outcome | None = None, traced: bool | None = None) -> int:
        """One tail poll: the newest visible marker, or -1."""
        t = time.perf_counter()
        status, body = client.get(self.tail_path(), bool(traced))
        newest = -1
        if status == 200:
            result = json.loads(body)["data"]["result"]
            newest = gen.marker_of(result[0]["values"][0][1]) if result else -1
        if out is not None:
            out.attempt()
            out.reads.append(Read("tail", time.perf_counter() - t, len(body), traced))
            out.extra["polls"].append((t, newest))
            if status != 200:
                out.fail(f"tail: HTTP {status}: {body[:200]!r}")
        with self._lock:
            self.newest = max(self.newest, newest)
        return newest

    def push(self, client) -> tuple[int, int, float]:
        """(marker, HTTP status, ack time) of the next marker push."""
        seq = self.seq
        self.seq += 1
        status = client.push("loki", self.gen.live_push(seq, self.lines))
        ack = time.perf_counter()
        if status // 100 == 2:
            self.acked[seq] = ack
        return seq, status, ack

    def warm(self) -> None:
        """A flush of three marker pushes, polled until visible: it pays
        the write path's JIT warm-up before timing starts."""
        c = self.served.client()
        try:
            for _ in range(3):
                self.push(c)
            t = time.perf_counter()
            while self.tail(c) < max(self.acked):
                if time.perf_counter() > t + self.drain_s:
                    raise RuntimeError("warm-up markers never became visible")
                time.sleep(0.2)
            log(f"warm-up flush visible in {time.perf_counter() - t:.1f} s")
        finally:
            c.close()

    def _pusher(self, t0: float, out: Outcome, stop: threading.Event) -> None:
        c = self.served.client()
        try:
            for i in itertools.count():
                due = t0 + i / self.rate
                if stop.wait(max(0.0, due - time.perf_counter())):
                    break
                sent = time.perf_counter()
                out.attempt()
                seq, status, ack = self.push(c)
                if status // 100 != 2:
                    out.fail(f"push {seq}: HTTP {status}")
                out.extra["pushes"].append((seq, due, sent, ack))
        finally:
            c.close()

    def _reader(self, out: Outcome, stop: threading.Event) -> None:
        c = self.served.client()
        try:
            i = 0
            while not stop.is_set():
                self.tail(c, out, self.read_cycle(i))
                i += 1
        except OSError as ex:
            out.attempt()
            out.fail(f"tail: {ex}")
        finally:
            c.close()

    def run(self, seconds: float) -> Outcome:
        """Timed tail polls while the pusher pushes, for ``seconds`` and
        at least ``min_reads`` polls; then untimed polls until every
        acked marker is visible."""
        out = Outcome(extra={"pushes": [], "polls": []})
        stop_reads, stop_pushes = threading.Event(), threading.Event()
        t0 = time.perf_counter()
        self.start_tracing()
        pusher = threading.Thread(target=self._pusher, args=(t0, out, stop_pushes))
        readers = [threading.Thread(target=self._reader, args=(out, stop_reads))
                   for _ in range(self.readers)]
        pusher.start()
        for th in readers:
            th.start()
        try:
            while ((time.perf_counter() < t0 + seconds or len(out.reads) < self.min_reads)
                   and any(th.is_alive() for th in readers)):
                time.sleep(0.05)
        finally:
            stop_reads.set()
            for th in readers:  # each ends its poll in flight
                th.join()
            out.extra["elapsed_s"] = time.perf_counter() - t0
            stop_pushes.set()
            pusher.join()
        # drain: keep polling until every acked marker is visible
        c = self.served.client()
        try:
            deadline = time.perf_counter() + self.drain_s
            while self.newest < max(self.acked) and time.perf_counter() < deadline:
                self.tail(c, out, None)
        finally:
            c.close()
        self.stop_tracing()
        c = self.served.client()
        try:
            self.final_check(c, out)
        finally:
            c.close()
        out.extra["lags"] = self.lags(out)
        return out

    def final_check(self, client, out: Outcome) -> None:
        """Every acked marker push is stored, all of its lines."""
        status, body = client.get(self.tail_path(self.lines * (self.seq + 10)))
        out.attempt()
        if status != 200:
            out.fail(f"final read: HTTP {status}")
            return
        seen: dict = {}
        for s in json.loads(body)["data"]["result"]:
            for _, line in s["values"]:
                k = gen.marker_of(line)
                seen[k] = seen.get(k, 0) + 1
        for s in self.acked:
            if seen.get(s) != self.lines:
                out.fail(f"acked marker {s} stored {seen.get(s, 0)}/{self.lines} lines")
        bulk = self.served.gw.bulk
        if bulk.errors or bulk.dropped_payloads:
            out.fail(f"bulk flush errors {bulk.errors}, dropped {bulk.dropped_payloads}")

    def lags(self, out: Outcome) -> list:
        """Per acked push: ack → start of the first tail poll showing it.
        A marker no tail poll saw is a failed operation."""
        lags = []
        for seq, _, _, ack in out.extra["pushes"]:
            if seq not in self.acked:
                continue
            seen = min((t for t, newest in out.extra["polls"]
                        if t >= ack and newest >= seq), default=None)
            if seen is None:
                out.fail(f"marker {seq} never seen by a tail poll")
            else:
                lags.append(seen - ack)
        return lags

    def details(self, out: Outcome) -> dict:
        """Push latency, freshness lag and generator lateness: figures
        of the pusher, which the dashboard does not have."""
        pushes = out.extra["pushes"]
        push_lat = [ack - due for _, due, _, ack in pushes]
        late = sorted(sent - due for _, due, sent, _ in pushes)
        lags = out.extra["lags"]
        d = super().details(out)
        d.update({
            "pushes": len(pushes),
            "push_p90_ms": _ms_percentile(push_lat, 90),
            "fresh_lag_p50_ms": _ms_percentile(lags, 50),
            "fresh_lag_p90_ms": _ms_percentile(lags, 90),
            "late_p50_ms": late[len(late) // 2] * 1e3,
            "late_max_ms": late[-1] * 1e3,
        })
        if self.probe is not None:
            d.update(self.probe.bulk_submit())
        return d


WORKLOADS = {w.name: w for w in (Dashboard, Live)}
