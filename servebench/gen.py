"""Seeded wire-payload generator for the served-path benchmark.

Everything the engine receives is produced here from one integer seed:
Loki push JSON, Prometheus remote-write (protobuf + snappy, encoded with
the engine's own ``protowire.pb_encode`` / ``snappy_compress``) and
Zipkin v2 JSON. The same seed gives the same bytes. The generator keeps
the ground truth of what it emitted, so the benchmark can check every
panel answer against expected counts per data-time window.

Data time starts at ``T0`` (2026-01-01T00:00:00Z) and is independent of
the wall clock, so a run never depends on when it happens.
"""

from __future__ import annotations

import bisect
import json
import random
import struct
from dataclasses import dataclass, field

from gigapipe_spark.sources.protowire import pb_encode, snappy_compress

NS = 1_000_000_000
MIN_NS = 60 * NS
HOUR_NS = 3600 * NS
T0 = 1_767_225_600 * NS  # 2026-01-01T00:00:00Z
PRELOAD_NS = 6 * HOUR_NS  # the preloaded store covers [T0, T0 + 6h)
LIVE_T0 = T0 + 12 * HOUR_NS  # data time of the live workload's markers

APPS = [f"svc{i}" for i in range(8)]
SERVICES = [f"svc{i}" for i in range(5)]
JOBS = [f"job{i}" for i in range(5)]
LIVE_APP = "live"
METRIC = "http_requests_total"

_PATHS = ["/api/items", "/api/cart", "/api/users", "/login", "/search", "/checkout"]
_METHODS = ["GET", "POST", "PUT"]
_OK_LEVELS = ["info", "debug", "warn"]
_OK_STATUS = [200, 201, 204, 301, 404]
_5XX = [500, 502, 503]
_SPAN_NAMES = ["GET /api", "db.query", "cache.get", "render", "auth"]


# preload sizes
STREAMS = 48
LINES = 6_000
SERIES = 30
SCRAPE_S = 120  # remote-write sample interval
TRACES = 120
ERROR_RATE = 0.1
STATUS5XX_RATE = 0.08
# svc3's JSON streams are the hot ones: they carry HOT_SHARE of all lines
# and a high 5xx rate, so the ``logs_json`` panel's 1 h window holds well
# over its limit of 100 matching lines (about 180 on average)
HOT_APP = "svc3"
HOT_SHARE = 0.3
HOT_5XX_RATE = 0.6


@dataclass
class Line:
    ts: int
    stream: int
    error: bool
    status5xx: bool
    text: str


@dataclass
class Truth:
    """What was generated, indexed for window counts."""

    stream_labels: list[dict] = field(default_factory=list)
    lines: list[Line] = field(default_factory=list)  # sorted by ts
    series_labels: list[dict] = field(default_factory=list)
    series_inc: list[int] = field(default_factory=list)
    scrape_ts: list[int] = field(default_factory=list)
    spans: list[dict] = field(default_factory=list)  # {ts, trace, service, error}

    def _line_range(self, start_ns: int, end_ns: int) -> list[Line]:
        keys = [ln.ts for ln in self.lines]
        lo = bisect.bisect_left(keys, start_ns)
        hi = bisect.bisect_left(keys, end_ns)
        return self.lines[lo:hi]

    def _matching(self, start_ns: int, end_ns: int, match: dict):
        """Lines in [start, end) whose stream labels equal ``match``;
        the keys ``error`` and ``status5xx`` test the line instead."""
        flags = {k: match.pop(k) for k in ("error", "status5xx") if k in match}
        for ln in self._line_range(start_ns, end_ns):
            lab = self.stream_labels[ln.stream]
            if all(lab.get(k) == v for k, v in match.items()) and all(
                getattr(ln, k) == v for k, v in flags.items()
            ):
                yield ln, lab

    def count_lines(self, start_ns: int, end_ns: int, **match) -> int:
        return sum(1 for _ in self._matching(start_ns, end_ns, match))

    def newest_ts(self, start_ns: int, end_ns: int, limit: int, **match) -> list[int]:
        """Timestamps of the newest ``limit`` matching lines, newest first."""
        ts = [ln.ts for ln, _ in self._matching(start_ns, end_ns, match)]
        return ts[::-1][:limit]

    def lines_by(self, start_ns: int, end_ns: int, key: str, **match) -> dict:
        """Matching line counts in [start, end) grouped by stream label ``key``."""
        out: dict = {}
        for _, lab in self._matching(start_ns, end_ns, match):
            out[lab[key]] = out.get(lab[key], 0) + 1
        return out

    def error_traces(self, start_ns: int, end_ns: int, service: str) -> set:
        """Trace ids with an error span of ``service`` starting in [start, end)."""
        return {
            s["trace"]
            for s in self.spans
            if s["error"] and s["service"] == service and start_ns <= s["ts"] < end_ns
        }

    def job_inc(self) -> dict:
        """Sum of per-scrape counter increments per job."""
        out: dict = {}
        for lab, inc in zip(self.series_labels, self.series_inc):
            out[lab["job"]] = out.get(lab["job"], 0) + inc
        return out

    def top_series(self, k: int) -> list[str]:
        """Instances of the k fastest-growing counters, fastest first."""
        order = sorted(range(len(self.series_inc)), key=lambda j: -self.series_inc[j])
        return [self.series_labels[j]["instance"] for j in order[:k]]


def _json_bytes(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":")).encode()


class Generator:
    """All payloads for one seed. Building it draws the preload data;
    the live pushes are pure functions of (seed, marker)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.truth = Truth()
        rng = random.Random(seed)
        self._streams(rng)
        self._lines(rng)
        self._series(rng)
        self._spans(rng)

    # ------------------------------------------------------------ model
    def _streams(self, rng: random.Random) -> None:
        for i in range(STREAMS):
            env = ("prod", "dev")[i % 2]
            app = APPS[(i // 2) % len(APPS)]
            if env == "dev":
                fmt = "logfmt"
            else:  # prod: odd-numbered apps log JSON, the rest plain text
                fmt = "json" if (i // 2) % 2 == 1 else "plain"
            self.truth.stream_labels.append(
                {"app": app, "env": env, "instance": f"i{i}", "fmt": fmt}
            )

    def _line_text(self, rng: random.Random, fmt: str, error: bool, s5xx: bool) -> str:
        status = rng.choice(_5XX) if s5xx else rng.choice(_OK_STATUS)
        level = "error" if error else rng.choice(_OK_LEVELS)
        method, path = rng.choice(_METHODS), rng.choice(_PATHS)
        lat = rng.randint(1, 900)
        req = f"r{rng.randrange(16**6):06x}"
        if fmt == "json":
            return json.dumps(
                {"level": level, "status": status, "msg": f"{method} {path}",
                 "latency_ms": lat, "req": req},
                separators=(",", ":"),
            )
        if fmt == "logfmt":
            return (
                f'level={level} status={status} msg="{method} {path}" '
                f"latency_ms={lat} req={req}"
            )
        head = "error: upstream failed " if error else ""
        return f"{head}{method} {path} {status} {lat}ms {req}"

    def _draw_line(self, rng: random.Random, ts: int, stream: int) -> Line:
        lab = self.truth.stream_labels[stream]
        hot = lab["app"] == HOT_APP and lab["fmt"] == "json"
        error = rng.random() < ERROR_RATE
        s5xx = rng.random() < (HOT_5XX_RATE if hot else STATUS5XX_RATE)
        text = self._line_text(rng, lab["fmt"], error, s5xx)
        return Line(ts, stream, error, s5xx, text)

    def _lines(self, rng: random.Random) -> None:
        labels = self.truth.stream_labels
        hot = [i for i, lab in enumerate(labels)
               if lab["app"] == HOT_APP and lab["fmt"] == "json"]
        cold = [i for i in range(len(labels)) if i not in hot]
        # distinct millisecond timestamps: no two lines of the store tie
        ms = sorted(rng.sample(range(PRELOAD_NS // 1_000_000), LINES))
        self.truth.lines = [
            self._draw_line(rng, T0 + m * 1_000_000,
                            rng.choice(hot if rng.random() < HOT_SHARE else cold))
            for m in ms
        ]

    def _series(self, rng: random.Random) -> None:
        # distinct increments: the topk ranking has no ties
        self.truth.series_inc = rng.sample(range(1, 1000), SERIES)
        self.truth.series_labels = [
            {"__name__": METRIC, "job": JOBS[j % len(JOBS)], "instance": f"h{j}"}
            for j in range(SERIES)
        ]
        step = SCRAPE_S * NS
        self.truth.scrape_ts = list(range(T0, T0 + PRELOAD_NS, step))

    def _spans(self, rng: random.Random) -> None:
        for _ in range(TRACES):
            trace = f"{rng.getrandbits(128):032x}"
            root_ts = T0 + rng.randrange(PRELOAD_NS // 1000) * 1000
            for k in range(rng.randint(2, 8)):
                self.truth.spans.append({
                    "trace": trace,
                    "id": f"{rng.getrandbits(64):016x}",
                    "parent": None if k == 0 else "root",
                    "ts": root_ts + k * 1_000_000,
                    "dur_us": rng.randint(100, 50_000),
                    "service": rng.choice(SERVICES),
                    "name": rng.choice(_SPAN_NAMES),
                    "error": rng.random() < ERROR_RATE,
                })
        self.truth.spans.sort(key=lambda s: (s["trace"], s["ts"]))
        roots: dict = {}
        for s in self.truth.spans:
            if s["parent"] is None:
                roots[s["trace"]] = s["id"]
            else:
                s["parent"] = roots[s["trace"]]

    # ------------------------------------------------------------ wire
    def loki_body(self, lines: list[Line], labels: list[dict]) -> bytes:
        streams: dict[int, list] = {}
        for ln in lines:
            streams.setdefault(ln.stream, []).append([str(ln.ts), ln.text])
        return _json_bytes({"streams": [
            {"stream": labels[s], "values": vals} for s, vals in streams.items()
        ]})

    @staticmethod
    def remote_write_body(series: list[tuple[dict, list[tuple[int, float]]]]) -> bytes:
        """[(labels, [(ts_ns, value)])] → snappy-framed WriteRequest."""
        def label(k: str, v: str) -> bytes:
            return pb_encode([(1, 2, k.encode()), (2, 2, v.encode())])

        out = []
        for labels, points in series:
            fields = [(1, 2, label(k, v)) for k, v in sorted(labels.items())]
            fields += [
                (2, 2, pb_encode([(1, 1, struct.pack("<d", v)), (2, 0, ts // 1_000_000)]))
                for ts, v in points
            ]
            out.append((1, 2, pb_encode(fields)))
        return snappy_compress(pb_encode(out))

    @staticmethod
    def zipkin_body(spans: list[dict]) -> bytes:
        out = []
        for s in spans:
            z = {
                "traceId": s["trace"], "id": s["id"], "name": s["name"],
                "timestamp": s["ts"] // 1000, "duration": s["dur_us"],
                "localEndpoint": {"serviceName": s["service"]},
                "tags": {"otel.status_code": "ERROR" if s["error"] else "OK"},
            }
            if s["parent"]:
                z["parentId"] = s["parent"]
            out.append(z)
        return _json_bytes(out)

    def preload(self) -> list[tuple[str, bytes, int]]:
        """The preload as (route kind, body, rows): one large push per kind."""
        t = self.truth
        series = [
            (lab, [(ts, float(inc * (k + 1))) for k, ts in enumerate(t.scrape_ts)])
            for lab, inc in zip(t.series_labels, t.series_inc)
        ]
        return [
            ("loki", self.loki_body(t.lines, t.stream_labels), len(t.lines)),
            ("rw", self.remote_write_body(series), len(t.scrape_ts) * len(series)),
            ("zipkin", self.zipkin_body(t.spans), len(t.spans)),
        ]

    # ------------------------------------------------------- live stream
    def live_push(self, seq: int, lines: int = 5) -> bytes:
        """Loki push ``seq`` to the marker app: ``lines`` lines, each
        carrying ``seq=<seq>``, in data time that grows with ``seq``."""
        base = LIVE_T0 + seq * 10_000_000
        token = f"{random.Random(self.seed * 1_000_003 - seq).getrandbits(32):08x}"
        vals = [
            [str(base + k), f"tick seq={seq} part={k} id={token}"] for k in range(lines)
        ]
        return _json_bytes({"streams": [
            {"stream": {"app": LIVE_APP, "env": "bench"}, "values": vals}
        ]})


def marker_of(line: str) -> int:
    """The sequence number a live line carries."""
    return int(line.split("seq=", 1)[1].split(" ", 1)[0])
