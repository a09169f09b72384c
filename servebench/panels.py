"""The seven dashboard panels: request paths and answer checks.

Each check compares a panel's HTTP answer with the generator's ground
truth for the panel's data-time window and returns an error string, or
None when the answer is right. Checks read only the returned data, never
the (currently ignored) Loki ``step`` parameter.
"""

from __future__ import annotations

import json
import math
from urllib.parse import quote

from gen import HOUR_NS, JOBS, NS, Truth

QUERIES = {
    "prom_instant": "topk(3, rate(http_requests_total[5m]))",
    "prom_rate": "sum by (job) (rate(http_requests_total[5m]))",
    "logs_json": '{app="svc3"} | json | status >= 500',
    "logs_logfmt": 'sum by (level) (count_over_time({env="dev"} | logfmt [5m]))',
    "logs_rate": 'sum by (app) (rate({env="prod"} |= "error" [1m]))',
    "traces_search": '{ status = error && resource.service.name = "svc1" }',
    "labels": None,
}
PANELS = list(QUERIES)
# which connection fires which panels, in order: a fixed schedule keeps
# every refresh's concurrency the same; the slowest panels go first on
# their own connections so the three finish close together
SCHEDULE = (
    ("prom_instant", "labels"),
    ("prom_rate", "traces_search"),
    ("logs_json", "logs_logfmt", "logs_rate"),
)
JSON_LIMIT = 100
TRACE_LIMIT = 100
WINDOW_NS = HOUR_NS
SLIDE_NS = 5 * 60 * NS  # the "last 1h" window moves 5 min per refresh
SLIDE_SPAN_NS = 5 * HOUR_NS  # ... and wraps inside the 6 h preload


def window(refresh: int, t0: int) -> tuple[int, int]:
    """[start, end) of the "last 1h" window for refresh number ``refresh``."""
    end = t0 + WINDOW_NS + (refresh * SLIDE_NS) % SLIDE_SPAN_NS
    return end - WINDOW_NS, end


def path(panel: str, start: int, end: int) -> str:
    q = quote(QUERIES[panel] or "")
    if panel in ("logs_rate", "logs_logfmt"):
        return f"/loki/api/v1/query_range?query={q}&start={start}&end={end}"
    if panel == "logs_json":
        return (f"/loki/api/v1/query_range?query={q}&start={start}&end={end}"
                f"&limit={JSON_LIMIT}&direction=backward")
    if panel == "prom_rate":
        return f"/api/v1/query_range?query={q}&start={start // NS}&end={end // NS}"
    if panel == "prom_instant":
        return f"/api/v1/query?query={q}&time={end // NS}"
    if panel == "traces_search":
        return f"/api/search?q={q}&start={start}&end={end}&limit={TRACE_LIMIT}"
    return "/loki/api/v1/labels"


def _sum_by(result: list, key: str, scale: float = 1.0) -> dict:
    return {
        r["metric"].get(key): round(sum(float(v[1]) for v in r["values"]) * scale)
        for r in result
    }


def check(panel: str, body: bytes, truth: Truth, start: int, end: int,
          label_names: set) -> str | None:
    doc = json.loads(body)
    if panel == "logs_rate":
        # rate over 1m buckets: value * 60 s is the bucket's line count
        got = _sum_by(doc["data"]["result"], "app", 60.0)
        want = truth.lines_by(start, end, "app", env="prod", error=True)
        return None if got == want else f"error lines by app {got} != {want}"
    if panel == "logs_json":
        # limit 100, backward: exactly the newest 100 matching lines
        got = sorted((int(v[0]) for s in doc["data"]["result"] for v in s["values"]),
                     reverse=True)
        want = truth.newest_ts(start, end, JSON_LIMIT, app="svc3", fmt="json",
                               status5xx=True)
        bad = [s["stream"].get("status") for s in doc["data"]["result"]
               if int(s["stream"].get("status", 0)) < 500]
        if bad:
            return f"status<500 streams returned: {bad[:3]}"
        if got != want:
            return f"{len(got)} lines, not the newest {len(want)} matching ones"
        return None
    if panel == "logs_logfmt":
        got = _sum_by(doc["data"]["result"], "level")
        total = truth.count_lines(start, end, env="dev")
        errors = truth.count_lines(start, end, env="dev", error=True)
        if sum(got.values()) != total or got.get("error", 0) != errors:
            return f"dev lines by level {got} != total {total}, errors {errors}"
        return None
    if panel == "prom_rate":
        # every series shares its scrape times, so rate extrapolation
        # scales all jobs alike: rate / per-scrape increment is one
        # constant across jobs at each step
        inc = truth.job_inc()
        result = doc["data"]["result"]
        if sorted(r["metric"].get("job") for r in result) != sorted(JOBS):
            return f"jobs {[r['metric'] for r in result]}"
        ratios: dict = {}
        for r in result:
            for ts, v in r["values"]:
                ratios.setdefault(ts, []).append(float(v) / inc[r["metric"]["job"]])
        if not ratios:
            return "no points"
        for ts, rs in ratios.items():
            if len(rs) != len(JOBS) or not all(
                x > 0 and math.isclose(x, rs[0], rel_tol=1e-9) for x in rs
            ):
                return f"rate/increment differs across jobs at {ts}: {rs}"
        return None
    if panel == "prom_instant":
        result = sorted(doc["data"]["result"], key=lambda r: -float(r["value"][1]))
        got = [r["metric"].get("instance") for r in result]
        want = truth.top_series(3)
        return None if got == want else f"topk {got} != {want}"
    if panel == "traces_search":
        got = {t["trace_id"] for t in doc["traces"]}
        want = truth.error_traces(start, end, "svc1")
        return None if got == want else f"{len(got)} traces != {len(want)} expected"
    got = set(doc["data"])
    return None if got == label_names else f"labels {sorted(got)} != {sorted(label_names)}"
