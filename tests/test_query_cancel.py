"""Per-request query deadline + client-disconnect cancellation.

The reference bounds every query evaluation at 30s (reader/router/
prometheus_query_range.go:32 engine Timeout) and cancels in-flight DB
work when the client's ctx dies (shared/types.go PlannerContext). These
tests prove the Spark analog end to end over a real socket: a
deliberately slow query (a) times out with the Prometheus-style 503
``errorType: timeout`` envelope and leaves NO straggler jobs, and (b)
is cancelled when the client disconnects mid-flight.
"""

import json
import socket
import time
import urllib.error
import urllib.request

import pytest


class _SlowEngine:
    """Minimal engine: loki_query_range returns a DataFrame whose tasks
    sleep long enough that only cancellation can end the job early."""

    def __init__(self, spark, task_sleep_s: float = 20.0):
        self.spark = spark
        self.task_sleep_s = task_sleep_s

    def served(self, key, build):
        return build().collect()

    def served_blocks(self, key, start_ns, end_ns, build):
        return build(start_ns, end_ns).collect()

    def loki_query_range(self, query, start, end, limit, direction):
        import pyspark.sql.functions as F

        delay = self.task_sleep_s

        @F.udf("long")
        def slow(x):
            import time as _t

            _t.sleep(delay)
            return x

        # 64 tasks on local[32]: two waves, ~2*delay uncancelled
        return (
            self.spark.range(64)
            .repartition(64)
            .select(
                F.lit(0).cast("long").alias("timestamp_ns"),
                slow("id").cast("double").alias("value"),
            )
        )

    def prom_query_range(self, query, start, end, step):
        # the deadline is scoped to PromQL evaluation (ADVICE r10 —
        # prometheus_query_range.go:32); the timeout test drives this
        return self.loki_query_range(query, start, end, None, "forward")

    def loki_labels(self, match=None):
        import pyspark.sql.functions as F

        delay = self.task_sleep_s

        @F.udf("string")
        def slow_key(x):
            import time as _t

            _t.sleep(delay)
            return "app"

        # one wave of 32: ~delay seconds uncancelled
        return (
            self.spark.range(32).repartition(32).select(
                slow_key("id").alias("key")
            )
        )


def _group_jobs_done(spark, group_id, timeout_s=15.0) -> bool:
    """True when every job in the group left RUNNING state (cancelled
    or failed) within timeout — the no-straggler-stages proof."""
    tracker = spark.sparkContext.statusTracker()
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        ids = tracker.getJobIdsForGroup(group_id)
        infos = [tracker.getJobInfo(i) for i in ids]
        if ids and all(
            i is not None and i.status != "RUNNING" for i in infos
        ):
            return True
        time.sleep(0.25)
    return False


def _no_running_jobs_for_groups(spark, prefix="req-", timeout_s=15.0):
    """Poll until no ACTIVE job belongs to a request group."""
    tracker = spark.sparkContext.statusTracker()
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        active = tracker.getActiveJobsIds()
        req_running = []
        for i in active:
            info = tracker.getJobInfo(i)
            if info is not None and info.status == "RUNNING":
                req_running.append(i)
        if not req_running:
            return True
        time.sleep(0.25)
    return False


@pytest.fixture()
def slow_gateway(spark):
    from gigapipe_spark.httpd import HttpGateway

    eng = _SlowEngine(spark)
    gw = HttpGateway(eng, query_timeout_s=1.5)
    port = gw.start()
    yield f"http://127.0.0.1:{port}", port, eng
    gw.stop()


def test_timeout_returns_reference_error_envelope(spark, slow_gateway):
    # the deadline applies to the PromQL engine routes, the exact scope
    # the reference gives its 30s Timeout (prometheus_query_range.go:32)
    base, _, _ = slow_gateway
    t0 = time.monotonic()
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(
            base + "/api/v1/query_range?query=up&start=0&end=1000&step=1",
            timeout=60,
        )
    elapsed = time.monotonic() - t0
    assert exc.value.code == 503
    body = json.loads(exc.value.read())
    assert body["status"] == "error"
    assert body["errorType"] == "timeout"
    assert "timed out" in body["error"]
    # uncancelled the job runs ~40s (64 tasks x 20s over 32 threads);
    # the 1.5s deadline + cancel must answer well before the first wave
    # of sleeps finishes on its own
    assert elapsed < 15, f"timeout reply took {elapsed:.1f}s"
    # no straggler stages: the cancelled group's jobs all left RUNNING
    assert _no_running_jobs_for_groups(spark), "straggler jobs survived"


def test_client_disconnect_cancels_job_group(spark, slow_gateway):
    base, port, _ = slow_gateway
    # long deadline for this request: prove DISCONNECT does the cancel
    # (fixture deadline is 1.5s — use a raw socket + early close, and
    # confirm cancellation happened FASTER than the uncancelled runtime)
    s = socket.create_connection(("127.0.0.1", port))
    s.sendall(
        b"GET /loki/api/v1/query_range?query=%7Bapp%3D%22x%22%7D"
        b"&start=0&end=1000000000 HTTP/1.1\r\n"
        b"Host: 127.0.0.1\r\nConnection: keep-alive\r\n\r\n"
    )
    time.sleep(0.6)  # let the job start
    s.close()  # client gives up
    # all request-group jobs must leave RUNNING within the poll budget —
    # far sooner than the ~40s the query would take uncancelled
    assert _no_running_jobs_for_groups(
        spark
    ), "job survived client disconnect"


def test_guard_no_deadline_no_sock_is_passthrough(spark):
    from gigapipe_spark.cancel import RequestGuard

    g = RequestGuard(spark, timeout_s=None, sock=None, desc="embedded")
    with g:
        n = spark.range(10).count()
    assert n == 10 and g.reason is None


def test_guard_timeout_fires_and_reports_reason(spark):
    import pyspark.sql.functions as F

    from gigapipe_spark.cancel import RequestGuard

    @F.udf("long")
    def slow(x):
        import time as _t

        _t.sleep(10)
        return x

    g = RequestGuard(spark, timeout_s=1.0, desc="unit")
    t0 = time.monotonic()
    with pytest.raises(Exception):
        with g:
            spark.range(32).repartition(32).select(slow("id")).collect()
    assert g.reason == "timeout"
    assert time.monotonic() - t0 < 10
    assert _group_jobs_done(spark, g.group_id)


@pytest.mark.slow
def test_non_promql_routes_not_deadline_bounded(spark):
    """ADVICE r10: the reference scopes its 30s Timeout to the PromQL
    engine only (prometheus_query_range.go:32) — LogQL/Tempo/Pyroscope
    routes are bounded by client-disconnect cancellation alone. A LogQL
    request slower than the configured deadline must COMPLETE with 200,
    not 503."""
    from gigapipe_spark.httpd import HttpGateway

    eng = _SlowEngine(spark, task_sleep_s=3.0)
    gw = HttpGateway(eng, query_timeout_s=1.5)
    port = gw.start()
    try:
        resp = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/loki/api/v1/labels", timeout=60
        )
        assert resp.status == 200
        body = json.loads(resp.read())
        assert body["status"] == "success" and set(body["data"]) == {"app"}
    finally:
        gw.stop()
