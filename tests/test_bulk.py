"""Bulk ingest buffer (bulk.py) — the reference writer's BULK_MAX_AGE_MS
batching: push routes ack on enqueue, a flusher coalesces each window
into one decode + one journaled fan-out per (kind, params) group."""

import json
import os
import time
import urllib.request

import pytest

T0 = 1_700_000_000_000_000_000


@pytest.fixture()
def bulk_gateway(spark, tmp_path):
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng, bulk_max_age_ms=150.0)
    port = gw.start()
    yield gw, f"http://127.0.0.1:{port}", cat
    gw.stop()


def _post(base, path, body: bytes, ctype="application/json"):
    req = urllib.request.Request(
        base + path, data=body, method="POST",
        headers={"Content-Type": ctype},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status


def _loki(i):
    return json.dumps(
        {"streams": [{"stream": {"app": f"a{i % 3}"},
                      "values": [[str(T0 + i), f"line {i}"]]}]}
    ).encode()


def test_bulk_coalesces_pushes_into_one_fanout(spark, bulk_gateway):
    """N pushes inside one age window land as ONE journaled batch (one
    parquet file per partition), and every row is queryable after the
    flush."""
    gw, base, cat = bulk_gateway
    n = 12
    t0 = time.monotonic()
    for i in range(n):
        assert _post(base, "/loki/api/v1/push", _loki(i)) == 204
    enqueue_s = time.monotonic() - t0
    # acks are enqueue-speed (no Spark job in the request path)
    assert enqueue_s < 5.0
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if gw.bulk.flushes >= 1 and not gw.bulk._buf:
            break
        time.sleep(0.1)
    assert gw.bulk.errors == 0
    assert cat.read(spark, "samples").count() == n
    part = os.path.join(cat.path("samples"), "oid=0", "date=2023-11-14")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    # 12 pushes fell into at most a couple of flush windows — far fewer
    # fan-outs than pushes (each fan-out writes one file per partition)
    assert len(files) <= 3, files


def test_bulk_groups_by_params_and_kind(spark, bulk_gateway):
    """Different route kinds and different elastic targets flush as
    separate groups but within the same cycles; rows end up correctly
    attributed."""
    gw, base, cat = bulk_gateway
    doc = json.dumps({"index": {}}) + "\n" + json.dumps(
        {"@timestamp": "2023-11-14T22:13:20Z", "message": "hello"}
    ) + "\n"
    assert _post(base, "/es1/_bulk", doc.encode(), "application/x-ndjson") == 200
    assert _post(base, "/es2/_bulk", doc.encode(), "application/x-ndjson") == 200
    assert _post(base, "/loki/api/v1/push", _loki(0)) == 204
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not gw.bulk._buf and gw.bulk.flushes >= 1:
            break
        time.sleep(0.1)
    assert gw.bulk.errors == 0
    series = cat.read_series(spark)
    import pyspark.sql.functions as F

    targets = {
        r[0]
        for r in series.select(F.col("labels")["_index"]).collect()
        if r[0] is not None
    }
    assert targets == {"es1", "es2"}  # params kept the groups apart
    assert cat.read(spark, "samples").count() == 3


def test_bulk_stop_drains_pending(spark, tmp_path):
    """Gateway stop() flushes acked-but-unflushed pushes before exit —
    a graceful shutdown loses nothing."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng, bulk_max_age_ms=60_000.0)  # window >> test
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    for i in range(3):
        assert _post(base, "/loki/api/v1/push", _loki(i)) == 204
    gw.stop()  # drain happens here, not on a timer
    assert cat.read(spark, "samples").count() == 3


def test_bulk_bad_group_does_not_poison_others(spark, bulk_gateway):
    """A whole-group decode failure is counted and logged; the other
    groups in the same cycle still flush."""
    gw, base, cat = bulk_gateway
    # remote-write with garbage bytes: the snappy/proto decode of the
    # GROUP raises; loki in the same window must still land
    assert _post(base, "/api/prom/push", b"\x00garbage",
                 "application/x-protobuf") == 204
    assert _post(base, "/loki/api/v1/push", _loki(1)) == 204
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not gw.bulk._buf and gw.bulk.flushes >= 1:
            break
        time.sleep(0.1)
    assert cat.read(spark, "samples").count() >= 1


def test_async_insert_false_forces_sync(spark, bulk_gateway):
    """X-Async-Insert: false routes one request through the synchronous
    fan-out even with bulk configured (middleware.go getAsyncMode
    INSERT_MODE_SYNC) — the row is queryable the moment the ack lands."""
    gw, base, cat = bulk_gateway
    req = urllib.request.Request(
        base + "/loki/api/v1/push", data=_loki(7), method="POST",
        headers={"X-Async-Insert": "false"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        assert r.status == 204
    # no flush wait: the synchronous path already wrote it
    assert cat.read(spark, "samples").count() == 1


def test_metrics_exposes_bulk_counters(bulk_gateway):
    """/metrics grows the bulk flush/error/queue series when bulk is
    configured — observability for the new async window."""
    gw, base, cat = bulk_gateway
    with urllib.request.urlopen(base + "/metrics", timeout=60) as r:
        text = r.read().decode()
    assert "bulk_flush_cycles_total" in text
    assert "bulk_queue_bytes" in text
    assert "bulk_dropped_payloads_total" in text
    assert "bulk_rejected_total" in text


def _wait_flushed(gw, timeout=60):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not gw.bulk._buf and gw.bulk.flushes >= 1:
            return
        time.sleep(0.1)
    raise AssertionError("bulk never flushed")


def test_bulk_overflow_503(spark, tmp_path):
    """Backpressure: past the hard cap (OVERFLOW_FACTOR × max_size) the
    route sheds load with 503 instead of growing the heap — a burst
    faster than flush throughput must not OOM the gateway."""
    import urllib.error

    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path / "store")
    eng = StoreEngine(spark, root, catalog=Catalog(root))
    gw = HttpGateway(eng, bulk_max_age_ms=60_000.0,
                     bulk_max_size_bytes=1024)
    gw.bulk.flush_now = lambda: None  # simulate a stalled/slow flush
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        body = _loki(0)
        cap = gw.bulk.max_size * gw.bulk.OVERFLOW_FACTOR
        got_503 = False
        for _ in range(cap // len(body) + 2):
            try:
                _post(base, "/loki/api/v1/push", body)
            except urllib.error.HTTPError as ex:
                assert ex.code == 503
                got_503 = True
                break
        assert got_503
        assert gw.bulk.rejected >= 1
        # reject triggers on PENDING size alone (so a single payload
        # larger than the cap can still be admitted against an empty
        # buffer); overshoot is bounded by cap + one body
        assert gw.bulk._size <= cap + len(body)
    finally:
        gw.bulk._stop.set()
        gw.bulk._wake.set()
        gw._httpd.shutdown() if hasattr(gw, "_httpd") else None


def test_bulk_oversize_single_payload_admitted():
    """A single payload larger than max_size×OVERFLOW_FACTOR must be
    ADMITTED against an empty buffer — the gzip path accepts bodies up
    to 100 MiB, so rejecting on pending+payload would 503 a legitimate
    large push forever. Rejection triggers on pending size alone."""
    from gigapipe_spark.bulk import BulkOverflow, BulkWriter

    class _NullEngine:
        pass

    bw = BulkWriter(_NullEngine(), max_age_ms=60_000.0,
                    max_size_bytes=1024)
    bw.flush_now = lambda: None  # stalled flusher
    try:
        big = b"x" * (bw.max_size * bw.OVERFLOW_FACTOR + 1)
        bw.submit("loki", big)  # must NOT raise
        assert bw._size == len(big)
        # buffer now holds >= the hard cap: the next push sheds
        import pytest as _pytest

        with _pytest.raises(BulkOverflow):
            bw.submit("loki", b"y")
        assert bw.rejected == 1
    finally:
        bw._stop.set()
        bw._wake.set()


def test_bulk_malformed_payload_400(spark, bulk_gateway):
    """Reference-parity decode-before-ack: a syntactically broken body
    400s in the request path and is NEVER enqueued (the reference runs
    unmarshal before the ack, writer/utils/unmarshal/unmarshal.go:36)."""
    import urllib.error

    gw, base, cat = bulk_gateway
    for path, body, ctype in [
        ("/loki/api/v1/push", b"{not json", "application/json"),
        ("/v1/logs", b"[1,2,3]", "application/json"),  # wrong JSON shape
        ("/es1/_bulk", b'{"ok":1}\nnot-json\n', "application/x-ndjson"),
        ("/influx/write", b"no_equals_or_space", "text/plain"),
        ("/v1/traces", b"\x07\x08garbage-pb", "application/x-protobuf"),
    ]:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(base, path, body, ctype)
        assert ei.value.code == 400, path
    assert not gw.bulk._buf  # nothing was enqueued
    assert gw.bulk._size == 0


def test_bulk_poison_payload_isolated(spark, bulk_gateway):
    """One poison payload in a group must not drop its co-batched
    neighbors' acked data: the flush bisects down to the single failing
    payload and lands the rest."""
    gw, base, cat = bulk_gateway
    bw = gw.bulk
    orig = bw._flush_group

    def flaky(kind, params, payloads):
        if any(b"POISON" in p for p in payloads):
            raise RuntimeError("poisoned payload")
        return orig(kind, params, payloads)

    bw._flush_group = flaky
    # 4 good + 1 poison in ONE group (ack order precedes the window)
    for i in range(4):
        bw.submit("loki_json", _loki(i))
    bw.submit("loki_json", b'{"POISON": true}')
    bw._wake.set()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if bw.dropped_payloads >= 1 and not bw._buf:
            break
        time.sleep(0.1)
    assert bw.dropped_payloads == 1
    assert cat.read(spark, "samples").count() == 4  # good ones landed


def test_bulk_cf_and_elastic_doc_routes(spark, bulk_gateway):
    """The round-12 kinds: Datadog CF and elastic _doc go through the
    buffer (enqueue-speed ack) and land via the flusher."""
    gw, base, cat = bulk_gateway
    assert _post(base, "/cf/v1/insert?ddsource=cfsrc",
                 b"line one\nline two\n", "text/plain") == 202
    # CRLF line ends split like LF ones: no trailing \r is stored
    assert _post(base, "/cf/v1/insert?ddsource=cfsrc",
                 b"line one\r\nline two\r\n", "text/plain") == 202
    doc = json.dumps({"message": "doc body"})
    assert _post(base, "/myidx/_doc/42", doc.encode()) == 200
    _wait_flushed(gw)
    assert gw.bulk.errors == 0
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if cat.read(spark, "samples").count() >= 5:
            break
        time.sleep(0.2)
    samples = cat.read(spark, "samples")
    assert samples.count() == 5  # 2 × 2 cf lines + 1 doc
    stored = {r["string"] for r in samples.select("string").collect()}
    assert stored == {"line one", "line two", doc}


def test_bulk_pyroscope_ingest_coalesces(spark, bulk_gateway):
    """N pyroscope /ingest pushes with DIFFERENT names/windows coalesce
    into one group (metadata rides with the payload; the group is keyed
    only by sampleType/sampleUnit) and each profile stays queryable."""
    import urllib.parse

    from tests.test_httpd import _pprof_gz_body

    gw, base, cat = bulk_gateway
    body = _pprof_gz_body()
    for i in range(3):
        name = urllib.parse.quote(f"bulkapp{i}{{env=bulk{i}}}")
        st = _post(
            base,
            f"/ingest?name={name}&from={1700000000 + i}&until={1700000010 + i}",
            body, "binary/octet-stream",
        )
        assert st == 200
    _wait_flushed(gw)
    assert gw.bulk.errors == 0
    profs = cat.read(spark, "profiles")
    assert profs.count() == 3
    svcs = {r["service_name"] for r in
            profs.select("service_name").collect()}
    assert svcs == {"bulkapp0", "bulkapp1", "bulkapp2"}


def test_bulk_pyroscope_malformed_400(spark, bulk_gateway):
    """A non-gzip, non-protobuf body on /ingest 400s before the ack."""
    import urllib.error
    import urllib.parse

    gw, base, cat = bulk_gateway
    name = urllib.parse.quote("badapp{}")
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base,
              f"/ingest?name={name}&from=1700000000&until=1700000010",
              b"\x07\x08not-a-pprof", "binary/octet-stream")
    assert ei.value.code == 400
    assert not gw.bulk._buf


def test_bulk_otlp_profiles_route(spark, bulk_gateway):
    """OTLP profiles push lands through the buffer; JSON still 415s in
    the request path."""
    import urllib.error

    from tests.test_protowire import _otlp_profile_body

    gw, base, cat = bulk_gateway
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(base, "/v1development/profiles", b"{}", "application/json")
    assert ei.value.code == 415
    assert _post(base, "/v1development/profiles", _otlp_profile_body(),
                 "application/x-protobuf") == 200
    _wait_flushed(gw)
    assert gw.bulk.errors == 0
    assert cat.read(spark, "profiles").count() >= 1


def test_timestampless_logs_stamp_receive_time(spark, bulk_gateway):
    """Log records with no timestamp must land at RECEIVE time like the
    reference (wall clock), not epoch 0 — epoch-0 rows are invisible to
    recent-window queries and rotate out instantly. Covers the bulk
    path; the sync path shares the same now_ns threading."""
    gw, base, cat = bulk_gateway
    t0 = time.time_ns()
    otlp = json.dumps({"resourceLogs": [{"scopeLogs": [{"logRecords": [
        {"body": {"stringValue": "no ts otlp"}}]}]}]}).encode()
    assert _post(base, "/v1/logs", otlp) == 204
    dd = json.dumps([{"message": "no ts dd", "ddsource": "x"}]).encode()
    assert _post(base, "/api/v2/logs", dd) == 202
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not gw.bulk._buf and gw.bulk.flushes >= 1 and \
                cat.read(spark, "samples").count() >= 2:
            break
        time.sleep(0.2)
    rows = {r["string"]: r["timestamp_ns"]
            for r in cat.read(spark, "samples").collect()}
    assert set(rows) == {"no ts otlp", "no ts dd"}
    for s, ts in rows.items():
        assert t0 <= ts <= t0 + 120 * 10**9, (s, ts)


def test_push_validation_agrees_across_modes(spark, tmp_path):
    """Every malformed body or /ingest parameter that 400s in bulk
    mode must 400 in SYNC mode too (the reference maps unmarshal
    errors to 400 in both shapes, writer/utils/errors/error.go:68),
    and valid pushes must keep their reference acks in sync mode. Both
    modes resolve the route through httpd.push_route and run the same
    checks before either enqueueing or writing."""
    import urllib.error

    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog
    from tests.test_httpd import _pprof_gz_body

    root = str(tmp_path / "syncstore")
    eng = StoreEngine(spark, root, catalog=Catalog(root))
    gw = HttpGateway(eng)  # SYNC mode
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        bad = [
            ("/loki/api/v1/push", b"{not json", "application/json"),
            ("/v1/logs", b"[1,2,3]", "application/json"),
            ("/es1/_bulk", b'{"ok":1}\nnot-json\n', "application/x-ndjson"),
            ("/influx/write", b"no_equals_or_space", "text/plain"),
            ("/v1/traces", b"\x07\x08garbage-pb", "application/x-protobuf"),
            ("/api/v2/logs", b"<xml/>", "application/json"),
            ("/cf2/_doc/1", b"not json", "application/json"),
            ("/ingest?name=a&from=1&until=2", b"\x07\x08junk",
             "binary/octet-stream"),
            ("/ingest?name=a&from=abc&until=2", _pprof_gz_body(),
             "binary/octet-stream"),
            ("/ingest?name=a&from=1&until=zz", _pprof_gz_body(),
             "binary/octet-stream"),
        ]
        for path, body, ctype in bad:
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(base, path, body, ctype)
            assert ei.value.code == 400, path
        # valid pushes keep their reference acks through the sync path
        assert _post(base, "/loki/api/v1/push", _loki(0)) == 204
        assert _post(base, "/influx/write",
                     b"cpu value=1 1700000000000000000",
                     "text/plain") == 204
    finally:
        gw.stop()


# every push route the gateway serves: (method, path, content type)
_PUSH_ROUTES = [
    ("POST", "/loki/api/v1/push", "application/json"),
    ("POST", "/loki/api/v1/push", "application/x-protobuf"),
    ("POST", "/api/prom/remote/write", "application/x-protobuf"),
    ("POST", "/api/v1/prom/remote/write", "application/x-protobuf"),
    ("POST", "/v1/prom/remote/write", "application/x-protobuf"),
    ("POST", "/prom/remote/write", "application/x-protobuf"),
    ("POST", "/api/prom/push", "application/x-protobuf"),
    ("POST", "/v1/logs", "application/json"),
    ("POST", "/v1/logs", "application/x-protobuf"),
    ("POST", "/v1/traces", "application/json"),
    ("POST", "/v1/traces", "application/x-protobuf"),
    ("POST", "/api/v2/logs", "application/json"),
    ("POST", "/api/v2/series", "application/json"),
    ("POST", "/cf/v1/insert?ddsource=cf", "text/plain"),
    ("POST", "/influx/write?precision=ms", "text/plain"),
    ("POST", "/influx/api/v2/write", "text/plain"),
    ("POST", "/write", "text/plain"),
    ("POST", "/tempo/spans", "application/json"),
    ("POST", "/tempo/spans", "application/x-ndjson"),
    ("POST", "/api/v2/spans", "application/json"),
    ("POST", "/api/v2/spans", "application/x-ndjson"),
    ("POST", "/tempo/api/push", "application/json"),
    ("POST", "/tempo/api/push", "application/x-ndjson"),
    ("POST", "/_bulk", "application/x-ndjson"),
    ("POST", "/es1/_bulk", "application/x-ndjson"),
    ("POST", "/es1/_doc", "application/json"),
    ("POST", "/es1/_doc/7", "application/json"),
    ("POST", "/es1/_create/7", "application/json"),
    ("PUT", "/es1/_doc/7", "application/json"),
    ("PUT", "/es1/_create/7", "application/json"),
    ("POST", "/ingest?name=a&from=1&until=2", "binary/octet-stream"),
    ("POST", "/v1development/profiles", "application/x-protobuf"),
]


def test_push_route_table_covers_every_kind():
    """The gateway's one push route table (httpd.push_route): every
    served push path resolves to a kind with both a decoder
    (bulk.KINDS) and a pre-ack check (bulk._VALIDATORS), every kind is
    reachable from some route, and any other path resolves to None.
    No SparkSession is started."""
    from urllib.parse import parse_qs, urlparse

    from gigapipe_spark import bulk
    from gigapipe_spark.httpd import push_route

    reached = set()
    for _method, target, ctype in _PUSH_ROUTES:
        url = urlparse(target)
        route = push_route(url.path, parse_qs(url.query), ctype)
        assert route is not None, target
        kind, params, (status, ack) = route
        assert kind in bulk.KINDS and kind in bulk._VALIDATORS, (target, kind)
        assert status in (200, 202, 204), target
        assert status != 204 or ack is None, target  # 204 has no body
        reached.add(kind)
    assert reached == set(bulk.KINDS)
    for path in ("/nope", "/loki/api/v1/query", "/api/v1/query_range", "/"):
        assert push_route(path, {}, "application/json") is None, path
    # decode params come from the route itself
    assert push_route("/es1/_doc/7", {}, "")[1] == {
        "target": "es1", "doc_id": "7"
    }
    assert push_route("/_bulk", {}, "")[1] == {"target": "unknown"}
    assert push_route("/influx/write", {"precision": ["ms"]}, "")[1] == {
        "precision": "ms"
    }
    assert push_route("/influx/write", {}, "")[1] == {}
