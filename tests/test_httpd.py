"""HTTP/WebSocket façade e2e: pushes and queries over a real socket
against a store-backed engine — the reference's router surface
(reader/router/*, writer/router/*, WS tail query_range.go:158-245)."""

import base64
import hashlib
import json
import os
import socket
import struct
import urllib.error
import urllib.parse
import urllib.request

import pytest

T0 = 1_700_000_000_000_000_000
S = 1_000_000_000


@pytest.fixture(scope="module")
def gateway(spark, tmp_path_factory):
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path_factory.mktemp("httpstore") / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng)
    port = gw.start()
    yield f"http://127.0.0.1:{port}", port
    gw.stop()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return r.status, json.loads(r.read() or b"{}")


def _get_text(base, path):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return r.status, r.read().decode()


def _post(base, path, body: bytes):
    req = urllib.request.Request(base + path, data=body, method="POST")
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status


def test_http_push_then_query_loop(gateway):
    base, _ = gateway
    payload = json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": "web"},
                    "values": [
                        [str(T0 + i * 1_000_000_000), f"hit {i}", float(i)]
                        for i in range(4)
                    ],
                }
            ]
        }
    ).encode()
    assert _post(base, "/loki/api/v1/push", payload) == 204

    # Loki streams envelope
    st, body = _get(
        base, "/loki/api/v1/query_range?query=%7Bapp%3D%22web%22%7D"
    )
    assert st == 200 and body["status"] == "success"
    assert body["data"]["resultType"] == "streams"
    stream = body["data"]["result"][0]
    assert stream["stream"]["app"] == "web"
    assert len(stream["values"]) == 4

    # Prometheus instant vector over the same store (type-0 rows)
    st, body = _get(
        base, f"/api/v1/query?query=%7Bapp%3D%22web%22%7D&time={T0 // S + 60}"
    )
    assert st == 200 and body["data"]["resultType"] == "vector"
    assert float(body["data"]["result"][0]["value"][1]) == 3.0

    # label endpoints
    st, body = _get(base, "/loki/api/v1/labels")
    assert "app" in body["data"] and "service_name" in body["data"]
    st, body = _get(base, "/loki/api/v1/label/app/values")
    assert body["data"] == ["web"]

    # index stats
    st, body = _get(base, "/loki/api/v1/index/stats")
    assert body["entries"] == 4 and body["streams"] == 1

    # misc routes
    assert _get_text(base, "/ready")[1] == "OK"
    assert _get_text(base, "/api/echo")[1] == "echo"
    assert _get(base, "/api/v1/status/buildinfo")[1]["status"] == "success"
    assert "sent_rows" in _get_text(base, "/metrics")[1]
    with pytest.raises(urllib.error.HTTPError):
        _get(base, "/nope")


def test_http_zipkin_push_then_tempo_search(gateway):
    base, _ = gateway
    spans = json.dumps(
        [
            {
                "id": "c1", "traceId": "d1", "name": "get /x",
                "timestamp": T0 // 1000, "duration": 1500,
                "localEndpoint": {"serviceName": "web"},
                "tags": {"otel.status_code": "ERROR"},
            }
        ]
    ).encode()
    # tempo pushes reply 202 no-body (tempo.go PushV2 withOkStatusAndBody)
    assert _post(base, "/tempo/spans", spans) == 202
    st, body = _get(
        base, "/api/search?q=" + urllib.parse.quote("{ status = error }")
    )
    assert st == 200 and len(body["traces"]) == 1
    tid = body["traces"][0]["trace_id"]
    st, body = _get(base, f"/api/traces/{tid}")
    assert st == 200 and body["batches"][0]["name"] == "get /x"
    st, body = _get(base, "/api/search/tags")
    assert "otel.status_code" in body["tagNames"]
    st, body = _get(base, "/api/v2/search/tags")
    scopes = {s["name"] for s in body["scopes"]}
    assert "intrinsic" in scopes and "span" in scopes


def _ws_connect(port: int, path: str) -> socket.socket:
    s = socket.create_connection(("127.0.0.1", port), timeout=60)
    key = base64.b64encode(os.urandom(16)).decode()
    s.sendall(
        (
            f"GET {path} HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{port}\r\n"
            "Connection: Upgrade\r\n"
            "Upgrade: websocket\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    hdr = b""
    while b"\r\n\r\n" not in hdr:
        hdr += s.recv(1024)
    assert b"101" in hdr.split(b"\r\n", 1)[0]
    want = base64.b64encode(
        hashlib.sha1(
            (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
        ).digest()
    ).decode()
    assert want.encode() in hdr
    return s


def _ws_read_frame(s: socket.socket) -> bytes:
    head = b""
    while len(head) < 2:
        head += s.recv(2 - len(head))
    ln = head[1] & 0x7F
    if ln == 126:
        ext = b""
        while len(ext) < 2:
            ext += s.recv(2 - len(ext))
        ln = struct.unpack("!H", ext)[0]
    elif ln == 127:
        ext = b""
        while len(ext) < 8:
            ext += s.recv(8 - len(ext))
        ln = struct.unpack("!Q", ext)[0]
    out = b""
    while len(out) < ln:
        out += s.recv(ln - len(out))
    return out


def test_ws_tail_live(gateway):
    """The WebSocket tail delivers existing rows, then NEW pushes
    arriving while the socket stays open — the real live-tail loop."""
    base, port = gateway
    q = urllib.parse.quote('{app="tailme"}')
    push = json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": "tailme"},
                    "values": [[str(T0), "first line"]],
                }
            ]
        }
    ).encode()
    assert _post(base, "/loki/api/v1/push", push) == 204

    s = _ws_connect(port, f"/loki/api/v1/tail?query={q}")
    try:
        frame = json.loads(_ws_read_frame(s))
        lines = [v[1] for st in frame["result"] for v in st["values"]]
        assert lines == ["first line"]
        # tail frames carry the stream's label set
        assert frame["result"][0]["stream"].get("app") == "tailme"

        late = json.dumps(
            {
                "streams": [
                    {
                        "stream": {"app": "tailme"},
                        "values": [[str(T0 + 5_000_000_000), "second line"]],
                    }
                ]
            }
        ).encode()
        assert _post(base, "/loki/api/v1/push", late) == 204
        frame2 = json.loads(_ws_read_frame(s))
        lines2 = [v[1] for st in frame2["result"] for v in st["values"]]
        assert lines2 == ["second line"]
    finally:
        # client close frame, then drop the socket
        s.sendall(b"\x88\x80\x00\x00\x00\x00")
        s.close()


def test_http_otlp_and_remote_write_push(gateway):
    """The writer's other push families over the socket: OTLP JSON logs
    and snappy-protobuf Prometheus remote-write, both landing in the
    store through the MV fan-out."""
    base, _ = gateway
    otlp = json.dumps(
        {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [
                            {
                                "key": "service.name",
                                "value": {"stringValue": "otlp-svc"},
                            }
                        ]
                    },
                    "scopeLogs": [
                        {
                            "logRecords": [
                                {
                                    "timeUnixNano": str(T0),
                                    "body": {"stringValue": "otlp line"},
                                }
                            ]
                        }
                    ],
                }
            ]
        }
    ).encode()
    assert _post(base, "/v1/logs", otlp) == 204
    st, body = _get(
        base,
        "/loki/api/v1/query_range?query="
        + urllib.parse.quote('{service_name="otlp-svc"}'),
    )
    vals = [v[1] for s in body["data"]["result"] for v in s["values"]]
    assert vals == ["otlp line"]

    # remote-write: one timeseries, one sample
    assert _remote_write(base, "rw", [(T0, 42.5)]) == 204
    st, body = _get(
        base,
        "/api/v1/query?query=" + urllib.parse.quote('{job="rw"}')
        + f"&time={T0 // S + 60}",
    )
    assert float(body["data"]["result"][0]["value"][1]) == 42.5


def _remote_write(base, job: str, samples) -> int:
    """POST one snappy-protobuf remote-write series `rw_metric{job}`
    with (timestamp_ns, value) samples; returns the HTTP status."""
    from gigapipe_spark.sources import protowire as pw

    lbl = lambda n, v: pw.pb_encode([(1, 2, n.encode()), (2, 2, v.encode())])
    ts = pw.pb_encode(
        [(1, 2, lbl("__name__", "rw_metric")), (1, 2, lbl("job", job))]
        + [
            (2, 2, pw.pb_encode(
                [(1, 1, struct.pack("<d", v)), (2, 0, t // 1_000_000)]
            ))
            for t, v in samples
        ]
    )
    req = urllib.request.Request(
        base + "/api/prom/remote/write",
        data=pw.snappy_compress(pw.pb_encode([(1, 2, ts)])),
        method="POST",
        headers={"Content-Type": "application/x-protobuf"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status


def test_prom_query_range_custom_step_reads_store(gateway):
    """A non-default `step` builds its PromQL context through the
    engine's factory, so a store-backed engine evaluates it over the
    stored samples (not a fixture context looking for events.parquet)."""
    base, _ = gateway
    t0 = T0 // 10**9 + 10  # on the 15 s grid
    samples = [((t0 + 15 * i) * 10**9, float(i + 1)) for i in range(4)]
    assert _remote_write(base, "rwstep", samples) == 204
    st, body = _get(
        base,
        "/api/v1/query_range?query=" + urllib.parse.quote('{job="rwstep"}')
        + f"&start={t0}&end={t0 + 60}&step=15",
    )
    assert st == 200 and body["status"] == "success"
    (series,) = body["data"]["result"]
    assert series["metric"]["job"] == "rwstep"
    assert sorted(series["values"]) == [
        [t / 10**9, str(v)] for t, v in samples
    ]


def test_prom_query_range_matrix_values_ascending(gateway):
    """A store-backed `query_range?step=15` returns each series' values
    in ascending time order, as Prometheus does, whatever order the
    rows were collected in."""
    base, _ = gateway
    t0 = T0 // 10**9 + 3_610  # on the 15 s grid
    samples = [((t0 + 15 * i) * 10**9, float(i + 1)) for i in range(12)]
    assert _remote_write(base, "rwsorted", samples) == 204
    st, body = _get(
        base,
        "/api/v1/query_range?query=" + urllib.parse.quote('{job="rwsorted"}')
        + f"&start={t0}&end={t0 + 180}&step=15",
    )
    assert st == 200
    (series,) = body["data"]["result"]
    assert series["values"] == [[t / 10**9, str(v)] for t, v in samples]


def test_loki_query_range_matrix_values_ascending(gateway):
    """A Loki metric query_range with the default `direction=backward`
    still returns each series' values oldest-first (the matrix
    contract); only log-line streams follow the direction."""
    base, _ = gateway
    t0 = T0 + 7_200 * 10**9
    payload = json.dumps(
        {"streams": [{"stream": {"app": "lokisorted"},
                      "values": [[str(t0 + i * 10**9), f"l{i}"]
                                 for i in range(40)]}]}
    ).encode()
    assert _post(base, "/loki/api/v1/push", payload) == 204
    q = urllib.parse.quote('count_over_time({app="lokisorted"}[10s])')
    st, body = _get(
        base,
        f"/loki/api/v1/query_range?query={q}&start={t0}&end={t0 + 40 * 10**9}",
    )
    assert st == 200 and body["data"]["resultType"] == "matrix"
    (series,) = body["data"]["result"]
    ts = [v[0] for v in series["values"]]
    assert len(ts) > 1 and ts == sorted(ts)


def test_http_meta_and_metrics_routes(gateway):
    """The volume/detected/series/exemplar/tempo-metrics route family."""
    base, _ = gateway
    sel = urllib.parse.quote('{app="web"}')
    try:
        st, body = _get(base, f"/loki/api/v1/index/volume?query={sel}")
    except urllib.error.HTTPError as ex:
        raise AssertionError(ex.read()[:500])
    assert st == 200 and body["status"] == "success" and body["data"]
    st, body = _get(base, f"/loki/api/v1/detected_labels?query={sel}")
    assert "detectedLabels" in body
    st, body = _get(base, f"/loki/api/v1/detected_fields?query={sel}")
    assert "fields" in body
    st, body = _get(base, f"/api/v1/series?match[]={sel}")
    assert any(d.get("app") == "web" for d in body["data"])
    st, body = _get(base, f"/loki/api/v1/series?match[]={sel}")
    assert any(d.get("app") == "web" for d in body["data"])
    # instant rate() requires an explicit window (reference contract);
    # count_over_time aggregates over the request window
    tq = urllib.parse.quote("{ status = error } | count_over_time()")
    st, body = _get(
        base, f"/api/metrics/query?q={tq}&start={T0}&end={T0 + 60_000_000_000}"
    )
    assert st == 200 and "series" in body and body["series"]


def test_gateway_over_fixture_engine(spark):
    """The façade works over the fixture Engine too (query routes only;
    push routes 501 without a store)."""
    from gigapipe_spark.api import Engine
    from gigapipe_spark.httpd import HttpGateway

    eng = Engine(spark, "/root/testdata/sf0.001")
    gw = HttpGateway(eng)
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        st, body = _get(
            base,
            "/loki/api/v1/query_range?query="
            + urllib.parse.quote('{app="web"}')
            + "&limit=5",
        )
        assert st == 200 and body["status"] == "success"
        st, body = _get(base, "/loki/api/v1/labels")
        assert "app" in body["data"]
        req = urllib.request.Request(
            base + "/loki/api/v1/push", data=b"{}", method="POST"
        )
        try:
            urllib.request.urlopen(req, timeout=60)
            raise AssertionError("push on fixture engine must 501")
        except urllib.error.HTTPError as ex:
            assert ex.code == 501
    finally:
        gw.stop()


def test_http_pyroscope_store_routes(spark, tmp_path):
    """Render + render-diff over a store-backed gateway, incl. the
    /tempo/api alias rewrite and trace-json alias."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.sources.ingest import folded_profiles_input
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, profiles_fanout
    from pyspark.sql import functions as F

    rows = []
    for i, svc in enumerate(["api", "worker"]):
        rows.append(
            (
                f"p{i}", T0, "process_cpu", svc, "cpu", "nanoseconds",
                {"env": "prod"}, 0, f"main;run {10 * (i + 1)}",
            )
        )
    folded = spark.createDataFrame(
        rows,
        "profile_id string, timestamp_ns long, type string,"
        " service_name string, period_type string, period_unit string,"
        " tags map<string,string>, duration_ns long, line string",
    )
    cat = Catalog(str(tmp_path / "store"))
    profiles_fanout(
        folded_profiles_input(folded, "cpu", "nanoseconds").coalesce(1), cat
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    gw = HttpGateway(eng)
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        sel = urllib.parse.quote('{env="prod"}')
        st, body = _get(
            base, f"/pyroscope/render?query={sel}&from=0&until=4000000000000"
        )
        fb = body["flamebearer"]
        assert fb["numTicks"] == 30  # both services merged
        st, body = _get(
            base, "/pyroscope/render-diff?left=api&right=worker"
        )
        assert st == 200 and len(body["diff"]) == 2  # main + run nodes
        lq = urllib.parse.quote('{service_name="api"}')
        rq = urllib.parse.quote('{service_name="worker"}')
        st, body = _get(
            base,
            f"/pyroscope/render-diff?leftQuery={lq}&rightQuery={rq}"
            f"&leftFrom=0&leftUntil=4000000000000&rightFrom=0&rightUntil=4000000000000",
        )
        assert len(body["diff"]) == 2
        # /tempo/api alias rewrite
        assert _get_text(base, "/tempo/api/echo")[1] == "echo"
    finally:
        gw.stop()


def test_http_querier_v1_rpcs(spark, tmp_path):
    """The connect-protocol Pyroscope querier RPCs (prof.go:13-23) over
    the socket against a stored profiles layout."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.sources.ingest import folded_profiles_input
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, profiles_fanout

    rows = [
        (
            "p0", T0, "process_cpu", "api", "cpu", "nanoseconds",
            {"env": "prod"}, 0, "main;run 10",
        )
    ]
    folded = spark.createDataFrame(
        rows,
        "profile_id string, timestamp_ns long, type string,"
        " service_name string, period_type string, period_unit string,"
        " tags map<string,string>, duration_ns long, line string",
    )
    cat = Catalog(str(tmp_path / "store"))
    profiles_fanout(
        folded_profiles_input(folded, "cpu", "nanoseconds").coalesce(1), cat
    )
    gw = HttpGateway(StoreEngine(spark, cat.root, catalog=cat))
    port = gw.start()
    base = f"http://127.0.0.1:{port}"

    def rpc(method, req):
        r = urllib.request.Request(
            f"{base}/querier.v1.QuerierService/{method}",
            data=json.dumps(req).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(r, timeout=60) as resp:
            return json.loads(resp.read())

    try:
        pt = rpc("ProfileTypes", {})
        assert pt["profileTypes"][0]["ID"] == (
            "process_cpu:cpu:nanoseconds:cpu:nanoseconds"
        )
        assert "env" in rpc("LabelNames", {})["names"]
        assert rpc("LabelValues", {"name": "env"})["names"] == ["prod"]
        series = rpc("Series", {"matchers": ['{env="prod"}']})
        assert len(series["labelsSet"]) == 1
        ss = rpc(
            "SelectSeries",
            {"labelSelector": '{env="prod"}', "groupBy": ["env"], "step": 10},
        )
        assert ss["series"]
        merged = rpc(
            "SelectMergeProfile", {"labelSelector": '{env="prod"}'}
        )
        assert len(merged["tree"]) == 2  # main + run
        stats = rpc("GetProfileStats", {})
        assert stats["dataIngested"] is True
        aq = rpc("AnalyzeQuery", {"query": '{env="prod"}'})
        assert aq["queryImpact"]["totalQueriedSeries"] == 1
    finally:
        gw.stop()


# ---------------------------------------------------------------- r7:
# the seven remaining reference push routes (writer/router/profile.go,
# insert.go:12-13, prom.go:14, elastic.go:9-12, tempo.go:10)


def _post_full(base, path, body: bytes, headers=None, method="POST"):
    req = urllib.request.Request(
        base + path, data=body, method=method, headers=headers or {}
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, r.read()


def test_http_prom_push_alias(gateway):
    """/api/prom/push is the legacy remote-write alias (prom.go:14)."""
    from gigapipe_spark.sources import protowire as pw

    def lbl(name, value):
        return pw.pb_encode([(1, 2, name.encode()), (2, 2, value.encode())])

    import struct as _struct

    sample = pw.pb_encode(
        [(1, 1, _struct.pack("<d", 33.0)), (2, 0, T0 // 1_000_000)]
    )
    ts = pw.pb_encode(
        [(1, 2, lbl("__name__", "legacy_push")), (1, 2, lbl("job", "lp")),
         (2, 2, sample)]
    )
    wr = pw.snappy_compress(pw.pb_encode([(1, 2, ts)]))
    st, body = _post_full(
        base := gateway[0], "/api/prom/push", wr,
        {"Content-Type": "application/x-protobuf"},
    )
    assert st == 204 and body == b""
    st, body = _get(
        base,
        "/api/v1/query?query=" + urllib.parse.quote('{job="lp"}')
        + f"&time={T0 // S + 60}",
    )
    assert float(body["data"]["result"][0]["value"][1]) == 33.0


def test_http_datadog_metrics_push(gateway):
    """/api/v2/series (insert.go:12) → metric samples via PromQL."""
    base, _ = gateway
    payload = json.dumps({
        "series": [{
            "metric": "dd.req",
            "resources": [{"host": "h1"}],
            "points": [{"timestamp": T0 // 1_000_000_000, "value": 9.5}],
        }]
    }).encode()
    st, body = _post_full(base, "/api/v2/series", payload,
                          {"Content-Type": "application/json"})
    assert st == 202 and body == b"{}"
    st, body = _get(
        base,
        "/api/v1/query?query="
        + urllib.parse.quote('{resource1_host="h1"}')
        + f"&time={T0 // S + 60}",
    )
    assert float(body["data"]["result"][0]["value"][1]) == 9.5


def test_http_datadog_cf_push(gateway):
    """/cf/v1/insert (insert.go:13) NDJSON lines with ?ddsource."""
    base, _ = gateway
    lines = "\n".join(
        json.dumps({"EventTimestampMs": (T0 // 1_000_000) + i,
                    "Outcome": "ok", "ScriptName": "w"})
        for i in range(2)
    ).encode()
    st, body = _post_full(base, "/cf/v1/insert?ddsource=cfpush", lines)
    assert st == 202 and body == b"{}"
    st, body = _get(
        base,
        "/loki/api/v1/query_range?query="
        + urllib.parse.quote('{ddsource="cfpush"}'),
    )
    vals = [v for s in body["data"]["result"] for v in s["values"]]
    assert len(vals) == 2


def test_http_elastic_doc_routes(gateway):
    """/{target}/_doc POST, /{target}/_create/{id} POST and
    /{target}/_doc/{id} PUT (elastic.go:9-12)."""
    base, _ = gateway
    st, body = _post_full(base, "/books/_doc", b'{"title": "dune"}')
    assert st == 200 and json.loads(body) == {"took": 0, "errors": False}
    st, _b = _post_full(base, "/books/_create/b2", b'{"title": "solaris"}')
    assert st == 200
    st, _b = _post_full(
        base, "/books/_doc/b3", b'{"title": "ubik"}', method="PUT"
    )
    assert st == 200
    st, body = _get(
        base,
        "/loki/api/v1/query_range?query="
        + urllib.parse.quote('{_index="books"}'),
    )
    lines = sorted(
        v[1] for s in body["data"]["result"] for v in s["values"]
    )
    assert lines == ['{"title": "dune"}', '{"title": "solaris"}',
                     '{"title": "ubik"}']
    # the _id label rides only on the id-carrying routes
    st, body = _get(
        base,
        "/loki/api/v1/query_range?query="
        + urllib.parse.quote('{_id="b2"}'),
    )
    assert [v[1] for s in body["data"]["result"] for v in s["values"]] == [
        '{"title": "solaris"}'
    ]


def test_http_tempo_api_push_ndjson(gateway):
    """/tempo/api/push (tempo.go:10) with ndjson content-type."""
    base, _ = gateway
    span = json.dumps({
        "id": "c9", "traceId": "d9", "name": "ndj op",
        "timestamp": T0 // 1000, "duration": 700,
        "localEndpoint": {"serviceName": "ndj"},
    })
    st, body = _post_full(
        base, "/tempo/api/push", (span + "\n").encode(),
        {"Content-Type": "application/x-ndjson"},
    )
    assert st == 202 and body == b""
    tid = "d9".rjust(32, "0")
    st, body = _get(base, f"/api/traces/{tid}")
    assert st == 200 and body["batches"][0]["name"] == "ndj op"


def _pprof_gz_body() -> bytes:
    """gzip pprof with two stacks: main;foo 5 + main;foo;bar 7."""
    import gzip

    from gigapipe_spark.sources import protowire as pw

    strings = [b"", b"main", b"foo", b"bar"]
    funcs = [pw.pb_encode([(1, 0, i + 1), (2, 0, i + 1)]) for i in range(3)]
    locs = [
        pw.pb_encode([(1, 0, i + 1), (4, 2, pw.pb_encode([(1, 0, i + 1)]))])
        for i in range(3)
    ]
    s1 = pw.pb_encode([(1, 0, 2), (1, 0, 1), (2, 0, 5)])
    s2 = pw.pb_encode([(1, 0, 3), (1, 0, 2), (1, 0, 1), (2, 0, 7)])
    fields = [(2, 2, s1), (2, 2, s2)]
    fields += [(4, 2, loc) for loc in locs]
    fields += [(5, 2, f) for f in funcs]
    fields += [(6, 2, s) for s in strings]
    return gzip.compress(pw.pb_encode(fields))


def test_http_pyroscope_ingest_push(gateway):
    """/ingest (profile.go:10): gzip pprof + name{tags}/from/until →
    stored tree → /pyroscope/render round-trip."""
    base, _ = gateway
    body = _pprof_gz_body()

    # missing params → 400 like the reference's parser context
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_full(base, "/ingest", body)
    assert ei.value.code == 400

    name = urllib.parse.quote("pushed.app{env=prodpush}")
    st, rbody = _post_full(
        base,
        f"/ingest?name={name}&from=1700000000&until=1700000010",
        body,
        {"Content-Type": "binary/octet-stream"},
    )
    assert st == 200 and rbody == b"{}"
    sel = urllib.parse.quote('{env="prodpush"}')
    st, out = _get(
        base, f"/pyroscope/render?query={sel}&from=0&until=4000000000000"
    )
    assert out["flamebearer"]["numTicks"] == 12  # 5 + 7


def test_http_otlp_profiles_push(gateway):
    """/v1development/profiles (profile.go:12): pb in, JSON → 415."""
    from test_protowire import _otlp_profile_body

    base, _ = gateway
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_full(base, "/v1development/profiles", b"{}",
                   {"Content-Type": "application/json"})
    assert ei.value.code == 415

    st, body = _post_full(
        base, "/v1development/profiles", _otlp_profile_body(),
        {"Content-Type": "application/x-protobuf"},
    )
    assert st == 200 and body == b"{}"
    st, out = _get(
        base,
        "/pyroscope/render?service=api&query=%7B%7D&from=0&until=4000000000000",
    )
    assert out["flamebearer"]["numTicks"] == 8  # 5 + 3


def test_http_patterns_from_store(gateway):
    """Pushed lines are clustered inline (controller.go:71) and
    /loki/api/v1/patterns serves the STORED table."""
    base, _ = gateway
    payload = json.dumps({
        "streams": [{
            "stream": {"app": "patt"},
            "values": [
                [str(T0), "checkout started"],
                [str(T0 + 1_000_000_000), "checkout started"],
            ],
        }]
    }).encode()
    assert _post(base, "/loki/api/v1/push", payload) == 204
    # query param is REQUIRED (volume.go:137-141)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/loki/api/v1/patterns")
    assert ei.value.code == 400
    q = urllib.parse.quote('{app="patt"}')
    st, body = _get(base, f"/loki/api/v1/patterns?query={q}")
    assert st == 200 and body["status"] == "success"
    pats = {p["pattern"]: p["samples"] for p in body["data"]}
    assert sum(c for _, c in pats["checkout started"]) == 2
    # another stream's selector sees nothing (fp scoping)
    q2 = urllib.parse.quote('{app="nosuch"}')
    st, body = _get(base, f"/loki/api/v1/patterns?query={q2}")
    assert body["data"] == []


def test_cors_middleware(gateway):
    """Every response carries the CORS headers and OPTIONS preflights
    short-circuit to 200 (cors_middleware.go:5-22)."""
    base, _ = gateway
    req = urllib.request.Request(base + "/ready", method="OPTIONS")
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.status == 200
        assert r.headers["Access-Control-Allow-Origin"] == "*"
        assert "OPTIONS" in r.headers["Access-Control-Allow-Methods"]
        assert r.headers["Access-Control-Allow-Credentials"] == "true"
    with urllib.request.urlopen(base + "/ready", timeout=30) as r:
        assert r.headers["Access-Control-Allow-Origin"] == "*"
        assert "Content-Type" in r.headers["Access-Control-Allow-Headers"]


def test_prom_routes_accept_form_post(gateway):
    """/api/v1/query_range + /api/v1/query accept POST with a
    form-encoded body (prometheus_query_range.go:65-66 registers both
    verbs; Grafana POSTs by default). Same handler, params merged over
    the URL query like Go's r.FormValue."""
    base, _ = gateway
    # self-provision one stream so the test is order-independent
    payload = json.dumps({
        "streams": [{"stream": {"app": "web"},
                     "values": [[str(T0), "post route seed", 1.0]]}]
    }).encode()
    assert _post(base, "/loki/api/v1/push", payload) in (200, 204)
    form = urllib.parse.urlencode({
        "query": '{app="web"}',
        "start": "1700000000",
        "end": "1700000600",
        "step": "60",
    }).encode()
    req = urllib.request.Request(
        base + "/api/v1/query_range", data=form, method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        body = json.loads(r.read())
    assert body["status"] == "success"
    assert body["data"]["resultType"] == "matrix"

    req = urllib.request.Request(
        base + "/api/v1/labels", data=b"", method="POST",
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        body = json.loads(r.read())
    assert body["status"] == "success"


def test_influx_health_routes(gateway):
    """/influx/health + /influx/api/v2/write/health (insert.go:16-17)
    → 200 with empty body (HealthInflux = withOkStatusAndBody(200, nil))."""
    base, _ = gateway
    for p in ("/influx/health", "/influx/api/v2/write/health"):
        with urllib.request.urlopen(base + p, timeout=60) as r:
            assert r.status == 200
            assert r.read() == b""


def test_prom_error_codes_match_reference(gateway):
    """Reference error mapping: missing query → 400, PromQL SYNTAX
    error → 400 (prom_query_instant.go:31-39), >11000-point resolution
    → 500 with the verbatim message (prom_query_range.go:64-71);
    envelope is PromError's {status, errorType: error, error}."""
    base, _ = gateway

    def _code_body(path):
        try:
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as ex:
            return ex.code, json.loads(ex.read())

    # missing query param
    for p in ("/api/v1/query", "/api/v1/query_range",
              "/loki/api/v1/query_range"):
        code, body = _code_body(p)
        assert code == 400, p
        assert body["error"] == "query parameter is required"
        assert body["status"] == "error"

    # syntax error -> 400
    code, body = _code_body(
        "/api/v1/query?query=" + urllib.parse.quote("sum(((")
    )
    assert code == 400 and body["errorType"] == "error"

    # resolution cap -> 500, verbatim message
    code, body = _code_body(
        "/api/v1/query_range?query=up&start=0&end=1200000&step=1"
    )
    assert code == 500
    assert "exceeded maximum resolution of 11,000 points" in body["error"]

    # step <= 0 -> 400 BEFORE the cap (prom_query_range.go:57-62;
    # ADVICE r10: step=0 dodged the cap via falsiness, step<0 made it
    # trivially false)
    for bad_step in ("0", "-5"):
        code, body = _code_body(
            f"/api/v1/query_range?query=up&start=0&end=1000&step={bad_step}"
        )
        assert code == 400, bad_step
        assert "zero or negative query resolution step" in body["error"]

    # cap boundary uses integer division like Go: 11000.5s / 1s step is
    # 11000 whole steps (no cap) where float division (11000.5 > 11000)
    # would wrongly trip it — whatever else the engine does with the
    # query, the response must NOT be the resolution-cap error
    code, body = _code_body(
        "/api/v1/query_range?query=up&start=0&end=11000.5&step=1"
    )
    assert "exceeded maximum resolution" not in body.get("error", ""), body


def test_prom_query_range_cap_applies_to_default_step(gateway):
    """Without `step` the grid uses the engine's default step (60 s),
    and the 11,000-point cap applies to that step."""
    base, _ = gateway

    def _code_body(path):
        try:
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as ex:
            return ex.code, json.loads(ex.read())

    # 660,060 s / 60 s = 11,001 points
    code, body = _code_body("/api/v1/query_range?query=up&start=0&end=660060")
    assert code == 500
    assert "exceeded maximum resolution of 11,000 points" in body["error"]
    # 11,000 points exactly: not capped
    code, body = _code_body("/api/v1/query_range?query=up&start=0&end=660000")
    assert "exceeded maximum resolution" not in body.get("error", ""), body


def _served_metrics(base, family="gigapipe_served_frames_total") -> dict:
    """A served-read counter family by result, read from /metrics."""
    _, text = _get_text(base, "/metrics")
    out = {"hit": 0, "miss": 0}
    for line in text.splitlines():
        if line.startswith(family + "{"):
            result = line.split('result="', 1)[1].split('"', 1)[0]
            out[result] = int(float(line.rsplit(" ", 1)[1]))
    return out


def test_served_frames_counter(gateway):
    """Two identical reads: one miss, then a hit. With a push between
    two reads the store version moves: both miss, and each answer
    holds the line pushed before it."""
    base, _ = gateway
    push = lambda i: _post(base, "/loki/api/v1/push", json.dumps(
        {"streams": [{"stream": {"app": "memo"},
                      "values": [[str(T0 + i * S), f"memo {i}"]]}]}
    ).encode())
    path = (
        "/loki/api/v1/query_range?query=" + urllib.parse.quote('{app="memo"}')
        + f"&start={T0}&end={T0 + 100 * S}&limit=10"
    )
    lines = lambda: sorted(
        v[1] for s in _get(base, path)[1]["data"]["result"] for v in s["values"]
    )
    assert push(1) == 204
    before = _served_metrics(base)
    assert lines() == lines() == ["memo 1"]
    mid = _served_metrics(base)
    assert (mid["hit"] - before["hit"], mid["miss"] - before["miss"]) == (1, 1)
    assert push(2) == 204
    assert lines() == ["memo 1", "memo 2"]
    assert push(3) == 204
    assert lines() == ["memo 1", "memo 2", "memo 3"]
    after = _served_metrics(base)
    assert (after["hit"] - mid["hit"], after["miss"] - mid["miss"]) == (0, 2)


def test_served_blocks_counter(gateway):
    """A step-local range read counts its time blocks: a cold 1 h window
    over two blocks misses both, the window slid 5 min hits both, and
    the same read with a limit is a plain served read, no block."""
    base, _ = gateway
    m0 = T0 - T0 % (300 * S)
    assert _post(base, "/loki/api/v1/push", json.dumps(
        {"streams": [{"stream": {"app": "blocks"},
                      "values": [[str(m0 + i * 60 * S), f"b {i}"] for i in range(90)]}]}
    ).encode()) == 204
    q = urllib.parse.quote('count_over_time({app="blocks"}[1m])')
    path = lambda lo, extra="": (
        f"/loki/api/v1/query_range?query={q}&start={lo}&end={lo + 3600 * S}{extra}"
    )
    points = lambda p: sum(len(s["values"]) for s in _get(base, p)[1]["data"]["result"])
    blocks = lambda: _served_metrics(base, "gigapipe_served_blocks_total")
    frames = lambda: _served_metrics(base)
    b0, f0 = blocks(), frames()
    assert points(path(m0)) == 60
    b1 = blocks()
    assert (b1["hit"] - b0["hit"], b1["miss"] - b0["miss"]) == (0, 2)
    assert points(path(m0 + 300 * S)) == 60
    b2 = blocks()
    assert (b2["hit"] - b1["hit"], b2["miss"] - b1["miss"]) == (2, 0)
    assert points(path(m0, "&limit=1000")) == 60
    assert blocks() == b2
    f1 = frames()
    assert (f1["hit"] - f0["hit"], f1["miss"] - f0["miss"]) == (0, 1)
    assert "# TYPE gigapipe_served_blocks_total counter" in _get_text(base, "/metrics")[1]


def test_prom_instant_query_without_time_never_hits(gateway):
    """`/api/v1/query` without `time` evaluates at now, and the served
    key carries that resolved instant: a repeat is never a hit. With
    the same `time` it is."""
    base, _ = gateway
    q = "/api/v1/query?query=" + urllib.parse.quote("vector(1)")
    before = _served_metrics(base)
    for _ in range(2):
        assert _get(base, q)[1]["status"] == "success"
    mid = _served_metrics(base)
    assert (mid["hit"] - before["hit"], mid["miss"] - before["miss"]) == (0, 2)
    for _ in range(2):
        assert _get(base, q + f"&time={T0 // S}")[1]["status"] == "success"
    after = _served_metrics(base)
    assert (after["hit"] - mid["hit"], after["miss"] - mid["miss"]) == (1, 1)


def test_render_param_validation_and_time_scope(gateway):
    """Render param contract (prof.go:208-223): query/from/until
    REQUIRED -> 400 defaultError (a bare JSON-quoted string body, not
    the Prometheus envelope); invalid ints -> 400; from/until are ms
    truncated to whole seconds, and the bounds actually SCOPE the
    merged profiles (a window before the data renders empty)."""
    base, _ = gateway

    def _code_body(path):
        try:
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as ex:
            return ex.code, json.loads(ex.read())

    code, body = _code_body("/pyroscope/render?from=0&until=1")
    assert code == 400 and body == "Missing required parameter: query"
    code, body = _code_body("/pyroscope/render?query=%7B%7D&until=1")
    assert code == 400 and body == "Missing required parameter: from"
    code, body = _code_body(
        "/pyroscope/render?query=%7B%7D&from=zzz&until=1"
    )
    assert code == 400 and body == "Invalid value for from: zzz"
    # six required params on render-diff
    code, body = _code_body("/pyroscope/render-diff?leftQuery=x")
    assert code == 400 and body == "Missing required parameter: leftFrom"
    # a window that ends before any pushed profile renders EMPTY
    code, body = _code_body(
        "/pyroscope/render?query=%7B%7D&from=0&until=1000"
    )
    assert code == 200
    assert body["flamebearer"]["numTicks"] == 0


def test_render_format_dot_with_maxnodes(gateway):
    """format=dot returns Graphviz with the reference content type
    (prof.go Render dot branch) and maxNodes keeps only the top-N
    nodes by total (prof_tree.go ToDot threshold)."""
    base, _ = gateway
    # self-provision a profile so the test is order-independent
    name = urllib.parse.quote("dotapp{env=dot}")
    st, _ = _post_full(
        base,
        f"/ingest?name={name}&from=1700000000&until=1700000010",
        _pprof_gz_body(),
        {"Content-Type": "binary/octet-stream"},
    )
    assert st == 200
    q = urllib.parse.quote('{env="dot"}')
    url = (f"{base}/pyroscope/render?query={q}&from=0"
           f"&until=4000000000000&format=dot")
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.headers["Content-Type"].startswith("text/vnd.graphviz")
        dot = r.read().decode()
    assert dot.startswith("digraph flamegraph {")
    n_all = dot.count("[label=")
    assert n_all >= 2
    with urllib.request.urlopen(url + "&maxNodes=1", timeout=120) as r:
        pruned = r.read().decode()
    # stacks: main;foo 5 + main;foo;bar 7 → totals main=12, foo=12,
    # bar=7. threshold = 1st largest (12); ties at the threshold are
    # kept (reference: keep total >= allTotals[maxNodes-1]) → main+foo
    # survive, bar is pruned
    assert pruned.count("[label=") == 2 and "bar" not in pruned


def test_gzip_response_encoding(gateway):
    """Accept-Encoding: gzip → 2xx bodies compressed (reference
    AcceptEncodingMiddleware wraps the whole router, accept_encoding.go
    :14-23); error responses pass through identity (:54-66 only 2xx)."""
    import gzip

    base, _ = gateway
    # self-provision so the store-backed labels route has data
    payload = json.dumps({
        "streams": [{"stream": {"app": "gz"},
                     "values": [[str(T0), "gzip seed", 1.0]]}]
    }).encode()
    assert _post(base, "/loki/api/v1/push", payload) in (200, 204)
    req = urllib.request.Request(
        base + "/loki/api/v1/labels",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        body = json.loads(gzip.decompress(r.read()))
    assert body["status"] == "success"
    # errors are NOT compressed even when the client accepts gzip
    req = urllib.request.Request(
        base + "/api/v1/query",  # missing query -> 400
        headers={"Accept-Encoding": "gzip"},
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as ex:
        assert ex.code == 400
        assert ex.headers.get("Content-Encoding") is None
        assert json.loads(ex.read())["status"] == "error"
    # identity clients are untouched
    with urllib.request.urlopen(base + "/loki/api/v1/labels", timeout=60) as r:
        assert r.headers.get("Content-Encoding") is None
        assert json.loads(r.read())["status"] == "success"


def test_basic_auth_middleware(spark):
    """BasicAuthMiddleware parity (basic_auth.go:9-36, enabled when
    credentials are configured, reader.go:71-75): no header → 401 +
    WWW-Authenticate; non-Basic scheme → 400; wrong creds → 401;
    correct creds → normal routing. Off by default (every other test
    in this module runs unauthenticated)."""
    import base64 as b64

    from gigapipe_spark.api import Engine
    from gigapipe_spark.httpd import HttpGateway

    eng = Engine(spark, "/root/testdata/sf0.001")
    gw = HttpGateway(eng, basic_auth=("scott", "tiger"))
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        def _code(headers):
            req = urllib.request.Request(base + "/ready", headers=headers)
            try:
                with urllib.request.urlopen(req, timeout=60) as r:
                    return r.status, dict(r.headers)
            except urllib.error.HTTPError as ex:
                return ex.code, dict(ex.headers)

        code, hdrs = _code({})
        assert code == 401
        assert hdrs.get("WWW-Authenticate") == 'Basic realm="Restricted"'
        code, _ = _code({"Authorization": "Bearer xyz"})
        assert code == 400
        bad = b64.b64encode(b"scott:wrong").decode()
        code, hdrs = _code({"Authorization": f"Basic {bad}"})
        assert code == 401
        # the challenge is sent on EVERY 401 (basic_auth.go:14)
        assert hdrs.get("WWW-Authenticate") == 'Basic realm="Restricted"'
        good = b64.b64encode(b"scott:tiger").decode()
        code, _ = _code({"Authorization": f"Basic {good}"})
        assert code == 200
    finally:
        gw.stop()


def test_push_body_content_encoding(gateway):
    """Reference middleware parity (writer/controller/middleware.go):
    gzip push bodies are decompressed, snappy on pb routes passes
    through to the decoder's own framing, unsupported encodings 400."""
    import gzip as _gzip
    import urllib.error

    base, _ = gateway
    payload = json.dumps(
        {"streams": [{"stream": {"app": "gz"},
                      "values": [[str(T0 + 777), "gzipped line"]]}]}
    ).encode()
    req = urllib.request.Request(
        base + "/loki/api/v1/push", data=_gzip.compress(payload),
        method="POST",
        headers={"Content-Encoding": "gzip",
                 "Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 204
    st, body = _get(
        base,
        "/loki/api/v1/query_range?query=%7Bapp%3D%22gz%22%7D",
    )
    assert st == 200
    lines = [v[1] for s in body["data"]["result"] for v in s["values"]]
    assert "gzipped line" in lines
    # unsupported encoding → the reference's 400
    req = urllib.request.Request(
        base + "/loki/api/v1/push", data=b"x", method="POST",
        headers={"Content-Encoding": "br"},
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as ex:
        assert ex.code == 400
        assert "not supported" in ex.read().decode()


def test_push_ttl_days_header(spark, tmp_path):
    """X-Ttl-Days stamps every row of the push with the request's TTL
    (middleware.go:167-173 ContextKeyTTLDays); rows without the header
    keep the decoder's default, and the bulk path keys groups by TTL so
    different TTLs never merge."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path / "store")
    cat = Catalog(root)
    gw = HttpGateway(StoreEngine(spark, root, catalog=cat))
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    try:
        for hdrs, line in (
            ({"X-Ttl-Days": "14"}, "ttl line"),
            ({}, "default line"),
            ({"X-Ttl-Days": "bogus"}, "bogus line"),
        ):
            payload = json.dumps(
                {"streams": [{"stream": {"app": "ttlh"},
                              "values": [[str(T0 + 888), line]]}]}
            ).encode()
            req = urllib.request.Request(
                base + "/loki/api/v1/push", data=payload, method="POST",
                headers=hdrs,
            )
            with urllib.request.urlopen(req, timeout=60) as r:
                assert r.status == 204
        rows = {
            r["string"]: r["ttl_days"]
            for r in cat.read(spark, "samples").collect()
        }
        assert rows["ttl line"] == 14
        assert rows["default line"] == 0
        assert rows["bogus line"] == 0  # unparsable header → default
    finally:
        gw.stop()


def test_snappy_body_too_long_400(gateway):
    """Snappy-labeled body on a non-pb route whose preamble declares
    >10 MiB decoded length gets the reference's 400 'body is too long'
    (middleware.go withUnsnappyRequest)."""
    import urllib.error

    base, _ = gateway
    preamble = bytes([0x80, 0x80, 0x80, 0x08])  # varint: 16 MiB
    req = urllib.request.Request(
        base + "/influx/write", data=preamble + b"xx", method="POST",
        headers={"Content-Encoding": "snappy"},
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as ex:
        assert ex.code == 400
        assert "too long" in ex.read().decode()


def test_gzip_body_decompressed_and_bomb_capped(gateway):
    """Content-Encoding: gzip bodies decompress through a CAPPED
    streaming inflater: a normal body lands, a ~1000x amplification
    bomb past the 100 MiB decoded cap answers the same 400 'body is
    too long' as the snappy path instead of inflating in memory."""
    import gzip as _gzip
    import json as _json
    import urllib.error

    base, _ = gateway
    payload = _json.dumps(
        {"streams": [{"stream": {"app": "gz"},
                      "values": [["1700000000000000000", "gz line"]]}]}
    ).encode()
    st, _body = _post_full(
        base, "/loki/api/v1/push", _gzip.compress(payload),
        {"Content-Encoding": "gzip", "Content-Type": "application/json"},
    )
    assert st == 204
    st, out = _get(
        base,
        "/loki/api/v1/query_range?query=%7Bapp%3D%22gz%22%7D"
        "&start=0&end=4000000000000000000",
    )
    assert st == 200
    assert "gz line" in json.dumps(out)

    bomb = _gzip.compress(b"\x00" * (150 * 1024 * 1024))  # ~150 MiB decoded
    req = urllib.request.Request(
        base + "/loki/api/v1/push", data=bomb, method="POST",
        headers={"Content-Encoding": "gzip",
                 "Content-Type": "application/json"},
    )
    try:
        urllib.request.urlopen(req, timeout=120)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as ex:
        assert ex.code == 400
        assert "too long" in ex.read().decode()


def test_gzip_truncated_body_rejected(gateway):
    """ADVICE r12: the streaming inflater skipped the CRC32/ISIZE
    trailer check gzip.decompress performs, so a TRUNCATED gzip body
    silently yielded a partial payload — for line-oriented kinds
    (influx, NDJSON) a cut at a line boundary validated clean and was
    acked 2xx with only part of the push ingested. Truncation must 400."""
    import gzip as _gzip
    import urllib.error

    base, _ = gateway
    # two influx lines; truncate the gzip stream at a point where the
    # inflated prefix still ends on a clean line boundary
    body = (b"cpu,host=h1 usage=0.5 1700000000000000000\n"
            b"cpu,host=h2 usage=0.7 1700000001000000000\n")
    gz = _gzip.compress(body)
    # chop the 8-byte CRC32+ISIZE trailer plus a bit of deflate tail
    truncated = gz[:-12]
    req = urllib.request.Request(
        base + "/influx/write", data=truncated, method="POST",
        headers={"Content-Encoding": "gzip"},
    )
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400 for truncated gzip body")
    except urllib.error.HTTPError as ex:
        assert ex.code == 400
        assert "truncated" in ex.read().decode()


def test_http_influx_push_end_to_end(gateway):
    """The influx write route splits the body into protocol lines and
    lands metric samples (was broken — fed the whole body as one row
    with the wrong column; found by the soak probe)."""
    base, _ = gateway
    body = (b"cpu,host=h1 usage=0.5 1700000000000000000\n"
            b"cpu,host=h2 usage=0.7 1700000001000000000\n")
    st, rbody = _post_full(base, "/influx/write", body,
                           {"Content-Type": "text/plain"})
    assert st == 204
    st, out = _get(
        base,
        "/api/v1/query?query=usage&time=1700000100",
    )
    assert st == 200
    vals = {r["metric"]["host"]: r["value"][1]
            for r in out["data"]["result"]}
    assert vals == {"h1": "0.5", "h2": "0.7"}
