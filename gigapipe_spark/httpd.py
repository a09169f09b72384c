"""Thin HTTP/WebSocket façade over an Engine (ref: the reference's
HTTP routers — reader/router/*.go for the query surface,
writer/router/* for pushes, and the WebSocket live tail in
reader/controller/query_range.go:158-245).

Stdlib-only (this container has no aiohttp): a ThreadingHTTPServer
mapping the reference's top route families onto the existing Engine
methods, plus a real RFC6455 WebSocket upgrade for /loki/api/v1/tail.
The façade serializes DataFrame results into the wire envelopes the
reference emits (Loki streams/matrix, Prometheus vector/matrix, Tempo
search traces, Pyroscope flamebearer levels); all query planning and
execution stay in the engine — this layer is transport only.

Push routes require a store-backed engine (StoreEngine with a Catalog).
One route table (`push_route`) maps a push to its bulk.KINDS name,
decode params and reference ack; the body is checked once
(`bulk.validate`) and then either enqueued in the bulk buffer or, with
bulk off or `X-Async-Insert: false`, written before the ack by
`bulk.write_group` on a group of one — the same decoder and MV fan-out
a bulk flush runs, completing the reference loop over a socket.

Scale note: the reference runs its readers/writers as horizontally
scaled stateless HTTP pods over shared ClickHouse; this façade is the
same shape over a shared Spark session / table store — N gateways can
front one store because all state lives in the tables.
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import struct
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

_WS_MAGIC = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class UnsupportedEncoding(ValueError):
    """Content-Encoding the reference rejects with a 400
    (writer/controller/middleware.go default branch)."""


def _labels_of(row) -> dict:
    lab = row["labels"] if "labels" in row.__fields__ else {}
    return dict(lab or {})


def _loki_envelope(rows, direction: str = "backward") -> dict:
    """Rows → Loki query_range response body (streams or matrix by
    shape, matching the reference's response builders)."""
    if rows and "string" in rows[0].__fields__:
        streams: dict[tuple, dict] = {}
        for r in rows:
            lab = _labels_of(r)
            key = tuple(sorted(lab.items()))
            s = streams.setdefault(key, {"stream": lab, "values": []})
            s["values"].append([str(r["timestamp_ns"]), r["string"]])
        return {
            "status": "success",
            "data": {"resultType": "streams", "result": list(streams.values())},
        }
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": _matrix(rows, direction)},
    }


def _matrix(rows, direction: str | None = None) -> list:
    """Rows → matrix series, each series' values in ascending time
    order whatever the row order (the Prometheus/Loki matrix contract;
    a backward query_range collects newest-first). With a Loki
    `direction` the rows are first put in query_range's row order
    (timestamp, fingerprint; a null fingerprint where Spark sorts it),
    so series come in the order a sorted collect shows them: the
    compiler leaves an unlimited metric result unsorted."""
    if direction is not None:
        rows = sorted(
            rows,
            key=lambda r: (
                r["timestamp_ns"], r["fingerprint"] is not None, r["fingerprint"] or 0
            ),
            reverse=direction == "backward",
        )
    series: dict[tuple, dict] = {}
    for r in rows:
        lab = _labels_of(r)
        key = tuple(sorted(lab.items()))
        s = series.setdefault(key, {"metric": lab, "values": []})
        s["values"].append([r["timestamp_ns"] / 1e9, str(r["value"])])
    for s in series.values():
        s["values"].sort(key=lambda v: v[0])
    return list(series.values())


def _prom_envelope(rows, instant: bool) -> dict:
    if instant:
        result = [
            {
                "metric": _labels_of(r),
                "value": [r["timestamp_ns"] / 1e9, str(r["value"])],
            }
            for r in rows
        ]
        rt = "vector"
    else:
        # series by label set, as upstream sorts a range query's Matrix
        # (labels.Compare): the rows' collect order is not stable
        result = sorted(_matrix(rows), key=lambda s: sorted(s["metric"].items()))
        rt = "matrix"
    return {"status": "success", "data": {"resultType": rt, "result": result}}


def _stream_labels(engine, df):
    """Log rows with their stream labels attached. The compiler skips
    the series join when the pipeline never reads labels (a
    bare-selector fact scan stays pruned); the HTTP envelope needs them
    — the reference's response builder attaches the stream's label set
    (query_range response shaping). Broadcast join, filled only where
    the compiler left labels null; returned as a frame, so the join is
    part of the read `Engine.served` collects."""
    from pyspark.sql import functions as F

    if "string" not in df.columns or "fingerprint" not in df.columns:
        return df
    series = engine.stream_labels().select(
        "fingerprint", F.col("labels").alias("__slabels")
    )
    return (
        df.join(F.broadcast(series), "fingerprint", "left")
        .withColumn("labels", F.coalesce(F.col("labels"), F.col("__slabels")))
        .drop("__slabels")
    )


def _served(engine, method: str, *args, shape=None) -> list:
    """Rows of `engine.<method>(*args)` through `Engine.served`, keyed
    on the method name and that exact argument tuple, so the key and
    the call cannot diverge. `shape(engine, df)` finishes the frame
    inside the served read. The rows may be kept and shared with later
    reads of the same key: never mutate them."""

    def build():
        df = getattr(engine, method)(*args)
        return df if shape is None else shape(engine, df)

    return engine.served((method, args), build)


# a step-local read spanning more blocks than this is served whole: its
# per-block keys would cost more than a re-run saves
BLOCKS_MAX = 31 * 24


def _step_local(widths, start_ns: int | None, end_ns: int | None) -> bool:
    """Whether a range read over [start, end) whose points bucket
    samples by `widths` (the compilers' `bucket_widths`, None when its
    answer can depend on the request's edges) is served from absolute
    blocks: every width must divide BLOCK_NS, so no bucket straddles a
    block edge, and the request's end, so the unsplit read's cut at
    end (its scans stop there) falls on a bucket edge too."""
    from gigapipe_spark.api import BLOCK_NS

    return (
        widths is not None
        and start_ns is not None
        and end_ns is not None
        and start_ns < end_ns
        and end_ns - start_ns <= (BLOCKS_MAX - 1) * BLOCK_NS
        and all(w > 0 and BLOCK_NS % w == 0 and end_ns % w == 0 for w in widths)
    )


def _served_range(engine, method, widths, query, start_ns, end_ns, *rest, shape=None):
    """Rows of the range read `engine.<method>(query, start, end,
    *rest)`: through `Engine.served_blocks`, keyed on the read without
    its window, when `_step_local` holds; else through `_served`."""
    if not _step_local(widths, start_ns, end_ns):
        return _served(engine, method, query, start_ns, end_ns, *rest, shape=shape)

    def build(lo, hi):
        df = getattr(engine, method)(query, lo, hi, *rest)
        return df if shape is None else shape(engine, df)

    return engine.served_blocks((method, query) + rest, start_ns, end_ns, build)


def _matches(q: dict, *names: str) -> tuple | None:
    """The first present match[] parameter as a tuple (hashable, so it
    can key a served read), else None."""
    for name in names:
        if name in q:
            return tuple(q[name])
    return None


def _multipart_first_file(body: bytes, ctype: str) -> bytes:
    """multipart/form-data → first part's payload (the reference's
    /ingest MIME path reads the uploaded profile part,
    binary_pprof.go UnmarshalProfileProtoV2 / go_pprof.go). Boundary
    from the Content-Type; malformed bodies fall through unchanged so
    the pprof parser reports the real error."""
    m = [p.split("=", 1)[1].strip('"') for p in ctype.split(";")
         if p.strip().startswith("boundary=")]
    if not m:
        return body
    delim = b"--" + m[0].encode()
    for part in body.split(delim):
        head, sep, payload = part.partition(b"\r\n\r\n")
        if sep and b"Content-Disposition" in head:
            # exactly one CRLF precedes the next boundary; binary
            # payloads may end in \r/\n/- bytes, so no blanket rstrip
            return payload[:-2] if payload.endswith(b"\r\n") else payload
    return body


def _pyroscope_payload(q: dict, body: bytes, ctype: str):
    """Pyroscope /ingest request checks (binary_pprof.go:25-170):
    from/name/until are required, `name` is service{k=v,...}, the
    body is a (gzip) pprof and multipart bodies contribute their
    first file part. Returns (framed payload, sample params), or
    the 400 message. The per-push metadata rides WITH the pprof
    body via bulk.frame_profile, so pushes with different
    from/name/until still coalesce in one group keyed only by
    (sampleType, sampleUnit), which agent fleets hold constant."""
    from gigapipe_spark.bulk import (
        BulkValidationError,
        _pb_wire_ok,
        frame_profile,
    )
    from gigapipe_spark.sources.ingest import (
        parse_pyroscope_name,
        pyroscope_ingest_ns,
    )

    for p in ("from", "name", "until"):
        if p not in q:
            return f"please provide {p} value"
    try:
        service, tags = parse_pyroscope_name(q["name"][0])
        start = pyroscope_ingest_ns(int(q["from"][0]))
        end = pyroscope_ingest_ns(int(q["until"][0]))
    except ValueError as ex:
        return str(ex)
    if "multipart/form-data" in ctype:
        body = _multipart_first_file(body, ctype)
    # pprof bodies are gzip (magic-checked) or bare protobuf
    # (wire-scanned) — malformed 400s before the ack
    try:
        if not body[:2] == b"\x1f\x8b":
            _pb_wire_ok(body)
    except BulkValidationError as ex:
        return str(ex)
    meta = {
        "service": service,
        "tags": tags,
        "start": start,
        "end": end,
        "spy": q.get("spyName", ["process_cpu"])[0],
    }
    params = {
        "sample_type": q.get("sampleType", ["cpu"])[0],
        "sample_unit": q.get("sampleUnit", ["nanoseconds"])[0],
    }
    return frame_profile(meta, body), params


_REMOTE_WRITE_PATHS = (
    "/api/prom/remote/write", "/api/v1/prom/remote/write",
    "/v1/prom/remote/write", "/prom/remote/write",
    "/api/prom/push",  # legacy alias, prom.go:14
)
_ELASTIC_ACK = json.dumps({"took": 0, "errors": False}).encode()


def push_route(path: str, q: dict, ctype: str):
    """Push route → (bulk.KINDS name, decode params, (status, ack
    body)), or None for a path no push route serves. The one route
    table of both push modes: params that change decode semantics key
    the bulk group, and the ack is the reference's per-route reply
    (writer/controller/*: loki/remote-write 204, datadog 202 {},
    elastic 200 took/errors, tempo 202, profiles 200 {}). The elastic
    catch-all patterns match LAST, like the reference's route
    registration order."""
    is_pb = "protobuf" in ctype or "octet-stream" in ctype
    if path == "/loki/api/v1/push":
        return ("loki_pb" if is_pb else "loki_json"), {}, (204, None)
    if path in _REMOTE_WRITE_PATHS:
        return "remote_write", {}, (204, None)
    if path == "/v1/logs":  # OTLP
        kind = "otlp_logs_pb" if is_pb else "otlp_logs_json"
        return kind, {}, (204, None)
    if path == "/v1/traces":  # OTLP
        kind = "otlp_traces_pb" if is_pb else "otlp_traces_json"
        return kind, {}, (200, b"{}")
    if path == "/api/v2/logs":  # Datadog logs
        return "datadog_logs", {}, (202, b"{}")
    if path == "/api/v2/series":  # Datadog metrics, insert.go:12
        return "datadog_metrics", {}, (202, b"{}")
    if path == "/cf/v1/insert":  # Cloudflare via Datadog, insert.go:13
        ddsource = q.get("ddsource", ["unknown"])[0]
        return "datadog_cf", {"ddsource": ddsource}, (202, b"{}")
    if path.startswith(("/influx", "/write")):
        # precision (influx.go:44 SetTimePrecision) changes decode
        # semantics, so a non-default one keys the group
        prec = q.get("precision", ["ns"])[0]
        params = {"precision": prec} if prec != "ns" else {}
        return "influx", params, (204, None)
    if path in ("/tempo/spans", "/api/v2/spans", "/tempo/api/push"):
        # content-type "ndjson" selects the line decoder (tempo.go:
        # PushV2 withSimpleParser("ndjson", ...)); else JSON array
        kind = "zipkin_ndjson" if "ndjson" in ctype else "zipkin_json"
        return kind, {}, (202, None)
    if path == "/ingest":  # Pyroscope, profile.go:10
        return "pyroscope", {}, (200, b"{}")
    if path == "/v1development/profiles":  # OTLP profiles, profile.go:12
        return "otlp_profiles", {}, (200, b"{}")
    if path.endswith("/_bulk"):  # Elastic, elastic.go:13-14
        target = path.rsplit("/", 2)[-2] if path.count("/") > 1 else ""
        params = {"target": target or "unknown"}
        return "elastic_bulk", params, (200, _ELASTIC_ACK)
    if "/_doc" in path or "/_create/" in path:  # elastic.go:9-12
        parts = [p for p in path.split("/") if p]
        params = {"target": parts[0] if parts else "unknown"}
        if len(parts) > 2 and parts[1] in ("_doc", "_create"):
            params["doc_id"] = parts[2]
        return "elastic_doc", params, (200, _ELASTIC_ACK)
    return None


def _ms_to_ns(val: str) -> int:
    """Pyroscope from/until: ms truncated to whole seconds (prof.go
    time.Unix(iVal/1000, 0)), clamped so the ns value stays inside
    int64 (a far-future `until` must mean "no upper bound", not a
    Spark overflow)."""
    secs = int(val) // 1000
    secs = max(min(secs, 9_223_372_036), -9_223_372_036)
    return secs * 1_000_000_000


def _int_arg(q: dict, name: str) -> int | None:
    v = q.get(name, [None])[0]
    if v is None:
        return None
    f = float(v)
    # Loki/Tempo pass ns; Prometheus passes (fractional) unix seconds.
    # Disambiguate by magnitude like the reference's parsers do.
    return int(f) if f > 1e15 else int(f * 1e9)


class _Handler(BaseHTTPRequestHandler):
    # engine injected by HttpGateway via subclassing
    engine = None
    protocol_version = "HTTP/1.1"
    allow_origin = "*"
    # per-request Spark deadline — the reference's PromQL engine runs
    # with Timeout: 30s (reader/router/prometheus_query_range.go:32)
    query_timeout_s: float | None = 30.0
    # optional ("user", "pass") — the reference's BasicAuthMiddleware,
    # enabled when AUTH_SETTINGS.BASIC is configured (reader.go:71-75)
    basic_auth: tuple[str, str] | None = None
    # MODE=all|reader|writer — which router set this process serves
    # (docs/configuration.md MODE / READONLY)
    mode = "all"
    # optional BulkWriter (bulk.py): when set, bufferable push routes
    # ack after enqueue and a flusher coalesces them into one decode +
    # fan-out per BULK_MAX_AGE_MS window — the reference writer's
    # batching contract. None = every push runs its own fan-out before
    # the ack (stronger than the reference).
    bulk = None

    def log_message(self, *a):  # quiet test output
        pass

    def end_headers(self) -> None:
        """Every response carries the CORS headers and OPTIONS
        preflights short-circuit to 200 — the reference wraps the whole
        router in one CORS middleware (reader/utils/middleware/
        cors_middleware.go:5-22, allowOrigin '' → '*')."""
        self.send_header(
            "Access-Control-Allow-Headers",
            "Origin,Content-Type,Accept,Content-Length,Accept-Language,"
            "Accept-Encoding,Connection,Access-Control-Allow-Origin",
        )
        self.send_header("Access-Control-Allow-Origin", self.allow_origin)
        self.send_header(
            "Access-Control-Allow-Methods",
            "GET,POST,HEAD,PUT,DELETE,PATCH,OPTIONS",
        )
        self.send_header("Access-Control-Allow-Credentials", "true")
        super().end_headers()

    def _unauthorized(self) -> None:
        """401 + the reference's challenge header, verbatim
        (basic_auth.go:14 `Basic realm="Restricted"`), on every 401 —
        missing header or wrong credentials alike."""
        body = b"Unauthorized\n"
        self.send_response(401)
        self.send_header("WWW-Authenticate", 'Basic realm="Restricted"')
        self.send_header("Content-Type", "text/plain; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _check_auth(self) -> bool:
        """BasicAuthMiddleware (basic_auth.go:9-36): missing header →
        401 + WWW-Authenticate; non-Basic scheme → 400; wrong creds →
        401. Plain-text bodies like Go's http.Error. True = proceed.

        The credential compare is timing-safe (hmac.compare_digest);
        the reference uses a plain `!=` there, but constant time costs
        one line and closes a credential-oracle nit (VERDICT r10)."""
        if self.basic_auth is None:
            return True
        auth = self.headers.get("Authorization", "")
        if not auth:
            self._unauthorized()
            return False
        parts = auth.split(" ", 1)
        if len(parts) != 2 or parts[0] != "Basic":
            self._text("Invalid authorization header\n", 400)
            return False
        try:
            pair = base64.b64decode(parts[1]).decode().split(":", 1)
        except Exception:
            pair = []
        import hmac

        ok = len(pair) == 2 and (
            hmac.compare_digest(pair[0], self.basic_auth[0])
            & hmac.compare_digest(pair[1], self.basic_auth[1])
        )
        if not ok:
            self._unauthorized()
            return False
        return True

    def do_OPTIONS(self) -> None:
        if not self._check_auth():
            return
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    # ------------------------------------------------------------ util
    def _send_body(self, body: bytes, code: int, ctype: str) -> None:
        """One body sender for every non-push route: gzip any 2xx when
        the client sent Accept-Encoding: gzip, exactly the reference's
        AcceptEncodingMiddleware (reader/utils/middleware/
        accept_encoding.go:14-23 wraps the whole router; :54-66 only
        2xx bodies are compressed, errors pass through identity)."""
        if (
            code // 100 == 2
            and body
            and "gzip" in (self.headers.get("Accept-Encoding") or "")
        ):
            import gzip as _gzip

            body = _gzip.compress(body)
            self.send_response(code)
            self.send_header("Content-Encoding", "gzip")
        else:
            self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, obj, code: int = 200) -> None:
        self._send_body(
            json.dumps(obj).encode(), code, "application/json"
        )

    def _push_ok(self, code: int = 204, body: bytes | None = None) -> None:
        """Push-route success reply (the reference's withOkStatusAndBody
        per writer/controller/*: loki/remote-write 204, datadog 202 {},
        elastic 200 took/errors, tempo 202, profiles 200 {}). A 204/202
        with no body sends headers only with Content-Length 0 — RFC
        clients don't read a body on 204, so stray bytes would desync
        the next response on an HTTP/1.1 keep-alive connection."""
        self.send_response(code)
        if body:
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        else:
            self.send_header("Content-Length", "0")
            self.end_headers()

    def _yaml(self, s: str, code: int = 200) -> None:
        """Ruler API responses are YAML (ruler/controller/controller.go:24
        writeYAML)."""
        self._send_body(s.encode(), code, "application/yaml")

    def _ruler_success(self) -> None:
        """202 + the success envelope (controller.go:31 writeSuccessJSON)."""
        self._json(
            {"status": "success", "data": None, "errorType": "", "error": ""},
            202,
        )

    @staticmethod
    def _rules_route(path: str):
        """Split a ruler CRUD path into (rule_type, [namespace, group]).

        /loki/api/v1/rules and /api/prom/rules serve the Loki rule set,
        /api/v1/rules the Prometheus one (ruler/router/router.go:15-34).
        Returns None for non-ruler paths."""
        from urllib.parse import unquote

        for prefix, tp in (
            ("/loki/api/v1/rules", "loki"),
            ("/api/prom/rules", "loki"),
            ("/api/v1/rules", "prom"),
        ):
            if path == prefix or path.startswith(prefix + "/"):
                rest = path[len(prefix):].strip("/")
                parts = [unquote(p) for p in rest.split("/") if p]
                if len(parts) <= 2:
                    return tp, parts
        return None

    def _rule_managers(self):
        """The engine's rule managers (StoreEngine.rule_managers); None
        without a store."""
        build = getattr(self.engine, "rule_managers", None)
        return None if build is None else build()

    def _text(
        self,
        s: str,
        code: int = 200,
        ctype: str = "text/plain; charset=utf-8",
    ) -> None:
        self._send_body(s.encode(), code, ctype)

    # pb routes whose DECODERS own the snappy framing (protowire
    # loki_push_pb / remote_write decompress per payload, with the
    # decode-error accumulator catching bad bodies) — the gateway must
    # not decompress these twice
    _SNAPPY_NATIVE = ("/loki/api/v1/push", *_REMOTE_WRITE_PATHS)

    def _body(self) -> bytes:
        """Request body with the reference's Content-Encoding handling
        (writer/controller/middleware.go): gzip is decompressed here;
        snappy is lenient — "sometimes senders just send uncompressed
        data with content-encoding: snappy. Complete mess" — so a
        failed snappy decode falls back to the raw bytes; anything else
        is a 400 (raised as ValueError, mapped by the POST/PUT
        handlers)."""
        n = int(self.headers.get("Content-Length", "0"))
        raw = self.rfile.read(n) if n else b""
        enc = (self.headers.get("Content-Encoding") or "").strip().lower()
        if not enc or enc == "identity" or not raw:
            return raw
        if enc == "gzip":
            # streaming decompress with a decoded-size cap: gzip
            # amplifies ~1000×, so a kilobytes-sized bomb body would
            # otherwise inflate fully in memory on any push route —
            # the same asymmetric-DoS shape the snappy preamble check
            # below closes. 100 MiB comfortably clears any legitimate
            # single push body.
            import zlib as _zlib

            cap = 100 * 1024 * 1024
            d = _zlib.decompressobj(16 + _zlib.MAX_WBITS)
            out = d.decompress(raw, cap)
            if d.unconsumed_tail:
                raise UnsupportedEncoding("body is too long")
            # gzip.decompress verified the CRC32/ISIZE trailer; the
            # streaming object doesn't unless we check eof — a
            # truncated body would otherwise yield a silent partial
            # payload that line-oriented kinds (influx, NDJSON) happily
            # ack while ingesting only part of the push.
            if not d.eof:
                raise UnsupportedEncoding("truncated gzip body")
            return out
        if enc == "snappy":
            if urlparse(self.path).path in self._SNAPPY_NATIVE:
                return raw  # the decoder owns the snappy framing
            # decoded-length preamble varint check BEFORE allocating
            # (middleware.go withUnsnappyRequest: >10 MiB → 400
            # "body is too long")
            dlen, shift = 0, 0
            for i in range(min(len(raw), 5)):
                dlen |= (raw[i] & 0x7F) << shift
                shift += 7
                if not raw[i] & 0x80:
                    break
            if dlen > 10 * 1024 * 1024:
                raise UnsupportedEncoding("body is too long")
            from gigapipe_spark.sources.protowire import snappy_uncompress

            try:
                return snappy_uncompress(raw)
            except Exception:
                return raw  # the reference's lenient fallback
        raise UnsupportedEncoding(f"{enc} encoding not supported")

    def _default_error(self, code: int, msg: str) -> None:
        """Pyroscope-route error body (prof.go:370-374 defaultError):
        a bare JSON-quoted, HTML-escaped string — NOT the Prometheus
        envelope."""
        import html as _html

        self._send_body(
            json.dumps(_html.escape(msg)).encode(), code, "application/json"
        )

    def _prom_error(self, code: int, msg: str) -> None:
        """PromError envelope (prom_query_range.go:160-168): status
        error, errorType "error"."""
        return self._json(
            {"status": "error", "errorType": "error", "error": msg}, code
        )

    @staticmethod
    def _prom_parse_check(expr: str) -> str | None:
        """Parse-only probe: the reference 400s PromQL SYNTAX errors
        before planning (prom_query_instant.go:36-39 promql_parser.Parse
        err → PromError(400)); returns the message or None."""
        from gigapipe_spark.promql import parser as promql_parser

        try:
            promql_parser.parse(expr)
        except ValueError as ex:  # LogQLSyntaxError subclasses ValueError
            return str(ex)
        except Exception:
            return None  # non-syntax failure: let the real path 500
        return None

    # the 30s engine deadline applies ONLY to PromQL evaluation routes
    # — the reference constructs its promql engine with Timeout: 30s
    # (prometheus_query_range.go:32) while LogQL/Tempo/Pyroscope routes
    # are bounded only by client-disconnect ctx cancellation, so a
    # legitimately heavy trace scan must not 503 at 30s here either
    # (ADVICE r10)
    _DEADLINE_ROUTES = ("/api/v1/query", "/api/v1/query_range")

    def _guard(self, desc: str, path: str | None = None):
        """Per-request RequestGuard: Spark deadline (PromQL routes
        only, see _DEADLINE_ROUTES) + cancel-on-client-disconnect for
        every query route (ref: prometheus_query_range.go:32 engine
        Timeout, PlannerContext ctx threading in shared/types.go)."""
        from gigapipe_spark.cancel import RequestGuard

        timeout = (
            self.query_timeout_s
            if path is not None and path in self._DEADLINE_ROUTES
            else None
        )
        return RequestGuard(
            self.engine.spark,
            timeout,
            sock=self.connection,
            desc=desc,
        )

    def _guard_error(self, guard, ex: Exception):
        """Map a guard-cancelled Spark error to the reference's
        envelope: engine timeout → HTTP 503 errorType=timeout (the
        Prometheus API contract the reference inherits from api_v1);
        client disconnect → drop the connection, nobody is reading."""
        if guard is not None and guard.reason == "timeout":
            return self._json(
                {
                    "status": "error",
                    "errorType": "timeout",
                    "error": (
                        "query timed out in expression evaluation after "
                        f"{guard.timeout_s}s"
                    ),
                },
                503,
            )
        if guard is not None and guard.reason == "disconnect":
            self.close_connection = True
            return None
        return self._json({"status": "error", "error": str(ex)}, 500)

    # routes a MODE=writer process still serves (the reference's writer
    # service registers its own health/config/metrics next to the push
    # routes; everything else belongs to the reader router)
    _WRITER_MODE_GET = frozenset(("/ready", "/config", "/metrics"))

    # ------------------------------------------------------------ GET
    def do_GET(self) -> None:  # noqa: C901 - one router, like the reference's
        if not self._check_auth():
            return
        url = urlparse(self.path)
        q = parse_qs(url.query)
        path = url.path
        # /tempo/api/* aliases route to the same handlers (tempo.go
        # registers both prefixes)
        if path.startswith("/tempo/api/"):
            path = "/api/" + path[len("/tempo/api/"):]
        # MODE=writer runs ingestion only: query routes are simply not
        # registered in the reference's writer service, so they 404
        # (docs/configuration.md MODE; router assembly reader.go/writer.go)
        if self.mode == "writer" and path not in self._WRITER_MODE_GET:
            return self._json({"error": f"unknown route {path}"}, 404)
        e = self.engine
        # live tail runs an unbounded loop with its own disconnect
        # detection — exempt from the 30s query deadline (the reference
        # likewise scopes the engine timeout to query evaluation, not
        # the tail WebSocket)
        if path == "/loki/api/v1/tail" or (
            path == "/loki/api/v1/query_range"
            and "Upgrade" in self.headers.get("Connection", "")
        ):
            try:
                return self._tail_ws(q)
            except BrokenPipeError:
                raise
            except Exception as ex:
                return self._json({"status": "error", "error": str(ex)}, 500)
        def route():
            if path == "/ready":
                return self._text(e.ready())
            if path == "/config":
                return self._text(e.config())
            if path == "/metrics":
                body = e.metrics()
                if self.bulk is not None:
                    b = self.bulk
                    body += (
                        "# TYPE bulk_flush_cycles_total counter\n"
                        f"bulk_flush_cycles_total {b.flushes}\n"
                        "# TYPE bulk_flush_errors_total counter\n"
                        f"bulk_flush_errors_total {b.errors}\n"
                        "# TYPE bulk_queue_bytes gauge\n"
                        f"bulk_queue_bytes {b._size}\n"
                        "# TYPE bulk_dropped_payloads_total counter\n"
                        f"bulk_dropped_payloads_total {b.dropped_payloads}\n"
                        "# TYPE bulk_rejected_total counter\n"
                        f"bulk_rejected_total {b.rejected}\n"
                    )
                return self._text(body)
            if path == "/api/echo":
                return self._text(e.tempo_echo())
            if path in ("/influx/health", "/influx/api/v2/write/health"):
                # writer/router/insert.go:16-17 → HealthInflux =
                # withOkStatusAndBody(200, nil): 200, empty body
                return self._push_ok(200)
            if path == "/api/v1/status/buildinfo":
                return self._json(e.buildinfo())

            if path == "/loki/api/v1/query_range":
                if "Upgrade" in self.headers.get("Connection", ""):
                    return self._tail_ws(q)
                if "query" not in q:
                    # query_range.go:36-39 PromError(400, …)
                    return self._prom_error(400, "query parameter is required")
                from gigapipe_spark.logql.compiler import bucket_widths

                direction = q.get("direction", ["backward"])[0]
                limit = int(q["limit"][0]) if "limit" in q else None
                rows = _served_range(
                    e, "loki_query_range",
                    None if limit is not None else bucket_widths(q["query"][0]),
                    q["query"][0],
                    _int_arg(q, "start"),
                    _int_arg(q, "end"),
                    limit,
                    direction,
                    shape=_stream_labels,
                )
                return self._json(_loki_envelope(rows, direction))
            if path == "/loki/api/v1/query":
                rows = _served(
                    e, "loki_query", q["query"][0], _int_arg(q, "time"),
                    shape=_stream_labels,
                )
                return self._json(_loki_envelope(rows))
            if path == "/loki/api/v1/tail":
                return self._tail_ws(q)
            if path in ("/loki/api/v1/labels", "/loki/api/v1/label"):
                vals = [
                    r["key"]
                    for r in _served(e, "loki_labels", _matches(q, "match[]"))
                ]
                return self._json({"status": "success", "data": sorted(vals)})
            if path.startswith("/loki/api/v1/label/") and path.endswith("/values"):
                name = unquote(path.split("/")[-2])
                vals = [
                    r["val"]
                    for r in _served(
                        e, "loki_label_values", name, _matches(q, "match[]")
                    )
                ]
                return self._json({"status": "success", "data": sorted(vals)})
            if path == "/loki/api/v1/series":
                rows = _served(
                    e, "loki_series", _matches(q, "match[]", "match") or ()
                )
                return self._json(
                    {"status": "success", "data": [_labels_of(r) for r in rows]}
                )
            if path == "/loki/api/v1/index/stats":
                r = e.loki_index_stats().collect()[0]
                return self._json(
                    {
                        "streams": r["streams"],
                        "entries": r["entries"],
                        "bytes": r["bytes"],
                        "chunks": 0,
                    }
                )
            if path == "/loki/api/v1/index/volume":
                rows = e.loki_index_volume(
                    query=q.get("query", [None])[0],
                    target_labels=(
                        q["targetLabels"][0].split(",")
                        if "targetLabels" in q
                        else None
                    ),
                    start_ns=_int_arg(q, "start"),
                    end_ns=_int_arg(q, "end"),
                ).collect()
                return self._json(
                    {
                        "status": "success",
                        "data": [r.asDict(recursive=True) for r in rows],
                    }
                )
            if path == "/loki/api/v1/detected_labels":
                rows = e.loki_detected_labels(q.get("query", [None])[0]).collect()
                return self._json(
                    {
                        "detectedLabels": [
                            r.asDict(recursive=True) for r in rows
                        ]
                    }
                )
            if path == "/loki/api/v1/detected_fields":
                rows = e.loki_detected_fields(q.get("query", [None])[0]).collect()
                return self._json(
                    {"fields": [r.asDict(recursive=True) for r in rows]}
                )
            if path == "/loki/api/v1/patterns":
                # query is REQUIRED (volume.go:137-141); step defaults
                # 15s, floored at 1s (volume.go:147-149)
                if "query" not in q:
                    return self._json(
                        {"status": "error",
                         "error": "query parameter is required"},
                        400,
                    )
                step_ns = max(
                    int(float(q.get("step", ["15"])[0]) * 1e9),
                    1_000_000_000,
                )
                rows = e.loki_patterns(
                    q["query"][0],
                    _int_arg(q, "start"),
                    _int_arg(q, "end"),
                    step_ns,
                ).collect()
                return self._json(
                    {
                        "status": "success",
                        "data": [
                            {
                                "pattern": r["pattern"],
                                "samples": [
                                    [s["timestamp_s"], s["count"]]
                                    for s in r["samples"]
                                ],
                            }
                            for r in rows
                        ],
                    }
                )

            if path == "/api/v1/query":
                # missing query / PARSE errors are 400s in the reference
                # (prom_query_instant.go:31-39 PromError(400, …)); only
                # transpile/execute failures stay 500
                if "query" not in q:
                    return self._prom_error(400, "query parameter is required")
                err = self._prom_parse_check(q["query"][0])
                if err is not None:
                    return self._prom_error(400, err)
                t = _int_arg(q, "time")
                rows = _served(
                    e, "prom_query",
                    q["query"][0], time.time_ns() if t is None else t,
                )
                return self._json(_prom_envelope(rows, instant=True))
            if path == "/api/v1/query_range":
                if "query" not in q:
                    return self._prom_error(400, "query parameter is required")
                step = q.get("step", [None])[0]
                start_ns, end_ns = _int_arg(q, "start"), _int_arg(q, "end")
                # step<=0 guard BEFORE the cap (prom_query_range.go:57-62
                # — a zero step would dodge the cap via falsiness and a
                # negative one makes it trivially false; ADVICE r10)
                if step is not None and float(step) <= 0:
                    return self._prom_error(
                        400,
                        "zero or negative query resolution step widths "
                        "are not accepted. Try a positive integer",
                    )
                step_ns = int(float(step) * 1e9) if step else None
                # resolution cap, verbatim (prom_query_range.go:64-71),
                # on the step the grid is built with: the engine's
                # default when the request names none; integer division
                # matches Go's duration division on the exact boundary
                if (
                    start_ns is not None
                    and end_ns is not None
                    and (end_ns - start_ns) // (step_ns or e.prom_step_ns) > 11000
                ):
                    return self._prom_error(
                        500,
                        "exceeded maximum resolution of 11,000 points per "
                        "timeseries. Try decreasing the query resolution "
                        "(?step=XX)",
                    )
                err = self._prom_parse_check(q["query"][0])
                if err is not None:
                    return self._prom_error(400, err)
                from gigapipe_spark.promql.compiler import bucket_widths

                rows = _served_range(
                    e, "prom_query_range",
                    bucket_widths(q["query"][0], step_ns or e.prom_step_ns),
                    q["query"][0], start_ns, end_ns, step_ns,
                )
                return self._json(_prom_envelope(rows, instant=False))
            if path == "/api/v1/labels":
                vals = [
                    r["key"]
                    for r in _served(e, "prom_labels", _matches(q, "match[]"))
                ]
                return self._json({"status": "success", "data": sorted(vals)})
            if path.startswith("/api/v1/label/") and path.endswith("/values"):
                name = unquote(path.split("/")[-2])
                vals = [
                    r["val"]
                    for r in _served(
                        e, "prom_label_values", name, _matches(q, "match[]")
                    )
                ]
                return self._json({"status": "success", "data": sorted(vals)})
            if path == "/api/v1/series":
                rows = _served(
                    e, "prom_series",
                    _matches(q, "match[]", "match") or (),
                    _int_arg(q, "start"),
                    _int_arg(q, "end"),
                )
                return self._json(
                    {"status": "success", "data": [_labels_of(r) for r in rows]}
                )
            if path == "/api/v1/query_exemplars":
                rows = e.prom_query_exemplars(q.get("query", [""])[0]).collect()
                return self._json(
                    {
                        "status": "success",
                        "data": [r.asDict(recursive=True) for r in rows],
                    }
                )
            if path == "/api/v1/metadata":
                out: dict[str, list] = {}
                for r in e.prom_metadata().collect():
                    out.setdefault(r["metric_name"], []).append(
                        json.loads(r["metadata_json"])
                    )
                return self._json({"status": "success", "data": out})

            if path == "/api/search":
                limit = int(q.get("limit", ["20"])[0])
                bounds = (limit, _int_arg(q, "start"), _int_arg(q, "end"))
                if "tags" in q:  # legacy pre-TraceQL search
                    rows = _served(e, "tempo_search_tags", q["tags"][0], *bounds)
                else:
                    rows = _served(
                        e, "tempo_search",
                        q.get("q", [None])[0] or q.get("query", [None])[0],
                        *bounds,
                    )
                return self._json(
                    {"traces": [r.asDict(recursive=True) for r in rows]}
                )
            if path.startswith("/api/traces/"):
                # /api/traces/{id} and its /json alias
                tid = path.removesuffix("/json").rsplit("/", 1)[-1]
                rows = e.tempo_trace(tid).collect()
                return self._json(
                    {"batches": [r.asDict(recursive=True) for r in rows]}
                )
            if path == "/api/search/tags":
                rows = e.tempo_tags().collect()
                return self._json({"tagNames": sorted(r["key"] for r in rows)})
            if path == "/api/v2/search/tags":
                rows = e.tempo_tags_v2(q.get("q", [None])[0]).collect()
                scopes: dict[str, list] = {}
                for r in rows:
                    scopes.setdefault(r["scope"], []).append(r["tag"])
                return self._json(
                    {
                        "scopes": [
                            {"name": k, "tags": sorted(v)}
                            for k, v in sorted(scopes.items())
                        ]
                    }
                )
            if (
                path.startswith(("/api/search/tag/", "/api/v2/search/tag/"))
                and path.endswith("/values")
            ):
                name = unquote(path.split("/")[-2])
                rows = e.tempo_tag_values(name, q.get("q", [None])[0]).collect()
                return self._json(
                    {"tagValues": sorted(r["val"] for r in rows)}
                )
            if path == "/api/metrics/query_range":
                rows = e.tempo_metrics_query_range(q["q"][0]).collect()
                return self._json(
                    {"series": [r.asDict(recursive=True) for r in rows]}
                )
            if path == "/api/metrics/query":
                rows = e.tempo_metrics_query_instant(
                    q["q"][0], _int_arg(q, "start"), _int_arg(q, "end")
                ).collect()
                return self._json(
                    {"series": [r.asDict(recursive=True) for r in rows]}
                )

            if path == "/pyroscope/render-diff":
                # reference contract: six required params, per-side ms
                # bounds truncated to seconds (prof.go RenderDiff);
                # `left`/`right` bare service names remain a documented
                # engine convenience (no bounds) when BOTH are present
                legacy = "left" in q and "right" in q
                bounds: dict[str, int | None] = {}
                if not legacy:
                    for param in (
                        "leftQuery", "leftFrom", "leftUntil",
                        "rightQuery", "rightFrom", "rightUntil",
                    ):
                        if not q.get(param, [""])[0]:
                            return self._default_error(
                                400, f"Missing required parameter: {param}"
                            )
                    for param in (
                        "leftFrom", "leftUntil", "rightFrom", "rightUntil"
                    ):
                        try:
                            bounds[param] = _ms_to_ns(q[param][0])
                        except ValueError:
                            return self._default_error(
                                400,
                                f"Invalid value for {param}: {q[param][0]}",
                            )

                def _svc(side: str) -> str:
                    if side in q:
                        return q[side][0]
                    from gigapipe_spark.prof import selector as psel

                    sels = psel.parse_profile_selector(
                        psel.detach_type_id(q[side + "Query"][0])[1]
                    )
                    for sel in sels:
                        if sel.name == "service_name" and sel.op == "=":
                            return sel.val
                    raise ValueError(f"{side}Query needs service_name=")

                rows = e.pyroscope_render_diff(
                    _svc("left"),
                    _svc("right"),
                    q.get("profile_type_id", [None])[0],
                    left_start_ns=bounds.get("leftFrom"),
                    left_end_ns=bounds.get("leftUntil"),
                    right_start_ns=bounds.get("rightFrom"),
                    right_end_ns=bounds.get("rightUntil"),
                ).collect()
                return self._json(
                    {"diff": [r.asDict(recursive=True) for r in rows]}
                )
            if path == "/pyroscope/render":
                # query/from/until are REQUIRED and from/until are ms
                # truncated to whole seconds (prof.go Render:208-223
                # time.Unix(iVal/1000, 0)); param errors are 400s with
                # the defaultError quoted-string body
                for param in ("query", "from", "until"):
                    if not q.get(param, [""])[0]:
                        return self._default_error(
                            400, f"Missing required parameter: {param}"
                        )
                bounds = {}
                for param in ("from", "until"):
                    try:
                        bounds[param] = _ms_to_ns(q[param][0])
                    except ValueError:
                        return self._default_error(
                            400,
                            f"Invalid value for {param}: {q[param][0]}",
                        )
                if q.get("format", [""])[0] == "dot":
                    # prof.go Render format=dot branch: maxNodes parsed
                    # leniently (bad ints ignored), DOT content type
                    max_nodes = 0
                    mn = q.get("maxNodes", [""])[0]
                    if mn:
                        try:
                            max_nodes = int(mn)
                        except ValueError:
                            pass
                    dot = e.pyroscope_render_dot(
                        service=q.get("service", [None])[0],
                        selector=q.get("query", [None])[0],
                        profile_type_id=q.get("profile_type_id", [None])[0],
                        start_ns=bounds["from"],
                        end_ns=bounds["until"],
                        max_nodes=max_nodes,
                    )
                    return self._text(
                        dot, ctype="text/vnd.graphviz; charset=utf-8"
                    )
                levels = e.pyroscope_render(
                    service=q.get("service", [None])[0],
                    selector=q.get("query", [None])[0],
                    profile_type_id=q.get("profile_type_id", [None])[0],
                    start_ns=bounds["from"],
                    end_ns=bounds["until"],
                )
                return self._json(
                    {
                        "flamebearer": {
                            "levels": [
                                [
                                    [d["id"], d["parent"], d["self"], d["total"]]
                                    for d in lvl
                                ]
                                for lvl in levels
                            ],
                            "numTicks": sum(d["total"] for d in levels[0])
                            if levels
                            else 0,
                        }
                    }
                )
            if path == "/prometheus/api/v1/rules" or (
                path == "/api/v1/rules" and self._rules_route(path)
            ):
                # Prometheus-format listing: bare /api/v1/rules serves
                # the prom rule set, /prometheus/api/v1/rules the Loki
                # one in the same wire format (router.go:28,37)
                mgrs = self._rule_managers()
                if mgrs is None:
                    return self._json(
                        {"error": "ruler routes need a store-backed engine"},
                        501,
                    )
                tp = "loki" if path.startswith("/prometheus/") else "prom"
                return self._json(
                    {
                        "status": "success",
                        "errorType": "",
                        "error": "",
                        "data": {"groups": mgrs[tp].get_prometheus_rules()},
                    }
                )
            rr = self._rules_route(path)
            if rr is not None:
                mgrs = self._rule_managers()
                if mgrs is None:
                    return self._json(
                        {"error": "ruler routes need a store-backed engine"},
                        501,
                    )
                tp, parts = rr
                store = mgrs[tp].store
                import yaml as _yaml_mod

                if len(parts) == 0:
                    # AllRules (controller.go:100-117)
                    groups = store.get_all_rule_groups()
                    if not groups:
                        return self._yaml("no rule groups found", 404)
                    return self._yaml(
                        _yaml_mod.safe_dump(
                            {
                                ns: [g.to_dict() for g in gs]
                                for ns, gs in groups.items()
                            },
                            sort_keys=False,
                        )
                    )
                if len(parts) == 1:
                    # RulesByNamespace (controller.go:79-97)
                    groups = store.list_rule_groups(parts[0])
                    if not groups:
                        return self._yaml('message: "no rule groups found"', 404)
                    return self._yaml(
                        _yaml_mod.safe_dump(
                            {parts[0]: [g.to_dict() for g in groups]},
                            sort_keys=False,
                        )
                    )
                # GetRuleGroup (controller.go:59-76)
                group = store.get_rule_group(parts[0], parts[1])
                if group is None:
                    return self._yaml(
                        "message: \"group does not exist: namespace="
                        f"{json.dumps(parts[0])}, name={json.dumps(parts[1])}\"",
                        404,
                    )
                from gigapipe_spark.streaming.rules import group_to_yaml

                return self._yaml(group_to_yaml(group))
            return self._json({"error": f"unknown route {path}"}, 404)

        return self._guarded_read(f"GET {path}", path, route)

    def _guarded_read(self, desc: str, path: str, read):
        """Run one read route under a RequestGuard (see `_guard`) and
        answer its errors; one route fails, the server survives. A
        rotate/compact deleting files under a read needs no retry here:
        the engine reads one pinned snapshot per mutation seq, answers
        from it while a maintenance walk runs, and never names a file
        that is already gone (storage/query.py `_store`)."""
        guard = self._guard(desc, path=path)
        try:
            with guard:
                return read()
        except BrokenPipeError:
            raise
        except Exception as ex:
            return self._guard_error(guard, ex)

    def _querier_v1(self, method: str, req: dict):
        """connect-protocol Pyroscope querier RPCs (reader/router/
        prof.go:13-23 registers them as POST JSON routes)."""
        e = self.engine
        if method == "ProfileTypes":
            rows = e.pyroscope_profile_types().collect()
            return {
                "profileTypes": [
                    {
                        "ID": r["profile_type_id"],
                        "name": r["name"],
                        "sampleType": r["sample_type"],
                        "sampleUnit": r["sample_unit"],
                        "periodType": r["period_type"],
                        "periodUnit": r["period_unit"],
                    }
                    for r in rows
                ]
            }
        if method == "LabelNames":
            rows = e.pyroscope_label_names(req.get("matchers")).collect()
            return {"names": sorted(r["key"] for r in rows)}
        if method == "LabelValues":
            rows = e.pyroscope_label_values(
                req["name"], req.get("matchers")
            ).collect()
            return {"names": sorted(r["val"] for r in rows)}
        if method == "Series":
            rows = e.pyroscope_series(
                req.get("matchers"), req.get("labelNames")
            ).collect()
            return {
                "labelsSet": [
                    {
                        "labels": [
                            {"name": k, "value": v}
                            for k, v in sorted(_labels_of(r).items())
                        ]
                    }
                    for r in rows
                ]
            }
        if method == "SelectSeries":
            rows = e.pyroscope_select_series(
                req.get("labelSelector", "{}"),
                req.get("groupBy", []),
                int(float(req.get("step", 15)) * 1e9),
                "avg" if str(req.get("aggregation", "")).endswith("AVERAGE") else "sum",
            ).collect()
            return {"series": [r.asDict(recursive=True) for r in rows]}
        if method == "SelectMergeProfile":
            rows = e.pyroscope_merge_profiles(
                req.get("labelSelector"), req.get("profileTypeID")
            ).collect()
            return {"tree": [r.asDict(recursive=True) for r in rows]}
        if method == "GetProfileStats":
            r = e.pyroscope_profile_stats().collect()[0]
            return {
                "dataIngested": bool(r["data_ingested"]),
                "oldestProfileTime": r["oldest_profile_time_ms"],
                "newestProfileTime": r["newest_profile_time_ms"],
            }
        if method == "AnalyzeQuery":
            r = e.pyroscope_analyze(req.get("query", "{}")).collect()[0]
            return {
                "queryImpact": {
                    "totalBytesInTimeRange": r["profile_size"],
                    "totalQueriedSeries": r["fingerprint_count"],
                }
            }
        return None

    # ------------------------------------------------------------ POST
    # Prometheus-compatible routes the reference registers for BOTH
    # verbs (prometheus_query_range.go:65-66 GET,POST; prometheus_
    # labels.go:20,26) — Grafana POSTs these with a form-encoded body
    _FORM_POST_ROUTES = frozenset(
        ("/api/v1/query_range", "/api/v1/query", "/api/v1/labels",
         "/api/v1/series")
    )

    def do_POST(self) -> None:
        if not self._check_auth():
            return
        url = urlparse(self.path)
        path, q = url.path, parse_qs(url.query)
        e = self.engine
        if self.mode == "writer" and (
            path in self._FORM_POST_ROUTES
            or path.startswith("/querier.v1.QuerierService/")
            or path == "/settings.v1.SettingsService/Get"
            or self._rules_route(path) is not None
        ):
            # reader-router POSTs aren't registered in writer mode
            return self._json({"error": f"unknown route {path}"}, 404)
        if path in self._FORM_POST_ROUTES:
            # merge the urlencoded body over the URL params and run the
            # same handler as GET (the reference's controller reads
            # r.FormValue, which does exactly this merge). The body
            # read is guarded: an unsupported Content-Encoding or a
            # torn gzip body must answer the same 400 JSON every other
            # POST path returns, not a dropped connection.
            try:
                body_q = parse_qs(self._body().decode("utf-8", "replace"))
            except Exception as ex:
                return self._json(
                    {"status": "error", "error": str(ex)}, 400
                )
            merged = {**q, **body_q}
            from urllib.parse import urlencode

            self.path = path + "?" + urlencode(merged, doseq=True)
            return self.do_GET()
        cat = getattr(e, "catalog", None)
        try:
            if path.startswith("/querier.v1.QuerierService/"):
                body = self._body()
                req = json.loads(body or b"{}")

                def rpc():
                    out = self._querier_v1(path.rsplit("/", 1)[-1], req)
                    if out is None:
                        return self._json({"error": f"unknown rpc {path}"}, 404)
                    return self._json(out)

                # querier RPCs are reads — same per-request deadline
                # and disconnect cancellation as the GET query surface
                return self._guarded_read(f"POST {path}", path, rpc)
            if path == "/settings.v1.SettingsService/Get":
                return self._json(e.pyroscope_settings())
            rr = self._rules_route(path)
            if rr is not None and len(rr[1]) == 1:
                # SetRuleGroup: POST /rules/{namespace} with a YAML
                # group body (controller.go:38-56)
                mgrs = self._rule_managers()
                if mgrs is None:
                    return self._json(
                        {"error": "ruler routes need a store-backed engine"},
                        501,
                    )
                from gigapipe_spark.streaming.rules import group_from_yaml

                try:
                    group = group_from_yaml(self._body().decode("utf-8"))
                except Exception:
                    return self._yaml(
                        "error: failed to parse rule group yaml", 400
                    )
                mgrs[rr[0]].store.set_rule_group(rr[1][0], group)
                return self._ruler_success()
            if cat is None:
                return self._json(
                    {"error": "push routes need a store-backed engine"}, 501
                )
            return self._push(path, q, cat)
        except UnsupportedEncoding as ex:
            return self._json({"status": "error", "error": str(ex)}, 400)
        except Exception as ex:
            return self._bulk_or_500(ex)

    def _bulk_or_500(self, ex: Exception) -> None:
        """Map push pre-ack failures to their status: malformed →
        400 (reference-parity decode-before-ack), buffer full → 503
        (shed load, client retries); anything else keeps the 500."""
        from gigapipe_spark.bulk import BulkOverflow, BulkValidationError

        if isinstance(ex, BulkValidationError):
            return self._json({"status": "error", "error": str(ex)}, 400)
        if isinstance(ex, BulkOverflow):
            return self._json({"status": "error", "error": str(ex)}, 503)
        return self._json({"status": "error", "error": str(ex)}, 500)

    def do_DELETE(self) -> None:
        """Ruler deletes: DELETE /rules/{namespace} tombstones every
        group in the namespace, DELETE /rules/{namespace}/{group} one
        group (router.go:22-24, controller.go:120-140); both reply 202
        with the success envelope."""
        if not self._check_auth():
            return
        url = urlparse(self.path)
        if self.mode == "writer":
            return self._json({"error": f"unknown route {url.path}"}, 404)
        rr = self._rules_route(url.path)
        try:
            if rr is None or not rr[1]:
                return self._json(
                    {"error": f"unknown route {url.path}"}, 404
                )
            mgrs = self._rule_managers()
            if mgrs is None:
                return self._json(
                    {"error": "ruler routes need a store-backed engine"}, 501
                )
            tp, parts = rr
            if len(parts) == 1:
                mgrs[tp].store.delete_namespace(parts[0])
            else:
                mgrs[tp].store.delete_rule_group(parts[0], parts[1])
            return self._ruler_success()
        except Exception as ex:
            return self._json({"status": "error", "message": str(ex)}, 500)

    def do_PUT(self) -> None:
        """Elastic registers /{target}/_doc/{id} and /{target}/_create/
        {id} for PUT as well (elastic.go:11-12); same handler."""
        if not self._check_auth():
            return
        url = urlparse(self.path)
        path, q = url.path, parse_qs(url.query)
        cat = getattr(self.engine, "catalog", None)
        try:
            if cat is not None and ("/_doc" in path or "/_create/" in path):
                return self._push(path, q, cat)
            return self._json({"error": f"unknown route {path}"}, 404)
        except UnsupportedEncoding as ex:
            return self._json({"status": "error", "error": str(ex)}, 400)
        except Exception as ex:
            return self._bulk_or_500(ex)

    def _ttl_days_header(self) -> int:
        try:
            return int(self.headers.get("X-Ttl-Days", "") or 0)
        except ValueError:
            return 0

    def _push(self, path: str, q: dict, cat) -> None:
        """Push-route router (writer/router/insert.go, prom.go:9-14,
        elastic.go:9-14, tempo.go:9-13, profile.go:10-12): body → one
        syntactic check → bulk buffer, or `bulk.write_group` on a group
        of one (decoder + MV fan-out) → per-route reference ack."""
        if self.mode == "reader":
            # push routes aren't registered in the reader-only service
            # (docs/configuration.md MODE=reader / READONLY)
            return self._json({"error": f"unknown route {path}"}, 404)
        from gigapipe_spark import bulk

        body = self._body()
        ctype = self.headers.get("Content-Type", "")
        route = push_route(path, q, ctype)
        if route is None:
            return self._json({"error": f"unknown push route {path}"}, 404)
        kind, params, (status, ack) = route
        if kind == "otlp_profiles" and "application/json" in ctype:
            return self._json(
                {"error": "OTLP profiles: JSON not supported, "
                          "use application/x-protobuf"},
                415,
            )
        if kind == "pyroscope":
            got = _pyroscope_payload(q, body, ctype)
            if isinstance(got, str):
                return self._json({"error": got}, 400)
            body, sample = got
            params.update(sample)
        # reference-parity 400 on malformed bodies in both modes
        # (unmarshal errors are 400 there, error.go:68; the Spark
        # decoders would otherwise drop bad rows silently)
        bulk.validate(kind, body)  # BulkValidationError → 400
        # X-Ttl-Days header → per-request row TTL override (the
        # reference's middleware threads it as ContextKeyTTLDays,
        # writer/controller/middleware.go:167-173; unparsable → 0); a
        # nonzero TTL keys the bulk group, so different TTLs never merge
        ttl = self._ttl_days_header()
        if ttl > 0:
            params["ttl_days"] = str(ttl)
        # X-Async-Insert (middleware.go getAsyncMode): with bulk
        # configured every push is async by default; "false"/"0" forces
        # this request through the synchronous write (the reference's
        # INSERT_MODE_SYNC), e.g. a client that needs a durable ack.
        sync_requested = (
            self.headers.get("X-Async-Insert", "").strip().lower()
            in ("false", "0")
        )
        if self.bulk is not None and not sync_requested:
            self.bulk.submit(kind, body, **params)  # BulkOverflow → 503
        else:
            bulk.write_group(self.engine.spark, cat, kind, params, [body])
        return self._push_ok(status, ack)

    # ------------------------------------------------------- WebSocket
    def _tail_ws(self, q: dict) -> None:
        """RFC6455 upgrade + poll loop — the reference's live tail is a
        ticker re-running the transpiled query from the last-seen ts and
        pushing stream frames (query_range.go:158-245,670-760)."""
        key = self.headers.get("Sec-WebSocket-Key")
        if not key:
            return self._json({"error": "websocket upgrade required"}, 400)
        accept = base64.b64encode(
            hashlib.sha1((key + _WS_MAGIC).encode()).digest()
        ).decode()
        self.send_response(101, "Switching Protocols")
        self.send_header("Upgrade", "websocket")
        self.send_header("Connection", "Upgrade")
        self.send_header("Sec-WebSocket-Accept", accept)
        self.end_headers()

        tailer = self.engine.loki_tail(q["query"][0])
        # client bytes that arrived with the upgrade request may already
        # sit in rfile's buffer, invisible to raw conn.recv — drain them
        # into our frame buffer before the loop starts
        self._ws_buf = bytearray(self._ws_drain_rfile())
        self.connection.settimeout(30)  # sends only; recv goes via select
        try:
            # adaptive tick: hot streams poll at 500ms (the reference's
            # tail is a ~1s-class ticker re-running the transpiled
            # query, query_range.go:670 — sub-second batching is what a
            # human tail needs); an idle tail backs off toward 1s so N
            # idle dashboard tails cost ~2x less driver work again
            # (each poll is a pin + possible Spark query). The
            # incremental Tailer already skips the query when no files
            # landed; this shrinks even the pin cadence. Measured
            # (docs/SCALE.md r14): 8 hot tail clients at 200ms cost
            # ~15-19% ingest throughput on local[32] from per-poll
            # compile GIL contention alone.
            delay = 0.5
            while True:
                rows = tailer.poll()
                if rows:
                    frame = json.dumps(
                        _loki_envelope(rows)["data"] | {"dropped_entries": []}
                    ).encode()
                    self._ws_send(frame)
                    delay = 0.5
                else:
                    delay = min(delay * 1.5, 1.0)
                if self._ws_client_closed():
                    break
                time.sleep(delay)
        except (BrokenPipeError, ConnectionResetError, OSError):
            pass
        finally:
            self.close_connection = True

    def _ws_drain_rfile(self) -> bytes:
        """Pull whatever the buffered rfile is still holding, without
        blocking (a timed-out BufferedReader read would poison the
        object — 'cannot read from timed out object' — so never let
        rfile hit a timeout; one non-blocking read1 empties the buffer
        and returns b'' when it's empty)."""
        conn = self.connection
        conn.setblocking(False)
        try:
            return self.rfile.read1(65536) or b""
        except (BlockingIOError, ValueError, OSError):
            return b""
        finally:
            conn.setblocking(True)

    def _ws_client_closed(self) -> bool:
        """Between polls: collect any newly arrived client bytes
        (select-gated non-blocking recv), then parse COMPLETE RFC6455
        frames out of the accumulated buffer — masked client frames are
        ≥6 bytes, so a fixed 2-byte recv could land mid-frame. Returns
        True on a close frame (opcode 0x8) or EOF/reset."""
        import select

        conn = self.connection
        while True:
            r, _, _ = select.select([conn], [], [], 0)
            if not r:
                break
            try:
                chunk = conn.recv(65536)
            except OSError:
                return True
            if not chunk:
                return True  # EOF
            self._ws_buf += chunk
        buf = self._ws_buf
        while len(buf) >= 2:
            opcode = buf[0] & 0x0F
            n, off = buf[1] & 0x7F, 2
            if n == 126:
                if len(buf) < 4:
                    return False
                n, off = int.from_bytes(buf[2:4], "big"), 4
            elif n == 127:
                if len(buf) < 10:
                    return False
                n, off = int.from_bytes(buf[2:10], "big"), 10
            if buf[1] & 0x80:  # client frames are masked
                off += 4
            if len(buf) < off + n:
                return False  # incomplete frame — wait for more bytes
            del buf[: off + n]
            if opcode == 0x8:
                return True
        return False

    def _ws_send(self, payload: bytes) -> None:
        n = len(payload)
        if n < 126:
            header = struct.pack("!BB", 0x81, n)
        elif n < (1 << 16):
            header = struct.pack("!BBH", 0x81, 126, n)
        else:
            header = struct.pack("!BBQ", 0x81, 127, n)
        self.connection.sendall(header + payload)


class HttpGateway:
    """Embeddable HTTP server over an Engine. Port 0 picks a free port;
    `start()` returns the bound port."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        ruler_poll_sec: float | None = None,
        allow_origin: str = "*",
        query_timeout_s: float | None = 30.0,
        basic_auth: tuple[str, str] | None = None,
        mode: str = "all",
        bulk_max_age_ms: float | None = None,
        bulk_max_size_bytes: int = 16 * 1024 * 1024,
    ):
        """`ruler_poll_sec` switches on the rule-evaluation loop — the
        reference's manager ticker goroutines (ruler/manager.go:183-195,
        enabled via QRYN_RULER_ENABLED, router/init.go:30). Each poll
        ticks both rule sets; group intervals still gate which rules
        actually evaluate. Off by default: CRUD works without it.
        `allow_origin` is the CORS origin (cors_middleware.go:6)."""
        handler = type(
            "BoundHandler",
            (_Handler,),
            {
                "engine": engine,
                "allow_origin": allow_origin,
                # matches the reference's 30s engine Timeout
                # (prometheus_query_range.go:32); None disables
                "query_timeout_s": query_timeout_s,
                # BasicAuthMiddleware analog (reader.go:71-75): enabled
                # only when credentials are configured
                "basic_auth": basic_auth,
                # MODE=all|reader|writer — which of the reference's two
                # routers this process assembles (docs/configuration.md)
                "mode": mode,
            },
        )
        if mode not in ("all", "reader", "writer"):
            raise ValueError(f"unknown MODE {mode!r}")
        self.bulk = None
        if (
            bulk_max_age_ms is not None
            and mode != "reader"
            and getattr(engine, "catalog", None) is not None
        ):
            from gigapipe_spark.bulk import BulkWriter

            self.bulk = BulkWriter(
                engine,
                max_age_ms=bulk_max_age_ms,
                max_size_bytes=bulk_max_size_bytes,
            )
            handler.bulk = self.bulk
        self.engine = engine
        self.server = ThreadingHTTPServer((host, port), handler)
        self.server.daemon_threads = True
        self._thread: threading.Thread | None = None
        self._ruler_poll_sec = ruler_poll_sec
        self._ruler_stop = threading.Event()
        self._ruler_thread: threading.Thread | None = None

    def _ruler_loop(self) -> None:
        mgrs = self.engine.rule_managers()
        while not self._ruler_stop.wait(self._ruler_poll_sec):
            for mgr in mgrs.values():
                try:
                    mgr.tick()
                except Exception:  # rule health captures per-rule errors;
                    pass  # a store-level failure must not kill the loop

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )
        self._thread.start()
        if self._ruler_poll_sec and getattr(self.engine, "catalog", None):
            self._ruler_thread = threading.Thread(
                target=self._ruler_loop, daemon=True
            )
            self._ruler_thread.start()
        return self.server.server_address[1]

    def stop(self) -> None:
        self._ruler_stop.set()
        if self._ruler_thread is not None:
            self._ruler_thread.join(timeout=5)
        self.server.shutdown()  # stop accepting pushes FIRST...
        self.server.server_close()
        if self.bulk is not None:
            self.bulk.stop()  # ...then drain acked-but-unflushed pushes
