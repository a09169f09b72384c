"""Bulk ingest buffer — the reference writer's batching core.

The reference writer NEVER runs one insert per HTTP push: every push
route appends its decoded rows to an in-memory buffer and a timer
service flushes the buffer to ClickHouse every BULK_MAX_AGE_MS (default
100) or when it reaches BULK_MAX_SIZE_BYTES (writer/service — the
TimerService/bulk pattern behind writer/router/insert.go; env surface
docs/configuration.md "Write Settings"). That batching is what makes a
thousand tiny agent pushes cost one insert instead of a thousand.

Spark-native twin, shifted one step earlier: buffering RAW payloads
per (route kind, params) and flushing each group as ONE decode + ONE
MV fan-out. The decode is a Spark job and the fan-out is a set of
appends+journal — per-push both dominate wall clock, so coalescing N
pushes into one of each is the same ~N× win the reference gets
(receipt in docs/SCALE.md).

Ack semantics are the reference's: the route acks after ENQUEUE, and a
process crash between ack and flush loses that window (the reference
acks after appending to the in-memory bulk too). The store itself
stays consistent — each flush is one journaled batch — so the exposure
is bounded by max_age_ms of acked-but-unflushed pushes, exactly like
the reference's insert window. Deployments that need a synchronous ack
leave bulk off (the default) or send `X-Async-Insert: false`: the
push then runs `write_group` on a group of one payload — the same
decoder and fan-out a flush runs — before the response, a STRONGER
contract than the reference's.

Per-kind params that change decode semantics (elastic target, cf
ddsource) key the buffer, so only identical-parameter payloads merge.
"""

from __future__ import annotations

import json
import logging
import threading
import time

log = logging.getLogger(__name__)


class BulkOverflow(Exception):
    """Buffer past its hard cap — the route answers 503 and the client
    retries (the reference's insert buffers are pooled/bounded the same
    way: BULK_MAX_SIZE_BYTES is a hard cap there, writer/service
    generic_insert.go column pools)."""


class BulkValidationError(ValueError):
    """Cheap syntactic pre-enqueue check failed — the route answers 400
    BEFORE acking, matching the reference's decode-before-ack contract
    (writer/utils/unmarshal/unmarshal.go:36 runs in the request path;
    only the INSERT is batched)."""

# route kind → (payload column type, decoder factory, fanout name)
# decoder factory: (spark, payload_df, params) -> decoded batch DF
_STRING = "string"
_BINARY = "binary"
_RAWLIST = "rawlist"  # decoder receives the payload list itself


def _dec_loki_json(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.loki_push(df)


def _dec_loki_pb(spark, df, p):
    from gigapipe_spark.sources.protowire import loki_push_pb

    return loki_push_pb(df)


def _dec_remote_write(spark, df, p):
    from gigapipe_spark.sources.protowire import remote_write

    return remote_write(df)


def _dec_otlp_logs_json(spark, df, p):
    from gigapipe_spark.sources import ingest

    # receive-time stamp for records lacking timeUnixNano, at FLUSH
    # time (within max_age_ms of the request — the disclosed bulk
    # window; the old default stamped epoch 0)
    return ingest.otlp_logs(df, now_ns=time.time_ns())


def _dec_otlp_logs_pb(spark, df, p):
    from gigapipe_spark.sources.protowire import otlp_logs_pb

    return otlp_logs_pb(df)


def _dec_datadog_logs(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.datadog_logs(df, now_ns=time.time_ns())


def _dec_datadog_metrics(spark, df, p):
    from gigapipe_spark.sources import ingest

    # receive-time stamp at FLUSH time (within max_age_ms of the
    # request) — a per-request now_ns would key every push into its own
    # group and defeat the batching entirely
    now_ns = int(p["now_ns"]) if "now_ns" in p else time.time_ns()
    return ingest.datadog_metrics(df, now_ns=now_ns)


def _dec_influx(spark, df, p):
    from pyspark.sql import functions as F

    from gigapipe_spark.sources import ingest

    # one row per protocol line, split Spark-side across the coalesced
    # payloads; receive-time stamp at flush (within max_age_ms, same
    # disclosed window as datadog_metrics)
    lines = (
        df.select(F.explode(F.split("payload", "\r?\n")).alias("line"))
        .filter(F.length(F.trim(F.col("line"))) > 0)
    )
    return ingest.influx_line(
        lines, precision=p.get("precision", "ns"), now_ns=time.time_ns()
    )


def _dec_elastic_bulk(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.elastic_bulk(
        df, target=p.get("target", "unknown"), now_ns=time.time_ns()
    )


def _dec_zipkin_json(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.zipkin_spans(df)


def _dec_zipkin_ndjson(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.zipkin_ndjson(df)


def _dec_otlp_traces_json(spark, df, p):
    from gigapipe_spark.sources import ingest

    return ingest.otlp_traces(df)


def _dec_otlp_traces_pb(spark, df, p):
    from gigapipe_spark.sources.protowire import otlp_traces_pb

    return otlp_traces_pb(df)


def _dec_datadog_cf(spark, df, p):
    from pyspark.sql import functions as F

    from gigapipe_spark.sources import ingest

    lines = (
        df.select(F.explode(F.split("payload", "\r?\n")).alias("line"))
        .filter(F.length(F.trim(F.col("line"))) > 0)
    )
    return ingest.datadog_cf(
        lines, ddsource=p.get("ddsource", "unknown"), now_ns=time.time_ns()
    )


def _dec_elastic_doc(spark, df, p):
    from pyspark.sql import functions as F

    from gigapipe_spark.sources import ingest

    # ingest timestamp at FLUSH time (within max_age_ms of the request,
    # same disclosed window as datadog_metrics)
    now_ns = time.time_ns()
    raw = df.select(
        F.col("payload"),
        F.lit(p.get("target", "unknown")).alias("target"),
        F.lit(p.get("doc_id")).cast("string").alias("doc_id"),
        F.lit(now_ns).alias("ingest_ts_ns"),
    )
    return ingest.elastic_doc(raw)


def frame_profile(meta: dict, body: bytes) -> bytes:
    """Per-push metadata must ride WITH the payload for pyroscope
    /ingest to batch at all — from/until/name change every push, so
    keying the buffer on them would make every group a singleton.
    Private framing: 4-byte BE meta-JSON length + meta JSON + pprof
    body. `_dec_pyroscope` is the only consumer."""
    mj = json.dumps(meta).encode()
    return len(mj).to_bytes(4, "big") + mj + bytes(body)


def _unframe_profile(payload: bytes) -> tuple[dict, bytes]:
    mlen = int.from_bytes(payload[:4], "big")
    return json.loads(payload[4 : 4 + mlen]), payload[4 + mlen :]


def _dec_pyroscope(spark, payloads, p):
    """N pyroscope pushes → ONE pprof decode job + ONE folded-tree
    fanout (the fleet-profiling hot path, writer/router/profile.go:10).
    The group is keyed by (sample_type, sample_unit) — agents push a
    uniform type, so real fleets coalesce fully. Per-push metadata
    (service, tags, window) joins back by a per-payload profile_id.
    Registered with _RAWLIST: receives the framed payload list itself
    (unframing needs the bytes driver-side anyway)."""
    from pyspark.sql import functions as F

    from gigapipe_spark.sources import protowire as pw
    from gigapipe_spark.sources.ingest import folded_profiles_input

    st = p.get("sample_type", "cpu")
    su = p.get("sample_unit", "nanoseconds")
    raws, metas = [], []
    for i, framed in enumerate(payloads):
        meta, body = _unframe_profile(bytes(framed))
        pid = f"{meta['service']}-{meta['start']}-{i}"
        raws.append((pid, bytearray(body)))
        metas.append(
            (
                pid,
                int(meta["start"]),
                meta.get("spy", "process_cpu"),
                meta["service"],
                st,
                su,
                meta.get("tags", {}),
                int(meta["end"]) - int(meta["start"]),
            )
        )
    raw = spark.createDataFrame(raws, "profile_id string, payload binary")
    meta_df = spark.createDataFrame(
        metas,
        "profile_id string, timestamp_ns long, type string,"
        " service_name string, period_type string, period_unit string,"
        " tags map<string,string>, duration_ns long",
    )
    folded = pw.pprof_folded(raw).join(F.broadcast(meta_df), "profile_id")
    return folded_profiles_input(folded, st, su)


def _dec_otlp_profiles(spark, df, p):
    """Batch OTLP profile pushes: decode once, one folded_profiles_input
    per distinct type id in the batch (bounded by sample-type count),
    UNION into one frame so the flush runs a single profiles fanout."""
    from pyspark.sql import functions as F

    from gigapipe_spark.sources import protowire as pw
    from gigapipe_spark.sources.ingest import folded_profiles_input

    now = time.time_ns()
    raw = df.select(
        F.concat(F.lit("otlp-"), F.monotonically_increasing_id().cast("string"))
        .alias("profile_id"),
        F.col("payload"),
    )
    folded = pw.otlp_profiles_pb(raw).persist()
    try:
        type_ids = [
            r["type_id"] for r in folded.select("type_id").distinct().collect()
        ]
        out = None
        for tid in type_ids:
            st, _, su = tid.partition(":")
            rows = folded.filter(F.col("type_id") == tid).select(
                F.concat_ws(
                    "-", F.col("profile_id"), F.col("service_name"), F.lit(tid)
                ).alias("profile_id"),
                F.lit(now).alias("timestamp_ns"),
                F.lit(st or "process_cpu").alias("type"),
                F.col("service_name"),
                F.lit(st or "cpu").alias("period_type"),
                F.lit(su or "nanoseconds").alias("period_unit"),
                F.create_map().cast("map<string,string>").alias("tags"),
                F.lit(0).cast("long").alias("duration_ns"),
                "line",
            )
            part = folded_profiles_input(rows, st or "cpu", su or "nanoseconds")
            out = part if out is None else out.unionByName(part)
        if out is None:
            return None  # empty envelope batch — a no-op, not an error
        # the fanout runs after the finally-unpersist: localCheckpoint
        # pins the decoded lineage eagerly first
        return out.localCheckpoint(eager=True)
    finally:
        folded.unpersist()


KINDS: dict[str, tuple[str, object, str]] = {
    "loki_json": (_STRING, _dec_loki_json, "ingest"),
    "loki_pb": (_BINARY, _dec_loki_pb, "ingest"),
    "remote_write": (_BINARY, _dec_remote_write, "ingest"),
    "otlp_logs_json": (_STRING, _dec_otlp_logs_json, "ingest"),
    "otlp_logs_pb": (_BINARY, _dec_otlp_logs_pb, "ingest"),
    "datadog_logs": (_STRING, _dec_datadog_logs, "ingest"),
    "datadog_metrics": (_STRING, _dec_datadog_metrics, "ingest"),
    "influx": (_STRING, _dec_influx, "ingest"),
    "elastic_bulk": (_STRING, _dec_elastic_bulk, "ingest"),
    "zipkin_json": (_STRING, _dec_zipkin_json, "spans"),
    "zipkin_ndjson": (_STRING, _dec_zipkin_ndjson, "spans"),
    "otlp_traces_json": (_STRING, _dec_otlp_traces_json, "spans"),
    "otlp_traces_pb": (_BINARY, _dec_otlp_traces_pb, "spans"),
    "datadog_cf": (_STRING, _dec_datadog_cf, "ingest"),
    "elastic_doc": (_STRING, _dec_elastic_doc, "ingest"),
    "pyroscope": (_RAWLIST, _dec_pyroscope, "profiles"),
    "otlp_profiles": (_BINARY, _dec_otlp_profiles, "profiles"),
}


# ------------------------------------------------- pre-enqueue checks
# Reference-parity 400 on malformed bodies (the reference decodes in
# the request path before acking; only the insert is batched). These
# are SYNTACTIC checks — full JSON parse (C-speed) for text kinds, an
# O(top-level-fields) protobuf wire scan for raw pb kinds, a preamble
# sanity check for snappy-framed kinds (a full pure-Python unsnappy in
# the request path would defeat the batching win; disclosed
# divergence: a snappy body with valid framing but garbage protobuf
# inside is acked and dropped row-wise at flush).


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    v, shift = 0, 0
    for _ in range(10):
        if i >= len(buf):
            raise BulkValidationError("truncated varint")
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7
    raise BulkValidationError("varint too long")


def _pb_wire_ok(buf: bytes) -> None:
    i, n = 0, len(buf)
    while i < n:
        tag, i = _varint(buf, i)
        if tag >> 3 == 0:
            raise BulkValidationError("malformed protobuf: field 0")
        wt = tag & 7
        if wt == 0:
            _, i = _varint(buf, i)
        elif wt == 1:
            i += 8
        elif wt == 2:
            ln, i = _varint(buf, i)
            i += ln
        elif wt == 5:
            i += 4
        else:
            raise BulkValidationError(f"malformed protobuf: wiretype {wt}")
        if i > n:
            raise BulkValidationError("truncated protobuf")


def _json_ok(payload: bytes, types=(dict,)) -> None:
    try:
        v = json.loads(payload)
    except Exception as ex:
        raise BulkValidationError(f"malformed JSON: {ex}") from None
    if not isinstance(v, types):
        raise BulkValidationError("unexpected JSON shape")


def _ndjson_ok(payload: bytes) -> None:
    for ln in payload.splitlines():
        if ln.strip():
            _json_ok(ln, (dict,))


def _influx_ok(payload: bytes) -> None:
    for ln in payload.decode("utf-8", "replace").splitlines():
        s = ln.strip()
        if not s or s.startswith("#"):
            continue
        if " " not in s or "=" not in s:
            raise BulkValidationError(f"malformed influx line: {s[:80]!r}")


def _snappy_preamble_ok(payload: bytes) -> None:
    if not payload:
        return
    dlen, shift = 0, 0
    for i in range(min(len(payload), 5)):
        dlen |= (payload[i] & 0x7F) << shift
        shift += 7
        if not payload[i] & 0x80:
            break
    if dlen > 64 * 1024 * 1024:
        raise BulkValidationError("snappy body decodes too large")


_VALIDATORS = {
    "loki_json": lambda p: _json_ok(p, (dict,)),
    "loki_pb": _snappy_preamble_ok,
    "remote_write": _snappy_preamble_ok,
    "otlp_logs_json": lambda p: _json_ok(p, (dict,)),
    "otlp_logs_pb": _pb_wire_ok,
    "datadog_logs": lambda p: _json_ok(p, (dict, list)),
    "datadog_metrics": lambda p: _json_ok(p, (dict,)),
    "influx": _influx_ok,
    "elastic_bulk": _ndjson_ok,
    "zipkin_json": lambda p: _json_ok(p, (list,)),
    "zipkin_ndjson": _ndjson_ok,
    "otlp_traces_json": lambda p: _json_ok(p, (dict,)),
    "otlp_traces_pb": _pb_wire_ok,
    "datadog_cf": lambda p: None,  # free-form log lines, any text valid
    "elastic_doc": lambda p: _json_ok(p, (dict,)),
    "pyroscope": lambda p: None,  # httpd._pyroscope_payload checks pprof
    "otlp_profiles": _pb_wire_ok,
}


def validate(kind: str, payload: bytes) -> None:
    """Raise BulkValidationError when the payload can't possibly decode
    — called in the request path BEFORE the 2xx ack."""
    _VALIDATORS[kind](payload)


def write_group(spark, catalog, kind: str, params: dict, payloads: list) -> None:
    """Decode one (kind, params) group of payloads and write it: ONE
    decode + ONE MV fan-out into `catalog`. The flusher runs it on each
    buffered group; a synchronous push runs it on a group of one."""
    from gigapipe_spark.storage.writer import (
        ingest_fanout,
        profiles_fanout,
        spans_fanout,
    )

    col_type, decoder, fanout = KINDS[kind]
    if col_type == _RAWLIST:
        df = payloads
    elif col_type == _BINARY:
        df = spark.createDataFrame(
            [(bytearray(p),) for p in payloads], "payload binary"
        )
    else:
        df = spark.createDataFrame(
            [(p.decode("utf-8", "replace"),) for p in payloads],
            "payload string",
        )
    decoded = decoder(spark, df, params)
    if decoded is None:
        return  # decoder determined the batch is a no-op
    # X-Ttl-Days keys the group, so every payload here shares this TTL
    ttl = int(params.get("ttl_days", 0))
    if fanout == "spans":
        if ttl > 0 and "ttl_days" in decoded.columns:
            from pyspark.sql import functions as F

            decoded = decoded.withColumn(
                "ttl_days",
                F.lit(ttl).cast(dict(decoded.dtypes)["ttl_days"]),
            )
        spans_fanout(decoded, catalog)
    elif fanout == "profiles":
        profiles_fanout(decoded, catalog)
    else:
        ingest_fanout(decoded, catalog, ttl_days=ttl)


class BulkWriter:
    """In-memory push buffer + flusher thread over one StoreEngine."""

    # buffer hard cap as a multiple of max_size: the size trigger wakes
    # the flusher at 1×, but a burst faster than flush throughput keeps
    # accumulating while the flush runs — past 4× the route sheds load
    # with 503 instead of growing the heap to OOM (the reference's
    # BULK_MAX_SIZE_BYTES is a hard cap on its pooled buffers too)
    OVERFLOW_FACTOR = 4

    def __init__(
        self,
        engine,
        max_age_ms: float = 100.0,
        max_size_bytes: int = 16 * 1024 * 1024,
    ):
        self.engine = engine
        # floor at 10ms: age 0 ("flush asap") must not busy-spin the
        # flusher thread between flushes
        self.max_age_s = max(max_age_ms, 10.0) / 1000.0
        self.max_size = max_size_bytes
        self._buf: dict[tuple, list[bytes]] = {}
        self._size = 0
        self._lock = threading.Lock()
        self._wake = threading.Event()
        self._stop = threading.Event()
        self.flushes = 0  # flush cycles that wrote at least one group
        self.errors = 0
        self.dropped_payloads = 0  # individually-poisoned payloads
        self.rejected = 0  # 503-overflow rejections
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    # ------------------------------------------------------------ api
    def submit(self, kind: str, payload: bytes, **params) -> None:
        """Enqueue one push. Params that alter decode semantics become
        part of the buffer key (only identical groups merge). Raises
        BulkOverflow past the hard cap — acking would mean buffering
        without bound while a slow flush runs."""
        key = (kind, tuple(sorted(params.items())))
        with self._lock:
            # reject on PENDING size alone, not pending+payload: a
            # single payload bigger than the cap (legitimate up to the
            # 100 MiB gzip bound) would otherwise 503 forever even
            # against an empty buffer. Overshoot is bounded by
            # cap + one body, and the flusher drains it next cycle.
            if self._size >= self.max_size * self.OVERFLOW_FACTOR:
                self.rejected += 1
                self._wake.set()
                raise BulkOverflow(
                    f"bulk buffer full ({self._size} bytes pending)"
                )
            self._buf.setdefault(key, []).append(payload)
            self._size += len(payload)
            if self._size >= self.max_size:
                self._wake.set()  # size-triggered early flush

    def stop(self) -> None:
        """Drain and stop (gateway shutdown): pending acked pushes are
        flushed before the thread exits."""
        self._stop.set()
        self._wake.set()
        self._thread.join(timeout=60)

    # ------------------------------------------------------- internals
    def _loop(self) -> None:
        while True:
            self._wake.wait(self.max_age_s)
            self._wake.clear()
            # the flusher thread must NEVER die: an escaped exception
            # here would leave every subsequent push acked and buffered
            # forever (silent loss + unbounded heap). flush_now guards
            # its groups, but a failure in the buffer swap itself still
            # lands here.
            try:
                self.flush_now()
            except Exception:
                self.errors += 1
                log.exception("bulk flush cycle failed")
            if self._stop.is_set():
                try:
                    self.flush_now()  # anything enqueued during the flush
                except Exception:
                    self.errors += 1
                    log.exception("bulk drain flush failed")
                return

    def flush_now(self) -> None:
        with self._lock:
            batch, self._buf = self._buf, {}
            self._size = 0
        if not batch:
            return
        wrote = False
        for (kind, params_t), payloads in batch.items():
            wrote |= self._flush_isolating(kind, dict(params_t), payloads)
        if wrote:
            self.flushes += 1

    def _flush_isolating(
        self, kind: str, params: dict, payloads: list[bytes]
    ) -> bool:
        """Flush a group; on failure BISECT so one poison payload can't
        void its co-batched neighbors' already-acked data — only the
        failing payload itself is dropped (log + dropped_payloads).
        Cost is log2(N) extra flush attempts on the failing half only,
        and failures are the rare path."""
        try:
            self._flush_group(kind, params, payloads)
            return True
        except Exception:
            if len(payloads) == 1:
                self.errors += 1
                self.dropped_payloads += 1
                log.exception("bulk payload dropped for %s", kind)
                return False
            mid = len(payloads) // 2
            a = self._flush_isolating(kind, params, payloads[:mid])
            b = self._flush_isolating(kind, params, payloads[mid:])
            return a or b

    def _flush_group(self, kind: str, params: dict, payloads: list[bytes]) -> None:
        eng = self.engine
        write_group(eng.spark, eng.catalog, kind, params, payloads)
