"""Service-composition soak (VERDICT r11 task 7).

`python -m gigapipe_spark` runs bulk flusher + rotate/compact loop +
query handler threads against ONE SparkSession; each piece is tested
alone, but this probe runs them TOGETHER under sustained concurrent
push+query load with a rotation tick mid-flight:

  - 2 push threads (Loki JSON log lines + influx metric lines) through
    the bulk buffer (BULK_MAX_AGE_MS=100)
  - 2 query threads (Loki query_range + Prometheus instant) polling the
    fresh window continuously
  - 1 label/meta thread (unbounded label values — cross-partition scan
    racing the rotate)
  - an old (2023) partition pushed up front; a maintenance tick fires
    mid-soak with SAMPLES_DAYS retention, dropping it while everything
    else is in flight

Asserts: no thread dies, every query answers 2xx, the rotate actually
removes the old partition, and after a clean shutdown (gw.stop drains
the bulk buffer) every acked push is queryable — acked == stored.

Usage: python scripts/soakprobe.py [seconds]   (default 120)
Prints one JSON verdict line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ws_tail(port: int, query: str, rec: dict, stop) -> None:
    """Minimal RFC6455 client for /loki/api/v1/tail: upgrade, then read
    server text frames (unmasked) and collect every tailed line string.
    Any protocol error or dropped connection lands in rec['error'] —
    the soak asserts tails survive the whole run (rotation included)."""
    import base64
    import socket

    try:
        s = socket.create_connection(("127.0.0.1", port), timeout=60)
        key = base64.b64encode(os.urandom(16)).decode()
        path = "/loki/api/v1/tail?query=" + urllib.parse.quote(query)
        s.sendall(
            (
                f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        buf = bytearray()
        while b"\r\n\r\n" not in buf:
            chunk = s.recv(4096)
            if not chunk:
                raise ConnectionError("EOF during upgrade")
            buf += chunk
        head, _, rest = bytes(buf).partition(b"\r\n\r\n")
        if b"101" not in head.split(b"\r\n", 1)[0]:
            raise ConnectionError(f"upgrade refused: {head[:80]!r}")
        buf = bytearray(rest)
        s.settimeout(0.25)
        while not stop.is_set():
            try:
                chunk = s.recv(65536)
                if not chunk:
                    raise ConnectionError("server closed the tail")
                buf += chunk
            except socket.timeout:
                pass
            while len(buf) >= 2:
                opcode = buf[0] & 0x0F
                n, off = buf[1] & 0x7F, 2
                if n == 126:
                    if len(buf) < 4:
                        break
                    n = int.from_bytes(buf[2:4], "big")
                    off = 4
                elif n == 127:
                    if len(buf) < 10:
                        break
                    n = int.from_bytes(buf[2:10], "big")
                    off = 10
                if len(buf) < off + n:
                    break
                payload = bytes(buf[off:off + n])
                del buf[:off + n]
                if opcode == 0x8:
                    raise ConnectionError("server sent close mid-soak")
                if opcode != 0x1:
                    continue
                rec["frames"] += 1
                data = json.loads(payload)
                for stream in data.get("result", []):
                    for _ts, line in stream.get("values", []):
                        rec["lines"].append(line)
        s.close()
    except Exception as ex:  # noqa: BLE001 — soak verdict
        rec["error"] = f"{type(ex).__name__}: {ex}"


def run_soak(
    spark,
    root: str,
    seconds: float,
    tail_clients: int = 0,
    ruler: bool = False,
) -> dict:
    from gigapipe_spark.__main__ import build_gateway, maintenance_tick

    cfg = {
        "store": root,
        "host": "127.0.0.1",
        "port": 0,
        "mode": "all",
        "basic_auth": None,
        "allow_origin": "*",
        "samples_days": 30,
        "rotate_interval_s": 3600.0,
        "compact": True,
        "bulk_max_age_ms": 100.0,
        "bulk_max_size_bytes": 16 * 1024 * 1024,
        # the reference's manager ticker (QRYN_RULER_ENABLED); group
        # intervals still gate which rules evaluate per tick
        "ruler_poll_sec": 1.0 if ruler else None,
    }
    gw = build_gateway(cfg, spark, port=0)
    port = gw.start()
    base = f"http://127.0.0.1:{port}"
    now_ns = time.time_ns()
    old_ns = 1_700_000_000_000_000_000  # 2023-11-14: rotated mid-soak

    def post(path, body, ctype="application/json"):
        req = urllib.request.Request(
            base + path, data=body, method="POST",
            headers={"Content-Type": ctype},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return r.status, r.read()

    # seed the OLD partition the rotate will drop
    seed = json.dumps({"streams": [{"stream": {"app": "old"},
                       "values": [[str(old_ns), "old line"]]}]}).encode()
    assert post("/loki/api/v1/push", seed) == 204
    # the seed rides the bulk buffer: WAIT until its flush lands the
    # 2023 partition on disk before the clock starts. The mid-soak
    # rotate asserts it drops this partition — on a contended box the
    # first flush (JIT + fresh-store fan-out) can take >10s, and firing
    # the tick before the partition exists turned this into a timing
    # flake (r12's adjudicated soak failure). Deterministic
    # precondition, not a weakened assertion.
    samples_root = gw.engine.catalog.path("samples")
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(
            name.startswith("date=2023-")
            for oid in (
                os.listdir(samples_root)
                if os.path.isdir(samples_root)
                else []
            )
            if oid.startswith("oid=")
            for name in os.listdir(os.path.join(samples_root, oid))
        ):
            break
        time.sleep(0.2)
    else:
        raise AssertionError("seed flush never landed the 2023 partition")

    if ruler:
        # a LogQL recording rule over the live soak streams — the
        # reference ruler evaluates + writes back through the same
        # ingest path (ruler/manager.go:224-249, writeback.go)
        rule_yaml = (
            b"name: soak-group\n"
            b"interval: 2s\n"
            b"rules:\n"
            b"  - record: soak_lines_rate\n"
            b'    expr: sum(rate({app=~"soak.*"} [1m]))\n'
            b"    labels:\n"
            b"      src: soak\n"
        )
        assert post("/loki/api/v1/rules/soak-ns", rule_yaml,
                    "application/yaml") == 202

    stop = threading.Event()
    tail_stop = threading.Event()
    stats = {"loki_acked": 0, "influx_acked": 0, "queries": 0,
             "meta": 0, "rejected_503": 0}
    errors: list[str] = []
    tails: list[dict] = []
    tail_threads: list[threading.Thread] = []
    for tc in range(tail_clients):
        rec = {"lines": [], "frames": 0, "error": None}
        tails.append(rec)
        t = threading.Thread(
            target=_ws_tail,
            args=(port, '{app=~"soak.*"}', rec, tail_stop),
            daemon=True, name=f"tail{tc}",
        )
        t.start()
        tail_threads.append(t)

    def guard(name, fn):
        def loop():
            while not stop.is_set():
                try:
                    fn()
                except Exception as ex:  # noqa: BLE001 — soak verdict
                    detail = ""
                    if isinstance(ex, urllib.error.HTTPError):
                        try:  # the response body names the real fault
                            detail = " :: " + ex.read()[:300].decode(
                                "utf-8", "replace"
                            )
                        except Exception:  # noqa: BLE001
                            pass
                    errors.append(
                        f"{name}: {type(ex).__name__}: {ex}{detail}"
                    )
                    return
        t = threading.Thread(target=loop, daemon=True, name=name)
        t.start()
        return t

    def push_loki():
        i = stats["loki_acked"]
        body = json.dumps({"streams": [{
            "stream": {"app": f"soak{i % 5}"},
            "values": [[str(now_ns + i), f"soak line {i}"]],
        }]}).encode()
        try:
            if post("/loki/api/v1/push", body) == 204:
                stats["loki_acked"] += 1
        except urllib.error.HTTPError as ex:
            if ex.code == 503:
                stats["rejected_503"] += 1  # backpressure is a valid answer
            else:
                raise
        time.sleep(0.02)

    def push_influx():
        i = stats["influx_acked"]
        line = f"soakcpu,host=h{i % 3} value={i % 7} {now_ns + i}"
        try:
            if post("/influx/write", line.encode(), "text/plain") == 204:
                stats["influx_acked"] += 1
        except urllib.error.HTTPError as ex:
            if ex.code == 503:
                stats["rejected_503"] += 1
            else:
                raise
        time.sleep(0.05)

    q_sel = urllib.parse.quote('{app=~"soak.*"}')
    q_prom = urllib.parse.quote("soakcpu")

    def query_loki():
        st, body = get(
            f"/loki/api/v1/query_range?query={q_sel}"
            f"&start={now_ns - 10**9}&end={now_ns + 10**12}&limit=100"
        )
        assert st == 200, body[:200]
        stats["queries"] += 1
        time.sleep(0.2)

    def query_prom():
        st, body = get(
            f"/api/v1/query?query={q_prom}&time={(now_ns + 10**12) // 10**9}"
        )
        assert st == 200, body[:200]
        stats["queries"] += 1
        time.sleep(0.3)

    def query_meta():
        st, body = get(f"/loki/api/v1/label/app/values"
                       f"?start=0&end={now_ns + 10**12}")
        assert st == 200, body[:200]
        stats["meta"] += 1
        time.sleep(0.5)

    threads = [
        guard("push_loki", push_loki),
        guard("push_influx", push_influx),
        guard("query_loki", query_loki),
        guard("query_prom", query_prom),
        guard("query_meta", query_meta),
    ]

    # mid-soak rotation tick on the main thread
    time.sleep(seconds / 2)
    tick = maintenance_tick(spark, gw.engine.catalog, cfg)
    rotated_old = any("2023-11-14" in p for p in
                      (tick["rotated"] or {}).get("dropped", []))

    time.sleep(seconds / 2)
    stop.set()
    for t in threads:
        t.join(timeout=30)
    alive_after_join = [t.name for t in threads if t.is_alive()]
    if tail_threads:
        # pushes stopped; the 100ms bulk window flushes the remainder.
        # Drain until every tail has CAUGHT UP to the acked set (the
        # target count is known), not a fixed sleep: under load one
        # tail poll (fresh store context + query + collect) takes
        # seconds, so the backlog at stop is poll_time × push_rate and
        # any timed wait is box-speed dependent. A genuinely lossy tail
        # still fails — it just spends the deadline first.
        want = stats["loki_acked"]
        deadline = time.time() + 240
        while time.time() < deadline and any(
            len(set(rec["lines"])) < want and rec["error"] is None
            for rec in tails
        ):
            time.sleep(1.0)
        tail_stop.set()
        for t in tail_threads:
            t.join(timeout=30)
    bulk_errors = gw.bulk.errors if gw.bulk else 0
    dropped = gw.bulk.dropped_payloads if gw.bulk else 0
    ruler_health = None
    if ruler:
        # health listing must come off the LIVE server (stop() below
        # shuts the router); the reference serves the same annotated
        # listing from manager health (manager.go:251-317)
        st_r, body_r = get("/prometheus/api/v1/rules")
        listing = json.loads(body_r)
        rules_json = [
            r
            for grp in listing["data"]["groups"]
            for r in grp["rules"]
        ]
        ruler_health = rules_json[0]["health"] if rules_json else "missing"
    gw.stop()  # drains the bulk buffer

    # post-drain: every acked push is stored
    from pyspark.sql import functions as F
    samples = gw.engine.catalog.read(spark, "samples")
    stored_loki = samples.filter(
        F.col("string").startswith("soak line")).count()
    stored_influx = samples.filter(F.col("string") == "").filter(
        F.col("timestamp_ns") >= now_ns).count()
    old_left = samples.filter(F.col("string") == "old line").count()

    acked_lines = {f"soak line {i}" for i in range(stats["loki_acked"])}
    tail_ok = True
    tail_report = []
    for rec in tails:
        got = rec["lines"]
        dupes = len(got) - len(set(got))
        missing = len(acked_lines - set(got))
        extra = len(set(got) - acked_lines)
        missing_idx = sorted(
            int(ln.rsplit(" ", 1)[1])
            for ln in (acked_lines - set(got))
        )
        tail_report.append({
            "frames": rec["frames"], "lines": len(got), "dupes": dupes,
            "missing": missing, "extra": extra, "error": rec["error"],
            "missing_head": missing_idx[:5], "missing_tail": missing_idx[-5:],
        })
        if rec["error"] or dupes or missing or extra:
            tail_ok = False

    ruler_recorded_rows = 0
    if ruler:
        from pyspark.sql import functions as F
        ts = gw.engine.catalog.read(spark, "time_series")
        fps = [
            r["fingerprint"]
            for r in ts.filter(
                F.col("labels").getItem("__name__") == "soak_lines_rate"
            ).select("fingerprint").distinct().collect()
        ]
        if fps:
            ruler_recorded_rows = (
                gw.engine.catalog.read(spark, "samples")
                .filter(F.col("fingerprint").isin(fps))
                .count()
            )

    verdict = {
        "seconds": seconds,
        "stats": stats,
        "tails": tail_report,
        "ruler_health": ruler_health,
        "ruler_recorded_rows": ruler_recorded_rows,
        "thread_errors": errors,
        "threads_stuck": alive_after_join,
        "rotate_dropped_old": rotated_old,
        "old_rows_after_rotate": old_left,
        "bulk_flush_errors": bulk_errors,
        "bulk_dropped_payloads": dropped,
        "acked_loki": stats["loki_acked"],
        "stored_loki": stored_loki,
        "acked_influx": stats["influx_acked"],
        "stored_influx": stored_influx,
        "ok": (
            not errors
            and not alive_after_join
            and rotated_old
            and old_left == 0
            and bulk_errors == 0
            and stored_loki == stats["loki_acked"]
            and stored_influx == stats["influx_acked"]
            and stats["queries"] > 0
            and stats["meta"] > 0
            and tail_ok
            and (not ruler or (
                ruler_health == "ok" and ruler_recorded_rows > 0
            ))
        ),
    }
    return verdict


def main() -> None:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 120.0
    tail_clients = int(os.environ.get("SOAK_TAIL_CLIENTS", "0"))
    ruler = os.environ.get("SOAK_RULER", "").lower() in ("1", "true")
    from gigapipe_spark.session import get_spark

    spark = get_spark("soakprobe")
    root = tempfile.mkdtemp(prefix="soak_") + "/store"
    verdict = run_soak(
        spark, root, seconds, tail_clients=tail_clients, ruler=ruler
    )
    print(json.dumps(verdict), flush=True)
    sys.exit(0 if verdict["ok"] else 1)


if __name__ == "__main__":
    main()
