"""`python -m gigapipe_spark` service entry: env config surface
(docs/configuration.md parity — PORT/HOST/auth/CORS/MODE/READONLY/
SAMPLES_DAYS) and the MODE=reader|writer router split."""

import json
import urllib.error
import urllib.request
from datetime import date

import pytest

from gigapipe_spark.__main__ import (
    build_gateway,
    config_from_env,
    init_store,
    maintenance_tick,
)

T0 = 1_700_000_000_000_000_000


def test_config_from_env_defaults():
    cfg = config_from_env({})
    assert cfg["port"] == 3100 and cfg["host"] == "0.0.0.0"
    assert cfg["mode"] == "all" and cfg["basic_auth"] is None
    assert cfg["allow_origin"] == "*" and cfg["samples_days"] is None


def test_config_from_env_aliases_and_readonly():
    cfg = config_from_env(
        {
            "CLOKI_LOGIN": "u",
            "CLOKI_PASSWORD": "p",
            "READONLY": "true",
            "SAMPLES_DAYS": "7",
            "PORT": "3200",
        }
    )
    assert cfg["basic_auth"] == ("u", "p")  # legacy CLOKI_* aliases
    assert cfg["mode"] == "reader"  # READONLY=true forces reader
    assert cfg["samples_days"] == 7 and cfg["port"] == 3200
    # QRYN_* wins over CLOKI_*
    cfg = config_from_env(
        {"QRYN_LOGIN": "a", "QRYN_PASSWORD": "b", "CLOKI_LOGIN": "u"}
    )
    assert cfg["basic_auth"] == ("a", "b")
    with pytest.raises(ValueError):
        config_from_env({"MODE": "bogus"})


def test_init_store_creates_and_heals(tmp_path):
    root = init_store(str(tmp_path / "store"))
    import os

    assert os.path.isdir(root)
    # flock released: a writer can take the store afterwards
    from gigapipe_spark.storage.writer import (
        release_store_process_lock,
        store_write_lock,
    )

    with store_write_lock(root):
        pass
    release_store_process_lock(root)


def _gw(spark, tmp_path, mode):
    cfg = config_from_env({"MODE": mode, "GIGAPIPE_STORE": str(tmp_path / "store"),
                           "HOST": "127.0.0.1"})
    gw = build_gateway(cfg, spark, port=0)
    port = gw.start()
    return gw, f"http://127.0.0.1:{port}"


def _status(base, path, body=None, method=None):
    req = urllib.request.Request(
        base + path, data=body, method=method or ("POST" if body else "GET")
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status
    except urllib.error.HTTPError as ex:
        return ex.code


_PUSH = json.dumps(
    {"streams": [{"stream": {"app": "web"},
                  "values": [[str(T0), "hello"]]}]}
).encode()


def test_mode_reader_rejects_push_serves_query(spark, tmp_path):
    gw, base = _gw(spark, tmp_path, "reader")
    try:
        assert _status(base, "/loki/api/v1/push", _PUSH) == 404
        assert _status(base, "/ready") == 200
        # reader-side query routes stay registered (empty store is fine)
        assert _status(base, "/loki/api/v1/labels") in (200, 500)
    finally:
        gw.stop()


def test_mode_writer_rejects_query_serves_push(spark, tmp_path):
    gw, base = _gw(spark, tmp_path, "writer")
    try:
        assert _status(base, "/loki/api/v1/push", _PUSH) == 204
        assert _status(base, "/ready") == 200
        assert _status(base, "/loki/api/v1/labels") == 404
        assert _status(base, "/api/v1/query?query=up") == 404
        # reader-router POSTs 404 too (form-encoded PromQL, querier RPC,
        # ruler CRUD)
        assert _status(base, "/api/v1/query_range", b"query=up") == 404
        assert (
            _status(base, "/querier.v1.QuerierService/LabelNames", b"{}")
            == 404
        )
        assert _status(base, "/api/prom/rules/ns", method="DELETE") == 404
    finally:
        gw.stop()


def test_mode_all_serves_both(spark, tmp_path):
    gw, base = _gw(spark, tmp_path, "all")
    try:
        assert _status(base, "/loki/api/v1/push", _PUSH) == 204
        assert _status(base, "/loki/api/v1/labels") == 200
    finally:
        gw.stop()


def test_maintenance_tick_rotates_and_compacts(spark, tmp_path):
    """SAMPLES_DAYS retention drops old partitions; the compact pass
    folds multi-file partitions back to one file."""
    import os

    from gigapipe_spark.sources import ingest
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    cfg = config_from_env(
        {"SAMPLES_DAYS": "7", "GIGAPIPE_STORE": str(tmp_path / "store")}
    )
    cat = Catalog(cfg["store"])
    for day_ns, n in ((T0, 2), (T0 - 90 * 86400 * 10**9, 1)):
        for i in range(n):
            payload = json.dumps(
                {"streams": [{"stream": {"app": "web"},
                              "values": [[str(day_ns + i), f"l{i}"]]}]}
            )
            decoded = ingest.loki_push(
                spark.createDataFrame([(payload,)], "payload string")
            )
            ingest_fanout(decoded, cat)
    out = maintenance_tick(
        spark, cat, cfg, today=date.fromisoformat("2023-11-20")
    )
    assert out["rotated"]["dropped"]  # the 90-day-old partition is gone
    assert "samples" in out["compacted"]  # 2-file partition folded to 1
    part_days = os.listdir(os.path.join(cat.path("samples"), "oid=0"))
    assert part_days == ["date=2023-11-14"]  # T0 = 2023-11-14 UTC


def test_maintenance_loop_refreshes_engine_after_moving_data(
    spark, tmp_path, monkeypatch
):
    """A real maintenance tick (rotate + compact) under a warm engine:
    the walk bumps the store's mutation seq, so the next query re-lists
    on its own — no refresh call — sees the compacted partition, and
    no longer returns the rotated one. (The soak probe once found
    sustained failures between a rotation and the next push.)"""
    import threading
    import time as _time

    from gigapipe_spark import __main__ as M
    from gigapipe_spark.sources import ingest
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    cfg = config_from_env(
        {"SAMPLES_DAYS": "7", "GIGAPIPE_STORE": str(tmp_path / "store")}
    )
    cfg["rotate_interval_s"] = 0.05
    cat = Catalog(cfg["store"])
    now_ns = _time.time_ns()
    old_ns = now_ns - 90 * 86400 * 10**9
    # two batches today (two files: compaction rewrites the partition)
    # and one 90 days ago (rotated away)
    for ts, line in ((now_ns, "new0"), (now_ns + 1, "new1"), (old_ns, "old")):
        payload = json.dumps(
            {"streams": [{"stream": {"app": "web"},
                          "values": [[str(ts), line]]}]}
        )
        ingest_fanout(
            ingest.loki_push(
                spark.createDataFrame([(payload,)], "payload string")
            ),
            cat,
        )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    lines = lambda: sorted(
        r["string"] for r in eng.loki_query_range('{app="web"}').collect()
    )
    assert lines() == ["new0", "new1", "old"]  # contexts warm

    ticks = []
    real_tick = M.maintenance_tick

    def tick(*a, **kw):
        ticks.append(real_tick(*a, **kw))

    monkeypatch.setattr(M, "maintenance_tick", tick)
    stop = threading.Event()
    t = threading.Thread(target=M._maintenance_loop, args=(spark, cat, cfg, stop))
    t.start()
    deadline = _time.monotonic() + 120
    while _time.monotonic() < deadline and not ticks:
        _time.sleep(0.05)
    stop.set()
    t.join(timeout=120)
    assert not t.is_alive()
    assert ticks and ticks[0]["rotated"]["dropped"]
    assert "samples" in ticks[0]["compacted"]
    assert lines() == ["new0", "new1"]


