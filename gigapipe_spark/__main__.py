"""Service entry point: ``python -m gigapipe_spark``.

Maps the reference's environment configuration surface
(docs/configuration.md) onto the Spark-native deployment, so a user of
the reference can start this engine the same way they start that one —
set env vars, run the module, point agents at port 3100:

  PORT / HOST                   bind address (defaults 3100 / 0.0.0.0)
  QRYN_LOGIN / QRYN_PASSWORD    HTTP basic auth (CLOKI_* legacy aliases)
  CORS_ALLOW_ORIGIN             CORS origin (default ``*``)
  MODE                          all | reader | writer | init_only
  READONLY=true                 alias for MODE=reader
  SAMPLES_DAYS                  retention in days; a background loop
                                runs maintenance.rotate() over every
                                fan-out table (the reference attaches
                                ClickHouse TTL clauses instead —
                                rotate.go:48-95; same policy surface)
  BULK_MAX_AGE_MS               enable bulk ingest: push routes ack on
                                enqueue and a flusher coalesces each
                                window into ONE decode + fan-out (the
                                reference writer's batching, default
                                100 there; UNSET here = synchronous
                                per-push fan-out, a stronger ack)
  BULK_MAX_SIZE_BYTES           early-flush threshold (default 16 MiB)
  LOG_LEVEL                     debug | info | warn | error

Spark-native additions (the ClickHouse connection vars have no analog —
the store IS a parquet root, not a server):

  GIGAPIPE_STORE                store root directory (default
                                ``./gigapipe-store``); plays the role of
                                CLICKHOUSE_SERVER/CLICKHOUSE_DB
  GIGAPIPE_ROTATE_INTERVAL_S    maintenance loop period (default 3600)
  GIGAPIPE_COMPACT              "1" (default) also compacts small files
                                each tick — the MergeTree background-
                                merge analog; "0" disables
  SPARK_GRAFT_CPUS              local[] parallelism for the session

Not mapped (documented divergence): CLICKHOUSE_* / CLUSTER_NAME /
*_DIST (no ClickHouse), STORAGE_POLICY (tiering is exposed as
maintenance.RotatePolicy for operators; a policy-name string has no
portable meaning here), OMIT_CREATE_TABLES (parquet tables materialize
on first append; there is no DDL step — the canonical schema registry
makes a never-written table answer empty).

Reader freshness needs no knob: every committed write (push, bulk
flush, ruler writeback, maintenance walk — from this process or
another) bumps the store's mutation seq, and the engine re-lists files
on the next request that sees it move (StoreEngine, storage/query.py).

MODE=init_only initializes the store root (directory + writer-lock
probe, which also runs journal repair + compact-leftover healing) and
exits 0 — the reference's create-tables-and-exit verb.
"""

from __future__ import annotations

import logging
import os
import threading
import time

log = logging.getLogger("gigapipe_spark.service")

_LOG_LEVELS = {
    "debug": logging.DEBUG,
    "info": logging.INFO,
    "warn": logging.WARNING,
    "error": logging.ERROR,
}


def config_from_env(env=None) -> dict:
    """Parse the env surface into a plain config dict (pure, testable).
    Unknown MODE values fail fast here, not at first request."""
    env = os.environ if env is None else env
    mode = env.get("MODE", "all").lower()
    if env.get("READONLY", "").lower() == "true":
        mode = "reader"
    if mode not in ("all", "reader", "writer", "init_only"):
        raise ValueError(
            f"MODE must be all|reader|writer|init_only, got {mode!r}"
        )
    login = env.get("QRYN_LOGIN") or env.get("CLOKI_LOGIN")
    password = env.get("QRYN_PASSWORD") or env.get("CLOKI_PASSWORD")
    samples_days = env.get("SAMPLES_DAYS")
    return {
        "store": env.get("GIGAPIPE_STORE", "./gigapipe-store"),
        "host": env.get("HOST", "0.0.0.0"),
        "port": int(env.get("PORT", "3100")),
        "mode": mode,
        "basic_auth": (login, password) if login and password else None,
        "allow_origin": env.get("CORS_ALLOW_ORIGIN", "*"),
        "samples_days": int(samples_days) if samples_days else None,
        "rotate_interval_s": float(env.get("GIGAPIPE_ROTATE_INTERVAL_S", "3600")),
        "compact": env.get("GIGAPIPE_COMPACT", "1") == "1",
        "bulk_max_age_ms": (
            float(env["BULK_MAX_AGE_MS"]) if env.get("BULK_MAX_AGE_MS") else None
        ),
        "bulk_max_size_bytes": int(
            env.get("BULK_MAX_SIZE_BYTES", str(16 * 1024 * 1024))
        ),
        # the reference gates its rule-evaluation ticker goroutines on
        # QRYN_RULER_ENABLED (ruler/router/init.go:30); the poll period
        # maps to the manager ticker — group intervals still gate which
        # rules actually evaluate each tick
        "ruler_poll_sec": (
            float(env.get("GIGAPIPE_RULER_POLL_S", "60"))
            if env.get("QRYN_RULER_ENABLED", "").lower()
            in ("1", "true", "yes")
            else None
        ),
        "log_level": _LOG_LEVELS.get(env.get("LOG_LEVEL", "info").lower(), logging.INFO),
    }


def init_store(root: str) -> str:
    """MODE=init_only verb: create the store root and take+release the
    writer flock once — acquisition runs journal.repair() and
    heal_compact_leftovers(), so init doubles as fsck. Returns the
    normalized root."""
    from gigapipe_spark.storage.writer import (
        release_store_process_lock,
        store_write_lock,
    )

    root = os.path.abspath(os.path.normpath(root))
    with store_write_lock(root):
        pass
    release_store_process_lock(root)
    return root


def build_gateway(cfg: dict, spark, port: int | None = None):
    """Assemble the StoreEngine + HttpGateway for a parsed config.
    ``port`` overrides cfg (tests bind port 0)."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = os.path.abspath(os.path.normpath(cfg["store"]))
    os.makedirs(root, exist_ok=True)
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    return HttpGateway(
        eng,
        host=cfg["host"],
        port=cfg["port"] if port is None else port,
        allow_origin=cfg["allow_origin"],
        basic_auth=cfg["basic_auth"],
        mode=cfg["mode"],
        bulk_max_age_ms=cfg.get("bulk_max_age_ms"),
        bulk_max_size_bytes=cfg.get("bulk_max_size_bytes", 16 * 1024 * 1024),
        ruler_poll_sec=cfg.get("ruler_poll_sec"),
    )


def maintenance_tick(spark, catalog, cfg: dict, today=None) -> dict:
    """One retention pass: rotate() every fan-out table by SAMPLES_DAYS
    (whole date partitions, the TTL analog) and optionally compact
    small files back to one per partition. Both take the writer flock
    internally, so a tick can never tear a concurrent push."""
    from gigapipe_spark.storage import maintenance as m

    out: dict = {"rotated": None, "compacted": {}}
    if cfg["samples_days"] is not None:
        out["rotated"] = m.rotate(
            spark,
            catalog,
            drop_days=cfg["samples_days"],
            tables=m.ALL_TABLES,
            today=today,
        )
    if cfg["compact"]:
        for table in m.ALL_TABLES:
            if os.path.isdir(catalog.path(table)):
                done = m.compact(spark, catalog, table)
                if done:
                    out["compacted"][table] = done
    return out


def _maintenance_loop(spark, catalog, cfg: dict, stop: threading.Event) -> None:
    while not stop.wait(cfg["rotate_interval_s"]):
        try:
            maintenance_tick(spark, catalog, cfg)
        except Exception:
            log.exception("maintenance tick failed; retrying next interval")


def main() -> int:
    cfg = config_from_env()
    logging.basicConfig(level=cfg["log_level"])
    if cfg["mode"] == "init_only":
        root = init_store(cfg["store"])
        log.info("store initialized at %s", root)
        return 0
    from gigapipe_spark.session import get_spark

    spark = get_spark("gigapipe_spark.service")
    gw = build_gateway(cfg, spark)
    port = gw.start()
    log.info(
        "gigapipe_spark serving on %s:%s (mode=%s, store=%s)",
        cfg["host"], port, cfg["mode"], cfg["store"],
    )
    stop = threading.Event()
    if cfg["mode"] in ("all", "writer") and (
        cfg["samples_days"] is not None or cfg["compact"]
    ):
        threading.Thread(
            target=_maintenance_loop,
            args=(spark, gw.engine.catalog, cfg, stop),
            daemon=True,
        ).start()
    import signal

    def _term(*_):
        stop.set()

    signal.signal(signal.SIGTERM, _term)
    signal.signal(signal.SIGINT, _term)
    try:
        while not stop.is_set():
            time.sleep(0.5)
    finally:
        gw.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
