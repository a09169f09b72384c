"""The served engine under test and a keep-alive HTTP client for it.

The gateway is embedded exactly as ``python -m gigapipe_spark`` builds
it (``__main__.build_gateway`` over ``get_spark``), bound to loopback
on a free port, with its store root inside the benchmark's work
directory. Everything the benchmark sends reaches it over HTTP.
"""

from __future__ import annotations

import http.client
import os
import resource
import shutil
import subprocess

TRACE_HEADER = "X-Servebench-Trace"
PUSH_ROUTES = {
    "loki": ("/loki/api/v1/push", "application/json"),
    "rw": ("/api/v1/prom/remote/write", "application/x-protobuf"),
    "zipkin": ("/tempo/spans", "application/json"),
}


def configure_env(work: str) -> None:
    """Process environment for Spark, set before the JVM starts: all
    cores, a 4 GB driver heap, and every scratch file (Spark local dirs,
    JVM and Python temp files) inside ``work``."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included, keeps its temp files
    # in ``tmp`` and writes no perf-data file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Client:
    """One keep-alive HTTP/1.1 connection to the gateway."""

    def __init__(self, port: int, timeout: float = 120.0):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)

    def request(self, method: str, path: str, body: bytes | None = None,
                headers: dict | None = None) -> tuple[int, bytes]:
        self.conn.request(method, path, body=body, headers=headers or {})
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def get(self, path: str, traced: bool = False) -> tuple[int, bytes]:
        """GET ``path``; a traced read carries ``TRACE_HEADER``, which
        the traced run's spans key on (the engine ignores it)."""
        return self.request("GET", path, headers={TRACE_HEADER: "1"} if traced else None)

    def push(self, kind: str, body: bytes) -> int:
        route, ctype = PUSH_ROUTES[kind]
        return self.request("POST", route, body, {"Content-Type": ctype})[0]

    def close(self) -> None:
        self.conn.close()


class Served:
    """SparkSession + StoreEngine + HttpGateway over a fresh store."""

    def __init__(self, work: str, bulk_max_age_ms: float | None = None):
        from gigapipe_spark.__main__ import build_gateway
        from gigapipe_spark.session import get_spark

        self.root = os.path.join(work, "store")
        shutil.rmtree(self.root, ignore_errors=True)
        self.spark = get_spark("servebench")
        self.spark.sparkContext.setLogLevel("ERROR")
        cfg = {
            "store": self.root,
            "host": "127.0.0.1",
            "port": 0,
            "mode": "all",
            "basic_auth": None,
            "allow_origin": "*",
            "bulk_max_age_ms": bulk_max_age_ms,
            "bulk_max_size_bytes": 16 * 1024 * 1024,
            "ruler_poll_sec": None,
        }
        self.gw = build_gateway(cfg, self.spark, port=0)
        self.port = self.gw.start()
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mgmt = jvm.java.lang.management.ManagementFactory

    def client(self) -> Client:
        return Client(self.port)

    def env(self, seed: int) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "defaultParallelism": sc.defaultParallelism,
            "spark_version": self.spark.version,
            "seed": seed,
        }

    def gc_ms(self) -> float:
        """Total JVM garbage-collection time so far (GC MXBeans)."""
        return float(sum(
            b.getCollectionTime() for b in self._mgmt.getGarbageCollectorMXBeans()
        ))

    def peak_rss_mb(self) -> float:
        """Python plus JVM resident-set high-water marks."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            jvm_kb = next(
                int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")
            )
        return (py_kb + jvm_kb) / 1024.0

    def store_listing(self) -> dict:
        """{table: (data files, bytes)} over the store root."""
        out = {}
        for table in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(tdir):
                continue
            files = size = 0
            for dirpath, _, names in os.walk(tdir):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dirpath, n))
            out[table] = (files, size)
        return out

    def close(self) -> None:
        """Stop the gateway (draining the bulk buffer), Spark, and the
        JVM process, and wait for the JVM to exit."""
        from pyspark import SparkContext

        try:
            self.gw.stop()
        finally:
            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
