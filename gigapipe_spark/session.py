"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join handling, partition coalescing), Arrow on
(vectorized Python interop), shuffle partitions sized to cores rather
than the 200 default. On a 1000-executor cluster only master/memory
change; the SQL conf stays valid.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# WeakSet, not a set of id()s: id reuse after a session is GC'd would
# silently skip conf bootstrap on a brand-new session.
import weakref as _weakref

_BOOTSTRAPPED: "_weakref.WeakSet" = _weakref.WeakSet()


def session_stopped(spark: SparkSession) -> bool:
    """True when the session's SparkContext has been stopped — its
    cached DataFrames can never execute again. SparkContext.stop()
    sets `_jsc = None`, the documented tombstone pyspark itself guards
    on. An un-probe-able session is treated as live (never evict on
    doubt)."""
    try:
        return getattr(spark._sc, "_jsc", None) is None
    except Exception:
        return False


def evict_stopped_sessions(memo) -> None:
    """Drop per-session memo entries whose session is stopped.

    A WeakKeyDictionary alone cannot evict DataFrame-valued memos: a
    pyspark DataFrame strongly references its SparkSession, so
    memo → sub-dict → DataFrame → session keeps the weak key alive
    forever (ADVICE r13 medium — the weakref conversion was a no-op
    for exactly these caches). Sweeping stopped sessions on access
    breaks that cycle at the only moment it matters: the next memo use
    by any session. The weak keying still covers sessions that are
    GC'd without being stopped and kills id()-reuse aliasing."""
    for sess in list(memo.keys()):
        if session_stopped(sess):
            memo.pop(sess, None)


def ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the engine's RUNTIME-SETTABLE session defaults to a
    foreign SparkSession — the embedding contract. A host application
    (or the correctness driver) hands the engine a vanilla session with
    200 shuffle partitions and Arrow off; the reference solves the same
    problem by setting its ClickHouse session settings on every
    connection it opens. Only runtime-mutable SQL confs are touched
    (shuffle sizing, AQE, Arrow interop) — cluster-level choices
    (master, memory) remain the host's. Idempotent, once per session;
    a query entry calls this before compiling (registry.register), so
    the engine performs identically however the session was built.
    Measured on the vanilla selfcheck session: the 200-partition
    default cost ~1s per query in scheduler overhead at sf0.01
    (promql_topk 4.26s → 3.33s under engine confs)."""
    if spark in _BOOTSTRAPPED:
        return
    cores = spark.sparkContext.defaultParallelism
    for conf, val in (
        ("spark.sql.shuffle.partitions", str(max(cores, 4))),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # conf locked down by the host: keep theirs
    _BOOTSTRAPPED.add(spark)


def get_spark(app_name: str = "gigapipe_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Python workers (Pandas UDF / applyInPandas stages) unpickle closures
    # that reference this package; they inherit PYTHONPATH, not the
    # driver's runtime sys.path — export the repo root before the first
    # worker spawns so the engine works from any cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + py_path if py_path else "")
        )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); read it as a raw
        # Int64 ns — which is exactly the engine's time representation
        # (SURVEY §1.1: Int64 nanoseconds everywhere, never TimestampType).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # no per-call origin capture: with it on, every DataFrame/Column
        # call pays a Python stack walk plus Py4J round trips
        # (pyspark.errors.utils._with_origin) only to add the call site
        # to Spark error text — a 300-step withColumn chain builds in
        # 2.1 s instead of 2.8 s without it (4-core box). A static conf:
        # a host session keeps its own (ensure_engine_confs cannot set
        # it at runtime).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
