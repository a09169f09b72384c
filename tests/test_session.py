"""Engine session bootstrap (session.ensure_engine_confs): a
host-provided vanilla SparkSession gets the engine's runtime SQL confs
before the first registry query compiles — the reference reader's
set-session-settings-per-connection analog."""

from gigapipe_spark.session import _BOOTSTRAPPED, ensure_engine_confs


def test_engine_confs_applied_once_and_idempotent(spark):
    _BOOTSTRAPPED.discard(spark)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")  # vanilla default
        ensure_engine_confs(spark)
        cores = spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(max(cores, 4))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
        )
        # idempotent: a host override after bootstrap is respected
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        ensure_engine_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_engine_session_skips_origin_capture(spark):
    """get_spark turns off PySpark's per-call origin capture, so a
    DataFrame/Column call pays no stack walk and no Py4J round trips for
    its call site."""
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    )
    assert not is_debugging_enabled()


def test_registry_entries_bootstrap_foreign_sessions(spark):
    # every registered query flows through the bootstrap wrapper
    import __spark_entry__ as e

    _BOOTSTRAPPED.discard(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    e.queries()["meta_label_values"](spark, "/root/testdata/sf0.001").count()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_evict_stopped_sessions_sweeps_dataframe_memos():
    """ADVICE r13 medium: WeakKeyDictionary eviction is a no-op for
    DataFrame-valued memos (DataFrame → session strong ref keeps the
    weak key alive), so the real eviction is a stopped-session sweep
    on access. Pinned with stand-in objects — no Spark needed."""
    import weakref

    from gigapipe_spark.session import evict_stopped_sessions, session_stopped

    class _SC:
        def __init__(self, jsc):
            self._jsc = jsc

    class _Sess:
        def __init__(self, jsc):
            self._sc = _SC(jsc)

    live, dead = _Sess(jsc=object()), _Sess(jsc=None)
    assert not session_stopped(live)
    assert session_stopped(dead)

    memo = weakref.WeakKeyDictionary()
    memo[live] = {"plan": "live-df"}
    memo[dead] = {"plan": "dead-df"}
    evict_stopped_sessions(memo)
    assert live in memo and dead not in memo
    # un-probe-able objects are treated as live (never evict on doubt)
    odd = _Sess(jsc=object())
    del odd._sc
    memo[odd] = {}
    evict_stopped_sessions(memo)
    assert odd in memo
