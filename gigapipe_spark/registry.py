"""Query registry: the driver-facing catalog of implemented operators.

Each entry pairs a Spark implementation (spark, sf_dir) -> DataFrame with
an equivalent DuckDB oracle SQL string over the same parquet views.
Column names are aliased identically on both sides — the driver's compare
sorts columns by name and hashes values.

Keys are grouped by engine area mirroring SURVEY §2:
  logql_*     LogQL operators   (§2.3)
  promql_*    PromQL operators  (§2.4)
  traceql_*   TraceQL operators (§2.5)
  rollup_*    materialized-view layer (§2.8)
  meta_*      meta/stat endpoints (§2.10)
  dedup_* / sim_* / text_*   LLM-data-pipeline operators (§7.5)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapipe_spark.logql.compiler import LogQLContext
from gigapipe_spark.logql.compiler import query as logql_query
from gigapipe_spark.sources.oracle import with_spans
from gigapipe_spark.sources.views import session_memo

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # engine session bootstrap: a host-provided vanilla session
            # gets the engine's runtime SQL confs before the first plan
            # compiles (session.ensure_engine_confs — the reference
            # reader's set-session-settings-per-connection analog)
            from gigapipe_spark.session import ensure_engine_confs

            ensure_engine_confs(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# Session plan memo for the PURE fixture-query builders (_logql /
# _promql / _traceql): compiling a query text builds a deep Column
# tree — hundreds of py4j round trips, ~0.3-0.5s per build even warm —
# and a dashboard re-issues the SAME text every refresh (the exact
# warm path bench.py models). The built DataFrame is immutable and the
# fixture views never change within a session, so the plan is reused
# per (session, sf, query[, params]); EXECUTION still runs fully every
# call. Entries with call-time side effects (store_roundtrip_* writes,
# engine construction) never route through these builders and are
# never memoized; store-backed contexts re-list when the store's
# mutation seq moves (StoreEngine). The memo is views.session_memo
# (keying and stopped-session eviction documented there).
def _plan_memo(key: tuple, build) -> DataFrame:
    spark, sf_dir, *name = key
    return session_memo(spark, sf_dir, ("plan", *name), build)


def _rounded(df: DataFrame, *cols: str) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


def _logql(q: str, out_cols: list, round_cols: list[str] = ()) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        def build():
            res = logql_query(LogQLContext(spark, sf_dir), q)
            # column specs are lazy (callables) because pyspark Columns
            # need an active session, and the registry is importable
            # without one
            cols = [c() if callable(c) else c for c in out_cols]
            return _rounded(res.df.select(*cols), *round_cols)

        return _plan_memo((spark, sf_dir, "logql", q), build)

    return fn


def _lbl(name: str, alias: str | None = None):
    return lambda: F.col("labels").getItem(name).alias(alias or name)


# --------------------------------------------------------------- LogQL

register(
    "logql_selector_scan",
    "SELECT user_id*8+4 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " props AS string FROM events WHERE event_type='error'",
)(_logql('{app="error"}', ["fingerprint", "timestamp_ns", "string"]))

register(
    "logql_selector_negative",
    "SELECT user_id*8 + CASE event_type WHEN 'view' THEN 1 WHEN 'purchase' THEN 2"
    " WHEN 'signup' THEN 3 END AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " props AS string FROM events WHERE event_type NOT IN ('click','error')",
)(_logql('{level="info", app!="click"}', ["fingerprint", "timestamp_ns", "string"]))

register(
    "logql_line_filter",
    "SELECT user_id*8 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " props AS string FROM events WHERE event_type='click'"
    " AND regexp_matches(props, '8[0-9]\\}')",
)(_logql('{app="click"} |~ "8[0-9]\\\\}"', ["fingerprint", "timestamp_ns", "string"]))

register(
    "logql_json_label_filter",
    "SELECT user_id*8+1 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " props AS string FROM events WHERE event_type='view'"
    " AND CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50",
)(_logql('{app="view"} | json | k > 50', ["fingerprint", "timestamp_ns", "string"]))

register(
    "logql_rate",
    "SELECT user_id*8 AS fingerprint,"
    " (epoch_ns(ts) - epoch_ns(ts) % 60000000000) AS timestamp_ns,"
    " round(count(*)/60.0, 6) AS value FROM events"
    " WHERE event_type='click' GROUP BY 1, 2",
)(_logql('rate({app="click"}[1m])', ["fingerprint", "timestamp_ns", "value"], ["value"]))

register(
    "logql_sum_by_count_over_time",
    "SELECT event_type AS app,"
    " (epoch_ns(ts) - epoch_ns(ts) % 300000000000) AS timestamp_ns,"
    " round(CAST(count(*) AS DOUBLE), 6) AS value FROM events"
    " WHERE event_type != 'error' GROUP BY 1, 2",
)(
    _logql(
        'sum by (app) (count_over_time({level="info"}[5m]))',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_unwrap_sum_over_time",
    "SELECT 'purchase' AS app,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(sum(CAST(json_extract_string(props,'$.k') AS DOUBLE)), 6) AS value"
    " FROM events WHERE event_type='purchase' GROUP BY 2",
)(
    _logql(
        'sum_over_time({app="purchase"} | json | unwrap k [10m]) by (app)',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    # unwrap duration(lbl): Go duration string → seconds (ref:
    # planner_unwrap.go:10 + unwrap.go:9); the duration label is
    # synthesized from the json field via label_format
    "logql_unwrap_duration",
    "SELECT 'purchase' AS app,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(sum(CAST(json_extract_string(props,'$.k') AS DOUBLE) * 0.001), 6) AS value"
    " FROM events WHERE event_type='purchase' GROUP BY 2",
)(
    _logql(
        'sum_over_time({app="purchase"} | json'
        ' | label_format d="{{.k}}ms" | unwrap duration(d) [10m]) by (app)',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    # unwrap bytes(lbl): humanized size → bytes (KiB = 1024)
    "logql_unwrap_bytes",
    "SELECT 'purchase' AS app,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(sum(CAST(json_extract_string(props,'$.k') AS DOUBLE) * 1024), 6) AS value"
    " FROM events WHERE event_type='purchase' GROUP BY 2",
)(
    _logql(
        'sum_over_time({app="purchase"} | json'
        ' | label_format b="{{.k}}KiB" | unwrap bytes(b) [10m]) by (app)',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    # | unwrap_value: the stored numeric sample value, no label lookup
    # (qryn grammar extension, logql_parser/model.go:335)
    "logql_unwrap_value",
    "SELECT 'purchase' AS app,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(sum(CAST(value AS DOUBLE)), 6) AS value"
    " FROM events WHERE event_type='purchase' GROUP BY 2",
)(
    _logql(
        'sum_over_time({app="purchase"} | unwrap_value [10m]) by (app)',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_comparison",
    "SELECT user_id*8+3 AS fingerprint,"
    " (epoch_ns(ts) - epoch_ns(ts) % 300000000000) AS timestamp_ns,"
    " round(CAST(count(*) AS DOUBLE),6) AS value FROM events"
    " WHERE event_type='signup' GROUP BY 1,2 HAVING count(*) > 2",
)(
    _logql(
        'count_over_time({app="signup"}[5m]) > 2',
        ["fingerprint", "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_topk",
    """
    WITH m AS (
      SELECT event_type AS app,
             (epoch_ns(ts) - epoch_ns(ts) % 3600000000000) AS timestamp_ns,
             CAST(count(*) AS DOUBLE) AS value
      FROM events WHERE event_type != 'error' GROUP BY 1, 2
    ), r AS (
      SELECT app, timestamp_ns, value,
             row_number() OVER (PARTITION BY timestamp_ns
                                ORDER BY value DESC, 'app=' || app) AS rn
      FROM m
    ) SELECT app, timestamp_ns, round(value, 6) AS value FROM r WHERE rn <= 2
    """,
)(
    _logql(
        'topk(2, sum by (app) (count_over_time({level="info"}[1h])))',
        [_lbl("app"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_bytes_rate",
    "SELECT user_id*8+1 AS fingerprint,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(sum(length(props)) / 600.0, 6) AS value FROM events"
    " WHERE event_type='view' GROUP BY 1, 2",
)(
    _logql(
        'bytes_rate({app="view"}[10m])',
        ["fingerprint", "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_bytes_over_time",
    "SELECT user_id*8+1 AS fingerprint,"
    " (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS timestamp_ns,"
    " round(CAST(sum(length(props)) AS DOUBLE), 6) AS value FROM events"
    " WHERE event_type='view' GROUP BY 1, 2",
)(
    _logql(
        'bytes_over_time({app="view"}[10m])',
        ["fingerprint", "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_scalar_arithmetic",
    "SELECT user_id*8+4 AS fingerprint,"
    " (epoch_ns(ts) - epoch_ns(ts) % 60000000000) AS timestamp_ns,"
    " round(count(*)/60.0*60, 6) AS value FROM events"
    " WHERE event_type='error' GROUP BY 1,2",
)(
    _logql(
        'rate({app="error"}[1m]) * 60',
        ["fingerprint", "timestamp_ns", "value"],
        ["value"],
    )
)


register(
    "logql_regexp_parser",
    "SELECT user_id*8 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " props AS string FROM events WHERE event_type='click'"
    " AND CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS DOUBLE) > 50",
)(
    _logql(
        '{app="click"} | regexp "\\"k\\": (?P<kv>[0-9]+)" | kv > 50',
        ["fingerprint", "timestamp_ns", "string"],
    )
)

register(
    "logql_line_format_logfmt",
    # line_format rewrites the line to logfmt; | logfmt parses it back;
    # the label filter then applies to the round-tripped value
    "SELECT user_id*8+1 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " 'kk=' || json_extract_string(props, '$.k') || ' app=view' AS string"
    " FROM events WHERE event_type='view'"
    " AND CAST(json_extract_string(props, '$.k') AS DOUBLE) <= 10",
)(
    _logql(
        '{app="view"} | json kk="k" | line_format "kk={{.kk}} app=view" | logfmt | kk <= 10',
        ["fingerprint", "timestamp_ns", "string"],
    )
)

register(
    "logql_line_format_udf",
    # regexReplaceAll exercises the Arrow-UDF template fallback (full
    # template library, ref: shared/template_funcs.go); trunc/ToUpper
    # moved into the compiled column path in round 5
    "SELECT user_id*8+2 AS fingerprint, epoch_ns(ts) AS timestamp_ns,"
    " 'id=' || CAST(user_id AS VARCHAR) || ':PURCHASE' AS string"
    " FROM events WHERE event_type='purchase'",
)(
    _logql(
        '{app="purchase"} | line_format `{{ regexReplaceAll "u(\\d+)" .instance "id=$1" }}:{{ToUpper .app}}`',
        ["fingerprint", "timestamp_ns", "string"],
    )
)

@register(
    "logql_step_reinterpolation",
    # 10m rate buckets repeated onto a 2m step grid (5 points/bucket),
    # zero points eaten
    """
    WITH m AS (
      SELECT user_id*8+4 AS fingerprint,
             (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS b,
             round(count(*)/600.0, 6) AS value
      FROM events WHERE event_type='error' GROUP BY 1, 2
    )
    SELECT fingerprint, b + i * 120000000000 AS timestamp_ns, value
    FROM m, (SELECT unnest(generate_series(0, 4)) AS i)
    WHERE value != 0
    """,
)
def logql_step_reinterpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.logql.compiler import restep

    res = logql_query(LogQLContext(spark, sf_dir), 'rate({app="error"}[10m])')
    out = restep(
        res.df.withColumn("value", F.round("value", 6)),
        range_ns=600_000_000_000,
        step_ns=120_000_000_000,
    )
    return out.select("fingerprint", "timestamp_ns", "value")


@register(
    "logql_query_range_limit",
    # newest-first limit with deterministic (ts, fingerprint) tiebreak
    """
    SELECT fingerprint, timestamp_ns, string FROM (
      SELECT user_id*8+4 AS fingerprint, epoch_ns(ts) AS timestamp_ns,
             props AS string FROM events WHERE event_type='error'
    ) ORDER BY timestamp_ns DESC, fingerprint DESC LIMIT 100
    """,
)
def logql_query_range_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.logql.compiler import query_range

    res = query_range(
        LogQLContext(spark, sf_dir), '{app="error"}', limit=100, direction="backward"
    )
    return res.df.select("fingerprint", "timestamp_ns", "string")


register(
    "logql_absent_over_time",
    # buckets (over the table's extent) where the heavily-filtered
    # selector matched nothing
    """
    WITH b AS (SELECT (epoch_ns(ts) - epoch_ns(ts) % 600000000000) AS bucket,
                      count(*) FILTER (WHERE event_type = 'signup'
                                       AND CAST(json_extract_string(props,'$.k') AS DOUBLE) > 95) AS hits
               FROM events GROUP BY 1),
    bounds AS (SELECT min(bucket) lo, max(bucket) hi FROM b),
    grid AS (SELECT unnest(generate_series(lo, hi, 600000000000)) AS timestamp_ns FROM bounds)
    SELECT CAST(0 AS BIGINT) AS fingerprint, g.timestamp_ns, 1.0 AS value
    FROM grid g LEFT JOIN b ON g.timestamp_ns = b.bucket AND b.hits > 0
    WHERE b.bucket IS NULL
    """,
)(
    _logql(
        'absent_over_time({app="signup"} | json | k > 95 [10m])',
        ["fingerprint", "timestamp_ns", "value"],
    )
)


# --------------------------------------------------------------- PromQL

from gigapipe_spark.promql.compiler import PromQLContext  # noqa: E402
from gigapipe_spark.promql.compiler import query as promql_query  # noqa: E402
from gigapipe_spark.sources.oracle import METRIC_SAMPLES_CTE, counter_cte  # noqa: E402


def _promql(q: str, out_cols: list, step_ns: int = 60_000_000_000) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        def build():
            df = promql_query(
                PromQLContext(spark, sf_dir, step_ns=step_ns), q
            )
            cols = [c() if callable(c) else c for c in out_cols]
            return df.select(*cols).withColumn("value", F.round("value", 6))

        return _plan_memo((spark, sf_dir, "promql", q, step_ns), build)

    return fn


_FPV = ["fingerprint", "timestamp_ns", "value"]

register(
    "promql_rate_counter_resets",
    counter_cte(600_000_000_000, "app='click'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round((max_by(value, timestamp_ns) - min_by(value, timestamp_ns)
                  + sum(CASE WHEN prev > value THEN prev ELSE 0 END)) / 600.0, 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('rate({app="click"}[10m])', _FPV))

register(
    "promql_increase",
    counter_cte(3_600_000_000_000, "app='view'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(max_by(value, timestamp_ns) - min_by(value, timestamp_ns)
                 + sum(CASE WHEN prev > value THEN prev ELSE 0 END), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('increase({app="view"}[1h])', _FPV))

register(
    "promql_delta",
    counter_cte(3_600_000_000_000, "app='purchase'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(max_by(value, timestamp_ns) - min_by(value, timestamp_ns), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('delta({app="purchase"}[1h])', _FPV))

register(
    "promql_resets",
    counter_cte(3_600_000_000_000, "app='click'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(CAST(sum(CASE WHEN prev IS NOT NULL AND prev > value THEN 1 ELSE 0 END) AS DOUBLE), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('resets({app="click"}[1h])', _FPV))

register(
    "promql_changes",
    counter_cte(3_600_000_000_000, "app='click'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(CAST(sum(CASE WHEN prev IS NOT NULL AND prev != value THEN 1 ELSE 0 END) AS DOUBLE), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('changes({app="click"}[1h])', _FPV))

_IRATE_CTE = f"""
WITH {METRIC_SAMPLES_CTE}, d AS (
  SELECT fingerprint, timestamp_ns, value,
         (timestamp_ns - timestamp_ns % 3600000000000) AS bucket,
         lag(value) OVER w AS prev,
         lag(timestamp_ns) OVER w AS prev_ts
  FROM metric_samples WHERE app='purchase'
  WINDOW w AS (PARTITION BY fingerprint, (timestamp_ns - timestamp_ns % 3600000000000)
               ORDER BY timestamp_ns)
)
"""

register(
    "promql_idelta",
    _IRATE_CTE
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(max_by(value - prev, timestamp_ns) FILTER (WHERE prev IS NOT NULL), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('idelta({app="purchase"}[1h])', _FPV))

register(
    "promql_irate",
    _IRATE_CTE
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(max_by(value - prev, timestamp_ns) FILTER (WHERE prev IS NOT NULL)
                 / (max_by(timestamp_ns - prev_ts, timestamp_ns) FILTER (WHERE prev IS NOT NULL) / 1e9),
                 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('irate({app="purchase"}[1h])', _FPV))

register(
    "promql_subquery_max_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT fingerprint, app, (timestamp_ns - timestamp_ns % 60000000000) AS step_b,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app='click' GROUP BY 1, 2, 3
    ), summed AS (
      SELECT app, step_b, sum(value) AS value FROM inst GROUP BY 1, 2
    )
    SELECT app, (step_b - step_b % 3600000000000) AS timestamp_ns,
           round(max(value), 6) AS value
    FROM summed GROUP BY 1, 2
    """,
)(
    _promql(
        'max_over_time(sum by (app) ({app="click"})[1h:1m])',
        [_lbl("app"), "timestamp_ns", "value"],
        step_ns=60_000_000_000,
    )
)

register(
    "promql_avg_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 1800000000000) AS timestamp_ns,
           round(avg(value), 6) AS value
    FROM metric_samples WHERE app='signup' GROUP BY 1, 2
    """,
)(_promql('avg_over_time({app="signup"}[30m])', _FPV))

register(
    "promql_sum_by_sum_over_time",
    # exercises the agg/range commute: ONE (app, bucket) aggregation
    # over raw samples (optimizer/vector_agg.go pushdown analog)
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT app, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(SUM(value), 6) AS value
    FROM metric_samples GROUP BY 1, 2
    """,
)(
    _promql(
        'sum by (app) (sum_over_time({app=~".+"}[1h]))',
        [_lbl("app"), "timestamp_ns", "value"],
    )
)

register(
    "promql_count_values",
    # count_values("v", sgn(...)) by (app): series count per distinct
    # sample value; the value string becomes label v
    f"""
    WITH {METRIC_SAMPLES_CTE}, l AS (
      SELECT app, instance, level,
             (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples GROUP BY 1, 2, 3, 4
    )
    SELECT app,
           CAST(CASE WHEN value > 0 THEN 1.0::DOUBLE
                     WHEN value < 0 THEN -1.0::DOUBLE
                     ELSE 0.0::DOUBLE END AS VARCHAR) AS v,
           ts AS timestamp_ns, CAST(COUNT(*) AS DOUBLE) AS value
    FROM l GROUP BY 1, 2, 3
    """,
)(
    _promql(
        'count_values by (app) ("v", sgn(last_over_time({app=~".+"}[1h])))',
        [_lbl("app"), _lbl("v"), "timestamp_ns", "value"],
    )
)

register(
    "promql_day_of_week_timestamp",
    # day_of_week(timestamp(v)): the sample timestamp (unix seconds)
    # re-read as a value, then calendar-extracted (0 = Sunday — DuckDB's
    # dayofweek uses the same convention)
    f"""
    WITH {METRIC_SAMPLES_CTE}, l AS (
      SELECT app, instance, level,
             (timestamp_ns - timestamp_ns % 3600000000000) AS ts
      FROM metric_samples GROUP BY 1, 2, 3, 4
    )
    SELECT app, instance, ts AS timestamp_ns,
           CAST(dayofweek(to_timestamp(ts // 1000000000)) AS DOUBLE) AS value
    FROM l
    """,
)(
    _promql(
        'day_of_week(timestamp(last_over_time({app=~".+"}[1h])))',
        [_lbl("app"), _lbl("instance"), "timestamp_ns", "value"],
    )
)

register(
    "promql_instant_sum_by",
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT fingerprint, app, (timestamp_ns - timestamp_ns % 60000000000) AS bucket,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE level='info' GROUP BY 1, 2, 3
    )
    SELECT app, bucket AS timestamp_ns, round(sum(value), 6) AS value
    FROM inst GROUP BY 1, 2
    """,
)(_promql('sum by (app) ({level="info"})', [_lbl("app"), "timestamp_ns", "value"]))

register(
    # quantile(φ, v) by (lbl) vector aggregation — φ-quantile with linear
    # interpolation across the group's series per step (supported in the
    # reference via the embedded engine, prometheus_query_range.go:24-45)
    "promql_quantile_agg",
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT fingerprint, level, (timestamp_ns - timestamp_ns % 60000000000) AS bucket,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app='click' GROUP BY 1, 2, 3
    )
    SELECT level, bucket AS timestamp_ns, round(quantile_cont(value, 0.9), 6) AS value
    FROM inst GROUP BY 1, 2
    """,
)(_promql('quantile by (level) (0.9, {app="click"})', [_lbl("level"), "timestamp_ns", "value"]))

register(
    # ^ (right-associative power) and atan2 binary operators
    "promql_pow_atan2",
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 60000000000) AS bucket,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app='click' GROUP BY 1, 2
    )
    SELECT fingerprint, bucket AS timestamp_ns,
           round(atan2(pow(value, 0.5), 3.0), 6) AS value
    FROM inst
    """,
)(_promql('{app="click"} ^ 0.5 atan2 3', _FPV))

register(
    "promql_vector_matching_ratio",
    # share-of-total via / on() group_left (many-to-one matching)
    f"""
    WITH {METRIC_SAMPLES_CTE}, per_app AS (
      SELECT app, (timestamp_ns - timestamp_ns % 3600000000000) AS b,
             CAST(count(*) AS DOUBLE) AS v
      FROM metric_samples WHERE level='info' GROUP BY 1, 2
    ), total AS (SELECT b, sum(v) AS t FROM per_app GROUP BY 1)
    SELECT p.app, p.b AS timestamp_ns, round(p.v / t.t, 6) AS value
    FROM per_app p JOIN total t ON p.b = t.b
    """,
)(
    _promql(
        'sum by (app) (count_over_time({level="info"}[1h]))'
        ' / on() group_left sum(count_over_time({level="info"}[1h]))',
        [_lbl("app"), "timestamp_ns", "value"],
    )
)

register(
    "promql_comparison",
    counter_cte(3_600_000_000_000, "app='error'")
    + """
    , m AS (
      SELECT fingerprint, bucket AS timestamp_ns,
             max_by(value, timestamp_ns) - min_by(value, timestamp_ns)
             + sum(CASE WHEN prev > value THEN prev ELSE 0 END) AS value
      FROM d GROUP BY 1, 2
    ) SELECT fingerprint, timestamp_ns, round(value, 6) AS value FROM m WHERE value > 500
    """,
)(_promql('increase({app="error"}[1h]) > 500', _FPV))

register(
    "promql_abs_scalar_arith",
    counter_cte(3_600_000_000_000, "app='view'")
    + """
    SELECT fingerprint, bucket AS timestamp_ns,
           round(abs(max_by(value, timestamp_ns) - min_by(value, timestamp_ns)), 6) AS value
    FROM d GROUP BY 1, 2
    """,
)(_promql('abs(delta({app="view"}[1h]) * -1)', _FPV))


@register(
    "promql_sum_over_time_rollup",
    # served from metrics_15s partials (downsample shortcut, ref:
    # prom_queryable.go:155); oracle computes from raw — results must be
    # identical because the partials re-aggregate losslessly
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 1800000000000) AS timestamp_ns,
           round(sum(value), 6) AS value
    FROM metric_samples WHERE app='click' GROUP BY 1, 2
    """,
)
def promql_sum_over_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = promql_query(
        PromQLContext(spark, sf_dir, use_rollup=True), 'sum_over_time({app="click"}[30m])'
    )
    return df.select("fingerprint", "timestamp_ns", F.round("value", 6).alias("value"))


register(
    "traceql_select_stage",
    with_spans(
        "SELECT trace_id, span_id, returnflag, linestatus FROM spans"
        " WHERE name = 'item' AND duration_ns > 80000000"
    ),
)(
    lambda spark, sf_dir: traceql_query(
        TraceQLContext(spark, sf_dir),
        '{ name = "item" && duration > 80ms } | select(returnflag, linestatus)',
    ).select("trace_id", "span_id", "returnflag", "linestatus")
)


@register(
    "traceql_tag_names",
    # tag autocomplete (ref: all_tags_request_planner.go, tempo.go:161)
    "SELECT * FROM (VALUES ('name'), ('service.name'), ('status'),"
    " ('priority'), ('returnflag'), ('linestatus'), ('quantity')) t(key)",
)
def traceql_tag_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = TraceQLContext(spark, sf_dir)
    return c.attrs().select("key").distinct()


@register(
    # v2 scoped tags (ref: TagsV2 tempo.go:181): resource/span/intrinsic
    "traceql_tags_v2",
    """
    SELECT * FROM (VALUES
      ('resource', 'service.name'),
      ('span', 'name'), ('span', 'status'), ('span', 'priority'),
      ('span', 'returnflag'), ('span', 'linestatus'), ('span', 'quantity'),
      ('intrinsic', 'duration'), ('intrinsic', 'name'), ('intrinsic', 'status'),
      ('intrinsic', 'statusMessage'), ('intrinsic', 'kind'),
      ('intrinsic', 'rootName'), ('intrinsic', 'rootServiceName'),
      ('intrinsic', 'traceDuration')
    ) t(scope, tag)
    """,
)
def traceql_tags_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).tempo_tags_v2()


@register(
    "traceql_tag_values",
    # values autocomplete for one key, filtered by a selector
    # (ref: select_values_planner.go)
    with_spans(
        "SELECT DISTINCT returnflag AS val FROM spans"
        " WHERE name = 'item' AND returnflag IS NOT NULL"
    ),
)
def traceql_tag_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.traceql.compiler import select_spans
    from gigapipe_spark.traceql.parser import TraceQLParser

    c = TraceQLContext(spark, sf_dir)
    sel = TraceQLParser('{ name = "item" }').parse_spanset_atom()
    ids = select_spans(c, sel)
    return (
        c.attrs()
        .join(ids, ["trace_id", "span_id"], "left_semi")
        .filter(F.col("key") == "returnflag")
        .select("val")
        .distinct()
    )


_ATTRS_CTE = """
attrs AS (
  SELECT trace_id, span_id, 'name' AS key, name AS val FROM spans
  UNION ALL SELECT trace_id, span_id, 'service.name', service_name FROM spans
  UNION ALL SELECT trace_id, span_id, 'status', status FROM spans WHERE status IS NOT NULL
  UNION ALL SELECT trace_id, span_id, 'priority', priority FROM spans WHERE priority IS NOT NULL
  UNION ALL SELECT trace_id, span_id, 'returnflag', returnflag FROM spans WHERE returnflag IS NOT NULL
  UNION ALL SELECT trace_id, span_id, 'linestatus', linestatus FROM spans WHERE linestatus IS NOT NULL
  UNION ALL SELECT trace_id, span_id, 'quantity', quantity FROM spans WHERE quantity IS NOT NULL
)
"""


@register(
    "traceql_compare",
    with_spans(
        f""", {_ATTRS_CTE}, sel AS (
      SELECT trace_id, span_id FROM attrs WHERE key = 'returnflag' AND val = 'R'
    ), counts AS (
      SELECT a.key, a.val,
             CAST(SUM(CASE WHEN s.span_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS selection_count,
             CAST(SUM(CASE WHEN s.span_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS baseline_count
      FROM attrs a LEFT JOIN sel s ON a.trace_id = s.trace_id AND a.span_id = s.span_id
      GROUP BY 1, 2
    )
    SELECT key, val, selection_count, baseline_count FROM counts
    QUALIFY row_number() OVER (ORDER BY selection_count DESC, key, val) <= 10
    """
    ),
)
def traceql_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.traceql.compiler import compare_attrs
    from gigapipe_spark.traceql.parser import TraceQLParser

    sel = TraceQLParser('{ returnflag = "R" }').parse_spanset_atom()
    return compare_attrs(TraceQLContext(spark, sf_dir), sel, top_n=10)


# --------------------------------------------------------------- meta

@register(
    "meta_label_values",
    "SELECT DISTINCT event_type AS val FROM events",
)
def meta_label_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-values endpoint (ref: planner_label_names.go / SURVEY §2.3
    meta planners): distinct values of one label from the GIN index."""
    from gigapipe_spark.sources import views

    gin = views.time_series_gin(spark, sf_dir)
    return gin.filter(F.col("key") == "app").select(F.col("val")).distinct()


@register(
    "meta_index_stats",
    "SELECT CAST(count(DISTINCT user_id*8 + CASE event_type WHEN 'click' THEN 0"
    " WHEN 'view' THEN 1 WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END)"
    " AS BIGINT) AS streams, count(*) AS entries,"
    " CAST(sum(length(props)) AS BIGINT) AS bytes FROM events",
)
def meta_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index/stats endpoint (ref: reader/service/query_range.go:804-893)."""
    from gigapipe_spark.sources import views

    s = views.samples(spark, sf_dir)
    return s.agg(
        F.countDistinct("fingerprint").alias("streams"),
        F.count(F.lit(1)).alias("entries"),
        F.sum(F.length("string")).cast("long").alias("bytes"),
    )


@register(
    "meta_volume",
    "SELECT event_type AS app, CAST(sum(length(props)) AS BIGINT) AS volume"
    " FROM events GROUP BY 1",
)
def meta_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label byte volume (ref: controller/volume.go:17)."""
    from gigapipe_spark.sources import views

    s = views.samples(spark, sf_dir)
    series = views.time_series(spark, sf_dir)
    return (
        s.join(F.broadcast(series.select("fingerprint", "labels")), "fingerprint")
        .groupBy(_lbl("app")())
        .agg(F.sum(F.length("string")).cast("long").alias("volume"))
    )


@register(
    "meta_volume_selector",
    "SELECT event_type AS app, round(CAST(sum(length(props)) AS DOUBLE), 6) AS volume"
    " FROM events WHERE event_type = 'view' GROUP BY 1",
)
def meta_volume_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector-scoped volume via the reference's internal rewrite:
    QueryVolume runs sum(bytes_over_time({sel} [step])) by (labels)
    through the engine and totals buckets per label set (ref:
    service/query_range.go:166-177; target labels default to the
    selector's matcher names, :146). step==range tiles the window, so
    every sample counts exactly once."""
    from gigapipe_spark.api import Engine

    return Engine(spark, sf_dir).loki_index_volume(query='{app="view"}')


# --------------------------------------------------------------- TraceQL

from gigapipe_spark.traceql.compiler import TraceQLContext  # noqa: E402
from gigapipe_spark.traceql.compiler import assemble_traces  # noqa: E402
from gigapipe_spark.traceql.compiler import query as traceql_query  # noqa: E402
from gigapipe_spark.sources.oracle import with_spans  # noqa: E402


def _traceql(q: str, cols=("trace_id", "span_id"), round_cols=()) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        def build():
            # entries that emit only the id pair let plain searches
            # skip the final id→row fetch join (compile_script ids_only)
            df = traceql_query(
                TraceQLContext(spark, sf_dir),
                q,
                ids_only=set(cols) <= {"trace_id", "span_id"},
            ).select(*cols)
            return _rounded(df, *round_cols)

        return _plan_memo(
            (spark, sf_dir, "traceql", q, cols, round_cols), build
        )

    return fn


register(
    "traceql_attr_eq",
    with_spans("SELECT trace_id, span_id FROM spans WHERE returnflag = 'R'"),
)(_traceql('{ returnflag = "R" }'))


@register(
    # legacy (pre-TraceQL) tags= search: logfmt pairs + duration bound,
    # trace-level assembly (ref: SQLIndexQuery sql_index_query.go:30 +
    # GetTracesQuery traces_query.go)
    "tempo_search_tags_legacy",
    with_spans(
        """
        SELECT trace_id, count(*) AS span_count,
               CAST(sum(duration_ns) AS BIGINT) AS total_duration_ns
        FROM spans
        WHERE returnflag = 'R' AND duration_ns >= 50000000
        GROUP BY trace_id
        """
    ),
)
def tempo_search_tags_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = Engine(spark, sf_dir).tempo_search_tags(
        'returnflag="R"', limit=1_000_000, min_duration_ns=50_000_000
    )
    return out.select("trace_id", "span_count", "total_duration_ns")

register(
    "traceql_duration_filter",
    with_spans("SELECT trace_id, span_id FROM spans WHERE duration_ns > 50000000"),
)(_traceql("{ duration > 50ms }"))

register(
    "traceql_bitmask_and_or",
    with_spans(
        "SELECT trace_id, span_id FROM spans WHERE (status IN ('F','P'))"
        " AND regexp_matches(priority, '1-.*')"
    ),
)(_traceql('{ (status = "F" || status = "P") && priority =~ "1-.*" }'))

register(
    "traceql_attr_and_duration",
    with_spans(
        "SELECT trace_id, span_id FROM spans WHERE name='item' AND duration_ns > 60000000"
    ),
)(_traceql('{ name = "item" && duration > 60ms }'))

register(
    "traceql_descendant",
    with_spans(
        """
        SELECT c.trace_id, c.span_id FROM spans c
        JOIN spans p ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
        WHERE c.returnflag = 'R' AND p.priority = '1-URGENT'
        """
    ),
)(_traceql('{ priority = "1-URGENT" } &>> { returnflag = "R" }'))

register(
    "traceql_metrics_topk",
    with_spans(
        """
        , m AS (
          SELECT (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
                 CAST(COUNT(*) AS DOUBLE) AS value
          FROM spans WHERE name = 'item' GROUP BY 1
        )
        SELECT ts AS timestamp_ns, round(value, 6) AS value FROM m
        QUALIFY row_number() OVER (ORDER BY value DESC, ts) <= 5
        """
    ),
)(
    _traceql(
        '{ name = "item" } | count_over_time() | topk(5)',
        cols=("timestamp_ns", "value"),
        round_cols=("value",),
    )
)

register(
    "traceql_not_descendant",
    # !>>: right-side spans with NO matching ancestor (ref: negated
    # structural ops, expression_planner_complex.go)
    with_spans(
        """
        SELECT c.trace_id, c.span_id FROM spans c
        JOIN spans p ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
        WHERE c.returnflag = 'R' AND p.priority <> '1-URGENT'
        """
    ),
)(_traceql('{ priority = "1-URGENT" } !>> { returnflag = "R" }'))

register(
    "traceql_ancestor",
    with_spans(
        """
        SELECT DISTINCT p.trace_id, p.span_id FROM spans p
        JOIN spans c ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
        WHERE p.name = 'order' AND c.returnflag = 'R'
        """
    ),
)(_traceql('{ returnflag = "R" } <<& { name = "order" }'))

register(
    "traceql_sibling",
    with_spans(
        """
        SELECT DISTINCT b.trace_id, b.span_id FROM spans b
        JOIN spans a ON a.trace_id = b.trace_id AND a.parent_id = b.parent_id
                    AND a.span_id != b.span_id
        WHERE b.returnflag = 'A' AND a.returnflag = 'R'
          AND b.parent_id != '' AND a.parent_id != ''
        """
    ),
)(_traceql('{ returnflag = "R" } ~ { returnflag = "A" }'))

register(
    "traceql_spanset_count",
    with_spans(
        """
        SELECT trace_id, span_id FROM spans WHERE trace_id IN (
          SELECT trace_id FROM spans GROUP BY trace_id HAVING count(*) > 45
        )
        """
    ),
)(_traceql("{} | count() > 45"))

register(
    # pipeline-level union with a PER-SELECTOR aggregator (ref:
    # model_v2.go Selector{AttrSelector, Aggregator} + script-level
    # Head Op Tail, lexer And=&& Or=|| — the shape the reference's own
    # planner_test.go exercises): item spans of traces with >40 items,
    # union ALL order spans
    "traceql_scripted_union",
    with_spans(
        """
        , f AS (
          SELECT trace_id, span_id FROM spans
          WHERE name = 'item' AND trace_id IN (
            SELECT trace_id FROM spans WHERE name = 'item'
            GROUP BY trace_id HAVING count(*) > 40
          )
        ), o AS (
          SELECT trace_id, span_id FROM spans WHERE name = 'order'
        )
        SELECT DISTINCT trace_id, span_id
        FROM (SELECT * FROM f UNION ALL SELECT * FROM o)
        """
    ),
)(_traceql('{ name = "item" } | count() > 40 || { name = "order" }'))

register(
    "traceql_spanset_avg_duration",
    with_spans(
        """
        SELECT trace_id, span_id FROM spans
        WHERE name = 'item' AND trace_id IN (
          SELECT trace_id FROM spans WHERE name = 'item' GROUP BY trace_id
          HAVING avg(duration_ns) > 30000000
        )
        """
    ),
)(_traceql('{ name = "item" } | avg(duration) > 30ms'))

register(
    # aggregate over a NAMED span attribute, not duration (ref:
    # clickhouse_transpiler/aggregator.go:12)
    "traceql_spanset_avg_attr",
    with_spans(
        """
        SELECT trace_id, span_id FROM spans
        WHERE name = 'item' AND trace_id IN (
          SELECT trace_id FROM spans WHERE name = 'item' GROUP BY trace_id
          HAVING avg(CAST(quantity AS DOUBLE)) > 30
        )
        """
    ),
)(_traceql('{ name = "item" } | avg(quantity) > 30'))


@register(
    "traceql_trace_assembly",
    with_spans(
        """
        SELECT trace_id, count(*) AS span_count, min(timestamp_ns) AS start_ns,
               CAST(sum(duration_ns) AS BIGINT) AS total_duration_ns
        FROM spans WHERE returnflag = 'R' GROUP BY trace_id
        """
    ),
)
def traceql_trace_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = TraceQLContext(spark, sf_dir)
    spans = traceql_query(c, '{ returnflag = "R" }')
    return assemble_traces(c, spans).select(
        "trace_id", "span_count", "start_ns", "total_duration_ns"
    )


register(
    "traceql_metrics_rate",
    with_spans(
        """
        SELECT (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
               round(count(*) / 3600.0, 6) AS value
        FROM spans WHERE name = 'item' GROUP BY 1
        """
    ),
)(_traceql('{ name = "item" } | rate()', cols=("timestamp_ns", "value"), round_cols=("value",)))

register(
    # metrics with by() grouping (metrics_query.go resolvedByLabels)
    "traceql_metrics_by",
    with_spans(
        """
        SELECT returnflag,
               (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
               CAST(count(*) AS DOUBLE) AS value
        FROM spans WHERE name = 'item' GROUP BY 1, 2
        """
    ),
)(
    _traceql(
        '{ name = "item" } | count_over_time() by (returnflag)',
        cols=("returnflag", "timestamp_ns", "value"),
    )
)

register(
    # metrics over a NAMED attr target (buildAggExpr aggregates the
    # selected attribute, not duration)
    "traceql_metrics_avg_attr",
    with_spans(
        """
        SELECT (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
               round(avg(CAST(quantity AS DOUBLE)), 6) AS value
        FROM spans WHERE name = 'item' GROUP BY 1
        """
    ),
)(
    _traceql(
        '{ name = "item" } | avg_over_time(quantity)',
        cols=("timestamp_ns", "value"),
        round_cols=("value",),
    )
)


@register(
    # instant metrics: ONE aggregate per by-group over the whole window
    # (BuildMetricsInstantQuery metrics_query.go:143)
    "traceql_metrics_instant",
    with_spans(
        """
        SELECT returnflag,
               round(count(*) / 315446400.0, 6) AS value
        FROM spans
        WHERE name = 'item' AND timestamp_ns >= 694224000000000000
          AND timestamp_ns < 1009670400000000000
        GROUP BY 1
        """
    ),
)
def traceql_metrics_instant(spark: SparkSession, sf_dir: str) -> DataFrame:
    # window: 1992-01-01 .. 2001-12-30 (fixed constants spanning the
    # TPC-H date range) → window seconds = 315360000
    df = Engine(spark, sf_dir).tempo_metrics_query_instant(
        '{ name = "item" } | rate() by (returnflag)',
        start_ns=694_224_000_000_000_000,
        end_ns=1_009_670_400_000_000_000,
    )
    return df.select("returnflag", F.round("value", 6).alias("value"))


@register(
    "traceql_metrics_quantile",
    with_spans(
        """
        SELECT (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
               round(quantile_cont(duration_ns, 0.9), 4) AS value
        FROM spans WHERE name = 'item' GROUP BY 1
        """
    ),
)
def _traceql_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plan-memoized like every _traceql()-built entry (this one has a
    # hand-rolled wrapper only because of its column shape)
    def build():
        df = traceql_query(
            TraceQLContext(spark, sf_dir),
            '{ name = "item" } | quantile_over_time(duration, 0.9)',
        )
        return df.select("timestamp_ns", F.round("value", 4).alias("value"))

    return _plan_memo((spark, sf_dir, "traceql_metrics_quantile"), build)

register(
    "traceql_metrics_histogram",
    with_spans(
        """
        SELECT (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
               CASE WHEN duration_ns > 0 THEN power(2.0, ceil(log2(CAST(duration_ns AS DOUBLE)))) ELSE 0.0 END AS le,
               round(CAST(count(*) AS DOUBLE), 6) AS value
        FROM spans WHERE name = 'order' GROUP BY 1, 2
        """
    ),
)(
    _traceql(
        '{ name = "order" } | histogram_over_time(duration)',
        cols=("timestamp_ns", "le", "value"),
        round_cols=("value",),
    )
)


@register(
    # generic metrics exemplars: ONE deterministic span per
    # (ts bucket, by-group) — first by (timestamp_ns, trace_id, span_id);
    # for rate() the exemplar value is the series value at that bucket
    # (ref: BuildGenericExemplarsQuery metrics_query.go:638 +
    # tsToValue lookup tempo_metrics.go:296)
    "traceql_metrics_exemplars",
    with_spans(
        """
        , f AS (
          SELECT returnflag, trace_id, span_id, duration_ns, timestamp_ns,
                 (timestamp_ns - timestamp_ns % 3600000000000) AS ts
          FROM spans WHERE name = 'item'
        ), ex AS (
          SELECT returnflag, ts, trace_id, duration_ns AS dur_ns,
                 timestamp_ns AS span_ts
          FROM f
          QUALIFY row_number() OVER (
            PARTITION BY returnflag, ts
            ORDER BY timestamp_ns, trace_id, span_id
          ) = 1
        ), m AS (
          SELECT returnflag, ts, round(count(*) / 3600.0, 6) AS value
          FROM f GROUP BY 1, 2
        )
        SELECT ex.returnflag, ex.ts AS timestamp_ns, ex.trace_id,
               ex.dur_ns, ex.span_ts, m.value
        FROM ex JOIN m ON ex.returnflag = m.returnflag AND ex.ts = m.ts
        """
    ),
)
def traceql_metrics_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = Engine(spark, sf_dir).tempo_metrics_exemplars(
        '{ name = "item" } | rate() by (returnflag)'
    )
    return df.select(
        "returnflag", "timestamp_ns", "trace_id", "dur_ns", "span_ts",
        F.round("value", 6).alias("value"),
    )


@register(
    # histogram exemplars: one deterministic span per (ts bucket, le
    # bucket), value = 1 (ref: BuildHistogramExemplarsQuery
    # metrics_query.go:558; response value tempo_metrics.go:630)
    "traceql_metrics_histogram_exemplars",
    with_spans(
        """
        , f AS (
          SELECT trace_id, span_id, duration_ns, timestamp_ns,
                 (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
                 CASE WHEN duration_ns > 0
                      THEN power(2.0, ceil(log2(CAST(duration_ns AS DOUBLE))))
                      ELSE 0.0 END AS le
          FROM spans WHERE name = 'order'
        )
        SELECT ts AS timestamp_ns, le, trace_id,
               duration_ns AS dur_ns, timestamp_ns AS span_ts,
               1.0 AS value
        FROM f
        QUALIFY row_number() OVER (
          PARTITION BY ts, le ORDER BY timestamp_ns, trace_id, span_id
        ) = 1
        """
    ),
)
def traceql_metrics_histogram_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).tempo_metrics_exemplars(
        '{ name = "order" } | histogram_over_time(duration)'
    ).select("timestamp_ns", "le", "trace_id", "dur_ns", "span_ts", "value")


@register(
    "meta_detected_fields",
    # fields parsed from the log payload itself (ref: detected_fields,
    # planner_labels_detect.go): JSON keys of props with line counts
    """
    SELECT field, CAST(COUNT(*) AS BIGINT) AS lines FROM (
      SELECT unnest(json_keys(props)) AS field FROM events
    ) GROUP BY 1
    """,
)
def meta_detected_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.api import Engine

    return Engine(spark, sf_dir).loki_detected_fields()


@register(
    "meta_detected_labels",
    # per label key: distinct-value cardinality (ref: detected_labels,
    # service/query_range.go:222)
    """
    SELECT 'app' AS key, CAST(count(DISTINCT event_type) AS BIGINT) AS cardinality FROM events
    UNION ALL
    SELECT 'instance', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
    UNION ALL
    SELECT 'level', CAST(count(DISTINCT CASE WHEN event_type='error' THEN 'error' ELSE 'info' END) AS BIGINT) FROM events
    """,
)
def meta_detected_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.sources import views

    gin = views.time_series_gin(spark, sf_dir)
    return gin.groupBy("key").agg(F.countDistinct("val").alias("cardinality"))


@register(
    "meta_series",
    # series endpoint: distinct label sets for a selector
    "SELECT DISTINCT event_type AS app, 'u' || CAST(user_id AS VARCHAR) AS instance"
    " FROM events WHERE event_type = 'purchase'",
)
def meta_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.logql.compiler import fingerprints
    from gigapipe_spark.logql.parser import parse
    from gigapipe_spark.sources import views

    sel = parse('{app="purchase"}').selector
    lctx = LogQLContext(spark, sf_dir)
    fps = fingerprints(lctx, sel)
    series = views.time_series(spark, sf_dir)
    return (
        series.join(F.broadcast(fps), "fingerprint", "left_semi")
        .select(_lbl("app")(), _lbl("instance")())
        .distinct()
    )


register(
    "logql_label_format",
    # label_format copies app into a new label and templates another;
    # output projects the rewritten labels
    "SELECT DISTINCT event_type AS svc, 'prefix-' || event_type AS tagged,"
    " epoch_ns(ts) AS timestamp_ns FROM events WHERE event_type='click'",
)(
    _logql(
        # templates see the PRE-stage labels (app still present)
        '{app="click"} | label_format svc=app, tagged="prefix-{{.app}}"',
        [_lbl("svc"), _lbl("tagged"), "timestamp_ns"],
    )
)

register(
    "logql_quantile_over_time",
    # exact percentile (Spark percentile == DuckDB quantile_cont linear
    # interpolation)
    """
    SELECT event_type AS app,
           (epoch_ns(ts) - epoch_ns(ts) % 3600000000000) AS timestamp_ns,
           round(quantile_cont(CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.9), 4) AS value
    FROM events WHERE event_type IN ('view','click') GROUP BY 1, 2
    """,
)(
    _logql(
        'quantile_over_time(0.9, {app=~"view|click"} | json | unwrap k [1h]) by (app)',
        [_lbl("app"), "timestamp_ns", lambda: F.round("value", 4).alias("value")],
    )
)


# --------------------------------------------------------------- rollup

@register(
    "rollup_metrics_15s",
    """
    WITH raw AS (
      SELECT user_id*8 + CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
             WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS fingerprint,
             epoch_ns(ts) AS timestamp_ns, CAST(value AS DOUBLE) AS value,
             props AS string FROM events
    ), d AS (
      SELECT *, (timestamp_ns - timestamp_ns % 15000000000) AS cell,
             lag(value) OVER (PARTITION BY fingerprint,
                              (timestamp_ns - timestamp_ns % 15000000000)
                              ORDER BY timestamp_ns, value) AS prev,
             lag(timestamp_ns) OVER (PARTITION BY fingerprint,
                              (timestamp_ns - timestamp_ns % 15000000000)
                              ORDER BY timestamp_ns, value) AS prev_ts
      FROM raw
    )
    SELECT fingerprint, cell AS timestamp_ns,
           round(max(value), 6) AS max, round(min(value), 6) AS min,
           count(*) AS count, round(sum(value), 6) AS sum,
           round(CAST(sum(length(string)) AS DOUBLE), 6) AS bytes,
           round(max_by(value, timestamp_ns), 6) AS last,
           round(min_by(value, timestamp_ns), 6) AS first,
           round(sum(CASE WHEN prev > value THEN prev ELSE 0 END), 6) AS reset_amt,
           CAST(sum(CASE WHEN prev > value THEN 1 ELSE 0 END) AS DOUBLE) AS resets,
           CAST(sum(CASE WHEN prev IS NOT NULL AND prev != value THEN 1 ELSE 0 END)
                AS DOUBLE) AS changes,
           min(timestamp_ns) AS first_ts, max(timestamp_ns) AS last_ts,
           round(max_by(value - prev,
                 CASE WHEN prev IS NOT NULL THEN timestamp_ns END), 6) AS last_delta,
           max_by(timestamp_ns - prev_ts,
                 CASE WHEN prev IS NOT NULL THEN timestamp_ns END) AS last_dt
    FROM d GROUP BY 1, 2
    """,
)
def rollup_metrics_15s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 15s downsample table build (ref: ClickHouse MV log.sql:96-107;
    Spark = one groupBy with re-aggregable partials — including the
    counter partials that let rate/increase run from cells — streaming
    variant in streaming/rollup.py). Plan-memoized (~0.3s of Py4J
    column construction per execution before, r15)."""
    from gigapipe_spark.streaming.rollup import rollup_15s_batch
    from gigapipe_spark.sources import views

    def build():
        df = rollup_15s_batch(views.samples(spark, sf_dir))
        return _rounded(
            df.drop("type"),
            "max", "min", "sum", "bytes", "last", "first", "reset_amt",
            "last_delta",
        )

    return _plan_memo((spark, sf_dir, "rollup_metrics_15s"), build)


# ------------------------------------------------------- PromQL long tail

from gigapipe_spark.promql import functions as _pf  # noqa: E402
from gigapipe_spark.sources import views  # noqa: E402


@register(
    "promql_deriv",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    -- bucket-RELATIVE seconds (slope is translation-invariant;
    -- raw epoch seconds lose ~6 digits to cancellation — see
    -- promql.functions._bucket_rel_seconds)
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(regr_slope(value, (timestamp_ns % 3600000000000) / 1e9), 6) AS value
    FROM metric_samples GROUP BY 1, 2
    """,
)
def promql_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = promql_query(PromQLContext(spark, sf_dir), "deriv({__name__=~\".*\"}[1h])")
    return df.select("fingerprint", "timestamp_ns", F.round("value", 6).alias("value"))


@register(
    "promql_predict_linear",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(regr_intercept(value, (timestamp_ns % 3600000000000) / 1e9)
                 + regr_slope(value, (timestamp_ns % 3600000000000) / 1e9)
                   * (max((timestamp_ns % 3600000000000) / 1e9) + 300.0), 4) AS value
    FROM metric_samples GROUP BY 1, 2
    """,
)
def promql_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = promql_query(
        PromQLContext(spark, sf_dir), "predict_linear({__name__=~\".*\"}[1h], 300)"
    )
    return df.select("fingerprint", "timestamp_ns", F.round("value", 4).alias("value"))


@register(
    "promql_holt_winters",
    # same double-exponential fold, DuckDB-side: list_reduce with a
    # struct accumulator seeded by the first element (identical op order
    # → identical IEEE doubles)
    f"""
    WITH {METRIC_SAMPLES_CTE}, g AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             list(value ORDER BY timestamp_ns, value) AS vals
      FROM metric_samples GROUP BY 1, 2
    )
    SELECT fingerprint, ts AS timestamp_ns,
      CASE WHEN len(vals) < 2 THEN 'NaN'::DOUBLE
      ELSE list_reduce(
        [{{'s': vals[1], 'b': vals[2] - vals[1]}}]
          || list_transform(vals[2:], v -> {{'s': v, 'b': 0.0::DOUBLE}}),
        (acc, x) -> {{
          's': 0.5::DOUBLE * x.s + 0.5::DOUBLE * (acc.s + acc.b),
          'b': 0.5::DOUBLE * ((0.5::DOUBLE * x.s + 0.5::DOUBLE * (acc.s + acc.b)) - acc.s)
               + 0.5::DOUBLE * acc.b
        }}
      ).s END AS value
    FROM g
    """,
)
def promql_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = promql_query(
        PromQLContext(spark, sf_dir),
        'holt_winters({__name__=~".*"}[1h], 0.5, 0.5)',
    )
    return df.select("fingerprint", "timestamp_ns", "value")


@register(
    "promql_label_replace",
    # svc ← capture from app; re-fingerprinted
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT app, (timestamp_ns - timestamp_ns % 60000000000) AS b,
             fingerprint, max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app IN ('click','view') GROUP BY 1, 2, 3
    )
    SELECT regexp_replace(app, '^(?:(\\w+))$', 'svc-\\1') AS svc, app,
           b AS timestamp_ns, round(value, 6) AS value
    FROM inst
    """,
)
def promql_label_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.promql import functions as pf

    m = promql_query(PromQLContext(spark, sf_dir), '{app=~"click|view"}')
    out = pf.label_replace(m, "svc", "svc-$1", "app", "(\\w+)")
    return out.select(
        _lbl("svc")(), _lbl("app")(), "timestamp_ns", F.round("value", 6).alias("value")
    )


@register(
    "promql_absent",
    # grid buckets (1m step over the selection's extent) with no data at
    # all for a heavily-filtered selector
    f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT (timestamp_ns - timestamp_ns % 60000000000) AS b
      FROM metric_samples WHERE app = 'signup'
    ), bounds AS (SELECT min(b) lo, max(b) hi FROM m),
    grid AS (SELECT unnest(generate_series(lo, hi, 60000000000)) AS timestamp_ns FROM bounds)
    SELECT CAST(0 AS BIGINT) AS fingerprint, g.timestamp_ns, 1.0 AS value
    FROM grid g LEFT JOIN (SELECT DISTINCT b FROM m) mm ON g.timestamp_ns = mm.b
    WHERE mm.b IS NULL
    """,
)
def promql_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.promql import functions as pf

    ctx = PromQLContext(spark, sf_dir, step_ns=60_000_000_000)
    m = promql_query(ctx, '{app="signup"}')
    bounds = m.agg(F.min("timestamp_ns").alias("lo"), F.max("timestamp_ns").alias("hi")).collect()[0]
    return pf.absent(m, spark, bounds["lo"], bounds["hi"], ctx.step_ns).select(
        "fingerprint", "timestamp_ns", "value"
    )


@register(
    "promql_histogram_quantile",
    # le-buckets built from span durations (log2 histogram, cumulative),
    # then the classic bucket interpolation — all mirrored in SQL
    with_spans(
        """
        SELECT timestamp_ns,
               CASE WHEN le = max_le THEN prev_le
                    ELSE prev_le + (le - prev_le) * (rank - prev_c) / greatest(cum - prev_c, 1e-12)
               END AS value
        FROM (
          SELECT timestamp_ns, le, cum,
                 lag(le) OVER w AS prev_le0,
                 coalesce(lag(le) OVER w, 0.0) AS prev_le,
                 coalesce(lag(cum) OVER w, 0.0) AS prev_c,
                 max(cum) OVER (PARTITION BY timestamp_ns) * 0.5 AS rank,
                 max(le) OVER (PARTITION BY timestamp_ns) AS max_le
          FROM (
            SELECT timestamp_ns, le,
                   sum(cnt) OVER (PARTITION BY timestamp_ns ORDER BY le) AS cum
            FROM (
              SELECT (timestamp_ns - timestamp_ns % 86400000000000) AS timestamp_ns,
                     CASE WHEN duration_ns > 0 THEN power(2.0, ceil(log2(CAST(duration_ns AS DOUBLE)))) ELSE 0.0 END AS le,
                     CAST(count(*) AS DOUBLE) AS cnt
              FROM spans WHERE name = 'order' GROUP BY 1, 2
            )
          ) WINDOW w AS (PARTITION BY timestamp_ns ORDER BY le)
        )
        WHERE cum >= rank AND prev_c < rank
        """
    ),
)
def promql_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_quantile over le-bucketed series built from span
    durations — exercises the full interpolation path with a real
    oracle. The top bucket acts as +Inf (quantile falls back to the
    previous bound there, matching the oracle's max_le branch)."""
    from gigapipe_spark.promql import functions as pf
    from gigapipe_spark.traceql.compiler import TraceQLContext as TC
    from gigapipe_spark.traceql.compiler import query as tq

    day = 86_400_000_000_000
    hist = tq(
        TraceQLContext(spark, sf_dir), '{ name = "order" } | histogram_over_time(duration)'
    )
    # rebucket to daily + cumulative counts per le, shaped as a matrix
    # with labels {le: ...}
    from pyspark.sql import Window

    daily = (
        hist.withColumn(
            "timestamp_ns",
            F.col("timestamp_ns") - F.pmod(F.col("timestamp_ns"), F.lit(day)),
        )
        .groupBy("timestamp_ns", "le")
        .agg(F.sum("value").alias("cnt"))
    )
    w = Window.partitionBy("timestamp_ns").orderBy("le")
    cum = daily.withColumn("value", F.sum("cnt").over(w))
    # mark the top bucket of each ts as +Inf so interpolation treats it
    # as the overflow bucket (log2 histograms have no explicit +Inf)
    wmax = Window.partitionBy("timestamp_ns")
    matrix = cum.withColumn(
        "labels",
        F.create_map(
            F.lit("le"),
            F.when(F.col("le") == F.max("le").over(wmax), F.lit("+Inf")).otherwise(
                F.col("le").cast("string")
            ),
        ),
    ).select(F.lit(0).cast("long").alias("fingerprint"), "labels", "timestamp_ns", "value")
    out = pf.histogram_quantile(matrix, 0.5)
    return out.select("timestamp_ns", "value")


# ------------------------------------------------------- profiles

from gigapipe_spark.api import Engine  # noqa: E402
from gigapipe_spark.prof.tree import diff_trees, merge_trees  # noqa: E402
from gigapipe_spark.sources.oracle import PROF_CTE, PROF_SERIES_CTE  # noqa: E402


@register(
    # PlanLabelNames over a selector (ref: prof_transpiler/transpiler.go:10)
    "prof_label_names",
    "SELECT * FROM (VALUES ('service_name'), ('status'), ('priority')) t(key)",
)
def prof_label_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_label_names(['{service_name=~"svc-1.*"}'])


@register(
    # PlanLabelValues under a regex selector (transpiler.go:18) — the
    # selector resolves through the series table's global matchers
    "prof_label_values",
    f"WITH {PROF_SERIES_CTE} SELECT DISTINCT status AS val FROM prof_series"
    " WHERE regexp_matches(service_name, 'svc-[12].*')",
)
def prof_label_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_label_values(
        "status", ['{service_name=~"svc-[12].*"}']
    )


@register(
    # PlanSelectSeries (transpiler.go:42): stepped per-group series of
    # the profile sample value; the kv matcher resolves via the GIN
    "prof_select_series",
    f"""
    WITH {PROF_CTE}
    SELECT priority,
           (timestamp_ns - timestamp_ns % 2592000000000000) AS timestamp_ns,
           CAST(sum(value) AS DOUBLE) AS value
    FROM prof WHERE status = 'F' GROUP BY 1, 2
    """,
)
def prof_select_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_select_series(
        '{status="F"}', ["priority"], step_ns=2_592_000_000_000_000
    )


@register(
    # PlanSeries (transpiler.go:74): label sets of matching series —
    # plain-column projection for the oracle compare
    "prof_series",
    f"WITH {PROF_SERIES_CTE} SELECT fingerprint, service_name, status, priority"
    " FROM prof_series WHERE priority = '1-URGENT'",
)
def prof_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = Engine(spark, sf_dir).pyroscope_series(['{priority="1-URGENT"}'])
    return df.select(
        "fingerprint",
        F.col("labels").getItem("service_name").alias("service_name"),
        F.col("labels").getItem("status").alias("status"),
        F.col("labels").getItem("priority").alias("priority"),
    )


@register(
    # ProfileTypes (service/prof.go:33): distinct type components
    "prof_profile_types",
    "SELECT * FROM (VALUES ('process_cpu', 'cpu', 'nanoseconds', 'cpu',"
    " 'nanoseconds', 'process_cpu:cpu:nanoseconds:cpu:nanoseconds'))"
    " t(name, sample_type, sample_unit, period_type, period_unit, profile_type_id)",
)
def prof_profile_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_profile_types()


@register(
    # GetProfileStats (service/prof.go:334)
    "prof_profile_stats",
    f"""
    WITH {PROF_CTE}
    SELECT count(*) > 0 AS data_ingested,
           CAST(min(timestamp_ns) / 1000000 AS BIGINT) AS oldest_profile_time_ms,
           CAST(max(timestamp_ns) / 1000000 AS BIGINT) AS newest_profile_time_ms
    FROM prof
    """,
)
def prof_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_profile_stats()


@register(
    # PlanAnalyzeQuery (transpiler.go:103): stored-size + series-count
    # estimate; the fixture's payload proxy is the tree node count
    "prof_analyze",
    f"""
    WITH {PROF_CTE}
    SELECT CAST(sum(nodes) AS BIGINT) AS profile_size,
           CAST(count(DISTINCT fingerprint) AS BIGINT) AS fingerprint_count
    FROM prof WHERE service_name = 'svc-2-HIGH'
    """,
)
def prof_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_analyze('{service_name="svc-2-HIGH"}')


@register(
    "prof_merge_trees",
    """
    SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS parent, CAST(0 AS BIGINT) AS fn_id,
           CAST(0 AS BIGINT) AS self,
           CAST(sum(floor(o_totalprice * 1000)) AS BIGINT) AS total,
           count(*) AS n_samples
    FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
    UNION ALL
    SELECT CAST(code AS BIGINT), 0, CAST(code AS BIGINT),
           CAST(s AS BIGINT), CAST(s AS BIGINT), n
    FROM (
      SELECT CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2 ELSE 3 END AS code,
             sum(floor(l_extendedprice * 1000)) AS s,
             count(DISTINCT (l_orderkey,
                   CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2 ELSE 3 END)) AS n
      FROM lineitem GROUP BY 1
    )
    """,
)
def prof_merge_trees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flamegraph MergeTrie as DataFrame agg (ref: prof_tree.go:80-143)."""
    return merge_trees(views.profiles(spark, sf_dir))


@register(
    # type-id-scoped merge: the strTypeID parameter of MergeStackTraces
    # (service/prof.go:135) appends five pseudo-label matchers
    # (populateTypeId transpiler.go:115) and the merge reads that sample
    # type's value slot (planner_merge_raw.go:32 arrayFirst). The
    # alloc_space:bytes slot is the price×100 fixture series.
    "prof_merge_typed",
    """
    SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS parent, CAST(0 AS BIGINT) AS fn_id,
           CAST(0 AS BIGINT) AS self,
           CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS total,
           count(*) AS n_samples
    FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
    UNION ALL
    SELECT CAST(code AS BIGINT), 0, CAST(code AS BIGINT),
           CAST(s AS BIGINT), CAST(s AS BIGINT), n
    FROM (
      SELECT CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2 ELSE 3 END AS code,
             sum(floor(l_extendedprice * 100)) AS s,
             count(DISTINCT (l_orderkey,
                   CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2 ELSE 3 END)) AS n
      FROM lineitem GROUP BY 1
    )
    """,
)
def prof_merge_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Engine(spark, sf_dir).pyroscope_merge_profiles(
        profile_type_id="process_cpu:alloc_space:bytes:cpu:nanoseconds"
    )


def _merged_tree_cte(alias: str, priority: str) -> str:
    """Oracle-side merge_trees for one service selection (diff has no
    n_samples column, unlike prof_merge_trees)."""
    return f"""
    {alias} AS (
      SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS parent,
             CAST(0 AS BIGINT) AS fn_id, CAST(0 AS BIGINT) AS self,
             CAST(SUM(floor(o_totalprice * 1000)) AS BIGINT) AS total
      FROM orders WHERE o_orderpriority = '{priority}'
        AND o_orderkey IN (SELECT l_orderkey FROM lineitem)
      HAVING COUNT(*) > 0
      UNION ALL
      SELECT CAST(code AS BIGINT), CAST(0 AS BIGINT), CAST(code AS BIGINT),
             CAST(s AS BIGINT), CAST(s AS BIGINT)
      FROM (
        SELECT CASE l_returnflag WHEN 'R' THEN 1 WHEN 'A' THEN 2 ELSE 3 END AS code,
               SUM(floor(l_extendedprice * 1000)) AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '{priority}' GROUP BY 1
      )
    )"""


@register(
    "prof_diff_trees",
    f"""
    WITH {_merged_tree_cte("lm", "1-URGENT")}, {_merged_tree_cte("rm", "5-LOW")}
    SELECT COALESCE(l.id, r.id) AS id, COALESCE(l.parent, r.parent) AS parent,
           COALESCE(l.fn_id, r.fn_id) AS fn_id,
           COALESCE(l.self, 0) AS self_left, COALESCE(l.total, 0) AS total_left,
           COALESCE(r.self, 0) AS self_right, COALESCE(r.total, 0) AS total_right,
           COALESCE(r.self, 0) - COALESCE(l.self, 0) AS self_delta,
           COALESCE(r.total, 0) - COALESCE(l.total, 0) AS total_delta
    FROM lm l FULL OUTER JOIN rm r
      ON l.id = r.id AND l.parent = r.parent AND l.fn_id = r.fn_id
    """,
)
def prof_diff_trees(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = views.profiles(spark, sf_dir)
    left = merge_trees(prof.filter(F.col("service_name") == "svc-1-URGENT"))
    right = merge_trees(prof.filter(F.col("service_name") == "svc-5-LOW"))
    return diff_trees(left, right)


# ------------------------------------------------------- patterns

from gigapipe_spark.patterns.cluster import mine_patterns, read_patterns  # noqa: E402


@register("patterns_mine")  # iterative clustering — rows-only check
def patterns_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-style pattern mining over the log samples (ref:
    writer/pattern/ clustering; SURVEY §2.7). Plan-memoized like the
    fixture _logql/_promql builders: mine_patterns runs a driver-side
    shard-sizing job at BUILD time (r13 agg+broadcast sizing), and the
    fixture view is immutable within a session, so a dashboard-style
    re-issue reuses the built plan; execution still runs fully."""

    def build():
        return read_patterns(mine_patterns(views.samples(spark, sf_dir)))

    return _plan_memo((spark, sf_dir, "patterns_mine"), build)


@register(
    "patterns_mine_exact",
    """
    WITH l AS (
      SELECT CAST(user_id % 5 AS BIGINT) AS fingerprint,
             epoch_us(ts) * 1000 AS ts_ns,
             CAST(CAST(user_id % 7 AS BIGINT) AS VARCHAR) AS uid
      FROM events
    ),
    g AS (
      SELECT fingerprint,
             ts_ns - ts_ns % 600000000000 AS timestamp_10m,
             COUNT(*) AS samples_count,
             COUNT(DISTINCT uid) AS nuid,
             MIN(uid) AS only_uid
      FROM l GROUP BY 1, 2
    )
    SELECT fingerprint, timestamp_10m,
           CASE WHEN nuid = 1
                THEN 'login user ' || only_uid || ' from site'
                ELSE 'login user <_> from site' END AS pattern,
           samples_count,
           CAST(21 AS BIGINT) AS overall_cost,
           CAST(CASE WHEN nuid = 1 THEN 0 ELSE 1 END AS BIGINT)
             AS generalized_cost
    FROM g
    """,
)
def patterns_mine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT oracle for the clustering core (VERDICT r11 task 8 — the
    one ⊘ that isn't inherently approximate). Lines are constructed so
    every (fingerprint, 10m bucket, first-token) shard provably merges
    into ONE cluster: tokens differ only at the uid position, whose
    seed cost (number class, 1) over the seed line's overall cost
    (5+5+1+5+5 = 21) is 0.048 ≤ 1-similarity — so the first divergence
    generalizes the slot (gen := 1) and every later line has
    diff_cost 0 at an already-<_> slot, i.e. acceptance is
    order-independent and the final pattern is closed-form:

      all uids equal in the shard → the literal line, gen 0
      mixed uids                  → 'login user <_> from site', gen 1

    This pins the token-class costs (a misclassified number would make
    overall 25, hash-mismatch), the merge-rule accumulation
    (pattern.go:155-198), the 10m bucket floor, and per-cluster sample
    counting — against plain SQL aggregation."""
    def build():
        ev = views.load_table(spark, sf_dir, "events")
        samples = ev.select(
            (F.col("user_id") % 5).cast("long").alias("fingerprint"),
            views._ts_ns(ev).alias("timestamp_ns"),
            F.concat(
                F.lit("login user "),
                (F.col("user_id") % 7).cast("long").cast("string"),
                F.lit(" from site"),
            ).alias("string"),
        )
        return mine_patterns(samples).select(
            "fingerprint",
            "timestamp_10m",
            F.concat_ws(" ", "tokens").alias("pattern"),
            F.col("samples_count").cast("long").alias("samples_count"),
            F.col("overall_cost").cast("long").alias("overall_cost"),
            F.col("generalized_cost").cast("long").alias("generalized_cost"),
        )

    return _plan_memo((spark, sf_dir, "patterns_mine_exact"), build)


# ------------------------------------------------------- data pipeline

from gigapipe_spark.datapipe import dedup as _dedup  # noqa: E402
from gigapipe_spark.datapipe import multimodal as _mm  # noqa: E402
from gigapipe_spark.datapipe import simsearch as _sim  # noqa: E402
from gigapipe_spark.datapipe import textstats as _ts  # noqa: E402
from gigapipe_spark.sources import views as _views  # noqa: E402

_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, len(string_split(text,' '))-1),"
    " i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]"
    " || ' ' || string_split(text,' ')[i+2]))"
)

# exploded-shingle equi-join (same shape as the Spark path): pairs only
# materialize when they share a shingle, so the oracle is O(co-occurring
# shingles) instead of O(n²) list_intersect calls (measured 23x faster)
_JACCARD_PAIRS_SQL = f"""
WITH sh AS (SELECT doc_id, lang, {_SHINGLE_SQL} AS s FROM documents),
ex AS (SELECT doc_id, lang, len(s) AS n, unnest(s) AS tok FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id {{part}}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i*1.0/(na+nb-i), 6) AS jaccard
FROM inter WHERE i*1.0/(na+nb-i) >= 0.5
"""


@register(
    "dedup_exact",
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY md5(text)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dedup(_views.documents(spark, sf_dir))


@register("dedup_ngram_jaccard", _JACCARD_PAIRS_SQL.format(part="AND a.lang = b.lang"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.jaccard_pairs(_views.documents(spark, sf_dir), threshold=0.5)


@register(
    # containment dedup over a corpus augmented with 10-word snippet
    # copies (doc_id+10^6): each snippet's 3-gram set is a subset of its
    # source's, so the oracle has guaranteed deterministic hits; any
    # organic containment in the base corpus is matched identically by
    # both engines
    "dedup_containment",
    f"""
    WITH docs2 AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(string_split(text, ' ')[1:10], ' '), lang
      FROM documents WHERE len(string_split(text, ' ')) >= 12
    ),
    sh AS MATERIALIZED (SELECT doc_id, lang, {_SHINGLE_SQL} AS s FROM docs2),
    ex AS MATERIALIZED (
      SELECT doc_id, lang, len(s) AS n, unnest(s) AS tok FROM sh WHERE len(s) > 0
    ),
    p AS (
      SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
             count(*) AS i, any_value(a.n) AS na, any_value(b.n) AS nb
      FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id != b.doc_id
                         AND a.lang = b.lang
      GROUP BY 1, 2
    )
    SELECT doc_contained, doc_container FROM p
    WHERE i = na AND (na < nb OR (na = nb AND doc_contained > doc_container))
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment pairs (see dedup.containment_pairs) over
    the corpus plus derived 10-word snippet docs — the truncated-mirror
    scenario this step exists to catch."""
    docs = _views.documents(spark, sf_dir).select("doc_id", "text", "lang")
    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    snippets = (
        docs.filter(F.size(words) >= 12)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 1, 10)).alias("text"),
            "lang",
        )
    )
    return _dedup.containment_pairs(docs.unionByName(snippets)).orderBy(
        "doc_contained", "doc_container"
    )


@register("dedup_minhash_lsh", _JACCARD_PAIRS_SQL.format(part=""))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with exact verification: at threshold 0.5 with 32
    bands × 2 rows recall is 1.0 on the fixture, so the exact-pair SQL
    is a valid oracle.

    Plan-memoized like the logql/promql/traceql/patterns entries: the
    build pays ~0.3s of Py4J expression construction PLUS the
    cap-gate's one count job — once per (session, sf_dir), not per
    execution (measured r15: the warm path was plan-build-bound, not
    compute-bound; the persisted signature/banded artifacts were
    already session-shared via CacheManager plan matching, so this
    changes no data-caching semantics)."""
    return _plan_memo(
        (spark, sf_dir, "dedup_minhash_lsh"),
        lambda: _dedup.minhash_lsh_pairs(
            _views.documents(spark, sf_dir), threshold=0.5
        ),
    )


@register(
    # pair list → connected components (cluster assignment + canonical
    # doc): distributed min-label propagation vs a recursive-CTE oracle
    "dedup_components",
    f"""
    WITH RECURSIVE sh AS MATERIALIZED (SELECT doc_id, lang, {_SHINGLE_SQL} AS s FROM documents),
    ex AS MATERIALIZED (SELECT doc_id, lang, len(s) AS n, unnest(s) AS tok FROM sh),
    pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
                           AND a.lang = b.lang
        GROUP BY 1, 2
      ) WHERE i*1.0/(na+nb-i) >= 0.5
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, src AS r FROM edges
      UNION
      SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS is_canonical
    FROM reach GROUP BY id
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lang-bounded exact-jaccard pairs: same output as the minhash path
    # on same-lang near-dups at a fraction of the cold cost (this entry
    # leads the alphabetical sweep, so it pays session startup; the
    # unbounded minhash pair source is exercised by dedup_minhash_lsh
    # and chain/multi-round propagation by tests/test_datapipe.py)
    pairs = _dedup.jaccard_pairs(_views.documents(spark, sf_dir), threshold=0.5)
    return _dedup.dedup_components(pairs)


@register("dedup_simhash")  # subset semantics — rows-only check
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.simhash_pairs(
        _views.documents(spark, sf_dir), max_hamming=3, verify_threshold=0.5
    )


@register("dedup_embedding_cosine")  # LSH recall is probabilistic — rows-only
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic embeddings carry no true near-dups (max cos ≈ 0.51),
    # so the entry runs at the top-pairs threshold with the band geometry
    # widened to match (8×2 bits — lower per-band selectivity for the
    # lower threshold; a real ≥0.9 dedup keeps the default 4×4)
    return _dedup.embedding_cosine_pairs(
        _views.embeddings(spark, sf_dir), threshold=0.4, bands=8
    )


@register(
    "sim_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                                         e.vec_id) AS rn
      FROM q JOIN embeddings e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine FROM scored WHERE rn <= 5
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plan-memoized: pure Py4J build cost (~0.2s/execution, r15)
    return _plan_memo(
        (spark, sf_dir, "sim_cosine_topk"),
        lambda: _sim.cosine_topk(
            _views.embeddings(spark, sf_dir), [0, 1, 2, 3, 4], k=5
        ),
    )


@register("sim_ann_lsh")  # approximate — rows-only check (recall tested in tests/)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.lsh_ann_topk(_views.embeddings(spark, sf_dir), [0, 1, 2, 3, 4], k=5)


@register("sim_ann_ivf")  # approximate — rows-only check (exactness at
# nprobe=n_cells tested in tests/test_datapipe.py)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ivf_topk(
        _views.embeddings(spark, sf_dir), [0, 1, 2, 3, 4], k=5, n_cells=8, nprobe=2
    )


@register(
    # IVF with nprobe = n_cells probes every cell, so the result is
    # EXACT search routed through the full index machinery (fit, cell
    # assignment, probe join, rerank) — oracle-able against the same
    # brute-force SQL as sim_cosine_topk
    "sim_ann_ivf_exact",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                                         e.vec_id) AS rn
      FROM q JOIN embeddings e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine FROM scored WHERE rn <= 5
    """,
)
def sim_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sim.ivf_topk(
        _views.embeddings(spark, sf_dir), [0, 1, 2, 3, 4], k=5, n_cells=8, nprobe=8
    )


@register("sim_ann_pq")  # approximate — rows-only check (exactness at
# k_centroids >= corpus tested in tests + sim_ann_pq_exact below)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): per-subspace
    codebooks → m-byte codes → ADC lookup-sum → exact refine."""
    return _sim.pq_topk(
        _views.embeddings(spark, sf_dir), [0, 1, 2, 3, 4], k=5,
        m=8, k_centroids=32, iters=2, refine=8,
    )


@register(
    # PQ with k_centroids >= corpus size keeps every subvector as its
    # own centroid: ADC equals the exact dot product and the result is
    # EXACT search routed through the full PQ machinery (fit, encode,
    # ADC table join, refine) — same brute-force oracle as cosine_topk
    "sim_ann_pq_exact",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 6) AS cosine,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                                         e.vec_id) AS rn
      FROM q JOIN embeddings e ON e.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, cosine FROM scored WHERE rn <= 5
    """,
)
def sim_ann_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _views.embeddings(spark, sf_dir)
    n = emb.count()
    # train_cap=0: the exact degenerate config needs EVERY subvector as
    # a seed — the default 65536 cap would silently re-approximate the
    # oracle once the table outgrows it (higher scale-probe factors)
    return _sim.pq_topk(
        emb, [0, 1, 2, 3, 4], k=5, m=4, k_centroids=n, iters=0, train_cap=0
    )


@register(
    "text_word_entropy",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS word
      FROM documents
    ),
    c AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY 1, 2),
    n AS (SELECT doc_id, sum(cnt) AS n FROM c GROUP BY 1)
    SELECT c.doc_id, round(-sum((cnt / n) * ln(cnt / n)), 6) AS entropy
    FROM c JOIN n USING (doc_id) GROUP BY c.doc_id
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per doc (low-entropy spam/boilerplate
    filter; see textstats.word_entropy)."""
    return _ts.word_entropy(_views.documents(spark, sf_dir))


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS n_tokens,
           length(text) AS n_chars,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_pretokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.token_count(_views.documents(spark, sf_dir))


@register(
    "text_quality_score",
    r"""
    WITH t AS (
      SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
    )
    SELECT doc_id, len(ws) AS n_tokens,
           round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
           round(len(list_filter(ws, w -> lower(w) IN ('the','a','and','of','to','in','is','on','for','with')))
                 * 1.0 / greatest(len(ws), 1), 6) AS stopword_ratio,
           round(len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1), 6) AS distinct_token_ratio,
           round(list_sum(list_transform(ws, w -> length(w))) * 1.0 / greatest(len(ws), 1), 6) AS mean_word_len
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plan-memoized: pure Py4J build cost (see dedup_minhash_lsh)
    return _plan_memo(
        (spark, sf_dir, "text_quality_score"),
        lambda: _ts.quality_score(_views.documents(spark, sf_dir)),
    )


@register(
    "text_lang_id",
    r"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
    )
    SELECT doc_id,
           len(list_filter(ws, w -> lower(w) IN ('the','and','of'))) AS score_en,
           CASE WHEN len(list_filter(ws, w -> lower(w) IN ('the','and','of'))) > 0
                THEN 'en' ELSE 'fr' END AS pred_lang
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.lang_id(_views.documents(spark, sf_dir)).select(
        "doc_id", "score_en", "pred_lang"
    )


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id, md5(text) AS exact_digest,
           md5(array_to_string(list_sort(list_filter(string_split_regex(text, '\s+'), x -> x != '')), ' ')) AS bag_digest
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ts.fingerprint(_views.documents(spark, sf_dir)).select(
        "doc_id", "exact_digest", "bag_digest"
    )


@register(
    "text_unigram_logprob",
    r"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, count(*) AS cnt, sum(count(*)) OVER () AS total
      FROM w GROUP BY w
    )
    SELECT a.doc_id, count(*) AS n_tokens,
           round(avg(ln(vocab.cnt / CAST(vocab.total AS DOUBLE))), 6) AS mean_logprob
    FROM w a JOIN vocab ON a.w = vocab.w
    GROUP BY a.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style 'stupid LM' quality proxy: mean unigram log-prob
    under the corpus's own word distribution (vocabulary table
    broadcasts; scoring is one explode + broadcast join)."""
    return _ts.unigram_logprob(_views.documents(spark, sf_dir))


def _rep_gram_cte(n: int) -> str:
    """DuckDB n-gram coverage CTEs mirroring textstats.ngrams_from_words
    (non-distinct, order-preserving word n-grams)."""
    return rf"""
    g{n} AS (
      SELECT doc_id, nonspace,
             unnest([array_to_string(ws[j:j+{n - 1}], ' ')
                     FOR j IN generate_series(1, len(ws) - {n - 1})]) AS g
      FROM rep_base
    ),
    c{n} AS (
      SELECT doc_id, any_value(nonspace) AS nonspace, g, count(*) AS cnt,
             length(regexp_replace(g, '\s+', '', 'g')) AS glen
      FROM g{n} GROUP BY doc_id, g
    )"""


@register(
    "text_repetition_stats",
    rf"""
    WITH rep_base AS (
      SELECT doc_id,
             length(regexp_replace(text, '\s+', '', 'g')) AS nonspace,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws,
             list_filter(string_split(text, chr(10)), l -> l != '') AS lns
      FROM documents
    ),
    line_counts AS (
      SELECT doc_id, line, count(*) AS cnt, length(line) AS len
      FROM (SELECT doc_id, unnest(lns) AS line FROM rep_base)
      GROUP BY doc_id, line
    ),
    line_stats AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_lines,
             round((sum(cnt) - count(*)) * 1.0 / greatest(sum(cnt), 1), 6) AS dup_line_frac,
             round(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) * 1.0
                   / greatest(sum(cnt * len), 1), 6) AS dup_line_char_frac
      FROM line_counts GROUP BY doc_id
    ),
    {_rep_gram_cte(2)},
    {_rep_gram_cte(3)},
    {_rep_gram_cte(4)},
    {_rep_gram_cte(5)},
    t2 AS (SELECT doc_id, round(max(cnt * glen) * 1.0 / greatest(any_value(nonspace), 1), 6) AS v FROM c2 GROUP BY doc_id),
    t3 AS (SELECT doc_id, round(max(cnt * glen) * 1.0 / greatest(any_value(nonspace), 1), 6) AS v FROM c3 GROUP BY doc_id),
    t4 AS (SELECT doc_id, round(max(cnt * glen) * 1.0 / greatest(any_value(nonspace), 1), 6) AS v FROM c4 GROUP BY doc_id),
    d5 AS (SELECT doc_id, round(least(sum(CASE WHEN cnt > 1 THEN cnt * glen ELSE 0 END) * 1.0
                                      / greatest(any_value(nonspace), 1), 1.0), 6) AS v
           FROM c5 GROUP BY doc_id)
    SELECT b.doc_id,
           coalesce(ls.n_lines, 0) AS n_lines,
           coalesce(ls.dup_line_frac, 0.0) AS dup_line_frac,
           coalesce(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
           coalesce(t2.v, 0.0) AS top_2gram_char_frac,
           coalesce(t3.v, 0.0) AS top_3gram_char_frac,
           coalesce(t4.v, 0.0) AS top_4gram_char_frac,
           coalesce(d5.v, 0.0) AS dup_5gram_char_frac
    FROM rep_base b
    LEFT JOIN line_stats ls USING (doc_id)
    LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
    LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-removal signals (dup lines, top/dup n-gram
    character coverage) — see datapipe.textstats.repetition_stats."""
    return _ts.repetition_stats(_views.documents(spark, sf_dir))


@register(
    "text_gopher_quality",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws,
             list_filter(string_split(text, chr(10)), l -> l != '') AS lns
      FROM documents
    )
    SELECT doc_id,
           len(ws) AS n_words,
           round(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) * 1.0
                 / greatest(len(ws), 1), 6) AS mean_word_len,
           round((length(text) - length(replace(text, '#', ''))
                  + len(regexp_extract_all(text, '\.\.\.|…'))) * 1.0
                 / greatest(len(ws), 1), 6) AS symbol_word_ratio,
           round(len(list_filter(lns, l -> regexp_matches(l, '^\s*([-*•‣◦])'))) * 1.0
                 / greatest(len(lns), 1), 6) AS bullet_line_frac,
           round(len(list_filter(lns, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) * 1.0
                 / greatest(len(lns), 1), 6) AS ellipsis_line_frac,
           round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                 / greatest(len(ws), 1), 6) AS alpha_word_frac,
           len(list_filter(ws, w -> lower(w) IN ('the','be','to','of','and','that','have','with'))) AS n_stop_hits,
           (len(ws) BETWEEN 50 AND 100000)
             AND (round(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) * 1.0
                        / greatest(len(ws), 1), 6) BETWEEN 3.0 AND 10.0)
             AND (round((length(text) - length(replace(text, '#', ''))
                         + len(regexp_extract_all(text, '\.\.\.|…'))) * 1.0
                        / greatest(len(ws), 1), 6) <= 0.1)
             AND (round(len(list_filter(lns, l -> regexp_matches(l, '^\s*([-*•‣◦])'))) * 1.0
                        / greatest(len(lns), 1), 6) <= 0.9)
             AND (round(len(list_filter(lns, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) * 1.0
                        / greatest(len(lns), 1), 6) <= 0.3)
             AND (round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                        / greatest(len(ws), 1), 6) >= 0.8)
             AND (len(list_filter(ws, w -> lower(w) IN ('the','be','to','of','and','that','have','with'))) >= 2)
           AS gopher_pass
    FROM t
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules as one shuffle-free projection —
    see datapipe.textstats.gopher_quality."""
    return _ts.gopher_quality(_views.documents(spark, sf_dir))


@register(
    "text_c4_filters",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), l -> l != '') AS lns
      FROM documents
    )
    SELECT doc_id,
           round(len(list_filter(lns, l -> regexp_matches(l, '[.!?"]\s*$'))) * 1.0
                 / greatest(len(lns), 1), 6) AS terminal_punct_line_frac,
           round(len(list_filter(lns, l -> len(list_filter(string_split_regex(l, '\s+'), w -> w != '')) < 3)) * 1.0
                 / greatest(len(lns), 1), 6) AS short_line_frac,
           contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
           contains(text, '{') AS has_brace,
           len(regexp_extract_all(text, '[.!?]+')) AS n_sentences,
           (round(len(list_filter(lns, l -> regexp_matches(l, '[.!?"]\s*$'))) * 1.0
                  / greatest(len(lns), 1), 6) = 1.0)
             AND (len(regexp_extract_all(text, '[.!?]+')) >= 3)
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') AS c4_pass
    FROM t
    """,
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule set (terminal punctuation, short lines, boilerplate
    markers) — see datapipe.textstats.c4_filters."""
    return _ts.c4_filters(_views.documents(spark, sf_dir))


@register(
    "dedup_paragraph",
    """
    WITH paras AS (
      SELECT doc_id, md5(p) AS digest, length(p) AS len
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)), p -> p != '')) AS p
            FROM documents)
    ),
    counts AS (SELECT digest, count(*) AS cnt FROM paras GROUP BY digest)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           round(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_para_frac,
           round(sum(CASE WHEN c.cnt > 1 THEN p.len ELSE 0 END) * 1.0
                 / greatest(sum(p.len), 1), 6) AS dup_para_char_frac
    FROM paras p JOIN counts c USING (digest)
    GROUP BY p.doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style cross-corpus paragraph dedup with exact global
    counts — see datapipe.dedup.paragraph_dedup."""
    return _dedup.paragraph_dedup(_views.documents(spark, sf_dir))


@register("text_bpe_tokenize")  # BPE apply is not SQL-expressible — rows-only
# (Python-reference differential in tests/test_bpe.py)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE: train 30 merges on the corpus vocabulary (one
    distributed word count + driver-side merge loop — an index build),
    then count tokens per doc through the Arrow mapInPandas stage."""
    from gigapipe_spark.datapipe import bpe as _bpe

    docs = _views.documents(spark, sf_dir)
    merges = _bpe.bpe_train(docs, num_merges=30)
    return _bpe.bpe_token_count(docs, merges)


@register("multimodal_features")  # Pandas-UDF stage — rows-only check
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = _mm.attach_payload(_views.documents(spark, sf_dir))
    return _mm.extract_features(mm)


def _ppm_mean_sql(channel: int) -> str:
    """DuckDB mirror of the decoded channel mean: byte values recovered
    from the hex of the text's first 192 bytes (zero-padded)."""
    return (
        "round(list_avg([ (strpos('0123456789ABCDEF', substr(h, 2*(3*j+{c})+1, 1))-1)*16"
        " + strpos('0123456789ABCDEF', substr(h, 2*(3*j+{c})+2, 1))-1"
        " FOR j IN generate_series(0, 63)]), 6)"
    ).format(c=channel)


_WAV_BYTE = (
    "(strpos('0123456789ABCDEF', substr(h, 2*j+1, 1))-1)*16"
    " + strpos('0123456789ABCDEF', substr(h, 2*j+2, 1))-1"
)


@register(
    # REAL audio decode, oracle-checked: each text's first 256 bytes
    # become an 8-bit mono PCM WAV parsed by the stdlib wave module;
    # mean amplitude + RMS recovered by DuckDB from the same bytes
    "multimodal_wav_features",
    f"""
    SELECT doc_id, 256::BIGINT AS n_frames, 8000::BIGINT AS sample_rate,
           1::BIGINT AS channels, 32.0 AS duration_ms,
           round(list_avg([{_WAV_BYTE} FOR j IN generate_series(0, 255)]), 6)
             AS mean_amp,
           round(sqrt(list_avg([({_WAV_BYTE} - 128.0)**2
             FOR j IN generate_series(0, 255)])), 6) AS rms
    FROM (
      SELECT doc_id, rpad(substr(hex(encode(text)), 1, 512), 512, '00') AS h
      FROM documents
    )
    """,
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV pipeline: build genuine RIFF/PCM payloads from the
    documents, decode them with the stdlib wave module in an
    Arrow-batched stage, emit header + amplitude features."""
    mm = _mm.attach_wav_payload(_views.documents(spark, sf_dir))
    feats = _mm.audio_features(mm)
    return feats.select(
        "doc_id", "n_frames", "sample_rate", "channels",
        F.round("duration_ms", 6).alias("duration_ms"),
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
    )


@register(
    # REAL BMP decode: bottom-up BGR 24-bit pixel array — decoded means
    # come back per RGB channel, so R reads file offset 2, B offset 0
    "multimodal_bmp_decode",
    f"""
    SELECT doc_id, 16.0 AS width, 4.0 AS height, 3.0 AS channels,
           {_ppm_mean_sql(2)} AS mean_r,
           {_ppm_mean_sql(1)} AS mean_g,
           {_ppm_mean_sql(0)} AS mean_b
    FROM (
      SELECT doc_id, rpad(substr(hex(encode(text)), 1, 384), 384, '00') AS h
      FROM documents
    )
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = _mm.attach_bmp_payload(_views.documents(spark, sf_dir))
    feats = _mm.extract_features(mm)
    return feats.select(
        "doc_id",
        F.col("feature").getItem(0).alias("width"),
        F.col("feature").getItem(1).alias("height"),
        F.col("feature").getItem(2).alias("channels"),
        F.round(F.col("feature").getItem(3), 6).alias("mean_r"),
        F.round(F.col("feature").getItem(4), 6).alias("mean_g"),
        F.round(F.col("feature").getItem(5), 6).alias("mean_b"),
    )


@register(
    # REAL image decode, oracle-checked: the 16×4 P6 payload built from
    # each document's text is parsed by decode_real (full header parse +
    # pixel reshape); features = dims + per-channel means, which DuckDB
    # recovers from the same bytes via hex arithmetic
    "multimodal_ppm_decode",
    f"""
    SELECT doc_id, 16.0 AS width, 4.0 AS height, 3.0 AS channels,
           {_ppm_mean_sql(0)} AS mean_r,
           {_ppm_mean_sql(1)} AS mean_g,
           {_ppm_mean_sql(2)} AS mean_b
    FROM (
      SELECT doc_id, rpad(substr(hex(encode(text)), 1, 384), 384, '00') AS h
      FROM documents
    )
    """,
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = _mm.attach_ppm_payload(_views.documents(spark, sf_dir))
    feats = _mm.extract_features(mm)
    return feats.select(
        "doc_id",
        F.col("feature").getItem(0).alias("width"),
        F.col("feature").getItem(1).alias("height"),
        F.col("feature").getItem(2).alias("channels"),
        F.round(F.col("feature").getItem(3), 6).alias("mean_r"),
        F.round(F.col("feature").getItem(4), 6).alias("mean_g"),
        F.round(F.col("feature").getItem(5), 6).alias("mean_b"),
    )


# --- sampling / mixing / packing / scrubbing --------------------------------
# The corpus-curation steps between "deduped docs" and "training
# shards". All deterministic (md5-draw thresholds shared verbatim with
# the oracles) — see datapipe/sampling.py and datapipe/scrub.py.

from gigapipe_spark.datapipe import sampling as _samp  # noqa: E402
from gigapipe_spark.datapipe import scrub as _scrub  # noqa: E402

_T_25 = _samp.rate_threshold_hex(0.25)  # 40000000
_T_EN, _T_FR, _T_DEF = (
    _samp.rate_threshold_hex(0.2),
    _samp.rate_threshold_hex(0.5),
    _samp.rate_threshold_hex(0.1),
)


@register(
    "sample_hash",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) < '{_T_25}'
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% subsample — the md5-draw filter reaches the
    scan as a predicate; the kept set is identical on any engine."""
    return _samp.hash_sample(
        _views.documents(spark, sf_dir), rate=0.25, seed="42"
    ).select("doc_id", "lang", "source")


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE lang = 'de'
       OR substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 8) <
          CASE WHEN lang = 'de' THEN 'ffffffff'
               WHEN lang = 'en' THEN '{_T_EN}'
               WHEN lang = 'fr' THEN '{_T_FR}'
               ELSE '{_T_DEF}' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang rates: downsample the head language, keep all of a
    low-resource one — the language-rebalancing primitive."""
    return _samp.stratified_sample(
        _views.documents(spark, sf_dir),
        rates={"en": 0.2, "de": 1.0, "fr": 0.5},
        default_rate=0.1,
    ).select("doc_id", "lang")


@register(
    "sample_mixture_plan",
    """
    WITH c AS (
      SELECT source AS stratum, count(*) AS n_docs,
             CAST(CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
                              WHEN 'src2' THEN 0.1 END AS DOUBLE) AS w
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
      GROUP BY source
    )
    SELECT stratum, n_docs, round(w, 6) AS weight,
           round(w * 60.0, 6) AS target_n,
           round(least(CAST(1.0 AS DOUBLE), w * 60.0 / n_docs), 6) AS rate
    FROM c
    """,
)
def sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target mixture weights + doc budget → per-source sampling rates
    (metadata-sized aggregate; rates feed stratified_sample)."""
    return _samp.mixture_plan(
        _views.documents(spark, sf_dir),
        weights={"src0": 6.0, "src1": 3.0, "src2": 1.0},
        budget=60,
    )


@register(
    "pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS bucket,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, bucket,
           CAST(floor(token_offset * 1.0 / 256) AS BIGINT) AS seq_id,
           n_tokens, token_offset
    FROM (
      SELECT doc_id, bucket, n_tokens,
             CAST(COALESCE(sum(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
      FROM t
    )
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing into 256-token training sequences over
    8 parallel bucket streams (window partitions by bucket — no global
    sort; raise n_buckets with the corpus)."""
    return _samp.pack_sequences(
        _views.documents(spark, sf_dir), budget_tokens=256, n_buckets=8
    )


@register(
    "shuffle_order",
    """
    WITH d AS (
      SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) AS draw
      FROM documents
    ),
    b AS (
      SELECT doc_id, CAST('0x' || substr(draw, 1, 4) AS BIGINT) % 16 AS bucket, draw
      FROM d
    )
    SELECT doc_id, bucket,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY draw, doc_id) AS BIGINT) AS pos
    FROM b
    """,
)
def shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: seed-keyed (bucket, pos)
    for every doc — 16 parallel rank streams, no global sort."""
    return _samp.shuffle_order(
        _views.documents(spark, sf_dir), seed="7", n_buckets=16
    )


@register("scrub_pii", _scrub.scrub_pii_oracle_sql("documents"))
def scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/IPv4/phone redaction with per-stage counts — pure regexp
    column expressions (the synthetic corpus is PII-free, so counts are
    0 here; tests/test_datapipe.py proves redaction on crafted rows
    through the same function)."""
    return _scrub.scrub_pii(_views.documents(spark, sf_dir))


_NGRAM5_SQL = (
    r"list_distinct(list_transform(range(1, greatest(len(ws) - 3, 1)),"
    r" i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))"
)


@register(
    "contamination_ngrams",
    f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS ws
      FROM documents
    ),
    ng AS (SELECT doc_id, {_NGRAM5_SQL} AS s FROM w),
    bench AS (SELECT DISTINCT unnest(s) AS tok FROM ng WHERE doc_id < 25),
    corpus AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_ngrams, unnest(s) AS tok FROM ng)
    SELECT c.doc_id, any_value(c.n_ngrams) AS n_ngrams, count(*) AS n_hits,
           round(count(*) * 1.0 / any_value(c.n_ngrams), 6) AS contamination
    FROM corpus c JOIN bench b ON c.tok = b.tok
    GROUP BY c.doc_id
    """,
)
def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: docs sharing a 5-gram with the
    benchmark set (here: doc_id < 25 stands in for an eval set). The
    benchmark n-gram set broadcasts; the corpus never shuffles on
    text."""
    docs = _views.documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 25)
    return _scrub.contamination_ngrams(docs, bench, n=5)


# --- §2.1 ingestion decoders -------------------------------------------------
# Deterministic wire payloads built inline, decoded through the real
# ingest path, hash-checked against literal-row oracles. Fingerprints are
# xxhash64 (not reproducible in DuckDB) so outputs project around them.


def _pb_fixture_write_request() -> bytes:
    import struct as _struct

    from gigapipe_spark.sources import protowire as pw

    def lbl(n: str, v: str) -> bytes:
        return pw.pb_encode([(1, 2, n.encode()), (2, 2, v.encode())])

    def smp(val: float, ts_ms: int) -> bytes:
        return pw.pb_encode([(1, 1, _struct.pack("<d", val)), (2, 0, ts_ms)])

    ts1 = pw.pb_encode(
        [(1, 2, lbl("__name__", "http_total")), (1, 2, lbl("job", "api")),
         (2, 2, smp(1.5, 1_000)), (2, 2, smp(2.5, 16_000))]
    )
    ts2 = pw.pb_encode(
        [(1, 2, lbl("__name__", "http_total")), (1, 2, lbl("job", "web")),
         (2, 2, smp(7.0, 1_000))]
    )
    return pw.snappy_compress(pw.pb_encode([(1, 2, ts1), (1, 2, ts2)]))


@register(
    "ingest_remote_write_pb",
    """
    SELECT * FROM (VALUES
      ('api', 1000000000::BIGINT, 1.5),
      ('api', 16000000000::BIGINT, 2.5),
      ('web', 1000000000::BIGINT, 7.0)
    ) AS t(job, timestamp_ns, value)
    """,
)
def ingest_remote_write_pb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.sources import protowire as pw

    raw = spark.createDataFrame(
        [(bytearray(_pb_fixture_write_request()),)], "payload binary"
    )
    return pw.remote_write(raw).select(
        F.col("labels").getItem("job").alias("job"), "timestamp_ns", "value"
    )


def _pb_fixture_pprof() -> bytes:
    from gigapipe_spark.sources import protowire as pw

    strings = [b"", b"main", b"foo", b"bar"]
    fields = [
        (2, 2, pw.pb_encode([(1, 0, 2), (1, 0, 1), (2, 0, 5)])),
        (2, 2, pw.pb_encode([(1, 0, 3), (1, 0, 2), (1, 0, 1), (2, 0, 7)])),
    ]
    fields += [
        (4, 2, pw.pb_encode([(1, 0, i + 1), (4, 2, pw.pb_encode([(1, 0, i + 1)]))]))
        for i in range(3)
    ]
    fields += [(5, 2, pw.pb_encode([(1, 0, i + 1), (2, 0, i + 1)])) for i in range(3)]
    fields += [(6, 2, s) for s in strings]
    return pw.pb_encode(fields)


@register(
    "ingest_pprof_tree",
    """
    SELECT * FROM (VALUES
      ('main', 0::BIGINT, 12::BIGINT),
      ('foo', 5::BIGINT, 12::BIGINT),
      ('bar', 7::BIGINT, 7::BIGINT)
    ) AS t(fn_name, self, total)
    """,
)
def ingest_pprof_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    import gzip as _gzip

    from gigapipe_spark.sources import protowire as pw
    from gigapipe_spark.sources.ingest import collapsed_stacks

    raw = spark.createDataFrame(
        [("p1", bytearray(_gzip.compress(_pb_fixture_pprof())))],
        "profile_id string, payload binary",
    )
    return collapsed_stacks(pw.pprof_folded(raw)).select("fn_name", "self", "total")


@register(
    "ingest_loki_push",
    """
    SELECT * FROM (VALUES
      ('api', 1000000000::BIGINT, 'err one'),
      ('api', 2000000000::BIGINT, 'ok two')
    ) AS t(app, timestamp_ns, string)
    """,
)
def ingest_loki_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.sources.ingest import loki_push

    payload = (
        '{"streams":[{"stream":{"app":"api"},"values":'
        '[["1000000000","err one"],["2000000000","ok two"]]}]}'
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    return loki_push(raw).select(
        F.col("labels").getItem("app").alias("app"), "timestamp_ns", "string"
    )


@register(
    "ingest_influx_line",
    """
    SELECT * FROM (VALUES
      ('cpu', 'usage', 'east', 1000000000::BIGINT, 0.64),
      ('cpu', 'idle', 'east', 1000000000::BIGINT, 0.3)
    ) AS t(measurement, name, region, timestamp_ns, value)
    """,
)
def ingest_influx_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference shape (influx.go:54,75-90): measurement is its own
    label; __name__ is the bare sanitized field key."""
    from gigapipe_spark.sources.ingest import influx_line

    raw = spark.createDataFrame(
        [("cpu,region=east usage=0.64,idle=0.3 1000000000",)], "line string"
    )
    return influx_line(raw).select(
        F.col("labels").getItem("measurement").alias("measurement"),
        F.col("labels").getItem("__name__").alias("name"),
        F.col("labels").getItem("region").alias("region"),
        "timestamp_ns",
        "value",
    )


@register(
    "ingest_influx_message",
    """
    SELECT * FROM (VALUES
      ('boot ok', 'web', 3000000000::BIGINT),
      ('message="multi field" ok=true sev=3', 'web', 4000000000::BIGINT)
    ) AS t(string, app, timestamp_ns)
    """,
)
def ingest_influx_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influx log path (influx.go:62-73 + getMessage:15-35): a `message`
    field yields ONE log row — bare when it is the only field, logfmt
    `message=... k=v ...` otherwise."""
    from gigapipe_spark.sources.ingest import influx_line

    raw = spark.createDataFrame(
        [
            ('syslog,app=web message="boot ok" 3000000000',),
            ('syslog,app=web message="multi field",sev=3i,ok=true 4000000000',),
        ],
        "line string",
    )
    return influx_line(raw).select(
        "string",
        F.col("labels").getItem("app").alias("app"),
        "timestamp_ns",
    )


@register(
    "ingest_otlp_logs",
    """
    SELECT * FROM (VALUES
      ('boom', 'ERROR', 'api', '0af7651916cd43dd8448eb211c80319c',
       '["1","x"]', 1700000000000000000::BIGINT),
      ('{"a":"1.5","b":"true"}', NULL, 'api', NULL, NULL,
       1700000009000000000::BIGINT)
    ) AS t(string, level, service_name, trace_id, tags, timestamp_ns)
    """,
)
def ingest_otlp_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP/JSON logs decode (ref: otlplogs.go:22-101): level label from
    severity_text, trace context labels, AnyValue array/kvlist
    stringification, observed-time fallback."""
    import json as _json

    from gigapipe_spark.sources.ingest import otlp_logs

    payload = _json.dumps(
        {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": "api"}}
                        ]
                    },
                    "scopeLogs": [
                        {
                            "logRecords": [
                                {
                                    "timeUnixNano": "1700000000000000000",
                                    "severityText": "ERROR",
                                    "traceId": "0af7651916cd43dd8448eb211c80319c",
                                    "body": {"stringValue": "boom"},
                                    "attributes": [
                                        {
                                            "key": "tags",
                                            "value": {
                                                "arrayValue": {
                                                    "values": [
                                                        {"intValue": "1"},
                                                        {"stringValue": "x"},
                                                    ]
                                                }
                                            },
                                        }
                                    ],
                                },
                                {
                                    "observedTimeUnixNano": "1700000009000000000",
                                    "body": {
                                        "kvlistValue": {
                                            "values": [
                                                {"key": "b", "value": {"boolValue": True}},
                                                {"key": "a", "value": {"doubleValue": 1.5}},
                                            ]
                                        }
                                    },
                                },
                            ]
                        }
                    ],
                }
            ]
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    lbl = F.col("labels")
    return otlp_logs(raw).select(
        "string",
        lbl.getItem("level").alias("level"),
        lbl.getItem("service_name").alias("service_name"),
        lbl.getItem("trace_id").alias("trace_id"),
        lbl.getItem("tags").alias("tags"),
        "timestamp_ns",
    )


@register(
    "ingest_elastic_bulk",
    """
    SELECT * FROM (VALUES
      ('{"message": "hello", "level": "info"}', 'logs', '7', 'elastic'),
      ('{"message": "bye"}', 'audit', NULL, 'elastic')
    ) AS t(string, idx, doc_id, type_label)
    """,
)
def ingest_elastic_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful _bulk decode (ref: elastic.go:56-137): the action line's
    labels govern following doc lines (raw line stored verbatim),
    delete/update clear the state."""
    from gigapipe_spark.sources.ingest import elastic_bulk

    body = "\n".join(
        [
            '{"index": {"_index": "logs", "_id": "7"}}',
            '{"message": "hello", "level": "info"}',
            '{"create": {"_index": "audit"}}',
            '{"message": "bye"}',
            '{"delete": {"_index": "logs"}}',
            '{"orphan": "dropped"}',
        ]
    )
    raw = spark.createDataFrame([(body,)], "payload string")
    lbl = F.col("labels")
    return elastic_bulk(raw).select(
        "string",
        lbl.getItem("_index").alias("idx"),
        lbl.getItem("_id").alias("doc_id"),
        lbl.getItem("type").alias("type_label"),
    )


@register(
    # Elastic single-doc routes /{target}/_doc[/{id}] (ref: elastic.go:9-14):
    # whole body = line, labels {type: elastic, _index, _id?}
    "ingest_elastic_doc",
    """
    SELECT * FROM (VALUES
      ('logs-web', '7', '{"msg":"hello"}', 5000000000::BIGINT),
      ('logs-app', NULL, '{"msg":"noid"}', 6000000000::BIGINT)
    ) AS t(idx, doc_id, line, timestamp_ns)
    """,
)
def ingest_elastic_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.sources.ingest import elastic_doc

    raw = spark.createDataFrame(
        [
            ("logs-web", "7", '{"msg":"hello"}', 5_000_000_000),
            ("logs-app", None, '{"msg":"noid"}', 6_000_000_000),
        ],
        "target string, doc_id string, payload string, ingest_ts_ns long",
    )
    return elastic_doc(raw).select(
        F.col("labels").getItem("_index").alias("idx"),
        F.col("labels").getItem("_id").alias("doc_id"),
        F.col("string").alias("line"),
        "timestamp_ns",
    )


@register(
    "ingest_datadog_cf",
    """
    SELECT * FROM (VALUES
      ('GetLog', 'success', 3000000000::BIGINT),
      ('PutLog', 'failure', 4000000000::BIGINT)
    ) AS t(script_name, outcome, timestamp_ns)
    """,
)
def ingest_datadog_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gigapipe_spark.sources.ingest import datadog_cf

    lines = [
        ('{"ScriptName":"GetLog","Outcome":"success","EventType":"fetch",'
         '"EventTimestampMs":3000}',),
        ('{"ScriptName":"PutLog","Outcome":"failure","EventType":"fetch",'
         '"EventTimestampMs":4000}',),
    ]
    raw = spark.createDataFrame(lines, "line string")
    return datadog_cf(raw).select(
        F.col("labels").getItem("ScriptName").alias("script_name"),
        F.col("labels").getItem("Outcome").alias("outcome"),
        "timestamp_ns",
    )


@register(
    "ingest_datadog_logs",
    """
    SELECT * FROM (VALUES
      ('oom killed', 'prod', 'b:c', 'datadog', 'api', 'h1', 'agent',
       1700000000000000000::BIGINT),
      ('ok', NULL, NULL, 'datadog', NULL, NULL, NULL,
       1700000001000000000::BIGINT)
    ) AS t(string, env, a, type_label, service, hostname, source_type,
           timestamp_ns)
    """,
)
def ingest_datadog_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datadog v2 logs decode (ref: datadog_json.go:32-97). The ddtags
    value exercises the tagPattern edge cases: "bad tag" (space) drops,
    "a:b:c" keeps the colons in the value, and the reference's constant
    type=datadog label lands on every row."""
    import json as _json

    from gigapipe_spark.sources.ingest import datadog_logs

    payload = _json.dumps(
        [
            {
                "message": "oom killed",
                "hostname": "h1",
                "service": "api",
                "ddsource": "k8s",
                "source_type": "agent",
                "ddtags": "env:prod,bad tag,a:b:c",
                "timestamp": 1700000000000,
            },
            {"message": "ok", "status": "info", "timestamp": 1700000001000},
        ]
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    lbl = F.col("labels")
    return datadog_logs(raw).select(
        "string",
        lbl.getItem("env").alias("env"),
        lbl.getItem("a").alias("a"),
        lbl.getItem("type").alias("type_label"),
        lbl.getItem("service").alias("service"),
        lbl.getItem("hostname").alias("hostname"),
        lbl.getItem("source_type").alias("source_type"),
        "timestamp_ns",
    )


@register(
    "ingest_datadog_metrics",
    """
    SELECT * FROM (VALUES
      ('system.cpu', 'h1', 'host', 1700000000000000000::BIGINT, 0.5),
      ('system.cpu', 'h1', 'host', 1700000000000000000::BIGINT, 0.7),
      ('system.cpu', 'h1', 'host', 1700000060000000000::BIGINT, 0.7),
      ('system.mem', NULL, NULL, 1700000000000000000::BIGINT, 42.0)
    ) AS t(name, resource1_name, resource1_type, timestamp_ns, value)
    """,
)
def ingest_datadog_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datadog v2 series decode (ref: datadog_metrics_json.go:25-110):
    resources[i] → resource{i+1}_{key} labels, point objects with the
    decoder's loop-carried (timestamp, value) state — the second point
    inherits its timestamp, the third its value."""
    import json as _json

    from gigapipe_spark.sources.ingest import datadog_metrics

    payload = _json.dumps(
        {
            "series": [
                {
                    "metric": "system.cpu",
                    "resources": [{"name": "h1", "type": "host"}],
                    "points": [
                        {"timestamp": 1700000000, "value": 0.5},
                        {"value": 0.7},
                        {"timestamp": 1700000060},
                    ],
                },
                {
                    "metric": "system.mem",
                    "points": [{"timestamp": 1700000000, "value": 42.0}],
                },
            ]
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    lbl = F.col("labels")
    return datadog_metrics(raw).select(
        lbl.getItem("__name__").alias("name"),
        lbl.getItem("resource1_name").alias("resource1_name"),
        lbl.getItem("resource1_type").alias("resource1_type"),
        "timestamp_ns",
        "value",
    )


@register(
    "ingest_finalize_labels",
    """
    SELECT * FROM (VALUES
      ('hello', 'web', '{"type":"counter","help":"","unit":""}', 14,
       1700000000000000000::BIGINT),
      ('world', 'unknown', '', 0, 1700000001000000000::BIGINT)
    ) AS t(string, service_name, metadata, ttl_days, timestamp_ns)
    """,
)
def ingest_finalize_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side shared post-decode stage (ref: builder.go onEntries
    :304-380): __metric_type__ → metadata JSON, __ttl_days__ → ttl,
    service_name discovered from the app candidate / unknown fallback."""
    import json as _json

    from gigapipe_spark.sources.ingest import finalize_entries, loki_push

    payload = _json.dumps(
        {
            "streams": [
                {
                    "stream": {
                        "app": "web",
                        "__metric_type__": "counter",
                        "__ttl_days__": "14",
                    },
                    "values": [["1700000000000000000", "hello"]],
                },
                {
                    "stream": {"region": "eu"},
                    "values": [["1700000001000000000", "world"]],
                },
            ]
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    fin = finalize_entries(loki_push(raw))
    return fin.select(
        "string",
        F.col("labels").getItem("service_name").alias("service_name"),
        "metadata",
        "ttl_days",
        "timestamp_ns",
    )


@register(
    "ingest_loki_push_pb",
    """
    SELECT * FROM (VALUES
      ('api', 1500000001::BIGINT, 'err one'),
      ('api', 2500000002::BIGINT, 'ok two')
    ) AS t(app, timestamp_ns, string)
    """,
)
def ingest_loki_push_pb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf twin of ingest_loki_push (ref: logs_protobuf.go:14-39)."""
    from gigapipe_spark.sources import protowire as pw

    def entry(secs: int, nanos: int, line: bytes) -> bytes:
        ts = pw.pb_encode([(1, 0, secs), (2, 0, nanos)])
        return pw.pb_encode([(1, 2, ts), (2, 2, line)])

    stream = pw.pb_encode(
        [
            (1, 2, b'{app="api", ns="prod"}'),
            (2, 2, entry(1, 500000001, b"err one")),
            (2, 2, entry(2, 500000002, b"ok two")),
        ]
    )
    body = pw.snappy_compress(pw.pb_encode([(1, 2, stream)]))
    raw = spark.createDataFrame([(bytearray(body),)], "payload binary")
    return pw.loki_push_pb(raw).select(
        F.col("labels").getItem("app").alias("app"), "timestamp_ns", "string"
    )


@register(
    "ingest_zipkin_ndjson",
    """
    SELECT * FROM (VALUES
      (lpad('a1', 32, '0'), lpad('b1', 16, '0'), 'fetch',
       5000000::BIGINT, 2000000::BIGINT),
      (lpad('a1', 32, '0'), lpad('b2', 16, '0'), 'store',
       6000000::BIGINT, 1000000::BIGINT)
    ) AS t(trace_id, span_id, name, timestamp_ns, duration_ns)
    """,
)
def ingest_zipkin_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON variant of the tempo native push (ref: tempo.go:21 ndjson
    content type). Ids normalize through decodeHexStr (left-pad to
    32/16 lowercase hex)."""
    from gigapipe_spark.sources.ingest import zipkin_ndjson

    body = (
        '{"traceId":"a1","id":"b1","name":"fetch","timestamp":5000,"duration":2000}\n'
        '{"traceId":"a1","id":"b2","name":"store","timestamp":6000,"duration":1000}\n'
    )
    raw = spark.createDataFrame([(body,)], "payload string")
    return zipkin_ndjson(raw).select(
        "trace_id", "span_id", "name", "timestamp_ns", "duration_ns"
    )


@register(
    "prof_merge_dedup",
    """
    SELECT 'root;flag_' || l_returnflag AS stack,
           CAST(sum(floor(l_extendedprice * 1000)) AS BIGINT) AS value,
           count(*) AS n_merged
    FROM lineitem GROUP BY 1
    """,
)
def prof_merge_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProfileMerge v1/v2 sample dedup (ref: prof_merge_v1.go GetSampleKey
    / prof_merge_v2.go Merge): identical stacks collapse, values sum —
    exercised over folded stacks derived from lineitem."""
    from gigapipe_spark.prof.tree import merge_folded

    li = views.load_table(spark, sf_dir, "lineitem")
    folded = li.select(
        F.col("l_orderkey").cast("string").alias("profile_id"),
        F.concat(F.lit("root;flag_"), F.col("l_returnflag")).alias("stack"),
        F.floor(F.col("l_extendedprice") * 1000).cast("long").alias("value"),
    )
    return merge_folded(folded)


# ------------------------------------------- round-3 long-tail entries

register(
    "promql_max_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 1800000000000) AS timestamp_ns,
           round(max(value), 6) AS value
    FROM metric_samples WHERE app = 'view' GROUP BY 1, 2
    """,
)(_promql('max_over_time({app="view"}[30m])', _FPV))

register(
    "promql_first_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(min_by(value, timestamp_ns), 6) AS value
    FROM metric_samples WHERE app = 'purchase' GROUP BY 1, 2
    """,
)(_promql('first_over_time({app="purchase"}[1h])', _FPV))

register(
    "promql_quantile_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(quantile_cont(value, 0.9), 6) AS value
    FROM metric_samples WHERE app = 'click' GROUP BY 1, 2
    """,
)(_promql('quantile_over_time(0.9, {app="click"}[1h])', _FPV))

register(
    "promql_mad_over_time",
    # upstream experimental funcMadOverTime: median(|v - median(v)|),
    # both medians linearly interpolated (quantile_cont)
    f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT fingerprint,
             (timestamp_ns - timestamp_ns % 3600000000000) AS ts, value,
             median(value) OVER (
               PARTITION BY fingerprint,
                            (timestamp_ns - timestamp_ns % 3600000000000)
             ) AS med
      FROM metric_samples WHERE app = 'view'
    )
    SELECT fingerprint, ts AS timestamp_ns,
           round(quantile_cont(abs(value - med), 0.5), 6) AS value
    FROM m GROUP BY 1, 2
    """,
)(_promql('mad_over_time({app="view"}[1h])', _FPV))

register(
    "promql_topk",
    # rank on the UNROUNDED value like the engine; tiebreak mirrors the
    # canonical key-sorted label string (chr(255) = the engine's 0xFF
    # separator — chr(255) orders differently when one label value is a
    # prefix of another, e.g. instance u1 vs u10)
    f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             max(value) AS value,
             'app=' || any_value(app) || chr(255) || 'instance=' || any_value(instance)
               || chr(255) || 'level=' || any_value(level) AS lbl
      FROM metric_samples WHERE app IN ('click','view','error') GROUP BY 1, 2
    )
    SELECT fingerprint, ts AS timestamp_ns, round(value, 6) AS value FROM (
      SELECT *, row_number() OVER (PARTITION BY ts ORDER BY value DESC, lbl ASC) AS rn
      FROM m
    ) WHERE rn <= 2
    """,
)(_promql('topk(2, max_over_time({app=~"click|view|error"}[1h]))', _FPV))


@register(
    "promql_label_join",
    f"""
    WITH {METRIC_SAMPLES_CTE}, inst AS (
      SELECT app, instance, (timestamp_ns - timestamp_ns % 60000000000) AS b,
             fingerprint, max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app IN ('click','view') GROUP BY 1, 2, 3, 4
    )
    SELECT app || '-' || instance AS joined, app, b AS timestamp_ns,
           round(value, 6) AS value
    FROM inst
    """,
)
def promql_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_join(v, "joined", "-", "app", "instance")
    (ref: promql function set; functions.py:135)."""
    m = promql_query(PromQLContext(spark, sf_dir), '{app=~"click|view"}')
    out = _pf.label_join(m, "joined", "-", "app", "instance")
    return out.select(
        _lbl("joined")(), _lbl("app")(), "timestamp_ns",
        F.round("value", 6).alias("value"),
    )


@register(
    "traceql_trace_by_id",
    with_spans(
        "SELECT trace_id, span_id, parent_id, name FROM spans WHERE trace_id = 't42'"
    ),
)
def traceql_trace_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-by-id fetch, root-first (ref: reader/service/tempo.go)."""
    from gigapipe_spark.traceql.compiler import trace_by_id

    return trace_by_id(TraceQLContext(spark, sf_dir), "t42").select(
        "trace_id", "span_id", "parent_id", "name"
    )


register(
    "logql_last_over_time",
    # `| json` adds the parsed k to the label set → one series per
    # (user, k); each such series' samples all carry value k, so the
    # per-user sum of series lasts = sum of DISTINCT k values
    "SELECT 'u' || CAST(user_id AS VARCHAR) AS instance,"
    " (epoch_ns(ts) - epoch_ns(ts) % 3600000000000) AS timestamp_ns,"
    " round(sum(DISTINCT CAST(json_extract_string(props,'$.k') AS DOUBLE)), 6)"
    " AS value FROM events WHERE event_type='purchase' GROUP BY 1, 2",
)(
    _logql(
        'sum by (instance) (last_over_time({app="purchase"} | json | unwrap k [1h]))',
        [_lbl("instance"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_first_over_time",
    "SELECT 'u' || CAST(user_id AS VARCHAR) AS instance,"
    " (epoch_ns(ts) - epoch_ns(ts) % 3600000000000) AS timestamp_ns,"
    " round(max(CAST(json_extract_string(props,'$.k') AS DOUBLE)), 6)"
    " AS value FROM events WHERE event_type='signup' GROUP BY 1, 2",
)(
    _logql(
        'max by (instance) (first_over_time({app="signup"} | json | unwrap k [1h]))',
        [_lbl("instance"), "timestamp_ns", "value"],
        ["value"],
    )
)

register(
    "logql_drop_keep",
    # after `| json | keep app, k`: only the kept labels survive into the
    # output label set
    "SELECT 'click' AS app, json_extract_string(props,'$.k') AS k,"
    " epoch_ns(ts) AS timestamp_ns, props AS string"
    " FROM events WHERE event_type='click'",
)(
    _logql(
        '{app="click"} | json | keep app, k',
        [_lbl("app"), _lbl("k"), "timestamp_ns", "string"],
    )
)


@register(
    "store_roundtrip_logql",
    """
    SELECT * FROM (VALUES
      ('hit 0', 1700000000000000000::BIGINT),
      ('hit 1', 1700000010000000000::BIGINT),
      ('hit 2', 1700000020000000000::BIGINT)
    ) AS t(string, timestamp_ns)
    """,
)
def store_roundtrip_logql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference loop, driver-visible: wire payload → loki_push
    decode → ingest_fanout MV layer (samples/time_series/gin parquet) →
    LogQL selector over the STORED tables (storage/query.py). The store
    rebuilds from scratch each run (idempotent)."""
    import json as _json
    import os
    import shutil
    import tempfile

    from gigapipe_spark.logql.compiler import query_range
    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.query import store_logql_context
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    root = os.path.join(tempfile.gettempdir(), "gigapipe_store_roundtrip")
    shutil.rmtree(root, ignore_errors=True)
    t0 = 1_700_000_000_000_000_000
    payload = _json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": "web"},
                    "values": [
                        [str(t0 + i * 10_000_000_000), f"hit {i}"]
                        for i in range(3)
                    ],
                },
                {
                    "stream": {"app": "db"},
                    "values": [[str(t0), "other stream"]],
                },
            ]
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    cat = Catalog(root)
    # a 4-row demo batch: one partition end-to-end, not 200 shuffle slivers
    ingest_fanout(loki_push(raw), cat)
    res = query_range(
        store_logql_context(spark, cat), '{app="web"}', direction="forward"
    )
    return res.df.select("string", "timestamp_ns")


@register(
    "store_roundtrip_traceql",
    """
    SELECT * FROM (VALUES
      (lpad('b1', 16, '0'), 'get /', 1500000::BIGINT)
    ) AS t(span_id, name, duration_ns)
    """,
)
def store_roundtrip_traceql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipkin push → spans_fanout (tempo_traces + attrs GIN) → TraceQL
    attr selector over the stored tables."""
    import json as _json
    import os
    import shutil
    import tempfile

    from gigapipe_spark.sources.ingest import zipkin_spans
    from gigapipe_spark.storage.query import store_traceql_context
    from gigapipe_spark.storage.writer import Catalog, spans_fanout
    from gigapipe_spark.traceql.compiler import query as traceql_query

    root = os.path.join(tempfile.gettempdir(), "gigapipe_store_traceql")
    shutil.rmtree(root, ignore_errors=True)
    payload = _json.dumps(
        [
            {
                "id": "b1", "traceId": "a1", "name": "get /",
                "timestamp": 1700000000000000, "duration": 1500,
                "localEndpoint": {"serviceName": "web"},
                "tags": {"otel.status_code": "ERROR"},
            },
            {
                "id": "b2", "traceId": "a1", "parentId": "b1",
                "name": "select", "timestamp": 1700000000000100,
                "duration": 900, "localEndpoint": {"serviceName": "db"},
            },
        ]
    )
    cat = Catalog(root)
    spans_fanout(
        zipkin_spans(
            spark.createDataFrame([(payload,)], "payload string")
        ),
        cat,
    )
    ctx = store_traceql_context(spark, cat)
    return traceql_query(ctx, "{ status = error }").select(
        "span_id", "name", "duration_ns"
    )


@register(
    "store_roundtrip_promql",
    """
    SELECT * FROM (VALUES (5.0)) AS t(value)
    """,
)
def store_roundtrip_promql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loki values-triples (type-0 rows) → ingest_fanout → PromQL
    instant vector over the stored samples (type IN (0,2) planner
    filter): the newest sample inside the lookback window wins."""
    import json as _json
    import os
    import shutil
    import tempfile

    from gigapipe_spark.promql.compiler import query as promql_query
    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.query import store_promql_context
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    root = os.path.join(tempfile.gettempdir(), "gigapipe_store_promql")
    shutil.rmtree(root, ignore_errors=True)
    t0 = 1_700_000_000_000_000_000
    payload = _json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": "web"},
                    "values": [
                        [str(t0 + i * 10_000_000_000), f"hit {i}", float(i)]
                        for i in range(6)
                    ],
                }
            ]
        }
    )
    raw = spark.createDataFrame([(payload,)], "payload string")
    cat = Catalog(root)
    ingest_fanout(loki_push(raw), cat)
    ctx = store_promql_context(
        spark, cat, start_ns=t0, end_ns=t0 + 60_000_000_000
    )
    df = promql_query(ctx, '{app="web"}')
    return df.agg(F.max("value").alias("value"))


@register(
    "store_roundtrip_pyroscope",
    """
    SELECT * FROM (VALUES
      ('bar', 7::BIGINT, 7::BIGINT),
      ('foo', 5::BIGINT, 12::BIGINT),
      ('main', 0::BIGINT, 12::BIGINT)
    ) AS t(fn_name, self, total)
    """,
)
def store_roundtrip_pyroscope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pprof BYTES → pprof_folded decode → folded_profiles_input tree
    layout → profiles_fanout (profiles + profiles_series +
    profiles_series_gin, profiles.sql:118-119 tree columns) →
    label-selector-scoped merge from the STORED trees — the full
    reference render loop (planner_selector.go:12 fingerprints +
    planner_merge_raw.go:11 tree merge). The dev-tagged profile must be
    scoped out by the {env="prod"} selector."""
    import gzip
    import os
    import shutil
    import tempfile

    from gigapipe_spark.prof.tree import merge_trees, resolve_functions
    from gigapipe_spark.sources import protowire as pw
    from gigapipe_spark.sources.ingest import folded_profiles_input
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, profiles_fanout

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
    body = gzip.compress(pw.pb_encode(fields))

    root = os.path.join(tempfile.gettempdir(), "gigapipe_store_pyroscope")
    shutil.rmtree(root, ignore_errors=True)
    t0 = 1_700_000_000_000_000_000
    raw = spark.createDataFrame(
        [("p-prod", bytearray(body)), ("p-dev", bytearray(body))],
        "profile_id string, payload binary",
    )
    folded = pw.pprof_folded(raw).select(
        "profile_id",
        F.lit(t0).alias("timestamp_ns"),
        F.lit("process_cpu").alias("type"),
        F.lit("api").alias("service_name"),
        F.lit("cpu").alias("period_type"),
        F.lit("nanoseconds").alias("period_unit"),
        F.create_map(
            F.lit("env"),
            F.when(F.col("profile_id") == "p-prod", F.lit("prod")).otherwise(
                F.lit("dev")
            ),
        ).alias("tags"),
        F.lit(0).cast("long").alias("duration_ns"),
        "line",
    )
    cat = Catalog(root)
    profiles_fanout(
        folded_profiles_input(folded, "cpu", "nanoseconds"), cat
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    prof = eng._stored_profiles(None, '{env="prod"}', None)
    merged = resolve_functions(merge_trees(prof), prof)
    return merged.select("fn_name", "self", "total").orderBy("fn_name")


def _rule_base_store(spark: SparkSession) -> str:
    """One pushed 5-line store shared by store_roundtrip_ruler and
    store_roundtrip_rules (VERDICT r7 task 3: the base push is
    identical in both; building it twice bought only cold latency).
    The two entries write back DIFFERENT recorded metric names and both
    reads filter by __name__, so sharing cannot cross-talk. Memoized
    per Spark session (views.session_memo); rebuilt from scratch in
    every new process."""
    import json as _json
    import os
    import shutil
    import tempfile

    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    def build() -> str:
        root = os.path.join(tempfile.gettempdir(), "gigapipe_store_rulebase")
        shutil.rmtree(root, ignore_errors=True)
        t0 = 1_700_000_000_000_000_000
        payload = _json.dumps(
            {
                "streams": [
                    {
                        "stream": {"app": "web"},
                        "values": [
                            [str(t0 + i * 1_000_000_000), f"hit {i}"]
                            for i in range(5)
                        ],
                    }
                ]
            }
        )
        ingest_fanout(
            loki_push(spark.createDataFrame([(payload,)], "payload string")),
            Catalog(root),
        )
        return root

    return session_memo(spark, None, "rule_base_store", build)


@register(
    "store_roundtrip_ruler",
    """
    SELECT * FROM (VALUES ('web', 'obs', 5.0)) AS t(app, team, value)
    """,
)
def store_roundtrip_ruler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's recording-rule writeback loop end-to-end
    (ruler/manager.go evaluation + writeback.go:20-54): push 5 log
    lines, evaluate a LogQL recording rule over the STORED tables,
    append its samples back through ingest_fanout, then read the
    recorded series via a PromQL instant query over the same store.
    The base 5-line push is the shared _rule_base_store fixture; the
    entry's own work starts at the Ruler (writebacks land under this
    entry's unique __name__, and the instant read groups per
    fingerprint, so sharing and re-runs cannot skew the result)."""
    from gigapipe_spark.promql.compiler import query as promql_query
    from gigapipe_spark.storage.query import store_promql_context
    from gigapipe_spark.storage.writer import Catalog
    from gigapipe_spark.streaming.ruler import RecordingRule, store_ruler

    t0 = 1_700_000_000_000_000_000
    cat = Catalog(_rule_base_store(spark))
    ruler = store_ruler(spark, cat)
    ruler.add_rule(
        RecordingRule(
            name="web:lines:count30s",
            query='sum by (app) (count_over_time({app="web"}[30s]))',
            interval_ns=60_000_000_000,
            static_labels={"team": "obs"},
        )
    )
    ruler.tick(now_ns=t0 + 10_000_000_000)
    pctx = store_promql_context(
        spark, cat, start_ns=t0, end_ns=t0 + 60_000_000_000
    )
    df = promql_query(pctx, '{__name__="web:lines:count30s"}')
    return df.groupBy(
        F.col("labels").getItem("app").alias("app"),
        F.col("labels").getItem("team").alias("team"),
    ).agg(F.max("value").alias("value"))


@register(
    "store_roundtrip_patterns",
    """
    SELECT * FROM (VALUES ('login ok', 3::BIGINT)) AS t(pattern, total)
    """,
)
def store_roundtrip_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's inline pattern side-channel end-to-end
    (writer/pattern/controller/controller.go:71 ClusterLines on every
    push + RunFlush:132-187 appending to the stored `patterns` table,
    read back via planner_patterns.go:14-48 with the selector fp scope,
    step pregroup, total>1 HAVING and buildPattern collapse): one push
    of two streams, then /loki/api/v1/patterns with a regex selector
    merges the stored clusters across streams — 'login ok' appears
    twice in stream web and once in stream api → total 3; the
    single-occurrence 'logout done' is dropped by the reference's
    HAVING total > 1. (Cross-FLUSH merging and the samples array are
    covered by tests/test_store_query.py — the oracle entry keeps one
    fanout call so its cold cost stays inside the driver budget.)"""
    import json as _json
    import os
    import shutil
    import tempfile

    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    root = os.path.join(tempfile.gettempdir(), "gigapipe_store_patterns")
    shutil.rmtree(root, ignore_errors=True)
    t0 = 1_700_000_000_000_000_000
    cat = Catalog(root)

    def stream(app: str, lines: list[str]) -> dict:
        return {
            "stream": {"app": app},
            "values": [
                [str(t0 + i * 1_000_000_000), ln]
                for i, ln in enumerate(lines)
            ],
        }

    payload = _json.dumps(
        {
            "streams": [
                stream("web", ["login ok", "login ok", "logout done"]),
                stream("api", ["login ok"]),
            ]
        }
    )
    ingest_fanout(
        loki_push(
            spark.createDataFrame([(payload,)], "payload string")
        ),
        cat,
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    return eng.loki_patterns('{app=~"web|api"}').select("pattern", "total")


@register(
    "store_roundtrip_rules",
    """
    SELECT * FROM (VALUES ('web', 'obs', 5.0, 'ok'))
      AS t(app, team, value, health)
    """,
)
def store_roundtrip_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ruler MANAGEMENT surface end-to-end (ruler/service.go YAML
    rule-group storage with ReplacingMergeTree versioning +
    manager.go:197-249 per-cycle store re-read, interval gating, health
    + writeback.go in-process write): push 5 log lines, store a rule
    group through the CRUD layer, run one manager tick, then read the
    recorded series via a PromQL instant query over the same store and
    join the rule's health from the manager. Distinct from
    store_roundtrip_ruler, which drives the in-memory Ruler directly —
    this path goes through YAML persistence and the scheduler.
    Shares the _rule_base_store push fixture with store_roundtrip_ruler
    (distinct recorded __name__, per-fingerprint instant read — no
    cross-talk; see _rule_base_store)."""
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog
    from gigapipe_spark.streaming.rules import (
        Rule,
        RuleGroup,
        store_rule_managers,
    )

    t0 = 1_700_000_000_000_000_000
    cat = Catalog(_rule_base_store(spark))
    mgrs = store_rule_managers(spark, cat)
    mgrs["loki"].store.set_rule_group(
        "obs-ns",
        RuleGroup(
            name="g",
            interval="1m",
            rules=[
                Rule(
                    record="web:lines:rules",
                    expr='sum by (app) (count_over_time({app="web"}[30s]))',
                    labels={"team": "obs"},
                )
            ],
        ),
    )
    mgrs["loki"].tick(t0 + 10_000_000_000)
    health = mgrs["loki"].health.get("obs-ns:g:web:lines:rules", {}).get(
        "health", "missing"
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    df = eng.prom_query('{__name__="web:lines:rules"}', t0 + 60_000_000_000)
    return df.select(
        F.col("labels").getItem("app").alias("app"),
        F.col("labels").getItem("team").alias("team"),
        F.col("value").cast("double").alias("value"),
        F.lit(health).alias("health"),
    )


@register(
    "text_bigram_logprob",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0
    ),
    allw AS (SELECT doc_id, unnest(ws) AS w FROM d2),
    uni AS (
      SELECT w, count(*) AS cnt, sum(count(*)) OVER () AS total
      FROM allw GROUP BY w
    ),
    start_lp AS (
      SELECT d2.doc_id, ln(uni.cnt / CAST(uni.total AS DOUBLE)) AS lp
      FROM d2 JOIN uni ON d2.ws[1] = uni.w
    ),
    p2 AS (
      SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
        SELECT doc_id,
               unnest([struct_pack(w1 := ws[j], w2 := ws[j+1])
                       FOR j IN generate_series(1, len(ws) - 1)]) AS bg
        FROM d2
      )
    ),
    c1 AS (SELECT w1, count(*) AS c1 FROM p2 GROUP BY w1),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM p2 GROUP BY w1, w2),
    pair_lp AS (
      SELECT p2.doc_id, ln(c12.c12 / CAST(c1.c1 AS DOUBLE)) AS lp
      FROM p2 JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    ),
    u AS (SELECT * FROM start_lp UNION ALL SELECT * FROM pair_lp)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 6) AS mean_logprob
    FROM u GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram 'stupid LM' quality score — word ORDER now
    matters, unlike text_unigram_logprob (a shuffled doc scores
    differently). Bigram count table broadcasts; scoring is array-side
    zip + explode + join, no positional self-join."""
    return _ts.bigram_logprob(_views.documents(spark, sf_dir))


@register(
    "dedup_repeated_substrings",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) >= 10
    ),
    g2 AS (
      SELECT doc_id, pg['pos'] AS pos, pg['g'] AS g FROM (
        SELECT doc_id,
               unnest([struct_pack(pos := j - 1,
                                   g := array_to_string(ws[j:j+9], ' '))
                       FOR j IN generate_series(1, len(ws) - 9)]) AS pg
        FROM d2
      )
    ),
    dup AS (SELECT g FROM g2 GROUP BY g HAVING count(*) > 1),
    m AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)),
    i AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  > 10 THEN 1 ELSE 0 END AS nw
      FROM m
    ),
    i2 AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM i
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
           CAST(max(pos) + 10 - min(pos) AS BIGINT) AS n_words
    FROM i2 GROUP BY doc_id, island
    """,
)
def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. 2022): maximal word-pos
    runs whose 10-word window recurs anywhere in the corpus. Gram
    counts (never pairs) + gaps-and-islands window merge."""
    return _dedup.repeated_substring_spans(
        _views.documents(spark, sf_dir), k=10
    ).select(
        "doc_id",
        F.col("start_word").cast("long").alias("start_word"),
        "n_words",
    )


@register(
    "text_nb_classifier",
    r"""
    WITH d AS (
      SELECT doc_id, source AS label,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0
    ),
    tok AS (SELECT doc_id, label, unnest(ws) AS w FROM d),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT 300
      )
    ),
    vsize AS (SELECT count(*) AS v FROM vocab),
    labels AS (SELECT label, count(*) AS docs FROM d GROUP BY label),
    total_docs AS (SELECT count(*) AS t FROM d),
    iv AS (SELECT doc_id, label, w FROM tok JOIN vocab USING (w)),
    wl AS (SELECT label, w, count(*) AS c FROM iv GROUP BY label, w),
    ltot AS (SELECT label, sum(c) AS tot FROM wl GROUP BY label),
    grid AS (
      SELECT l.label AS cand, v.w,
             ln((coalesce(wl.c, 0) + 1.0)
                / (coalesce(ltot.tot, 0) + vsize.v)) AS ll
      FROM (SELECT DISTINCT label FROM labels) l
      CROSS JOIN vocab v CROSS JOIN vsize
      LEFT JOIN ltot ON ltot.label = l.label
      LEFT JOIN wl ON wl.label = l.label AND wl.w = v.w
    ),
    tok_scores AS (
      SELECT iv.doc_id, g.cand, sum(g.ll) AS s
      FROM (SELECT doc_id, w FROM iv) iv JOIN grid g USING (w)
      GROUP BY iv.doc_id, g.cand
    ),
    full_scores AS (
      SELECT d.doc_id, d.label, lb.label AS cand,
             ln(lb.docs / t.t) + coalesce(s.s, 0) AS score
      FROM d CROSS JOIN labels lb CROSS JOIN total_docs t
      LEFT JOIN tok_scores s
        ON s.doc_id = d.doc_id AND s.cand = lb.label
    )
    SELECT doc_id, label, cand AS predicted, round(score, 6) AS score
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, cand DESC
      ) AS rn
      FROM full_scores
    )
    WHERE rn = 1
    """,
)
def text_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style in-pipeline document classifier: multinomial
    Naive Bayes over a bounded (top-300 here, to exercise the OOV
    path) unigram vocabulary, trained on the corpus's own source
    labels — the quality/domain classifier shape of curation
    pipelines. Exact oracle: the full train+apply computation
    re-derived in SQL (vocabulary bound, add-one smoothing, priors,
    per-class log-likelihood sums, deterministic argmax)."""
    from gigapipe_spark.datapipe.textstats import nb_classifier

    return nb_classifier(
        _views.documents(spark, sf_dir), max_vocab=300
    ).orderBy("doc_id")


# DCT perceptual hashing is not SQL-expressible — rows-only by the
# driver contract; determinism is pinned by tests (identical runs,
# banding recall == brute force) in test_datapipe
@register("multimodal_phash_dedup")
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: 64-bit DCT pHash over the
    real-decoded BMP payloads, banded into max_hamming+1 chunks
    (pigeonhole recall guarantee) with degenerate-bucket caps, verified
    by true Hamming distance — the image-side twin of SimHash text
    dedup, sharing its banding machinery and 100 TB shape (signatures
    shuffle, pixels don't)."""
    mm = _mm.attach_bmp_payload(_views.documents(spark, sf_dir))
    return (
        _mm.phash_pairs(mm, max_hamming=16)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "text_tfidf_keywords",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0
    ),
    lens AS (SELECT doc_id, len(ws) AS dl FROM base),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM base),
    tf AS (
      SELECT doc_id, w AS term, count(*) AS tf FROM (
        SELECT doc_id, unnest(ws) AS w FROM base
      ) GROUP BY doc_id, w
    ),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((tf.tf * 1.0 / lens.dl) * ln(nd.n / dft.df), 6) AS tfidf
      FROM tf
      JOIN dft USING (term)
      JOIN lens ON lens.doc_id = tf.doc_id
      CROSS JOIN nd
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF — corpus
    exploration next to BM25 retrieval. Exact oracle with the same
    round-before-rank determinism."""
    from gigapipe_spark.datapipe.textstats import tfidf_keywords

    return tfidf_keywords(_views.documents(spark, sf_dir), k=5)


@register(
    "text_corpus_stats",
    r"""
    WITH per AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
               AS nt,
             length(text) AS nc
      FROM documents
    ),
    vocab AS (
      SELECT count(DISTINCT w) AS vocab_size FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x != '')) AS w
        FROM documents
      )
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(vocab.vocab_size AS BIGINT) AS vocab_size,
           round(vocab.vocab_size * 1.0 / sum(nt), 6) AS type_token_ratio,
           round(avg(nt), 6) AS mean_doc_tokens,
           quantile_cont(nt, 0.5) AS median_doc_tokens,
           CAST(max(nt) AS BIGINT) AS max_doc_tokens
    FROM per CROSS JOIN vocab GROUP BY vocab.vocab_size
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus profile (docs/tokens/chars, vocabulary size,
    type-token ratio, doc-length mean/median/max) — the pre-training
    summary pass. Exact oracle incl. the interpolated median."""
    from gigapipe_spark.datapipe.textstats import corpus_stats

    return corpus_stats(_views.documents(spark, sf_dir))


@register(
    "contamination_spans",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) >= 10
    ),
    g2 AS (
      SELECT doc_id, pg['pos'] AS pos, pg['g'] AS g FROM (
        SELECT doc_id,
               unnest([struct_pack(pos := j - 1,
                                   g := array_to_string(ws[j:j+9], ' '))
                       FOR j IN generate_series(1, len(ws) - 9)]) AS pg
        FROM d2
      )
    ),
    bg AS (SELECT DISTINCT g FROM g2 WHERE doc_id < 25),
    m AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM bg)),
    i AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  > 10 THEN 1 ELSE 0 END AS nw
      FROM m
    ),
    i2 AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM i
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
           CAST(max(pos) + 10 - min(pos) AS BIGINT) AS n_words
    FROM i2 GROUP BY doc_id, island
    """,
)
def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (excise-don't-drop counterpart to
    contamination_ngrams): word-position spans covered by a 10-gram
    that appears verbatim in the benchmark slice (doc_id < 25, the same
    convention as contamination_ngrams); pipe into remove_spans to cut
    the leak. Exact oracle: positional-gram + gaps-and-islands CTEs
    with the benchmark gram set."""
    from gigapipe_spark.datapipe.scrub import contamination_spans as _cs

    d = _views.documents(spark, sf_dir)
    return _cs(d, d.filter(F.col("doc_id") < 25), k=10)


_BM25_QUERIES = [
    (1, "spark query join"),
    (2, "window sort merge"),
    (3, "fast table scan"),
]


@register(
    "text_bm25_topk",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0
    ),
    lens AS (SELECT doc_id, len(ws) AS dl FROM base),
    na AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens),
    tf AS (
      SELECT doc_id, w AS t, count(*) AS tf FROM (
        SELECT doc_id, unnest(ws) AS w FROM base
      ) GROUP BY doc_id, w
    ),
    dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    q AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS t
      FROM (VALUES (1, 'spark query join'), (2, 'window sort merge'),
                   (3, 'fast table scan')) AS v(query_id, qtext)
    ),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             round(sum(
               ln((na.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl / na.avgdl))
             ), 6) AS score
      FROM tf
      JOIN q ON q.t = tf.t
      JOIN dft ON dft.t = tf.t
      JOIN lens ON lens.doc_id = tf.doc_id
      CROSS JOIN na
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id
      ) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene-default scoring, k1=1.2 b=0.75):
    top-10 documents per query for three fixed corpus-vocabulary
    queries — the lexical search primitive next to embedding ANN
    (contamination audits, targeted corpus exploration). Exact oracle:
    the same postings/df/avgdl tables and the identical
    round-before-rank ordering in SQL."""
    from gigapipe_spark.datapipe.textstats import bm25_topk

    return bm25_topk(_views.documents(spark, sf_dir), _BM25_QUERIES, k=10)


@register(
    "dedup_span_removal",
    r"""
    WITH d2 AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) >= 10
    ),
    g2 AS (
      SELECT doc_id, pg['pos'] AS pos, pg['g'] AS g FROM (
        SELECT doc_id,
               unnest([struct_pack(pos := j - 1,
                                   g := array_to_string(ws[j:j+9], ' '))
                       FOR j IN generate_series(1, len(ws) - 9)]) AS pg
        FROM d2
      )
    ),
    dup AS (SELECT g FROM g2 GROUP BY g HAVING count(*) > 1),
    m AS (SELECT doc_id, pos FROM g2 WHERE g IN (SELECT g FROM dup)),
    i AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                  > 10 THEN 1 ELSE 0 END AS nw
      FROM m
    ),
    i2 AS (
      SELECT doc_id, pos,
             sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM i
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 10 - min(pos) AS n
      FROM i2 GROUP BY doc_id, island
    ),
    sp AS (
      SELECT doc_id, list(struct_pack(s := s, n := n)) AS sps
      FROM spans GROUP BY doc_id
    ),
    allw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
    )
    SELECT a.doc_id,
           -- array_to_string([]) is NULL in DuckDB; Spark's concat_ws
           -- gives '' for a fully-removed doc — normalize to ''
           coalesce(array_to_string(
             list_filter(a.ws, (x, i) ->
               len(list_filter(coalesce(sp.sps, []),
                               v -> v.s <= i - 1 AND i - 1 < v.s + v.n)) = 0
             ), ' '), '') AS clean_text,
           CAST(len(a.ws) -
             len(list_filter(a.ws, (x, i) ->
               len(list_filter(coalesce(sp.sps, []),
                               v -> v.s <= i - 1 AND i - 1 < v.s + v.n)) = 0
             )) AS BIGINT) AS n_removed_words
    FROM allw a LEFT JOIN sp ON sp.doc_id = a.doc_id
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022):
    detected repeated-10-gram spans are cut from the word grid and the
    survivors rejoined — span-level curation whole-doc dedup cannot
    express. Exact oracle: the spans CTE chain from
    dedup_repeated_substrings composed with an index-lambda removal."""
    from gigapipe_spark.datapipe.dedup import (
        remove_spans,
        repeated_substring_spans,
    )

    d = _views.documents(spark, sf_dir)
    return remove_spans(d, repeated_substring_spans(d, k=10))


@register(
    "text_trigram_backoff",
    r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x != '') AS ws
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x != '')) > 0
    ),
    tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
    uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
    p2 AS (
      SELECT bg['u'] AS u, bg['v'] AS v FROM (
        SELECT unnest([struct_pack(u := ws[j], v := ws[j+1])
                       FOR j IN generate_series(1, len(ws) - 1)]) AS bg
        FROM d
      )
    ),
    bi AS (SELECT u, v, count(*) AS c2 FROM p2 GROUP BY u, v),
    p3 AS (
      SELECT tg['u'] AS u, tg['v'] AS v, tg['w'] AS w FROM (
        SELECT unnest([struct_pack(u := ws[j], v := ws[j+1], w := ws[j+2])
                       FOR j IN generate_series(1, len(ws) - 2)]) AS tg
        FROM d
      )
    ),
    tri AS (SELECT u, v, w, count(*) AS c3 FROM p3 GROUP BY u, v, w),
    pos AS (
      SELECT doc_id, len(ws) AS n_tokens, j,
             CASE WHEN j >= 3 THEN ws[j-2] END AS u,
             CASE WHEN j >= 2 THEN ws[j-1] END AS v,
             ws[j] AS w
      FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS j FROM d
      )
    ),
    sc AS (
      SELECT pos.doc_id, pos.n_tokens,
        CASE
          WHEN pos.j = 1 THEN ln(u1.c1 / nt.n)
          WHEN pos.j = 2 THEN
            CASE WHEN coalesce(b_vw.c2, 0) >= 2
                 THEN ln(b_vw.c2 * 1.0 / u_v.c1)
                 ELSE ln(0.4 * u1.c1 / nt.n) END
          ELSE
            CASE WHEN coalesce(t.c3, 0) >= 2
                 THEN ln(t.c3 * 1.0 / b_uv.c2)
                 WHEN coalesce(b_vw.c2, 0) >= 2
                 THEN ln(0.4 * b_vw.c2 / u_v.c1)
                 ELSE ln(0.16 * u1.c1 / nt.n) END
        END AS lp
      FROM pos
      CROSS JOIN nt
      LEFT JOIN tri t ON t.u = pos.u AND t.v = pos.v AND t.w = pos.w
      LEFT JOIN bi b_uv ON b_uv.u = pos.u AND b_uv.v = pos.v
      LEFT JOIN bi b_vw ON b_vw.u = pos.v AND b_vw.v = pos.w
      LEFT JOIN uni u_v ON u_v.w = pos.v
      JOIN uni u1 ON u1.w = pos.w
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(sum(lp) / n_tokens, 6) AS mean_logprob
    FROM sc GROUP BY doc_id, n_tokens
    """,
)
def text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM quality score (Brants et al. 2007)
    with a count-pruning floor — the top of the unigram → bigram →
    trigram 'stupid LM' ladder; pruning makes the backoff path real on
    a corpus-trained model. Exact oracle: the same pruned-count tables
    and per-position CASE ladder in SQL."""
    from gigapipe_spark.datapipe.textstats import trigram_backoff_logprob

    return trigram_backoff_logprob(
        _views.documents(spark, sf_dir), min_count=2
    )


# contains the MinHash near-dup stage — rows-only by the driver
# contract; every component stage has its own exact-oracle entry and
# the composed verdict logic is pinned by planted-doc tests
@register("curate_corpus")
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed one-call curation pass (Dolma/RefinedWeb shape):
    exact dedup → MinHash near-dup components (keep canonical) →
    Gopher+C4 quality → language allowlist → PII scrub, emitting
    per-document kept/drop_reason verdicts. Each stage is this
    package's individually-oracled operator; the composition is
    doc-keyed left joins only."""
    from gigapipe_spark.datapipe.pipeline import curate_corpus as _cc

    # lighter signature geometry for the check (32 hashes / 8 bands of
    # 4 rows: same r=4 per-band selectivity, half the signature work —
    # miss probability at j>=0.8 is (1-j^4)^8 ~ 1.4%, fine for a
    # fixture corpus whose near-dup verdicts the tests pin exactly)
    out = _cc(
        _views.documents(spark, sf_dir),
        near_dup_threshold=0.8,
        num_hashes=32,
        bands=8,
    )
    return out.select("doc_id", "kept", "drop_reason", "n_pii")


# FFT band energies are not SQL-expressible — rows-only by the driver
# contract; determinism/gain-invariance/recall pinned in test_datapipe
@register("multimodal_afp_dedup")
def multimodal_afp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs: single-block Haitsma-Kalker spectral
    fingerprints (frame FFT band-energy difference bits — gain-robust)
    over the real-decoded WAV payloads, through the same pigeonhole
    banding core as SimHash/pHash."""
    mm = _mm.attach_wav_payload(_views.documents(spark, sf_dir))
    return _mm.afp_pairs(mm, max_hamming=12).orderBy("doc_a", "doc_b")


# k-means init/assignment is iterative — rows-only by the driver
# contract; keep/overflow semantics are pinned by hand-computed tests
@register("dedup_semantic_clusters")
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup over
    the embeddings table — k-means via ivf_fit, then a per-cluster
    greedy scan keeps the farthest-from-centroid member of every
    cosine-duplicate group. The synthetic embeddings carry no true
    near-dups (max cos ≈ 0.51), so the threshold sits at the top-pairs
    level to exercise the drop path; returns per-vector verdicts."""
    out = _dedup.semdedup(
        _views.embeddings(spark, sf_dir),
        n_clusters=4,
        threshold=0.45,
        iters=2,
    )
    return out.select(
        "vec_id", "cluster", "keep", "overflow"
    ).orderBy("vec_id")


# --------------------------------------------- round-9 experimental fns
# The remaining upstream --enable-feature=promql-experimental-functions
# surface (VERDICT r8 task 2): the reference inherits these from its
# embedded engine (ref: reader/router/prometheus_query_range.go:24-45);
# native branches live in promql/compiler.py.

register(
    "promql_ts_of_max_over_time",
    # timestamp (unix sec) of the window max; ties → latest sample,
    # like upstream's >= scan (functions.go funcTsOfMaxOverTime)
    f"""
    WITH {METRIC_SAMPLES_CTE}, g AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS b,
             max(value) AS mv
      FROM metric_samples WHERE app = 'view' GROUP BY 1, 2
    )
    SELECT m.fingerprint, g.b AS timestamp_ns,
           round(max(m.timestamp_ns) / 1e9, 6) AS value
    FROM metric_samples m
    JOIN g ON m.fingerprint = g.fingerprint
          AND (m.timestamp_ns - m.timestamp_ns % 3600000000000) = g.b
          AND m.value = g.mv
    WHERE m.app = 'view' GROUP BY 1, 2
    """,
)(_promql('ts_of_max_over_time({app="view"}[1h])', _FPV))

register(
    "promql_ts_of_min_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}, g AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS b,
             min(value) AS mv
      FROM metric_samples WHERE app = 'click' GROUP BY 1, 2
    )
    SELECT m.fingerprint, g.b AS timestamp_ns,
           round(max(m.timestamp_ns) / 1e9, 6) AS value
    FROM metric_samples m
    JOIN g ON m.fingerprint = g.fingerprint
          AND (m.timestamp_ns - m.timestamp_ns % 3600000000000) = g.b
          AND m.value = g.mv
    WHERE m.app = 'click' GROUP BY 1, 2
    """,
)(_promql('ts_of_min_over_time({app="click"}[1h])', _FPV))

register(
    "promql_ts_of_last_over_time",
    f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS timestamp_ns,
           round(max(timestamp_ns) / 1e9, 6) AS value
    FROM metric_samples WHERE app = 'purchase' GROUP BY 1, 2
    """,
)(_promql('ts_of_last_over_time({app="purchase"}[1h])', _FPV))


def _sorted_head(q: str, limit: int) -> QueryFn:
    """sort_by_label is presentation ORDER; the driver compare is
    order-insensitive, so pin the order by taking the sorted head —
    an order-SENSITIVE selection both engines must agree on."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = promql_query(PromQLContext(spark, sf_dir), q).limit(limit)
        return df.select(
            _lbl("app")(), _lbl("instance")(), "timestamp_ns",
            F.round("value", 6).alias("value"),
        )

    return fn


_SORT_ORACLE = f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT any_value(app) AS app, any_value(instance) AS instance,
             'app=' || any_value(app) || chr(255) || 'instance=' ||
               any_value(instance) || chr(255) || 'level=' ||
               any_value(level) AS lbl,
             fingerprint,
             (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             max(value) AS value
      FROM metric_samples WHERE app IN ('click','view')
      GROUP BY fingerprint, 5
    )
    SELECT app, instance, ts AS timestamp_ns, round(value, 6) AS value
    FROM m ORDER BY ts ASC, instance {{dir}}, lbl {{dir}} LIMIT 40
"""

register(
    "promql_sort_by_label",
    _SORT_ORACLE.format(dir="ASC"),
)(
    _sorted_head(
        'sort_by_label(max_over_time({app=~"click|view"}[1h]), "instance")',
        40,
    )
)

register(
    "promql_sort_by_label_desc",
    _SORT_ORACLE.format(dir="DESC"),
)(
    _sorted_head(
        'sort_by_label_desc(max_over_time({app=~"click|view"}[1h]), "instance")',
        40,
    )
)

register(
    "promql_limitk",
    # deterministic pick: canonical-label-string order per (step, group)
    # — upstream's hash-order pick is documented as unstable, so the
    # engine defines a stable rule the oracle reproduces
    f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             any_value(app) AS app, max(value) AS value,
             'app=' || any_value(app) || chr(255) || 'instance=' ||
               any_value(instance) || chr(255) || 'level=' ||
               any_value(level) AS lbl
      FROM metric_samples WHERE app IN ('click','view','error') GROUP BY 1, 2
    )
    SELECT fingerprint, ts AS timestamp_ns, round(value, 6) AS value FROM (
      SELECT *, row_number() OVER (PARTITION BY ts, app ORDER BY lbl ASC) AS rn
      FROM m
    ) WHERE rn <= 2
    """,
)(
    _promql(
        'limitk(2, max_over_time({app=~"click|view|error"}[1h])) by (app)',
        _FPV,
    )
)

register(
    "promql_limit_ratio",
    f"""
    WITH {METRIC_SAMPLES_CTE}, m AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 3600000000000) AS ts,
             max(value) AS value,
             'app=' || any_value(app) || chr(255) || 'instance=' ||
               any_value(instance) || chr(255) || 'level=' ||
               any_value(level) AS lbl
      FROM metric_samples WHERE app IN ('click','view') GROUP BY 1, 2
    )
    SELECT fingerprint, ts AS timestamp_ns, round(value, 6) AS value FROM (
      SELECT *, row_number() OVER (PARTITION BY ts ORDER BY lbl ASC) AS rn,
             count(*) OVER (PARTITION BY ts) AS n
      FROM m
    ) WHERE rn <= 0.4 * n
    """,
)(
    _promql(
        'limit_ratio(0.4, max_over_time({app=~"click|view"}[1h]))', _FPV
    )
)


# ------------------------------------------ round-10 subquery coverage
# Upstream (and hence the reference's embedded engine) accepts ANY
# range function over a subquery; these close the dispatcher gap the
# r9 verdict flagged (promql/compiler.py _range_fn_subquery now routes
# mad/ts_of_*/deriv/predict_linear/holt_winters). Inner evaluation is
# the instant vector on the subquery's step grid, mirrored by the
# `inst` CTE (same shape as promql_subquery_max_over_time).

_INST_1M = """inst AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 60000000000) AS step_b,
             max_by(value, timestamp_ns) AS value
      FROM metric_samples WHERE app='{app}' GROUP BY 1, 2
    )"""

register(
    "promql_mad_subquery",
    f"""
    WITH {METRIC_SAMPLES_CTE}, {_INST_1M.format(app='click')}, m AS (
      SELECT fingerprint, (step_b - step_b % 3600000000000) AS ts, value,
             median(value) OVER (
               PARTITION BY fingerprint, (step_b - step_b % 3600000000000)
             ) AS med
      FROM inst
    )
    SELECT fingerprint, ts AS timestamp_ns,
           round(quantile_cont(abs(value - med), 0.5), 6) AS value
    FROM m GROUP BY 1, 2
    """,
)(_promql('mad_over_time({app="click"}[1h:1m])', _FPV))

register(
    "promql_ts_of_max_subquery",
    # window max's timestamp over the inner step-grid points; ties →
    # latest, the upstream >= scan contract
    f"""
    WITH {METRIC_SAMPLES_CTE}, {_INST_1M.format(app='view')}, g AS (
      SELECT fingerprint, (step_b - step_b % 3600000000000) AS b,
             max(value) AS mv
      FROM inst GROUP BY 1, 2
    )
    SELECT i.fingerprint, g.b AS timestamp_ns,
           round(max(i.step_b) / 1e9, 6) AS value
    FROM inst i
    JOIN g ON i.fingerprint = g.fingerprint
          AND (i.step_b - i.step_b % 3600000000000) = g.b
          AND i.value = g.mv
    GROUP BY 1, 2
    """,
)(_promql('ts_of_max_over_time({app="view"}[1h:1m])', _FPV))

register(
    "promql_deriv_subquery",
    # deriv over a RANGE-FN inner (max_over_time on 10m buckets):
    # regr_slope over the inner's bucket points per 1h window.
    # Projected to PER-HOUR slope (x3600): the 10m grid makes the
    # per-second slopes exact decimal fractions with a 5 in the 7th
    # digit (diff/2400), so the compare's 6-decimal rounding sat on
    # round-half boundaries that 1-ulp engine differences flipped;
    # x3600 terminates within 3 decimals — no boundary to straddle.
    f"""
    WITH {METRIC_SAMPLES_CTE}, inner10 AS (
      SELECT fingerprint, (timestamp_ns - timestamp_ns % 600000000000) AS ts10,
             max(value) AS value
      FROM metric_samples WHERE app='purchase' GROUP BY 1, 2
    )
    SELECT fingerprint, (ts10 - ts10 % 3600000000000) AS timestamp_ns,
           round(regr_slope(value, (ts10 % 3600000000000) / 1e9) * 3600, 6)
             AS value
    FROM inner10 GROUP BY 1, 2
    """,
)(_promql(
    'deriv(max_over_time({app="purchase"}[10m])[1h:10m])',
    ["fingerprint", "timestamp_ns",
     lambda: (F.col("value") * 3600).alias("value")],
))


@register(
    "promql_holt_winters_subquery",
    # same DuckDB list_reduce fold as promql_holt_winters, over the
    # inner instant points (identical op order → identical doubles)
    f"""
    WITH {METRIC_SAMPLES_CTE}, {_INST_1M.format(app='signup')}, g AS (
      SELECT fingerprint, (step_b - step_b % 3600000000000) AS ts,
             list(value ORDER BY step_b, value) AS vals
      FROM inst GROUP BY 1, 2
    )
    SELECT fingerprint, ts AS timestamp_ns,
      CASE WHEN len(vals) < 2 THEN 'NaN'::DOUBLE
      ELSE list_reduce(
        [{{'s': vals[1], 'b': vals[2] - vals[1]}}]
          || list_transform(vals[2:], v -> {{'s': v, 'b': 0.0::DOUBLE}}),
        (acc, x) -> {{
          's': 0.5::DOUBLE * x.s + 0.5::DOUBLE * (acc.s + acc.b),
          'b': 0.5::DOUBLE * ((0.5::DOUBLE * x.s + 0.5::DOUBLE * (acc.s + acc.b)) - acc.s)
               + 0.5::DOUBLE * acc.b
        }}
      ).s END AS value
    FROM g
    """,
)
def promql_holt_winters_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = promql_query(
        PromQLContext(spark, sf_dir),
        'holt_winters({app="signup"}[1h:1m], 0.5, 0.5)',
    )
    return df.select("fingerprint", "timestamp_ns", "value")


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
