"""PromQL long-tail functions.

The reference gets these "for free" from the embedded upstream engine
after series fetch (SURVEY §2.4); here they're implemented natively:

  deriv / predict_linear   per-bucket least-squares — Spark's built-in
                           regr_slope/regr_intercept (JVM, no UDF)
  histogram_quantile       classic le-bucket linear interpolation as
                           window expressions over the bucketed series
  label_replace/label_join map rewrites
  absent                   anti-join against the step grid
  sort/sort_desc           ordering on the matrix
  holt_winters             genuinely iterative → per-series Arrow UDF
                           (the "residual evaluator" fallback path —
                           the ONLY Python-side function here)
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gigapipe_spark.model.fingerprint import canonical_labels_str, sorted_entries


def _bucket(ts: Column, width_ns: int) -> Column:
    return ts - F.pmod(ts, F.lit(width_ns))


def window_key(range_ns: int, at_ns: int | None = None) -> Column:
    """A sample's range window: its tumbling bucket, or the pinned time
    when `at_ns` is given — the samples are then the one window
    (at - range, at] (compiler._selector_samples)."""
    if at_ns is not None:
        return F.lit(at_ns)
    return _bucket(F.col("timestamp_ns"), range_ns)


def fp_entries_agg(df: DataFrame, bucket: Column, *aggs: Column) -> DataFrame:
    """groupBy (fingerprint, sorted label entries, bucket) — labels ride
    the group key instead of a first(map) aggregate.

    first(labels) puts a MapType in the aggregation buffer, which
    disqualifies HashAggregateExec: Spark plans SortAggregate with a
    per-partition sort of EVERY input row (the r14 instant-vector find,
    here applied to the range/over_time group-bys). With the entries
    array riding the key, the buffer holds only the numeric aggregates
    (hash agg for declarative fns, object-hash for percentile-family)
    and the exchange ships one entries array per group instead of a map
    per row. Labels are rebuilt from the key via map_from_entries —
    exact inversion, no separator escaping. Callers guarantee labels
    are constant within a fingerprint (they come from the series dim,
    or the fingerprint was just recomputed from these labels), so the
    extra key never splits a group."""
    return (
        df.groupBy(
            "fingerprint",
            sorted_entries(F.col("labels")).alias("__lbl_entries"),
            bucket,
        )
        .agg(*aggs)
        .withColumn("labels", F.map_from_entries("__lbl_entries"))
    )


def _bucket_rel_seconds(range_ns: int, at_ns: int | None = None):
    """(bucket, t) where t = seconds SINCE THE BUCKET START (since the
    pinned time with `at_ns`, see window_key). The slope is
    translation-invariant, and regressing on raw epoch seconds (~1.7e9)
    loses ~6 digits to cancellation in the covariance accumulators —
    enough to drift past the oracle's 6-decimal compare at sf0.1 under
    32-way partial-merge order. Relative seconds (within ±range) keep
    the same answer at full precision."""
    b = window_key(range_ns, at_ns)
    t = (F.col("timestamp_ns") - b) / F.lit(1e9)
    return b, t


def deriv(samples: DataFrame, range_ns: int, at_ns: int | None = None) -> DataFrame:
    """Per-second least-squares slope per (series, bucket)
    (PromQL deriv): regr_slope over (value, t_seconds)."""
    b, t = _bucket_rel_seconds(range_ns, at_ns)
    return fp_entries_agg(
        samples.withColumn("__t", t),
        b.alias("timestamp_ns"),
        F.regr_slope(F.col("value"), F.col("__t")).alias("value"),
    ).select("fingerprint", "labels", "timestamp_ns", "value")


def predict_linear(
    samples: DataFrame, range_ns: int, horizon_s: float, at_ns: int | None = None
) -> DataFrame:
    """Extrapolate each series horizon_s past its bucket end:
    intercept + slope * (t_end + horizon). Runs in bucket-relative
    seconds (see _bucket_rel_seconds) — the intercept shifts with the
    origin but the PREDICTION is origin-invariant."""
    b, t = _bucket_rel_seconds(range_ns, at_ns)
    df = samples.withColumn("__t", t)
    grouped = fp_entries_agg(
        df,
        b.alias("timestamp_ns"),
        F.regr_slope(F.col("value"), F.col("__t")).alias("__m"),
        F.regr_intercept(F.col("value"), F.col("__t")).alias("__c"),
        F.max("__t").alias("__tmax"),
    )
    return grouped.select(
        "fingerprint",
        "labels",
        "timestamp_ns",
        (F.col("__c") + F.col("__m") * (F.col("__tmax") + F.lit(horizon_s))).alias(
            "value"
        ),
    )


def histogram_quantile(buckets: DataFrame, q: float) -> DataFrame:
    """PromQL histogram_quantile over le-bucketed counts.

    Input: matrix with labels containing 'le' (or +Inf) and cumulative
    counts in value. Classic interpolation: find the bucket where the
    rank falls, interpolate linearly inside it. All window expressions.
    """
    from pyspark.sql import Window

    le = (
        F.when(F.col("labels").getItem("le") == "+Inf", F.lit(float("inf")))
        .otherwise(F.col("labels").getItem("le").cast("double"))
    )
    series_key = F.xxhash64(
        canonical_labels_str(
            F.map_filter(F.coalesce(F.col("labels"), F.expr("map()")), lambda k, v: k != "le")
        )
    )
    df = buckets.withColumn("__le", le).withColumn("__grp", series_key)
    w = Window.partitionBy("__grp", "timestamp_ns").orderBy("__le")
    wall = Window.partitionBy("__grp", "timestamp_ns")
    df = (
        df.withColumn("__prev_le", F.lag("__le").over(w))
        .withColumn("__prev_count", F.lag("value").over(w))
        .withColumn("__total", F.max("value").over(wall))
        .withColumn("__rank", F.lit(q) * F.col("__total"))
    )
    inbucket = (F.col("value") >= F.col("__rank")) & (
        F.coalesce(F.col("__prev_count"), F.lit(-1.0)) < F.col("__rank")
    )
    lo = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    lo_count = F.coalesce(F.col("__prev_count"), F.lit(0.0))
    interp = lo + (F.col("__le") - lo) * (
        (F.col("__rank") - lo_count) / F.greatest(F.col("value") - lo_count, F.lit(1e-12))
    )
    # upstream guards (prometheus promql/quantile.go bucketQuantile):
    # q outside [0,1] yields ±Inf per series bucket-set, NaN stays NaN
    if q != q:  # NaN
        value = F.lit(float("nan"))
        inbucket = F.col("__le") == float("inf")  # one row per series/ts
    elif q < 0 or q > 1:
        value = F.lit(float("-inf") if q < 0 else float("inf"))
        inbucket = F.col("__le") == float("inf")
    else:
        value = F.when(F.col("__le") == float("inf"), lo).otherwise(interp)
    out = df.filter(inbucket).withColumn("value", value)
    return out.select(
        F.col("__grp").alias("fingerprint"),
        F.map_filter(F.coalesce(F.col("labels"), F.expr("map()")), lambda k, v: k != "le").alias("labels"),
        "timestamp_ns",
        "value",
    )


def label_replace(matrix: DataFrame, dst: str, replacement: str, src: str, regex: str) -> DataFrame:
    """PromQL label_replace: dst ← replacement with $1…$n substituted
    from regex captures of src (full-anchor match, else unchanged)."""
    from gigapipe_spark.model.re2java import translate as _re2

    src_col = F.coalesce(F.col("labels").getItem(src), F.lit(""))
    # Prometheus compiles ^(?:regex)$ in RE2 ($ = end of text): anchor
    # the translated body with \z so a trailing newline can't match
    anchored = f"^(?:{_re2(regex)})\\z"
    java_repl = re.sub(r"\$(\d)", r"$\1", replacement)
    newval = F.regexp_replace(src_col, anchored, java_repl)
    matched = src_col.rlike(anchored)
    labels = F.coalesce(F.col("labels"), F.expr("map()"))
    updated = F.map_concat(
        F.map_filter(labels, lambda k, v: k != dst),
        F.create_map(F.lit(dst), newval),
    )
    out_labels = F.when(matched & (newval != ""), updated).otherwise(labels)
    df = matrix.withColumn("labels", out_labels)
    return df.withColumn(
        "fingerprint", F.xxhash64(canonical_labels_str(F.col("labels")))
    )


def label_join(matrix: DataFrame, dst: str, sep: str, *srcs: str) -> DataFrame:
    labels = F.coalesce(F.col("labels"), F.expr("map()"))
    joined = F.concat_ws(sep, *[F.coalesce(labels.getItem(s), F.lit("")) for s in srcs])
    df = matrix.withColumn(
        "labels",
        F.map_concat(
            F.map_filter(labels, lambda k, v: k != dst),
            F.create_map(F.lit(dst), joined),
        ),
    )
    return df.withColumn(
        "fingerprint", F.xxhash64(canonical_labels_str(F.col("labels")))
    )


def absent(matrix: DataFrame, spark, start_ns: int, end_ns: int, step_ns: int) -> DataFrame:
    """1 for every step-grid bucket with no data at all (PromQL absent
    over the whole selection)."""
    grid = spark.range(start_ns, end_ns + 1, step_ns).select(
        F.col("id").alias("timestamp_ns")
    )
    present = matrix.select("timestamp_ns").distinct()
    missing = grid.join(present, "timestamp_ns", "left_anti")
    return missing.select(
        F.lit(0).cast("long").alias("fingerprint"),
        F.expr("map()").cast("map<string,string>").alias("labels"),
        "timestamp_ns",
        F.lit(1.0).alias("value"),
    )


def sort_matrix(matrix: DataFrame, descending: bool = False) -> DataFrame:
    order = F.col("value").desc() if descending else F.col("value").asc()
    return matrix.orderBy("timestamp_ns", order)


# ----------------------------------------------------------- UDF fallback

_HW_SCHEMA = "fingerprint long, timestamp_ns long, value double"


def holt_winters(
    matrix: DataFrame, sf: float, tf: float, range_ns: int, at_ns: int | None = None
) -> DataFrame:
    """Double exponential smoothing per (series, bucket).

    Sequential per series, but a 2-state LINEAR recurrence — so it runs
    as ONE JVM aggregate() fold over a sorted collect_list, not Python.
    The previous applyInPandas formulation paid per-group pandas
    overhead on ~hundreds of thousands of (series, bucket) groups of a
    handful of rows each (25.8s → 1.1s at sf0.01). The groupBy is the
    same single shuffle either way; state is bounded per group."""
    arr_agg = (
        matrix.withColumn("__bucket", window_key(range_ns, at_ns))
        .groupBy("fingerprint", "__bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("timestamp_ns", "value"))
            ).alias("__arr")
        )
    )
    arr = F.col("__arr")
    n = F.size(arr)

    def step(acc, x):
        s_new = F.lit(sf) * x["value"] + F.lit(1 - sf) * (acc["s"] + acc["b"])
        b_new = F.lit(tf) * (s_new - acc["s"]) + F.lit(1 - tf) * acc["b"]
        return F.struct(s_new.alias("s"), b_new.alias("b"))

    # try_element_at: n<2 groups would error under ANSI with element_at
    # (aggregate() evaluates its init even for an empty slice)
    first_v = F.try_element_at(arr, F.lit(1))["value"]
    second_v = F.try_element_at(arr, F.lit(2))["value"]
    init = F.struct(first_v.alias("s"), (second_v - first_v).alias("b"))
    smoothed = F.aggregate(
        F.slice(arr, 2, F.greatest(n - 1, F.lit(0))),
        init,
        step,
        lambda acc: acc["s"],
    )
    return arr_agg.select(
        "fingerprint",
        F.col("__bucket").alias("timestamp_ns"),
        F.when(n < 2, F.lit(float("nan"))).otherwise(smoothed).alias("value"),
    )
