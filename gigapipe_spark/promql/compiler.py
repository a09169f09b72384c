"""PromQL → DataFrame compiler.

Implements the reference's pushdown planner semantics natively
(ref: reader/promql/promql_transpiler/planner/):

  counter fns   → per-series window functions with the reference's
                  reset formula: reset amount = prev when prev > cur,
                  increase = (last - first) + Σ resets
                  (ref: planner/counter.go:74-96 — NOT upstream
                  Prometheus extrapolated rate; SURVEY §7.4 risk 2)
  *_over_time   → tumbling-bucket aggregation (ref: over_time.go)
  vector aggs   → label regroup, canonical fingerprint (ref: sum.go)
  instant sel   → last sample per step bucket (ref: downsample_values.go
                  argMaxMerge(last) per step)
  gap fill      → step-grid sequence + forward fill (ref: fill_gaps.go)

All time arithmetic is pure int64 ns. Counter windows shuffle once per
fingerprint — the minimum any per-series computation requires; at scale
AQE handles skewed series.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gigapipe_spark.logql.compiler import (
    LogQLContext,
    _group_labels_col,
    _labels_keyed_agg,
    select_per_step,
)
from gigapipe_spark.model.fingerprint import canonical_labels_str
from gigapipe_spark.promql.functions import fp_entries_agg, window_key
from gigapipe_spark.promql import parser as P
from gigapipe_spark.promql.parser import (
    AggExpr,
    FnCall,
    PromBinOp,
    PromExpr,
    PromScalar,
    VectorSelector,
)
from gigapipe_spark.sources import views


ROLLUP_NS = 15_000_000_000
_LOOKBACK_NS = 5 * 60 * 1_000_000_000  # instant-vector staleness window


@dataclass
class PromQLContext:
    spark: SparkSession
    sf_dir: str
    step_ns: int = 60_000_000_000  # evaluation step grid
    use_rollup: bool = True  # allow the downsample shortcut
    # requested window (query_range params); query() widens by the max
    # range+offset+staleness lookback and every selector scan applies the
    # result as a raw timestamp_ns bound BELOW all aggs/windows (ref:
    # prom_queryable.go:196-202 rate-hint widening). On a stored metrics
    # table this predicate reaches the parquet scan; on the derived
    # fixture it stops above the counter cumsum, which needs history.
    start_ns: int | None = None
    end_ns: int | None = None
    # instant evaluation time (/api/v1/query): query() pins every
    # selector without its own @ to it, so the tree evaluates at that one
    # point — one window (t - range, t] per range selector, the newest
    # sample in (t - 5m, t] per instant selector, every row stamped t
    # (ref: the stock engine's instant evaluation, instant_vector.go)
    at_ns: int | None = None
    _scan_bounds: tuple = (None, None)
    _metrics: DataFrame | None = None
    _rollup: DataFrame | None = None
    _logctx: LogQLContext | None = None

    def set_scan_bounds(self, lookback_ns: int) -> None:
        if self.at_ns is not None:
            # instant: only subquery inners scan unpinned; no sample
            # after t is ever read
            self._scan_bounds = (self.at_ns - lookback_ns, self.at_ns + 1)
            return
        lo = None if self.start_ns is None else self.start_ns - lookback_ns
        self._scan_bounds = (lo, self.end_ns)

    def bound_scan(self, df: DataFrame) -> DataFrame:
        """Apply the widened raw time window to a per-series scan."""
        lo, hi = self._scan_bounds
        if lo is not None:
            df = df.filter(F.col("timestamp_ns") >= lo)
        if hi is not None:
            df = df.filter(F.col("timestamp_ns") < hi)
        return df

    def metrics(self) -> DataFrame:
        if self._metrics is None:
            self._metrics = views.metric_samples(self.spark, self.sf_dir)
        return self._metrics

    def series(self) -> DataFrame:
        """Series dimension (fingerprint → labels); store-backed
        contexts override this to read the written time_series table."""
        return views.time_series(self.spark, self.sf_dir)

    def rollup(self) -> DataFrame:
        """The metrics_15s table (ref: log.sql:83-107). Session-cached
        derived table (views.rollup_15s) standing in for the stored
        rollup parquet a deployment reads."""
        if self._rollup is None:
            self._rollup = views.rollup_15s(self.spark, self.sf_dir)
        return self._rollup

    def logctx(self) -> LogQLContext:
        if self._logctx is None:
            self._logctx = LogQLContext(self.spark, self.sf_dir)
        return self._logctx


def _bucket(ts: Column, width_ns: int, offset_ns: int = 0) -> Column:
    t = ts - F.lit(offset_ns)
    return t - F.pmod(t, F.lit(width_ns))


def _selector_samples(
    ctx: PromQLContext, sel: VectorSelector, with_labels: bool = True
) -> DataFrame:
    """Matcher-filtered raw metric samples with labels attached
    (`with_labels=False` skips the label join for callers that
    aggregate per fingerprint first and re-attach labels after — the
    hash-aggregate-friendly shape, see _instant_matrix).

    Fingerprint resolution reuses the LogQL GIN bitmask semi-join
    (ref: promql planner/stream_select.go — same pattern as LogQL).
    """
    from gigapipe_spark.logql import ast as LA
    from gigapipe_spark.logql.compiler import fingerprints

    matchers = list(sel.matchers)
    if sel.name:
        matchers.append(LA.Matcher(label="__name__", op="=", value=sel.name))
    lctx = ctx.logctx()
    df = ctx.metrics()
    if sel.at_ns is None:
        df = ctx.bound_scan(df)
    else:
        # pinned: the selector's one window (at - width, at] in shifted
        # time, applied as raw timestamp bounds the parquet scan takes
        hi = sel.at_ns - sel.offset_ns
        lo = hi - (sel.range_ns or _LOOKBACK_NS)
        df = df.filter(
            (F.col("timestamp_ns") > lo) & (F.col("timestamp_ns") <= hi)
        )
    if matchers:
        fps = fingerprints(lctx, LA.Selector(matchers=matchers))
        df = df.join(F.broadcast(fps), "fingerprint", "inner")
    if with_labels:
        series = ctx.series().select("fingerprint", "labels")
        df = df.join(F.broadcast(series), "fingerprint", "left")
    if sel.offset_ns:
        df = df.withColumn("timestamp_ns", F.col("timestamp_ns") + F.lit(sel.offset_ns))
    return df


def _stamp(ctx: PromQLContext, sel: VectorSelector) -> int | None:
    """A pinned selector's output time: the instant query's t when there
    is one — an explicit `@ T` moves only the window it reads, its rows
    are still stamped t (upstream: every instant-query sample carries
    the evaluation time) — else the selector's own @ (None: unpinned)."""
    return sel.at_ns if ctx.at_ns is None else ctx.at_ns


def _instant_matrix(
    ctx: PromQLContext, sel: VectorSelector, sample_time: bool = False
) -> DataFrame:
    """Instant vector: last raw sample per step bucket per series
    (ref: downsample_values.go argMaxMerge(last) per step). With an
    @-modifier: one point per series — the last sample within the
    staleness lookback before the pinned time. `sample_time` answers
    that sample's own time in seconds instead of its value (upstream's
    timestamp() over a plain selector; offset undone).

    Labels re-attach AFTER the aggregate via the broadcast series dim
    (fingerprint IS the label hash, so the dim's labels are exactly
    the rows' labels): carrying the map through the groupBy as
    first(labels) put a MapType in the aggregation buffer, which
    disqualifies hash aggregation — Spark planned SortAggregate with a
    per-partition sort of every raw sample (visible in the r14 plan
    audit of promql_instant_sum_by). A long+double buffer hash-aggs."""
    df = _selector_samples(ctx, sel, with_labels=False)
    series = F.broadcast(ctx.series().select("fingerprint", "labels"))
    last = (
        (F.max("timestamp_ns") - F.lit(sel.offset_ns)) / F.lit(1e9)
        if sample_time
        else F.max_by("value", "timestamp_ns")
    ).alias("value")
    if sel.at_ns is not None:
        return (
            df.groupBy("fingerprint")
            .agg(last)
            .join(series, "fingerprint", "left")
            .select(
                "fingerprint", "labels",
                F.lit(_stamp(ctx, sel)).alias("timestamp_ns"), "value",
            )
        )
    return (
        df.groupBy("fingerprint", _bucket(F.col("timestamp_ns"), ctx.step_ns).alias("timestamp_ns"))
        .agg(last)
        .join(series, "fingerprint", "left")
        .select("fingerprint", "labels", "timestamp_ns", "value")
    )


_SIMPLE_RANGE = {
    "sum_over_time": lambda: F.sum("value"),
    "count_over_time": lambda: F.count(F.lit(1)).cast("double"),
    "avg_over_time": lambda: F.avg("value"),
    "min_over_time": lambda: F.min("value"),
    "max_over_time": lambda: F.max("value"),
    "last_over_time": lambda: F.max_by("value", "timestamp_ns"),
    "first_over_time": lambda: F.min_by("value", "timestamp_ns"),
    "present_over_time": lambda: F.lit(1.0),
    "stddev_over_time": lambda: F.stddev_pop("value"),
    "stdvar_over_time": lambda: F.var_pop("value"),
}

# counter fns share one window computation; each picks its aggregate
# (ref: counter.go:62-96 rate/increase/delta, :173 resets/changes)
_COUNTER_FNS = {"rate", "increase", "delta", "resets", "changes", "irate", "idelta"}

# vector-agg fn → over_time fns it commutes with (mirror of the LogQL
# canSwapByWithout set; PromQL counter fns are deliberately absent)
_COMMUTABLE_PROM = {
    "sum": {"sum_over_time", "count_over_time"},
    "max": {"max_over_time"},
    "min": {"min_over_time"},
}


_SUBQUERY_FNS = (
    set(_SIMPLE_RANGE)
    | _COUNTER_FNS
    | {
        "quantile_over_time", "mad_over_time",
        "ts_of_min_over_time", "ts_of_max_over_time", "ts_of_last_over_time",
        "deriv", "predict_linear", "holt_winters",
        "double_exponential_smoothing",
    }
)


def _range_fn_subquery(ctx: PromQLContext, fn: FnCall, sq) -> DataFrame:
    """Range fn over a subquery: evaluate the inner expression on the
    subquery's step grid, then apply the same per-bucket aggregate the
    raw path uses over those step-grid points — upstream (and hence the
    reference) accepts ANY range function over a subquery, so the full
    dispatcher surface routes here (simple/counter/quantile plus
    mad/ts_of_*/deriv/predict_linear/holt_winters). The inner
    evaluation runs at sq.step_ns.

    At an instant t (ctx.at_ns) the inner runs unpinned on its own grid
    inside (t - range, t] — its window, with no sample after t — and the
    range fn is the one window over those points, stamped t."""
    if fn.fn not in _SUBQUERY_FNS:
        raise NotImplementedError(f"{fn.fn} over a subquery")
    import dataclasses

    at = ctx.at_ns
    inner_ctx = dataclasses.replace(ctx, step_ns=sq.step_ns, _metrics=None, _rollup=None, _logctx=None)
    if at is not None:
        # the window as the inner's request window: an unaligned end
        # also keeps the inner off 15s rollup cells that reach past t
        inner_ctx = dataclasses.replace(
            inner_ctx, at_ns=None, start_ns=at - sq.range_ns, end_ns=at + 1
        )
    inner = compile_expr(inner_ctx, sq.inner)
    if at is not None:
        ts = F.col("timestamp_ns")
        inner = inner.filter((ts > at - sq.range_ns) & (ts <= at))
    wb = window_key(sq.range_ns, at)
    bucket = wb.alias("timestamp_ns")
    if fn.fn in _COUNTER_FNS:
        # counter math over the inner expression's step-grid points —
        # same window/reset formula as the raw path
        return _counter_agg(inner, wb, sq.range_ns, fn.fn)
    if fn.fn == "deriv":
        from gigapipe_spark.promql import functions as _pf

        return _pf.deriv(inner, sq.range_ns, at)
    if fn.fn == "predict_linear":
        from gigapipe_spark.promql import functions as _pf

        return _pf.predict_linear(inner, sq.range_ns, fn.param or 0.0, at)
    if fn.fn in ("holt_winters", "double_exponential_smoothing"):
        from gigapipe_spark.promql import functions as _pf

        out = _pf.holt_winters(inner, fn.param, fn.param2, sq.range_ns, at)
        # holt_winters drops labels; the inner's labels may be DERIVED
        # (e.g. sum by(...)), so rehydrate from the inner matrix itself,
        # not from ctx.series()
        lab = inner.select("fingerprint", "labels").dropDuplicates(
            ["fingerprint"]
        )
        return out.join(F.broadcast(lab), "fingerprint", "left").select(
            "fingerprint", "labels", "timestamp_ns", "value"
        )
    if fn.fn in (
        "ts_of_min_over_time", "ts_of_max_over_time", "ts_of_last_over_time"
    ):
        # same tie-break contract as the raw path (:413): latest wins
        if fn.fn == "ts_of_last_over_time":
            agg = F.max("timestamp_ns")
        else:
            v = (
                F.col("value")
                if fn.fn == "ts_of_max_over_time"
                else -F.col("value")
            )
            agg = F.max(
                F.struct(v.alias("v"), F.col("timestamp_ns").alias("t"))
            ).getField("t")
        # the inner's (possibly derived) labels ride the group key
        return fp_entries_agg(
            inner, bucket, (agg / F.lit(1e9)).cast("double").alias("value")
        ).select("fingerprint", "labels", "timestamp_ns", "value")
    if fn.fn == "mad_over_time":
        # window median + regroup share the (fingerprint, bucket)
        # partitioning — one exchange, like the raw path (:437)
        w = Window.partitionBy("fingerprint", wb)
        med = F.percentile("value", F.lit(0.5)).over(w)
        return fp_entries_agg(
            inner.withColumn("__med", med),
            bucket,
            F.percentile(
                F.abs(F.col("value") - F.col("__med")), F.lit(0.5)
            ).alias("value"),
        ).select("fingerprint", "labels", "timestamp_ns", "value")
    if fn.fn == "quantile_over_time":
        agg = F.percentile("value", F.lit(fn.param))
    else:
        agg = _SIMPLE_RANGE[fn.fn]()
    return fp_entries_agg(inner, bucket, agg.alias("value")).select(
        "fingerprint", "labels", "timestamp_ns", "value"
    )


# over_time fns whose partials the rollup can serve (ref: promql
# optimizer/vector_range.go:21-39 pushdown set + over_time.go reading the
# 15s partial aggs)
_ROLLUP_AGGS = {
    "sum_over_time": lambda: F.sum("sum"),
    "count_over_time": lambda: F.sum("count").cast("double"),
    "min_over_time": lambda: F.min("min"),
    "max_over_time": lambda: F.max("max"),
    "last_over_time": lambda: F.max_by("last", "timestamp_ns"),
    "avg_over_time": lambda: F.sum("sum") / F.sum("count"),
    "present_over_time": lambda: F.lit(1.0),
}


def _rollup_eligible(ctx: PromQLContext, fn: FnCall, sel: VectorSelector) -> bool:
    """Downsample-shortcut decision (ref: prom_queryable.go:155-159):
    use the 15s rollup when the function has a re-aggregable partial and
    the range/offset align to the 15s grid."""
    return (
        ctx.use_rollup
        and fn.fn in _ROLLUP_AGGS
        and sel.range_ns is not None
        and sel.range_ns % ROLLUP_NS == 0
        and sel.offset_ns % ROLLUP_NS == 0
        and sel.at_ns is None  # pinned windows don't align to the grid
        and _bounds_cell_aligned(ctx)
    )


def _bounds_cell_aligned(ctx: PromQLContext) -> bool:
    """A 15s cell straddling a non-aligned start/end would contribute
    partials computed from samples outside the window (the raw path cuts
    those samples); only serve from the rollup when the request bounds
    sit on the cell grid."""
    return (ctx.start_ns is None or ctx.start_ns % ROLLUP_NS == 0) and (
        ctx.end_ns is None or ctx.end_ns % ROLLUP_NS == 0
    )


def _range_fn_rollup(ctx: PromQLContext, fn: FnCall, sel: VectorSelector) -> DataFrame:
    """over_time agg served from metrics_15s partials — reads ~1/15th
    the rows of the raw path and re-aggregates states exactly
    (ref: over_time.go:73 + bucket_producer.go:19)."""
    from gigapipe_spark.logql import ast as LA
    from gigapipe_spark.logql.compiler import fingerprints

    matchers = list(sel.matchers)
    if sel.name:
        matchers.append(LA.Matcher(label="__name__", op="=", value=sel.name))
    df = ctx.bound_scan(ctx.rollup())
    if matchers:
        fps = fingerprints(ctx.logctx(), LA.Selector(matchers=matchers))
        df = df.join(F.broadcast(fps), "fingerprint", "inner")
    if sel.offset_ns:
        df = df.withColumn("timestamp_ns", F.col("timestamp_ns") + F.lit(sel.offset_ns))
    bucket = _bucket(F.col("timestamp_ns"), sel.range_ns).alias("timestamp_ns")
    return _per_series_agg(ctx, df, bucket, _ROLLUP_AGGS[fn.fn]())


def _range_fn(
    ctx: PromQLContext, fn: FnCall, group: tuple | None = None
) -> DataFrame:
    sel = fn.args[0]
    if isinstance(sel, P.Subquery):
        return _range_fn_subquery(ctx, fn, sel)
    if not isinstance(sel, VectorSelector) or sel.range_ns is None:
        raise ValueError(f"{fn.fn} expects a range vector selector")
    rng = sel.range_ns
    at = _stamp(ctx, sel)
    if fn.fn in ("deriv", "predict_linear", "holt_winters",
                 "double_exponential_smoothing"):
        from gigapipe_spark.promql import functions as _pf

        df = _selector_samples(ctx, sel)
        if fn.fn == "deriv":
            return _pf.deriv(df, rng, at)
        if fn.fn == "predict_linear":
            return _pf.predict_linear(df, rng, fn.param or 0.0, at)
        out = _pf.holt_winters(df, fn.param, fn.param2, rng, at)
        series = ctx.series().select(
            "fingerprint", "labels"
        )
        return out.join(F.broadcast(series), "fingerprint", "left").select(
            "fingerprint", "labels", "timestamp_ns", "value"
        )
    if fn.fn == "absent_over_time":
        # 1 for every range bucket (over the store's time extent) where
        # the selector matched nothing — same grid derivation as
        # absent(), bucketed by the range instead of the step
        df = _selector_samples(ctx, sel)
        if at is not None:
            # pinned: the one window, stamped at
            grid = ctx.spark.range(1).select(F.lit(at).alias("timestamp_ns"))
        elif ctx.start_ns is not None and ctx.end_ns is not None:
            # explicit window: pure-arithmetic grid, no extent scan
            lo = ctx.start_ns - ctx.start_ns % rng
            grid = ctx.spark.range(1).select(
                F.explode(
                    F.sequence(F.lit(lo), F.lit(ctx.end_ns - 1), F.lit(rng))
                ).alias("timestamp_ns")
            )
        else:
            grid = (
                ctx.metrics()
                .agg(F.min("timestamp_ns").alias("lo"), F.max("timestamp_ns").alias("hi"))
                .select(
                    F.explode(
                        F.sequence(
                            F.col("lo") - F.pmod(F.col("lo"), F.lit(rng)),
                            F.col("hi"),
                            F.lit(rng),
                        )
                    ).alias("timestamp_ns")
                )
            )
        present = df.select(window_key(rng, at).alias("timestamp_ns")).distinct()
        return grid.join(present, "timestamp_ns", "left_anti").select(
            F.lit(0).cast("long").alias("fingerprint"),
            F.expr("map()").cast("map<string,string>").alias("labels"),
            "timestamp_ns",
            F.lit(1.0).alias("value"),
        )
    if _rollup_eligible(ctx, fn, sel):
        out = _range_fn_rollup(ctx, fn, sel)
        if group is not None:
            # rollup partials are per-series; commuting over them would
            # re-aggregate states — correct for the commutable set, but
            # the per-series matrix is already 15×-reduced: regroup it
            from gigapipe_spark.logql.compiler import _group_labels_col

            new_labels = _group_labels_col(group[0], group[1])
            agg = {"sum": F.sum, "max": F.max, "min": F.min}[group[2]](F.col("value"))
            return _labels_keyed_agg(
                out, new_labels, F.col("timestamp_ns"), agg
            )
        return out
    if group is None and _counter_rollup_eligible(ctx, fn, sel):
        return _counter_fn_rollup(ctx, fn, sel)
    if fn.fn in _COUNTER_FNS:
        # window: per-series consecutive-pair deltas WITHIN each bucket
        # (@-pinned ranges are one window per series), over label-free
        # samples; labels re-attach from the series dim afterwards
        return _counter_agg(
            _selector_samples(ctx, sel, with_labels=False),
            window_key(rng, at), rng, fn.fn,
            series=ctx.series().select("fingerprint", "labels"),
        )
    df = _selector_samples(ctx, sel)
    if group is not None:
        # agg/range commute (ref: optimizer/vector_agg.go — the vector
        # agg pushes into the pushed-down range plan): relabel RAW
        # samples to the outer grouping so ONE (group, bucket) shuffle
        # replaces per-series agg + regroup. Only the commutable
        # fn pairs reach here (sum↔sum/count, max↔max, min↔min).
        from gigapipe_spark.logql.compiler import _group_labels_col

        new_labels = _group_labels_col(group[0], group[1])
        df = df.withColumn("labels", new_labels).withColumn(
            "fingerprint", F.xxhash64(canonical_labels_str(F.col("labels")))
        )
    bucket = window_key(rng, at).alias("timestamp_ns")
    if fn.fn in _SIMPLE_RANGE or fn.fn == "quantile_over_time":
        agg = (
            F.percentile("value", F.lit(fn.param))
            if fn.fn == "quantile_over_time"
            else _SIMPLE_RANGE[fn.fn]()
        )
        if group is None:
            return _per_series_agg(ctx, df, bucket, agg)
        # commuted grouping: labels were just regrouped (not in the dim)
        # — they ride the group key as sorted entries instead
        return fp_entries_agg(df, bucket, agg.alias("value")).select(
            "fingerprint", "labels", "timestamp_ns", "value"
        )
    if fn.fn in (
        "ts_of_min_over_time", "ts_of_max_over_time", "ts_of_last_over_time"
    ):
        # upstream experimental ts_of_* (functions.go funcTsOf*OverTime):
        # the sample TIMESTAMP (unix seconds) of the window's extreme;
        # upstream scans with >= / <= so the LATEST tied sample wins —
        # mirrored here by max(struct(±value, ts)).ts. One shuffle, all
        # JVM (struct min/max is a codegen'd agg).
        if fn.fn == "ts_of_last_over_time":
            agg = F.max("timestamp_ns")
        else:
            v = (
                F.col("value")
                if fn.fn == "ts_of_max_over_time"
                else -F.col("value")
            )
            agg = F.max(
                F.struct(v.alias("v"), F.col("timestamp_ns").alias("t"))
            ).getField("t")
        return _per_series_agg(
            ctx, df, bucket, (agg / F.lit(1e9)).cast("double")
        )
    if fn.fn == "mad_over_time":
        # median(|v - median(v)|) per window (upstream experimental
        # functions.go funcMadOverTime: quantile 0.5 with linear
        # interpolation, twice). One shuffle: the window median and the
        # groupBy share the (fingerprint, bucket) partitioning, so the
        # second aggregation adds no exchange.
        w = Window.partitionBy("fingerprint", window_key(rng, at))
        med = F.percentile("value", F.lit(0.5)).over(w)
        return _per_series_agg(
            ctx,
            df.withColumn("__med", med),
            bucket,
            F.percentile(F.abs(F.col("value") - F.col("__med")), F.lit(0.5)),
        )
    raise NotImplementedError(f"range fn {fn.fn}")


def _per_series_agg(
    ctx: PromQLContext, df: DataFrame, bucket: Column, agg: Column
) -> DataFrame:
    """Per-SERIES range aggregate: aggregate label-free and re-attach
    labels from the broadcast series dim on the bucket-reduced output
    (the r14 instant-vector shape) — the aggregation buffer stays
    numeric (hash agg / object-hash for percentile; a labels map there
    plans a SortAggregate that sorts every windowed sample) and the
    exchange ships (fp, bucket, partial) only. The dim IS where df's
    labels came from, so the join reproduces first(labels) exactly."""
    out = df.groupBy("fingerprint", bucket).agg(agg.alias("value"))
    series = ctx.series().select("fingerprint", "labels")
    out = out.join(F.broadcast(series), "fingerprint", "left")
    return out.select("fingerprint", "labels", "timestamp_ns", "value")


_ROLLUP_COUNTERS = {"rate", "increase", "delta", "resets", "changes",
                    "irate", "idelta"}


def _counter_rollup_eligible(ctx: PromQLContext, fn: FnCall, sel) -> bool:
    return (
        ctx.use_rollup
        and fn.fn in _ROLLUP_COUNTERS
        and isinstance(sel, VectorSelector)
        and sel.range_ns is not None
        and sel.range_ns % ROLLUP_NS == 0
        and sel.offset_ns % ROLLUP_NS == 0
        and sel.at_ns is None
        and _bounds_cell_aligned(ctx)
    )


def _counter_fn_rollup(ctx: PromQLContext, fn: FnCall, sel: VectorSelector) -> DataFrame:
    """Counter functions served from metrics_15s partials — exact, not
    approximate: a range bucket's consecutive-sample pairs are the
    intra-cell pairs (the rollup's reset_amt/resets/changes partials)
    plus the cell-boundary pairs, recovered with ONE lag over the 15×
    reduced cell rows. first/last per bucket come from the cells' own
    first/last. Reads ~1/15th the rows of the raw path (ref shape:
    prom_queryable.go downsample routing; partials beyond the reference's
    set, same MV pattern)."""
    from gigapipe_spark.logql import ast as LA
    from gigapipe_spark.logql.compiler import fingerprints

    matchers = list(sel.matchers)
    if sel.name:
        matchers.append(LA.Matcher(label="__name__", op="=", value=sel.name))
    cells = ctx.bound_scan(ctx.rollup())
    if matchers:
        fps = fingerprints(ctx.logctx(), LA.Selector(matchers=matchers))
        cells = cells.join(F.broadcast(fps), "fingerprint", "inner")
    if sel.offset_ns:
        cells = cells.withColumn(
            "timestamp_ns", F.col("timestamp_ns") + F.lit(sel.offset_ns)
        )
    rng = sel.range_ns
    # ONE materialized bucket column shared by the window partitioning
    # and the grouping (guide §2.4): two separately-built copies of the
    # same bucket expression plan as different attributes, so the
    # aggregate's required distribution is not recognized as satisfied
    # by the window's exchange and Spark inserts a second full shuffle
    # (measured in the r15 before-plan: Exchange (44) re-partitioning
    # on (fingerprint, _groupingexpression) right after a Window that
    # already hash-partitioned on (fingerprint, _w0) — same value).
    cells = cells.withColumn("__wb", _bucket(F.col("timestamp_ns"), rng))
    bucket = F.col("__wb").alias("timestamp_ns")
    w = Window.partitionBy("fingerprint", "__wb").orderBy("timestamp_ns")
    prev_last = F.lag("last").over(w)
    boundary_reset_amt = F.when(
        prev_last > F.col("first"), prev_last
    ).otherwise(F.lit(0.0))
    boundary_reset = F.when(prev_last > F.col("first"), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    boundary_change = F.when(
        prev_last.isNotNull() & (prev_last != F.col("first")), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    # most-recent valid pair per bucket (irate/idelta): the last cell's
    # intra pair when it has ≥2 samples, else the boundary pair into it
    prev_last_ts = F.lag("last_ts").over(w)
    cand_delta = F.when(F.col("count") >= 2, F.col("last_delta")).otherwise(
        F.col("last") - prev_last
    )
    cand_dt = F.when(F.col("count") >= 2, F.col("last_dt")).otherwise(
        F.col("last_ts") - prev_last_ts
    )
    pair_ts = F.when(
        (F.col("count") >= 2) | prev_last.isNotNull(), F.col("timestamp_ns")
    )
    df2 = (
        cells.withColumn("__b_reset_amt", boundary_reset_amt)
        .withColumn("__b_reset", boundary_reset)
        .withColumn("__b_change", boundary_change)
        .withColumn("__cand_delta", cand_delta)
        .withColumn("__cand_dt", cand_dt)
        .withColumn("__pair_ts", pair_ts)
    )
    grouped = df2.groupBy("fingerprint", bucket).agg(
        F.min_by("first", "timestamp_ns").alias("__first"),
        F.max_by("last", "timestamp_ns").alias("__last"),
        (F.sum("reset_amt") + F.sum("__b_reset_amt")).alias("__resets_amt"),
        (F.sum("resets") + F.sum("__b_reset")).alias("__resets"),
        (F.sum("changes") + F.sum("__b_change")).alias("__changes"),
        F.max_by("__cand_delta", "__pair_ts").alias("__last_delta"),
        F.max_by("__cand_dt", "__pair_ts").alias("__last_dt"),
    )
    # labels re-attach AFTER the bucket reduction (the r14 A2/A9
    # instant-vector shape): the dim IS where the cells' labels came
    # from, so the post-agg broadcast left join reproduces
    # first(labels) exactly while the window/shuffle path stays
    # numeric-only and the join touches 15×-reduced rows.
    series = ctx.series().select("fingerprint", "labels")
    grouped = grouped.join(F.broadcast(series), "fingerprint", "left")
    increase = F.col("__last") - F.col("__first") + F.col("__resets_amt")
    value = {
        "increase": increase,
        "rate": increase / F.lit(rng / 1e9),
        "delta": F.col("__last") - F.col("__first"),
        "resets": F.col("__resets"),
        "changes": F.col("__changes"),
        "idelta": F.col("__last_delta"),
        "irate": F.when(
            F.col("__last_dt") > 0,
            F.col("__last_delta") / (F.col("__last_dt") / F.lit(1e9)),
        ),
    }[fn.fn]
    return grouped.select(
        "fingerprint", "labels", "timestamp_ns", value.alias("value")
    )


def _counter_agg(
    df: DataFrame,
    window_bucket: Column,
    rng: int,
    fn_name: str,
    series: DataFrame | None = None,
) -> DataFrame:
    """Shared counter computation (ref counter.go:62-96, :173): lag
    window per (series, bucket), reset detection, one aggregation.
    Used by both the raw range path and subquery evaluation.

    The bucket is materialized ONCE (`__wb`) and shared by the window
    partitioning and the grouping (guide §2.4): building the same
    bucket expression twice plans as two different attributes, so the
    post-window aggregate fails to recognize the window's exchange as
    satisfying its required distribution and pays a second full
    shuffle of every sample row.

    Labels stay out of the aggregation buffer, where a map forces a
    SortAggregate that sorts every windowed sample: the raw path passes
    label-free samples and the `series` dim, joined after the bucket
    reduction (as _counter_fn_rollup does); subquery points carry their
    own, possibly derived, labels, which ride the group key as sorted
    entries (fp_entries_agg). The window's (fingerprint, __wb)
    partitioning satisfies either grouping: no extra exchange."""
    df2 = df.withColumn("__wb", window_bucket)
    w = Window.partitionBy("fingerprint", "__wb").orderBy("timestamp_ns")
    prev = F.lag("value").over(w)
    prev_ts = F.lag("timestamp_ns").over(w)
    df2 = df2.withColumn("__prev", prev).withColumn("__prev_ts", prev_ts)
    reset_amt = F.when(F.col("__prev") > F.col("value"), F.col("__prev")).otherwise(F.lit(0.0))
    changed = F.when(
        F.col("__prev").isNotNull() & (F.col("__prev") != F.col("value")), 1
    ).otherwise(0)
    reset_cnt = F.when(
        F.col("__prev").isNotNull() & (F.col("__prev") > F.col("value")), 1
    ).otherwise(0)
    aggs = (
        F.min_by("value", "timestamp_ns").alias("__first"),
        F.max_by("value", "timestamp_ns").alias("__last"),
        F.sum(reset_amt).alias("__resets_amt"),
        F.sum(changed).alias("__changes"),
        F.sum(reset_cnt).alias("__resets"),
        # last pair in bucket for irate/idelta
        F.max_by(F.col("value") - F.col("__prev"), F.when(F.col("__prev").isNotNull(), F.col("timestamp_ns"))).alias("__last_delta"),
        F.max_by(F.col("timestamp_ns") - F.col("__prev_ts"), F.when(F.col("__prev").isNotNull(), F.col("timestamp_ns"))).alias("__last_dt"),
    )
    bucket = F.col("__wb").alias("timestamp_ns")
    if series is None:
        grouped = fp_entries_agg(df2, bucket, *aggs)
    else:
        grouped = (
            df2.groupBy("fingerprint", bucket)
            .agg(*aggs)
            .join(F.broadcast(series), "fingerprint", "left")
        )
    # ref counter.go:74-82: increase = end - start + Σ reset amounts
    increase = F.col("__last") - F.col("__first") + F.col("__resets_amt")
    value = {
        "increase": increase,
        "rate": increase / F.lit(rng / 1e9),
        "delta": F.col("__last") - F.col("__first"),
        "resets": F.col("__resets").cast("double"),
        "changes": F.col("__changes").cast("double"),
        "idelta": F.col("__last_delta"),
        "irate": F.when(
            F.col("__last_dt") > 0,
            F.col("__last_delta") / (F.col("__last_dt") / F.lit(1e9)),
        ),
    }[fn_name]
    return grouped.select(
        "fingerprint", "labels", "timestamp_ns", value.alias("value")
    )


_SCALAR_FNS = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sqrt": F.sqrt,
    "sgn": F.signum,
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
    "deg": F.degrees,
    "rad": F.radians,
}

# Prometheus time functions interpret the sample VALUE as unix seconds
# (timestamp() is the exception: it returns the sample's own timestamp).
# Session tz is UTC, so timestamp_seconds() extractions match upstream.
_TIME_FNS = {
    "hour": lambda t: F.hour(t),
    "minute": lambda t: F.minute(t),
    "month": lambda t: F.month(t),
    "year": lambda t: F.year(t),
    "day_of_month": lambda t: F.dayofmonth(t),
    "day_of_week": lambda t: F.dayofweek(t) - 1,  # upstream: 0 = Sunday
    "day_of_year": lambda t: F.dayofyear(t),
    "days_in_month": lambda t: F.dayofmonth(F.last_day(t)),
}

_AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count": lambda c: F.count(c).cast("double"),
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    "group": lambda c: F.lit(1.0),
}


def compile_expr(ctx: PromQLContext, e: PromExpr) -> DataFrame:
    """Returns a matrix DF: (fingerprint, labels, timestamp_ns, value)."""
    if isinstance(e, VectorSelector):
        if e.range_ns is not None:
            raise ValueError("bare range selector is not an instant expression")
        return _instant_matrix(ctx, e)
    if isinstance(e, FnCall):
        if e.fn in P.RANGE_FNS:
            return _range_fn(ctx, e)
        if e.fn in _SCALAR_FNS:
            inner = compile_expr(ctx, e.args[0])
            return inner.withColumn(
                "value", _SCALAR_FNS[e.fn](F.col("value")).cast("double")
            )
        if e.fn == "round":
            inner = compile_expr(ctx, e.args[0])
            nearest = e.param or 1.0
            return inner.withColumn(
                "value", F.round(F.col("value") / F.lit(nearest)) * F.lit(nearest)
            )
        if e.fn in ("clamp_min", "clamp_max"):
            inner = compile_expr(ctx, e.args[0])
            bound = F.lit(e.param)
            v = F.col("value")
            newv = F.greatest(v, bound) if e.fn == "clamp_min" else F.least(v, bound)
            return inner.withColumn("value", newv)
        if e.fn == "clamp":
            inner = compile_expr(ctx, e.args[0])
            return inner.withColumn(
                "value",
                F.least(F.greatest(F.col("value"), F.lit(e.param)), F.lit(e.param2)),
            )
        if e.fn == "timestamp":
            arg = e.args[0]
            if isinstance(arg, VectorSelector) and arg.range_ns is None:
                return _instant_matrix(ctx, arg, sample_time=True)
            inner = compile_expr(ctx, arg)
            return inner.withColumn(
                "value", (F.col("timestamp_ns") / F.lit(1e9)).cast("double")
            )
        if e.fn in _TIME_FNS:
            inner = compile_expr(ctx, e.args[0])
            ts = F.timestamp_seconds(F.col("value"))
            return inner.withColumn(
                "value", _TIME_FNS[e.fn](ts).cast("double")
            )
        if e.fn in ("sort", "sort_desc"):
            from gigapipe_spark.promql.functions import sort_matrix

            return sort_matrix(
                compile_expr(ctx, e.args[0]), descending=e.fn == "sort_desc"
            )
        if e.fn in ("sort_by_label", "sort_by_label_desc"):
            # upstream experimental sort_by_label(v, "l1", "l2", …):
            # order elements by the given label VALUES (missing label
            # sorts as ""), full canonical label string as the final
            # tiebreak (upstream uses labels.Compare). Presentation
            # order only — values untouched.
            inner = compile_expr(ctx, e.args[0])
            desc = e.fn.endswith("_desc")
            keys = [
                F.coalesce(F.col("labels").getItem(l), F.lit(""))
                for l in e.str_args
            ]
            keys.append(
                canonical_labels_str(
                    F.coalesce(F.col("labels"), F.expr("map()"))
                )
            )
            order = [k.desc() if desc else k.asc() for k in keys]
            return inner.orderBy(F.col("timestamp_ns").asc(), *order)
        if e.fn == "histogram_quantile":
            from gigapipe_spark.promql.functions import histogram_quantile

            return histogram_quantile(compile_expr(ctx, e.args[0]), q=e.param)
        if e.fn == "label_replace":
            from gigapipe_spark.promql.functions import label_replace

            dst, repl, src, regex = e.str_args
            return label_replace(compile_expr(ctx, e.args[0]), dst, repl, src, regex)
        if e.fn == "label_join":
            from gigapipe_spark.promql.functions import label_join

            return label_join(
                compile_expr(ctx, e.args[0]), e.str_args[0], e.str_args[1], *e.str_args[2:]
            )
        if e.fn == "absent":
            # 1 for every step-grid bucket where the inner vector has no
            # sample. The grid derives lazily from the store's time
            # bounds (one tiny agg subquery — no driver-side action).
            inner = compile_expr(ctx, e.args[0])
            grid = _step_grid(ctx)
            ts = F.col("timestamp_ns")
            if ctx.at_ns is None:
                ts = _bucket(ts, ctx.step_ns)
            present = inner.select(ts.alias("timestamp_ns")).distinct()
            missing = grid.join(present, "timestamp_ns", "left_anti")
            return missing.select(
                F.lit(0).cast("long").alias("fingerprint"),
                F.expr("map()").cast("map<string,string>").alias("labels"),
                "timestamp_ns",
                F.lit(1.0).alias("value"),
            )
        if e.fn == "time":
            # evaluation timestamp as a per-step series (upstream: a
            # scalar per step; binops special-case this — see _binop)
            return _step_grid(ctx).select(
                F.lit(0).cast("long").alias("fingerprint"),
                F.expr("map()").cast("map<string,string>").alias("labels"),
                "timestamp_ns",
                (F.col("timestamp_ns") / F.lit(1e9)).alias("value"),
            )
        if e.fn == "vector":
            # vector(s): the scalar as a label-less series on the grid
            arg = e.args[0] if e.args else None
            val = arg.value if isinstance(arg, PromScalar) else 0.0
            return _step_grid(ctx).select(
                F.lit(0).cast("long").alias("fingerprint"),
                F.expr("map()").cast("map<string,string>").alias("labels"),
                "timestamp_ns",
                F.lit(float(val)).alias("value"),
            )
        if e.fn == "scalar":
            return _scalar_series(ctx, e.args[0])
        raise NotImplementedError(f"function {e.fn}")
    if isinstance(e, AggExpr):
        # agg/range commute for the *_over_time family (counter fns are
        # per-series and must NOT commute — resets depend on the series)
        if (
            e.fn in _COMMUTABLE_PROM
            and isinstance(e.inner, FnCall)
            and e.inner.fn in _COMMUTABLE_PROM[e.fn]
            and e.inner.args
            and isinstance(e.inner.args[0], VectorSelector)
        ):
            return _range_fn(ctx, e.inner, group=(e.by, e.without, e.fn))
        inner = compile_expr(ctx, e.inner)
        if e.fn in ("topk", "bottomk", "limitk", "limit_ratio"):
            return select_per_step(inner, e.fn, e.param, e.by, e.without)
        if e.fn == "count_values":
            # count_values("l", v): series count per distinct sample value;
            # the value joins the label set as label `l`. Default grouping
            # keeps every label (unlike plain aggs, which drop them all).
            if e.by is None and e.without is None:
                base = _group_labels_col(None, [])
            else:
                base = _group_labels_col(e.by, e.without)
            new_labels = F.map_concat(
                F.map_filter(base, lambda k, v: k != e.sparam),
                F.create_map(F.lit(e.sparam), F.col("value").cast("string")),
            )
            return _labels_keyed_agg(
                inner,
                new_labels,
                F.col("timestamp_ns"),
                F.count(F.lit(1)).cast("double"),
            )
        new_labels = _group_labels_col(e.by, e.without)
        if e.fn == "quantile":
            # quantile(φ, v) by (...): φ-quantile with linear
            # interpolation across the group's series, exactly
            # percentile()'s semantics (upstream quantile agg)
            agg = F.percentile(F.col("value"), F.lit(e.param))
        else:
            agg = _AGG_FNS[e.fn](F.col("value"))
        return _labels_keyed_agg(inner, new_labels, F.col("timestamp_ns"), agg)
    if isinstance(e, PromBinOp):
        return _binop(ctx, e)
    if isinstance(e, PromScalar):
        raise ValueError("bare scalar is not a query")
    raise NotImplementedError(f"expr {e}")


def _step_grid(ctx: PromQLContext):
    """Step-aligned timestamp grid: at an instant, the one row t; over an
    explicit request window (a range query, a subquery's inner), the
    steps covering it by arithmetic alone — no extent scan; otherwise
    over the store's time extent, derived lazily (one tiny agg subquery
    — no driver-side action)."""
    if ctx.at_ns is not None:
        return ctx.spark.range(1).select(F.lit(ctx.at_ns).alias("timestamp_ns"))
    step = F.lit(ctx.step_ns)
    if ctx.start_ns is not None and ctx.end_ns is not None:
        lo = ctx.start_ns - ctx.start_ns % ctx.step_ns
        hi = F.lit(max(lo, ctx.end_ns - 1))
        return ctx.spark.range(1).select(
            F.explode(F.sequence(F.lit(lo), hi, step)).alias("timestamp_ns")
        )
    return (
        ctx.metrics()
        .agg(F.min("timestamp_ns").alias("lo"), F.max("timestamp_ns").alias("hi"))
        .select(
            F.explode(
                F.sequence(F.col("lo") - F.pmod(F.col("lo"), step), F.col("hi"), step)
            ).alias("timestamp_ns")
        )
    )


def _scalar_series(ctx: PromQLContext, arg) -> DataFrame:
    """scalar(v): per evaluation step, the single series' value — NaN
    when the vector has ≠ 1 element at that step (upstream semantics)."""
    inner = compile_expr(ctx, arg)
    return (
        inner.groupBy("timestamp_ns")
        .agg(F.count(F.lit(1)).alias("__n"), F.first("value").alias("__v"))
        .select(
            F.lit(0).cast("long").alias("fingerprint"),
            F.expr("map()").cast("map<string,string>").alias("labels"),
            "timestamp_ns",
            F.when(F.col("__n") == 1, F.col("__v"))
            .otherwise(F.lit(float("nan")))
            .alias("value"),
        )
    )


_CMP_OPS = {"==", "!=", ">", ">=", "<", "<="}


def _cmp(op: str, l: Column, r: Column) -> Column:
    return {"==": l == r, "!=": l != r, ">": l > r, ">=": l >= r, "<": l < r, "<=": l <= r}[op]


def _arith(op: str, l: Column, r: Column) -> Column:
    return {
        "+": l + r, "-": l - r, "*": l * r, "/": l / r, "%": l % r,
        "^": F.pow(l, r), "atan2": F.atan2(l, r),
    }[op]


def _binop(ctx: PromQLContext, e: PromBinOp) -> DataFrame:
    # scalar-context operands: time() is the other side's own step
    # timestamp; scalar(v) joins per step. Neither matches on labels
    # (upstream treats both as scalars, not vectors).
    def _is_time(x):
        return isinstance(x, FnCall) and x.fn == "time"

    def _is_scalar_fn(x):
        return isinstance(x, FnCall) and x.fn == "scalar"

    if _is_time(e.left) != _is_time(e.right) and not (
        isinstance(e.left, PromScalar) or isinstance(e.right, PromScalar)
    ):
        tl = _is_time(e.left)
        vec = compile_expr(ctx, e.right if tl else e.left)
        t = F.col("timestamp_ns") / F.lit(1e9)
        v = F.col("value")
        lcol, rcol = (t, v) if tl else (v, t)
        if e.op in _CMP_OPS:
            if e.bool_modifier:
                return vec.withColumn("value", _cmp(e.op, lcol, rcol).cast("double"))
            return vec.filter(_cmp(e.op, lcol, rcol))
        return vec.withColumn("value", _arith(e.op, lcol, rcol))
    if _is_scalar_fn(e.left) != _is_scalar_fn(e.right) and not (
        isinstance(e.left, PromScalar) or isinstance(e.right, PromScalar)
    ):
        sl = _is_scalar_fn(e.left)
        sc = _scalar_series(ctx, (e.left if sl else e.right).args[0]).select(
            "timestamp_ns", F.col("value").alias("__s")
        )
        vec = compile_expr(ctx, e.right if sl else e.left)
        j = vec.join(F.broadcast(sc), "timestamp_ns", "inner")
        v = F.col("value")
        s = F.col("__s")
        lcol, rcol = (s, v) if sl else (v, s)
        if e.op in _CMP_OPS:
            if e.bool_modifier:
                out = j.withColumn("value", _cmp(e.op, lcol, rcol).cast("double"))
            else:
                out = j.filter(_cmp(e.op, lcol, rcol))
        else:
            out = j.withColumn("value", _arith(e.op, lcol, rcol))
        return out.select("fingerprint", "labels", "timestamp_ns", "value")
    ls = isinstance(e.left, PromScalar)
    rs = isinstance(e.right, PromScalar)
    if ls and rs:
        raise ValueError("scalar-scalar expression is not a query")
    if ls or rs:
        vec = compile_expr(ctx, e.right if ls else e.left)
        lit = F.lit((e.left if ls else e.right).value)
        v = F.col("value")
        lcol, rcol = (lit, v) if ls else (v, lit)
        if e.op in _CMP_OPS:
            if e.bool_modifier:
                return vec.withColumn("value", _cmp(e.op, lcol, rcol).cast("double"))
            return vec.filter(_cmp(e.op, lcol, rcol))
        return vec.withColumn("value", _arith(e.op, lcol, rcol))
    left = compile_expr(ctx, e.left)
    right = compile_expr(ctx, e.right)
    if e.op in ("and", "or", "unless"):
        if e.op == "and":
            return left.join(
                right.select("fingerprint", "timestamp_ns"),
                ["fingerprint", "timestamp_ns"],
                "left_semi",
            )
        if e.op == "unless":
            return left.join(
                right.select("fingerprint", "timestamp_ns"),
                ["fingerprint", "timestamp_ns"],
                "left_anti",
            )
        # or: left wins on collision
        onlyr = right.join(
            left.select("fingerprint", "timestamp_ns"),
            ["fingerprint", "timestamp_ns"],
            "left_anti",
        )
        return left.unionByName(onlyr)
    # vector matching: default joins on the full label identity
    # (fingerprint); on()/ignoring() join on a label subset with
    # group_left/right allowing many-to-one (ref: upstream PromQL
    # matching semantics; the reference gets these from the embedded
    # engine, here they compile to the join key)
    if e.on is not None or e.ignoring is not None:
        match_labels = _group_labels_col(e.on, e.ignoring or [])
        key = F.xxhash64(canonical_labels_str(match_labels))
        lj = left.select(
            key.alias("__k"), "fingerprint", "labels", "timestamp_ns",
            F.col("value").alias("__l"),
        )
        rj = right.select(key.alias("__k"), "timestamp_ns", F.col("value").alias("__r"))
        if e.group_side == "right":
            # many-to-one toward the right: keep right's identity; the
            # one side (left) may carry group_right(lbls) extra labels
            lj2 = left.select(
                key.alias("__k"), "timestamp_ns", F.col("value").alias("__l"),
                F.col("labels").alias("__one_labels"),
            )
            rj2 = right.select(
                key.alias("__k"), "fingerprint", "labels", "timestamp_ns",
                F.col("value").alias("__r"),
            )
            j = rj2.join(lj2, ["__k", "timestamp_ns"], "inner").drop("__k")
        else:
            rj = right.select(
                key.alias("__k"), "timestamp_ns", F.col("value").alias("__r"),
                F.col("labels").alias("__one_labels"),
            )
            j = lj.join(rj, ["__k", "timestamp_ns"], "inner").drop("__k")
        if e.group_labels:
            # group_left/right(lbls): copy the named labels from the ONE
            # side onto the many side's label set (upstream semantics);
            # identity re-hashes since labels changed
            one = F.coalesce(F.col("__one_labels"), F.expr("map()"))
            copied = F.map_filter(one, lambda k, v: k.isin(*e.group_labels))
            base = F.map_filter(
                F.coalesce(F.col("labels"), F.expr("map()")),
                lambda k, v: ~k.isin(*e.group_labels),
            )
            j = j.withColumn("labels", F.map_concat(base, copied)).withColumn(
                "fingerprint", F.xxhash64(canonical_labels_str(F.col("labels")))
            )
        j = j.drop("__one_labels")
    else:
        lj = left.select("fingerprint", "labels", "timestamp_ns", F.col("value").alias("__l"))
        rj = right.select("fingerprint", "timestamp_ns", F.col("value").alias("__r"))
        j = lj.join(rj, ["fingerprint", "timestamp_ns"], "inner")
    if e.op in _CMP_OPS:
        if e.bool_modifier:
            out = j.withColumn("value", _cmp(e.op, F.col("__l"), F.col("__r")).cast("double"))
        else:
            out = j.filter(_cmp(e.op, F.col("__l"), F.col("__r"))).withColumn(
                "value", F.col("__l")
            )
    else:
        out = j.withColumn("value", _arith(e.op, F.col("__l"), F.col("__r")))
    return out.select("fingerprint", "labels", "timestamp_ns", "value")


def gap_fill(ctx: PromQLContext, matrix: DataFrame, lookback_ns: int | None = None) -> DataFrame:
    """Fill the step grid per series, forward-filling the last value
    (ref: planner/fill_gaps.go:23 + instant_vector.go 5m lookback).

    Grid bounds come from the data (min/max bucket across the matrix);
    a fill row carries the previous value if one exists within the
    lookback window, else is dropped (staleness).
    """
    step = ctx.step_ns
    if lookback_ns is None:
        lookback_ns = 5 * 60 * 1_000_000_000
    bounds = matrix.select(
        F.min("timestamp_ns").alias("lo"), F.max("timestamp_ns").alias("hi")
    )
    # fingerprint determines labels; dropDuplicates on the key avoids
    # set-ops on MapType (unsupported)
    series = matrix.select("fingerprint", "labels").dropDuplicates(["fingerprint"])
    grid = series.crossJoin(F.broadcast(bounds)).select(
        "fingerprint",
        "labels",
        F.explode(F.sequence("lo", "hi", F.lit(step))).alias("timestamp_ns"),
    )
    joined = grid.join(
        matrix.select("fingerprint", "timestamp_ns", "value"),
        ["fingerprint", "timestamp_ns"],
        "left",
    )
    w = (
        Window.partitionBy("fingerprint")
        .orderBy("timestamp_ns")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = joined.withColumn("__v", F.last("value", ignorenulls=True).over(w))
    last_real_ts = F.last(
        F.when(F.col("value").isNotNull(), F.col("timestamp_ns")), ignorenulls=True
    ).over(w)
    filled = filled.withColumn("__age", F.col("timestamp_ns") - last_real_ts)
    return (
        filled.filter(F.col("__v").isNotNull() & (F.col("__age") <= lookback_ns))
        .select("fingerprint", "labels", "timestamp_ns", F.col("__v").alias("value"))
    )


def _max_lookback_ns(e) -> int:
    """Widening for the scan's lower bound: max range+offset across the
    tree, with the 5m staleness lookback as the floor for instant
    selectors (ref: prom_queryable.go:196-202)."""
    if isinstance(e, VectorSelector):
        return (e.range_ns or _LOOKBACK_NS) + e.offset_ns
    if isinstance(e, P.Subquery):
        return e.range_ns + _max_lookback_ns(e.inner)
    if isinstance(e, FnCall):
        return max((_max_lookback_ns(a) for a in e.args), default=_LOOKBACK_NS)
    if isinstance(e, AggExpr):
        return _max_lookback_ns(e.inner)
    if isinstance(e, PromBinOp):
        return max(_max_lookback_ns(e.left), _max_lookback_ns(e.right))
    return 0


def _resolve_at_refs(ctx: PromQLContext, e) -> None:
    """`@ start()` / `@ end()` pin to the request window's edges
    (upstream promql preprocessors): resolved before compilation. An
    instant query's window is its one time: both resolve to it."""
    if isinstance(e, VectorSelector):
        if e.at_ref:
            t = ctx.at_ns
            if t is None:
                t = ctx.start_ns if e.at_ref == "start" else ctx.end_ns
            if t is None:
                raise ValueError("@ start()/end() requires an explicit query window")
            e.at_ns = t
        return
    if isinstance(e, P.Subquery):
        _resolve_at_refs(ctx, e.inner)
    elif isinstance(e, FnCall):
        for a in e.args:
            _resolve_at_refs(ctx, a)
    elif isinstance(e, AggExpr):
        _resolve_at_refs(ctx, e.inner)
    elif isinstance(e, PromBinOp):
        _resolve_at_refs(ctx, e.left)
        _resolve_at_refs(ctx, e.right)


def _pin(e, at_ns: int) -> None:
    """Pin every selector without its own @ to the instant `at_ns`. A
    subquery's inner keeps its own grid (_range_fn_subquery)."""
    if isinstance(e, VectorSelector):
        if e.at_ns is None:
            e.at_ns = at_ns
    elif isinstance(e, FnCall):
        for a in e.args:
            _pin(a, at_ns)
    elif isinstance(e, AggExpr):
        _pin(e.inner, at_ns)
    elif isinstance(e, PromBinOp):
        _pin(e.left, at_ns)
        _pin(e.right, at_ns)


def query(ctx: PromQLContext, text: str) -> DataFrame:
    """Compile `text` to a matrix: over the step grid, or — with
    `ctx.at_ns` set — at that one instant, every row stamped at_ns."""
    expr = P.parse(text)
    _resolve_at_refs(ctx, expr)
    if ctx.at_ns is not None:
        _pin(expr, ctx.at_ns)
    ctx.set_scan_bounds(_max_lookback_ns(expr))
    return compile_expr(ctx, expr)


def bucket_widths(text: str, step_ns: int) -> set[int] | None:
    """The bucket widths a range query of `text` on the `step_ns` grid
    reads samples in. Each point t of its answer depends only on the
    samples in [t, t + w) of each width w, shifted back by an offset:
    a range selector's range, an instant selector's (or absent()'s)
    step — the subquery's step inside a subquery — and a subquery's
    range. Points sit on absolute grids (_step_grid, _bucket), so when
    every width divides both edges of a span, the answer over that
    span is the union of its answers over any split of it at such
    edges. None when a point can depend on the request's edges
    instead: an `@` pin (`@ start()`/`@ end()` included) or a negative
    offset, which reads samples after the point's bucket."""

    def walk(e, step: int) -> set[int] | None:
        if isinstance(e, VectorSelector):
            if e.at_ns is not None or e.at_ref or e.offset_ns < 0:
                return None
            return {e.range_ns or step}
        if isinstance(e, PromScalar):
            return set()
        if isinstance(e, P.Subquery):
            subs, own = [(e.inner, e.step_ns)], {e.range_ns}
        elif isinstance(e, FnCall):
            subs = [(a, step) for a in e.args]
            own = {step} if e.fn == "absent" else set()
        elif isinstance(e, AggExpr):
            subs, own = [(e.inner, step)], set()
        elif isinstance(e, PromBinOp):
            subs, own = [(e.left, step), (e.right, step)], set()
        else:
            return None
        for sub, sub_step in subs:
            w = walk(sub, sub_step)
            if w is None:
                return None
            own |= w
        return own

    return walk(P.parse(text), step_ns)
