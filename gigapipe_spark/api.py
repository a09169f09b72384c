"""Endpoint facade — the reference's HTTP router surface as one class.

The reference exposes its engine through an HTTP router
(ref: reader/router/query_range.go, prometheus_query_range.go,
prometheus_labels.go, select_labels.go, tempo.go, prof.go, misc.go).
This module re-expresses that surface as an embeddable `Engine`: one
method per route family, DataFrames in/out (serializing a response body
is the caller's concern — in Spark the result set IS the response).

A user of the reference maps their calls 1:1:

    /loki/api/v1/query_range          -> loki_query_range(q, ...)
    /loki/api/v1/query                -> loki_query(q, time_ns)
    /loki/api/v1/labels | label/:n/values -> loki_labels() / loki_label_values(n)
    /loki/api/v1/series               -> loki_series(match)
    /loki/api/v1/index/stats | volume -> loki_index_stats() / loki_index_volume()
    /loki/api/v1/detected_labels | detected_fields -> loki_detected_*()
    /loki/api/v1/patterns             -> loki_patterns()
    /loki/api/v1/tail                 -> loki_tail(q)  (poll-loop Tailer)
    /api/v1/query | query_range       -> prom_query(expr, ...) / prom_query_range(expr)
    /api/v1/labels | label/:n/values  -> prom_labels() / prom_label_values(n)
    /api/v1/series                    -> prom_series(match)
    /api/v1/metadata                  -> prom_metadata()
    /api/search (+ /tempo/api/*)      -> tempo_search(q)
    /api/traces/{id}                  -> tempo_trace(id)
    /api/{v2/}search/tags | tag/:t/values -> tempo_tags() / tempo_tag_values(t)
    /api/metrics/query_range          -> tempo_metrics_query_range(q)
    /pyroscope/render | render-diff   -> pyroscope_render(...) / pyroscope_render_diff(...)

Every method delegates to the language compilers, so plans stay fully
declarative (Catalyst sees the whole pipeline; nothing is evaluated at
facade level).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapipe_spark.logql.compiler import LogQLContext
from gigapipe_spark.logql.compiler import query as _logql_query
from gigapipe_spark.logql.compiler import query_range as _logql_query_range
from gigapipe_spark.promql.compiler import PromQLContext
from gigapipe_spark.promql.compiler import query as _promql_query
from gigapipe_spark.sources import views
from gigapipe_spark.traceql.compiler import TraceQLContext, assemble_traces, trace_by_id
from gigapipe_spark.traceql.compiler import query as _traceql_query


def _date_bounded(
    dim: "DataFrame", start_ns: int | None, end_ns: int | None
) -> "DataFrame":
    """Date-bound a dimension scan the way every reference label planner
    does (planner_label_names.go:26-29: date >= from - 30min, date <= to;
    FormatFromDate sql_misc.go:245). On a date-partitioned stored
    dimension this is partition pruning — at scale the labels endpoint
    must not scan all history. The sf_dir-derived test dimensions carry
    no date column (they are rebuilt from the fact table), so the bound
    is a no-op there."""
    if "date" not in dim.columns:
        return dim
    if start_ns is not None:
        # the reference widens the from-date by 30 minutes so a series
        # first seen just before midnight still resolves
        dim = dim.filter(
            F.col("date")
            >= F.to_date(F.timestamp_micros(F.lit(start_ns // 1000 - 1800 * 10**6)))
        )
    if end_ns is not None:
        dim = dim.filter(
            F.col("date") <= F.to_date(F.timestamp_micros(F.lit(end_ns // 1000)))
        )
    return dim


# /metrics reader families: reads (Engine.served) and time blocks
# (Engine.served_blocks) answered from kept rows ("hit") or by running
# a query ("miss")
SERVED_FRAMES = "gigapipe_served_frames_total"
SERVED_BLOCKS = "gigapipe_served_blocks_total"

# data-time width of the absolute blocks a step-local range read is
# split at (Engine.served_blocks): block b covers [b, b + BLOCK_NS),
# b a multiple of BLOCK_NS
BLOCK_NS = 3_600_000_000_000


def _find_range_ns(query: str) -> int | None:
    """Range of the outermost range aggregation in a LogQL metric query
    (walks through vector aggs / topk / binops)."""
    from gigapipe_spark.logql import ast as A
    from gigapipe_spark.logql.parser import parse

    def walk(e):
        if isinstance(e, A.RangeAgg):
            return e.range_ns
        for attr in ("inner", "left", "right"):
            sub = getattr(e, attr, None)
            if sub is not None and not isinstance(sub, (int, float, str, list)):
                r = walk(sub)
                if r is not None:
                    return r
        return None

    try:
        return walk(parse(query))
    except Exception:
        return None


@dataclass
class Engine:
    """One engine per (session, store dir). It holds no per-request
    state: each request compiles on a context of its own, over the
    cached derived views (samples/series/GIN/spans/attrs) the contexts
    read, so repeated endpoint calls reuse the same cached dimension
    tables exactly like the reference's stored MVs."""

    spark: SparkSession
    sf_dir: str
    prom_step_ns: int = 60_000_000_000
    trace_step_ns: int = 3_600_000_000_000

    # ------------------------------------------------------ contexts
    # Each call builds a new context: a context is one request's planner
    # state (query window, probe verdict, the frames it derives), like
    # the reference's per-request planner chain. The caches live below
    # it — the views' per-session cache here, the per-seq table cache
    # on a store-backed engine (storage/query.StoreEngine), which
    # overrides these to bind the same compilers to its stored tables.
    def logctx(self) -> LogQLContext:
        return LogQLContext(self.spark, self.sf_dir)

    def promctx(self, step_ns: int | None = None) -> PromQLContext:
        step_ns = self.prom_step_ns if step_ns is None else step_ns
        return PromQLContext(self.spark, self.sf_dir, step_ns=step_ns)

    def tracectx(self) -> TraceQLContext:
        return TraceQLContext(self.spark, self.sf_dir, step_ns=self.trace_step_ns)

    def served(self, key, build) -> list:
        """Rows of one read: `build()` makes the request's frame, `key`
        names it (the route plus the exact arguments it was built
        from). Here every read is built and collected; a store-backed
        engine keeps the collected rows, and returns them for a
        repeated key under one store version without running a Spark
        job (storage/query.StoreEngine). The rows may be shared between
        callers: never mutate them."""
        from gigapipe_spark.telemetry import TELEMETRY

        TELEMETRY.inc(SERVED_FRAMES, {"result": "miss"})
        return build().collect()

    def served_blocks(self, key, start_ns: int, end_ns: int, build) -> list:
        """Rows of a step-local range read over [start, end): one whose
        every point depends only on the samples of its own absolute
        bucket, none of which straddles a block edge, so its answer over
        any span is the union of its answers over that span's BLOCK_NS
        blocks (httpd._step_local decides). `build(lo, hi)`
        makes the read's frame over [lo, hi); `key` names the read
        without its window (route, query, step). Here the read is built
        whole; a store-backed engine keeps each block's rows under one
        store version, so a sliding window re-serves the blocks an
        earlier request built (storage/query.StoreEngine)."""
        return self.served(key + (start_ns, end_ns), lambda: build(start_ns, end_ns))

    # ------------------------------------------------- table providers
    # Every endpoint reads its tables through these, so a store-backed
    # engine (storage/query.StoreEngine) redirects the WHOLE surface by
    # overriding them.
    def samples_table(self) -> DataFrame:
        return views.samples(self.spark, self.sf_dir)

    def metric_samples_table(self) -> DataFrame:
        return views.metric_samples(self.spark, self.sf_dir)

    def series_table(self) -> DataFrame:
        return views.time_series(self.spark, self.sf_dir)

    def gin_table(self) -> DataFrame:
        return views.time_series_gin(self.spark, self.sf_dir)

    def stream_labels(self) -> DataFrame:
        """One row per stream with its `fingerprint` and `labels`: the
        label sets the HTTP envelope attaches to collected log rows. It
        may carry more columns (a store engine returns its cached
        series frame as is); consumers select the ones they read."""
        return (
            self.series_table()
            .select("fingerprint", "labels")
            .dropDuplicates(["fingerprint"])
        )

    # ------------------------------------------------------ Loki
    def loki_query_range(
        self,
        query: str,
        start_ns: int | None = None,
        end_ns: int | None = None,
        limit: int | None = None,
        direction: str = "backward",
        step_ns: int | None = None,
    ) -> DataFrame:
        """/loki/api/v1/query_range (ref: reader/router/query_range.go).

        `step_ns` re-interpolates matrix results onto the finer step
        grid (ref: planner_step_fix.go / matrix_step.go response
        shaping); ignored for stream (log-line) results."""
        res = _logql_query_range(
            self.logctx(), query, start_ns, end_ns, limit, direction
        )
        if step_ns is not None and res.kind == "matrix":
            from gigapipe_spark.logql.compiler import restep

            rng = _find_range_ns(query)
            if rng is not None and step_ns < rng:
                return restep(res.df, rng, step_ns)
        return res.df

    def loki_query(
        self, query: str, time_ns: int | None = None, limit: int = 100
    ) -> DataFrame:
        """/loki/api/v1/query — instant: newest entries up to `time_ns`
        (the reference's instant query is a backward range ending at
        the evaluation time)."""
        return _logql_query_range(
            self.logctx(), query, None, time_ns, limit, "backward"
        ).df

    def _match_fps(self, match: str | list[str]) -> DataFrame:
        """match[] selectors → unioned fingerprint set (ref:
        QueryLabelsService.Labels query_abels.go:106-124: each match is
        parsed as a LogQL selector and the label plan is scoped to the
        union of their streams)."""
        from gigapipe_spark.logql.compiler import fingerprints
        from gigapipe_spark.logql.parser import parse

        matches = [match] if isinstance(match, str) else list(match)
        ctx = self.logctx()
        fps = None
        for m in matches:
            f = fingerprints(ctx, parse(m).selector)
            fps = f if fps is None else fps.unionByName(f)
        return fps.distinct()

    def _gin_scoped(
        self,
        start_ns: int | None,
        end_ns: int | None,
        labels_type: int | None,
    ) -> DataFrame:
        """GIN scan with the reference label planners' scoping: date
        bounds (planner_label_names.go:26-29) and `type IN (T, 0)`
        (:25 — 0 = series ingested as both log and metric). labels_type
        None skips the type filter: the fixture views carry one type, so
        the endpoints stay unscoped there; store-backed callers pass 1
        (Loki) / 2 (Prometheus) like the reference's labelsType param."""
        gin = _date_bounded(
            self.gin_table(), start_ns, end_ns
        )
        if labels_type is not None:
            gin = gin.filter(F.col("type").isin(0, labels_type))
        return gin

    def loki_labels(
        self,
        match: str | list[str] | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        labels_type: int | None = None,
    ) -> DataFrame:
        """/loki/api/v1/labels — distinct label names from the GIN,
        optionally restricted to streams matching `match[]` selectors
        (ref: query_abels.go:106)."""
        gin = self._gin_scoped(start_ns, end_ns, labels_type)
        if match:
            gin = gin.join(F.broadcast(self._match_fps(match)), "fingerprint", "left_semi")
        return gin.select("key").distinct()

    def loki_label_values(
        self,
        name: str,
        match: str | list[str] | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        labels_type: int | None = None,
    ) -> DataFrame:
        """/loki/api/v1/label/{name}/values, with the same optional
        match[] scoping as labels."""
        gin = self._gin_scoped(start_ns, end_ns, labels_type)
        if match:
            gin = gin.join(F.broadcast(self._match_fps(match)), "fingerprint", "left_semi")
        return gin.filter(F.col("key") == name).select("val").distinct()

    def loki_series(
        self,
        match: str | list[str],
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        """/loki/api/v1/series — distinct label sets for one or more
        match[] selectors; multiple selectors union (ref:
        planner_multi_stream_select.go:8)."""
        fps = self._match_fps(match)
        series = _date_bounded(
            self.series_table(), start_ns, end_ns
        )
        # one row per stream even when the store keeps per-type series
        # rows for a mixed log+metric fingerprint (labels identical)
        return (
            series.join(F.broadcast(fps), "fingerprint", "left_semi")
            .select("fingerprint", "labels")
            .dropDuplicates(["fingerprint"])
        )

    def loki_index_stats(self) -> DataFrame:
        """/loki/api/v1/index/stats (ref: service/query_range.go:804)."""
        s = self.samples_table()
        return s.agg(
            F.countDistinct("fingerprint").alias("streams"),
            F.count(F.lit(1)).alias("entries"),
            F.sum(F.length("string")).cast("long").alias("bytes"),
        )

    def loki_index_volume(
        self,
        query: str | None = None,
        target_labels: list[str] | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        step_ns: int = 15_000_000_000,
        by: str = "app",
    ) -> DataFrame:
        """/loki/api/v1/index/volume (ref: controller/volume.go:17 +
        service/query_range.go:166 QueryVolume).

        With `query`, mirrors the reference exactly: the request is
        rewritten to `sum(bytes_over_time(<query> [step])) by (<target
        labels>)` and run through the engine (selector pruning, GIN,
        time bounds all apply), then per-series bucket values sum
        across the window into one volume per label set. Absent
        targetLabels default to the selector's own matcher names
        (getLabelsForVolume query_range.go:146). Without `query`, the
        legacy single-label whole-store rollup stays."""
        if query is None:
            s = self.samples_table()
            # one row per fingerprint: StoreEngine's series table keeps a
            # row per (fingerprint, type) — a mixed log+metric stream
            # would double the byte sums through this join
            labels = self.stream_labels().select("fingerprint", "labels")
            return (
                s.join(F.broadcast(labels), "fingerprint")
                .groupBy(F.col("labels")[by].alias(by))
                .agg(F.sum(F.length("string")).cast("long").alias("volume"))
            )
        from gigapipe_spark.logql.parser import parse as _parse_logql

        if not target_labels:
            target_labels = [m.label for m in _parse_logql(query).selector.matchers]
        step_ms = max(step_ns // 1_000_000, 1)
        text = (
            f"sum(bytes_over_time({query} [{step_ms}ms]))"
            f" by ({','.join(target_labels)})"
        )
        res = _logql_query_range(
            self.logctx(), text, start_ns, end_ns, None, "forward"
        )
        return (
            res.df.groupBy(
                *[F.col("labels")[lbl].alias(lbl) for lbl in target_labels]
            )
            .agg(F.sum("value").alias("volume"))
        )

    def loki_detected_labels(self, query: str | None = None) -> DataFrame:
        """/loki/api/v1/detected_labels — per-label cardinality. With a
        `query`, scoped to the selector's stream set the way
        QueryDetectedLabels plans the selector first and detects over
        the matched fingerprints (ref: service/query_range.go:222 →
        clickhouse_planner/planner.go:183 planDetectLabels: nil script
        = whole store, else planTS then detect)."""
        gin = self.gin_table()
        if query is not None:
            gin = gin.join(
                F.broadcast(self._match_fps(query)), "fingerprint", "left_semi"
            )
        return gin.groupBy("key").agg(F.countDistinct("val").alias("cardinality"))

    def loki_detected_fields(self, query: str | None = None) -> DataFrame:
        """/loki/api/v1/detected_fields — field names parsed out of the
        log lines themselves (ref: planner_labels_detect.go): keys of
        the JSON payload, with how many lines carry each. `query`
        scopes the scan to the selector's streams like the labels
        twin."""
        s = self.samples_table()
        if query is not None:
            s = s.join(
                F.broadcast(self._match_fps(query)), "fingerprint", "left_semi"
            )
        fields = s.select(
            F.explode(
                F.map_keys(
                    F.from_json(F.col("string"), "map<string,string>")
                )
            ).alias("field")
        )
        return fields.groupBy("field").agg(F.count(F.lit(1)).alias("lines"))

    def loki_patterns(
        self,
        query: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        step_ns: int = 15_000_000_000,
        limit: int = 100,
    ) -> DataFrame:
        """/loki/api/v1/patterns (ref: reader/controller/volume.go:130
        Patterns + planner_patterns.go): selector-scoped, time-bounded,
        step-bucketed pattern samples — on a fixture engine the
        patterns are mined on demand from the scoped samples (no stored
        side-channel to read)."""
        from gigapipe_spark.patterns.cluster import (
            mine_patterns,
            patterns_response,
        )

        fps = self._match_fps(query) if query else None
        return patterns_response(
            mine_patterns(self.samples_table()),
            fps, start_ns, end_ns, step_ns, limit,
        )

    def loki_tail(self, query: str, max_rows_per_poll: int = 1000):
        """/loki/api/v1/tail — returns the poll-loop Tailer (the
        reference's WS tail is a ticker re-running the query from the
        last seen ts, query_range.go:670)."""
        from gigapipe_spark.streaming.ruler import Tailer

        return Tailer(
            logctx_factory=self.logctx,
            query=query,
            max_rows_per_poll=max_rows_per_poll,
        )

    # ------------------------------------------------------ Prometheus
    def prom_query_range(
        self,
        expr: str,
        start_ns: int | None = None,
        end_ns: int | None = None,
        step_ns: int | None = None,
    ) -> DataFrame:
        """/api/v1/query_range (ref: router/prometheus_query_range.go).

        `step_ns` overrides the evaluation grid; start/end bound the
        result window like the endpoint's params."""
        ctx = self.promctx(step_ns)
        # request window → widened raw scan bound below the aggs
        # (ctx.set_scan_bounds inside _promql_query), exact trim here
        ctx.start_ns, ctx.end_ns = start_ns, end_ns
        m = _promql_query(ctx, expr)
        if start_ns is not None:
            m = m.filter(F.col("timestamp_ns") >= start_ns)
        if end_ns is not None:
            m = m.filter(F.col("timestamp_ns") < end_ns)
        return m

    def prom_query(self, expr: str, time_ns: int) -> DataFrame:
        """/api/v1/query — instant vector at `time_ns` (ref:
        router/prom_query_instant.go, the stock engine's instant
        evaluation; httpd reads a missing `time` as now).

        The expression is compiled at that one instant
        (PromQLContext.at_ns): each range selector reads (t - range, t],
        each instant selector its newest sample in (t - 5m, t], a
        subquery's inner runs on its own grid inside (t - range, t],
        every row is stamped t, and no sample after t is read."""
        ctx = self.promctx()
        ctx.at_ns = time_ns
        return _promql_query(ctx, expr)

    def prom_labels(
        self,
        match: str | list[str] | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        labels_type: int | None = None,
    ) -> DataFrame:
        """/api/v1/labels — same GIN as Loki (one unified store), same
        optional match[] scoping, date bounds and type scoping
        (labelsType=2 on the reference's Prometheus routes)."""
        return self.loki_labels(match, start_ns, end_ns, labels_type)

    def prom_label_values(
        self,
        name: str,
        match: str | list[str] | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        labels_type: int | None = None,
    ) -> DataFrame:
        return self.loki_label_values(name, match, start_ns, end_ns, labels_type)

    def prom_series(
        self,
        match: str | list[str],
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        """/api/v1/series — one or more match[] selectors, unioned like
        the Loki twin (same unified store)."""
        return self.loki_series(match, start_ns, end_ns)

    def prom_query_exemplars(self, expr: str = "") -> DataFrame:
        """/api/v1/query_exemplars — the reference wires this route to
        its empty Metadata handler (prometheus_labels.go:23) and sets
        ExemplarQueryable to nil: exemplars are UNSUPPORTED and the
        endpoint returns an empty result. Mirrored faithfully (empty
        frame with the exemplar response shape)."""
        return self.spark.createDataFrame(
            [],
            "labels map<string,string>, timestamp_ns long, value double, trace_id string",
        )

    def prom_metadata(self) -> DataFrame:
        """/api/v1/metadata — metric names with sample counts (the
        closest stored analogue of Prometheus metadata)."""
        m = self.metric_samples_table()
        # one row per fingerprint: per-(fingerprint, type) store rows
        # would double sample counts
        return (
            m.join(F.broadcast(self.stream_labels()), "fingerprint")
            .groupBy(F.col("labels")["app"].alias("metric"))
            .agg(F.count(F.lit(1)).alias("samples"))
        )

    # ------------------------------------------------------ Tempo
    def tempo_search(
        self,
        q: str,
        limit: int = 20,
        start_ns: int | None = None,
        end_ns: int | None = None,
        min_duration_ns: int | None = None,
        max_duration_ns: int | None = None,
    ) -> DataFrame:
        """/api/search (ref: reader/service/tempo.go) — spansets for a
        TraceQL script; selector results are assembled into per-trace
        summaries ordered newest-first like index_groupby.go. start/end
        bound the matched spans (GetQueryRequest tempo.go:53 emits the
        same raw timestamp_ns predicates); minDuration/maxDuration use
        the reference's ms-truncated comparison
        (traces_query.go:39-44: duration_ms > min/1e6, <= max/1e6)."""
        ctx = self.tracectx()
        out = _traceql_query(ctx, q)
        if "timestamp_ns" in out.columns:
            if start_ns is not None:
                out = out.filter(F.col("timestamp_ns") >= start_ns)
            if end_ns is not None:
                out = out.filter(F.col("timestamp_ns") < end_ns)
        if "duration_ns" in out.columns:
            dur_ms = (F.col("duration_ns") / 1_000_000).cast("long")
            if min_duration_ns:
                out = out.filter(dur_ms > min_duration_ns // 1_000_000)
            if max_duration_ns:
                out = out.filter(dur_ms <= max_duration_ns // 1_000_000)
        if set(out.columns) >= {"trace_id", "span_id", "timestamp_ns", "duration_ns"}:
            out = assemble_traces(ctx, out).orderBy(
                F.col("end_ns").desc(), "trace_id"
            )
        return out.limit(limit)

    def tempo_search_tags(
        self,
        tags: str,
        limit: int = 20,
        start_ns: int | None = None,
        end_ns: int | None = None,
        min_duration_ns: int | None = None,
        max_duration_ns: int | None = None,
    ) -> DataFrame:
        """Legacy (pre-TraceQL) /api/search?tags= — logfmt-style
        `name op value` pairs (ops = != =~ !~, values optionally
        quoted), intersected per span, with optional duration bounds
        (ref: SQLIndexQuery sql_index_query.go:30-110 + the tags
        grammar tags.go:10-52). Compiled to the same spanset machinery
        as TraceQL: the AND of the pairs is ONE selector evaluation."""
        import re as _re

        from gigapipe_spark.traceql.compiler import select_spans
        from gigapipe_spark.traceql.parser import AttrCmp, AttrNode, SpanSelector

        pat = _re.compile(r'([^\s!=~"]+)\s*(=~|!~|!=|=)\s*("(?:\\.|[^"\\])*"|\S+)')
        pos, expr = 0, None
        for m in pat.finditer(tags):
            if tags[pos : m.start()].strip():
                raise ValueError(f"bad tags segment: {tags[pos:m.start()]!r}")
            pos = m.end()
            val = m.group(3)
            if val.startswith('"'):
                val = val[1:-1].replace(r"\"", '"').replace(r"\\", "\\")
            cmp_ = AttrCmp(attr=m.group(1), op=m.group(2), value=val, kind="string")
            expr = cmp_ if expr is None else AttrNode(op="&&", left=expr, right=cmp_)
        if tags[pos:].strip() or expr is None:
            raise ValueError(f"invalid tags search string: {tags!r}")
        ctx = self.tracectx()
        ids = select_spans(ctx, SpanSelector(expr=expr))
        spans = ctx.spans().join(ids, ["trace_id", "span_id"], "left_semi")
        if start_ns is not None:
            spans = spans.filter(F.col("timestamp_ns") >= start_ns)
        if end_ns is not None:
            spans = spans.filter(F.col("timestamp_ns") < end_ns)
        if min_duration_ns is not None:
            spans = spans.filter(F.col("duration_ns") >= min_duration_ns)
        if max_duration_ns is not None:
            spans = spans.filter(F.col("duration_ns") < max_duration_ns)
        out = assemble_traces(ctx, spans).orderBy(
            F.col("end_ns").desc(), "trace_id"
        )
        return out.limit(limit)

    def tempo_trace(self, trace_id: str) -> DataFrame:
        """/api/traces/{traceId} — root-first span list."""
        return trace_by_id(self.tracectx(), trace_id)

    def tempo_tags(self) -> DataFrame:
        """/api/(v2/)search/tags."""
        return self.tracectx().attrs().select("key").distinct()

    def _spanset_filter_ids(self, q: str) -> DataFrame:
        """Parse an autocomplete `q` filter as a FULL spanset expression
        (structural ops included) and evaluate it to span ids. A
        trailing-token check rejects garbage instead of silently
        filtering by the first selector only."""
        from gigapipe_spark.traceql.compiler import eval_spanset
        from gigapipe_spark.traceql.parser import TraceQLParser, TraceQLSyntaxError

        p = TraceQLParser(q)
        expr = p.parse_spanset_expr()
        if p.peek()[0] != "eof":
            raise TraceQLSyntaxError(
                f"trailing input in tag filter: {p.peek()[1]!r}"
            )
        return eval_spanset(self.tracectx(), expr)

    def tempo_tag_values(self, tag: str, q: str | None = None) -> DataFrame:
        """/api/(v2/)search/tag/{tag}/values — optionally restricted to
        spans matching a TraceQL selector (ref: ValuesV2 tempo.go:251)."""
        attrs = self.tracectx().attrs().filter(F.col("key") == tag)
        if q:
            ids = self._spanset_filter_ids(q)
            attrs = attrs.join(ids, ["trace_id", "span_id"], "left_semi")
        return attrs.select("val").distinct()

    # classification rules for the v2 scoped-tags response
    # (ref: controller/tempo.go TagsV2:231-258)
    _RESOURCE_TAG_PREFIXES = (
        "service.", "telemetry.", "deployment.", "host.", "os.", "process.",
        "container.", "k8s.", "cloud.", "faas.", "device.", "webengine.",
    )
    _RESOURCE_TAG_EXACT = ("instance", "local_endpoint_service_name")
    _INTRINSIC_TAGS = (
        "duration", "name", "status", "statusMessage", "kind",
        "rootName", "rootServiceName", "traceDuration",
    )

    def tempo_tags_v2(self, q: str | None = None) -> DataFrame:
        """/api/v2/search/tags — tags grouped into resource / span /
        intrinsic scopes (ref: TagsV2 tempo.go:181: known OTel resource
        prefixes + exact names → resource, the rest → span, plus the
        fixed intrinsic list). `q` restricts to tags present on spans
        matching the selector (TagsV2 tempo.go:203)."""
        attrs = self.tracectx().attrs()
        if q:
            ids = self._spanset_filter_ids(q)
            attrs = attrs.join(ids, ["trace_id", "span_id"], "left_semi")
        keys = attrs.select("key").distinct()
        is_resource = F.col("key").isin(*self._RESOURCE_TAG_EXACT)
        for p in self._RESOURCE_TAG_PREFIXES:
            is_resource = is_resource | F.col("key").startswith(p)
        scoped = keys.select(
            F.when(is_resource, F.lit("resource")).otherwise(F.lit("span")).alias(
                "scope"
            ),
            F.col("key").alias("tag"),
        )
        intrinsics = self.spark.createDataFrame(
            [("intrinsic", t) for t in self._INTRINSIC_TAGS], "scope string, tag string"
        )
        return scoped.unionByName(intrinsics)

    def tempo_metrics_query_range(self, q: str) -> DataFrame:
        """/api/metrics/query_range — TraceQL metrics pipeline (the
        compiler dispatches `| rate()` etc. to the metrics stage)."""
        return _traceql_query(self.tracectx(), q)

    def tempo_metrics_query_instant(
        self, q: str, start_ns: int | None = None, end_ns: int | None = None
    ) -> DataFrame:
        """/api/metrics/query — one aggregate per by-group over the whole
        window (ref: MetricsQueryInstant tempo.go:528 +
        BuildMetricsInstantQuery metrics_query.go:143)."""
        from gigapipe_spark.traceql.compiler import metrics_instant
        from gigapipe_spark.traceql.parser import parse

        return metrics_instant(self.tracectx(), parse(q), start_ns, end_ns)

    def tempo_metrics_exemplars(
        self, q: str, start_ns: int | None = None, end_ns: int | None = None
    ) -> DataFrame:
        """Exemplar spans for a metrics query — one deterministic span
        per series bucket (ref: BuildHistogramExemplarsQuery /
        BuildGenericExemplarsQuery metrics_query.go:558,638)."""
        from gigapipe_spark.traceql.compiler import metrics_exemplars
        from gigapipe_spark.traceql.parser import parse

        return metrics_exemplars(self.tracectx(), parse(q), start_ns, end_ns)

    # ------------------------------------------------------ Pyroscope
    def _profiles(
        self,
        service: str | None,
        selector: str | None = None,
        profile_type_id: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        prof = views.profiles(self.spark, self.sf_dir)
        if start_ns is not None:
            prof = prof.filter(F.col("timestamp_ns") >= start_ns)
        if end_ns is not None:
            prof = prof.filter(F.col("timestamp_ns") <= end_ns)
        if selector is not None or profile_type_id is not None:
            # PlanMergeProfiles path (transpiler.go:63): selector →
            # fingerprints → broadcast semi-join into the fact scan;
            # a type id appends its five pseudo-label matchers
            # (populateTypeId, transpiler.go:115)
            from gigapipe_spark.prof import selector as psel

            sels = psel.parse_profile_selector(selector or "{}")
            if profile_type_id is not None:
                sels = psel.populate_type_id(
                    sels, psel.parse_type_id(profile_type_id)
                )
            fps = psel.profile_fingerprints(
                self.spark, self.sf_dir, [sels] if sels else None
            )
            prof = prof.join(F.broadcast(fps), "fingerprint", "left_semi")
        if service is not None:
            prof = prof.filter(F.col("service_name") == service)
        return prof

    def pyroscope_label_names(self, queries: list[str] | None = None) -> DataFrame:
        """/querier.v1.QuerierService/LabelNames (ref: transpiler.go:10
        PlanLabelNames): distinct label keys, optionally restricted to
        profiles matching any of the selector strings."""
        from gigapipe_spark.prof import selector as psel

        scripts = [psel.parse_profile_selector(q) for q in queries] if queries else None
        return psel.label_names(self.spark, self.sf_dir, scripts)

    def pyroscope_label_values(
        self, label: str, queries: list[str] | None = None
    ) -> DataFrame:
        """/querier.v1.QuerierService/LabelValues (ref: transpiler.go:18
        PlanLabelValues)."""
        from gigapipe_spark.prof import selector as psel

        scripts = [psel.parse_profile_selector(q) for q in queries] if queries else None
        return psel.label_values(self.spark, self.sf_dir, label, scripts)

    def pyroscope_select_series(
        self,
        selector: str,
        group_by: list[str],
        step_ns: int,
        agg: str = "sum",
    ) -> DataFrame:
        """/querier.v1.QuerierService/SelectSeries (ref: transpiler.go:42
        PlanSelectSeries): stepped per-group time series of the profile
        sample value."""
        from gigapipe_spark.prof import selector as psel

        return psel.select_series(
            self.spark, self.sf_dir, selector, group_by, step_ns, agg
        )

    def pyroscope_series(
        self,
        queries: list[str] | None = None,
        label_names: list[str] | None = None,
    ) -> DataFrame:
        """/querier.v1.QuerierService/Series (ref: transpiler.go:74
        PlanSeries): label sets of matching series."""
        from gigapipe_spark.prof import selector as psel

        scripts = [psel.parse_profile_selector(q) for q in queries] if queries else None
        return psel.series(self.spark, self.sf_dir, scripts, label_names)

    def pyroscope_profile_types(self) -> DataFrame:
        """/querier.v1.QuerierService/ProfileTypes (ref: service/prof.go:33)."""
        from gigapipe_spark.prof import selector as psel

        return psel.profile_types(self.spark, self.sf_dir)

    def pyroscope_profile_stats(self) -> DataFrame:
        """/querier.v1.QuerierService/GetProfileStats (ref:
        service/prof.go:334)."""
        from gigapipe_spark.prof import selector as psel

        return psel.profile_stats(self.spark, self.sf_dir)

    def pyroscope_merge_profiles(
        self,
        selector: str | None = None,
        profile_type_id: str | None = None,
    ) -> DataFrame:
        """/querier.v1.QuerierService/SelectMergeProfile — the merged
        (selector- and type-scoped) profile as the engine's tree rows
        (ref: MergeProfiles service/prof.go:226 + PlanMergeProfiles
        transpiler.go:63: select payloads by fingerprint plan, merge
        with sample-key dedup; here the stored representation is the
        tree, so the merge is the same distributed node-key agg the
        render path uses)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import merge_trees

        stu = None
        if profile_type_id is not None:
            stu = psel.parse_type_id(profile_type_id).sample_type_unit
        return merge_trees(self._profiles(None, selector, profile_type_id), stu)

    def pyroscope_settings(self) -> dict:
        """/settings.v1.SettingsService/Get (ref: service/prof.go:427) —
        static plugin-settings envelope; ModifiedAt is fixed (no wall
        clock in the engine surface)."""
        return {
            "settings": [
                {"name": "pluginSettings", "value": "{}", "modifiedAt": 0}
            ]
        }

    def pyroscope_render_dot(
        self,
        service: str | None = None,
        selector: str | None = None,
        profile_type_id: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        max_nodes: int = 0,
    ) -> str:
        """/pyroscope/render?format=dot — Graphviz DOT of the merged
        (optionally type-scoped) tree (ref: prof_tree.go ToDot via
        service/prof.go:478 RenderDot, which also threads from/until
        and the maxNodes top-N pruning)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import merge_trees, render_dot

        stu = None
        if profile_type_id is not None:
            stu = psel.parse_type_id(profile_type_id).sample_type_unit
        if selector is not None and profile_type_id is None and "{" in selector:
            profile_type_id, selector = psel.detach_type_id(selector)
            if profile_type_id is not None:
                stu = psel.parse_type_id(profile_type_id).sample_type_unit
        prof = self._profiles(
            service, selector, profile_type_id, start_ns, end_ns
        )
        rows = merge_trees(prof, stu).collect()
        fn_names = {
            int(f["id"]): f["name"]
            for r in prof.select("functions").limit(1).collect()
            for f in r["functions"]
        }
        return render_dot(rows, fn_names, max_nodes)

    def pyroscope_analyze(self, selector: str) -> DataFrame:
        """/querier.v1.QuerierService/AnalyzeQuery (ref: transpiler.go:103
        PlanAnalyzeQuery): stored-bytes + series-count estimate for a
        selector."""
        from gigapipe_spark.prof import selector as psel

        return psel.analyze(self.spark, self.sf_dir, selector)

    def pyroscope_render(
        self,
        service: str | None = None,
        selector: str | None = None,
        profile_type_id: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> list:
        """/pyroscope/render — merged flamegraph as BFS levels
        (ref: prof_tree.go:145). Accepts a `{label op "val"}` selector
        (PlanMergeProfiles, transpiler.go:63) and/or a bare service name.
        `profile_type_id` (`memory:alloc_space:bytes:space:bytes`) scopes
        BOTH the series match (populateTypeId) and the merged value slot
        (MergeStackTraces, service/prof.go:135-158). A combined
        `type{selector}` query string also works — detachTypeId
        (prof.go:686) splits it. `start_ns`/`end_ns` bound the merged
        profiles in time (the reference's required from/until,
        prof.go:208-223). Returns levels (driver-side: a render
        response is small by construction)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import flamegraph_levels, merge_trees

        if selector is not None and profile_type_id is None and "{" in selector:
            profile_type_id, selector = psel.detach_type_id(selector)
        stu = None
        if profile_type_id is not None:
            stu = psel.parse_type_id(profile_type_id).sample_type_unit
        rows = merge_trees(
            self._profiles(
                service, selector, profile_type_id, start_ns, end_ns
            ),
            stu,
        ).collect()
        return flamegraph_levels(rows)

    # ------------------------------------------------------ misc
    def buildinfo(self) -> dict:
        """/api/v1/status/buildinfo (ref: controller/misc.go:44) — static
        version envelope."""
        from gigapipe_spark import __version__

        return {"status": "success", "data": {"version": __version__}}

    def tempo_echo(self) -> str:
        """/api/echo (ref: router/tempo.go:21) — health probe."""
        return "echo"

    def ready(self) -> str:
        """/ready (ref: controller/misc.go Ready): the reference's
        watchdog checks the datastore answers; here a 1-row probe over
        the store plays that role — failure raises, mirroring the 500.
        A store whose tables haven't materialized yet (parquet dirs are
        created lazily by the first push) is empty, not down — the
        reference's freshly-provisioned ClickHouse answers the probe
        with zero rows the same way."""
        try:
            self.series_table().limit(1).collect()
        except Exception as e:
            if "Path does not exist" in str(e):
                return "OK"
            raise
        return "OK"

    def config(self) -> str:
        """/config (ref: controller/misc.go Config) — static."""
        return "Not supported"

    def metrics(self) -> str:
        """/metrics (ref: writer/router registers promhttp; counters in
        writer/metric/variabels.go): Prometheus text exposition of the
        engine's self-telemetry — sent_rows/sent_bytes per service,
        json_parse_errors_count (decode-error accumulator snapshot),
        tx_close_time_ms histogram with the reference's bucket bounds —
        and the reader's gigapipe_served_frames_total and
        gigapipe_served_blocks_total{result="hit"|"miss"} (see `served`
        and `served_blocks`)."""
        from gigapipe_spark.telemetry import TELEMETRY

        TELEMETRY.sync_decode_errors(self.spark)
        return TELEMETRY.render()

    def pyroscope_render_diff(
        self,
        left_service: str,
        right_service: str,
        profile_type_id: str | None = None,
        left_start_ns: int | None = None,
        left_end_ns: int | None = None,
        right_start_ns: int | None = None,
        right_end_ns: int | None = None,
    ) -> DataFrame:
        """/pyroscope/render-diff — node-aligned left/right/self deltas,
        optionally scoped to one profile type (both sides merge the same
        sample-type slot, as the reference's diff merges via the same
        typed getTree, service/prof.go:226). Each side carries its own
        time bounds (the reference's leftFrom/leftUntil/rightFrom/
        rightUntil, prof.go RenderDiff)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import diff_trees, merge_trees

        stu = None
        if profile_type_id is not None:
            stu = psel.parse_type_id(profile_type_id).sample_type_unit
        return diff_trees(
            merge_trees(
                self._profiles(
                    left_service, None, profile_type_id,
                    left_start_ns, left_end_ns,
                ),
                stu,
            ),
            merge_trees(
                self._profiles(
                    right_service, None, profile_type_id,
                    right_start_ns, right_end_ns,
                ),
                stu,
            ),
        )
