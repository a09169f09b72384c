"""Recording rules + live tail (ref: ruler/, reader/service/query_range.go).

The reference's ruler is a poll-scheduler re-evaluating LogQL/PromQL
rules on intervals and writing results back as samples (ref:
ruler/manager.go:55-224, logql_evaluator.go:44, writeback.go:20-54).
Live tail is a polling loop re-running the transpiled query from the
last-seen timestamp (ref: reader/service/query_range.go:670-760) — a
deliberate poll, not a push stream, and that design carries over.

Spark form: rule evaluation = run the compiled query over the window
since the last tick, append the matrix to the samples store with the
rule name as __name__ — scheduled micro-batches, the Structured
Streaming-free shape the reference itself uses.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapipe_spark.model.fingerprint import fingerprint_col


@dataclass
class RecordingRule:
    name: str  # becomes __name__ of the written-back series
    query: str  # LogQL or PromQL metric query (see lang)
    interval_ns: int
    # "logql" | "promql" — the reference ruler evaluates both rule kinds
    # (ruler/manager.go:55-224, logql_evaluator.go:44, prom_evaluator.go)
    lang: str = "logql"
    # static rule labels merged into the written-back series
    # (ref: manager.go:244 writer.Write(rule.Record, rule.Labels, ...))
    static_labels: dict[str, str] | None = None


@dataclass
class RuleEvaluation:
    rule: RecordingRule
    rows: int
    df: DataFrame


class Ruler:
    """Evaluate rules over a samples context and write back
    (ref: ruler/manager.go evaluation loop + writeback.go).

    This is the EMBEDDED layer: rules registered in code, full-matrix
    writeback — the shape notebooks and tests drive directly. The
    reference's full management surface (YAML rule groups persisted
    with ReplacingMergeTree semantics, per-cycle store re-read,
    instant-query evaluation, HTTP CRUD) lives in
    streaming/rules.py::RuleStore/RuleManager and is what the gateway
    serves; both write back through the same ingest_fanout path."""

    def __init__(
        self,
        spark: SparkSession,
        logctx_factory: Callable,
        sink: Callable[[DataFrame], None],
        promctx_factory: Callable | None = None,
    ):
        self.spark = spark
        self.logctx_factory = logctx_factory
        self.promctx_factory = promctx_factory
        self.sink = sink
        self.rules: list[RecordingRule] = []
        self.last_run_ns: dict[str, int] = {}
        self.health: dict[str, dict] = {}

    def add_rule(self, rule: RecordingRule) -> None:
        self.rules.append(rule)

    def due(self, now_ns: int) -> list[RecordingRule]:
        return [
            r
            for r in self.rules
            if r.name not in self.last_run_ns  # never evaluated → due now
            or now_ns - self.last_run_ns[r.name] >= r.interval_ns
        ]

    def evaluate(self, rule: RecordingRule, now_ns: int) -> RuleEvaluation:
        """One evaluation tick: run the rule, shape the matrix as
        writeback samples (ref: writeback.go:20-54 remote-write path)."""
        ctx = self.logctx_factory()
        if rule.lang == "promql":
            from gigapipe_spark.promql.compiler import PromQLContext
            from gigapipe_spark.promql.compiler import query as promql_query

            pctx = (
                self.promctx_factory()
                if self.promctx_factory is not None
                else PromQLContext(ctx.spark, ctx.sf_dir)
            )
            matrix = promql_query(pctx, rule.query)
        else:
            from gigapipe_spark.logql.compiler import query as logql_query

            matrix = logql_query(ctx, rule.query).df
        # __name__ + the rule's static labels override series labels
        # (ref: manager.go:244)
        extra = [F.lit("__name__"), F.lit(rule.name)]
        for k, v in (rule.static_labels or {}).items():
            extra += [F.lit(k), F.lit(v)]
        drop_keys = ["__name__", *(rule.static_labels or {}).keys()]
        labels = F.map_concat(
            F.map_filter(
                F.coalesce(F.col("labels"), F.expr("map()")),
                lambda k, v: ~k.isin(*drop_keys),
            ),
            F.create_map(*extra),
        )
        out = matrix.select(
            labels.alias("labels"),
            F.col("timestamp_ns"),
            F.col("value").cast("double").alias("value"),
        ).select(
            fingerprint_col(F.col("labels")).alias("fingerprint"),
            "labels",
            "timestamp_ns",
            "value",
            F.lit("").alias("string"),
            F.lit(2).cast("byte").alias("type"),
        )
        # materialize ONCE: the health row counts the result and the
        # sink writes it — without the checkpoint each action re-runs
        # the full rule query over the store
        out = out.localCheckpoint(eager=True)
        self.last_run_ns[rule.name] = now_ns
        return RuleEvaluation(rule=rule, rows=out.count(), df=out)

    def tick(self, now_ns: int) -> list[RuleEvaluation]:
        import time as _time

        evals = []
        for rule in self.due(now_ns):
            t0 = _time.monotonic()
            try:
                ev = self.evaluate(rule, now_ns)
                self.sink(ev.df)
            except Exception as e:  # rule health, not a ruler crash
                # (ref: manager.go:229-236 setRuleHealth "err")
                self.health[rule.name] = {
                    "health": "err",
                    "lastError": str(e),
                    "lastEvaluation": now_ns,
                    "evaluationTime": _time.monotonic() - t0,
                }
                self.last_run_ns[rule.name] = now_ns
                continue
            self.health[rule.name] = {
                "health": "ok",
                "lastError": "",
                "lastEvaluation": now_ns,
                "evaluationTime": _time.monotonic() - t0,
            }
            evals.append(ev)
        return evals

    def prometheus_rules(self) -> list[dict]:
        """/api/v1/rules listing in the Prometheus API shape, annotated
        with last-evaluation health (ref: manager.go:251
        GetPrometheusRules)."""
        out = []
        for r in self.rules:
            h = self.health.get(r.name, {})
            out.append(
                {
                    "name": r.name,
                    "query": r.query,
                    "type": "recording",
                    "labels": dict(r.static_labels or {}),
                    "health": h.get("health", "unknown"),
                    "lastError": h.get("lastError", ""),
                    "lastEvaluation": h.get("lastEvaluation"),
                    "evaluationTime": h.get("evaluationTime"),
                }
            )
        return out


def store_ruler(spark: SparkSession, catalog) -> "Ruler":
    """Ruler bound to a written store, closing the reference's writeback
    loop (ruler/writeback.go:20-54): rules evaluate over the stored
    tables and results append back THROUGH ingest_fanout — the same
    remote-write-shaped path as any push, so onEntries behaviors
    (service_name discovery, metadata peel, per-type series rows) apply
    to recorded series exactly like ingested ones."""
    from gigapipe_spark.storage.query import (
        store_logql_context,
        store_promql_context,
    )
    from gigapipe_spark.storage.writer import ingest_fanout

    return Ruler(
        spark,
        logctx_factory=lambda: store_logql_context(spark, catalog),
        promctx_factory=lambda: store_promql_context(spark, catalog),
        # no pattern mining on the writeback path: the reference's
        # ClusterLines hook sits in doParse (builder.go:231), which the
        # recording_writeback insert service bypasses
        sink=lambda df: ingest_fanout(
            df, catalog, mine_patterns=False
        ),
    )


def store_tailer(
    spark: SparkSession, catalog, query: str, **kw
) -> "Tailer":
    """Live tail over a written store: each poll re-runs the compiled
    query against the stored tables from the last-seen timestamp
    (query_range.go:670-760 over the writer's tables), reading the
    store's per-seq snapshot (StoreEngine.loki_tail) — no lock is ever
    taken, so tails never stall ingest flushes and a MODE=reader
    gateway never touches the writer flock."""
    from gigapipe_spark.storage.query import StoreEngine

    return StoreEngine(spark, catalog.root, catalog=catalog).loki_tail(
        query, **kw
    )


@dataclass
class Tailer:
    """Live tail as a poll loop (ref: query_range.go:670-760): each poll
    re-runs the query filtered to rows newer than the last-seen ts.

    `snapshots` (set by StoreEngine.loki_tail) makes each poll read a
    CONSISTENT snapshot: a Spark append commits its task files into the
    partition dir one rename at a time, so a poll listing files live
    while a bulk flush runs can see a PREFIX of the batch, advance
    last_ts past the batch's max, and permanently skip the unlisted
    rows. It returns the engine's snapshot for the current mutation
    seq — a journal-validated committed listing
    (storage/snapshot.pin_listing, in-flight batch files excluded)
    shared with every other read under that seq — and raises
    SnapshotUnstable while a maintenance walk runs, which skips the
    tick. No lock is held: flushes never wait on polls, polls never
    wait on flushes, and rows of an in-flight batch surface on the
    first poll after its commit. This is the manifest-read pattern an
    object-store lake uses; the reference gets the same property from
    ClickHouse MVCC.

    INCREMENTAL polls: the store is append-only at file granularity
    (flushes add files; compact/rotate swap or delete whole partitions,
    bumping the seq), so once a poll has drained everything in its
    snapshot, rows newer than the watermark can only live in files
    ADDED since — the next poll scans just the samples files its
    snapshot holds beyond the drained one's (`logctx_factory(snapshot,
    files)`), a read of those files alone that leaves the shared
    snapshot as it is (the parquet-lake analog of the reference tail's
    "re-run from last-seen ts" riding ClickHouse's primary-key index).
    A capped poll leaves backlog in OLD files, so the next poll scans
    the whole snapshot (`files` None); an empty delta skips Spark
    entirely."""

    logctx_factory: Callable
    query: str
    last_ts_ns: int = 0
    max_rows_per_poll: int = 1000
    dropped: int = field(default=0)
    # () -> the store's current snapshot (store tails)
    snapshots: Callable | None = None
    # polls skipped because a maintenance walk ran or no quiescent
    # listing window was observed; the watermark never advances on a skip
    unstable_polls: int = field(default=0)
    # samples files of the last drained snapshot
    _drained: frozenset | None = field(default=None, repr=False)
    _backlog: bool = field(default=True, repr=False)

    def poll(self) -> list:
        if self.snapshots is None:
            return self._poll(self.logctx_factory)
        from gigapipe_spark.storage.snapshot import SnapshotUnstable

        try:
            snap = self.snapshots()
        except SnapshotUnstable:
            self.unstable_polls += 1
            return []
        cur = snap.files("samples")
        files = None
        if self._drained is not None and not self._backlog:
            files = cur - self._drained
            if not files:
                # nothing committed since the drained poll: no file can
                # hold a row newer than the watermark — skip the query
                # (compile + scan) entirely this tick
                self._drained = cur
                return []
        rows = self._poll(lambda: self.logctx_factory(snap, files))
        # capped ⇒ undelivered rows remain in files already seen: the
        # next poll must scan the whole snapshot
        self._backlog = len(rows) >= self.max_rows_per_poll
        self._drained = cur
        return rows

    def _poll(self, ctx_factory: Callable) -> list:
        from gigapipe_spark.logql.compiler import query as logql_query

        ctx = ctx_factory()
        if self.last_ts_ns:
            # thread the tail bound through the context so the store
            # scan prunes raw-ts row groups AND (oid, date) partitions
            # (StoreLogQLContext._bounded) — a year-deep store must not
            # be re-scanned per poll (query_range.go:670 re-runs the
            # transpiled query with the updated from-ts the same way)
            ctx.start_ns = self.last_ts_ns + 1
        res = logql_query(ctx, self.query)
        df = res.df
        if "labels" in df.columns and "fingerprint" in df.columns:
            # the compiler prunes the series join for bare selectors;
            # tail frames carry the stream's label set (the reference's
            # WS frames are keyed by stream, query_range.go:200)
            series = ctx.series().select(
                "fingerprint", F.col("labels").alias("__sl")
            ).dropDuplicates(["fingerprint"])
            df = (
                df.join(F.broadcast(series), "fingerprint", "left")
                .withColumn(
                    "labels", F.coalesce(F.col("labels"), F.col("__sl"))
                )
                .drop("__sl")
            )
        newer = df.filter(F.col("timestamp_ns") > self.last_ts_ns).orderBy(
            "timestamp_ns"
        )
        rows = newer.limit(self.max_rows_per_poll + 1).collect()
        if len(rows) > self.max_rows_per_poll:
            # backpressure accounting (ref: dropped_entries)
            self.dropped += 1
            rows = rows[: self.max_rows_per_poll]
        if rows:
            self.last_ts_ns = max(r["timestamp_ns"] for r in rows)
        return rows
