"""Store-backed query contexts: run LogQL/PromQL over a Catalog store.

The sf_dir-based contexts read DERIVED views rebuilt from the TPC-H-ish
fixtures; these subclasses bind the same compilers to the parquet tables
`ingest_fanout` wrote — the full reference loop (wire payload → decoder
→ MV fan-out → query) with no fixture in between (ref: the reader
services query the writer's tables directly, reader/service/*).

Scale shape: the stored fact table is date-partitioned and
(fingerprint, timestamp_ns)-sorted, so the compilers' widened raw-ts
bounds land as parquet partition + row-group pruning here — on the
derived fixture views the same predicates stop at the in-memory
transform. Type filtering follows the reference planners' `type IN
(0, T)` (logs T=1, metrics T=2; 0 = rows ingested as both).
"""

from __future__ import annotations

import os
import sys
import threading
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gigapipe_spark.api import BLOCK_NS, SERVED_BLOCKS, SERVED_FRAMES, Engine
from gigapipe_spark.logql.compiler import LogQLContext
from gigapipe_spark.promql.compiler import PromQLContext
from gigapipe_spark.sources.views import ancestors_from_spans
from gigapipe_spark.traceql.compiler import TraceQLContext
from gigapipe_spark.storage.maintenance import ALL_TABLES
from gigapipe_spark.storage.snapshot import (
    SnapshotUnstable,
    in_maintenance,
    pin_listing,
    read_mutation_seq,
)
from gigapipe_spark.storage.writer import Catalog
from gigapipe_spark.streaming.rollup import rollup_15s_batch
from gigapipe_spark.telemetry import TELEMETRY


def _stu_tp_unit(df: DataFrame) -> DataFrame:
    """Normalize sample_types_units struct field names to (tp, unit) —
    what prof.selector._global_cond matches. The fan-out writer stores
    the input batch's (name, unit) fields (profiles_input contract);
    ClickHouse tuples are positional so the reference never faces the
    mismatch."""
    elem = df.schema["sample_types_units"].dataType.elementType
    if elem.fieldNames()[0] == "tp":
        return df
    return df.withColumn(
        "sample_types_units",
        F.transform(
            "sample_types_units",
            lambda s: F.struct(s[elem.fieldNames()[0]].alias("tp"),
                               s[elem.fieldNames()[1]].alias("unit")),
        ),
    )


def _bounded(df: DataFrame, lo: int | None, hi: int | None) -> DataFrame:
    """Raw-ts bounds + the matching date partition prune."""
    if lo is not None:
        df = df.filter(F.col("timestamp_ns") >= lo).filter(
            F.col("date")
            >= F.to_date(F.timestamp_micros(F.lit(lo // 1000 - 86_400_000_000)))
        )
    if hi is not None:
        df = df.filter(F.col("timestamp_ns") < hi).filter(
            F.col("date") <= F.to_date(F.timestamp_micros(F.lit(hi // 1000)))
        )
    return df


@dataclass
class StoreLogQLContext(LogQLContext):
    """LogQL over the stored samples/time_series/gin tables."""

    catalog: Catalog | None = None
    # a live-tail poll's new samples files (`_SeqCatalog.read_files`);
    # None reads the whole table
    samples_files: frozenset | None = None

    def match_series(self) -> DataFrame:
        # NO type scoping (the GIN-bitmask matcher this replaces had
        # none; consumers' sample scans apply their own type filters).
        # per_fingerprint=True keeps the one-row-per-fingerprint
        # contract fingerprints() broadcasts rely on — labels are
        # identical across a fingerprint's type/version rows by
        # construction (the fingerprint IS the label hash). The frame
        # is the catalog's own (on a StoreEngine, one per mutation
        # seq); consumers select the columns they need.
        return self.catalog.read_series(
            self.spark, types=None, per_fingerprint=True
        )

    def samples(self) -> DataFrame:
        if self._samples is None:
            if self.samples_files is None:
                df = self.catalog.read(self.spark, "samples")
            else:
                df = self.catalog.read_files(
                    self.spark, "samples", self.samples_files
                )
            df = _bounded(df, *self._scan_bounds)
            self._samples = df.filter(F.col("type").isin(0, 1)).select(
                "fingerprint", "timestamp_ns", "value", "string", "type"
            )
        return self._samples

    def series(self) -> DataFrame:
        if self._series is None:
            # planner type scoping (type IN (0,1)) BEFORE the dedup,
            # then one row per fingerprint for the label join (labels
            # are identical across a fingerprint's per-type rows)
            self._series = self.catalog.read_series(
                self.spark, types=(0, 1), per_fingerprint=True
            ).select("fingerprint", "labels", "type")
        return self._series

    def gin(self) -> DataFrame:
        if self._gin is None:
            # NO dedup shuffle: every consumer of the GIN is
            # duplicate-tolerant (bit_or bitmask collapse, semi/anti
            # joins, distinct on the label endpoints), so cross-date
            # duplicate (key,val,fp) rows cost nothing — a
            # dropDuplicates here would shuffle the whole index per
            # query at scale for no semantic gain
            self._gin = self.catalog.read(self.spark, "gin").select(
                "key", "val", "fingerprint", "type"
            )
        return self._gin


@dataclass
class StorePromQLContext(PromQLContext):
    """PromQL over the stored tables; the 15s rollup computes from the
    stored metric rows with the same batch builder the streaming sink
    uses (one cell layout, both paths)."""

    catalog: Catalog | None = None

    def metrics(self) -> DataFrame:
        if self._metrics is None:
            df = self.catalog.read(self.spark, "samples")
            self._metrics = df.filter(F.col("type").isin(0, 2)).select(
                "fingerprint", "timestamp_ns", "value", "string", "type"
            )
        return self._metrics

    def rollup(self) -> DataFrame:
        if self._rollup is None:
            if os.path.isdir(self.catalog.path("metrics_15s")):
                # stored rollup MV, partials merged on read
                self._rollup = self.catalog.read_rollup(self.spark)
            else:
                self._rollup = rollup_15s_batch(self.metrics())
        return self._rollup

    def series(self) -> DataFrame:
        return self.catalog.read_series(
            self.spark, types=(0, 2), per_fingerprint=True
        ).select("fingerprint", "labels", "type")

    def logctx(self) -> LogQLContext:
        if self._logctx is None:
            self._logctx = StoreLogQLContext(
                self.spark, self.sf_dir, catalog=self.catalog
            )
        return self._logctx


def store_logql_context(spark, catalog: Catalog, **kw) -> StoreLogQLContext:
    return StoreLogQLContext(spark, catalog.root, catalog=catalog, **kw)


def store_promql_context(spark, catalog: Catalog, **kw) -> StorePromQLContext:
    return StorePromQLContext(spark, catalog.root, catalog=catalog, **kw)


@dataclass
class StoreTraceQLContext(TraceQLContext):
    """TraceQL over the stored tempo_traces / tempo_traces_attrs_gin
    tables written by `spans_fanout` (ref: the reader's tempo service
    queries those tables directly, reader/service/tempo.go)."""

    catalog: Catalog | None = None
    # the exploded GIN here is a real stored table: single-term
    # selectors seek it with parquet key/val pushdown (see
    # traceql.compiler.select_spans)
    gin_is_stored: bool = True

    def spans(self) -> DataFrame:
        if self._spans is None:
            self._spans = self.catalog.read(self.spark, "tempo_traces").select(
                "trace_id", "span_id", "parent_id", "name",
                "timestamp_ns", "duration_ns", "service_name",
            )
        return self._spans

    def attrs(self) -> DataFrame:
        if self._attrs is None:
            self._attrs = self.catalog.read(
                self.spark, "tempo_traces_attrs_gin"
            ).select(
                "trace_id", "span_id", "timestamp_ns", "duration", "key", "val"
            )
        return self._attrs

    def attr_map(self) -> DataFrame:
        # row-oriented twin of the GIN — its own stored table maintained
        # at ingest (spans_fanout); falls back to a rebuild for stores
        # written before the table existed
        if os.path.isdir(self.catalog.path("tempo_traces_attr_map")):
            return self.catalog.read(self.spark, "tempo_traces_attr_map").select(
                "trace_id", "span_id", "timestamp_ns", "duration", "attrs"
            )
        return (
            self.attrs()
            .groupBy("trace_id", "span_id", "timestamp_ns", "duration")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("key", "val"))
                ).alias("attrs")
            )
        )

    def memo(self, key, build):
        return self.catalog._memo(key, build)

    def ancestors(self) -> DataFrame:
        # stored ancestor-closure index maintained at ingest
        # (writer._maintain_ancestor_index) — structural queries scan it
        # instead of rebuilding the closure per session. Only the
        # (oid, date)-partitioned layout is trusted: it is created by a
        # full backfill and therefore complete; an r10-era oid-only dir
        # carries no completeness guarantee (a pre-index store appended
        # to by the r10 writer got a PARTIAL index — ADVICE r10), so it
        # is ignored until the writer's migration rebuild replaces it.
        from gigapipe_spark.storage.writer import anc_index_layout

        if anc_index_layout(self.catalog.path("tempo_traces_anc")) == "new":
            try:
                return self.catalog.read(
                    self.spark, "tempo_traces_anc"
                ).select("trace_id", "span_id", "anc_id")
            except Exception:
                pass  # unreadable dir → rebuild below
        from gigapipe_spark.sources.views import ANCESTOR_DEPTH_CONF

        depth = int(self.spark.conf.get(ANCESTOR_DEPTH_CONF, "8"))
        return ancestors_from_spans(self.spans(), depth)


def store_traceql_context(spark, catalog: Catalog, **kw) -> StoreTraceQLContext:
    return StoreTraceQLContext(spark, catalog.root, catalog=catalog, **kw)


# approximate bytes of collected rows one store version keeps, served
# reads and time blocks together, least recently used dropped first
SERVED_BYTES_MAX = 64 << 20


def _approx_bytes(rows: list) -> int:
    """Rough in-memory size of collected rows: the deep size of up to 32
    evenly spaced rows, scaled to the row count."""
    if not rows:
        return sys.getsizeof(rows)
    sample = rows[:: max(1, len(rows) // 32)]
    per_row = sum(_deep_size(r) for r in sample) / len(sample)
    return sys.getsizeof(rows) + int(per_row * len(rows))


def _deep_size(v) -> int:
    n = sys.getsizeof(v)
    if isinstance(v, dict):
        n += sum(_deep_size(k) + _deep_size(x) for k, x in v.items())
    elif isinstance(v, (tuple, list)):  # a Row is a tuple
        n += sum(_deep_size(x) for x in v)
    return n


# the tables a snapshot pins: every table a fan-out journals. The
# ancestor index is not journaled (its pairs are orphan-tolerant and
# its rebuild swaps the whole dir), so it is listed live, as before.
PINNED_TABLES = tuple(t for t in ALL_TABLES if t != "tempo_traces_anc")

# A pinned read names every file. Past this many paths Spark lists
# them with a distributed job (spark.sql.sources.
# parallelPartitionDiscovery.threshold, default 32): reading 80 files
# on a 2-core local session took 1.2 s with that job and 0.17 s
# without. Store sessions list them in-process, whatever the count.
LOCAL_LISTING_MAX_PATHS = 2**31 - 1


class _SeqCatalog(Catalog):
    """The store as of one mutation seq: one journal-validated file
    listing of every journaled table (storage/snapshot.pin_listing, so
    files of an in-flight batch are excluded), and StoreEngine's
    per-seq cache of what is built from it. Each table's relation (its
    pinned files plus the parquet schema inferred from them) is read
    once, the rollup's merge-on-read plan is built once, and each
    `read_series` variant is deduplicated once and materialized with an
    eager localCheckpoint (and each TraceQL probe verdict is computed
    once, via `_memo`), so every request and tail poll under one seq
    shares them and sees the same whole batches (the reference's
    ClickHouse reads see committed parts only; this is their per-version
    analog). Builds run under one lock, so the readers that arrive
    together after a write share one build.

    A superseded instance is just dropped. Its checkpoints are
    unpersisted by Spark's ContextCleaner once nothing references them
    — an in-flight request's plan holds its checkpoint's RDD, so it is
    never released under a running query (the flush checkpoints in
    storage/writer.py rely on the same cleaner).

    It also keeps what its reads answered, as collected rows bounded by
    SERVED_BYTES_MAX: each read route's rows under the request's key
    (`served`), and a step-local range read's rows per absolute time
    block (`served_blocks`). A repeated request, or a sliding window
    whose blocks an earlier refresh built, runs no Spark job."""

    def __init__(self, base: Catalog, seq: int, listing: dict[str, list[str]]):
        super().__init__(base.root, base.oid)
        self.seq = seq
        self._listing = listing
        # re-entrant: a read_series build reads time_series through read()
        self._lock = threading.RLock()
        self._frames: dict = {}
        # request or block key -> (rows, approximate bytes), in
        # least-recently-used order; its own lock, so a lookup never
        # waits behind a table build
        self._rows: OrderedDict = OrderedDict()
        self._rows_bytes = 0
        self._rows_lock = threading.Lock()

    def _kept(self, key) -> list | None:
        with self._rows_lock:
            kept = self._rows.get(key)
            if kept is None:
                return None
            self._rows.move_to_end(key)
            return kept[0]

    def _keep(self, key, rows: list) -> None:
        size = _approx_bytes(rows)
        with self._rows_lock:
            old = self._rows.pop(key, None)
            self._rows_bytes += size - (old[1] if old else 0)
            self._rows[key] = (rows, size)
            while self._rows_bytes > SERVED_BYTES_MAX:
                self._rows_bytes -= self._rows.popitem(last=False)[1][1]

    def served(self, key, build) -> list:
        """Engine.served under this seq: the rows kept under `key`, or
        `build()` collected and kept. Misses build outside any lock
        (concurrent misses compile in parallel; identical ones may both
        build, the last one kept); a collect that raises or is
        cancelled keeps nothing. The returned list is shared with later
        hits: callers must not mutate it."""
        rows = self._kept(key)
        TELEMETRY.inc(SERVED_FRAMES, {"result": "miss" if rows is None else "hit"})
        if rows is None:
            rows = build().collect()
            self._keep(key, rows)
        return rows

    def served_blocks(self, key, start_ns: int, end_ns: int, build) -> list:
        """Engine.served_blocks under this seq. Each BLOCK_NS block of
        [start, end) is kept under `key + (block start,)`; the missing
        ones are built by ONE `build(lo, hi)` over their span, rounded
        out to block edges, whose rows are split by `timestamp_ns`
        (a block between two missing ones is rebuilt with them). The
        blocks' rows are trimmed to [start, end) and concatenated in
        time order."""
        edges = range(start_ns - start_ns % BLOCK_NS, end_ns, BLOCK_NS)
        kept = {b: self._kept(key + (b,)) for b in edges}
        missing = [b for b in edges if kept[b] is None]
        built = range(missing[0], missing[-1] + BLOCK_NS, BLOCK_NS) if missing else ()
        TELEMETRY.inc(SERVED_BLOCKS, {"result": "hit"}, len(edges) - len(built))
        TELEMETRY.inc(SERVED_BLOCKS, {"result": "miss"}, len(built))
        if missing:
            fresh = {b: [] for b in built}
            for r in build(built.start, built.stop).collect():
                ts = r["timestamp_ns"]
                fresh[ts - ts % BLOCK_NS].append(r)
            for b, rows in fresh.items():
                self._keep(key + (b,), rows)
            kept.update(fresh)
        return [
            r for b in edges for r in kept[b]
            if start_ns <= r["timestamp_ns"] < end_ns
        ]

    def _memo(self, key, build) -> DataFrame:
        df = self._frames.get(key)
        if df is not None:  # built: no wait behind another table's build
            return df
        with self._lock:
            if key not in self._frames:
                self._frames[key] = build()
            return self._frames[key]

    def files(self, table: str) -> frozenset:
        return frozenset(self._listing.get(table, ()))

    def _load(self, spark, table: str) -> DataFrame:
        files = self._listing.get(table)
        if files is None:  # not pinned: the live listing
            return super()._load(spark, table)
        return self._memo(
            ("load", table), lambda: self._parquet(spark, table, files)
        )

    def _parquet(self, spark, table: str, files, schema=None) -> DataFrame:
        # A maintenance walk deletes files while reads still answer from
        # this snapshot (until the walk's exit bump); Spark fails a read
        # naming a missing path, and ignoreMissingFiles skips one that
        # vanishes after planning.
        files = [f for f in files if os.path.exists(f)]
        if not files:
            return self._empty_table(spark, table)
        reader = spark.read.option("basePath", self.path(table))
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*files)

    def read(self, spark, table: str) -> DataFrame:
        return self._memo(table, lambda: super(_SeqCatalog, self).read(spark, table))

    def read_files(self, spark, table: str, files) -> DataFrame:
        """`table` narrowed to `files` (a tail poll's new files), read
        with the schema of the whole pinned table, so no footer is
        opened and the shared snapshot is left as it is."""
        schema = self._load(spark, table).schema
        return self._scope_oid(self._parquet(spark, table, sorted(files), schema))

    def read_rollup(self, spark) -> DataFrame:
        return self._memo("rollup", lambda: super(_SeqCatalog, self).read_rollup(spark))

    def read_series(self, spark, types=None, per_fingerprint=False) -> DataFrame:
        return self._memo(
            ("series", types, per_fingerprint),
            lambda: super(_SeqCatalog, self)
            .read_series(spark, types, per_fingerprint)
            .localCheckpoint(eager=True),
        )


@dataclass
class StoreEngine(Engine):
    """The full endpoint facade over a written store: every loki_* /
    prom_* / tempo_* route family reads the `*_fanout` tables instead of
    the fixture views — the complete reference deployment shape (writer
    tables + reader services) in one embeddable object.

    The pyroscope family is store-wired too: selector/meta endpoints
    read profiles_series(+gin), render/render-diff/merge read the
    stored `profiles` tree layout (profiles_fanout) and fall back to
    the folded-stack layout (folded_fanout) — a store with NEITHER
    layout raises with that explanation rather than silently reading
    fixture views.

    Each request builds its own query context (see `Engine`); what
    they read is one snapshot per store version: the pinned file
    listing, and the table relations, the series dimension, the
    TraceQL probe verdicts and the gateway's executed read frames built
    from it (`_SeqCatalog`), are taken under the store's mutation seq
    and dropped when it moves (`_store`).
    """

    catalog: Catalog | None = None
    _tables: _SeqCatalog | None = field(default=None, repr=False)
    # re-entrant: `_store` refreshes under it
    _seq_lock: threading.RLock = field(
        default_factory=threading.RLock, repr=False, compare=False
    )
    _rule_mgrs: dict | None = field(default=None, repr=False)
    _rules_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    def __post_init__(self) -> None:
        # Retention races: rotate() deletes whole date partitions while
        # queries may hold a file listing planned moments earlier — the
        # read would die on the vanished file. ignoreMissingFiles is
        # Spark's lake answer: the scan skips files deleted after
        # planning, which is exactly correct semantics for data the
        # retention policy just dropped. Store sessions only — fixture
        # sessions never delete files, and there a missing file is a
        # bug worth failing loudly on.
        try:
            self.spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
            self.spark.conf.set(
                "spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(LOCAL_LISTING_MAX_PATHS),
            )
        except Exception:
            pass  # read-only conf in exotic sessions; queries still work

    def _has_table(self, table: str) -> bool:
        return os.path.isdir(self.catalog.path(table))

    def refresh(self) -> None:
        """Pin the store's current snapshot — one journal-validated
        listing of every journaled table (storage/snapshot.pin_listing)
        — and start a fresh per-seq cache over it. Called by `_store`
        whenever the store's mutation seq moved (the reader freshness
        contract — see storage/writer.py "Reader freshness"). Raises
        SnapshotUnstable when no quiescent listing window shows up
        (a maintenance walk is running)."""
        with self._seq_lock:
            seq, listing = pin_listing(self.catalog.root, PINNED_TABLES)
            self._tables = _SeqCatalog(self.catalog, seq, listing)

    def _store(self, fresh: bool = False) -> _SeqCatalog:
        """The store's snapshot as of its current mutation seq (what
        every context build, table provider and tail poll reads), first
        re-pinning if any writer — this process's pushes, bulk flushes,
        ruler writeback, maintenance, or another process — bumped the
        seq since it was pinned. The reference's reader never needs
        this: ClickHouse reads always see committed parts.

        While a maintenance walk (rotate / compact / tier move) runs,
        reads answer from the last pinned snapshot until the walk's exit
        bump; files the walk deletes under it are skipped. A `fresh`
        caller (a tail poll, whose watermark must not pass rows a walk
        is moving) gets SnapshotUnstable instead, and so does the first
        read of an engine that has no snapshot yet once pin_listing's
        bounded wait runs out."""
        root = self.catalog.root
        with self._seq_lock:
            if in_maintenance(root):
                if fresh:
                    raise SnapshotUnstable(f"maintenance walk on {root!r}")
                if self._tables is not None:
                    return self._tables
            if self._tables is None or read_mutation_seq(root) != self._tables.seq:
                try:
                    self.refresh()
                except SnapshotUnstable:
                    if fresh or self._tables is None:
                        raise
            return self._tables

    def served(self, key, build) -> list:
        """Engine.served over the current seq's tables: a key already
        answered under this seq returns its kept rows, with no Spark
        job."""
        return self._store().served(key, build)

    def served_blocks(self, key, start_ns: int, end_ns: int, build) -> list:
        """Engine.served_blocks over the current seq's tables: the
        blocks this seq already built are re-served from their kept
        rows, and the missing ones are built by one query."""
        return self._store().served_blocks(key, start_ns, end_ns, build)

    def rule_managers(self) -> dict:
        """The engine's two rule managers ("loki" LogQL / "prom"
        PromQL), built once so CRUD, evaluation ticks and the
        health-annotated listing share state
        (ruler/router/init.go:88-105). Lock-guarded: a request racing
        the ruler thread must not build a second pair whose rule health
        diverges from the first."""
        with self._rules_lock:
            if self._rule_mgrs is None:
                from gigapipe_spark.streaming.rules import store_rule_managers

                self._rule_mgrs = store_rule_managers(
                    self.spark, self.catalog, self
                )
            return self._rule_mgrs

    # contexts → store-backed twins over the current seq's tables
    def logctx(self) -> LogQLContext:
        return StoreLogQLContext(self.spark, self.sf_dir, catalog=self._store())

    def promctx(self, step_ns: int | None = None) -> PromQLContext:
        step_ns = self.prom_step_ns if step_ns is None else step_ns
        return StorePromQLContext(
            self.spark, self.sf_dir, step_ns=step_ns, catalog=self._store()
        )

    def tracectx(self) -> TraceQLContext:
        return StoreTraceQLContext(
            self.spark,
            self.sf_dir,
            step_ns=self.trace_step_ns,
            catalog=self._store(),
        )

    # table providers → stored tables (date columns flow through, so the
    # label endpoints' _date_bounded becomes real partition pruning)
    def samples_table(self) -> DataFrame:
        return self._store().read(self.spark, "samples").filter(
            F.col("type").isin(0, 1)
        )

    def metric_samples_table(self) -> DataFrame:
        return self._store().read(self.spark, "samples").filter(
            F.col("type").isin(0, 2)
        )

    def series_table(self) -> DataFrame:
        return self._store().read_series(self.spark)

    def gin_table(self) -> DataFrame:
        return self._store().read(self.spark, "gin")

    def stream_labels(self) -> DataFrame:
        # the selector-matching dimension: the same per-seq frame on
        # every call under one seq
        return self.logctx().match_series()

    def prom_metadata(self) -> DataFrame:
        """Real stored metadata (metadata.go) instead of the fixture's
        sample-count approximation."""
        return self._store().metadata(self.spark)

    def loki_patterns(
        self,
        query: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
        step_ns: int = 15_000_000_000,
        limit: int = 100,
    ) -> DataFrame:
        """/loki/api/v1/patterns over the STORE: the stored `patterns`
        table the ingest side-channel appends to, scoped by the
        selector's fingerprints and time bounds, shaped per
        planner_patterns.go:14-48. Falls back to on-demand mining for
        stores written before the side-channel existed."""
        if not self._has_table("patterns"):
            return super().loki_patterns(
                query, start_ns, end_ns, step_ns, limit
            )
        from gigapipe_spark.patterns.cluster import patterns_response

        fps = self._match_fps(query) if query else None
        return patterns_response(
            self._store().read(self.spark, "patterns"),
            fps, start_ns, end_ns, step_ns, limit,
        )

    def loki_tail(self, query: str, max_rows_per_poll: int = 1000):
        """Tail over the STORE (query_range.go:670 re-runs the
        transpiled query per tick). Each poll reads the engine's current
        snapshot — the one every read under that seq sees — through a
        new query context, and scans only the samples files that
        snapshot holds beyond the last one the tail drained (see
        streaming/ruler.Tailer)."""
        from gigapipe_spark.streaming.ruler import Tailer

        return Tailer(
            logctx_factory=lambda snap, files: StoreLogQLContext(
                self.spark, self.sf_dir, catalog=snap, samples_files=files
            ),
            query=query,
            snapshots=lambda: self._store(fresh=True),
            max_rows_per_poll=max_rows_per_poll,
        )

    def _folded_tree(
        self,
        service: str | None,
        profile_type_id: str | None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        """Merged tree rows from the stored folded-stack layout
        (profiles_folded, written by folded_fanout)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.sources.ingest import collapsed_stacks

        if not os.path.isdir(self.catalog.path("profiles_folded")):
            raise FileNotFoundError(
                "no profiles_folded table in this store — ingest profiles "
                "through folded_fanout first"
            )
        df = self._store().read(self.spark, "profiles_folded")
        if start_ns is not None:
            df = df.filter(F.col("timestamp_ns") >= start_ns)
        if end_ns is not None:
            df = df.filter(F.col("timestamp_ns") <= end_ns)
        if service is not None:
            df = df.filter(F.col("service_name") == service)
        if profile_type_id is not None:
            tid = psel.parse_type_id(profile_type_id)
            stored = ":".join([tid.tp, tid.period_type, tid.period_unit])
            df = df.filter(F.col("type_id") == stored)
        merged = df.select(F.lit("all").alias("profile_id"), "line")
        return collapsed_stacks(merged)

    def _store_profile_fps(self, scripts) -> DataFrame:
        """Selector scripts → fingerprints over the STORED
        profiles_series / profiles_series_gin tables (the
        planner_selector.go:12 path the fixture engine runs over its
        views)."""
        from gigapipe_spark.prof.selector import profile_fingerprints_frames

        series = _stu_tp_unit(self._store().read(self.spark, "profiles_series"))
        gin = self._store().read(self.spark, "profiles_series_gin")
        return profile_fingerprints_frames(series, gin, scripts)

    def _stored_profiles(
        self,
        service: str | None,
        selector: str | None,
        profile_type_id: str | None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        """Selector/type/service-scoped rows of the stored `profiles`
        fact table with its tree layout (planner_merge_raw.go:11: scoped
        fingerprints IN + global matchers on the fact scan, tree +
        functions projected)."""
        from gigapipe_spark.prof import selector as psel

        prof = self._store().read(self.spark, "profiles")
        if start_ns is not None:
            prof = prof.filter(F.col("timestamp_ns") >= start_ns)
        if end_ns is not None:
            prof = prof.filter(F.col("timestamp_ns") <= end_ns)
        if "tree" not in prof.columns:
            raise FileNotFoundError(
                "this store's profiles table has no tree layout — ingest "
                "through profiles_fanout with tree/functions columns "
                "(e.g. ingest.folded_profiles_input)"
            )
        prof = _stu_tp_unit(prof)
        if selector is not None or profile_type_id is not None:
            sels = psel.parse_profile_selector(selector or "{}")
            if profile_type_id is not None:
                sels = psel.populate_type_id(
                    sels, psel.parse_type_id(profile_type_id)
                )
            fps = self._store_profile_fps([sels] if sels else None)
            prof = prof.join(F.broadcast(fps), "fingerprint", "left_semi")
        if service is not None:
            prof = prof.filter(F.col("service_name") == service)
        return prof

    def _prof_frames(self):
        """(profiles fact, series, gin) frames over the stored tables,
        normalized to the fixture column contract (tags→labels, stu
        field names) so every frame-based planner runs unchanged."""
        series = (
            _stu_tp_unit(self._store().read(self.spark, "profiles_series"))
            .withColumnRenamed("tags", "labels")
            # the stored table is append-only (dropDuplicates at write is
            # per-batch): a re-pushed series must collapse back to ONE
            # row per fingerprint or the planners' per-fingerprint joins
            # multiply fact rows (ReplacingMergeTree semantics, like
            # Catalog.read_series for the log/metric series table)
            .dropDuplicates(["fingerprint"])
        )
        gin = self._store().read(
            self.spark, "profiles_series_gin"
        ).dropDuplicates(["fingerprint", "key", "val"])
        prof = _stu_tp_unit(self._store().read(self.spark, "profiles"))
        return prof, series, gin

    def _profiles(
        self,
        service: str | None,
        selector: str | None = None,
        profile_type_id: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> DataFrame:
        """Engine._profiles over the STORE: every inherited endpoint
        that scopes through it (merge_profiles, render_dot, …) reads
        the stored tree layout."""
        return self._stored_profiles(
            service, selector, profile_type_id, start_ns, end_ns
        )

    def pyroscope_label_names(self, queries: list | None = None) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        _, series, gin = self._prof_frames()
        scripts = (
            [psel.parse_profile_selector(q) for q in queries] if queries else None
        )
        return psel.label_names_frames(series, gin, scripts)

    def pyroscope_label_values(
        self, label: str, queries: list | None = None
    ) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        _, series, gin = self._prof_frames()
        scripts = (
            [psel.parse_profile_selector(q) for q in queries] if queries else None
        )
        return psel.label_values_frames(series, gin, label, scripts)

    def pyroscope_select_series(
        self,
        selector: str,
        group_by: list[str],
        step_ns: int,
        agg: str = "sum",
    ) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        prof, series, gin = self._prof_frames()
        return psel.select_series_frames(
            prof, series, gin, selector, group_by, step_ns, agg
        )

    def pyroscope_series(
        self,
        queries: list | None = None,
        label_names: list[str] | None = None,
    ) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        _, series, gin = self._prof_frames()
        scripts = (
            [psel.parse_profile_selector(q) for q in queries] if queries else None
        )
        return psel.series_frames(series, gin, scripts, label_names)

    def pyroscope_profile_types(self) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        _, series, _ = self._prof_frames()
        return psel.profile_types_frames(series)

    def pyroscope_profile_stats(self) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        prof, _, _ = self._prof_frames()
        return psel.profile_stats_frames(prof)

    def pyroscope_analyze(self, selector: str) -> DataFrame:
        from gigapipe_spark.prof import selector as psel

        prof, series, gin = self._prof_frames()
        return psel.analyze_frames(prof, series, gin, selector)

    def pyroscope_render(
        self,
        service: str | None = None,
        selector: str | None = None,
        profile_type_id: str | None = None,
        start_ns: int | None = None,
        end_ns: int | None = None,
    ) -> list:
        """/pyroscope/render over the STORE. Preferred path: the stored
        `profiles` table's tree layout, scoped by label selector through
        profiles_series_gin (planner_selector.go:12) and merged from the
        stored trees (planner_merge_raw.go:11) with the type id picking
        BOTH the series match (populateTypeId) and the merged value
        slot. Falls back to the folded-stack layout (service/type
        scoping only) for stores ingested via folded_fanout."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import (
            flamegraph_levels,
            merge_trees,
            resolve_functions,
        )

        if selector is not None and profile_type_id is None and "{" in selector:
            profile_type_id, selector = psel.detach_type_id(selector)
        if self._has_table("profiles"):
            stu = None
            if profile_type_id is not None:
                stu = psel.parse_type_id(profile_type_id).sample_type_unit
            prof = self._stored_profiles(
                service, selector, profile_type_id, start_ns, end_ns
            )
            rows = resolve_functions(merge_trees(prof, stu), prof).collect()
            return flamegraph_levels(rows)
        if selector is not None and psel.parse_profile_selector(selector):
            raise FileNotFoundError(
                "label-selector render needs the profiles tree layout "
                "(profiles_fanout); this store only has profiles_folded"
            )
        rows = self._folded_tree(
            service, profile_type_id, start_ns, end_ns
        ).collect()
        return flamegraph_levels(rows)

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
        """/pyroscope/render-diff over the store: per-side merged trees,
        full-outer diff (prof_tree.go:308) — from the stored tree layout
        when present, else the folded layout; each side carries its own
        time bounds (prof.go RenderDiff leftFrom/.../rightUntil)."""
        from gigapipe_spark.prof import selector as psel
        from gigapipe_spark.prof.tree import diff_trees, merge_trees

        if self._has_table("profiles"):
            stu = None
            if profile_type_id is not None:
                stu = psel.parse_type_id(profile_type_id).sample_type_unit
            return diff_trees(
                merge_trees(
                    self._stored_profiles(
                        left_service, None, profile_type_id,
                        left_start_ns, left_end_ns,
                    ),
                    stu,
                ),
                merge_trees(
                    self._stored_profiles(
                        right_service, None, profile_type_id,
                        right_start_ns, right_end_ns,
                    ),
                    stu,
                ),
            )
        left = self._folded_tree(
            left_service, profile_type_id, left_start_ns, left_end_ns
        )
        right = self._folded_tree(
            right_service, profile_type_id, right_start_ns, right_end_ns
        )
        return diff_trees(
            left.drop("profile_id", "fn_name"),
            right.drop("profile_id", "fn_name"),
        )
