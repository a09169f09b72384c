"""Storage layout + the materialized-view fan-out writer.

The reference's ClickHouse MVs fan one insert batch out to samples /
time_series / gin / rollup tables (ref: ctrl/qryn/sql/log.sql:62-107;
writer insert services writer/service/insert/*). Here one ingest batch
(the output of a sources.ingest decoder) is written to N parquet tables
in one pass — batch or inside foreachBatch for streaming, where the
micro-batch trigger plays the role of the reference's timer flush
(ref: generic_insert.go:288 flush timing → trigger(processingTime)).

Layout decisions for 100 TB (SURVEY §1.2):
  - fact tables partitioned by date (partition pruning on time ranges)
  - rows sorted within files by (fingerprint, timestamp_ns) via
    sortWithinPartitions — min/max parquet stats then let selector
    semi-joins skip row groups, the MergeTree ORDER BY analog
  - dimension tables (time_series, gin) deduplicated per batch and
    merged on read (ReplacingMergeTree analog = dropDuplicates)

Reader freshness (the flock enforces single WRITER, not single-reader
freshness): a reader PROCESS reads a store another process appends to
through ONE snapshot per mutation seq. Every journaled fan-out commit
and every maintenance walk bumps the store's mutation seq
(`_journal/.seq`, storage/snapshot.py), and every StoreEngine context
build and table read compares it with the seq of the engine's current
snapshot: when it moved, StoreEngine.refresh() (storage/query.py) pins
a journal-validated file listing of every journaled table
(snapshot.pin_listing — files of an in-flight batch excluded) and
starts a fresh per-seq cache over it: the table relations (pinned
files, parquet schema inferred once per table), the checkpointed,
deduplicated series dimension, the TraceQL probe verdicts and the
executed read frames. A reader is therefore merely BEHIND, never torn:
it sees whole batches only, and the same ones on every route and every
live-tail poll under one seq. Same-process pushes, bulk flushes, ruler
writeback and foreign-process writes are all visible on the first
request after their commit, with no writer-side hook and no polling.
Pinned by tests/test_cache_coherence.py (two real processes),
tests/test_snapshot.py and tests/test_store_query.py.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Concurrent parquet APPENDS to one table directory race on the Hadoop
# FileOutputCommitter's shared `_temporary/0` staging dir: the first
# job to commit deletes `_temporary`, clobbering every other in-flight
# job's task files (observed as FileNotFoundException under 8 parallel
# gateway pushes — tests/test_httpd_concurrency.py). The reference
# never has this problem because ONE writer service owns each table
# and batches inserts (writer/service/*.go); the Spark analog is a
# per-store-root re-entrant lock held for the duration of a fan-out.
# Cross-PROCESS writers need the same discipline (single writer
# process per store root) — that contract is ENFORCED by an advisory
# fcntl lock file `<root>/.writer.lock` taken the first time a process
# touches a store root for writing: a second writer process fails fast
# with StoreWriterConflict instead of silently racing on `_temporary`
# (tests/test_writer_lockfile.py). The flock is held for the process
# lifetime, exactly the reference's one-writer-service-per-table model
# (writer/service/*.go).
_ROOT_LOCKS: dict[str, threading.RLock] = {}
_ROOT_LOCKS_GUARD = threading.Lock()
_ROOT_FLOCKS: dict[str, object] = {}  # key → held open lock-file handle


class StoreWriterConflict(RuntimeError):
    """Another process already owns this store root for writing."""


def _acquire_process_lock(key: str) -> None:
    """Take the cross-process advisory flock for a store root (once per
    process; held until release_store_process_lock or process exit).

    Advisory fcntl locks are per-(process, file): every thread in this
    process shares the one grant, so the in-process RLock still does
    the intra-process serialization. On filesystems without flock
    support (or non-POSIX hosts) this degrades to the documented
    deployment contract."""
    if key in _ROOT_FLOCKS:
        return
    try:
        import fcntl
    except ImportError:  # non-POSIX: documented contract only
        return
    os.makedirs(key, exist_ok=True)
    path = os.path.join(key, ".writer.lock")
    fh = open(path, "a+")
    try:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fh.seek(0)
        owner = fh.read().strip() or "unknown pid"
        fh.close()
        raise StoreWriterConflict(
            f"store root {key!r} already has a writer process "
            f"({owner}); one writer process per store root — "
            "concurrent parquet appends race on the FileOutputCommitter "
            "_temporary staging dir (see storage/writer.py)"
        ) from None
    fh.seek(0)
    fh.truncate()
    fh.write(f"{os.getpid()}\n")
    fh.flush()
    _ROOT_FLOCKS[key] = fh
    # this process is now THE writer: roll back any fan-out batch a
    # previous writer left half-applied (crash between appends would
    # otherwise leave derived tables silently inconsistent — see
    # storage/journal.py), and restore any partition a previous
    # compact() left torn mid-swap (maintenance.heal_compact_leftovers).
    # Runs exactly once per (process, root).
    from gigapipe_spark.storage import journal as _journal

    _journal.repair(key)
    from gigapipe_spark.storage.maintenance import heal_compact_leftovers

    heal_compact_leftovers(key)


def release_store_process_lock(root: str) -> None:
    """Release the cross-process writer flock for a store root (tests /
    graceful writer handover; normally held until process exit)."""
    key = os.path.abspath(os.path.normpath(root))
    fh = _ROOT_FLOCKS.pop(key, None)
    if fh is not None:
        fh.close()  # closing drops the flock


def store_write_lock(root: str) -> threading.RLock:
    """The per-store-root writer lock (re-entrant: ingest_fanout takes
    it and calls patterns_fanout, which takes it again).

    The key is normalized (abspath) HERE so every caller converges on
    one lock per physical store root — a trailing slash or relative
    path from one call site must not silently mint a second lock and
    void the mutual exclusion (ADVICE r8: the streaming patterns sink
    keys by ``os.path.dirname(out_path)`` while ingest keys by
    ``Catalog.root``)."""
    key = os.path.abspath(os.path.normpath(root))
    with _ROOT_LOCKS_GUARD:
        _acquire_process_lock(key)
        return _ROOT_LOCKS.setdefault(key, threading.RLock())


def _run_fanout_legs(legs, main_thread_task=None) -> None:
    """Run independent fan-out leg writes as concurrent Spark jobs,
    with an optional extra task on the CALLING thread (which holds the
    re-entrant store lock — anything that re-takes it must run here).
    All legs settle before the first error propagates, so the caller's
    batch journal stays authoritative. GIGAPIPE_FANOUT_SERIAL=1 runs
    everything one-at-a-time in list order — for the crash-injection
    tests (deterministic kill-after-table tear windows) and deployments
    that bound concurrent write memory."""
    if os.environ.get("GIGAPIPE_FANOUT_SERIAL") == "1":
        for leg in legs:
            leg()
        if main_thread_task is not None:
            main_thread_task()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        futures = [pool.submit(leg) for leg in legs]
        main_err = None
        if main_thread_task is not None:
            try:
                main_thread_task()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                main_err = e
        errs = [f.exception() for f in futures]
        for e in [main_err] + errs:
            if e is not None:
                raise e  # journal entry stays; repair rolls the batch back


def _locked_fanout(fn):
    """Hold the store-root writer lock for the whole fan-out (see
    _ROOT_LOCKS above — parquet appends to one dir must not overlap)."""
    import functools

    @functools.wraps(fn)
    def wrapper(batch, catalog, *a, **kw):
        with store_write_lock(catalog.root):
            return fn(batch, catalog, *a, **kw)

    return wrapper



SCHEMA_SIDECAR = "_schema.json"

_CANONICAL_SCHEMAS: dict | None = None


def canonical_schema(table: str):
    """The table's declared schema (partition columns included), from
    the generated registry `storage/table_schemas.json` — captured from
    real fan-out output (scripts/gen_table_schemas.py) and pinned
    against the writers by a drift test, the parquet-lake analog of the
    reference's DDL files (ctrl/qryn/sql/*.sql). Lets an empty or
    never-written table answer queries with zero rows, like a
    freshly-provisioned ClickHouse deployment. None for unknown
    tables."""
    global _CANONICAL_SCHEMAS
    if _CANONICAL_SCHEMAS is None:
        import json as _json

        with open(
            os.path.join(os.path.dirname(__file__), "table_schemas.json")
        ) as fh:
            _CANONICAL_SCHEMAS = _json.load(fh)
    j = _CANONICAL_SCHEMAS.get(table)
    if j is None:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(j)


def _empty_from_sidecar(spark: SparkSession, table_path: str):
    """Zero-row DataFrame with the table's recorded schema (partition
    columns included), or None when no sidecar was ever captured."""
    import json as _json

    sc_path = os.path.join(table_path, SCHEMA_SIDECAR)
    if not os.path.isfile(sc_path):
        return None
    from pyspark.sql.types import StructType

    with open(sc_path) as fh:
        schema = StructType.fromJson(_json.load(fh))
    return spark.createDataFrame([], schema)


class Catalog:
    """Paths + readers/writers for the engine's tables under one root.

    `oid` is the reference's org-id multi-tenancy column (ref:
    ctrl/qryn/sql/traces.sql:8 `oid String DEFAULT '0'`; log.sql:22;
    every PARTITION BY / ORDER BY leads with it). One Catalog is bound
    to one tenant, like the reference's per-request org context: the
    fan-out writers stamp the column, and every read filters to it —
    at scale the filter is partition pruning, since oid leads the
    partition spec like the reference's PARTITION BY (oid, date)."""

    def __init__(self, root: str, oid: str = "0"):
        self.root = root
        self.oid = oid

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _memo(self, key: tuple, build):
        """`build()`, for a value derived from these tables; a view
        pinned to one table version (StoreEngine's per-seq catalog)
        caches it under `key`."""
        return build()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        try:
            df = self._load(spark, table)
        except Exception as ex:
            df = self._empty_table(spark, table, ex)
        return self._scope_oid(df)

    def _load(self, spark: SparkSession, table: str) -> DataFrame:
        """The table's parquet files, unscoped: here every file the
        table dir lists now; a snapshot view loads its pinned files."""
        return spark.read.parquet(self.path(table))

    def _empty_table(
        self, spark: SparkSession, table: str, ex: Exception | None = None
    ):
        # A table whose every partition was rotated away (or rolled
        # back) keeps its dir + _SUCCESS but has no data files, and
        # a never-pushed deployment has no dir at all; Spark raises
        # on both (`ex`; None: a snapshot holds no file of the table).
        # The reference's freshly-provisioned / emptied ClickHouse
        # table still answers queries with zero rows — so do we:
        # schema from the sidecar rotate() leaves behind, else from the
        # generated canonical registry.
        msg = str(ex)
        if ex is not None and (
            "UNABLE_TO_INFER_SCHEMA" not in msg
            and "PATH_NOT_FOUND" not in msg
        ):
            raise ex
        df = _empty_from_sidecar(spark, self.path(table))
        if df is None:
            schema = canonical_schema(table)
            if schema is None:
                raise ex or FileNotFoundError(
                    f"no data file and no known schema for table {table!r}"
                )
            df = spark.createDataFrame([], schema)
        return df

    def _scope_oid(self, df: DataFrame) -> DataFrame:
        if "oid" in df.columns:
            return df.filter(F.col("oid") == self.oid).drop("oid")
        if self.oid != "0":
            # pre-oid store: only the default tenant has data
            return df.filter(F.lit(False))
        return df

    def read_series(
        self,
        spark: SparkSession,
        types: tuple[int, ...] | None = None,
        per_fingerprint: bool = False,
    ) -> DataFrame:
        """time_series with ReplacingMergeTree-style dedup on read.

        The dedup key is (fingerprint, type) — the reference stores one
        series row per sample type present under a fingerprint
        (builder.go onEntries `for t := range tps`; log.sql ORDER BY
        (fingerprint, type)) so `type IN (T, 0)` scoping works for
        streams ingested as both log and metric. Latest labels win per
        key (the ReplacingMergeTree "last version wins" contract, ref:
        ctrl/qryn/sql/log.sql time_series ENGINE). max_by is
        deterministic across partitions, unlike
        orderBy().dropDuplicates() whose kept row after the dedup
        exchange is unspecified.

        `types` applies the planner's `type IN (...)` filter BEFORE the
        dedup; `per_fingerprint=True` additionally collapses to one row
        per fingerprint (the label-join shape the compilers consume —
        labels are identical across a fingerprint's type rows by
        construction, the fingerprint IS the label hash).
        """
        df = self.read(spark, "time_series")
        if types is not None:
            df = df.filter(F.col("type").isin(*types))
        # versioning column: updated_at_ns when stored (log.sql:192),
        # else the partition date
        ver = "updated_at_ns" if "updated_at_ns" in df.columns else "date"
        keys = ["fingerprint"] if per_fingerprint else ["fingerprint", "type"]
        aggs = [
            F.max_by("labels", ver).alias("labels"),
            F.max("date").alias("date"),
        ]
        if per_fingerprint:
            aggs.append(F.max_by("type", ver).alias("type"))
        extra = [
            c
            for c in ("metadata", "ttl_days", "updated_at_ns")
            if c in df.columns
        ]
        aggs += [
            (F.max(c) if c == ver else F.max_by(c, ver)).alias(c) for c in extra
        ]
        return df.groupBy(*keys).agg(*aggs).select(
            "date", "fingerprint", "labels", "type", *extra
        )

    def metadata(
        self,
        spark: SparkSession,
        metric_filter: str = "",
        limit: int = 0,
        limit_per_metric: int = 1,
    ) -> DataFrame:
        """/api/v1/metadata over the store (ref: reader/service/
        metadata.go:24-63): series rows with non-empty metadata, metric
        name from the __name__ label, newest-first per metric with a
        LIMIT BY analog (row_number window), optional exact metric filter
        and total limit. Ordered by updated_at_ns like the reference
        (falling back to the partition date on stores written before the
        column existed)."""
        from pyspark.sql import Window

        raw = self.read(spark, "time_series")
        if "metadata" not in raw.columns:
            # stores written before the metadata column existed: empty
            # result, not an AnalysisException on the missing column
            return spark.createDataFrame(
                [], "metric_name string, metadata_json string"
            )
        ver = (
            F.col("updated_at_ns")
            if "updated_at_ns" in raw.columns
            else F.col("date").cast("timestamp").cast("long")
        )
        df = raw.filter(F.col("metadata") != "").select(
            F.col("labels").getItem("__name__").alias("metric_name"),
            F.col("metadata").alias("metadata_json"),
            ver.alias("__ver"),
        )
        if metric_filter:
            df = df.filter(F.col("metric_name") == metric_filter)
        w = Window.partitionBy("metric_name").orderBy(
            F.col("__ver").desc(), F.col("metadata_json")
        )
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max(limit_per_metric, 1))
            .drop("__rn", "__ver")
            .orderBy("metric_name")
        )
        if limit > 0:
            df = df.limit(limit)
        return df

    def read_rollup(self, spark: SparkSession) -> DataFrame:
        """metrics_15s with partial-cell merge on read (the
        AggregatingMergeTree contract; rollup.merge_cells)."""
        from gigapipe_spark.streaming.rollup import merge_cells

        return merge_cells(self.read(spark, "metrics_15s").drop("date"))


def _checkpoint_flush(batch: DataFrame, small: int = 100_000) -> DataFrame:
    """Materialize a flush batch and collapse a SMALL one to a single
    partition AFTER the checkpoint, so each fan-out write emits one
    file. Order matters: coalescing the decode plan itself makes the
    one merged task re-initialize the whole decoder expression tree
    once per parent partition (a 1-row push parallelized over 32
    LocalRelation slices × ~150 ms init ≈ 5 s per push, measured);
    checkpointing first runs those inits in parallel, and the coalesce
    then merges already-materialized rows for ~free. Batches larger
    than `small` keep their partitioning — a real micro-batch must not
    squeeze through one write task at scale."""
    batch = batch.localCheckpoint(eager=True)
    if batch.rdd.getNumPartitions() > 1 and batch.count() <= small:
        batch = batch.coalesce(1)
    return batch


@_locked_fanout
def ingest_fanout(
    batch: DataFrame,
    catalog: Catalog,
    mine_patterns: bool = True,
    commit_marker: str | None = None,
    ttl_days: int = 0,
) -> None:
    """One decoded batch → samples + time_series + gin (the MV layer).

    The batch carries (fingerprint, labels, timestamp_ns, value, string,
    type). Labels are peeled off into the dimension tables; the fact
    table stays narrow. Batches that haven't been through
    ingest.finalize_entries (no metadata/ttl_days columns) pass through
    it here, so the reference's shared onEntries behaviors — service_name
    discovery, __ttl_days__, metric metadata → series (builder.go:304-380)
    — apply to every write path. `mine_patterns` gates the inline
    pattern side-channel (the reference's LogPatternsDownsampling=0
    analog for callers that want the write path lean).
    """
    from gigapipe_spark.sources.ingest import finalize_entries
    from gigapipe_spark.telemetry import observed_write

    if "metadata" not in batch.columns:
        # `ttl_days` is the writer-level TTL (the gateway threads the
        # X-Ttl-Days header here, middleware.go ContextKeyTTLDays);
        # finalize applies the reference's precedence (nonzero writer
        # TTL wins over the __ttl_days__ label)
        batch = finalize_entries(batch, ttl_days=ttl_days)
    elif ttl_days > 0 and "ttl_days" in batch.columns:
        batch = batch.withColumn(
            "ttl_days", F.lit(ttl_days).cast(dict(batch.dtypes)["ttl_days"])
        )

    # Materialize the decoded batch once and TRUNCATE its logical plan:
    # the fan-out runs three write jobs over it, and each would otherwise
    # re-analyze (and re-execute) the decoder's deep lambda tree — on a
    # wire-decoder lineage that analysis alone cost ~4.5s per action.
    # The reference buffers decoded rows in column pools before its
    # inserts for the same reason (generic_insert.go); localCheckpoint is
    # the Spark analog (executor-local, sized to one flush batch).
    batch = _checkpoint_flush(batch)

    date = F.to_date(F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long")))
    # oid leads the partition spec, the reference's PARTITION BY
    # (oid, date) (log.sql:22,41; traces.sql:19) — tenant reads prune
    # whole partitions
    with_date = batch.withColumn("date", date).withColumn(
        "oid", F.lit(catalog.oid)
    )

    from gigapipe_spark.storage.journal import BatchJournal, batch_dates

    # crash-consistency journal: if this writer dies between appends,
    # the next writer (or fsck) rolls the whole batch back — the
    # fan-out is all-or-nothing (storage/journal.py)
    dates = batch_dates(with_date)
    journal = BatchJournal(
        catalog.root,
        catalog.oid,
        ("samples", "time_series", "gin", "metrics_15s", "patterns"),
        dates,
        commit_marker=commit_marker,
    ).begin()

    def _samples_leg():
        observed_write(
            with_date.select(
                "oid", "date", "fingerprint", "timestamp_ns", "value",
                "string", "type", "ttl_days",
            ),
            "samples",
            lambda df: df.sortWithinPartitions("fingerprint", "timestamp_ns")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("samples")),
            bytes_col="string",
        )

    # updated_at_ns (log.sql:192 ALTER): the reference stamps wall clock;
    # the batch's max sample timestamp per series is the deterministic
    # analog — monotone across appends, and what metadata ordering uses.
    # One dimension row per (date, fingerprint, TYPE) — the reference
    # writes one series row per sample type present in the batch
    # (builder.go onEntries `for t := range tps`; log.sql ORDER BY
    # (fingerprint, type)), so the label planners' `type IN (T, 0)`
    # scoping never misses a mixed log+metric stream.
    series = (
        with_date.groupBy("oid", "date", "fingerprint", "type")
        .agg(
            F.first("labels").alias("labels"),
            F.first("metadata").alias("metadata"),
            F.first("ttl_days").alias("ttl_days"),
            F.max("timestamp_ns").alias("updated_at_ns"),
        )
        .select(
            "oid", "date", "fingerprint", "labels", "type", "metadata",
            "ttl_days", "updated_at_ns",
        )
    )

    def _series_leg():
        observed_write(
            series,
            "time_series",
            lambda df: df.write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("time_series")),
            bytes_col=None,
        )

    def _gin_leg():
        gin = series.select(
            "oid", "date", "fingerprint", "type",
            F.explode("labels").alias("key", "val"),
        )
        observed_write(
            gin,
            "gin",
            lambda df: df.write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("gin")),
            bytes_col=None,
        )

    def _rollup_leg():
        # metrics_15s rollup MV (log.sql:83-107): cells for this flush's
        # metric rows; multiple flushes touching one cell store PARTIALS
        # that rollup.merge_cells re-aggregates on read
        # (AggregatingMergeTree)
        metric_rows = batch.filter(F.col("type").isin(0, 2))
        if metric_rows.isEmpty():
            return
        from gigapipe_spark.streaming.rollup import rollup_15s_batch

        cells = (
            rollup_15s_batch(metric_rows)
            .withColumn(
                "date",
                F.to_date(
                    F.timestamp_micros(
                        (F.col("timestamp_ns") / 1000).cast("long")
                    )
                ),
            )
            .withColumn("oid", F.lit(catalog.oid))
        )
        observed_write(
            cells,
            "metrics_15s",
            lambda df: df.sortWithinPartitions("fingerprint", "timestamp_ns")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("metrics_15s")),
            bytes_col=None,
        )

    # The four MV legs are independent reads of the checkpointed batch
    # appending to four DIFFERENT tables — run them as concurrent Spark
    # jobs (the reference's writer runs one insert service per table
    # concurrently, generic_insert.go; the journal covers them all, so
    # crash-repair semantics don't depend on append order). The pattern
    # side-channel (controller.go:71 ClusterLines clusters every pushed
    # log line inline; RunFlush:132-187 appends the clusters to the
    # stored `patterns` table) runs on THIS thread meanwhile: it
    # re-takes the store lock, which is thread-reentrant here.
    _run_fanout_legs(
        [_samples_leg, _series_leg, _gin_leg, _rollup_leg],
        (lambda: patterns_fanout(batch, catalog, dates=dates))
        if mine_patterns else None,
    )
    journal.done()


@_locked_fanout
def patterns_fanout(
    batch: DataFrame, catalog: Catalog, dates: list[str] | None = None
) -> None:
    """Log-typed rows of a decoded batch → stored `patterns` table
    (ref: log.sql:174-187 schema; writer/pattern/controller/
    controller.go:71,132-187 — the reference clusters every ingested
    line and flushes per 10m bucket; here each flush batch IS the
    clustering scope, and read_patterns merges clusters across flushes
    the way the read side merges iterations, planner_patterns.go:10).

    Scale shape: mine_patterns shards by (fingerprint, 10m bucket,
    first-token cluster key) — the same keys the stored table orders by
    (ORDER BY (timestamp_10m, fingerprint)) — singleton shards stay
    pure JVM column algebra and only multi-line shards run the pandas
    merge loop; the append is (oid, date)-partitioned like every
    fan-out table."""
    from gigapipe_spark.patterns.cluster import (
        mine_patterns as _mine_patterns,
    )
    from gigapipe_spark.telemetry import observed_write

    log_rows = batch.filter(
        F.col("type").isin(0, 1) & (F.col("string") != "")
    )
    if log_rows.isEmpty():
        return
    from gigapipe_spark.storage.journal import BatchJournal, batch_dates

    # journal scope from the raw rows (flooring to the 10m bucket never
    # crosses a date boundary, so these are the partitions pats lands
    # in); when called from ingest_fanout this nests inside the outer
    # batch journal — both roll back to the same pre-batch snapshot, and
    # the caller passes its already-computed batch dates so the miner's
    # critical path (the full ingest path's bound, SCALE.md) doesn't
    # re-run a whole-batch distinct job. A superset scope is safe: the
    # journal then snapshots partitions the miner won't touch, which
    # repair restores unchanged.
    if dates is None:
        dates = batch_dates(
            log_rows.select(
                F.to_date(
                    F.timestamp_micros(
                        (F.col("timestamp_ns") / 1000).cast("long")
                    )
                ).alias("date")
            )
        )
    journal = BatchJournal(
        catalog.root,
        catalog.oid,
        ("patterns",),
        dates,
    ).begin()
    pats = (
        _mine_patterns(log_rows, materialize=False)
        .withColumn(
            "date",
            F.to_date(
                F.timestamp_micros(
                    (F.col("timestamp_10m") / 1000).cast("long")
                )
            ),
        )
        .withColumn("oid", F.lit(catalog.oid))
    )
    observed_write(
        pats,
        "patterns",
        lambda df: df.sortWithinPartitions("timestamp_10m", "fingerprint")
        .write.mode("append")
        .partitionBy("oid", "date")
        .parquet(catalog.path("patterns")),
        bytes_col=None,
    )
    journal.done()


@_locked_fanout
def spans_fanout(
    batch: DataFrame, catalog: Catalog, commit_marker: str | None = None
) -> None:
    """Decoded spans batch → tempo_traces + attrs GIN + kv dictionary
    (the trace MV layer; ref: ctrl/qryn/sql/traces.sql
    traces_input_traces_mv / traces_input_tags_mv / tempo_traces_kv_mv).

    The batch is a sources.ingest zipkin/otlp decoder output:
    (trace_id, span_id, parent_id, name, timestamp_ns, duration_ns,
    service_name, payload_type, payload, attrs).

    Layout for 100 TB: the fact table partitions by date (the
    reference's PARTITION BY toDate) and sorts in-file by
    (trace_id, timestamp_ns) — the MergeTree ORDER BY analog; a
    trace-by-id lookup prunes to the date range then row-group-skips on
    the trace_id min/max stats. The GIN partitions by date and sorts by
    (key, val, timestamp_ns) so a TraceQL attr selector reads only its
    key/val row groups. The kv table mirrors tempo_traces_kv_mv's
    val_id = cityHash64(val) % 10000 bucketing (xxhash64 here) used by
    tag-value autocomplete."""
    from gigapipe_spark.telemetry import observed_write

    # one materialization for three MV writes (see ingest_fanout)
    batch = _checkpoint_flush(batch)
    date = F.to_date(F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long")))
    # oid leads the partition spec (traces.sql:19 PARTITION BY
    # (oid, toDate(...)))
    with_date = batch.withColumn("date", date).withColumn(
        "oid", F.lit(catalog.oid)
    )

    from gigapipe_spark.storage.journal import BatchJournal, batch_dates

    # crash-consistency journal (storage/journal.py). tempo_traces_anc
    # is deliberately NOT listed: the closure index is duplicate-
    # insensitive and orphan-tolerant (pairs for rolled-back spans match
    # nothing; a retry's anti-join skips pairs already present), and its
    # rebuild path is crash-safe via rename swap.
    journal = BatchJournal(
        catalog.root,
        catalog.oid,
        (
            "tempo_traces", "tempo_traces_attrs_gin", "tempo_traces_kv",
            "tempo_traces_attr_map",
        ),
        batch_dates(with_date),
        commit_marker=commit_marker,
    ).begin()

    def _traces_leg():
        observed_write(
            with_date.select(
                "oid", "date", "trace_id", "span_id", "parent_id", "name",
                "timestamp_ns", "duration_ns", "service_name",
                "payload_type", "payload",
            ),
            "tempo_traces",
            lambda df: df.sortWithinPartitions("trace_id", "timestamp_ns")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("tempo_traces")),
            bytes_col="payload",
        )

    gin = with_date.select(
        "oid",
        "date",
        F.explode("attrs").alias("key", "val"),
        "trace_id",
        "span_id",
        "timestamp_ns",
        F.col("duration_ns").alias("duration"),
    )

    def _gin_leg():
        observed_write(
            gin,
            "tempo_traces_attrs_gin",
            lambda df: df.sortWithinPartitions("key", "val", "timestamp_ns")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("tempo_traces_attrs_gin")),
            bytes_col=None,
        )

    def _kv_leg():
        kv = gin.select(
            "oid",
            "date",
            "key",
            (F.pmod(F.xxhash64("val"), F.lit(10000))).alias("val_id"),
            "val",
        ).dropDuplicates(["oid", "date", "key", "val_id", "val"])
        observed_write(
            kv,
            "tempo_traces_kv",
            lambda df: df.write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("tempo_traces_kv")),
            bytes_col=None,
        )

    def _amap_leg():
        # row-oriented attr-map twin of the GIN (the layout TraceQL
        # selector evaluation scans; maintained at ingest so queries
        # never rebuild it — the promise the fixture views make, kept
        # on the store)
        amap = with_date.select(
            "oid",
            "date",
            "trace_id",
            "span_id",
            "timestamp_ns",
            F.col("duration_ns").alias("duration"),
            "attrs",
        )
        observed_write(
            amap,
            "tempo_traces_attr_map",
            lambda df: df.sortWithinPartitions("trace_id", "timestamp_ns")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("tempo_traces_attr_map")),
            bytes_col=None,
        )

    # independent appends to four tables off one checkpointed batch —
    # concurrent legs (order-independent under the journal;
    # GIGAPIPE_FANOUT_SERIAL=1 restores the fixed order, see
    # _run_fanout_legs). Ancestor-index maintenance runs AFTER the legs:
    # its backfill probe reads the stored tempo_traces table, so it
    # depends on the fact append having landed.
    _run_fanout_legs([_traces_leg, _gin_leg, _kv_leg, _amap_leg])
    _maintain_ancestor_index(batch, catalog)
    journal.done()


def anc_index_layout(anc_path: str) -> str | None:
    """Layout generation of a stored tempo_traces_anc dir:
    ``None``  — absent or empty (only _SUCCESS / lock debris);
    ``"old"`` — r10 layout, partitioned by oid only, NO date column and
                no completeness guarantee (the pre-backfill writer only
                indexed traces touched after the feature landed);
    ``"new"`` — (oid, date)-partitioned, created by a full backfill and
                maintained incrementally — complete by construction.
    Readers trust ONLY the new layout (storage/query.py ancestors());
    the writer migrates old → new via a full rebuild on its next spans
    batch."""
    if not os.path.isdir(anc_path):
        return None
    layout = None
    for oid_name in os.listdir(anc_path):
        oid_dir = os.path.join(anc_path, oid_name)
        if not (oid_name.startswith("oid=") and os.path.isdir(oid_dir)):
            continue
        for child in os.listdir(oid_dir):
            if child.startswith("date="):
                return "new"
            if child.endswith(".parquet"):
                layout = "old"
    return layout


def _maintain_ancestor_index(batch: DataFrame, catalog: Catalog) -> None:
    """Incrementally maintain the stored ancestor-closure index
    `tempo_traces_anc` (trace_id, span_id, anc_id, date) that structural
    TraceQL ops (&>> <<& ~ !>> <<~) semi-join against — the design the
    session-cache docstring promises (sources/views.py span_ancestors:
    "at scale it is a stored index maintained at ingest, not recomputed
    per query").

    Incrementality is TRACE-SCOPED: closure pairs live entirely within
    one trace, so a batch only dirties the traces it touches. For those
    traces the closure is recomputed over their now-complete span set
    (stored + just-appended — one partition-pruned semi-join against
    tempo_traces) with the same ⌈log₂D⌉ frontier-doubling builder the
    query path uses, then anti-joined against the already-stored pairs
    so only NEW pairs append. Because the span store is append-only, a
    closure pair once true never retracts — out-of-order arrival (a
    parent landing batches after its children) only ADDS pairs, so an
    append-only index with duplicate-insensitive consumers (semi-join /
    distinct, views.py:454-458) is exact, no tombstones or rewrite
    needed.

    LIFECYCLE (r11): pairs carry a `date` partition column = the
    DESCENDANT span's date, so maintenance.rotate() expires closure
    pairs in lockstep with their spans (a retained descendant keeps its
    pairs; pairs to an expired ancestor are harmless — structural ops
    only match ancestors that still exist in the span scan — and fall
    with the descendant's partition later; the reference's per-table
    TTL clauses in ctrl/qryn/sql/traces.sql cover every derived table
    the same uniform way). compact() coalesces the per-batch small
    files (the table is in maintenance.ALL_TABLES).

    COVERAGE (r11, ADVICE): when the index directory does not exist
    yet, the first spans batch BACKFILLS the full closure over every
    stored trace — a store written by a pre-index writer and then
    appended to gets a complete index, not a partial one. An r10-era
    oid-only index (no completeness guarantee, see anc_index_layout)
    is migrated the same way: full rebuild into the dated layout,
    swapped in via rename. Readers ignore old-layout dirs entirely.

    100-TB shape: steady-state cost per batch is O(spans of touched
    traces × log depth), independent of table size — the touched-trace
    span lookup prunes on (oid, date) partitions + trace_id row-group
    stats, the closure build shuffles only the touched traces' spans,
    and the anti-join reads only the index rows of those traces (same
    pruning). The backfill/migration rebuild is a one-time O(all spans)
    job, paid exactly once per store. Depth uses the session cap
    (ANCESTOR_DEPTH_CONF, default 8) with the builder's
    counted-truncation contract."""
    import shutil

    from gigapipe_spark.sources.views import (
        ANCESTOR_DEPTH_CONF,
        ancestors_from_spans,
    )
    from gigapipe_spark.telemetry import observed_write

    spark = batch.sparkSession
    depth = int(spark.conf.get(ANCESTOR_DEPTH_CONF, "8"))
    anc_path = catalog.path("tempo_traces_anc")
    layout = anc_index_layout(anc_path)
    date_of = F.to_date(
        F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long"))
    ).alias("date")

    if layout == "new":
        # Closure pairs are paths over parent edges, and a batch only
        # adds edges through its own spans' parent_id (a parentless span
        # can't complete anyone else's path) — no new edges means the
        # closure is unchanged, so skip the maintenance job entirely.
        # This also keeps a zero-row append from minting an empty (only
        # _SUCCESS) partition that later reads would choke on.
        if batch.filter(F.col("parent_id") != "").isEmpty():
            return
        touched = batch.select("trace_id").distinct()
        # fresh read includes the rows this fan-out just appended
        stored = catalog.read(spark, "tempo_traces")
        scope = stored.select(
            "trace_id", "span_id", "parent_id", "timestamp_ns"
        ).join(F.broadcast(touched), "trace_id", "left_semi")
        closure = ancestors_from_spans(scope, depth)
        existing = catalog.read(spark, "tempo_traces_anc")
        closure = closure.join(
            existing.select("trace_id", "span_id", "anc_id").join(
                F.broadcast(touched), "trace_id", "left_semi"
            ),
            ["trace_id", "span_id", "anc_id"],
            "left_anti",
        )
        # date = descendant span's date (dedup: replayed spans may
        # appear twice in the store; pairs are duplicate-insensitive
        # but the join key must be unique)
        span_dates = scope.select(
            "trace_id", "span_id", date_of
        ).dropDuplicates(["trace_id", "span_id"])
        observed_write(
            closure.join(span_dates, ["trace_id", "span_id"]).withColumn(
                "oid", F.lit(catalog.oid)
            ),
            "tempo_traces_anc",
            lambda df: df.sortWithinPartitions("trace_id")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(anc_path),
            bytes_col=None,
        )
        return

    # backfill (no index yet) or migration (r10 oid-only layout):
    # full rebuild over every stored trace, swapped in atomically
    try:
        stored = catalog.read(spark, "tempo_traces")
    except Exception:
        return  # zero-row store so far (only _SUCCESS on disk)
    spans = stored.select("trace_id", "span_id", "parent_id", "timestamp_ns")
    if spans.filter(F.col("parent_id") != "").isEmpty():
        return  # no parent edges anywhere → empty closure, no dir
    closure = ancestors_from_spans(spans, depth)
    span_dates = spans.select("trace_id", "span_id", date_of).dropDuplicates(
        ["trace_id", "span_id"]
    )
    tmp_dir = anc_path + ".rebuild_tmp"
    observed_write(
        closure.join(span_dates, ["trace_id", "span_id"]).withColumn(
            "oid", F.lit(catalog.oid)
        ),
        "tempo_traces_anc",
        lambda df: df.sortWithinPartitions("trace_id")
        .write.mode("overwrite")
        .partitionBy("oid", "date")
        .parquet(tmp_dir),
        bytes_col=None,
    )
    # swap; a crash between the renames leaves the index absent, which
    # readers treat as "fall back to on-the-fly closure" and the next
    # spans batch re-runs the backfill — self-healing, never partial
    old_dir = anc_path + ".rebuild_old"
    if os.path.isdir(anc_path):
        os.rename(anc_path, old_dir)
    os.rename(tmp_dir, anc_path)
    if os.path.isdir(old_dir):
        shutil.rmtree(old_dir)


@_locked_fanout
def profiles_fanout(
    batch: DataFrame, catalog: Catalog, commit_marker: str | None = None
) -> None:
    """profiles_input batch → profiles + profiles_series +
    profiles_series_gin + profiles_series_keys (the profiles MV layer;
    ref: ctrl/qryn/sql/profiles.sql profiles_mv:34-50,
    profiles_series_mv:65-79, profiles_series_gin_mv:89-98,
    profiles_series_keys_mv:109+).

    Input columns mirror the reference's Null-engine profiles_input
    (:5-17): timestamp_ns, type, service_name, sample_types_units
    array<struct<name,unit>>, period_type, period_unit, tags
    map<string,string>, duration_ns, payload_type, payload, values_agg.

    The fingerprint is the reference's recipe: a hash over the SORTED
    tag pairs + ('__type__', type:period_type:period_unit) +
    ('__sample_types_units__', sorted name:unit join) +
    ('service_name', service): xxhash64 of the canonical JSON here vs
    cityHash64 of the array — same identity semantics, different hash
    family (documented engine-wide, fingerprint.py)."""
    from gigapipe_spark.telemetry import observed_write

    type_id = F.concat_ws(
        ":", F.col("type"), F.col("period_type"), F.col("period_unit")
    )
    stu_join = F.array_join(
        F.array_sort(
            F.transform(
                F.col("sample_types_units"),
                lambda s: F.concat_ws(":", s["name"], s["unit"]),
            )
        ),
        ";",
    )
    entry_t = "array<struct<key: string, value: string>>"
    fp_entries = F.array_sort(
        F.concat(
            F.map_entries(F.coalesce(F.col("tags"), F.expr("map()"))).cast(entry_t),
            F.array(
                F.struct(F.lit("__type__").alias("key"), type_id.alias("value")),
                F.struct(
                    F.lit("__sample_types_units__").alias("key"),
                    stu_join.alias("value"),
                ),
                F.struct(
                    F.lit("service_name").alias("key"),
                    F.col("service_name").alias("value"),
                ),
            ).cast(entry_t),
        )
    )
    fingerprint = F.xxhash64(F.to_json(fp_entries))
    date = F.to_date(F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long")))
    # one materialization for four MV writes (see ingest_fanout)
    batch = _checkpoint_flush(batch)
    enriched = batch.select(
        "*",
        type_id.alias("type_id"),
        fingerprint.alias("fingerprint"),
        date.alias("date"),
        F.lit(catalog.oid).alias("oid"),
    )

    from gigapipe_spark.storage.journal import BatchJournal, batch_dates

    journal = BatchJournal(
        catalog.root,
        catalog.oid,
        (
            "profiles", "profiles_series", "profiles_series_gin",
            "profiles_series_keys",
        ),
        batch_dates(enriched),
        commit_marker=commit_marker,
    ).begin()

    # tree/functions columns (profiles.sql:118-119 ALTER; the later MV
    # at :126-144 selects them from profiles_input) flow through when
    # the decoder produced them — the layout the store render merges
    # from (planner_merge_raw.go:11 reads `tree`, `functions`)
    fact_extra = [c for c in ("tree", "functions") if c in batch.columns]

    def _fact_leg():
        observed_write(
            enriched.select(
                "oid", "date", "timestamp_ns", "fingerprint", "type_id",
                "sample_types_units", "service_name", "duration_ns",
                "payload_type", "payload", "values_agg", *fact_extra,
            ),
            "profiles",
            lambda df: df.sortWithinPartitions(
                "type_id", "service_name", "timestamp_ns"
            )
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("profiles")),
            bytes_col="payload",
        )

    # series tags = input tags + ('service_name', service) (:78)
    series = enriched.select(
        "oid",
        "date",
        "type_id",
        "sample_types_units",
        "service_name",
        "fingerprint",
        F.map_concat(
            F.map_filter(
                F.coalesce(F.col("tags"), F.expr("map()")),
                lambda k, v: k != "service_name",
            ),
            F.create_map(F.lit("service_name"), F.col("service_name")),
        ).alias("tags"),
    ).dropDuplicates(["oid", "date", "type_id", "fingerprint"])

    def _series_leg():
        observed_write(
            series,
            "profiles_series",
            lambda df: df.write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("profiles_series")),
            bytes_col=None,
        )

    gin = series.select(
        "oid",
        "date",
        F.explode("tags").alias("key", "val"),
        "type_id",
        "sample_types_units",
        "service_name",
        "fingerprint",
    )

    def _gin_leg():
        observed_write(
            gin,
            "profiles_series_gin",
            lambda df: df.sortWithinPartitions("key", "val", "type_id")
            .write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("profiles_series_gin")),
            bytes_col=None,
        )

    def _keys_leg():
        keys = gin.select(
            "oid",
            "date",
            "key",
            "val",
            F.pmod(F.xxhash64("val"), F.lit(10000)).alias("val_id"),
        ).dropDuplicates(["oid", "date", "key", "val_id"])
        observed_write(
            keys,
            "profiles_series_keys",
            lambda df: df.write.mode("append")
            .partitionBy("oid", "date")
            .parquet(catalog.path("profiles_series_keys")),
            bytes_col=None,
        )

    # concurrent legs off one checkpointed batch (see _run_fanout_legs)
    _run_fanout_legs([_fact_leg, _series_leg, _gin_leg, _keys_leg])
    journal.done()


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    buckets: int = 32,
    bucket_col: str = "fingerprint",
    sort_cols: tuple[str, ...] = ("fingerprint", "timestamp_ns"),
) -> None:
    """Bucketed + sorted stored layout for the fact tables.

    Hash-bucketing on fingerprint makes the scan report
    HashPartitioning(fingerprint), so every per-series operator that
    requires that distribution — counter windows (rate/increase/resets
    lag), gap-fill forward-fills, holt_winters folds — runs with NO
    Exchange: the shuffle that dominates those plans at 100 TB
    disappears into the storage layout (the MergeTree ORDER BY analog,
    SURVEY §1.2; same role as the reference's per-shard
    ORDER BY (fingerprint, timestamp_ns)). In-file sort by
    (fingerprint, timestamp_ns) additionally feeds parquet min/max
    stats for row-group skipping.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, bucket_col)
        .sortBy(*sort_cols)
        .option("path", path)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read preserving the bucket spec (a plain
    spark.read.parquet(path) would lose HashPartitioning)."""
    return spark.table(table)


def _marked_sink(fanout, catalog: Catalog, checkpoint: str):
    """foreachBatch sink with EXACTLY-ONCE replay protection: Spark
    replays the last uncommitted micro-batch after a restart
    (at-least-once); the batch journal's atomic commit marker
    (journal → applied rename, storage/journal.py) records whether the
    replayed batch already landed, so the sink skips it instead of
    double-appending."""
    from gigapipe_spark.storage.journal import stream_marker_path

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        marker = stream_marker_path(catalog.root, checkpoint, batch_id)
        if os.path.exists(marker):
            return  # replayed micro-batch — already applied
        fanout(batch_df, catalog, commit_marker=marker)

    return _sink


def stream_fanout(decoded_stream: DataFrame, catalog: Catalog, checkpoint: str,
                  trigger_seconds: int = 5):
    """Streaming ingest: micro-batch fan-out via foreachBatch — the
    timer-flush batching of the reference is exactly the trigger
    interval. Restart-safe: see _marked_sink."""

    _sink = _marked_sink(ingest_fanout, catalog, checkpoint)

    return (
        decoded_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def stream_spans_fanout(
    decoded_stream: DataFrame, catalog: Catalog, checkpoint: str,
    trigger_seconds: int = 5,
):
    """Streaming trace ingest: decoded spans stream → the tempo MV layer
    per micro-batch (same trigger-as-timer-flush shape as samples)."""

    _sink = _marked_sink(spans_fanout, catalog, checkpoint)

    return (
        decoded_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


@_locked_fanout
def folded_fanout(batch: DataFrame, catalog: Catalog) -> None:
    """Folded-stack profile batch → profiles_folded (the queryable
    flamegraph layout for the store; the pprof/collapsed ingest decoders
    produce these lines — ref: go_pprof.go:82 folded conversion).

    Input columns: timestamp_ns, service_name, type_id (tp:pt:pu like
    profiles.sql), profile_id, line ("a;b;c 42"). Date-partitioned and
    in-file sorted by (type_id, service_name) so a type-scoped render
    reads only its row groups."""
    from gigapipe_spark.telemetry import observed_write

    batch = _checkpoint_flush(batch)
    date = F.to_date(F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long")))
    with_date = batch.withColumn("date", date).withColumn(
        "oid", F.lit(catalog.oid)
    )

    from gigapipe_spark.storage.journal import BatchJournal, batch_dates

    journal = BatchJournal(
        catalog.root, catalog.oid, ("profiles_folded",),
        batch_dates(with_date),
    ).begin()
    observed_write(
        with_date.select(
            "oid", "date", "timestamp_ns", "service_name", "type_id",
            "profile_id", "line",
        ),
        "profiles_folded",
        lambda df: df.sortWithinPartitions("type_id", "service_name")
        .write.mode("append")
        .partitionBy("oid", "date")
        .parquet(catalog.path("profiles_folded")),
        bytes_col="line",
    )
    journal.done()
