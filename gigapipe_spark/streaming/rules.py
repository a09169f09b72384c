"""Ruler rule-group storage, manager and evaluators.

The reference's ruler subsystem (ref: ruler/) is three layers:

- a rule-group store: YAML-serialized groups in a ReplacingMergeTree
  `rules` table keyed (namespace, group_name, type) with soft-delete
  tombstones (ref: ruler/service.go:43-101 SetRuleGroup /
  DeleteRuleGroup / DeleteNamespace, ctrl/qryn/sql: rules table);
- a manager re-reading groups from storage every cycle, evaluating
  recording rules on their group interval, tracking per-rule health and
  serving the Prometheus /api/v1/rules listing (ref: ruler/manager.go);
- two evaluators running rule expressions as INSTANT queries against
  the reader — LogQL with a `vector(N)` constant shortcut
  (ref: ruler/logql_evaluator.go:18,44) and PromQL via the engine's
  instant-query path (ref: ruler/prom_evaluator.go:31).

Spark form: the store is an append-only parquet table with
last-`updated_at`-wins dedup on read — the same ReplacingMergeTree
translation as `Catalog.read_series` and the settings KV
(storage/maintenance.py). Soft deletes stay soft: a tombstone row with
is_valid=0 out-versions the live row, exactly the reference's
"avoid mutations" design (service.go:63-69). DeleteNamespace writes all
tombstones in ONE parquet append, mirroring the single
INSERT ... SELECT the reference uses for atomicity (service.go:76-88).

The manager is tick-driven rather than ticker-goroutine-driven — the
host (gateway thread, test, notebook) owns the cadence, and each tick
re-reads the store so CRUD takes effect without restart, like
manager.go:197 evaluateInterval's per-cycle re-read.
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import yaml

# Go time.ParseDuration unit table (ref: manager.go intervals are parsed
# with time.ParseDuration — plain numbers are INVALID and the group is
# skipped, manager.go:124-128).
_GO_UNITS_NS = {
    "ns": 1,
    "us": 1_000,
    "µs": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60_000_000_000,
    "h": 3_600_000_000_000,
}

_GO_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")

# ref: ruler/logql_evaluator.go:18 — the synthetic constant vector(N) is
# answered directly without hitting the backend.
_VECTOR_RE = re.compile(r"(?i)^\s*vector\(\s*([0-9.]+)\s*\)\s*$")

# Go's zero time.Time in RFC3339Nano — what GetPrometheusRules reports
# for a rule that has never been evaluated (ref: manager.go:285).
_ZERO_TIME = "0001-01-01T00:00:00Z"


def parse_go_duration_ns(tok: str) -> int | None:
    """time.ParseDuration subset: `None` for invalid (incl. bare
    numbers), matching the reference's skip-on-error behavior."""
    if not tok or not _GO_DURATION_RE.match(tok):
        return None
    consumed = _GO_DURATION_RE.sub("", tok)
    if consumed not in ("", "-", "+"):
        return None
    total = 0
    for m in _GO_DURATION_RE.finditer(tok):
        total += int(float(m.group(1)) * _GO_UNITS_NS[m.group(2)])
    return total


# --------------------------------------------------------------- model


@dataclass
class Rule:
    """One recording or alerting rule (ref: ruler/model.go Rule).

    Only recording rules (non-empty `record`) are evaluated; alerting
    rules are accepted and stored but never run (model.go:5-8)."""

    record: str = ""
    alert: str = ""
    expr: str = ""
    for_: str = ""
    labels: dict[str, str] = field(default_factory=dict)
    annotations: dict[str, str] = field(default_factory=dict)

    @property
    def is_recording(self) -> bool:
        return self.record != ""

    def to_dict(self) -> dict:
        # yaml omitempty parity (model.go struct tags)
        out: dict = {}
        if self.record:
            out["record"] = self.record
        if self.alert:
            out["alert"] = self.alert
        out["expr"] = self.expr
        if self.for_:
            out["for"] = self.for_
        if self.labels:
            out["labels"] = dict(self.labels)
        if self.annotations:
            out["annotations"] = dict(self.annotations)
        return out

    @classmethod
    def from_dict(cls, d: dict) -> "Rule":
        return cls(
            record=str(d.get("record") or ""),
            alert=str(d.get("alert") or ""),
            expr=str(d.get("expr") or ""),
            for_=str(d.get("for") or ""),
            labels={str(k): str(v) for k, v in (d.get("labels") or {}).items()},
            annotations={
                str(k): str(v) for k, v in (d.get("annotations") or {}).items()
            },
        )


@dataclass
class RuleGroup:
    """A named rule collection sharing one evaluation interval — the
    unit of the HTTP CRUD API (ref: ruler/model.go RuleGroup)."""

    name: str
    interval: str = ""
    rules: list[Rule] = field(default_factory=list)

    def to_dict(self) -> dict:
        out: dict = {"name": self.name}
        if self.interval:
            out["interval"] = self.interval
        out["rules"] = [r.to_dict() for r in self.rules]
        return out

    @classmethod
    def from_dict(cls, d: dict) -> "RuleGroup":
        return cls(
            name=str(d.get("name") or ""),
            interval=str(d.get("interval") or ""),
            rules=[Rule.from_dict(r) for r in (d.get("rules") or [])],
        )


def group_to_yaml(group: RuleGroup) -> str:
    return yaml.safe_dump(group.to_dict(), sort_keys=False)


def group_from_yaml(text: str) -> RuleGroup:
    data = yaml.safe_load(text)
    if not isinstance(data, dict):
        raise ValueError("rule group yaml must be a mapping")
    return RuleGroup.from_dict(data)


# --------------------------------------------------------------- store

class RuleStore:
    """Rule-group persistence for one rule type ("loki" or "prom"),
    so both rule sets coexist in one table (ref: ruler/service.go:22).

    Append-only parquet + last-version-wins read = ReplacingMergeTree
    keyed (namespace, group_name, type) (service.go:43). Single-tenant
    like the reference: no org/oid column participates (service.go:24).

    I/O is DRIVER-SIDE pyarrow, not Spark jobs: rules are config-plane
    data — kilobytes bounded by rule count, not data volume — and the
    reference likewise writes them with a single-row INSERT outside any
    query pipeline. A Spark job per CRUD call would put multi-second
    scheduler overhead on every gateway POST /rules. The on-disk layout
    stays ordinary parquet in the catalog, so Spark (or anything else)
    can still read the table. Appends write to a temp name then
    os.rename, so a concurrent reader never sees a partial file."""

    def __init__(self, spark: SparkSession, catalog, rule_type: str):
        self.spark = spark  # kept for API symmetry; config I/O is driver-side
        self.catalog = catalog
        self.rule_type = rule_type

    def _path(self) -> str:
        return self.catalog.path("rules")

    def _append(self, rows: list[tuple]) -> None:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows))
        table = pa.table(
            {
                "namespace": pa.array(cols[0], pa.string()),
                "group_name": pa.array(cols[1], pa.string()),
                "config": pa.array(cols[2], pa.string()),
                "updated_at_ns": pa.array(cols[3], pa.int64()),
                "is_valid": pa.array(cols[4], pa.int32()),
                "type": pa.array(cols[5], pa.string()),
            }
        )
        os.makedirs(self._path(), exist_ok=True)
        name = f"part-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self._path(), "." + name + ".tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self._path(), name))

    def set_rule_group(self, namespace: str, group: RuleGroup) -> None:
        """Insert the latest version of a group (service.go:43-60).

        Zero "for" durations are normalized away so they don't
        round-trip as "0s" (service.go:45-49)."""
        for r in group.rules:
            if r.for_ in ("0s", "0"):
                r.for_ = ""
        self._append(
            [
                (
                    namespace,
                    group.name,
                    group_to_yaml(group),
                    time.time_ns(),
                    1,
                    self.rule_type,
                )
            ]
        )

    def delete_rule_group(self, namespace: str, group_name: str) -> None:
        """Soft delete: an is_valid=0 tombstone out-versions the live
        row (service.go:63-73)."""
        self._append(
            [(namespace, group_name, "", time.time_ns(), 0, self.rule_type)]
        )

    def delete_namespace(self, namespace: str) -> None:
        """Tombstone every currently-valid group in the namespace in a
        single append — the reference's one INSERT ... SELECT keeps the
        delete atomic (service.go:76-88)."""
        current = self._current()
        names = [
            r["group_name"]
            for r in current
            if r["namespace"] == namespace
        ]
        if not names:
            return
        now = time.time_ns()
        self._append(
            [(namespace, n, "", now, 0, self.rule_type) for n in names]
        )

    def _current(self) -> list[dict]:
        """Live groups: last updated_at wins per (namespace, group_name,
        type), tombstones filtered AFTER the dedup so a newer tombstone
        hides the older live row (the FINAL + is_valid=1 read shape,
        service.go:94-100). Driver-side read — see the class docstring."""
        import os

        import pyarrow.parquet as pq

        path = self._path()
        if not os.path.isdir(path):
            return []
        latest: dict[tuple[str, str], dict] = {}
        for fname in os.listdir(path):
            if not fname.endswith(".parquet"):
                continue
            try:
                tbl = pq.read_table(os.path.join(path, fname))
            except Exception:
                continue  # partial file from a crashed writer: skip
            for r in tbl.to_pylist():
                if r["type"] != self.rule_type:
                    continue
                key = (r["namespace"], r["group_name"])
                prev = latest.get(key)
                if prev is None or r["updated_at_ns"] >= prev["updated_at_ns"]:
                    latest[key] = r
        return [r for r in latest.values() if r["is_valid"] == 1]

    def get_rule_group(
        self, namespace: str, group_name: str
    ) -> RuleGroup | None:
        for r in self._current():
            if r["namespace"] == namespace and r["group_name"] == group_name:
                return group_from_yaml(r["config"])
        return None

    def list_rule_groups(self, namespace: str) -> list[RuleGroup]:
        """All active groups in a namespace, newest first
        (service.go:117 ORDER BY updated_at DESC)."""
        rows = sorted(
            (r for r in self._current() if r["namespace"] == namespace),
            key=lambda r: -r["updated_at_ns"],
        )
        return [group_from_yaml(r["config"]) for r in rows]

    def get_all_rule_groups(self) -> dict[str, list[RuleGroup]]:
        """All active groups for this rule type, by namespace
        (service.go:147 ORDER BY namespace, updated_at DESC)."""
        rows = sorted(
            self._current(),
            key=lambda r: (r["namespace"], -r["updated_at_ns"]),
        )
        out: dict[str, list[RuleGroup]] = {}
        for r in rows:
            out.setdefault(r["namespace"], []).append(
                group_from_yaml(r["config"])
            )
        return out


# ---------------------------------------------------------- evaluators


def logql_rule_evaluator(engine) -> Callable[[str, int], DataFrame]:
    """LogQL recording rules run as instant queries via the reader path
    (ref: ruler/logql_evaluator.go:44 QueryInstant), with the
    `vector(N)` constant answered directly (logql_evaluator.go:50-57).

    Returns rows (labels map, timestamp_ns, value) — one latest sample
    per series, the instant-vector shape the writeback consumes.

    Instant semantics note: the engine evaluates range functions on the
    step grid, so "latest" is the last COMPLETED step at or before t —
    a recorded value can lag samples newer than that step boundary by
    up to one step and catches up on the next evaluation. The written
    sample keeps the step's own timestamp, so the recorded series stays
    internally consistent under that lag."""

    def evaluate(expr: str, now_ns: int) -> DataFrame:
        if not expr:
            raise ValueError("rule expression cannot be empty")
        m = _VECTOR_RE.match(expr)
        if m:
            return engine.spark.createDataFrame(
                [({}, now_ns, float(m.group(1)))],
                "labels map<string,string>, timestamp_ns long, value double",
            )
        df = engine.loki_query(expr, now_ns)
        return _latest_per_series(df, now_ns)

    return evaluate


def promql_rule_evaluator(engine) -> Callable[[str, int], DataFrame]:
    """PromQL recording rules run as instant queries via the engine's
    /api/v1/query path (ref: ruler/prom_evaluator.go:31-59). prom_query
    evaluates the rule at the tick's time — one row per series, stamped
    now_ns; scalar results come back as a single unlabelled row
    (prom_evaluator.go:55)."""

    def evaluate(expr: str, now_ns: int) -> DataFrame:
        if not expr:
            raise ValueError("rule expression cannot be empty")
        df = engine.prom_query(expr, now_ns)
        return _shape_vector(df, now_ns)

    return evaluate


def _shape_vector(df: DataFrame, now_ns: int) -> DataFrame:
    """Normalize an instant result to (labels, timestamp_ns, value)."""
    cols = df.columns
    labels = (
        F.coalesce(F.col("labels"), F.expr("map()"))
        if "labels" in cols
        else F.expr("map()")
    )
    ts = F.col("timestamp_ns") if "timestamp_ns" in cols else F.lit(now_ns)
    return df.select(
        labels.alias("labels"),
        ts.cast("long").alias("timestamp_ns"),
        F.col("value").cast("double").alias("value"),
    )


def _latest_per_series(df: DataFrame, now_ns: int) -> DataFrame:
    """Instant semantics over a matrix: keep the latest sample per
    series (the reference's QueryInstant evaluates one point at t)."""
    from gigapipe_spark.model.fingerprint import fingerprint_col

    shaped = _shape_vector(df, now_ns)
    if "value" not in df.columns:
        return shaped
    keyed = shaped.withColumn("__fp", fingerprint_col(F.col("labels")))
    return (
        keyed.groupBy("__fp")
        .agg(
            F.max_by("labels", "timestamp_ns").alias("labels"),
            F.max("timestamp_ns").alias("timestamp_ns"),
            F.max_by("value", "timestamp_ns").alias("value"),
        )
        .drop("__fp")
    )


# ------------------------------------------------------------- manager


def _health_key(namespace: str, group: str, record: str) -> str:
    # ref: manager.go:330 ruleHealthKey
    return f"{namespace}:{group}:{record}"


def _rfc3339(ns: int | None) -> str:
    if not ns:
        return _ZERO_TIME
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ns / 1e9, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.%f").rstrip("0").rstrip(".") + "Z"


class RuleManager:
    """Evaluate stored recording rules on their group interval and
    write results back (ref: ruler/manager.go RuleManager).

    Storage is re-read every tick so HTTP CRUD takes effect without
    restart (manager.go:197-204); health is in-memory, keyed
    namespace:group:record and pruned against the live rule set
    (manager.go:160-180); alerting rules are stored but never evaluated
    (model.go:5-8). Groups with an invalid interval are skipped, like
    the reference's updateRoutines (manager.go:124-128)."""

    def __init__(
        self,
        store: RuleStore,
        evaluator: Callable[[str, int], DataFrame],
        writer: Callable[[str, dict, DataFrame], None],
    ):
        self.store = store
        self.evaluator = evaluator
        self.writer = writer
        self.health: dict[str, dict] = {}
        self._last_group_run: dict[tuple[str, str], int] = {}

    def tick(self, now_ns: int | None = None) -> int:
        """One scheduler cycle: evaluate every recording rule whose
        group interval has elapsed. Returns the number of rules
        evaluated (errors count — they record health)."""
        now_ns = time.time_ns() if now_ns is None else now_ns
        groups = self.store.get_all_rule_groups()
        evaluated = 0
        for namespace, gs in groups.items():
            for g in gs:
                interval = parse_go_duration_ns(g.interval)
                if interval is None:
                    continue  # invalid interval: skipped, never due
                key = (namespace, g.name)
                last = self._last_group_run.get(key)
                if last is not None and now_ns - last < interval:
                    continue
                self._last_group_run[key] = now_ns
                for rule in g.rules:
                    if rule.is_recording:
                        self._evaluate(namespace, g.name, rule, now_ns)
                        evaluated += 1
        self._prune_health(groups)
        return evaluated

    def _evaluate(self, namespace: str, group: str, rule: Rule, now_ns: int):
        """ref: manager.go:224-249 evaluateRecordingRule — a failed
        evaluation records err health and writes nothing."""
        t0 = time.monotonic()
        key = _health_key(namespace, group, rule.record)
        try:
            vec = self.evaluator(rule.expr, now_ns)
            self.writer(rule.record, dict(rule.labels), vec)
        except Exception as e:
            self.health[key] = {
                "health": "err",
                "lastError": str(e),
                "lastEvaluation": now_ns,
                "evaluationTime": time.monotonic() - t0,
            }
            return
        self.health[key] = {
            "health": "ok",
            "lastError": "",
            "lastEvaluation": now_ns,
            "evaluationTime": time.monotonic() - t0,
        }

    def _prune_health(self, groups: dict[str, list[RuleGroup]]) -> None:
        valid = {
            _health_key(ns, g.name, r.record)
            for ns, gs in groups.items()
            for g in gs
            for r in g.rules
            if r.is_recording
        }
        for k in list(self.health):
            if k not in valid:
                del self.health[k]

    def get_prometheus_rules(self) -> list[dict]:
        """Recording rules in the Prometheus /api/v1/rules JSON format,
        annotated with evaluation health; group status derives from its
        rules' actual health (ref: manager.go:251-317: group
        lastEvaluation = max over rules, evaluationTime = sum; groups
        with no recording rules are omitted; invalid intervals report
        the 60s default)."""
        out = []
        for namespace, gs in self.store.get_all_rule_groups().items():
            for g in gs:
                rules_json = []
                group_last_ns = 0
                group_eval = 0.0
                for rule in g.rules:
                    if not rule.is_recording:
                        continue
                    h = self.health.get(
                        _health_key(namespace, g.name, rule.record), {}
                    )
                    last_ns = h.get("lastEvaluation", 0)
                    group_last_ns = max(group_last_ns, last_ns)
                    group_eval += h.get("evaluationTime", 0.0)
                    entry = {
                        "name": rule.record,
                        "query": rule.expr,
                        "health": h.get("health", "unknown"),
                        "lastError": h.get("lastError", ""),
                        "type": "recording",
                        "lastEvaluation": _rfc3339(last_ns),
                        "evaluationTime": h.get("evaluationTime", 0.0),
                    }
                    if rule.labels:
                        entry["labels"] = dict(rule.labels)
                    rules_json.append(entry)
                if not rules_json:
                    continue
                interval = parse_go_duration_ns(g.interval)
                out.append(
                    {
                        "name": g.name,
                        "file": namespace,
                        "rules": rules_json,
                        "interval": (
                            interval / 1e9 if interval is not None else 60.0
                        ),
                        "limit": 0,
                        "lastEvaluation": _rfc3339(group_last_ns),
                        "evaluationTime": group_eval,
                    }
                )
        return out


# ------------------------------------------------------------- wiring


def writeback_writer(catalog) -> Callable[[str, dict, DataFrame], None]:
    """The in-process writeback: rule results re-enter through the MV
    fan-out, the same path as any push, so series discovery and
    per-type rows apply to recorded series exactly like ingested ones
    (ref: ruler/writeback.go:20-58 — labels merge is sample labels,
    overridden by rule labels, overridden by __name__=record; no
    pattern mining, the ClusterLines hook sits in doParse which the
    writeback insert bypasses)."""
    from gigapipe_spark.model.fingerprint import fingerprint_col
    from gigapipe_spark.storage.writer import ingest_fanout

    def write(record: str, rule_labels: dict, vec: DataFrame) -> None:
        extra = [F.lit("__name__"), F.lit(record)]
        for k, v in rule_labels.items():
            extra += [F.lit(k), F.lit(v)]
        drop_keys = ["__name__", *rule_labels.keys()]
        labels = F.map_concat(
            F.map_filter(
                F.coalesce(F.col("labels"), F.expr("map()")),
                lambda k, v: ~k.isin(*drop_keys),
            ),
            F.create_map(*extra),
        )
        out = vec.select(
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
        # materialize ONCE: the rule query's lineage reads the whole
        # store — without the checkpoint the empty-check and the
        # fan-out would each re-run it (writeback.go:56 writes nothing
        # for an empty vector)
        out = out.localCheckpoint(eager=True)
        if not out.isEmpty():
            ingest_fanout(out, catalog, mine_patterns=False)

    return write


def store_rule_managers(
    spark: SparkSession, catalog, engine=None
) -> dict[str, RuleManager]:
    """Build the reference deployment's two managers — "loki" (LogQL)
    and "prom" (PromQL) rule sets over one rules table — wired to a
    store-backed engine and the in-process writeback
    (ref: ruler/router/init.go:88-103)."""
    if engine is None:
        from gigapipe_spark.storage.query import StoreEngine

        engine = StoreEngine(spark, catalog.root, catalog=catalog)
    writer = writeback_writer(catalog)
    return {
        "loki": RuleManager(
            RuleStore(spark, catalog, "loki"),
            logql_rule_evaluator(engine),
            writer,
        ),
        "prom": RuleManager(
            RuleStore(spark, catalog, "prom"),
            promql_rule_evaluator(engine),
            writer,
        ),
    }
