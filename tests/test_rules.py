"""Ruler rule-group store, manager and HTTP CRUD surface
(ref: ruler/service.go, manager.go, controller/controller.go,
router/router.go, logql_evaluator.go, prom_evaluator.go)."""

import json
import time
import urllib.error
import urllib.request

import pytest
import yaml

from gigapipe_spark.streaming.rules import (
    Rule,
    RuleGroup,
    RuleManager,
    RuleStore,
    group_from_yaml,
    group_to_yaml,
    logql_rule_evaluator,
    parse_go_duration_ns,
    promql_rule_evaluator,
    store_rule_managers,
)

T0 = 1_700_000_000_000_000_000


def _group(name="g1", interval="1m", record="job:rate", expr='vector(1)'):
    return RuleGroup(
        name=name,
        interval=interval,
        rules=[Rule(record=record, expr=expr, labels={"team": "sre"})],
    )


# ------------------------------------------------------------ duration


def test_go_duration_subset():
    # time.ParseDuration semantics: units required, compound ok
    assert parse_go_duration_ns("1m30s") == 90_000_000_000
    assert parse_go_duration_ns("15s") == 15_000_000_000
    assert parse_go_duration_ns("1h") == 3_600_000_000_000
    assert parse_go_duration_ns("30") is None  # bare number: invalid
    assert parse_go_duration_ns("") is None
    assert parse_go_duration_ns("fast") is None


# ---------------------------------------------------------------- yaml


def test_group_yaml_roundtrip_omitempty():
    g = RuleGroup(
        name="g",
        interval="30s",
        rules=[
            Rule(record="r", expr="vector(1)", labels={"a": "b"}),
            Rule(alert="noisy", expr="vector(2)", for_="5m"),
        ],
    )
    text = group_to_yaml(g)
    data = yaml.safe_load(text)
    # omitempty parity with the reference model (model.go struct tags)
    assert "alert" not in data["rules"][0]
    assert "for" not in data["rules"][0]
    assert "labels" not in data["rules"][1]
    back = group_from_yaml(text)
    assert back.name == "g" and back.interval == "30s"
    assert back.rules[0].record == "r" and back.rules[1].alert == "noisy"
    assert back.rules[1].for_ == "5m"


# --------------------------------------------------------------- store


@pytest.fixture()
def cat(tmp_path):
    from gigapipe_spark.storage.writer import Catalog

    return Catalog(str(tmp_path / "store"))


def test_store_crud_roundtrip(spark, cat):
    st = RuleStore(spark, cat, "loki")
    st.set_rule_group("ns1", _group("g1"))
    st.set_rule_group("ns1", _group("g2", record="other:sum"))
    st.set_rule_group("ns2", _group("g1", interval="30s"))

    g = st.get_rule_group("ns1", "g1")
    assert g is not None and g.rules[0].record == "job:rate"
    assert g.rules[0].labels == {"team": "sre"}

    assert {g.name for g in st.list_rule_groups("ns1")} == {"g1", "g2"}
    all_groups = st.get_all_rule_groups()
    assert set(all_groups) == {"ns1", "ns2"}
    assert all_groups["ns2"][0].interval == "30s"


def test_store_last_version_wins(spark, cat):
    st = RuleStore(spark, cat, "loki")
    st.set_rule_group("ns", _group("g", expr="vector(1)"))
    time.sleep(0.01)
    st.set_rule_group("ns", _group("g", expr="vector(2)"))
    g = st.get_rule_group("ns", "g")
    assert g.rules[0].expr == "vector(2)"
    # exactly one live row despite two versions
    assert len(st.list_rule_groups("ns")) == 1


def test_store_soft_delete_and_revive(spark, cat):
    st = RuleStore(spark, cat, "loki")
    st.set_rule_group("ns", _group("g"))
    time.sleep(0.01)
    st.delete_rule_group("ns", "g")
    assert st.get_rule_group("ns", "g") is None
    assert st.list_rule_groups("ns") == []
    # a newer set out-versions the tombstone (ReplacingMergeTree)
    time.sleep(0.01)
    st.set_rule_group("ns", _group("g", expr="vector(3)"))
    assert st.get_rule_group("ns", "g").rules[0].expr == "vector(3)"


def test_store_delete_namespace_atomic(spark, cat):
    st = RuleStore(spark, cat, "loki")
    st.set_rule_group("ns", _group("g1"))
    st.set_rule_group("ns", _group("g2"))
    st.set_rule_group("keep", _group("g3"))
    time.sleep(0.01)
    st.delete_namespace("ns")
    assert st.list_rule_groups("ns") == []
    assert len(st.list_rule_groups("keep")) == 1
    # idempotent on an already-empty namespace
    st.delete_namespace("ns")
    assert st.list_rule_groups("ns") == []


def test_store_types_coexist(spark, cat):
    # loki and prom rule sets share one table, scoped by type
    # (service.go:22); same ns/group name must not collide
    loki, prom = RuleStore(spark, cat, "loki"), RuleStore(spark, cat, "prom")
    loki.set_rule_group("ns", _group("g", expr="vector(1)"))
    prom.set_rule_group("ns", _group("g", expr="vector(2)"))
    assert loki.get_rule_group("ns", "g").rules[0].expr == "vector(1)"
    assert prom.get_rule_group("ns", "g").rules[0].expr == "vector(2)"
    time.sleep(0.01)
    loki.delete_namespace("ns")
    assert loki.get_rule_group("ns", "g") is None
    assert prom.get_rule_group("ns", "g").rules[0].expr == "vector(2)"


def test_store_for_normalization(spark, cat):
    # "0s"/"0" for durations don't round-trip (service.go:45-49)
    st = RuleStore(spark, cat, "loki")
    g = RuleGroup(
        name="g", interval="1m", rules=[Rule(record="r", expr="e", for_="0s")]
    )
    st.set_rule_group("ns", g)
    assert st.get_rule_group("ns", "g").rules[0].for_ == ""


# ------------------------------------------------------------- manager


def _seed_store(spark, cat, tp="loki"):
    st = RuleStore(spark, cat, tp)
    st.set_rule_group("ns", _group("g", interval="1s", expr="vector(7)"))
    return st


def test_manager_tick_evaluates_and_writes(spark, cat):
    st = _seed_store(spark, cat)
    written = []

    def writer(record, labels, vec):
        written.append((record, labels, vec.collect()))

    def evaluator(expr, now_ns):
        assert expr == "vector(7)"
        return spark.createDataFrame(
            [({}, now_ns, 7.0)],
            "labels map<string,string>, timestamp_ns long, value double",
        )

    mgr = RuleManager(st, evaluator, writer)
    assert mgr.tick(T0) == 1
    assert written[0][0] == "job:rate"
    assert written[0][1] == {"team": "sre"}
    assert written[0][2][0]["value"] == 7.0
    h = mgr.health["ns:g:job:rate"]
    assert h["health"] == "ok" and h["lastError"] == ""
    # within the interval: not due again
    assert mgr.tick(T0 + 500_000_000) == 0
    # past the interval: due
    assert mgr.tick(T0 + 1_500_000_000) == 1


def test_manager_error_records_health_writes_nothing(spark, cat):
    st = _seed_store(spark, cat)
    written = []

    def bad_evaluator(expr, now_ns):
        raise ValueError("boom")

    mgr = RuleManager(st, bad_evaluator, lambda *a: written.append(a))
    mgr.tick(T0)
    assert written == []
    h = mgr.health["ns:g:job:rate"]
    assert h["health"] == "err" and "boom" in h["lastError"]


def test_manager_skips_alerting_and_invalid_interval(spark, cat):
    st = RuleStore(spark, cat, "loki")
    st.set_rule_group(
        "ns",
        RuleGroup(
            name="alerts",
            interval="1s",
            rules=[Rule(alert="a", expr="vector(1)")],
        ),
    )
    st.set_rule_group(
        "ns",
        RuleGroup(
            name="bad-interval",
            interval="soon",
            rules=[Rule(record="r", expr="vector(1)")],
        ),
    )
    mgr = RuleManager(st, lambda *a: None, lambda *a: None)
    assert mgr.tick(T0) == 0


def test_manager_prune_health_after_delete(spark, cat):
    st = _seed_store(spark, cat)
    mgr = RuleManager(
        st,
        lambda e, t: None,
        lambda *a: None,
    )
    mgr.tick(T0)
    assert "ns:g:job:rate" in mgr.health
    time.sleep(0.01)
    st.delete_rule_group("ns", "g")
    mgr.tick(T0 + 2_000_000_000)
    # health pruned against the live rule set (manager.go:160-180)
    assert mgr.health == {}


def test_manager_prometheus_format(spark, cat):
    st = _seed_store(spark, cat)
    mgr = RuleManager(
        st,
        lambda e, t: None,
        lambda *a: None,
    )
    groups = mgr.get_prometheus_rules()
    assert len(groups) == 1
    g = groups[0]
    assert g["name"] == "g" and g["file"] == "ns" and g["interval"] == 1.0
    r = g["rules"][0]
    assert r["type"] == "recording" and r["health"] == "unknown"
    # never evaluated: Go's zero time (manager.go:285)
    assert r["lastEvaluation"] == "0001-01-01T00:00:00Z"
    mgr.tick(T0)
    g = mgr.get_prometheus_rules()[0]
    r = g["rules"][0]
    assert r["health"] == "ok"
    assert r["lastEvaluation"].startswith("2023-11-14T")
    assert g["lastEvaluation"] == r["lastEvaluation"]


# ---------------------------------------------------------- evaluators


def test_logql_evaluator_vector_shortcut(spark, cat):
    # vector(N) answered directly, no backend hit
    # (logql_evaluator.go:18,50-57)
    # only .spark is touched for vector() — no query path involved
    ev = logql_rule_evaluator(type("E", (), {"spark": spark})())
    rows = ev("Vector( 2.5 )", T0).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 2.5 and rows[0]["timestamp_ns"] == T0
    assert rows[0]["labels"] == {}


def _log_store_engine(spark, root):
    """A store with a few pushed log lines + a StoreEngine over it."""
    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    cat = Catalog(root)
    payload = json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": "web"},
                    "values": [
                        [str(T0 + i * 1_000_000_000), f"hit {i}"]
                        for i in range(10)
                    ],
                }
            ]
        }
    )
    df = spark.createDataFrame([(payload,)], "payload string")
    ingest_fanout(loki_push(df), cat)
    return StoreEngine(spark, root, catalog=cat), cat


@pytest.fixture(scope="module")
def seeded_engine(spark, tmp_path_factory):
    return _log_store_engine(
        spark, str(tmp_path_factory.mktemp("rulerstore") / "store")
    )


def test_store_managers_end_to_end(spark, seeded_engine):
    """Rules CRUD → tick → recorded series queryable via PromQL, the
    full writeback loop (writeback.go:20-58) under manager scheduling."""
    eng, cat = seeded_engine
    mgrs = store_rule_managers(spark, cat, eng)
    st = mgrs["loki"].store
    st.set_rule_group(
        "ns",
        RuleGroup(
            name="g",
            interval="1s",
            rules=[
                Rule(
                    record="web:lines:rate",
                    expr='sum(count_over_time({app="web"}[10s]))',
                    labels={"source": "ruler"},
                )
            ],
        ),
    )
    now_ns = T0 + 10_000_000_000
    assert mgrs["loki"].tick(now_ns) == 1
    h = mgrs["loki"].health["ns:g:web:lines:rate"]
    assert h["health"] == "ok", h["lastError"]

    # the recorded series re-entered via ingest_fanout: visible to a
    # fresh store-backed PromQL read
    from gigapipe_spark.storage.query import StoreEngine

    eng2 = StoreEngine(spark, cat.root, catalog=cat)
    rows = eng2.prom_query('{__name__="web:lines:rate"}', now_ns + 1).collect()
    assert len(rows) == 1
    labels = dict(rows[0]["labels"])
    assert labels["source"] == "ruler"
    assert rows[0]["value"] > 0


def test_ruler_writeback_visible_to_warm_engine(spark, tmp_path):
    """A recording rule's writeback bumps the store's mutation seq, so
    an engine whose PromQL context was warmed before the tick returns
    the recorded series on its next query — no push, no refresh call.
    The engine builds its rule managers once, even under racing
    callers (a request and the ruler thread)."""
    import sys
    import threading

    eng, _ = _log_store_engine(spark, str(tmp_path / "store"))
    record = '{__name__="web:lines:warm"}'
    now_ns = T0 + 10_000_000_000
    assert eng.prom_query(record, now_ns + 1).count() == 0  # warm, empty

    got = []
    callers = [
        threading.Thread(target=lambda: got.append(eng.rule_managers()))
        for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in callers:
            t.start()
        for t in callers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in callers)
    mgrs = eng.rule_managers()
    assert len(got) == 16 and all(m is mgrs for m in got)

    mgrs["loki"].store.set_rule_group(
        "ns",
        RuleGroup(
            name="g",
            interval="1s",
            rules=[
                Rule(
                    record="web:lines:warm",
                    expr='sum(count_over_time({app="web"}[10s]))',
                )
            ],
        ),
    )
    assert mgrs["loki"].tick(now_ns) == 1
    rows = eng.prom_query(record, now_ns + 1).collect()
    assert len(rows) == 1 and rows[0]["value"] > 0


# ------------------------------------------------------------- gateway


@pytest.fixture(scope="module")
def rules_gateway(spark, tmp_path_factory):
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path_factory.mktemp("rulesgw") / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng)
    port = gw.start()
    yield f"http://127.0.0.1:{port}"
    gw.stop()


def _req(base, path, method="GET", body=None):
    req = urllib.request.Request(base + path, data=body, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, r.headers.get("Content-Type", ""), r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read()


GROUP_YAML = b"""
name: gw-group
interval: 1m
rules:
  - record: job:up:sum
    expr: vector(1)
    labels:
      team: sre
"""


def test_gateway_rules_crud(rules_gateway):
    base = rules_gateway
    # empty store: YAML 404s (controller.go:85,105)
    st, ct, body = _req(base, "/loki/api/v1/rules")
    assert st == 404 and "yaml" in ct and b"no rule groups found" in body

    # create (202 + success envelope, controller.go:31,55)
    st, ct, body = _req(
        base, "/loki/api/v1/rules/team-a", "POST", GROUP_YAML
    )
    assert st == 202 and json.loads(body)["status"] == "success"

    # malformed yaml → 400 (controller.go:47-50)
    st, ct, body = _req(
        base, "/loki/api/v1/rules/team-a", "POST", b"{invalid: [yaml"
    )
    assert st == 400 and b"failed to parse rule group yaml" in body

    # read one group back (YAML)
    st, ct, body = _req(base, "/loki/api/v1/rules/team-a/gw-group")
    assert st == 200 and "yaml" in ct
    data = yaml.safe_load(body)
    assert data["name"] == "gw-group"
    assert data["rules"][0]["record"] == "job:up:sum"

    # namespace + all listings; /api/prom/rules is the same rule set
    # (router.go:17-18)
    st, _, body = _req(base, "/loki/api/v1/rules/team-a")
    assert st == 200 and yaml.safe_load(body)["team-a"][0]["name"] == "gw-group"
    st, _, body = _req(base, "/api/prom/rules")
    assert st == 200 and "team-a" in yaml.safe_load(body)

    # loki rules in Prometheus wire format (router.go:37)
    st, _, body = _req(base, "/prometheus/api/v1/rules")
    data = json.loads(body)
    assert st == 200 and data["status"] == "success"
    groups = data["data"]["groups"]
    assert groups[0]["file"] == "team-a" and groups[0]["interval"] == 60.0
    assert groups[0]["rules"][0]["health"] == "unknown"

    # the prom rule set is separate storage (service.go:22)
    st, _, body = _req(base, "/api/v1/rules")
    assert st == 200 and json.loads(body)["data"]["groups"] == []
    st, _, _ = _req(base, "/api/v1/rules/team-a")
    assert st == 404

    # delete the group; 404 + %q-style message afterwards
    # (controller.go:120-126, 64-67)
    st, _, body = _req(base, "/loki/api/v1/rules/team-a/gw-group", "DELETE")
    assert st == 202 and json.loads(body)["status"] == "success"
    st, ct, body = _req(base, "/loki/api/v1/rules/team-a/gw-group")
    assert st == 404 and b'namespace="team-a"' in body

    # namespace delete is idempotent and yields the namespace 404
    st, _, _ = _req(base, "/loki/api/v1/rules/team-a", "DELETE")
    assert st == 202
    st, _, body = _req(base, "/loki/api/v1/rules/team-a")
    assert st == 404 and b"no rule groups found" in body


def test_gateway_prom_ruleset_crud(rules_gateway):
    base = rules_gateway
    st, _, _ = _req(base, "/api/v1/rules/prom-ns", "POST", GROUP_YAML)
    assert st == 202
    st, _, body = _req(base, "/api/v1/rules/prom-ns/gw-group")
    assert st == 200 and yaml.safe_load(body)["name"] == "gw-group"
    # bare GET /api/v1/rules: Prometheus JSON, not YAML (router.go:28)
    st, ct, body = _req(base, "/api/v1/rules")
    assert st == 200 and "json" in ct
    assert json.loads(body)["data"]["groups"][0]["file"] == "prom-ns"
    st, _, _ = _req(base, "/api/v1/rules/prom-ns", "DELETE")
    assert st == 202


def test_gateway_ruler_poll_loop(spark, tmp_path_factory):
    """HttpGateway(ruler_poll_sec=...) runs the manager loop like the
    reference's ticker goroutines: a POSTed rule group evaluates
    without any explicit tick call."""
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path_factory.mktemp("rulesloop") / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng, ruler_poll_sec=0.2)
    base = f"http://127.0.0.1:{gw.start()}"
    try:
        st, _, _ = _req(
            base,
            "/loki/api/v1/rules/loop-ns",
            "POST",
            b"name: g\ninterval: 1s\nrules:\n  - record: const:one\n"
            b"    expr: vector(1)\n",
        )
        assert st == 202
        deadline = time.monotonic() + 30
        health = {}
        while time.monotonic() < deadline:
            st, _, body = _req(base, "/prometheus/api/v1/rules")
            groups = json.loads(body)["data"]["groups"]
            if groups and groups[0]["rules"][0]["health"] == "ok":
                health = groups[0]["rules"][0]
                break
            time.sleep(0.3)
        assert health.get("health") == "ok", health
        assert health["lastEvaluation"] != "0001-01-01T00:00:00Z"
    finally:
        gw.stop()
