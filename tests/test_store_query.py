"""End-to-end: wire payload → decoder → MV fan-out → LogQL/PromQL over
the STORED tables (the reference loop, reader/service/* over the
writer's tables)."""

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gigapipe_spark.logql.compiler import query_range
from gigapipe_spark.promql.compiler import query as promql_query
from gigapipe_spark.sources import ingest
from gigapipe_spark.storage.query import (
    store_logql_context,
    store_promql_context,
)
from gigapipe_spark.storage.writer import Catalog, ingest_fanout

T0 = 1_700_000_000_000_000_000
S = 1_000_000_000


def _seed(spark, tmp_path) -> Catalog:
    streams = [
        {
            "stream": {"app": "web"},
            # values triples: line+value → type 0 (log AND metric)
            "values": [
                [str(T0 + i * 10_000_000_000), f"hit {i}", float(i)]
                for i in range(6)
            ],
        },
        {
            "stream": {"app": "db"},
            "values": [[str(T0 + 5_000_000_000), "slow query"]],
        },
    ]
    raw = spark.createDataFrame(
        [(json.dumps({"streams": streams}),)], "payload string"
    )
    cat = Catalog(str(tmp_path / "store"))
    ingest_fanout(ingest.loki_push(raw), cat)
    return cat


def test_store_logql_selector_and_pipeline(spark, tmp_path):
    cat = _seed(spark, tmp_path)
    ctx = store_logql_context(spark, cat)
    res = query_range(ctx, '{app="web"}', direction="forward")
    rows = res.df.collect()
    assert [r["string"] for r in rows] == [f"hit {i}" for i in range(6)]
    # bare selector scans prune the series join (labels None by design);
    # the discovered service_name lives on the stored series dimension
    series = {
        r["labels"]["app"]: r["labels"] for r in cat.read_series(spark).collect()
    }
    assert series["web"]["service_name"] == "web"
    filtered = query_range(ctx, '{app="web"} |= "hit 3"').df.collect()
    assert len(filtered) == 1
    # selector miss via the stored GIN
    assert query_range(ctx, '{app="nope"}').df.count() == 0


def test_store_logql_time_bound_prunes_partitions(spark, tmp_path):
    cat = _seed(spark, tmp_path)
    ctx = store_logql_context(spark, cat)
    rows = query_range(
        ctx,
        '{app="web"}',
        start_ns=T0 + 20_000_000_000,
        end_ns=T0 + 40_000_000_000,
        direction="forward",
    ).df.collect()
    assert [r["string"] for r in rows] == ["hit 2", "hit 3"]
    # the raw-ts predicate must reach the stored parquet scan
    plan = ctx.samples()._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_store_promql_instant(spark, tmp_path):
    cat = _seed(spark, tmp_path)
    ctx = store_promql_context(
        spark, cat, start_ns=T0, end_ns=T0 + 60_000_000_000
    )
    # type-0 rows serve as metrics too (reference planners: type IN (0,2))
    df = promql_query(ctx, '{app="web"}')
    vals = {r["timestamp_ns"]: r["value"] for r in df.collect()}
    assert vals  # instant vector materialized from the store
    assert max(vals.values()) == 5.0  # last written sample value


def test_store_promql_rate_over_stored_counter(spark, tmp_path):
    cat = _seed(spark, tmp_path)
    ctx = store_promql_context(
        spark, cat, start_ns=T0 + 50_000_000_000, end_ns=T0 + 60_000_000_000,
        use_rollup=False,
    )
    df = promql_query(ctx, 'rate({app="web"}[50s])')
    vals = [r["value"] for r in df.collect()]
    assert vals
    # counter increases 1/10s → a fully-populated 50s window sees 0.08/s
    # ((last-first)/range with no resets); every window is non-negative
    assert max(vals) > 0 and all(v >= 0 for v in vals)


def test_store_traceql(spark, tmp_path):
    from gigapipe_spark.storage.query import store_traceql_context
    from gigapipe_spark.storage.writer import spans_fanout
    from gigapipe_spark.traceql.compiler import query as traceql_query

    payload = json.dumps(
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
    cat = Catalog(str(tmp_path / "store"))
    spans_fanout(
        ingest.zipkin_spans(
            spark.createDataFrame([(payload,)], "payload string")
        ),
        cat,
    )
    ctx = store_traceql_context(spark, cat)
    err = traceql_query(ctx, "{ status = error }").collect()
    assert len(err) == 1 and err[0]["span_id"] == "b1".rjust(16, "0")
    # structural: ancestor-with-error >> descendant over the stored closure
    desc = traceql_query(ctx, "{ status = error } &>> { name = `select` }").collect()
    assert len(desc) == 1 and desc[0]["span_id"] == "b2".rjust(16, "0")
    # intrinsic-only fast path over the stored fact table
    dur = traceql_query(ctx, "{ duration > 1ms }").collect()
    assert {r["span_id"] for r in dur} == {"b1".rjust(16, "0")}
    # MIXED intrinsic+attr selector: the stored attr map has no name/
    # service.name entries, so intrinsics must resolve against spans
    # columns (returned 0 rows before round 12)
    mixed = traceql_query(
        ctx, '{ status = error && name = `get /` }'
    ).collect()
    assert {r["span_id"] for r in mixed} == {"b1".rjust(16, "0")}
    # ||-arm matched by an intrinsic ALONE must include spans with no
    # attr row at all (b2 carries zero tags)
    mixed_or = traceql_query(
        ctx, '{ status = error || name = `select` }'
    ).collect()
    assert {r["span_id"] for r in mixed_or} == {
        "b1".rjust(16, "0"), "b2".rjust(16, "0")
    }


def test_store_engine_endpoints(spark, tmp_path):
    """The endpoint facade over a written store: labels/values/series/
    query_range/index stats all read the fan-out tables."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    keys = {r["key"] for r in eng.loki_labels().collect()}
    assert {"app", "service_name"} <= keys
    vals = {r["val"] for r in eng.loki_label_values("app").collect()}
    assert vals == {"web", "db"}
    assert eng.loki_series('{app="web"}').count() == 1
    rows = eng.loki_query_range('{app="web"}', limit=2).collect()
    assert len(rows) == 2
    st = eng.loki_index_stats().collect()[0]
    assert st["streams"] == 2 and st["entries"] == 7
    # prometheus over the same store: type-0 rows serve as metrics
    inst = eng.prom_query('{app="web"}', T0 + 60 * S)
    assert inst.count() >= 1
    # metadata comes from the STORED column (none ingested here → empty)
    assert eng.prom_metadata().count() == 0
    import pytest as _pytest

    # no profiles were ingested into this store → clear error, not a
    # silent fixture-view fallback
    with _pytest.raises(FileNotFoundError, match="profiles_folded"):
        eng.pyroscope_render()


def test_store_engine_sees_foreign_catalog_append(spark, tmp_path):
    """Warm LogQL and PromQL queries pick up rows a separate Catalog on
    the same root appended, with no refresh call: the append bumps the
    store's mutation seq and the next context build re-lists files."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    warm = eng._store()
    assert eng.loki_query_range('{app="db"}').count() == 1
    assert eng.prom_query('{app="web"}', T0 + 60 * S).count() == 1
    assert eng._store() is warm  # unchanged store: table cache kept

    streams = [
        {"stream": {"app": "db"},
         "values": [[str(T0 + 7_000_000_000), "slower query"]]},
        {"stream": {"app": "cache"},
         "values": [[str(T0 + 8_000_000_000), "miss", 1.0]]},
    ]
    raw = spark.createDataFrame(
        [(json.dumps({"streams": streams}),)], "payload string"
    )
    ingest_fanout(ingest.loki_push(raw), Catalog(cat.root))

    lines = {r["string"] for r in eng.loki_query_range('{app="db"}').collect()}
    assert lines == {"slow query", "slower query"}
    assert eng.prom_query('{app="cache"}', T0 + 60 * S).count() == 1
    assert eng._store() is not warm


def test_store_rollup_partials_merge_across_flushes(spark, tmp_path):
    """Two ingest flushes touching the SAME 15s cell store partials; the
    read-side merge reconstructs the exact cell (counter partials
    included) and PromQL's rollup path reads it."""
    cat = Catalog(str(tmp_path / "store"))
    for half in (range(0, 3), range(3, 6)):
        streams = [
            {
                "stream": {"app": "web"},
                "values": [
                    [str(T0 + i * 2_000_000_000), f"v{i}", float(i)]
                    for i in half
                ],
            }
        ]
        raw = spark.createDataFrame(
            [(json.dumps({"streams": streams}),)], "payload string"
        )
        ingest_fanout(ingest.loki_push(raw), cat)
    cells = cat.read_rollup(spark).collect()
    bucket0 = T0 - T0 % 15_000_000_000  # T0 sits 5s into its cell
    one = [c for c in cells if c["timestamp_ns"] == bucket0]
    assert len(one) == 1
    c = one[0]
    # samples 0..4 (at +0..+8s) land in the first cell, crossing the
    # flush boundary at sample 3 — the partials merged back exactly
    assert c["count"] == 5 and c["first"] == 0.0 and c["last"] == 4.0
    assert c["sum"] == 10.0 and c["resets"] == 0.0 and c["changes"] == 4.0
    nxt = [c for c in cells if c["timestamp_ns"] == bucket0 + 15_000_000_000]
    assert len(nxt) == 1 and nxt[0]["count"] == 1 and nxt[0]["last"] == 5.0
    ctx = store_promql_context(
        spark, cat, start_ns=T0, end_ns=T0 + 60_000_000_000
    )
    assert ctx.rollup().count() == len(cells)


def test_store_engine_tempo(spark, tmp_path):
    """tempo_search + trace-by-id through the StoreEngine read the
    spans_fanout tables."""
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import spans_fanout

    payload = json.dumps(
        [
            {"id": "b1", "traceId": "a1", "name": "root",
             "timestamp": 1700000000000000, "duration": 2000,
             "localEndpoint": {"serviceName": "web"},
             "tags": {"otel.status_code": "ERROR"}},
            {"id": "b2", "traceId": "a1", "parentId": "b1", "name": "leaf",
             "timestamp": 1700000000000500, "duration": 700,
             "localEndpoint": {"serviceName": "db"}},
        ]
    )
    cat = Catalog(str(tmp_path / "store"))
    spans_fanout(
        ingest.zipkin_spans(
            spark.createDataFrame([(payload,)], "payload string")
        ),
        cat,
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    res = eng.tempo_search("{ status = error }").collect()
    assert len(res) == 1
    tid = res[0]["trace_id"]
    assert tid == "a1".rjust(32, "0")
    spans = eng.tempo_trace(tid).collect()
    assert [r["name"] for r in spans] == ["root", "leaf"]  # root first
    tags = {r["key"] for r in eng.tempo_tags().collect()}
    assert {"status", "name", "service.name"} <= tags


def _push_spans(spark, cat, trace, tier, flags):
    """One trace: a root span tagged `tier` with one child per flag."""
    from gigapipe_spark.storage.writer import spans_fanout

    t = 1700000000000000
    spans = [{"id": f"{trace}0", "traceId": trace, "name": "root",
              "timestamp": t, "duration": 2000,
              "localEndpoint": {"serviceName": "web"},
              "tags": {"tier": tier}}]
    spans += [{"id": f"{trace}{i + 1}", "traceId": trace, "parentId": f"{trace}0",
               "name": "leaf", "timestamp": t + 100 * (i + 1), "duration": 50,
               "localEndpoint": {"serviceName": "db"}, "tags": {"flag": f}}
              for i, f in enumerate(flags)]
    payload = spark.createDataFrame([(json.dumps(spans),)], "payload string")
    spans_fanout(ingest.zipkin_spans(payload), cat)


def test_store_engine_probe_verdict_per_spanset_and_seq(spark, tmp_path, monkeypatch):
    """On a StoreEngine each structural search decides its strategy
    gates on its OWN spanset's probe verdict, and the verdict is cached
    with the per-seq tables it counts: a repeated query does not
    re-probe, a push that moves the mutation seq does (and sees the
    pushed rows)."""
    import gigapipe_spark.traceql.compiler as C
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.traceql.parser import parse

    gold = '{ tier = "gold" } &>> { flag = "R" }'
    silver = '{ tier = "silver" } &>> { flag = "A" }'
    a, b = repr(parse(gold).spanset), repr(parse(silver).spanset)
    cat = Catalog(str(tmp_path / "store"))
    _push_spans(spark, cat, "a1", "gold", ["R", "R", "R"])
    _push_spans(spark, cat, "a2", "silver", ["A"])
    eng = StoreEngine(spark, cat.root, catalog=cat)

    probes, seen = [], []
    real_eval, real_bound = C.eval_complexity, C._probe_bound

    def eval_spy(c, spanset):
        probes.append(repr(spanset))
        return real_eval(c, spanset)

    def bound_spy(c):
        out = real_bound(c)
        seen.append((repr(c.pending_spanset), c.complexity))
        return out

    monkeypatch.setattr(C, "eval_complexity", eval_spy)
    monkeypatch.setattr(C, "_probe_bound", bound_spy)

    # (a) each spanset is probed, and decides on its own verdict: the
    # any-term upper bound is 3 flag=R rows vs 1 row per silver term
    assert len(eng.tempo_search(gold).collect()) == 1
    assert len(eng.tempo_search(silver).collect()) == 1
    assert probes == [a, b]
    assert seen and set(seen) == {(a, 3), (b, 1)}
    # (b) same seq: the verdict is served from the table cache
    seen.clear()
    eng.tempo_search(gold)
    assert probes == [a, b] and set(seen) == {(a, 3)}
    # a push moves the seq: the next query re-probes the new tables
    seen.clear()
    _push_spans(spark, cat, "a3", "gold", ["R", "R"])
    assert len(eng.tempo_search(gold).collect()) == 2
    assert probes == [a, b, a] and set(seen) == {(a, 5)}


def _folded_profiles_seed(spark, tmp_path):
    """Two services × two envs of folded-stack profiles → profiles_fanout
    with the stored tree layout (profiles.sql:118-119)."""
    from gigapipe_spark.sources.ingest import folded_profiles_input
    from gigapipe_spark.storage.writer import profiles_fanout

    rows = []
    for i, (svc, env) in enumerate(
        [("api", "prod"), ("api", "dev"), ("worker", "prod")]
    ):
        pid = f"p{i}"
        for line, mult in [("main;handle 10", 1), ("main;handle;db 5", 1)]:
            stack, val = line.rsplit(" ", 1)
            rows.append(
                (
                    pid,
                    T0 + i * 1_000_000_000,
                    "process_cpu",
                    svc,
                    "cpu",
                    "nanoseconds",
                    {"env": env, "svc": svc},
                    1_000_000,
                    f"{stack} {int(val) * (i + 1)}",
                )
            )
    folded = spark.createDataFrame(
        rows,
        "profile_id string, timestamp_ns long, type string,"
        " service_name string, period_type string, period_unit string,"
        " tags map<string,string>, duration_ns long, line string",
    )
    batch = folded_profiles_input(folded, "cpu", "nanoseconds")
    cat = Catalog(str(tmp_path / "profstore"))
    profiles_fanout(batch.coalesce(1), cat)
    return cat


def test_store_pyroscope_selector_scoped_render(spark, tmp_path):
    """Round-5 gap closed: label-selector scoping through the stored
    profiles_series_gin + render from the stored tree layout
    (planner_selector.go:12 + planner_merge_raw.go:11)."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = _folded_profiles_seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)

    def total(levels):
        return sum(d["total"] for d in levels[0]) if levels else 0

    # unscoped: all three profiles merge (10+5)*(1+2+3) at the root
    assert total(eng.pyroscope_render()) == 90
    # selector scoping via the stored GIN
    assert total(eng.pyroscope_render(selector='{env="prod"}')) == 60
    assert total(eng.pyroscope_render(selector='{env="dev"}')) == 30
    # global pseudo-label + kv matcher combined
    assert (
        total(
            eng.pyroscope_render(
                selector='{service_name="api", env="prod"}'
            )
        )
        == 15
    )
    # type id scopes series AND value slot; wrong type → empty
    tid = "process_cpu:cpu:nanoseconds:cpu:nanoseconds"
    assert total(eng.pyroscope_render(profile_type_id=tid)) == 90
    wrong = "process_cpu:alloc:bytes:cpu:nanoseconds"
    assert total(eng.pyroscope_render(profile_type_id=wrong)) == 0
    # combined type{selector} query string (detachTypeId, prof.go:686)
    assert total(eng.pyroscope_render(selector=tid + '{env="dev"}')) == 30
    # function names survive to the merged rows
    from gigapipe_spark.prof.tree import merge_trees, resolve_functions

    prof = eng._stored_profiles(None, '{env="prod"}', None)
    named = {
        r["fn_name"]
        for r in resolve_functions(merge_trees(prof), prof).collect()
    }
    assert named == {"main", "handle", "db"}
    # diff over the stored tree layout
    diff = {
        r["fn_id"]: r
        for r in eng.pyroscope_render_diff("api", "worker").collect()
    }
    assert len(diff) == 3


def test_store_pyroscope_pprof_end_to_end(spark, tmp_path):
    """pprof BYTES → pprof_folded → folded_profiles_input →
    profiles_fanout → selector-scoped store render."""
    import gzip

    from gigapipe_spark.sources import protowire as pw
    from gigapipe_spark.sources.ingest import folded_profiles_input
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import profiles_fanout

    # reuse the wire-level fixture builder shape from test_protowire
    strings = [b"", b"main", b"foo", b"bar"]
    funcs = [pw.pb_encode([(1, 0, i + 1), (2, 0, i + 1)]) for i in range(3)]
    locs = [
        pw.pb_encode([(1, 0, i + 1), (4, 2, pw.pb_encode([(1, 0, i + 1)]))])
        for i in range(3)
    ]
    s1 = pw.pb_encode([(1, 0, 2), (1, 0, 1), (2, 0, 5)])
    s2 = pw.pb_encode([(1, 0, 3), (1, 0, 2), (1, 0, 1), (2, 0, 7)])
    fields = [(2, 2, s1), (2, 2, s2)]
    fields += [(4, 2, l) for l in locs]
    fields += [(5, 2, f) for f in funcs]
    fields += [(6, 2, s) for s in strings]
    body = gzip.compress(pw.pb_encode(fields))

    raw = spark.createDataFrame(
        [("p1", bytearray(body))], "profile_id string, payload binary"
    )
    folded = pw.pprof_folded(raw).select(
        "profile_id",
        F.lit(T0).alias("timestamp_ns"),
        F.lit("process_cpu").alias("type"),
        F.lit("api").alias("service_name"),
        F.lit("cpu").alias("period_type"),
        F.lit("nanoseconds").alias("period_unit"),
        F.create_map(F.lit("env"), F.lit("prod")).alias("tags"),
        F.lit(0).cast("long").alias("duration_ns"),
        "line",
    )
    cat = Catalog(str(tmp_path / "pprofstore"))
    profiles_fanout(
        folded_profiles_input(folded, "cpu", "nanoseconds").coalesce(1), cat
    )
    eng = StoreEngine(spark, cat.root, catalog=cat)
    levels = eng.pyroscope_render(selector='{env="prod"}')
    by_name_total = sum(d["total"] for d in levels[0])
    assert by_name_total == 12  # main subtree: 5 + 7
    assert eng.pyroscope_render(selector='{env="staging"}') == []


def test_oid_multi_tenant_isolation(spark, tmp_path):
    """Reference parity: every stored table carries the org id and
    leads its partition spec with it (traces.sql:8,18-19; log.sql:22),
    so one store root serves isolated tenants."""
    root = str(tmp_path / "mt")

    def push(oid, app, line):
        payload = json.dumps(
            {
                "streams": [
                    {"stream": {"app": app}, "values": [[str(T0), line]]}
                ]
            }
        )
        raw = spark.createDataFrame([(payload,)], "payload string")
        cat = Catalog(root, oid=oid)
        ingest_fanout(ingest.loki_push(raw).coalesce(1), cat)
        return cat

    cat_a = push("0", "web", "tenant a line")
    cat_b = push("acme", "web", "tenant b line")

    # physical layout: oid leads the partition dirs
    import os

    assert sorted(
        n for n in os.listdir(cat_a.path("samples")) if n.startswith("oid=")
    ) == ["oid=0", "oid=acme"]

    # reads are tenant-scoped end-to-end
    ctx_a = store_logql_context(spark, cat_a)
    ctx_b = store_logql_context(spark, cat_b)
    rows_a = query_range(ctx_a, '{app="web"}').df.collect()
    rows_b = query_range(ctx_b, '{app="web"}').df.collect()
    assert [r["string"] for r in rows_a] == ["tenant a line"]
    assert [r["string"] for r in rows_b] == ["tenant b line"]
    assert cat_a.read_series(spark).count() == 1
    assert cat_b.read_series(spark).count() == 1
    # unknown tenant sees nothing
    assert Catalog(root, oid="ghost").read(spark, "samples").count() == 0


def test_oid_rotation_preserves_tenant_level(spark, tmp_path):
    """TTL rotation walks the oid-led layout and keeps the tenant level
    in tier moves."""
    import datetime
    import os

    from gigapipe_spark.storage.maintenance import (
        RotatePolicy,
        rotate,
        tier_root,
    )

    root = str(tmp_path / "rotstore")
    old_ns = int(
        datetime.datetime(
            2023, 1, 1, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1e9
    )
    for oid in ("0", "acme"):
        payload = json.dumps(
            {
                "streams": [
                    {"stream": {"app": "w"}, "values": [[str(old_ns), "x"]]}
                ]
            }
        )
        raw = spark.createDataFrame([(payload,)], "payload string")
        ingest_fanout(
            ingest.loki_push(raw).coalesce(1), Catalog(root, oid=oid)
        )
    cat = Catalog(root)
    res = rotate(
        spark,
        cat,
        drop_days=10_000,
        policies=(RotatePolicy(ttl_days=30, move_to="cold"),),
        tables=("samples",),
    )
    assert len(res["moved"]) == 2  # one date partition per tenant
    cold = os.path.join(tier_root(cat, "cold"), "samples")
    assert sorted(os.listdir(cold)) == ["oid=0", "oid=acme"]


def test_store_pyroscope_planner_endpoints(spark, tmp_path):
    """Round-6: the full querier.v1 planner surface over the STORED
    profiles tables (label names/values, select-series, series,
    profile-types, stats, analyze, merge, dot)."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = _folded_profiles_seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)

    names = {r["key"] for r in eng.pyroscope_label_names().collect()}
    # series tags + the writer-appended service_name (profiles.sql:78)
    assert names == {"env", "svc", "service_name"}
    vals = {r["val"] for r in eng.pyroscope_label_values("env").collect()}
    assert vals == {"prod", "dev"}
    scoped = {
        r["val"]
        for r in eng.pyroscope_label_values(
            "env", ['{service_name="worker"}']
        ).collect()
    }
    assert scoped == {"prod"}

    rows = eng.pyroscope_series(['{env="prod"}']).collect()
    assert len(rows) == 2  # api+prod, worker+prod
    assert all(r["labels"]["env"] == "prod" for r in rows)

    ss = eng.pyroscope_select_series(
        '{env="prod"}', ["svc"], step_ns=10_000_000_000
    ).collect()
    assert {r["svc"] for r in ss} == {"api", "worker"}

    pt = eng.pyroscope_profile_types().collect()
    assert len(pt) == 1
    assert pt[0]["profile_type_id"] == (
        "process_cpu:cpu:nanoseconds:cpu:nanoseconds"
    )

    st = eng.pyroscope_profile_stats().collect()[0]
    assert st["data_ingested"] is True
    assert st["oldest_profile_time_ms"] == T0 // 1_000_000

    an = eng.pyroscope_analyze('{env="prod"}').collect()[0]
    assert an["fingerprint_count"] == 2
    assert an["profile_size"] > 0

    merged = {
        r["fn_id"]: r
        for r in eng.pyroscope_merge_profiles('{env="dev"}').collect()
    }
    assert len(merged) == 3  # main/handle/db of the dev profile only

    dot = eng.pyroscope_render_dot(selector='{env="dev"}')
    assert dot.startswith("digraph") and "handle" in dot


def test_store_patterns_side_channel_and_cross_flush_merge(spark, tmp_path):
    """ingest_fanout mines every pushed log line into the stored
    `patterns` table (controller.go:71,132-187); two separate flushes
    merge on read (planner_patterns.go:10). The ruler writeback path
    must NOT mine (the reference's ClusterLines hook sits in doParse,
    which recording_writeback bypasses)."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = Catalog(str(tmp_path / "pstore"))

    def push(app, lines, t_off=0):
        payload = json.dumps({
            "streams": [{
                "stream": {"app": app},
                "values": [
                    [str(T0 + t_off + i * 1_000_000_000), ln]
                    for i, ln in enumerate(lines)
                ],
            }]
        })
        ingest_fanout(
            ingest.loki_push(
                spark.createDataFrame([(payload,)], "payload string")
            ).coalesce(1),
            cat,
        )

    push("web", ["login ok", "login ok", "logout done"])
    push("api", ["login ok"], t_off=3_000_000_000)  # second flush

    stored = cat.read(spark, "patterns")
    assert stored.count() >= 3  # per-flush clusters present
    assert {"tokens", "classes", "overall_cost", "generalized_cost",
            "samples_count", "pattern_id", "timestamp_10m"} <= set(
        stored.columns)

    eng = StoreEngine(spark, cat.root, catalog=cat)
    rows = eng.loki_patterns('{app=~"web|api"}').collect()
    # the reference HAVING drops single-occurrence patterns
    # (planner_patterns.go:45), so only 'login ok' (2 web + 1 api)
    assert [(r["pattern"], r["total"]) for r in rows] == [("login ok", 3)]
    # samples: (step-bucketed second, count) sorted — both flushes land
    # in the same 10m bucket here, so one merged cell of 3
    assert [(s["timestamp_s"], s["count"]) for s in rows[0]["samples"]] \
        == [(T0 // 1_000_000_000 - (T0 // 1_000_000_000) % 600, 3)]

    # selector scoping: web-only sees its own two, still over the gate
    rows = eng.loki_patterns('{app="web"}').collect()
    assert [(r["pattern"], r["total"]) for r in rows] == [("login ok", 2)]

    # metric-only flush adds no pattern rows
    n_before = cat.read(spark, "patterns").count()
    payload = json.dumps({
        "streams": [{
            "stream": {"app": "m"},
            "entries": [{"ts": str(T0), "value": 1.5}],
        }]
    })
    ingest_fanout(
        ingest.loki_push(
            spark.createDataFrame([(payload,)], "payload string")
        ).coalesce(1),
        cat,
    )
    assert cat.read(spark, "patterns").count() == n_before


def test_store_tail_poll_prunes_scan(spark, tmp_path):
    """Each tail poll after the first threads last_seen+1 into the
    store context, so the samples scan carries BOTH the raw-ts
    predicate and the (oid, date) partition filters — a year-deep
    store is never re-scanned per poll (query_range.go:670)."""
    from gigapipe_spark.streaming.ruler import Tailer

    cat = _seed(spark, tmp_path)
    created = []

    def factory():
        c = store_logql_context(spark, cat)
        created.append(c)
        return c

    t = Tailer(logctx_factory=factory, query='{app="web"}')
    first = t.poll()
    assert len(first) == 6 and t.last_ts_ns == T0 + 50_000_000_000
    assert t.poll() == []  # nothing new

    ctx2 = created[-1]
    assert ctx2.start_ns == t.last_ts_ns + 1
    plan = ctx2.samples()._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "timestamp_ns" in plan
    # the date partition filter is present (not an empty filter list)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "date" in m.group(1)


def _push(spark, cat, streams) -> None:
    raw = spark.createDataFrame(
        [(json.dumps({"streams": streams}),)], "payload string"
    )
    ingest_fanout(ingest.loki_push(raw), cat)


def test_store_engine_new_stream_visible_on_warm_engine(spark, tmp_path):
    """A push adding a new stream reaches a warm engine's next
    query_range, labels attached the way the HTTP envelope attaches
    them, and its next label listing: the per-seq tables are rebuilt
    when the push bumps the mutation seq. The query goes through
    `served` under one key before and after the push, so the rows kept
    for the old seq are not served again."""
    from gigapipe_spark.httpd import _stream_labels
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    sel = '{app=~"web|cache"}'
    q = lambda: eng.served(
        ("loki_query_range", (sel,)),
        lambda: _stream_labels(eng, eng.loki_query_range(sel)),
    )
    assert {r["labels"]["app"] for r in q()} == {"web"}
    assert {r["labels"]["app"] for r in q()} == {"web"}  # served again
    values = lambda: {r["val"] for r in eng.loki_label_values("app").collect()}
    assert values() == {"web", "db"}

    _push(spark, cat, [{"stream": {"app": "cache", "zone": "z1"},
                        "values": [[str(T0 + 9_000_000_000), "miss"]]}])
    rows = [r for r in q() if r["string"] == "miss"]
    assert len(rows) == 1
    assert rows[0]["labels"] == {"app": "cache", "zone": "z1",
                                 "service_name": "cache"}
    assert "zone" in {r["key"] for r in eng.loki_labels().collect()}
    assert values() == {"web", "db", "cache"}


def test_store_engine_maintenance_leaves_no_stale_series(spark, tmp_path):
    """Rotation drops a stream's only partitions and compaction rewrites
    the rest under a warm engine: its series dimension must not keep
    serving the rotated stream (the walk bumps the mutation seq)."""
    import datetime

    from gigapipe_spark.storage.maintenance import compact, rotate
    from gigapipe_spark.storage.query import StoreEngine

    now = datetime.datetime.now(datetime.timezone.utc)
    now_ns = int(now.timestamp()) * 10**9
    old_ns = now_ns - 90 * 86_400 * 10**9
    cat = Catalog(str(tmp_path / "store"))
    for app, ts in (("web", now_ns), ("web", now_ns + 1), ("old", old_ns)):
        _push(spark, cat, [{"stream": {"app": app},
                            "values": [[str(ts), app]]}])
    eng = StoreEngine(spark, cat.root, catalog=cat)
    apps = lambda: sorted(
        r["labels"]["app"] for r in eng.loki_series('{app=~".+"}').collect()
    )
    assert apps() == ["old", "web"]
    assert eng.loki_query_range('{app="old"}').count() == 1

    assert rotate(spark, cat, drop_days=7, today=now.date())["dropped"]
    assert compact(spark, cat, "time_series")
    assert apps() == ["web"]
    assert eng.loki_query_range('{app="old"}').count() == 0
    values = {r["val"] for r in eng.loki_label_values("app").collect()}
    assert values == {"web"}


def test_store_engine_series_checkpoints_stay_bounded(spark, tmp_path):
    """Every seq move builds a new series checkpoint; the superseded
    ones must not pile up as persisted RDDs (Spark's ContextCleaner
    releases a checkpoint once no DataFrame or plan references it).

    Checked two ways: the session's persisted-RDD count comes back to
    its level after the first read (so no RDD the read path persists
    per request or per seq piles up), and every checkpoint RDD id this
    engine built for a superseded seq is gone. Persisted RDDs are
    listed through RDDInfo records, not `getPersistentRDDs()`: the map
    that returns references every persisted RDD, and Py4J releases a
    dropped Java object up to a second later — long enough for that map
    to keep every checkpoint alive across the next settle's JVM GC."""
    import gc
    import time

    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.snapshot import bump_mutation_seq

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    sc = spark.sparkContext._jsc.sc()

    def persisted() -> set:
        # drop the Python side's references, then let the JVM notice
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        return {info.id() for info in sc.getRDDStorageInfo()}

    def checkpoint_ids() -> set:
        """The RDDs behind the current seq's series checkpoints."""
        ids = set()
        for df in list(eng._store()._frames.values()):
            if not isinstance(df, DataFrame):
                continue
            node = df._jdf.queryExecution().logical()
            if node.nodeName() == "LogicalRDD":
                ids.add(node.rdd().id())
        return ids

    def read() -> None:
        assert eng.loki_query_range('{app="web"}').count() == 6
        assert eng.prom_query('{app="web"}', T0 + 60 * S).count() == 1

    read()
    base = len(persisted())
    built = checkpoint_ids()
    for _ in range(20):
        bump_mutation_seq(cat.root)
        read()
        built |= checkpoint_ids()
    live = checkpoint_ids()
    # twenty superseded generations, two checkpoints each
    superseded = built - live
    assert len(superseded) == 40, sorted(built)
    deadline = time.monotonic() + 60
    now = persisted()
    while (superseded & now or len(now) > base) and time.monotonic() < deadline:
        now = persisted()
    assert not superseded & now, sorted(superseded & now)
    # the current seq's checkpoints are live, nothing else piled up
    assert len(now) <= base, (len(now), base, sorted(now))
    assert live <= now


def test_store_engine_warm_query_reads_no_time_series_files(spark, tmp_path):
    """Plan guard: a repeated selector query on a warm engine takes its
    series from the materialized dimension (an RDD scan), never from a
    parquet scan of time_series. Checked on the executed plan, so a
    Spark upgrade that stops reusing the checkpoint fails here."""
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    for _ in range(2):
        df = eng.loki_query_range('{app="web"}', T0, T0 + 10**12, 3)
        assert [r["string"] for r in df.collect()] == ["hit 5", "hit 4", "hit 3"]
    for frame in (df, eng.stream_labels()):
        frame.collect()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "time_series" not in plan, plan
    assert "FileScan parquet" in df._jdf.queryExecution().executedPlan().toString()


def _race(monkeypatch, cls, run_a, run_b):
    """Run request A alone, then again on a thread parked in
    `cls.set_scan_bounds` (after A set its window, before the compile
    reads it) while request B runs to the end on the same engine.
    Returns (A alone, A raced)."""
    import threading

    alone = run_a()
    held, release = threading.Event(), threading.Event()
    real = cls.set_scan_bounds

    def hold(self, lookback_ns):
        if threading.current_thread().name == "A" and not held.is_set():
            held.set()
            assert release.wait(120)
        return real(self, lookback_ns)

    monkeypatch.setattr(cls, "set_scan_bounds", hold)
    out = {}
    t = threading.Thread(target=lambda: out.setdefault("a", run_a()), name="A")
    t.start()
    assert held.wait(120)
    run_b()
    release.set()
    t.join(120)
    assert not t.is_alive()
    monkeypatch.undo()
    return alone, out["a"]


def test_store_engine_concurrent_windows_do_not_mix(spark, tmp_path, monkeypatch):
    """Two requests on one engine with different windows: A is
    held between setting its window and compiling; B runs to the end
    meanwhile. A must return exactly what it returns alone."""
    from gigapipe_spark.logql.compiler import LogQLContext
    from gigapipe_spark.promql.compiler import PromQLContext
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    hour = 3_600_000_000_000

    def log(lo, hi):
        return sorted(
            r["string"]
            for r in eng.loki_query_range('{app="web"}', lo, hi).collect()
        )

    alone, raced = _race(
        monkeypatch, LogQLContext,
        lambda: log(T0, T0 + 25_000_000_000),
        lambda: log(T0 + 30_000_000_000, T0 + hour),
    )
    assert alone == ["hit 0", "hit 1", "hit 2"] and raced == alone

    def prom(lo, hi):
        return sorted(
            (r["timestamp_ns"], r["value"])
            for r in eng.prom_query_range('{app="web"}', lo, hi).collect()
        )

    alone, raced = _race(
        monkeypatch, PromQLContext,
        lambda: prom(T0, T0 + 120_000_000_000),
        lambda: prom(T0 + hour, T0 + 2 * hour),
    )
    assert alone and raced == alone


def test_store_engine_concurrent_readers_share_one_build(spark, tmp_path, monkeypatch):
    """Readers that arrive together after a write share the new seq's
    builds: with more reader threads than cores and a short switch
    interval, each series variant is deduplicated exactly once and
    every reader gets the full answer."""
    import collections
    import sys
    import threading

    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.snapshot import bump_mutation_seq

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    assert eng.loki_query_range('{app="web"}').count() == 6
    builds = collections.Counter()
    real = Catalog.read_series

    def counted(self, spark, types=None, per_fingerprint=False):
        builds[(types, per_fingerprint)] += 1
        return real(self, spark, types, per_fingerprint)

    monkeypatch.setattr(Catalog, "read_series", counted)
    bump_mutation_seq(cat.root)
    counts = []

    def reader():
        counts.append(eng.loki_query_range('{app="web"}').count())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert counts == [6] * 8
    assert builds and set(builds.values()) == {1}, builds


def _group_jobs(spark, group: str, fn):
    """(fn's result, the Spark job ids it ran) under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _served_counts() -> tuple:
    from gigapipe_spark.api import SERVED_FRAMES
    from gigapipe_spark.telemetry import TELEMETRY

    c = TELEMETRY._counters
    return tuple(
        c.get((SERVED_FRAMES, (("result", r),)), 0.0) for r in ("hit", "miss")
    )


def test_served_repeat_reuses_executed_plan(spark, tmp_path, monkeypatch):
    """Two identical reads under one seq: the same rows, the second a
    hit served from the kept rows — no Spark job and no LogQL
    compile."""
    from gigapipe_spark import api
    from gigapipe_spark.httpd import _served, _stream_labels
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    compiles = []
    real = api._logql_query_range
    monkeypatch.setattr(
        api, "_logql_query_range",
        lambda *a, **kw: compiles.append(a[1]) or real(*a, **kw),
    )
    for i, text in enumerate(
        ('{app=~"web|db"}', 'sum by (app) (count_over_time({app=~".+"}[1m]))')
    ):
        read = lambda: _served(
            eng, "loki_query_range", text, T0, T0 + 10**12, None, "backward",
            shape=_stream_labels,
        )
        h0, m0 = _served_counts()
        first, _ = _group_jobs(spark, f"served-miss-{i}", read)
        second, jobs = _group_jobs(spark, f"served-hit-{i}", read)
        assert first and second == first
        assert jobs == []
        assert compiles == [text]
        assert _served_counts() == (h0 + 1, m0 + 1)
        compiles.clear()


def test_served_failed_or_cancelled_miss_keeps_nothing(spark, tmp_path):
    """A miss whose collect raises, or is cancelled, keeps no rows: the
    identical read after it builds again and answers correctly, and a
    read that succeeded is then served without building."""
    import os
    import threading
    import time

    from pyspark.sql import functions as F

    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    fail, slow = str(tmp_path / "fail"), str(tmp_path / "slow")

    @F.udf("long")
    def probe(x):
        import os as _os
        import time as _t

        if _os.path.exists(fail):
            raise RuntimeError("stage failed")
        if _os.path.exists(slow):
            _t.sleep(60)
        return x

    builds = []

    def build():
        builds.append(1)
        return spark.range(0, 4, 1, 1).select(probe("id").alias("id"))

    read = lambda: sorted(r["id"] for r in eng.served(("probe",), build))
    kept = lambda: ("probe",) in eng._store()._rows

    open(fail, "w").close()
    try:
        read()
        raise AssertionError("the failing stage must raise")
    except Exception as ex:
        assert "stage failed" in str(ex)
    os.remove(fail)
    assert not kept() and len(builds) == 1

    open(slow, "w").close()
    sc = spark.sparkContext
    out = {}

    def cancelled_read():
        sc.setJobGroup("served-cancel", "served-cancel", True)
        try:
            out["rows"] = read()
        except Exception as ex:
            out["error"] = ex

    t = threading.Thread(target=cancelled_read)
    t.start()
    deadline = time.monotonic() + 60
    while not sc.statusTracker().getJobIdsForGroup("served-cancel"):
        assert time.monotonic() < deadline
        time.sleep(0.1)
    sc.cancelJobGroup("served-cancel")
    t.join(60)
    assert not t.is_alive() and "error" in out, out
    os.remove(slow)
    assert not kept() and len(builds) == 2

    assert read() == [0, 1, 2, 3] and len(builds) == 3
    assert kept() and read() == [0, 1, 2, 3] and len(builds) == 3


def test_served_rows_byte_bound(spark, tmp_path, monkeypatch):
    """One seq keeps collected rows up to SERVED_BYTES_MAX approximate
    bytes; the least recently used go first."""
    from gigapipe_spark.storage import query as sq

    cat = _seed(spark, tmp_path)
    eng = sq.StoreEngine(spark, cat.root, catalog=cat)
    one = sq._approx_bytes(spark.range(100).collect())
    monkeypatch.setattr(sq, "SERVED_BYTES_MAX", 3 * one + one // 2)
    builds = []

    def read(n):
        def build():
            builds.append(n)
            return spark.range(n * 1000, n * 1000 + 100)

        return eng.served(("n", n), build)

    for n in (1, 2, 3, 1, 4):  # 1 is used again before 4 evicts 2
        assert len(read(n)) == 100
    store = eng._store()
    assert list(store._rows) == [("n", 3), ("n", 1), ("n", 4)]
    assert store._rows_bytes == sum(size for _, size in store._rows.values())
    assert store._rows_bytes <= sq.SERVED_BYTES_MAX
    read(2)
    assert builds == [1, 2, 3, 4, 2]
    assert list(store._rows) == [("n", 1), ("n", 4), ("n", 2)]


def test_unlimited_metric_query_range_skips_sort(spark, tmp_path):
    """A Loki metric query_range without a limit is not globally sorted
    (the sort is a range-partition exchange plus its sampling job: two
    jobs per read), and the matrix envelope orders series itself, so
    the response body is the one the sorted rows give."""
    from gigapipe_spark.httpd import _loki_envelope, _matrix
    from gigapipe_spark.storage.query import StoreEngine

    cat = Catalog(str(tmp_path / "store"))
    _push(spark, cat, [
        {"stream": {"app": app, "env": "prod", "pod": pod},
         "values": [[str(T0 + (i * 7 + k) * S), f"error {i}" if i % 3 else "ok"]
                    for i in range(40)]}
        for k, (app, pod) in enumerate(
            (a, p) for a in ("api", "web", "db") for p in "xy"
        )
    ])
    eng = StoreEngine(spark, cat.root, catalog=cat)
    text = 'sum by (app) (rate({env="prod"} |= "error" [1m]))'
    for direction in ("backward", "forward"):
        df = eng.loki_query_range(text, T0, T0 + 400 * S, None, direction)
        ts, fp = F.col("timestamp_ns"), F.col("fingerprint")
        order = (
            [ts.desc(), fp.desc()] if direction == "backward" else [ts.asc(), fp.asc()]
        )
        ordered = df.orderBy(*order)
        rows, jobs = _group_jobs(spark, f"unsorted-{direction}", df.collect)
        sorted_rows, sorted_jobs = _group_jobs(
            spark, f"sorted-{direction}", ordered.collect
        )
        assert len(sorted_jobs) - len(jobs) == 2, (jobs, sorted_jobs)
        assert len({r["labels"]["app"] for r in rows}) == 3
        # the sorted rows' series in order of first appearance: the
        # envelope as it was built from a sorted collect
        body = json.dumps(_loki_envelope(rows, direction)["data"]["result"])
        assert body == json.dumps(_matrix(sorted_rows))


def test_served_concurrent_readers(spark, tmp_path):
    """More reader threads than cores, a short switch interval, two
    keys and one block-split read on one engine: every answer is right,
    every read is counted once as a hit or a miss, the memo holds one
    entry per key and block, and its byte total is their sum."""
    import sys
    import threading

    from gigapipe_spark.api import BLOCK_NS
    from gigapipe_spark.httpd import _served, _stream_labels
    from gigapipe_spark.storage.query import StoreEngine

    cat = _seed(spark, tmp_path)
    eng = StoreEngine(spark, cat.root, catalog=cat)
    want = {'{app="web"}': 6, '{app="db"}': 1}
    read = lambda sel: _served(
        eng, "loki_query_range", sel, None, None, None, "backward",
        shape=_stream_labels,
    )
    h0, m0 = _served_counts()
    wrong = []

    metric = 'sum(count_over_time({app=~".+"}[1m]))'
    blocks = lambda: eng.served_blocks(
        ("loki_query_range", metric), T0 - 3600 * S, T0 + 3600 * S,
        lambda lo, hi: eng.loki_query_range(metric, lo, hi),
    )
    want_blocks = sorted(map(tuple, blocks()))

    def reader(i):
        for k in range(4):
            sel = list(want)[(i + k) % 2]
            rows = read(sel)
            if len(rows) != want[sel] or any(r["labels"] is None for r in rows):
                wrong.append((sel, len(rows)))
            if sorted(map(tuple, blocks())) != want_blocks:
                wrong.append((metric, k))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not wrong, wrong
    h, m = _served_counts()
    assert (h - h0) + (m - m0) == 32 and h - h0 >= 1
    store = eng._store()
    assert sorted(k[1][0] for k in store._rows if len(k) == 2) == sorted(want)
    lo, hi = T0 - 3600 * S, T0 + 3600 * S
    assert sorted(k[2] for k in store._rows if len(k) == 3) == list(
        range(lo - lo % BLOCK_NS, hi, BLOCK_NS)
    )
    assert store._rows_bytes == sum(size for _, size in store._rows.values())
