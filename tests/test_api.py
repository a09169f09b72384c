"""Endpoint facade coverage: every router family returns sane results.

Mirrors the reference's route table (reader/router/*.go) — one assertion
per endpoint family over the sf0.001 fixtures.
"""

import pytest
from pyspark.sql import functions as F

from gigapipe_spark.api import Engine

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF)


def test_loki_query_range_limit_direction(engine):
    rows = engine.loki_query_range('{app="click"}', limit=5).collect()
    assert len(rows) == 5
    ts = [r["timestamp_ns"] for r in rows]
    assert ts == sorted(ts, reverse=True)  # backward = newest first
    fwd = engine.loki_query_range('{app="click"}', limit=5, direction="forward").collect()
    assert [r["timestamp_ns"] for r in fwd] == sorted(r["timestamp_ns"] for r in fwd)


def test_loki_instant_query(engine):
    rows = engine.loki_query('{app="click"}', limit=3).collect()
    assert len(rows) == 3


def test_loki_labels_and_values(engine):
    keys = {r["key"] for r in engine.loki_labels().collect()}
    assert keys == {"app", "instance", "level"}
    vals = {r["val"] for r in engine.loki_label_values("level").collect()}
    assert vals == {"error", "info"}


def test_loki_series(engine):
    rows = engine.loki_series('{app="error"}').collect()
    assert rows and all(r["labels"]["app"] == "error" for r in rows)


def test_loki_index_stats_and_volume(engine):
    st = engine.loki_index_stats().collect()[0]
    assert st["streams"] > 0 and st["entries"] > st["streams"] and st["bytes"] > 0
    vol = {r["app"]: r["volume"] for r in engine.loki_index_volume().collect()}
    assert set(vol) == {"click", "view", "purchase", "signup", "error"}
    assert all(v > 0 for v in vol.values())


def test_loki_detected(engine):
    labels = {r["key"]: r["cardinality"] for r in engine.loki_detected_labels().collect()}
    assert labels["level"] == 2
    fields = {r["field"] for r in engine.loki_detected_fields().collect()}
    assert "k" in fields  # props payload is {"k": n}


def test_loki_patterns(engine):
    rows = engine.loki_patterns().limit(5).collect()
    # reference response shape: pattern + sorted (ts, count) samples,
    # total > 1 by the planner's HAVING (planner_patterns.go:45)
    assert rows and all(r["total"] > 1 for r in rows)
    assert all(len(r["samples"]) >= 1 for r in rows)


def test_loki_tail_poll(engine):
    tailer = engine.loki_tail('{app="click"}', max_rows_per_poll=10)
    first = tailer.poll()
    assert len(first) == 10
    second = tailer.poll()
    if second:  # strictly newer than the last seen ts
        assert min(r["timestamp_ns"] for r in second) > max(
            r["timestamp_ns"] for r in first
        )


def test_prom_query_range_and_instant(engine):
    m = engine.prom_query_range('sum by (app) (rate({app=~".+"}[1h]))')
    assert m.count() > 0
    # an instant a minute after the newest sample
    last = engine.metric_samples_table().agg(F.max("timestamp_ns")).first()[0]
    inst = engine.prom_query(
        'sum by (app) (rate({app=~".+"}[1h]))', last + 60_000_000_000
    )
    # instant: exactly one row per series
    assert inst.count() > 0
    assert inst.count() == inst.select("fingerprint").distinct().count()


def test_prom_meta(engine):
    assert {r["key"] for r in engine.prom_labels().collect()} == {
        "app", "instance", "level",
    }
    md = {r["metric"] for r in engine.prom_metadata().collect()}
    assert md == {"click", "view", "purchase", "signup", "error"}


def test_tempo_search_and_trace(engine):
    res = engine.tempo_search('{ returnflag = "R" }', limit=5).collect()
    assert 0 < len(res) <= 5
    assert {"trace_id", "span_count", "root_service"} <= set(res[0].asDict())
    spans = engine.tempo_trace(res[0]["trace_id"]).collect()
    assert spans[0]["parent_id"] == ""  # root first


def test_tempo_tags(engine):
    tags = {r["key"] for r in engine.tempo_tags().collect()}
    assert {"name", "service.name", "returnflag"} <= tags
    vals = {r["val"] for r in engine.tempo_tag_values("returnflag").collect()}
    assert "R" in vals


def test_tempo_metrics(engine):
    m = engine.tempo_metrics_query_range('{ name = "item" } | rate()')
    assert "value" in m.columns and m.count() > 0


def test_pyroscope_render_and_diff(engine):
    levels = engine.pyroscope_render()
    assert levels and levels[0][0]["total"] >= levels[0][0]["self"]
    diff = engine.pyroscope_render_diff("svc-1-URGENT", "svc-5-LOW").collect()
    assert diff and {"self_delta", "total_delta"} <= set(diff[0].asDict())


def test_prom_query_range_bounds_and_step(engine):
    full = engine.prom_query_range('sum by (app) (rate({app=~".+"}[1h]))')
    lo = full.agg({"timestamp_ns": "min"}).collect()[0][0]
    hi = full.agg({"timestamp_ns": "max"}).collect()[0][0]
    mid = (lo + hi) // 2
    half = engine.prom_query_range(
        'sum by (app) (rate({app=~".+"}[1h]))', start_ns=mid
    )
    assert half.count() < full.count()
    assert half.agg({"timestamp_ns": "min"}).collect()[0][0] >= mid
    # custom step grid: instant vectors land on the requested step
    stepped = engine.prom_query_range(
        'sum by (app) ({app=~".+"})', step_ns=3_600_000_000_000
    )
    ts = [r["timestamp_ns"] for r in stepped.select("timestamp_ns").distinct().collect()]
    assert ts and all(t % 3_600_000_000_000 == 0 for t in ts)


def test_prom_query_exemplars_empty_like_reference(engine):
    df = engine.prom_query_exemplars('{app="click"}')
    assert df.count() == 0
    assert set(df.columns) == {"labels", "timestamp_ns", "value", "trace_id"}


def test_loki_query_range_step_reinterpolation(engine):
    coarse = engine.loki_query_range('sum by (app) (count_over_time({app="click"}[1h]))')
    fine = engine.loki_query_range(
        'sum by (app) (count_over_time({app="click"}[1h]))',
        step_ns=900_000_000_000,
    )
    # each 1h bucket value repeats onto up to 4 quarter-hour steps
    # (zero-valued points are eaten, so <= 4x)
    assert coarse.count() < fine.count() <= coarse.count() * 4
    ts = [r["timestamp_ns"] for r in fine.select("timestamp_ns").distinct().limit(10).collect()]
    assert all(t % 900_000_000_000 == 0 for t in ts)
    # stream results ignore step
    logs = engine.loki_query_range('{app="click"}', limit=5, step_ns=900_000_000_000)
    assert logs.count() == 5


def test_loki_series_multi_match_union(engine):
    a = engine.loki_series('{app="error"}').count()
    b = engine.loki_series('{app="click"}').count()
    both = engine.loki_series(['{app="error"}', '{app="click"}']).count()
    assert both == a + b  # disjoint selectors union
    # overlapping selectors dedup
    overlap = engine.loki_series(['{app="error"}', '{level="error"}']).count()
    assert overlap == a  # level=error == app=error series


def test_bounded_absent_over_time_grid_from_window(spark):
    # with explicit start/end the absence grid derives from the request
    # window (pure arithmetic), not a full-extent scan
    from gigapipe_spark.logql.compiler import LogQLContext, query_range

    lo = 1_600_000_000_000_000_000
    hi = lo + 4 * 3_600_000_000_000  # 4h window, 1h range buckets
    res = query_range(
        LogQLContext(spark, SF),
        'absent_over_time({app="nosuchapp"} [1h])',
        start_ns=lo,
        end_ns=hi,
    )
    rows = res.df.collect()
    # selector matches nothing → every bucket in the window is absent
    assert len(rows) == 4
    assert all(lo <= r["timestamp_ns"] < hi for r in rows)
    assert all(r["value"] == 1.0 for r in rows)


def test_bounded_prom_absent_over_time_grid(spark):
    from gigapipe_spark.api import Engine

    lo = 1_600_000_000_000_000_000
    hi = lo + 3 * 3_600_000_000_000
    df = Engine(spark, SF).prom_query_range(
        'absent_over_time({app="nosuchapp"}[1h])', start_ns=lo, end_ns=hi
    )
    rows = df.collect()
    assert len(rows) == 3
    assert all(lo <= r["timestamp_ns"] < hi for r in rows)


def test_misc_endpoints(engine):
    info = engine.buildinfo()
    assert info["status"] == "success" and "version" in info["data"]
    assert engine.tempo_echo() == "echo"


def test_tempo_tags_v2_scopes(engine):
    rows = engine.tempo_tags_v2().collect()
    scopes = {r["scope"] for r in rows}
    assert scopes == {"resource", "span", "intrinsic"}
    by_scope = {s: {r["tag"] for r in rows if r["scope"] == s} for s in scopes}
    assert "service.name" in by_scope["resource"]
    assert "duration" in by_scope["intrinsic"]
    assert "returnflag" in by_scope["span"]


def test_tempo_tags_v2_with_selector(engine):
    # q restricts the scoped listing to tags on matching spans: root
    # spans (name=order) never carry returnflag
    rows = engine.tempo_tags_v2(q='{ name = "order" }').collect()
    span_tags = {r["tag"] for r in rows if r["scope"] == "span"}
    assert "status" in span_tags and "returnflag" not in span_tags
    vals = {r["val"] for r in engine.tempo_tag_values("name", q='{ name = "order" }').collect()}
    assert vals == {"order"}


def test_tempo_search_time_bounds(engine):
    allr = engine.tempo_search('{ returnflag = "R" }', limit=1000)
    n_all = allr.count()
    # bound to a window that excludes everything
    none = engine.tempo_search(
        '{ returnflag = "R" }', limit=1000, start_ns=1, end_ns=2
    )
    assert none.count() == 0 and n_all > 0


def test_tempo_tag_filter_structural(engine):
    """q filters parse as FULL spanset expressions: a structural query
    filters by the evaluated span set, not silently by its first
    selector; trailing garbage raises instead of being ignored."""
    from gigapipe_spark.traceql.parser import TraceQLSyntaxError

    # descendant spans of root order spans that carry returnflag=R are
    # item spans → the only name value is "item"
    vals = {
        r["val"]
        for r in engine.tempo_tag_values(
            "name", q='{ name = "order" } &>> { returnflag = "R" }'
        ).collect()
    }
    assert vals == {"item"}
    # parenthesized structural no longer AttributeErrors
    vals2 = {
        r["val"]
        for r in engine.tempo_tag_values(
            "name", q='({ name = "order" } &>> { returnflag = "R" })'
        ).collect()
    }
    assert vals2 == {"item"}
    # tags_v2 with a structural q: returnflag appears (item spans carry it)
    rows = engine.tempo_tags_v2(q='{ name = "order" } &>> { returnflag = "R" }').collect()
    span_tags = {r["tag"] for r in rows if r["scope"] == "span"}
    assert "returnflag" in span_tags
    with pytest.raises(TraceQLSyntaxError):
        engine.tempo_tag_values("name", q='{ name = "order" } garbage')


def test_metrics_instant_rate_requires_window(engine):
    # reference BuildMetricsInstantQuery always has a request window;
    # deriving one from the data would make 1-span results arbitrary
    with pytest.raises(ValueError):
        engine.tempo_metrics_query_instant('{ name = "item" } | rate()')


def test_pyroscope_typed_merge_render(engine):
    """Type-id scoping (service/prof.go:135 + detachTypeId :686): the
    alloc_space:bytes slot merges the ×100 fixture series; the cpu slot
    (and the un-typed default) merges the ×1000 series."""
    cpu = engine.pyroscope_render(
        profile_type_id="process_cpu:cpu:nanoseconds:cpu:nanoseconds"
    )
    alloc = engine.pyroscope_render(
        profile_type_id="process_cpu:alloc_space:bytes:cpu:nanoseconds"
    )
    default = engine.pyroscope_render()
    root_cpu = cpu[0][0]["total"]
    root_alloc = alloc[0][0]["total"]
    assert root_cpu == default[0][0]["total"]  # default = first slot = cpu
    assert root_alloc < root_cpu  # ×100 vs ×1000 series
    # combined `type{selector}` query string (detachTypeId)
    combined = engine.pyroscope_render(
        selector='process_cpu:alloc_space:bytes:cpu:nanoseconds{priority="1-URGENT"}'
    )
    assert combined[0][0]["total"] < root_alloc
    # unknown sample type matches no series
    import pytest as _pytest
    from gigapipe_spark.prof.selector import ProfSelectorError

    none = engine.pyroscope_render(
        profile_type_id="process_cpu:heap:bytes:cpu:nanoseconds"
    )
    assert none == []
    with _pytest.raises(ProfSelectorError):
        engine.pyroscope_render(profile_type_id="not-a-type-id")


def test_pyroscope_render_dot_and_settings(engine):
    dot = engine.pyroscope_render_dot(service="svc-1-URGENT")
    assert dot.startswith("digraph") and "root" in dot and "->" in dot
    s = engine.pyroscope_settings()
    assert s["settings"][0]["name"] == "pluginSettings"


def test_pyroscope_render_diff_typed(engine):
    typed = engine.pyroscope_render_diff(
        "svc-1-URGENT", "svc-5-LOW",
        profile_type_id="process_cpu:alloc_space:bytes:cpu:nanoseconds",
    ).collect()
    untyped = engine.pyroscope_render_diff("svc-1-URGENT", "svc-5-LOW").collect()
    t_root = next(r for r in typed if r["id"] == 0)
    u_root = next(r for r in untyped if r["id"] == 0)
    assert t_root["total_left"] < u_root["total_left"]


def test_misc_ready_config_merge_profiles(engine):
    assert engine.ready() == "OK"
    assert engine.config() == "Not supported"
    merged = engine.pyroscope_merge_profiles(
        selector='{priority="1-URGENT"}',
        profile_type_id="process_cpu:alloc_space:bytes:cpu:nanoseconds",
    ).collect()
    assert {r["id"] for r in merged} <= {0, 1, 2, 3}
    untyped = engine.pyroscope_merge_profiles(selector='{priority="1-URGENT"}').collect()
    t = {r["id"]: r["total"] for r in merged}
    u = {r["id"]: r["total"] for r in untyped}
    assert t[0] < u[0]  # alloc slot (×100) < cpu slot (×1000)


def test_labels_match_scoping(engine):
    """labels / label values accept match[] selectors that scope the
    listing to matching streams (ref: query_abels.go:106)."""
    allk = {r["key"] for r in engine.loki_labels().collect()}
    scoped = {r["key"] for r in engine.loki_labels(match='{app="click"}').collect()}
    assert scoped <= allk and scoped
    vals = {r["val"] for r in engine.loki_label_values("app", match='{app="click"}').collect()}
    assert vals == {"click"}
    # prom twins share the implementation
    assert {r["key"] for r in engine.prom_labels(match='{app="click"}').collect()} == scoped


def test_tempo_legacy_tags_search(engine):
    """Legacy tags= search: logfmt pairs intersect per span; duration
    bounds apply; results match the TraceQL equivalent."""
    legacy = engine.tempo_search_tags(
        'returnflag="R" linestatus=F', limit=1000, min_duration_ns=50_000_000
    )
    traceql = engine.tempo_search(
        '{ returnflag = "R" && linestatus = "F" && duration >= 50ms }', limit=1000
    )
    assert sorted(r["trace_id"] for r in legacy.collect()) == sorted(
        r["trace_id"] for r in traceql.collect()
    )
    with pytest.raises(ValueError):
        engine.tempo_search_tags("===garbage===")


def test_index_volume_selector_rewrite(engine):
    """QueryVolume semantics (service/query_range.go:166): selector-
    scoped, label-set grouped, totals equal the per-sample byte sum."""
    out = engine.loki_index_volume(query='{app="view"}').collect()
    assert [r["app"] for r in out] == ["view"]
    # explicit targetLabels override the matcher-derived default
    out2 = engine.loki_index_volume(
        query='{app="view"}', target_labels=["app", "level"]
    ).collect()
    assert {tuple(r.asDict()) for r in out2} == {("app", "level", "volume")}
    assert abs(sum(r["volume"] for r in out2) - out[0]["volume"]) < 1e-6


def test_detected_labels_and_fields_selector_scoped(engine):
    """QueryDetectedLabels/Fields accept a scoping selector
    (service/query_range.go:222): cardinalities/line counts shrink to
    the matched stream set and never exceed the unscoped ones."""
    full = {r["key"]: r["cardinality"] for r in engine.loki_detected_labels().collect()}
    scoped = {
        r["key"]: r["cardinality"]
        for r in engine.loki_detected_labels('{app="view"}').collect()
    }
    assert scoped  # the selector matches streams
    assert set(scoped) <= set(full)
    assert all(scoped[k] <= full[k] for k in scoped)
    assert scoped["app"] == 1  # only the selected app remains
    f_full = {r["field"]: r["lines"] for r in engine.loki_detected_fields().collect()}
    f_scoped = {
        r["field"]: r["lines"]
        for r in engine.loki_detected_fields('{app="view"}').collect()
    }
    assert f_scoped and set(f_scoped) <= set(f_full)
    assert all(f_scoped[k] <= f_full[k] for k in f_scoped)


def test_tempo_search_duration_bounds(engine):
    """minDuration/maxDuration filter with the reference's ms-truncated
    comparison (traces_query.go:39-44)."""
    base = engine.tempo_search('{ name = "item" }', limit=10**6)
    lo = engine.tempo_search('{ name = "item" }', limit=10**6,
                             min_duration_ns=100_000_000)
    hi = engine.tempo_search('{ name = "item" }', limit=10**6,
                             max_duration_ns=100_000_000)
    nb, nl, nh = base.count(), lo.count(), hi.count()
    assert nl < nb and nh < nb and nl + nh >= nb - 1  # ms truncation boundary


def test_labels_date_bound_prunes_store_partitions(engine, spark, tmp_path):
    """Reference label planners bound the GIN scan by date
    (planner_label_names.go:26-29). On a date-partitioned stored gin the
    bound must land as a partition filter (pruned scan), and the sf_dir
    views (no date column) must pass through unchanged."""
    import datetime
    import json

    from gigapipe_spark.api import _date_bounded
    from gigapipe_spark.sources import ingest
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    # no date column → no-op, endpoint accepts the params
    assert engine.loki_labels(
        start_ns=0, end_ns=2 * 10**18
    ).count() == engine.loki_labels().count()

    cat = Catalog(str(tmp_path / "store"))
    for day in (1, 2, 3):
        ts = int(
            datetime.datetime(2023, 11, day, tzinfo=datetime.timezone.utc).timestamp()
        )
        payload = json.dumps(
            {
                "streams": [
                    {
                        "stream": {"app": f"d{day}"},
                        "values": [[str(ts * 10**9), "x"]],
                    }
                ]
            }
        )
        raw = spark.createDataFrame([(payload,)], "payload string")
        ingest_fanout(ingest.loki_push(raw), cat)
    gin = cat.read(spark, "gin")
    day2 = int(
        datetime.datetime(2023, 11, 2, 12, tzinfo=datetime.timezone.utc).timestamp()
    )
    bounded = _date_bounded(gin, day2 * 10**9, day2 * 10**9)
    vals = {r["val"] for r in bounded.filter("key = 'app'").collect()}
    assert vals == {"d2"}  # day 1 and 3 partitions pruned
    plan = bounded._jdf.queryExecution().executedPlan().toString()
    # the date predicates must appear as partition filters, not data filters
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "date" in seg


def test_labels_type_scoping(engine):
    """planner_label_names.go:25: type IN (T, 0). The fixture gin is all
    type 1 (logs), so Loki scoping keeps everything and metric scoping
    returns nothing — while type-0 rows would serve both."""
    all_keys = engine.loki_labels().count()
    assert engine.loki_labels(labels_type=1).count() == all_keys
    assert engine.prom_labels(labels_type=2).count() == 0
