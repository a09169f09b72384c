"""Instant PromQL (/api/v1/query with a time) over a written store: the
expression is evaluated at its one instant t — each range selector reads
(t - range, t], each instant selector its newest sample in (t - 5m, t],
every row is stamped t (ref: the stock Prometheus engine's instant
evaluation), and no sample after t is read."""

import json
import urllib.request

import pytest

from gigapipe_spark.sources import ingest
from gigapipe_spark.storage.writer import Catalog, ingest_fanout

S = 1_000_000_000
T0 = 1_700_000_000 * S  # not aligned to 1m or 5m: T0 % 60 s = 20 s
STEP = 15 * S
# per-sample counter increments by era: a leads [0, 600 s), b leads
# [600 s, 1200 s), c leads [1200 s, 1800 s]
LEAD = {"a": range(0, 40), "b": range(40, 80), "c": range(80, 121)}
T_MID = T0 + 1027 * S  # b leads; unaligned to every grid
T_LATE = T0 + 1507 * S  # c leads


def _samples() -> dict:
    out = {k: [] for k in LEAD}
    for inst, lead in LEAD.items():
        v = 0.0
        for i in range(121):
            v += 10.0 if i in lead else 1.0
            out[inst].append((T0 + i * STEP, v))
    # a series that went quiet at 60 s
    out["old"] = [(T0 + i * STEP, float(i)) for i in range(5)]
    return out


SAMPLES = _samples()


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    from gigapipe_spark.storage.query import StoreEngine

    lines = [
        f"m,instance={inst} req_total={v} {ts}"
        for inst, pts in SAMPLES.items()
        for ts, v in pts
    ]
    raw = spark.createDataFrame([(ln,) for ln in lines], "line string")
    cat = Catalog(str(tmp_path_factory.mktemp("instant") / "store"))
    ingest_fanout(ingest.influx_line(raw), cat)
    return StoreEngine(spark, cat.root, catalog=cat)


def _by_instance(df) -> dict:
    return {r["labels"].get("instance"): r for r in df.collect()}


def _window(inst: str, t: int, width: int) -> list:
    return [(ts, v) for ts, v in SAMPLES[inst] if t - width < ts <= t]


def test_instant_rate_reads_only_its_window(eng):
    """The store holds samples after T_MID, and b's and c's rates change
    after it: the answer is the increase over (t - 5m, t] / 300, never
    a tumbling 5m bucket that starts at or before t and reaches past
    it."""
    got = _by_instance(eng.prom_query("rate(req_total[5m])", T_MID))
    want = {}
    for inst in LEAD:
        w = _window(inst, T_MID, 300 * S)
        want[inst] = (w[-1][1] - w[0][1]) / 300
    assert {k: got[k]["value"] for k in want} == pytest.approx(want, rel=1e-12)
    assert {got[k]["timestamp_ns"] for k in want} == {T_MID}


def test_instant_selector_drops_stale_series(eng):
    """`old` last sampled at 60 s: more than 5m before t, so absent; the
    live series answer with their newest sample at or before t."""
    got = _by_instance(eng.prom_query("req_total", T_MID))
    assert set(got) == set(LEAD)
    for inst in LEAD:
        assert got[inst]["value"] == _window(inst, T_MID, 300 * S)[-1][1]


def test_instant_window_refs_resolve_to_time(eng):
    """An instant query's window is its one time: `@ start()` and
    `@ end()` both pin to it."""
    def values(expr: str) -> dict:
        got = _by_instance(eng.prom_query(expr, T_MID))
        return {k: r["value"] for k, r in got.items()}

    want = values("req_total")
    assert values("req_total @ start()") == want
    assert values("req_total @ end()") == want


def test_instant_explicit_at_rows_are_stamped_at_time(eng):
    """`x @ T` reads its window at T but, like every row of an instant
    query, is stamped t — so a binary op against the unpinned `x` joins
    and answers the difference at t."""
    at = T0 + 600 * S
    got = _by_instance(
        eng.prom_query(f"req_total - req_total @ {at // S}", T_MID)
    )
    want = {
        inst: _window(inst, T_MID, 300 * S)[-1][1] - _window(inst, at, 300 * S)[-1][1]
        for inst in LEAD
    }
    assert {k: r["value"] for k, r in got.items()} == want
    assert {r["timestamp_ns"] for r in got.values()} == {T_MID}


def test_instant_topk_returns_at_most_k(eng):
    """Each series led in some era; at T_LATE only c leads, and topk(2)
    is two series — not every series that was in the top 2 at some
    earlier step."""
    rows = eng.prom_query("topk(2, rate(req_total[5m]))", T_LATE).collect()
    assert len(rows) == 2
    assert "c" in {r["labels"]["instance"] for r in rows}
    assert {r["timestamp_ns"] for r in rows} == {T_LATE}


def test_instant_limitk_caches_nothing(eng, spark):
    """limitk picks the k first series in label order and leaves no
    persisted frame behind, at an instant or over a range: every
    distinct t or window is a new plan, so a cache entry per request
    would pile up."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for t in (T_MID, T_LATE):
        rows = eng.prom_query("limitk(2, req_total)", t).collect()
        assert len(rows) == 2
        assert {r["timestamp_ns"] for r in rows} == {t}
        assert {r["labels"]["instance"] for r in rows} == {"a", "b"}
    for start in (T0 + 600 * S, T0 + 900 * S, T0 + 1200 * S):
        rows = eng.prom_query_range(
            "limitk(2, req_total)", start, start + 300 * S, 60 * S
        ).collect()
        assert rows and {r["labels"]["instance"] for r in rows} == {"a", "b"}
    assert cache.numCachedEntries() == before


def test_instant_timestamp_is_the_samples_time(eng):
    """timestamp() of a plain selector answers the time of the sample
    it used (upstream's special case), not the evaluation time; over
    any other argument it is the evaluation time."""
    got = _by_instance(eng.prom_query("timestamp(req_total)", T_MID))
    assert {k: r["value"] for k, r in got.items()} == {
        inst: (T0 + 1020 * S) / 1e9 for inst in LEAD
    }
    got = _by_instance(eng.prom_query("timestamp(abs(req_total))", T_MID))
    assert {r["value"] for r in got.values()} == {T_MID / 1e9}
    # over a range, each step's answer is its newest sample's time
    sample_ts = {ts for ts, _ in SAMPLES["a"]}
    rows = eng.prom_query_range(
        'timestamp(req_total{instance="a"})', T0 + 600 * S, T0 + 900 * S, 60 * S
    ).collect()
    assert rows
    for r in rows:
        t = round(r["value"]) * S
        assert t in sample_ts and r["timestamp_ns"] <= t < r["timestamp_ns"] + 60 * S


@pytest.mark.parametrize(
    "expr, value", [("vector(1)", 1.0), ("time()", T_MID / S)]
)
def test_instant_grid_functions_are_one_point(eng, expr, value):
    rows = eng.prom_query(expr, T_MID).collect()
    assert [(r["timestamp_ns"], r["value"]) for r in rows] == [(T_MID, value)]


def test_instant_subquery_matches_hand_computation(eng):
    """max_over_time(rate(x[1m])[5m:1m]) at t: the inner rate runs on its
    1m grid over samples at or before t (bucket b reads [b, b + 1m)),
    the points b in (t - 5m, t] are the one window, stamped t."""
    t = T0 + 1207 * S  # c's rate rose at 1200 s
    got = _by_instance(
        eng.prom_query("max_over_time(rate(req_total[1m])[5m:1m])", t)
    )
    want = {}
    for inst in LEAD:
        buckets: dict = {}
        for ts, v in SAMPLES[inst]:
            if ts <= t:
                buckets.setdefault(ts - ts % (60 * S), []).append(v)
        want[inst] = max(
            (vs[-1] - vs[0]) / 60
            for b, vs in buckets.items()
            if t - 300 * S < b <= t
        )
    assert {k: r["value"] for k, r in got.items()} == pytest.approx(want)
    assert {r["timestamp_ns"] for r in got.values()} == {t}


def test_instant_subquery_grid_reads_no_samples(eng):
    """A subquery inner over `time()` runs on the 1m steps of its window
    (t - 5m, t], built by arithmetic: the answer is the newest step and
    the plan scans no samples."""
    t = T_MID
    df = eng.prom_query("max_over_time(time()[5m:1m])", t)
    rows = df.collect()
    assert [(r["timestamp_ns"], r["value"]) for r in rows] == [
        (t, (t - t % (60 * S)) / S)
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "/samples" not in plan, plan


def test_range_grid_covers_request_window(eng):
    """A range query's grid functions answer at every step of [start,
    end), also past the stored samples' last timestamp."""
    start = T0 + 1800 * S  # the last stored sample
    end = start + 600 * S
    rows = eng.prom_query_range("vector(1)", start, end, 60 * S).collect()
    first = start - start % (60 * S) + 60 * S
    assert sorted(r["timestamp_ns"] for r in rows) == list(
        range(first, end, 60 * S)
    )
    assert {r["value"] for r in rows} == {1.0}


def test_http_instant_value_is_stamped_at_time(eng):
    from gigapipe_spark.httpd import HttpGateway

    gw = HttpGateway(eng)
    port = gw.start()
    try:
        url = (
            f"http://127.0.0.1:{port}/api/v1/query?query=req_total"
            f"&time={T_MID // S}"
        )
        with urllib.request.urlopen(url, timeout=120) as r:
            doc = json.loads(r.read())
    finally:
        gw.stop()
    result = doc["data"]["result"]
    assert {s["value"][0] for s in result} == {T_MID / S}
    assert {s["metric"]["instance"] for s in result} == set(LEAD)


def test_instant_plan_bounds_the_samples_scan(eng, spark):
    """Plan guard: both window bounds are raw timestamp_ns filters that
    reach the samples parquet scan, and the plan carries no newest-step
    reduction (its max(timestamp_ns) aggregate)."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")  # untruncated PushedFilters
    try:
        df = eng.prom_query("rate(req_total[5m])", T_MID)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    scans = [
        ln for ln in plan.splitlines()
        # a store read names its pinned files under the table dir
        if "FileScan parquet" in ln and "/samples/" in ln
    ]
    assert scans, plan
    lo, hi = T_MID - 300 * S, T_MID
    for ln in scans:
        pushed = ln.split("PushedFilters: ", 1)[1]
        assert f"GreaterThan(timestamp_ns,{lo})" in pushed, ln
        assert f"LessThanOrEqual(timestamp_ns,{hi})" in pushed, ln
    assert "max(timestamp_ns" not in plan, plan
