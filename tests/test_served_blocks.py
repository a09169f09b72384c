"""Block-split range reads: a step-local PromQL/LogQL query_range is
served from absolute BLOCK_NS blocks of data time (Engine.served_blocks),
and its HTTP body must be byte-identical to the body of the same read
served whole. Reads whose answer can depend on the request's edges
(`offset`, `@ start()`, a `limit`, a LogQL end off the range grid, a
width that does not divide the block) stay on plain `served`.

The store's values are integers and every counter step a multiple of
3,600, so each rate over a range dividing 1 h is an integer: the
answers are exact whatever order Spark sums them in. (Spark's float
sums depend on how rows are partitioned, and an unsplit read and a
block read partition differently.)"""

import json
import urllib.parse
import urllib.request

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

H = 3_600_000_000_000
S = 1_000_000_000
# a whole hour of data time: block edges fall at T0 + k h
T0 = 472_222 * H
SPAN_H = 3
APPS, ENVS = ("web", "api", "db"), ("prod", "dev")
# an end on the 7 m grid, two blocks after T0
E7 = T0 + 2 * H - (T0 + 2 * H) % (420 * S)

PROM = (
    'rate({env="prod"}[5m])',
    'sum by (app) (rate({env=~".+"}[5m]))',
    'topk(2, rate({env="dev"}[1m]))',
    'max_over_time(rate({app="web"}[1m])[10m:2m])',
    'absent({app="nope"})',
    "vector(1)",
    'sum_over_time({app="db"}[15m])',
    'rate({env="prod"}[5m] offset 5m)',
    # fallbacks
    'rate({env="prod"}[5m] @ start())',
    'rate({env="prod"}[7m])',
)
LOGQL = (
    'sum by (app) (count_over_time({env=~".+"}[5m]))',
    'sum by (app) (rate({env="prod"} |= "error" [1m]))',
    'topk(2, count_over_time({env="dev"}[5m]))',
    'absent_over_time({app="nope"}[5m])',
    'count_over_time({app="web"}[5m]) * 2',
    # fallbacks
    'count_over_time({app="web"}[5m] offset 1m)',
    'count_over_time({app="web"}[7m])',
)


def _push_body() -> bytes:
    """Six streams over SPAN_H hours, a line every 20-ish s each, with
    a counter value riding every line (type-0 rows: read as logs and
    as metric samples). One stream resets its counter once an hour."""
    streams = []
    for k, (app, env) in enumerate((a, e) for a in APPS for e in ENVS):
        values, v = [], 0
        for i in range(SPAN_H * 180):
            ts = T0 + (i * 20 + (i * 7 + k * 3) % 17) * S
            v = 0 if (k == 1 and i % 180 == 90) else v + 3_600 * (1 + (i + k) % 3)
            line = f"{'error' if (i + k) % 4 == 0 else 'ok'} {app} {i}"
            values.append([str(ts), line, float(v)])
        streams.append({"stream": {"app": app, "env": env}, "values": values})
    return json.dumps({"streams": streams}).encode()


@pytest.fixture(scope="module")
def gateway(spark, tmp_path_factory):
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path_factory.mktemp("blockstore") / "store")
    eng = StoreEngine(spark, root, catalog=Catalog(root))
    gw = HttpGateway(eng)
    base = f"http://127.0.0.1:{gw.start()}"
    req = urllib.request.Request(
        base + "/loki/api/v1/push", data=_push_body(), method="POST",
        headers={"Content-Type": "application/json", "X-Async-Insert": "false"},
    )
    with urllib.request.urlopen(req, timeout=300) as r:
        assert r.status == 204
    yield base, eng
    gw.stop()


def _body(base: str, path: str) -> bytes:
    with urllib.request.urlopen(base + path, timeout=300) as r:
        assert r.status == 200
        return r.read()


def _path(lang: str, query: str, start: int, end: int, step: int | None) -> str:
    q = urllib.parse.quote(query)
    if lang == "prom":
        path = f"/api/v1/query_range?query={q}&start={start / S}&end={end / S}"
        return path + (f"&step={step // S}" if step else "")
    return f"/loki/api/v1/query_range?query={q}&start={start}&end={end}"


def _counts():
    from gigapipe_spark.api import SERVED_BLOCKS, SERVED_FRAMES
    from gigapipe_spark.telemetry import TELEMETRY

    c = TELEMETRY._counters
    return {
        (name, r): c.get((name, (("result", r),)), 0.0)
        for name in (SERVED_FRAMES, SERVED_BLOCKS)
        for r in ("hit", "miss")
    }


def _served_both_ways(base, path, monkeypatch):
    """(body served from blocks if the read allows it, body served
    whole, whether blocks served the first)."""
    from gigapipe_spark import httpd
    from gigapipe_spark.api import SERVED_BLOCKS

    before = _counts()
    split = _body(base, path)
    blocks = sum(
        _counts()[(SERVED_BLOCKS, r)] - before[(SERVED_BLOCKS, r)]
        for r in ("hit", "miss")
    )
    with monkeypatch.context() as m:
        m.setattr(httpd, "_step_local", lambda *a: False)
        whole = _body(base, path)
    return split, whole, blocks > 0


# windows [start, end) in ns: whole minutes inside the data (aligned
# to 5 m or not), any second, or an end on the 7 m grid (where a 7 m
# width divides the end but not the block)
BASE = T0 - H // 2
_minute = st.integers(0, SPAN_H * 60 - 1)
_window = st.one_of(
    st.tuples(_minute.map(lambda m: m - m % 5), st.integers(1, 24).map(lambda n: n * 5))
    .map(lambda w: (BASE + w[0] * 60 * S, BASE + (w[0] + w[1]) * 60 * S)),
    st.tuples(_minute, st.integers(60, 100 * 60))
    .map(lambda w: (BASE + w[0] * 60 * S, BASE + (w[0] * 60 + w[1]) * S)),
    st.tuples(st.integers(0, SPAN_H * 3600), st.integers(1, 7200))
    .map(lambda w: (BASE + w[0] * S, BASE + (w[0] + w[1]) * S)),
    st.tuples(st.integers(1, SPAN_H * 60 // 7), st.integers(1, 3 * 60))
    .map(lambda w: (E7 - w[0] * 420 * S - w[1] * 60 * S, E7 - (w[0] - 9) * 420 * S)),
)
_step = st.sampled_from((None, 15, 60, 120, 420, 700))
_read = st.one_of(
    st.tuples(st.just("prom"), st.sampled_from(PROM)),
    st.tuples(st.just("logql"), st.sampled_from(LOGQL)),
)


def _check(gateway, monkeypatch, read, window, step):
    base, _ = gateway
    (lang, query), (start, end) = read, window
    step = step and step * S
    # the window's second half first: its blocks then come from another
    # build than the first half's
    _body(base, _path(lang, query, (start + end) // 2 // S * S, end, step))
    split, whole, _ = _served_both_ways(base, _path(lang, query, start, end, step), monkeypatch)
    assert split == whole, (query, start, end, step, split[:400], whole[:400])


@settings(
    max_examples=20, deadline=None, derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(read=_read, window=_window, step=_step)
# a 7 m width that divides the end: its buckets straddle block edges
@example(read=("prom", PROM[9]), window=(E7 - 20 * 420 * S, E7), step=None)
@example(read=("logql", LOGQL[6]), window=(E7 - 20 * 420 * S, E7), step=None)
def test_block_body_matches_unsplit(gateway, monkeypatch, read, window, step):
    _check(gateway, monkeypatch, read, window, step)


@pytest.mark.slow
@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(read=_read, window=_window, step=_step)
def test_block_body_matches_unsplit_sweep(gateway, monkeypatch, read, window, step):
    _check(gateway, monkeypatch, read, window, step)


@pytest.mark.parametrize(
    "lang,query,start,end,step,blocks",
    [
        ("prom", PROM[1], T0 + 10 * 60 * S, T0 + H + 20 * 60 * S, None, True),
        ("prom", PROM[5], T0 + 7 * S, T0 + 2 * H + 13 * S, 420 * S, True),
        ("logql", LOGQL[1], T0 + 33 * S, T0 + 2 * H, None, True),
        # a width must divide 1 h, even where it divides the end
        ("prom", '{app="web"}', T0, E7, 420 * S, False),
        ("prom", PROM[7], T0 + 5 * S, T0 + 2 * H, None, True),  # offset ≥ 0
        ("prom", PROM[8], T0, T0 + 2 * H, None, False),  # @ start()
        ("prom", PROM[9], T0 + 600 * S, E7, None, False),  # 7m range
        ("logql", LOGQL[0], T0, T0 + H + 2 * 60 * S, None, False),  # end % 5m
        ("logql", LOGQL[5], T0, T0 + 2 * H, None, False),  # offset
        ("logql", LOGQL[6], T0 + 600 * S, E7, None, False),  # 7m range
        ("logql", LOGQL[0], T0 - 40 * 24 * H, T0 + H, None, False),  # > BLOCKS_MAX
    ],
)
def test_block_or_fallback(gateway, monkeypatch, lang, query, start, end, step, blocks):
    """Each read is served from blocks exactly when its answer cannot
    depend on the request's edges, and both ways give one body."""
    base, _ = gateway
    split, whole, used = _served_both_ways(
        base, _path(lang, query, start, end, step), monkeypatch
    )
    assert used == blocks
    assert split == whole
    assert json.loads(split)["data"]["result"] or not blocks


def test_log_lines_and_limit_stay_whole(gateway):
    """A log-line read and a metric read with a `limit` never touch the
    blocks: they go through plain `served`, and repeat as a hit."""
    from gigapipe_spark.api import SERVED_BLOCKS, SERVED_FRAMES

    base, _ = gateway
    for query, extra in (('{app="web"} |= "error"', ""), (LOGQL[0], "&limit=5")):
        path = _path("logql", query, T0, T0 + H, None) + extra
        before = _counts()
        assert _body(base, path) == _body(base, path)
        after = _counts()
        delta = {k: after[k] - before[k] for k in after}
        assert delta[(SERVED_FRAMES, "miss")] == 1
        assert delta[(SERVED_FRAMES, "hit")] == 1
        assert delta[(SERVED_BLOCKS, "miss")] == delta[(SERVED_BLOCKS, "hit")] == 0


def test_cold_multi_block_read_compiles_once(gateway, spark, monkeypatch):
    """A cold read spanning four blocks plans one query; repeating it,
    or sliding its window inside the built blocks, runs no Spark job
    and compiles nothing."""
    from gigapipe_spark import api

    base, eng = gateway
    compiles = []
    real = api._promql_query
    monkeypatch.setattr(
        api, "_promql_query", lambda *a, **kw: compiles.append(a[1]) or real(*a, **kw)
    )
    query = 'sum by (env) (rate({app=~".+"}[5m]))'
    path = lambda lo, hi: _path("prom", query, lo, hi, 60 * S)
    sc = spark.sparkContext
    before = _counts()
    cold = _body(base, path(T0 - 10 * 60 * S, T0 + 2 * H + 5 * 60 * S))
    assert len(compiles) == 1
    assert _counts()[(api.SERVED_BLOCKS, "miss")] - before[(api.SERVED_BLOCKS, "miss")] == 4
    assert json.loads(cold)["data"]["result"]
    compiles.clear()
    rows = lambda lo, hi: eng.served_blocks(
        ("prom_query_range", query, 60 * S), lo, hi,
        lambda a, b: eng.prom_query_range(query, a, b, 60 * S),
    )
    for lo, hi in ((T0, T0 + H), (T0 + 5 * 60 * S, T0 + H + 5 * 60 * S)):
        sc.setJobGroup("blocks-hit", "blocks-hit")
        try:
            got = rows(lo, hi)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got and all(lo <= r["timestamp_ns"] < hi for r in got)
    assert not sc.statusTracker().getJobIdsForGroup("blocks-hit")
    assert compiles == []


def test_prom_range_series_sorted_by_label_set():
    """A range query's matrix lists series by label set, so the same
    rows collected in any order give the same body."""
    from pyspark.sql import Row

    from gigapipe_spark.httpd import _prom_envelope

    rows = [
        Row(fingerprint=fp, labels=labels, timestamp_ns=t * S, value=float(fp + t))
        for fp, labels in enumerate(
            ({"job": "b"}, {"job": "a", "zone": "z"}, {"job": "a"}, {})
        )
        for t in (60, 0, 120)
    ]
    body = json.dumps(_prom_envelope(rows, instant=False))
    assert json.dumps(_prom_envelope(rows[::-1], instant=False)) == body
    series = json.loads(body)["data"]["result"]
    assert [s["metric"] for s in series] == [
        {}, {"job": "a"}, {"job": "a", "zone": "z"}, {"job": "b"}
    ]
    assert [v[0] for v in series[0]["values"]] == [0, 60, 120]
