import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

import gen  # noqa: E402
import panels  # noqa: E402


def _wire(g: gen.Generator) -> list[bytes]:
    out = [body for _, body, _ in g.preload()]
    out += [g.live_push(i) for i in range(4)]
    return out


def test_same_seed_same_bytes():
    assert _wire(gen.Generator(7)) == _wire(gen.Generator(7))


def test_different_seed_different_bytes():
    a, b = _wire(gen.Generator(7)), _wire(gen.Generator(8))
    assert len(a) == len(b)
    assert all(x != y for x, y in zip(a, b))


def test_expected_counts_match_the_wire():
    g = gen.Generator(3)
    pushes = g.preload()
    lines = [
        (int(ts), text, s["stream"])
        for route, body, _ in pushes if route == "loki"
        for s in json.loads(body)["streams"]
        for ts, text in s["values"]
    ]
    assert len(lines) == gen.LINES
    lo, hi = gen.T0 + gen.HOUR_NS, gen.T0 + 2 * gen.HOUR_NS
    in_window = [x for x in lines if lo <= x[0] < hi]
    prod_errors = [x for x in in_window if x[2]["env"] == "prod" and "error" in x[1]]
    assert g.truth.count_lines(lo, hi, env="prod", error=True) == len(prod_errors)
    dev = [x for x in in_window if x[2]["env"] == "dev"]
    assert g.truth.count_lines(lo, hi, env="dev") == len(dev)
    spans = json.loads(next(b for r, b, _ in pushes if r == "zipkin"))
    assert len(spans) == len(g.truth.spans)
    rows = sum(r for _, _, r in pushes)
    assert rows == gen.LINES + len(g.truth.scrape_ts) * gen.SERIES + len(spans)


def test_json_panel_limit_binds_in_every_window():
    g = gen.Generator(5)
    for refresh in range(panels.SLIDE_SPAN_NS // panels.SLIDE_NS):
        start, end = panels.window(refresh, gen.T0)
        n = g.truth.count_lines(start, end, app="svc3", fmt="json", status5xx=True)
        assert n > panels.JSON_LIMIT, (refresh, n)
