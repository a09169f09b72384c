"""TraceQL semantic tests vs the DuckDB oracle over the derived spans
(orders → root spans, lineitem → child spans; see sources/views.py)."""

from pyspark.sql import functions as F

from gigapipe_spark.sources.oracle import with_spans
from gigapipe_spark.traceql.compiler import (
    TraceQLContext,
    assemble_traces,
    compare_attrs,
    query,
)
from gigapipe_spark.traceql.parser import parse
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_match


def ctx(spark):
    return TraceQLContext(spark, SF_DIR)


def ids(df):
    return df.select("trace_id", "span_id")


# ----------------------------------------------------------------- parser

def test_parse_shapes():
    s = parse('{ name="order" && duration > 1s }')
    assert s.spanset.expr.op == "&&"
    s2 = parse('{ .returnflag = "R" } &>> { name = "order" }')
    # note: grammar binds selector-structural-selector left to right
    s3 = parse('{} | count() > 5')
    assert s3.agg_filters[0].fn == "count"
    s4 = parse('{ name="item" } | rate()')
    assert s4.metrics.fn == "rate"
    s5 = parse('{ span.returnflag = "R" || duration >= 2s }')
    assert s5.spanset.expr.op == "||"


# ----------------------------------------------------------------- selection

def test_attr_eq(spark):
    df = ids(query(ctx(spark), '{ returnflag = "R" }'))
    assert_match(
        df,
        with_spans("SELECT trace_id, span_id FROM spans WHERE returnflag = 'R'"),
        SF_DIR,
    )


def test_duration_filter_direct(spark):
    # duration-only selector takes the attrless fast path (spans scan)
    df = ids(query(ctx(spark), "{ duration > 50ms }"))
    assert_match(
        df,
        with_spans(
            "SELECT trace_id, span_id FROM spans WHERE duration_ns > 50000000"
        ),
        SF_DIR,
    )


def test_bitmask_and_or(spark):
    df = ids(query(ctx(spark), '{ (status = "F" || status = "P") && priority =~ "1-.*" }'))
    assert_match(
        df,
        with_spans(
            "SELECT trace_id, span_id FROM spans WHERE (status IN ('F','P'))"
            " AND regexp_matches(priority, '1-.*')"
        ),
        SF_DIR,
    )


def test_mixed_attr_duration(spark):
    df = ids(query(ctx(spark), '{ name = "item" && duration > 60ms }'))
    assert_match(
        df,
        with_spans(
            "SELECT trace_id, span_id FROM spans WHERE name='item'"
            " AND duration_ns > 60000000"
        ),
        SF_DIR,
    )


# ----------------------------------------------------------------- structural

def test_descendant(spark):
    # items with returnflag R under an urgent order
    df = ids(query(ctx(spark), '{ priority = "1-URGENT" } &>> { returnflag = "R" }'))
    assert_match(
        df,
        with_spans(
            """
            SELECT c.trace_id, c.span_id FROM spans c
            JOIN spans p ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
            WHERE c.returnflag = 'R' AND p.priority = '1-URGENT'
            """
        ),
        SF_DIR,
    )


def test_ancestor(spark):
    # orders that have an R-flagged item beneath them
    df = ids(query(ctx(spark), '{ returnflag = "R" } <<& { name = "order" }'))
    assert_match(
        df,
        with_spans(
            """
            SELECT DISTINCT p.trace_id, p.span_id FROM spans p
            JOIN spans c ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
            WHERE p.name = 'order' AND c.returnflag = 'R'
            """
        ),
        SF_DIR,
    )


def test_sibling(spark):
    df = ids(query(ctx(spark), '{ returnflag = "R" } ~ { returnflag = "A" }'))
    assert_match(
        df,
        with_spans(
            """
            SELECT DISTINCT b.trace_id, b.span_id FROM spans b
            JOIN spans a ON a.trace_id = b.trace_id AND a.parent_id = b.parent_id
                        AND a.span_id != b.span_id
            WHERE b.returnflag = 'A' AND a.returnflag = 'R'
              AND b.parent_id != '' AND a.parent_id != ''
            """
        ),
        SF_DIR,
    )


def test_trace_and(spark):
    df = ids(query(ctx(spark), '{ returnflag = "R" } and { status = "F" }'))
    assert_match(
        df,
        with_spans(
            """
            SELECT DISTINCT u.trace_id, u.span_id
            FROM (SELECT trace_id, span_id FROM spans WHERE returnflag='R'
                  UNION ALL
                  SELECT trace_id, span_id FROM spans WHERE status='F') u
            JOIN (SELECT DISTINCT l.trace_id
                  FROM (SELECT DISTINCT trace_id FROM spans WHERE returnflag='R') l
                  JOIN (SELECT DISTINCT trace_id FROM spans WHERE status='F') rr
                    ON l.trace_id = rr.trace_id) t
              ON u.trace_id = t.trace_id
            """
        ),
        SF_DIR,
    )


# ----------------------------------------------------------------- aggregates

def test_spanset_count_filter(spark):
    df = ids(query(ctx(spark), "{} | count() > 45"))
    assert_match(
        df,
        with_spans(
            """
            SELECT trace_id, span_id FROM spans WHERE trace_id IN (
              SELECT trace_id FROM spans GROUP BY trace_id HAVING count(*) > 45
            )
            """
        ),
        SF_DIR,
    )


def test_spanset_avg_duration_filter(spark):
    df = ids(query(ctx(spark), '{ name = "item" } | avg(duration) > 30ms'))
    assert_match(
        df,
        with_spans(
            """
            SELECT trace_id, span_id FROM spans
            WHERE name = 'item' AND trace_id IN (
              SELECT trace_id FROM spans WHERE name = 'item' GROUP BY trace_id
              HAVING avg(duration_ns) > 30000000
            )
            """
        ),
        SF_DIR,
    )


# ----------------------------------------------------------------- assembly

def test_trace_assembly(spark):
    spans = query(ctx(spark), '{ returnflag = "R" }')
    df = assemble_traces(ctx(spark), spans).select(
        "trace_id", "span_count", "start_ns", "total_duration_ns"
    )
    assert_match(
        df,
        with_spans(
            """
            SELECT trace_id, count(*) AS span_count, min(timestamp_ns) AS start_ns,
                   sum(duration_ns) AS total_duration_ns
            FROM spans WHERE returnflag = 'R' GROUP BY trace_id
            """
        ),
        SF_DIR,
    )


# ----------------------------------------------------------------- metrics

def test_metrics_rate_and_quantile(spark):
    c = ctx(spark)
    step = c.step_ns
    df = query(c, '{ name = "item" } | rate()').select(
        "timestamp_ns", F.round("value", 6).alias("value")
    )
    assert_match(
        df,
        with_spans(
            f"""
            SELECT (timestamp_ns - timestamp_ns % {step}) AS timestamp_ns,
                   round(count(*) / {step/1e9}, 6) AS value
            FROM spans WHERE name = 'item' GROUP BY 1
            """
        ),
        SF_DIR,
    )
    dq = query(c, '{ name = "item" } | quantile_over_time(duration, 0.9)').select(
        "timestamp_ns", F.round("value", 4).alias("value")
    )
    assert_match(
        dq,
        with_spans(
            f"""
            SELECT (timestamp_ns - timestamp_ns % {step}) AS timestamp_ns,
                   round(quantile_cont(duration_ns, 0.9), 4) AS value
            FROM spans WHERE name = 'item' GROUP BY 1
            """
        ),
        SF_DIR,
    )


def test_histogram_over_time(spark):
    c = ctx(spark)
    step = c.step_ns
    df = query(c, '{ name = "order" } | histogram_over_time(duration)').select(
        "timestamp_ns", "le", F.round("value", 6).alias("value")
    )
    assert_match(
        df,
        with_spans(
            f"""
            SELECT (timestamp_ns - timestamp_ns % {step}) AS timestamp_ns,
                   CASE WHEN duration_ns > 0
                        THEN power(2.0, ceil(log2(CAST(duration_ns AS DOUBLE))))
                        ELSE 0.0 END AS le,
                   round(CAST(count(*) AS DOUBLE), 6) AS value
            FROM spans WHERE name = 'order' GROUP BY 1, 2
            """
        ),
        SF_DIR,
    )


def test_compare(spark):
    from gigapipe_spark.traceql.parser import TraceQLParser

    sel = TraceQLParser('{ returnflag = "R" }').parse_spanset_atom()
    df = compare_attrs(ctx(spark), sel, top_n=5)
    rows = df.collect()
    assert len(rows) == 5
    # the selection is exactly the R-flagged spans: for key=returnflag,
    # val=R the baseline count must be 0
    r = [x for x in rows if x["key"] == "returnflag" and x["val"] == "R"]
    if r:
        assert r[0]["baseline_count"] == 0


def test_complexity_probe(spark):
    from gigapipe_spark.traceql import compiler as C

    ctx = TraceQLContext(spark, SF_DIR)
    script = parse('{ returnflag = "R" }')
    n = C.eval_complexity(ctx, script.spanset)
    # upper-bounds the matched span set, below the reference threshold here
    assert 0 < n <= C.COMPLEXITY_THRESHOLD
    # the probe is lazy: a plain selector has no broadcast decision, so
    # compiling it runs no probe job...
    C.compile_script(ctx, script)
    assert ctx.complexity is None
    # ...but a plan with a forced-broadcast site (spanset agg filter)
    # probes at the first _small_side consult
    ctx2 = TraceQLContext(spark, SF_DIR)
    C.compile_script(ctx2, parse("{} | count() > 45"))
    assert ctx2.complexity is not None
    # a probe over the threshold flips _small_side to the AQE path
    big = TraceQLContext(spark, SF_DIR)
    big.complexity = C.COMPLEXITY_THRESHOLD + 1
    df = ctx.spans().select("trace_id").limit(5)
    # broadcast hint applied under threshold; AQE path (no hint) above it
    hinted = C._small_side(ctx, df)
    unhinted = C._small_side(big, df)
    assert "broadcast" in hinted._jdf.queryExecution().logical().toString().lower()
    assert "broadcast" not in unhinted._jdf.queryExecution().logical().toString().lower()


def test_metrics_topk_second_stage(spark):
    c = TraceQLContext(spark, SF_DIR)
    full = query(c, '{ name = "item" } | count_over_time()')
    top = query(c, '{ name = "item" } | count_over_time() | topk(3)')
    rows = top.collect()
    assert len(rows) == min(3, full.count())
    # the kept points are the highest values overall
    best = sorted((r["value"] for r in full.collect()), reverse=True)[: len(rows)]
    assert sorted((r["value"] for r in rows), reverse=True) == best
    bot = query(c, '{ name = "item" } | histogram_over_time(duration) | bottomk(2)')
    per_ts = {}
    for r in bot.collect():
        per_ts.setdefault(r["timestamp_ns"], []).append(r["value"])
    assert all(len(v) <= 2 for v in per_ts.values())


def test_compare_stage_from_text(spark):
    from gigapipe_spark.traceql.compiler import compare_attrs
    from gigapipe_spark.traceql.parser import TraceQLParser

    c = TraceQLContext(spark, SF_DIR)
    text = query(c, '{} | compare({ returnflag = "R" }, 5)')
    direct = compare_attrs(
        TraceQLContext(spark, SF_DIR),
        TraceQLParser('{ returnflag = "R" }').parse_spanset_atom(),
        top_n=5,
    )
    a = {(r["key"], r["val"]): (r["selection_count"], r["baseline_count"]) for r in text.collect()}
    b = {(r["key"], r["val"]): (r["selection_count"], r["baseline_count"]) for r in direct.collect()}
    assert a == b and len(a) == 5


def test_metrics_exemplars_avg_duration_value(spark):
    """Non-rate/count exemplars carry the sampled span's own duration
    seconds as value (includeDuration rule, tempo_metrics.go:301-306),
    and exactly one exemplar exists per (by-group, bucket)."""
    from gigapipe_spark.traceql.compiler import metrics_exemplars
    from gigapipe_spark.traceql.parser import parse

    c = ctx(spark)
    ex = metrics_exemplars(c, parse('{ name = "item" } | avg_over_time(duration) by (returnflag)'))
    rows = ex.collect()
    assert rows
    for r in rows:
        assert r["value"] == r["dur_ns"] / 1e9
    assert len(rows) == len({(r["returnflag"], r["timestamp_ns"]) for r in rows})
    # deterministic: re-evaluation samples the identical spans
    again = {(r["returnflag"], r["timestamp_ns"]): r["trace_id"] for r in ex.collect()}
    for r in rows:
        assert again[(r["returnflag"], r["timestamp_ns"])] == r["trace_id"]


def test_metrics_instant_histogram_empty(spark):
    # reference MetricsQueryInstant returns an empty series set for
    # histogram_over_time (tempo_metrics.go:391-393)
    from gigapipe_spark.traceql.compiler import metrics_instant

    out = metrics_instant(
        ctx(spark), parse('{ name = "order" } | histogram_over_time(duration)')
    )
    assert out.count() == 0 and "value" in out.columns


def test_compare_baseline_window(spark):
    """compare({sel}, N, bFrom, bTo): the baseline population narrows to
    the window while the selection keeps the request window
    (CompareSelector model_v2.go:204-209 + BuildCompareQuery:744-758)."""
    c = ctx(spark)
    full = {(r["key"], r["val"]): r for r in query(c, '{ returnflag = "R" } | compare({ name = "order" }, 50)').collect()}
    # baseline clamped to an empty window: baseline counts go to 0,
    # selection counts unchanged
    clamped = {(r["key"], r["val"]): r
               for r in query(c, '{ returnflag = "R" } | compare({ name = "order" }, 50, 1, 2)').collect()}
    assert clamped
    for k, r in clamped.items():
        assert r["baseline_count"] == 0
        assert r["selection_count"] == full[k]["selection_count"]


def test_unquoted_enum_values(spark):
    """{ status = error } parses as a string comparison (ref:
    attr_condition.go unquoted enum values); non-equality ops reject."""
    import pytest as _pytest

    from gigapipe_spark.traceql.compiler import TraceQLContext, query
    from gigapipe_spark.traceql.parser import TraceQLSyntaxError, parse

    s = parse('{ status = error }')
    cmp = s.spanset.expr
    assert cmp.value == "error" and cmp.kind == "string" and cmp.op == "="
    with _pytest.raises(TraceQLSyntaxError):
        parse('{ status > error }')
    # end-to-end equivalence with the quoted form
    ctx = TraceQLContext(spark, SF_DIR)
    unq = query(ctx, '{ name = item }').select("span_id")
    q = query(ctx, '{ name = "item" }').select("span_id")
    assert unq.count() == q.count() > 0


def test_complexity_stats_fast_path_matches_scan(spark):
    """The index-stats probe (views.attr_stats dict lookups, zero jobs)
    must upper-bound what the scan probe counts and reach the same
    broadcast verdict for every fixture selector shape."""
    from gigapipe_spark.sources import views
    from gigapipe_spark.traceql import compiler as C

    stats = views.attr_stats(spark, SF_DIR)
    assert stats is not None and len(stats) > 0
    for expr in [
        '{ returnflag = "R" }',
        '{ priority = "1-URGENT" && returnflag = "R" }',
        '{ name = "item" }',
        '{ quantity > 40 }',
        '{ nosuchattr = "x" }',
    ]:
        script = parse(expr)
        ctx = C.TraceQLContext(spark, SF_DIR)
        n_stats = C.eval_complexity(ctx, script.spanset)
        # force the scan path by hiding the stats for this call
        memo = views._dim_memo(spark)
        key = (SF_DIR, "attr_stats")
        saved = memo.pop(key)
        memo[key] = None  # memoized refusal → scan probe
        try:
            n_scan = C.eval_complexity(
                C.TraceQLContext(spark, SF_DIR), script.spanset
            )
        finally:
            memo[key] = saved
        assert n_stats >= n_scan, (expr, n_stats, n_scan)
        thr = C.COMPLEXITY_THRESHOLD
        assert (n_stats <= thr) == (n_scan <= thr), (expr, n_stats, n_scan)


def test_complexity_stats_regex_falls_back(spark):
    """Regex terms keep the engine's RE2→Java dialect: the stats path
    refuses them and the scan probe still answers."""
    from gigapipe_spark.traceql import compiler as C

    ctx = C.TraceQLContext(spark, SF_DIR)
    script = parse('{ returnflag =~ "R|A" }')
    n = C.eval_complexity(ctx, script.spanset)
    assert n > 0


def test_stats_bound_never_answers_intrinsics():
    """ADVICE r12: a corpus with a REAL span attribute literally named
    'name' or 'service.name' must not let the stats path resolve an
    INTRINSIC term from index row counts — intrinsics are span fields,
    never index rows, and resolving from attr stats would under-bound
    the selector (broadcasting a span set the scan probe would refuse).
    _stats_term_bound returns None for every intrinsic, even when the
    key exists in the stats dict."""
    from gigapipe_spark.traceql.compiler import _stats_term_bound
    from gigapipe_spark.traceql.parser import AttrCmp

    stats = {("name", "GET /"): 3, ("service.name", "api"): 7,
             ("custom", "x"): 5}
    for attr in ("name", "service.name", "duration"):
        t = AttrCmp(attr=attr, op="=", value="GET /", kind="string")
        assert _stats_term_bound(t, stats) is None, attr
    # non-intrinsic attrs still resolve from stats
    t = AttrCmp(attr="custom", op="=", value="x", kind="string")
    assert _stats_term_bound(t, stats) == 5


def test_stats_servability_precheck():
    """_term_servable mirrors _stats_term_bound's None conditions —
    eval_complexity uses it to skip the (cold, explode+groupBy+collect)
    stats build for scripts the scan probe must handle anyway."""
    from gigapipe_spark.traceql.compiler import (
        _stats_term_bound,
        _term_servable,
    )
    from gigapipe_spark.traceql.parser import AttrCmp

    cases = [
        AttrCmp("custom", "=", "x", "string"),
        AttrCmp("custom", "!=", "x", "string"),
        AttrCmp("custom", "=~", "x.*", "string"),
        AttrCmp("custom", "!~", "x.*", "string"),
        AttrCmp("flag", "=", True, "bool"),
        AttrCmp("n", ">", 3.0, "number"),
        AttrCmp("n", "=", "notanum", "number"),
        AttrCmp("name", "=", "GET /", "string"),
        AttrCmp("service.name", "=", "api", "string"),
        AttrCmp("duration", ">", 5.0, "duration"),
    ]
    stats = {("custom", "x"): 2, ("flag", "true"): 1, ("n", "4"): 1,
             ("name", "GET /"): 9, ("service.name", "api"): 9,
             ("n", "notanum"): 1}
    for t in cases:
        servable = _term_servable(t)
        bound = _stats_term_bound(t, stats)
        assert servable == (bound is not None), (t, servable, bound)


# ------------------------------------------- structural dedup regimes (r14)

def test_structural_dedup_unbounded_falls_back_to_distinct(spark):
    """The structural ops' dedup is regime-adaptive (_dedup_ids): with
    the complexity gate bounding the spanset, matched ids semi-join back
    onto `right` behind a broadcast probe (no exchange); when the gate
    REFUSES, the fallback must be distinct() — one exchange of the id
    set — because the semi-join formulation shuffles BOTH sides once
    broadcast is off, and `right` is the larger one (30× fixture A/B:
    descendant warm 11.6 → 8.0 s, sibling 30.6 → 23.6 s). Results are
    identical in both regimes; this locks the unbounded branch's results
    AND its plan (no join in the dedup tail, distinct's HashAggregate
    present)."""
    import gigapipe_spark.traceql.compiler as C

    cases = [
        (
            '{ priority = "1-URGENT" } &>> { returnflag = "R" }',
            """
            SELECT c.trace_id, c.span_id FROM spans c
            JOIN spans p ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
            WHERE c.returnflag = 'R' AND p.priority = '1-URGENT'
            """,
        ),
        (
            '{ returnflag = "R" } <<& { name = "order" }',
            """
            SELECT DISTINCT p.trace_id, p.span_id FROM spans p
            JOIN spans c ON c.trace_id = p.trace_id AND c.parent_id = p.span_id
            WHERE p.name = 'order' AND c.returnflag = 'R'
            """,
        ),
        (
            '{ returnflag = "R" } ~ { returnflag = "A" }',
            """
            SELECT DISTINCT b.trace_id, b.span_id FROM spans b
            JOIN spans a ON a.trace_id = b.trace_id AND a.parent_id = b.parent_id
                        AND a.span_id != b.span_id
            WHERE b.returnflag = 'A' AND a.returnflag = 'R'
              AND b.parent_id != '' AND a.parent_id != ''
            """,
        ),
    ]
    for text, sql in cases:
        c = ctx(spark)
        # pre-set the probe result above the threshold: the gate refuses
        # and every _small_side/_dedup_ids site must take the unhinted/
        # distinct branch (compile_script never resets a probed value)
        c.complexity = C.COMPLEXITY_THRESHOLD + 1
        df = ids(query(c, text, ids_only=True))
        assert_match(df, with_spans(sql), SF_DIR)
        # the unbounded dedup is distinct(): the optimized plan's root is
        # an Aggregate over the id pair — NOT the broadcast-hinted
        # LeftSemi against `right` the bounded regime plans (which the
        # committed plans/r14 dumps and the bounded tests above pin)
        root = df._jdf.queryExecution().optimizedPlan().toString().splitlines()[0]
        assert root.startswith("Aggregate [trace_id"), (text, root)


# --------------------------------------------- fused structural scan (r15)

def test_struct_fusion_one_tagged_scan(spark, monkeypatch):
    """&>>/!>>/<<&/<<~ over two amap-routed selectors compile as ONE
    tagged attr-map pass (flag columns __l/__r) probed twice — a
    compile-time shortcut (~2/3 of the per-compile Py4J construction;
    fresh-context interleaved A/B: sf0.1 p50 1.07 -> 0.76 s, 30x
    10.3 -> 7.6 s) whose EXECUTED plan Catalyst specializes back to
    the per-probe pushed-filter scans (execution-neutral, receipts in
    OPTIMIZATION_r15.md B8). Results must be identical with the fusion
    killed, and the fusion must NOT engage for mixed intrinsic/attr
    selector pairs (whose bases differ) or in the unbounded regime
    (pinned distinct root in
    test_structural_dedup_unbounded_falls_back_to_distinct)."""
    import gigapipe_spark.traceql.compiler as C

    for text in (
        '{ priority = "1-URGENT" } &>> { returnflag = "R" }',
        '{ priority = "1-URGENT" } !>> { returnflag = "R" }',
        '{ returnflag = "R" } <<& { priority = "1-URGENT" }',
        '{ returnflag = "R" } <<~ { priority = "1-URGENT" }',
    ):
        fused = ids(query(ctx(spark), text, ids_only=True))
        # the optimizer inlines the flag aliases into join conditions, so
        # the engagement pin reads the ANALYZED plan (the physical
        # one-scan/reused-broadcast evidence is the committed plans/r15
        # pair); semantics are pinned by the A/B collect below
        plan = fused._jdf.queryExecution().analyzed().toString()
        assert "__l" in plan and "__r" in plan, (text, "fusion not engaged")
        monkeypatch.setattr(C, "_fused_struct_ids", lambda c, e: None)
        unfused = ids(query(ctx(spark), text, ids_only=True))
        uplan = unfused._jdf.queryExecution().analyzed().toString()
        assert "__l" not in uplan and "__r" not in uplan
        monkeypatch.undo()
        assert sorted(map(tuple, fused.collect())) == sorted(
            map(tuple, unfused.collect())
        ), text

    # mixed pair: name is an intrinsic (spans base) — stays unfused
    mixed = ids(
        query(ctx(spark), '{ name = "order" } &>> { returnflag = "R" }',
              ids_only=True)
    )
    mplan = mixed._jdf.queryExecution().analyzed().toString()
    assert "__l" not in mplan and "__r" not in mplan


# ------------------------------------------- per-request probe verdicts

STRUCT_A = '{ priority = "1-URGENT" } &>> { returnflag = "R" }'
STRUCT_B = '{ priority = "5-LOW" } &>> { returnflag = "A" }'


def record_verdicts(monkeypatch) -> list:
    """Spy on every probe-gated strategy decision: appends (thread name,
    the spanset the deciding context probes for, its verdict)."""
    import threading

    import gigapipe_spark.traceql.compiler as C

    seen = []
    real = C._probe_bound

    def spy(c):
        out = real(c)
        seen.append(
            (threading.current_thread().name, repr(c.pending_spanset), c.complexity)
        )
        return out

    monkeypatch.setattr(C, "_probe_bound", spy)
    return seen


def expected_verdicts(spark) -> dict:
    import gigapipe_spark.traceql.compiler as C

    want = {
        repr(parse(t).spanset): C.eval_complexity(ctx(spark), parse(t).spanset)
        for t in (STRUCT_A, STRUCT_B)
    }
    assert len(set(want.values())) == 2, want  # the verdicts tell apart
    return want


def test_engine_probes_each_requests_own_spanset(spark, monkeypatch):
    """Two structural searches on one Engine each decide their
    broadcast/dedup/fusion gates on their OWN probe verdict: a query
    context is a per-request value, so the first search's verdict never
    leaks into the second."""
    from gigapipe_spark.api import Engine

    want = expected_verdicts(spark)
    seen = record_verdicts(monkeypatch)
    eng = Engine(spark, SF_DIR)
    for text in (STRUCT_A, STRUCT_B):
        eng.tempo_search(text)
    assert {s for _, s, _ in seen} == set(want)
    for _, spanset, verdict in seen:
        assert verdict == want[spanset], (spanset, verdict)


def test_engine_concurrent_searches_probe_their_own_spansets(spark, monkeypatch):
    """Concurrent structural searches on one Engine, with the GIL
    switching every microsecond: each thread's strategy decisions read
    the verdict for its own spanset (a shared context would let one
    request's compile overwrite the other's pending spanset)."""
    import sys
    import threading

    from gigapipe_spark.api import Engine

    want = expected_verdicts(spark)
    eng = Engine(spark, SF_DIR)
    seen = record_verdicts(monkeypatch)
    mine, errors = {}, []

    def run(text):
        mine[threading.current_thread().name] = repr(parse(text).spanset)
        try:
            for _ in range(2):
                eng.tempo_search(text)
        except Exception as ex:  # surfaced below
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=run, args=(t,)) for t in (STRUCT_A, STRUCT_B)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert {tid for tid, _, _ in seen} == set(mine)
    for tid, spanset, verdict in seen:
        assert spanset == mine[tid], (spanset, mine[tid])
        assert verdict == want[spanset], (spanset, verdict)
