"""TraceQL → DataFrame compiler.

Mirrors the reference's planner structure (ref: reader/traceql/
traceql_transpiler/clickhouse_transpiler/):

  attr conditions → the reference collapses the exploded attrs index
      with a groupBitOr bitmask (term i sets bit i when its (key,val)
      row matches; ref: attr_condition.go:141-148, 368-412). Here the
      same truth table evaluates in ONE shuffle-free scan of the cached
      per-span attr map (views.span_attr_map) — missing key → NULL →
      false ≡ unset bit; single-term selectors filter the exploded
      index directly (unique per (span, key)).
  boolean && / ||   → the boolean tree compiles straight into the map
      scan's filter condition (arbitrary and/or, N terms, one scan)
  structural ops    → one join against the cached transitive ancestor
      closure (views.span_ancestors; &>> <<& ~ and negations;
      SURVEY §7.4 risk 5)
  spanset agg filter→ groupBy(trace_id) HAVING (ref: aggregator.go)
  trace assembly    → groupBy(trace_id).agg(...) (ref: index_groupby.go)
  metrics           → step buckets / exact quantiles / log2 histogram
      (ref: tempo/metrics_query.go:33,365-395,501)

Scale notes: the attrs index carries (key,val,duration,ts) so most
selectors resolve on the (narrower) index scan; span payload fetch is a
semi-join by (trace_id, span_id). Duration/intrinsic-only selectors skip
the index entirely and scan the spans table (ref: attrless.go).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gigapipe_spark.model.re2java import translate as _re2
from gigapipe_spark.sources import views
from gigapipe_spark.traceql import parser as P
from gigapipe_spark.traceql.parser import (
    AggFilter,
    AttrCmp,
    AttrNode,
    MetricsStage,
    ScriptedSpanset,
    SpanSelector,
    Structural,
    TraceQLScript,
)


@dataclass
class TraceQLContext:
    spark: SparkSession
    sf_dir: str
    step_ns: int = 3_600_000_000_000  # metrics step (1h default for fixtures)
    _spans: DataFrame | None = None
    _attrs: DataFrame | None = None
    # result of the per-script complexity probe (None = not yet probed);
    # pending_spanset is set by compile_script so the probe can run
    # lazily at the first broadcast decision
    complexity: int | None = None
    pending_spanset: object | None = None
    # whether attrs() is a STORED exploded GIN (key/val predicates are
    # index seeks with parquet pushdown — prefer it for single-term
    # selectors, like the reference's attr_condition simple path) or a
    # session view derived by exploding the cached attr map (the map
    # scan is then strictly cheaper — no per-query explode). The
    # store-backed context overrides this to True.
    gin_is_stored: bool = False

    def spans(self) -> DataFrame:
        if self._spans is None:
            self._spans = views.spans(self.spark, self.sf_dir)
        return self._spans

    def attrs(self) -> DataFrame:
        if self._attrs is None:
            self._attrs = views.span_attrs(self.spark, self.sf_dir)
        return self._attrs

    def attr_map(self) -> DataFrame:
        """Per-span attr map layout; store-backed contexts override."""
        return views.span_attr_map(self.spark, self.sf_dir)

    def ancestors(self) -> DataFrame:
        """Transitive ancestor closure; store-backed contexts override."""
        return views.span_ancestors(self.spark, self.sf_dir)

    def memo(self, key, build):
        """`build()`, cached with the tables this context reads (the
        views' per-session cache); store-backed contexts override."""
        return views.session_memo(self.spark, self.sf_dir, key, build)


# intrinsics resolvable on the spans table itself — selectors touching
# only these skip the attrs index entirely (ref: attrless.go:9)
_INTRINSIC_COLS = {"duration": "duration_ns", "name": "name", "service.name": "service_name"}


def _collect_terms(e) -> list[AttrCmp]:
    if isinstance(e, AttrCmp):
        return [e]
    return _collect_terms(e.left) + _collect_terms(e.right)


def _term_cond_on_attrs(t: AttrCmp) -> Column:
    """Condition for one term against an exploded attrs row.

    Numeric terms on `duration` use the index's duration column;
    other numeric terms compare the string val cast to double
    (ref: attr_condition_eval.go)."""
    if t.attr == "duration":
        return F.col("duration") >= F.lit(-1)  # key-independent; see _bitmask
    key = F.col("key") == t.attr
    val = F.col("val")
    if t.kind == "string":
        ops = {
            "=": val == t.value,
            "!=": val != t.value,
            "=~": val.rlike(_re2(str(t.value))),
            "!~": ~val.rlike(_re2(str(t.value))),
        }
        return key & ops[t.op]
    if t.kind == "bool":
        return key & (val == F.lit("true" if t.value else "false"))
    num = val.cast("double")
    v = float(t.value)
    ops = {
        "=": num == v, "!=": num != v, ">": num > v,
        ">=": num >= v, "<": num < v, "<=": num <= v,
    }
    return key & ops[t.op]


def _duration_cond(t: AttrCmp, col: Column) -> Column:
    v = float(t.value)
    return {
        "=": col == v, "!=": col != v, ">": col > v,
        ">=": col >= v, "<": col < v, "<=": col <= v,
    }[t.op]


def select_spans(ctx: TraceQLContext, sel: SpanSelector) -> DataFrame:
    """Spanset selector → DF[trace_id, span_id] via the bitmask index scan."""
    if sel.expr is None:
        return ctx.spans().select("trace_id", "span_id")
    terms = _collect_terms(sel.expr)
    # intrinsic-only selector: scan spans directly, no index round trip
    # (ref: attrless.go) — the common {name="x"} / {duration>..} shapes
    if all(t.attr in _INTRINSIC_COLS for t in terms):
        cond = _build_direct_intrinsic(sel.expr)
        return ctx.spans().filter(cond).select("trace_id", "span_id")
    # single non-duration term: with a STORED exploded GIN the filtered
    # index IS the span set — an index seek, no bitmask, no groupBy
    # shuffle (ref: attr_condition.go simple path). When the GIN is a
    # session view derived from the attr map, the map scan below is the
    # same single cached pass WITHOUT the explode — fall through.
    if (
        ctx.gin_is_stored
        and len(terms) == 1
        and terms[0].attr != "duration"
    ):
        return ctx.attrs().filter(_term_cond_on_attrs(terms[0])).select(
            "trace_id", "span_id"
        )
    # multi-term selector: evaluate the boolean tree directly over the
    # per-span attr MAP — one cached scan, zero shuffle. Semantically
    # identical to the reference's groupBitOr bitmask collapse over the
    # exploded GIN (attr_condition.go:141-148): a missing key yields NULL
    # → false, matching "no index row → bit unset". The map layout is the
    # Spark-first equivalent of ClickHouse's PREWHERE-on-GIN: the N-term
    # scan costs the same as a 1-term scan instead of an N-bit shuffle.
    amap = ctx.attr_map()
    if any(
        t.attr in _INTRINSIC_COLS and t.attr != "duration" for t in terms
    ):
        # MIXED intrinsic+attr tree: the STORED attr map carries only
        # real span attributes, so name/service.name must resolve
        # against spans columns (ref: attrless.go intrinsics are span
        # fields, not index rows). Spans is the BASE (left join): an
        # ||-arm matched by an intrinsic alone must still match a span
        # with no attr row at all. Rare selector shape — pure-attr and
        # pure-intrinsic trees keep their single-scan paths above.
        base = ctx.spans().select(
            "trace_id", "span_id", "name", "service_name", "duration_ns",
        ).join(
            amap.select("trace_id", "span_id", "attrs"),
            ["trace_id", "span_id"],
            "left",
        )
        return base.filter(_build_mixed_cond(sel.expr)).select(
            "trace_id", "span_id"
        )
    return amap.filter(_build_map_cond(sel.expr)).select("trace_id", "span_id")


def _build_map_cond(e) -> Column:
    """Boolean tree over the span_attr_map layout (NULL-for-missing-key
    gives the same truth table as the bitmask's unset bit)."""
    if isinstance(e, AttrCmp):
        if e.attr == "duration":
            return _duration_cond(e, F.col("duration"))
        v = F.col("attrs").getItem(e.attr)
        if e.kind == "string":
            return {
                "=": v == e.value, "!=": v != e.value,
                "=~": v.rlike(_re2(str(e.value))), "!~": ~v.rlike(_re2(str(e.value))),
            }[e.op]
        if e.kind == "bool":
            return v == F.lit("true" if e.value else "false")
        return _duration_cond(e, v.cast("double"))
    left = _build_map_cond(e.left)
    right = _build_map_cond(e.right)
    return (left & right) if e.op == "&&" else (left | right)


def _build_mixed_cond(e) -> Column:
    """Boolean tree over spans⟕attr_map: intrinsic terms read spans
    columns, attr terms read the map (NULL-for-missing like
    _build_map_cond)."""
    if isinstance(e, AttrCmp):
        if e.attr in _INTRINSIC_COLS:
            return _build_direct_intrinsic(e)
        return _build_map_cond(e)
    left = _build_mixed_cond(e.left)
    right = _build_mixed_cond(e.right)
    return (left & right) if e.op == "&&" else (left | right)


def _build_direct_intrinsic(e) -> Column:
    if isinstance(e, AttrCmp):
        col = F.col(_INTRINSIC_COLS[e.attr])
        if e.kind in ("duration", "number"):
            return _duration_cond(e, col)
        ops = {
            "=": col == e.value, "!=": col != e.value,
            "=~": col.rlike(_re2(str(e.value))), "!~": ~col.rlike(_re2(str(e.value))),
        }
        return ops[e.op]
    left = _build_direct_intrinsic(e.left)
    right = _build_direct_intrinsic(e.right)
    return (left & right) if e.op == "&&" else (left | right)


# Above this many matched index rows the reference switches from the
# single-pass plan to paginated "complex" processing
# (ref: complexity_evaluator.go:29 COMPLEXITY_THRESHOLD).
COMPLEXITY_THRESHOLD = 10_000_000

def _selectors(e) -> list[SpanSelector]:
    if e is None:
        return []
    if isinstance(e, SpanSelector):
        return [e]
    if isinstance(e, ScriptedSpanset):
        return _selectors(e.spanset)
    return _selectors(e.left) + _selectors(e.right)


def eval_complexity(ctx: TraceQLContext, spanset) -> int:
    """Pre-query complexity probe (ref: complexity_evaluator.go:31-67,
    probe SQL = count() over the filtered attr index,
    attr_condition_eval.go:30-47; maxed across probe rows like the
    reference's scan loop).

    Counts index rows matched by ANY term of each selector — an upper
    bound on every span set the plan will later join — and takes the max
    across selectors. Runs on the cached attrs/spans dimensions, so the
    probe is one cheap count job per selector; its verdict decides
    whether trace-set joins may force a broadcast (small) or must leave
    the strategy to AQE's runtime stats (large). On a 1000-executor
    cluster this is what keeps a selector matching 10^8 spans from
    broadcasting its trace set into every executor.
    """
    # Index-stats fast path: the session keeps per-(key,val) attr-index
    # row counts (views.attr_stats — the stored-index-statistics analog;
    # real engines keep these next to the GIN). A selector whose terms
    # are all stats-servable resolves its upper bound as dict lookups —
    # ZERO probe jobs. Store-backed contexts are excluded (their tables
    # grow between pushes) and non-servable terms (regex — dialect
    # fidelity — and duration) fall back to the scan probe per selector.
    # build (or fetch) the session stats ONLY when some selector could
    # actually be answered from them: a regex/duration/intrinsic-only
    # script falls to the scan probe regardless, and the stats build is
    # a real cold job (explode+groupBy+collect over the attr map) that
    # shouldn't run on a path that can't use it
    stats = None
    if type(ctx).__name__ == "TraceQLContext" and any(
        sel.expr is not None
        and all(_term_servable(t) for t in _collect_terms(sel.expr))
        for sel in _selectors(spanset)
    ):
        stats = views.attr_stats(ctx.spark, ctx.sf_dir)
    best = 0
    for sel in _selectors(spanset):
        if sel.expr is not None and stats is not None:
            bounds = [
                _stats_term_bound(t, stats)
                for t in _collect_terms(sel.expr)
            ]
            if all(b is not None for b in bounds):
                best = max(best, sum(bounds))
                continue
        if sel.expr is None:
            n = ctx.spans().count()
        else:
            terms = _collect_terms(sel.expr)
            intr = [
                t for t in terms
                if t.attr in _INTRINSIC_COLS and t.attr != "duration"
            ]
            attr_terms = [t for t in terms if t not in intr]
            if not attr_terms:
                n = ctx.spans().filter(_build_direct_intrinsic(sel.expr)).count()
            else:
                if ctx.gin_is_stored:
                    conds = None
                    for t in attr_terms:
                        c = (
                            _duration_cond(t, F.col("duration"))
                            if t.attr == "duration"
                            else _term_cond_on_attrs(t)
                        )
                        conds = c if conds is None else (conds | c)
                    n = ctx.attrs().filter(conds).count()
                else:
                    # session-view GIN: the same any-term upper bound
                    # over the cached attr MAP — one pass, no explode
                    conds = None
                    for t in attr_terms:
                        c = _build_map_cond(t)
                        conds = c if conds is None else (conds | c)
                    n = ctx.attr_map().filter(conds).count()
                if intr:
                    # MIXED tree: intrinsic terms aren't index rows —
                    # add their spans-side match count so the any-term
                    # upper bound stays an upper bound (an ||-arm on an
                    # intrinsic matches spans the index never saw)
                    icond = None
                    for t in intr:
                        c = _build_direct_intrinsic(t)
                        icond = c if icond is None else (icond | c)
                    n += ctx.spans().filter(icond).count()
        best = max(best, n)
    return best


def _term_servable(t) -> bool:
    """Structural twin of _stats_term_bound's None conditions: True iff
    the term's bound CAN resolve from per-(key,val) stats for some
    stats dict — attr terms with =/!= string ops, bools, or parseable
    numeric comparisons. Intrinsics (span columns, never index rows)
    and regex ops are never servable. Keep in lockstep with
    _stats_term_bound; eval_complexity uses this to skip the stats
    build entirely for scripts the scan probe must handle anyway."""
    if t.attr in _INTRINSIC_COLS:
        return False
    if t.kind == "string":
        return t.op in ("=", "!=")
    if t.kind == "bool":
        return True
    try:
        float(t.value)
    except (TypeError, ValueError):
        return False
    return t.op in ("=", "!=", ">", ">=", "<", "<=")


def _stats_term_bound(t, stats: dict) -> int | None:
    """Upper bound on attr-index rows matching one term, resolved
    driver-side from the (key,val)→count stats; None = not servable
    (fall back to the scan probe). Equality on a key absent from stats
    is a true zero for attr terms — no index row can match — but for
    INTRINSIC attrs the scan path reads spans COLUMNS, never index
    rows — so stats can't answer them at all, even when a corpus
    happens to carry a real span attribute literally named 'name' or
    'service.name' (resolving from those rows would under-bound the
    intrinsic and let the gate broadcast a span set the probe path
    would have refused)."""
    if t.attr in _INTRINSIC_COLS:
        return None
    if t.kind == "string":
        if t.op == "=":
            return stats.get((t.attr, t.value), 0)
        if t.op == "!=":
            return sum(
                c for (k, v), c in stats.items()
                if k == t.attr and v != t.value
            )
        return None  # =~ / !~: keep the engine's RE2→Java dialect
    if t.kind == "bool":
        return stats.get((t.attr, "true" if t.value else "false"), 0)
    try:
        tv = float(t.value)
    except (TypeError, ValueError):
        return None
    cmp = {
        "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
        ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
        "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
    }.get(t.op)
    if cmp is None:
        return None
    n = 0
    for (k, v), c in stats.items():
        if k != t.attr:
            continue
        try:
            fv = float(v)
        except ValueError:
            continue
        if cmp(fv, tv):
            n += c
    return n


def _probe_bound(ctx: TraceQLContext) -> bool:
    """True when the (lazy, memoized) complexity probe bounds the
    pending spanset under the broadcast threshold.

    The probe is LAZY: it runs at the first strategy decision, so plans
    with no size-sensitive site pay no probe job at all."""
    if ctx.complexity is None and ctx.pending_spanset is not None:
        # the verdict is cached with the tables it counts (ctx.memo):
        # dashboards re-issue the same spanset shapes, so the probe's
        # count JOBS run once per shape and table version — for a store,
        # once per (mutation seq, spanset). The AST nodes are
        # dataclasses, so repr is canonical for a query shape.
        spanset = ctx.pending_spanset
        ctx.complexity = ctx.memo(
            ("complexity", repr(spanset)), lambda: eval_complexity(ctx, spanset)
        )
    return ctx.complexity is not None and ctx.complexity <= COMPLEXITY_THRESHOLD


def _small_side(ctx: TraceQLContext, df: DataFrame) -> DataFrame:
    """Broadcast a trace/span id set only when the complexity probe
    bounds it under the threshold; otherwise return it unhinted and let
    AQE pick the join strategy from runtime sizes (Spark's native
    equivalent of the reference's simple/complex processor split)."""
    return F.broadcast(df) if _probe_bound(ctx) else df


# The dedup flip's cutoff sits an ORDER below the broadcast gate: the
# flip trades ONE exchange of the matched ids (distinct) for a SECOND
# full pass over `right` plus a broadcast build of the ids — a fixed
# ~0.3s saving against a cost that scales with the data. Measured
# bracket (30× fixture A/B, sibling-alone warm): flip wins at
# complexity 200k (sf0.1: 1.05 → 0.74), loses 25.8 s vs distinct's
# 9.5 s at complexity 6.0M — still "bounded" by the 10M broadcast
# gate, which is why the dedup needs its own, tighter threshold.
DEDUP_FLIP_THRESHOLD = COMPLEXITY_THRESHOLD // 10


def _dedup_ids(ctx: TraceQLContext, ids: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct id set for a structural op's match output (ids ⊆ right,
    and right is one-row-per-span by construction), strategy picked by
    the complexity probe's matched-rows bound:

    - small (≤ DEDUP_FLIP_THRESHOLD): semi-join ids back onto `right`
      with a broadcast probe — no exchange at all (the r14 flip; warm
      1.05 → 0.74 at sf0.1, and the regime every store-path seek-bounded
      set lands in).
    - large: plain distinct() — ONE exchange of ids. The flip is wrong
      at scale twice over: it re-scans `right` (grows with data, the
      ids exchange grows only with matches), and past the broadcast
      gate the semi-join would shuffle BOTH sides.

    Both branches return the same multiset (the distinct matched set)."""
    if _probe_bound(ctx) and ctx.complexity <= DEDUP_FLIP_THRESHOLD:
        return right.join(F.broadcast(ids), ["trace_id", "span_id"], "left_semi")
    return ids.distinct()


def _amap_routed_selector(ctx: TraceQLContext, sel) -> bool:
    """True when select_spans would evaluate this plain selector as a
    single filter over the cached per-span attr map: every term a real
    (non-intrinsic) attribute — NULL-for-missing keeps amap-only scans
    correct because a span with no attr row can never match an attr
    term — and not the stored-GIN single-term shape, whose index seek
    is cheaper than any map scan."""
    if not isinstance(sel, SpanSelector) or sel.expr is None:
        return False
    terms = _collect_terms(sel.expr)
    if any(t.attr in _INTRINSIC_COLS for t in terms):
        return False
    if ctx.gin_is_stored and len(terms) == 1:
        return False
    return True


def _fused_struct_ids(ctx: TraceQLContext, e) -> DataFrame | None:
    """Descendant/ancestor structural ops over two amap-routed plain
    selectors, compiled as ONE tagged attr-map pass (both selector
    conditions as flag columns) probed twice by the ancestor closure.

    This is a COMPILE-TIME shortcut, not an execution change: Catalyst
    specializes the tagged scan back into per-probe pushed-filter
    cached scans, so the executed plan is operator-for-operator
    equivalent to the unfused chain (plans/r15 pair) and execute-only
    interleaved A/Bs are flat at sf0.1 AND 30×. What it removes is
    ~2/3 of the per-compile Py4J construction (fresh-context
    compile+execute interleaved A/B: sf0.1 p50 1.07 → 0.76 s, 30×
    10.3 → 7.6 s, row-identical) — the ad-hoc/latency-envelope cost
    every NON-memoized structural query pays per submission.

    Only under the complexity gate: the unbounded regime keeps the
    unfused AQE-governed shape and its pinned distinct-root plan (the
    combined flag set is at most the sum of the two per-side sets the
    gate already admits for broadcast one at a time). Returns None
    when the fast path does not apply."""
    if getattr(e, "op", None) not in ("&>>", "!>>", "<<&", "<<~"):
        return None
    if not (
        _amap_routed_selector(ctx, e.left)
        and _amap_routed_selector(ctx, e.right)
    ):
        return None
    if not _probe_bound(ctx):
        return None
    # raw conditions, NOT coalesce(cond, false): NULL (missing key)
    # already acts as false in both the tagged filter and the semi-join
    # conditions, and a coalesce wrapper in the pushed cache filter
    # defeats InMemoryTableScan batch pruning (execute-only A/B showed
    # the wrapped build ~5% slower than the unfused bare predicates)
    lc = _build_map_cond(e.left.expr)
    rc = _build_map_cond(e.right.expr)
    tagged = (
        ctx.attr_map()
        .select("trace_id", "span_id", lc.alias("__l"), rc.alias("__r"))
        .filter(F.col("__l") | F.col("__r"))
    )
    b = F.broadcast(tagged)
    # &>>/!>> emit the DESCENDANT (right-matching) spans; <<&/<<~ emit
    # the ANCESTOR (right-matching) spans of left-matching descendants
    desc_flag, anc_flag = (
        ("__r", "__l") if e.op in ("&>>", "!>>") else ("__l", "__r")
    )
    cl = ctx.ancestors()
    t, a = b.alias("__t"), b.alias("__a")
    matched = cl.join(
        t,
        (cl["trace_id"] == F.col("__t.trace_id"))
        & (cl["span_id"] == F.col("__t.span_id"))
        & F.col(f"__t.{desc_flag}"),
        "left_semi",
    ).join(
        a,
        (cl["trace_id"] == F.col("__a.trace_id"))
        & (cl["anc_id"] == F.col("__a.span_id"))
        & F.col(f"__a.{anc_flag}"),
        "left_semi",
    )
    if e.op in ("&>>", "!>>"):
        ids = matched.select("trace_id", "span_id")
    else:
        ids = matched.select("trace_id", F.col("anc_id").alias("span_id"))
    rset = tagged.filter(F.col("__r")).select("trace_id", "span_id")
    if e.op in ("&>>", "<<&"):
        return _dedup_ids(ctx, ids, rset)
    return rset.join(ids, ["trace_id", "span_id"], "left_anti")


def eval_spanset(ctx: TraceQLContext, e) -> DataFrame:
    """Spanset expr → DF[trace_id, span_id]."""
    if isinstance(e, SpanSelector):
        return select_spans(ctx, e)
    fused = _fused_struct_ids(ctx, e)
    if fused is not None:
        return fused
    if isinstance(e, ScriptedSpanset):
        # selector + its OWN aggregate filters as one operand
        # (model_v2.go Selector{…, Aggregator}): filter, then shrink
        # back to ids for the enclosing op
        ids = eval_spanset(ctx, e.spanset)
        spans = ctx.spans().join(ids, ["trace_id", "span_id"], "left_semi")
        return _agg_filter_spans(ctx, spans, e.agg_filters).select(
            "trace_id", "span_id"
        )
    left = eval_spanset(ctx, e.left)
    right = eval_spanset(ctx, e.right)
    spans = ctx.spans().select("trace_id", "span_id", "parent_id")
    if e.op in ("and", "or"):
        # trace-level set ops (ref: complex_and.go intersect / complex_or.go
        # union): result spans come from both sides, limited to traces
        # satisfying the combination
        if e.op == "and":
            lt = left.select("trace_id").distinct()
            rt = right.select("trace_id").distinct()
            traces = lt.join(rt, "trace_id", "inner")
            return (
                left.unionByName(right)
                .join(_small_side(ctx, traces), "trace_id", "left_semi")
                .distinct()
            )
        return left.unionByName(right).distinct()
    if e.op in ("&>>", "!>>"):
        # descendant: spans in `right` with an ancestor matching `left`.
        # parent chains resolved by iterative join to fixpoint with a
        # depth cap (fixture traces are depth ≤ 2, cap at 8 for safety).
        anc = _ancestors(ctx, right, spans)
        # the matching-span set is selector output (dimension-sized) —
        # broadcast it under the complexity gate so the closure never
        # shuffles on (trace_id, anc_id)
        matched = anc.join(
            _small_side(ctx, left.withColumnRenamed("span_id", "anc_id")),
            ["trace_id", "anc_id"],
            "left_semi",
        ).select("trace_id", "span_id")
        if e.op == "&>>":
            return _dedup_ids(ctx, matched, right)
        return right.join(matched, ["trace_id", "span_id"], "left_anti")
    if e.op in ("<<&", "<<~"):
        # ancestor: spans matching `right` that have a descendant
        # matching `left` — the ancestor ids of left's spans, kept when
        # they appear in right's span set
        anc = _ancestors(ctx, left, spans)
        res = (
            anc.withColumnRenamed("span_id", "desc_id")
            .withColumnRenamed("anc_id", "span_id")
            .join(_small_side(ctx, right), ["trace_id", "span_id"], "left_semi")
            .select("trace_id", "span_id")
        )
        if e.op == "<<&":
            return _dedup_ids(ctx, res, right)
        return right.join(res, ["trace_id", "span_id"], "left_anti")
    if e.op == "~":
        # sibling: spans in right sharing a parent with a (different) span
        # in left
        lp = (
            left.join(spans, ["trace_id", "span_id"], "inner")
            .filter(F.col("parent_id") != "")
            .select("trace_id", F.col("parent_id"), F.col("span_id").alias("lspan"))
        )
        rp = right.join(spans, ["trace_id", "span_id"], "inner").filter(
            F.col("parent_id") != ""
        )
        j = rp.join(lp, ["trace_id", "parent_id"], "inner").filter(
            F.col("span_id") != F.col("lspan")
        )
        return _dedup_ids(ctx, j.select("trace_id", "span_id"), right)
    raise NotImplementedError(f"structural op {e.op}")


def _ancestors(ctx: TraceQLContext, span_set: DataFrame, spans: DataFrame) -> DataFrame:
    """(trace_id, span_id, anc_id) for every ancestor of each span in
    span_set: one join against the cached query-independent ancestor
    closure (views.span_ancestors) instead of an iterative per-query
    parent walk — the closure is the stored hierarchy index at scale."""
    closure = ctx.ancestors()
    return closure.join(_small_side(ctx, span_set), ["trace_id", "span_id"], "left_semi")


_CMP = {
    "=": lambda c, v: c == v, "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v, ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v, "<=": lambda c, v: c <= v,
}


def _agg_filter_spans(ctx: TraceQLContext, spans: DataFrame, agg_filters) -> DataFrame:
    """Apply spanset aggregate filters (| count() > N, | avg(attr) cmp X)
    to full span rows — shared by compile_script and ScriptedSpanset
    operands (the reference's Aggregator attaches to the Selector)."""
    for af in agg_filters:
        if af.attr in (None, "duration"):
            agg_src, target = spans, F.col("duration_ns")
        else:
            # aggregate the NAMED attribute, not duration (ref:
            # clickhouse_transpiler/aggregator.go:12 — the aggregator
            # selects the attr expression). Resolved via the per-span
            # attr map: missing key -> NULL, which sum/avg/min/max skip.
            amap = ctx.attr_map().select(
                "trace_id", "span_id", F.col("attrs").getItem(af.attr).alias("__attr_val")
            )
            agg_src = spans.join(amap, ["trace_id", "span_id"], "left")
            target = F.col("__attr_val").cast("double")
        aggs = {
            "count": F.count(F.lit(1)).cast("double"),
            "sum": F.sum(target), "min": F.min(target),
            "max": F.max(target), "avg": F.avg(target),
        }
        per_trace = agg_src.groupBy("trace_id").agg(aggs[af.fn].alias("__agg"))
        good = per_trace.filter(_CMP[af.op](F.col("__agg"), F.lit(af.value))).select(
            "trace_id"
        )
        spans = spans.join(_small_side(ctx, good), "trace_id", "left_semi")
    return spans


def compile_script(
    ctx: TraceQLContext, script: TraceQLScript, ids_only: bool = False
) -> DataFrame:
    """Full pipeline; returns spans (search), traces (assembly) or a
    metrics matrix depending on the stages.

    ids_only: a caller that consumes ONLY (trace_id, span_id) — the
    registry's search entries — can skip the final id→row fetch join
    for plain searches: eval_spanset output is one-row-per-matching-span
    by construction (selectors scan one-row-per-span layouts; every
    structural/set op ends in a distinct, a semi or an anti join), so
    the fetch join's key set IS the id set. Measured at sf0.1: the
    bitmask map-scan entry 0.71 → 0.17 warm (the fetch was a second
    full fact scan + broadcast), descendant 1.32 → 0.96."""
    if script.compare is not None:
        # | compare({sel}[, N[, baselineWindow]]): the stage's selector
        # defines the selection, the baseline is everything else — in
        # the explicit baseline window when one was given
        sel, n, baseline = script.compare
        return compare_attrs(ctx, sel, top_n=n, baseline=baseline)
    ctx.pending_spanset = script.spanset
    if isinstance(script.spanset, SpanSelector) and (
        script.spanset.expr is None
        or all(
            t.attr in _INTRINSIC_COLS
            for t in _collect_terms(script.spanset.expr)
        )
    ):
        # Single INTRINSIC-ONLY selector (the common `{ name = "x" }` /
        # `{ duration > .. }` metrics shapes): the matched ROWS are a
        # plain filter over the spans table — going through
        # ids = select_spans() and then semi-joining spans back to its
        # own filtered ids paid one full extra exchange of the fact
        # table for nothing (measured r14: ~0.45s of the metrics
        # entries' warm floor at sf0.1; the reference's attrless.go
        # likewise scans the span table directly for these).
        spans = ctx.spans()
        if script.spanset.expr is not None:
            spans = spans.filter(
                _build_direct_intrinsic(script.spanset.expr)
            )
    else:
        ids = eval_spanset(ctx, script.spanset)
        if (
            ids_only
            and script.sample is None
            and not script.agg_filters
            and script.metrics is None
            and not script.select_attrs
        ):
            return ids
        # fetch matched span rows: broadcast the id set into the fact
        # scan when an already-run probe bounds it; otherwise leave the
        # strategy to AQE rather than paying a probe job for this join
        fetch_ids = (
            F.broadcast(ids)
            if ctx.complexity is not None
            and ctx.complexity <= COMPLEXITY_THRESHOLD
            else ids
        )
        spans = ctx.spans().join(fetch_ids, ["trace_id", "span_id"], "left_semi")
    if script.sample is not None:
        # trace-level sampling with a fixed seed (ref: ctx.RandomFilter
        # attr_condition.go:55-62 — the reference also samples trace ids)
        traces = (
            spans.select("trace_id").distinct().sample(script.sample, seed=42)
        )
        spans = spans.join(_small_side(ctx, traces), "trace_id", "left_semi")
    spans = _agg_filter_spans(ctx, spans, script.agg_filters)
    if script.metrics is not None:
        out = _metrics(ctx, spans, script.metrics)
        if script.topk is not None:
            # | topk(n) / bottomk(n) second stage (ref:
            # SecondPipelineStage — applied over the metrics matrix):
            # k extreme series per step when a series column exists
            # (histogram le), else the k extreme points
            fn, k = script.topk
            order = F.col("value").desc() if fn == "topk" else F.col("value").asc()
            series_cols = [
                c for c in out.columns if c not in ("timestamp_ns", "value")
            ]
            if series_cols:
                w = Window.partitionBy("timestamp_ns").orderBy(
                    order, *[F.col(c) for c in series_cols]
                )
            else:
                w = Window.orderBy(order, F.col("timestamp_ns"))
            out = (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .drop("__rn")
            )
        return out
    if script.select_attrs:
        # | select(a, b): attach requested attr values as columns
        # (ref: select_tags_planner.go) — one semi-filtered index scan
        # pivoted per key
        attrs = ctx.attrs().filter(F.col("key").isin(*script.select_attrs))
        pivoted = (
            attrs.groupBy("trace_id", "span_id")
            .agg(F.map_from_entries(F.collect_list(F.struct("key", "val"))).alias("__m"))
        )
        out = spans.join(pivoted, ["trace_id", "span_id"], "left")
        for a in script.select_attrs:
            out = out.withColumn(a.replace(".", "_"), F.col("__m").getItem(a))
        return out.drop("__m")
    return spans


def assemble_traces(ctx: TraceQLContext, spans: DataFrame) -> DataFrame:
    """Search-result trace assembly (ref: index_groupby.go — groupArray
    per trace ordered by max ts): span count, root service, window."""
    return spans.groupBy("trace_id").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.min("timestamp_ns").alias("start_ns"),
        F.max(F.col("timestamp_ns") + F.col("duration_ns")).alias("end_ns"),
        F.max_by("service_name", F.when(F.col("parent_id") == "", F.col("timestamp_ns"))).alias(
            "root_service"
        ),
        F.sum("duration_ns").alias("total_duration_ns"),
    )


def _attr_colname(attr: str) -> str:
    return "__attr_" + attr.replace(".", "_")


def _with_span_attrs(
    ctx: TraceQLContext, spans: DataFrame, attrs: list[str]
) -> DataFrame:
    """Attach the NAMED (non-intrinsic) span attributes as columns via
    ONE join against the per-span attr map."""
    named = sorted({a for a in attrs if a and a not in _INTRINSIC_COLS})
    if not named:
        return spans
    amap = ctx.attr_map().select(
        "trace_id",
        "span_id",
        *[F.col("attrs").getItem(a).alias(_attr_colname(a)) for a in named],
    )
    return spans.join(amap, ["trace_id", "span_id"], "left")


def _attr_ref(attr: str) -> Column:
    if attr in _INTRINSIC_COLS:
        return F.col(_INTRINSIC_COLS[attr])
    return F.col(_attr_colname(attr))


def _metrics_prep(
    ctx: TraceQLContext, spans: DataFrame, m: MetricsStage
) -> tuple[DataFrame, Column, list[Column]]:
    """(spans+needed attrs, target column, by-group columns) for a
    metrics stage — the target is the NAMED attr when one is given
    (ref: metrics_query.go buildAggExpr aggregates the selected attr)."""
    needed = list(m.by)
    if m.attr not in (None, "duration"):
        needed.append(m.attr)
    spans = _with_span_attrs(ctx, spans, needed)
    target = (
        F.col("duration_ns")
        if m.attr in (None, "duration")
        else _attr_ref(m.attr).cast("double")
    )
    by_cols = [_attr_ref(b).alias(b.replace(".", "_")) for b in m.by]
    return spans, target, by_cols


_METRICS_AGGS = {
    "count_over_time": lambda target, win_s: F.count(F.lit(1)).cast("double"),
    "rate": lambda target, win_s: F.count(F.lit(1)) / win_s,
    "avg_over_time": lambda target, win_s: F.avg(target),
    "min_over_time": lambda target, win_s: F.min(target).cast("double"),
    "max_over_time": lambda target, win_s: F.max(target).cast("double"),
    "sum_over_time": lambda target, win_s: F.sum(target).cast("double"),
}


def _metrics(ctx: TraceQLContext, spans: DataFrame, m: MetricsStage) -> DataFrame:
    step = m.step_ns or ctx.step_ns
    bucket = (
        F.col("timestamp_ns") - F.pmod(F.col("timestamp_ns"), F.lit(step))
    ).alias("timestamp_ns")
    spans, target, by_cols = _metrics_prep(ctx, spans, m)
    group = [*by_cols, bucket]
    if m.fn in _METRICS_AGGS:
        agg = _METRICS_AGGS[m.fn](target, F.lit(step / 1e9))
        return spans.groupBy(*group).agg(agg.alias("value"))
    if m.fn == "quantile_over_time":
        return spans.groupBy(*group).agg(
            F.percentile(target, F.lit(m.param)).alias("value")
        )
    if m.fn == "histogram_over_time":
        return (
            spans.withColumn("le", _log2_upper_bucket(target))
            .groupBy(*group, "le")
            .agg(F.count(F.lit(1)).cast("double").alias("value"))
        )
    raise NotImplementedError(f"metrics fn {m.fn}")


def _log2_upper_bucket(target: Column) -> Column:
    """log2 histogram bucket = the value's power-of-two UPPER bound
    (ref: metrics_query.go:511 bucketExpr
    `if(x > 0, 1 << ceil(log2(x)), 0)`)."""
    t = target.cast("double")
    return F.when(t > 0, F.pow(F.lit(2.0), F.ceil(F.log2(t)))).otherwise(F.lit(0.0))


def metrics_exemplars(
    ctx: TraceQLContext,
    script: TraceQLScript,
    start_ns: int | None = None,
    end_ns: int | None = None,
) -> DataFrame:
    """Exemplar spans for a TraceQL metrics response — ONE deterministic
    sampled span per series bucket, the dots Grafana overlays on Tempo
    metrics panels.

    histogram_over_time: one span per (ts_bucket, le bucket), value = 1
    (ref: BuildHistogramExemplarsQuery metrics_query.go:558 + response
    assembly tempo_metrics.go:585-636).
    Other fns: one span per (ts_bucket, by-group); value = the span's
    duration seconds, except rate/count_over_time where it is the
    series' value at that bucket (ref: BuildGenericExemplarsQuery
    metrics_query.go:638 + includeDuration rule tempo_metrics.go:245).

    The reference samples with ClickHouse `any()`; here the pick is the
    FIRST span by (timestamp_ns, trace_id, span_id) via one min_by
    partial aggregate — deterministic (oracle-able) and shuffle-light at
    scale: map-side combine reduces each partition to one candidate row
    per bucket before the exchange.
    """
    from dataclasses import replace as _dc_replace

    m = script.metrics
    if m is None:
        raise ValueError("exemplars need a metrics stage")
    step = m.step_ns or ctx.step_ns
    bare = _dc_replace(script, metrics=None, topk=None, select_attrs=[])
    spans = compile_script(ctx, bare)
    if start_ns is not None:
        spans = spans.filter(F.col("timestamp_ns") >= start_ns)
    if end_ns is not None:
        spans = spans.filter(F.col("timestamp_ns") < end_ns)
    spans, target, by_cols = _metrics_prep(ctx, spans, m)
    bucket = (
        F.col("timestamp_ns") - F.pmod(F.col("timestamp_ns"), F.lit(step))
    ).alias("timestamp_ns")
    pick_key = F.struct("timestamp_ns", "trace_id", "span_id")
    picked = F.min_by(
        F.struct(
            F.col("trace_id"),
            F.col("duration_ns").alias("dur_ns"),
            F.col("timestamp_ns").alias("span_ts"),
        ),
        pick_key,
    ).alias("__ex")
    if m.fn == "histogram_over_time":
        grouped = (
            spans.withColumn("le", _log2_upper_bucket(target))
            .groupBy(bucket, "le")
            .agg(picked)
        )
        return grouped.select(
            "timestamp_ns",
            "le",
            F.col("__ex.trace_id").alias("trace_id"),
            F.col("__ex.dur_ns").alias("dur_ns"),
            F.col("__ex.span_ts").alias("span_ts"),
            F.lit(1.0).alias("value"),
        )
    by_names = [b.replace(".", "_") for b in m.by]
    if m.fn in ("rate", "count_over_time"):
        # exemplar value = the series value at the exemplar's bucket
        # (tempo_metrics.go:296-300 tsToValue lookup). The series agg
        # shares the exemplar pick's exact grouping, so it rides the
        # SAME groupBy — one aggregation, no matrix join
        value = _METRICS_AGGS[m.fn](target, F.lit(step / 1e9)).alias("value")
    else:
        # includeDuration: value is the sampled span's own duration s
        value = (F.min_by(F.col("duration_ns"), pick_key) / F.lit(1e9)).alias("value")
    grouped = spans.groupBy(*by_cols, bucket).agg(picked, value)
    return grouped.select(
        *by_names,
        "timestamp_ns",
        F.col("__ex.trace_id").alias("trace_id"),
        F.col("__ex.dur_ns").alias("dur_ns"),
        F.col("__ex.span_ts").alias("span_ts"),
        "value",
    )


def metrics_instant(
    ctx: TraceQLContext,
    script: TraceQLScript,
    start_ns: int | None = None,
    end_ns: int | None = None,
) -> DataFrame:
    """/api/metrics/query — ONE aggregate over the whole [start, end)
    window per by-group (ref: BuildMetricsInstantQuery,
    metrics_query.go:143: value = agg over the window; rate divides by
    the window seconds). Without explicit bounds the window is the
    matched spans' extent (derived lazily, no driver action)."""
    from dataclasses import replace as _dc_replace

    m = script.metrics
    if m is None:
        raise ValueError("instant metrics query needs a metrics stage")
    bare = _dc_replace(script, metrics=None, topk=None, select_attrs=[])
    spans = compile_script(ctx, bare)
    if start_ns is not None:
        spans = spans.filter(F.col("timestamp_ns") >= start_ns)
    if end_ns is not None:
        spans = spans.filter(F.col("timestamp_ns") < end_ns)
    ext = spans.agg(
        ((F.max("timestamp_ns") - F.min("timestamp_ns")) / 1e9).alias("__win_s")
    )
    spans, target, by_cols = _metrics_prep(ctx, spans, m)
    by_names = [b.replace(".", "_") for b in m.by]
    if m.fn == "rate":
        # rate is count/window-seconds and the reference's
        # BuildMetricsInstantQuery ALWAYS has a request window — deriving
        # one from the matched spans' own extent would make a
        # single-span result report count/1s, an arbitrary number
        if start_ns is None or end_ns is None:
            raise ValueError(
                "instant rate() requires explicit start/end bounds"
            )
        cnt = (
            spans.groupBy(*by_cols).agg(F.count(F.lit(1)).alias("__n"))
            if by_cols
            else spans.agg(F.count(F.lit(1)).alias("__n"))
        )
        win = F.lit(max((end_ns - start_ns) / 1e9, 1.0))
        return cnt.select(*by_names, (F.col("__n") / win).alias("value"))
    if m.fn == "histogram_over_time":
        # the reference's instant endpoint answers histogram queries
        # with an EMPTY series set (tempo_metrics.go:391-393)
        if by_cols:
            return spans.groupBy(*by_cols).agg(F.lit(0.0).alias("value")).limit(0)
        return spans.agg(F.lit(0.0).alias("value")).limit(0)
    if m.fn in _METRICS_AGGS:
        agg = _METRICS_AGGS[m.fn](target, F.lit(1.0))
    elif m.fn == "quantile_over_time":
        agg = F.percentile(target, F.lit(m.param))
    else:
        raise NotImplementedError(f"instant metrics fn {m.fn}")
    if by_cols:
        return spans.groupBy(*by_cols).agg(agg.alias("value"))
    return spans.agg(agg.alias("value"))


def compare_attrs(
    ctx: TraceQLContext,
    sel: SpanSelector,
    top_n: int = 10,
    baseline: tuple[int, int] | None = None,
) -> DataFrame:
    """| compare({sel}): attribute frequency diff between the selection
    and the baseline (everything else) — ref: BuildCompareQuery
    metrics_query.go:748. `baseline=(from_ns, to_ns)` restricts the
    baseline population to that window (the explicit baselineStart/End
    args of CompareSelector; the selection keeps the request window,
    metrics_query.go:744-758). Returns per (key,val): selection count,
    baseline count."""
    ids = select_spans(ctx, sel)
    attrs = ctx.attrs()
    flagged = attrs.join(
        ids.withColumn("__sel", F.lit(1)), ["trace_id", "span_id"], "left"
    ).withColumn("__sel", F.coalesce(F.col("__sel"), F.lit(0)))
    if baseline is not None:
        bfrom, bto = baseline
        in_baseline = (F.col("timestamp_ns") >= bfrom) & (F.col("timestamp_ns") < bto)
        # rows outside the baseline window contribute to neither count
        # unless they are selection rows
        flagged = flagged.filter((F.col("__sel") == 1) | in_baseline)
        counts = flagged.groupBy("key", "val").agg(
            F.sum("__sel").alias("selection_count"),
            F.sum(
                F.when((F.col("__sel") == 0) & in_baseline, F.lit(1)).otherwise(F.lit(0))
            ).alias("baseline_count"),
        )
        w = Window.orderBy(
            F.col("selection_count").desc(), F.col("key"), F.col("val")
        )
        return (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_n)
            .drop("__rn")
        )
    counts = flagged.groupBy("key", "val").agg(
        F.sum("__sel").alias("selection_count"),
        F.sum(F.lit(1) - F.col("__sel")).alias("baseline_count"),
    )
    w = Window.orderBy(F.col("selection_count").desc(), F.col("key"), F.col("val"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .drop("__rn")
    )


def trace_by_id(ctx: TraceQLContext, trace_id: str) -> DataFrame:
    """Point lookup (ref: reader/service/tempo.go:53 GetQueryRequest):
    all spans of one trace, root first then by start time."""
    return (
        ctx.spans()
        .filter(F.col("trace_id") == trace_id)
        .orderBy(F.when(F.col("parent_id") == "", 0).otherwise(1), "timestamp_ns")
    )


def query(
    ctx: TraceQLContext, text: str, ids_only: bool = False
) -> DataFrame:
    return compile_script(ctx, P.parse(text), ids_only=ids_only)
