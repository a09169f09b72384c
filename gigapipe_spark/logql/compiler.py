"""LogQL → DataFrame compiler.

Where the reference compiles its AST into one ClickHouse SQL string plus
a chain of Go streaming operators (ref: reader/logql/logql_transpiler/),
this compiler maps every pipeline stage onto DataFrame transformations and
lets Catalyst choose the physical plan. There is no SQL-string generation
and no pushdown split: everything runs in Spark, and the "which stages are
native column ops vs UDF" decision survives as "prefer built-in exprs".

Execution model per stage (scale notes inline):

  selector      → fingerprint set from the small series/gin dimension,
                  broadcast-semi-joined into the samples scan
                  (ref: planner_stream_select.go GIN bitmask — same trick,
                  groupBy + bit_or(shiftleft()) — see `fingerprints`)
  line filters  → contains/rlike column predicates (pushed to scan)
  parsers       → from_json / str_to_map / regexp_extract into the labels
                  map (ref: planner_parser*.go + Go-side parser.go)
  range aggs    → tumbling bucket floor(ts/range)*range per stream
                  (ref: planner_lra.go intDiv bucketing)
  vector aggs   → re-group by kept labels with a canonical fingerprint
                  (ref: planner_by_without.go canonical re-hash)
  topk          → row_number window per bucket (ref: planner_topk.go
                  arraySlice(arraySort(...)) — same semantics)
  binary ops    → join on (labels, bucket) (ref: planner_binary_expr.go
                  UNION ALL + argMinIf pivot — a join expresses the same)

The internal row shape mirrors the reference's LogEntry
(ref: shared/types.go:97-105): fingerprint, timestamp_ns, value, string,
labels — but stays a distributed DataFrame throughout.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gigapipe_spark.logql import ast as A
from gigapipe_spark.model.fingerprint import (
    canonical_from_entries,
    canonical_labels_str,
    sorted_entries,
)
from gigapipe_spark.model.re2java import group_index as _re2_groups
from gigapipe_spark.model.re2java import translate as _re2
from gigapipe_spark.planutil import nonpushable
from gigapipe_spark.sources import views


@dataclass
class LogQLContext:
    """Bind-point for the engine's tables; override in tests to inject
    custom DataFrames."""

    spark: SparkSession
    sf_dir: str
    # requested time window (query_range params); query() widens these by
    # the query's max range+offset and threads them into the fact scan as
    # raw-ts predicates (parquet row-group pruning at scale — ref:
    # stream_select.go:76, prom_queryable.go:196-202)
    start_ns: int | None = None
    end_ns: int | None = None
    _scan_bounds: tuple[int | None, int | None] = (None, None)
    _samples: DataFrame | None = None
    _series: DataFrame | None = None
    _gin: DataFrame | None = None

    def samples(self) -> DataFrame:
        if self._samples is None:
            self._samples = views.samples(
                self.spark, self.sf_dir, self._scan_bounds[0], self._scan_bounds[1]
            )
        return self._samples

    def set_scan_bounds(self, lookback_ns: int) -> None:
        """Install the widened scan window for the current query."""
        lo = None if self.start_ns is None else self.start_ns - lookback_ns
        hi = self.end_ns
        if (lo, hi) != self._scan_bounds:
            self._scan_bounds = (lo, hi)
            self._samples = None

    def series(self) -> DataFrame:
        if self._series is None:
            self._series = views.time_series(self.spark, self.sf_dir)
        return self._series

    def gin(self) -> DataFrame:
        if self._gin is None:
            self._gin = views.time_series_gin(self.spark, self.sf_dir)
        return self._gin

    def match_series(self) -> DataFrame:
        """Series dim used for selector matching: one row per
        fingerprint with the full labels map, NO sample-type scoping —
        the GIN this replaces had none either; the consumers' fact
        scans apply their own type filters, so a fingerprint of a type
        a query never reads joins to nothing exactly as before.
        Store contexts override (their series() accessors are
        type-scoped per planner rules)."""
        return self.series()


@dataclass
class Result:
    df: DataFrame
    kind: str  # "streams" | "matrix"
    labels_mutated: bool = field(default=False)


# ---------------------------------------------------------------- selector


def _val_cond(v: Column, op: str, value: str) -> Column:
    """Positive value condition against a labels-map lookup (NULL for a
    missing key ⇒ condition NULL ⇒ filtered, matching "no GIN row → bit
    unset")."""
    if op == "=":
        return v == value
    # user regexes are RE2 (ref: sql_misc.go:33 match()); translate to
    # Java-with-RE2-semantics before rlike
    return v.rlike(_re2(value))


def fingerprints(ctx: LogQLContext, sel: A.Selector) -> DataFrame:
    """Selector → DF[fingerprint]: ONE zero-shuffle scan of the series
    dimension's labels map evaluating every matcher at once.

    Semantically this is the reference's GIN bitmask collapse
    (planner_stream_select.go:73-82: each matching exploded (key,val)
    row contributes bit i, a series qualifies when bit_or == 2^n - 1)
    evaluated on the un-exploded map — a missing key yields NULL →
    false, exactly "no index row → bit unset"; negative matchers are
    NOT(coalesce(match, false)), exactly the anti-join refinement.
    r14: the bitmask formulation paid a groupBy(fingerprint) Exchange +
    two HashAggregates + per-negation anti-joins PER QUERY EXECUTION on
    a dimension-sized input — measured 0.39s warm at sf0.1 vs 0.09s for
    the map scan, with set-identical output. The result is one row per
    fingerprint (the dim is) and is broadcast into the fact scan by
    `scan`.
    """
    # Matcher normalization (ref: planner_stream_select.go:31-47,85-116):
    #  - `l=~".*"` is trivially true — PRUNE it (semantic fix too: the
    #    GIN semi-join would otherwise require the label to exist, while
    #    upstream `.*` also matches streams without the label)
    #  - `l!~".*"` matches nothing — whole selector is empty
    #  - empty-value matchers (`l=""`, `l=~""`) mean "label absent" and
    #    compile to a NOT-EXISTS refinement, not a GIN value match;
    #    their negations (`l!=""`, `l!~""`) mean "label present"
    _TRIVIAL_RX = (".*", ".*?", "(?s:.*)")
    matchers: list[A.Matcher] = []
    require_absent: list[str] = []
    require_present: list[str] = []
    match_nothing = False
    for m in sel.matchers:
        if m.op == "=~" and m.value in _TRIVIAL_RX:
            continue
        if m.op == "!~" and m.value in _TRIVIAL_RX:
            match_nothing = True
            continue
        if m.value == "":
            if m.op in ("=", "=~"):
                require_absent.append(m.label)
            else:
                require_present.append(m.label)
            continue
        matchers.append(m)
    dim = ctx.match_series().select("fingerprint", "labels")
    if match_nothing:
        return dim.select("fingerprint").limit(0)
    cond = F.lit(True)
    lab = F.col("labels")
    for m in matchers:
        v = lab.getItem(m.label)
        if m.op in ("=", "=~"):
            cond = cond & _val_cond(v, m.op, m.value)
        else:
            # negation: qualifies unless the label EXISTS with a
            # matching value (absent label → coalesce false → keep)
            flip = "=" if m.op == "!=" else "=~"
            cond = cond & ~F.coalesce(
                _val_cond(v, flip, m.value), F.lit(False)
            )
    for lbl in require_absent:
        cond = cond & lab.getItem(lbl).isNull()
    for lbl in require_present:
        v = lab.getItem(lbl)
        cond = cond & v.isNotNull() & (v != "")
    return dim.filter(cond).select("fingerprint")


def _needs_labels(expr: A.LogExpr, grouped: bool) -> bool:
    if grouped:
        return True
    for st in expr.stages:
        if not isinstance(st, A.LineFilter):
            return True
    return False


def scan(ctx: LogQLContext, expr: A.LogExpr, with_labels: bool) -> DataFrame:
    """samples ⋈ broadcast(selector fingerprints) [⋈ broadcast(series)].

    The fact scan stays pruned: when the pipeline never touches labels
    the series join is skipped entirely and only the needed columns are
    read from parquet.
    """
    fps = fingerprints(ctx, expr.selector)
    df = ctx.samples().join(F.broadcast(fps), "fingerprint", "inner")
    if with_labels:
        df = df.join(
            F.broadcast(ctx.series().select("fingerprint", "labels")),
            "fingerprint",
            "left",
        )
    else:
        df = df.withColumn("labels", F.lit(None).cast("map<string,string>"))
    return df


def _liftable_prefix(stages: list) -> tuple[list, list]:
    """Split stages into (lifted label-only ops, remaining).

    A drop/keep — or a label_format whose actions are all pure label
    renames — acting on STATIC labels (before any parser/label_filter/
    unwrap/line_format introduces or reads per-row labels) can run on
    the series dimension instead of per event row. LineFilters read
    only the line, so they commute past label ops without ending the
    prefix (they are kept in place, not lifted)."""
    lifted, kept = [], []
    blocked = False
    for st in stages:
        pure_label = isinstance(st, (A.Drop, A.Keep)) or (
            isinstance(st, A.LabelFormat)
            and all(kind == "label" for _, (kind, _src) in st.actions)
        )
        if not blocked and pure_label:
            lifted.append(st)
            continue
        if not isinstance(st, A.LineFilter):
            blocked = True
        kept.append(st)
    return lifted, kept


def scan_pipeline(
    ctx: LogQLContext, expr: A.LogExpr, with_labels: bool
) -> tuple[DataFrame, list, bool]:
    """scan + label-op fast path (ref: clickhouse_planner/analyze.go
    simpleLabelOperation + planner_drop_simple.go): liftable label ops
    run on the series DIMENSION (rows = streams) before the broadcast
    join, so a 100 TB fact scan never rebuilds a per-row map. Returns
    (df, remaining_stages, labels_mutated_by_lift)."""
    lifted, kept = (
        _liftable_prefix(expr.stages) if with_labels else ([], list(expr.stages))
    )
    if not lifted:
        return scan(ctx, expr, with_labels), kept, False
    sdf = ctx.series().select("fingerprint", "labels")
    for st in lifted:
        sdf = (
            _apply_drop_keep(sdf, st)
            if isinstance(st, (A.Drop, A.Keep))
            else _apply_label_format(sdf, st)
        )
    fps = fingerprints(ctx, expr.selector)
    df = ctx.samples().join(F.broadcast(fps), "fingerprint", "inner")
    df = df.join(F.broadcast(sdf), "fingerprint", "left")
    return df, kept, True


# ---------------------------------------------------------------- stages


def _lf_col(op: str, e: A.LFExpr) -> Column:
    if isinstance(e, A.LFNode):
        left, right = _lf_col(op, e.left), _lf_col(op, e.right)
        return (left & right) if e.op == "and" else (left | right)
    v = e.value
    s = F.col("string")
    if op == "|=":
        return s.contains(v)
    if op == "!=":
        return ~s.contains(v)
    if op == "|~":
        return s.rlike(_re2(v))
    if op == "!~":
        return ~s.rlike(_re2(v))
    if op == "|>":  # Loki pattern filter: <_> wildcards
        rx = ".*".join(re.escape(p) for p in v.split("<_>"))
        return s.rlike("^" + rx + "$")
    raise ValueError(f"unknown line filter op {op}")


def _label_col(e: A.LabelExpr, labels: Column | None = None) -> Column:
    """Label-filter predicate over `labels` (default: the column).

    Callers that filter right after a parser/line_format chain pass a
    BOUND map (the transform-over-1-element-array trick) so predicate
    pushdown's alias substitution can clone the chain at most once
    into the pushed Filter — a compound predicate built directly on
    F.col("labels") references the map once per leaf, and each
    reference clones the whole parser chain (the r14 pushdown-clone
    trap, guide §4.4's duplication mechanism for built-in columns)."""
    if labels is None:
        labels = F.col("labels")
    if isinstance(e, A.LabelNode):
        left = _label_col(e.left, labels)
        right = _label_col(e.right, labels)
        return (left & right) if e.op == "and" else (left | right)
    lbl = labels.getItem(e.label)
    if e.numeric:
        num = lbl.cast("double")
        v = float(e.value)
        ops = {
            "==": num == v, "!=": num != v,
            ">": num > v, ">=": num >= v, "<": num < v, "<=": num <= v,
        }
        return ops[e.op]
    # ClickHouse map access yields '' for a missing key (ref:
    # planner_label_filter.go:136 labels['x']), so a missing label
    # compares as the empty string everywhere: lbl="" MATCHES a row
    # without the label, lbl!="" does not, and =~ matches whatever the
    # pattern says about ''. (This also makes `__error__=""` keep clean
    # lines, the reference's documented error-filter idiom.)
    s = F.coalesce(lbl, F.lit(""))
    ops = {
        "=": s == e.value,
        "!=": s != e.value,
        "=~": s.rlike(_re2(e.value)),
        "!~": ~s.rlike(_re2(e.value)),
    }
    return ops[e.op]


_JSON_MAP = "map<string,string>"


def _merge_parsed(df: DataFrame, newmap: Column) -> DataFrame:
    """labels ← labels ⊎ parsed (parsed wins on key conflict).

    map_zip_with unions the key sets and pairs the values, so
    parsed-wins is one coalesce(v2, v1) per key and the parsed map
    appears exactly ONCE in the expression — as a direct argument,
    never referenced from inside a lambda. That last property is the
    load-bearing one: a label-filter stage right after a parser pushes
    its predicate through this projection, and alias substitution
    inlines whatever `labels` expands to into the filter condition.
    The previous map_concat(map_filter(labels, λk: k ∉ __parsed),
    __parsed) shape referenced the parsed map from inside the
    map_filter lambda, so after inlining the full from_json parse ran
    once per LABEL MAP ENTRY per row (measured at sf0.1:
    logql_json_label_filter warm_min 1.09s → 0.45s from this change
    plus parse-once in _apply_parser).
    """
    return df.withColumn(
        "labels",
        F.map_zip_with(
            F.coalesce(F.col("labels"), F.expr("map()")),
            F.coalesce(newmap, F.expr("map()")),
            lambda _k, v1, v2: F.coalesce(v2, v1),
        ),
    )


# synthetic labels injected when a parser stage fails
# (ref: shared/parser_errors.go + clickhouse_planner/sql_misc.go
# sqlParserError: if(JSONType(string)='Object', parsed, error-map))
_JSON_ERR_MAP_EXPR = (
    "map('__error__', 'JSONParserErr',"
    " '__error_details__', 'line is not a valid json object')"
)


# one logfmt pair: key = anything but space/quote/equals; value = a
# quoted string with backslash escapes, or a bare run to the next space
_LOGFMT_PAIR = r'([^\s"=]+)=("(?:[^"\\]|\\.)*"|[^\s]*)'
# a complete quoted token (used to detect kr/logfmt's unterminated-
# quote Unmarshal error: a captured value that STARTS with a quote but
# is not a full quoted token means the closing quote never came)
_LOGFMT_FULL_QUOTE = r'^"(?:[^"\\]|\\.)*"$'
_LOGFMT_ERR_MAP_EXPR = (
    "map('__error__', 'LogfmtParserErr',"
    " '__error_details__', 'logfmt syntax error')"
)


def _logfmt_map(keys_raw: Column, vals_raw: Column) -> Column:
    """`| logfmt` as pure column expressions, with the reference's Go
    parser semantics (ref: internal/planner/parser_helpers.go, kr/logfmt):
    quoted values lose their quotes and unescape \\\" and \\\\, keys
    sanitize to [a-zA-Z0-9_] (sanitizeLabel), the LAST duplicate key
    wins, and an unterminated quoted value flags LogfmtParserErr.

    Takes the ALREADY-EXTRACTED key and value arrays (group-1 and
    group-2 regexp_extract_all over the line; the same pattern, so the
    arrays align by construction). Two whole-line regex scans replace
    the earlier per-PAIR-token re-extraction (3 regexp_extract per
    element inside interpreted lambda bodies, where codegen never
    reaches). The caller must BIND both arrays (lambda variables via
    the one-element-array trick): vals_raw feeds the unterminated-
    quote check (the when() condition) AND the merge fold (its branch
    value), and conditional branch values are excluded from codegen
    subexpression elimination — an inline extraction would run twice
    per row.

    Sanitize (key) and unescape (value) run ONCE per pair via transform
    over the raw arrays BEFORE the dedup fold. Inside the fold they
    would re-run per fold step — and the key sanitize additionally per
    accumulator ENTRY inside the map_filter lambda, O(pairs²)
    regexp_replace executions per row (HOF lambda bodies are
    interpreted; codegen CSE never reaches them). The fold's quadratic
    part is now plain string equality on already-sanitized keys, which
    is semantics-identical: both shapes dedup last-wins on the
    SANITIZED key."""
    key = lambda k: F.regexp_replace(k, r"[^a-zA-Z0-9_]", "_")  # noqa: E731

    def val(r: Column) -> Column:
        unq = F.replace(
            F.replace(F.substring(r, 2, F.length(r) - 2), F.lit('\\"'), F.lit('"')),
            F.lit("\\\\"),
            F.lit("\\"),
        )
        return F.when(r.startswith('"'), unq).otherwise(r)

    entries = F.zip_with(
        F.transform(keys_raw, key),
        F.transform(vals_raw, val),
        lambda k, v: F.struct(k.alias("k"), v.alias("v")),
    )
    # fold into a map with last-key-wins (map_from_arrays would throw on
    # duplicate keys under the default dedup policy)
    merged = F.aggregate(
        entries,
        F.expr("map()").cast("map<string,string>"),
        lambda acc, p: F.map_concat(
            F.map_filter(acc, lambda k, v: k != p["k"]),
            F.create_map(p["k"], p["v"]),
        ),
    )
    broken = F.exists(
        vals_raw,
        lambda v: v.startswith('"') & ~v.rlike(_LOGFMT_FULL_QUOTE),
    )
    return F.when(broken, F.expr(_LOGFMT_ERR_MAP_EXPR)).otherwise(merged)


def _apply_parser(df: DataFrame, st: A.ParserStage) -> DataFrame:
    if st.kind == "json":
        # ONE from_json reference in the whole expression tree. A
        # label-filter stage right after `| json` pushes its predicate
        # through the labels projection, and alias substitution clones
        # the labels expression into the filter — every from_json
        # occurrence in it then runs per row (and the pre-r14 shape had
        # it inside a map_filter lambda: per map ENTRY per row). The
        # object-validity check rides the parse itself: from_json with
        # a map schema parses exactly JSON objects and returns NULL
        # otherwise (mirroring the reference's JSONType(string) =
        # 'Object' gate), so "not an object → __error__ labels" is one
        # coalesce — no second parse as a CASE condition, which codegen
        # subexpression elimination would NOT merge with the branch
        # value (branch values are excluded from elimination).
        raw = F.from_json("string", _JSON_MAP)
        if st.params:
            # parameterized: | json lbl="path.to[0].field"
            # ref: planner_parser_json.go JSONExtractString per param.
            # Top-level identifier paths are served from the ONE
            # from_json parse (value-identical to JSONExtractString for
            # every scalar/object/array/escape shape — equivalence
            # fuzzed before landing); only genuinely nested paths pay a
            # get_json_object re-parse. The parsed map is bound once
            # via transform-over-a-1-element-array so the (N params +
            # validity) references cannot each clone the parse when a
            # downstream label filter pushes through this projection
            # (the r14 pushdown-clone trap).
            def _extract(m: Column) -> Column:
                pairs = []
                for lbl, path in st.params.items():
                    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", path):
                        v = m.getItem(path)
                    else:
                        v = F.get_json_object("string", "$." + path)
                    pairs += [F.lit(lbl), v]
                extracted = F.map_filter(
                    F.map_from_arrays(
                        F.array(*pairs[0::2]), F.array(*pairs[1::2])
                    ),
                    lambda k, v: v.isNotNull(),
                )
                return F.when(m.isNotNull(), extracted).otherwise(
                    F.expr(_JSON_ERR_MAP_EXPR)
                )

            newmap = F.element_at(F.transform(F.array(raw), _extract), 1)
        else:
            # bare | json: merge every top-level scalar field
            # (ref runs this Go-side row-at-a-time; from_json is JVM-side)
            newmap = F.coalesce(raw, F.expr(_JSON_ERR_MAP_EXPR))
        return _merge_parsed(df, newmap)
    if st.kind == "logfmt":
        # Two nested one-element-array bindings (the B4 trick): the
        # outer binds the LINE so `string` appears exactly once in the
        # parsed-map expression — when a downstream label filter
        # pushes below this projection AND below a preceding
        # line_format, alias substitution clones whatever `string`
        # expands to (the whole template + upstream parser chain) per
        # reference; the inner binds the two regexp_extract_all arrays
        # as one struct so the value array's two consumers (the
        # unterminated-quote guard and the merge fold) share one
        # extraction. The earlier __lfk/__lfv temp columns gave the
        # same single-extraction property inside the Project but were
        # substituted per reference into pushed filters (measured on
        # logql_line_format_logfmt: 3 regexp_extract_all × the full
        # line_format chain inside the Filter condition).
        def _parse_line(s: Column) -> Column:
            kv = F.struct(
                F.regexp_extract_all(s, F.lit(_LOGFMT_PAIR), 1).alias("k"),
                F.regexp_extract_all(s, F.lit(_LOGFMT_PAIR), 2).alias("v"),
            )
            return F.element_at(
                F.transform(
                    F.array(kv), lambda a: _logfmt_map(a["k"], a["v"])
                ),
                1,
            )

        parsed = F.element_at(
            F.transform(F.array(F.col("string")), _parse_line), 1
        )
        if st.params:
            # parameterized: keep only the requested logfmt keys,
            # emitted under the sanitized KEY name (the reference's
            # parameterLogfmtHelper ignores the alias label)
            import re as _re

            wanted = [
                _re.sub(r"[^a-zA-Z0-9_]", "_", k) for k in st.params.values()
            ]
            parsed = F.map_filter(
                parsed, lambda k, v: k.isin(*wanted) | k.startswith("__error")
            )
        return _merge_parsed(df, parsed)
    if st.kind == "regexp":
        # RE2 pattern → Java with RE2 semantics; named groups become
        # plain groups (Java rejects RE2-legal names like foo_bar), so
        # extraction is by index computed lexically from the original
        pat = _re2(st.pattern)
        groups = _re2_groups(st.pattern)
        pairs = []
        for name, idx in groups.items():
            pairs += [
                F.lit(name),
                F.when(
                    F.col("string").rlike(pat),
                    F.regexp_extract("string", pat, idx),
                ),
            ]
        newmap = F.map_filter(
            F.map_from_arrays(F.array(*pairs[0::2]), F.array(*pairs[1::2])),
            lambda k, v: v.isNotNull(),
        )
        return _merge_parsed(df, newmap)
    raise NotImplementedError(f"parser {st.kind}")


_TPL_TOKEN = re.compile(r"\{\{\s*([^}]*?)\s*\}\}")


def _template_col(tpl: str) -> Column:
    """Compile a line_format template to a concat() of columns.

    Supports the common surface of the reference's template function
    library (ref: shared/template_funcs.go): {{.label}} / {{label}},
    {{_entry}} / {{__line__}}, and {{divide|mul|add|sub lbl N}},
    ToLower/ToUpper. Unsupported constructs raise NotImplementedError so
    callers can fall back.
    """
    parts: list[Column] = []
    pos = 0
    for m in _TPL_TOKEN.finditer(tpl):
        if m.start() > pos:
            parts.append(F.lit(tpl[pos : m.start()]))
        expr = m.group(1).strip()
        parts.append(_tpl_expr(expr))
        pos = m.end()
    if pos < len(tpl):
        parts.append(F.lit(tpl[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*[F.coalesce(p.cast("string"), F.lit("")) for p in parts])


def _tpl_int(tok: str) -> Column:
    """sprig toInt64 semantics (ref: template_funcs.go wires add/sub/
    mul/div/divide to sprig's INTEGER functions): a full-string base-10
    integer parses, anything else — float strings, missing labels,
    junk — coerces to 0."""
    if re.fullmatch(r"-?\d+", tok):
        return F.lit(int(tok)).cast("long")
    v = F.col("labels").getItem(tok.lstrip("."))
    return F.coalesce(
        F.when(v.rlike(r"^-?\d+$"), v.cast("long")), F.lit(0).cast("long")
    )


def _tpl_float(tok: str) -> Column:
    """sprig toFloat64 for the addf/subf/mulf/divf variants."""
    if re.fullmatch(r"-?\d+(\.\d+)?", tok):
        return F.lit(float(tok))
    v = F.col("labels").getItem(tok.lstrip("."))
    return F.coalesce(
        F.when(v.rlike(r"^-?\d+(\.\d+)?$"), v.cast("double")), F.lit(0.0)
    )


def _fmt_num(c: Column) -> Column:
    # Go templates print float64 via %v (shortest form): 4.0 -> "4",
    # and the IEEE specials as +Inf/-Inf/NaN
    return (
        F.when(F.isnan(c), F.lit("NaN"))
        .when(c == F.lit(float("inf")), F.lit("+Inf"))
        .when(c == F.lit(float("-inf")), F.lit("-Inf"))
        .when(c == F.floor(c), c.cast("long").cast("string"))
        .otherwise(c.cast("string"))
    )


# integer division truncating toward zero (Go semantics; Spark's double
# cast to long truncates toward zero). Division by zero errors the
# query, matching the reference: sprig div panics, template.Execute
# returns the error, and the generic processor aborts
# (internal/planner/line_format.go:23-26).
def _int_div(ac: Column, bc: Column) -> Column:
    return F.when(
        bc == 0,
        F.raise_error(F.lit("line_format: integer divide by zero")).cast("long"),
    ).otherwise((ac.cast("double") / bc).cast("long"))


_TPL_INT_OPS = {
    "divide": _int_div,
    "div": _int_div,
    "mul": lambda a, b: a * b,
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
}
def _float_div(ac: Column, bc: Column) -> Column:
    # Go float division: x/0 -> ±Inf, 0/0 -> NaN (no error, unlike the
    # integer div); Spark's ANSI Divide would throw instead
    return F.when(
        bc == 0,
        F.when(ac == 0, F.lit(float("nan"))).otherwise(
            F.signum(ac) * F.lit(float("inf"))
        ),
    ).otherwise(ac / bc)


_TPL_FLOAT_OPS = {
    "divf": _float_div,
    "mulf": lambda a, b: a * b,
    "addf": lambda a, b: a + b,
    "subf": lambda a, b: a - b,
}


def _tpl_expr(expr: str) -> Column:
    # Go-template PIPELINES and per-entry time bindings are the UDF
    # path's job — without this check ".app | upper" would silently
    # resolve as a label literally named "app | upper" (empty)
    if "|" in re.sub(r'"(?:\\.|[^"\\])*"', "", expr) or "__timestamp__" in expr:
        raise NotImplementedError("template pipelines run in the UDF path")
    if expr in ("_entry", "__line__", "."):
        return F.col("string")
    if expr.startswith("."):
        return F.coalesce(F.col("labels").getItem(expr[1:]), F.lit(""))
    toks = expr.split()
    if len(toks) == 1:
        return F.coalesce(F.col("labels").getItem(expr), F.lit(""))
    fn = toks[0]
    if fn in _TPL_INT_OPS and len(toks) == 3:
        return _TPL_INT_OPS[fn](_tpl_int(toks[1]), _tpl_int(toks[2])).cast("string")
    if fn in _TPL_FLOAT_OPS and len(toks) == 3:
        return _fmt_num(_TPL_FLOAT_OPS[fn](_tpl_float(toks[1]), _tpl_float(toks[2])))
    if fn in ("ToLower", "lower") and len(toks) == 2:
        return F.lower(_tpl_expr(toks[1]))
    if fn in ("ToUpper", "upper") and len(toks) == 2:
        return F.upper(_tpl_expr(toks[1]))

    def _lit(tok: str) -> str | None:
        # a double-quoted string literal argument, or None
        return tok[1:-1] if len(tok) >= 2 and tok[0] == '"' and tok[-1] == '"' else None

    if fn == "trunc" and len(toks) == 3 and re.fullmatch(r"-?\d+", toks[1]):
        # sprig trunc: first N chars; negative N keeps the LAST |N|
        n, v = int(toks[1]), _tpl_expr(toks[2])
        if n >= 0:
            return F.substring(v, 1, n)
        return F.substring(v, F.greatest(F.length(v) + n + 1, F.lit(1)), -n)
    if (
        fn == "substr"
        and len(toks) == 4
        and re.fullmatch(r"\d+", toks[1])
        and re.fullmatch(r"\d+", toks[2])
    ):
        a, b = int(toks[1]), int(toks[2])
        return F.substring(_tpl_expr(toks[3]), a + 1, max(b - a, 0))
    if fn == "TrimSpace" and len(toks) == 2:
        return F.regexp_replace(_tpl_expr(toks[1]), r"^\s+|\s+$", "")
    # Go strings.* builtins are registered DIRECTLY in the reference
    # (template_funcs.go:31-39), so the SUBJECT comes FIRST and the
    # cutset/prefix/old literal second — mirrored in template.py _FNS
    if fn in ("Trim", "TrimLeft", "TrimRight") and len(toks) == 3:
        cutset = _lit(toks[2])
        if cutset is not None:
            trimmer = {"Trim": F.trim, "TrimLeft": F.ltrim, "TrimRight": F.rtrim}[fn]
            return trimmer(_tpl_expr(toks[1]), F.lit(cutset))
    if fn == "TrimPrefix" and len(toks) == 3 and _lit(toks[2]) is not None:
        p, v = _lit(toks[2]), _tpl_expr(toks[1])
        return F.when(
            v.startswith(p), F.substring(v, len(p) + 1, 2**31 - 1)
        ).otherwise(v)
    if fn == "TrimSuffix" and len(toks) == 3 and _lit(toks[2]) is not None:
        s, v = _lit(toks[2]), _tpl_expr(toks[1])
        if s == "":
            return v
        return F.when(
            v.endswith(s), F.substring(v, 1, F.length(v) - len(s))
        ).otherwise(v)
    if (
        fn == "Replace"
        and len(toks) == 5
        and _lit(toks[2]) is not None
        and _lit(toks[3]) is not None
        and toks[4] == "-1"
    ):
        # strings.Replace(s, old, new, n): only the replace-ALL count
        # compiles to F.replace; bounded n runs in the UDF path
        return F.replace(
            _tpl_expr(toks[1]), F.lit(_lit(toks[2])), F.lit(_lit(toks[3]))
        )
    raise NotImplementedError(f"line_format template construct {expr!r}")


def _template_udf(tpl: str, ts_in_scope: bool = False) -> Column:
    """Arrow-batched fallback for the FULL template surface (ref:
    shared/template_funcs.go:29-66 — Go Trim*/Replace/regexReplaceAll*
    builtins plus the registered sprig allowlist, :17-25 the per-entry
    __line__/__timestamp__ bindings): typed Go-template pipelines,
    date/duration/json helpers, RE2-dialect regexReplaceAll. Used only
    when the column compiler can't express the template — keeps the
    common path codegen'd while covering the long tail. The evaluator
    lives in logql/template.py (pure Python, differentially tested).
    """
    from gigapipe_spark.logql.template import render_template, validate_template

    # fail unknown-function templates at PLAN time like the reference's
    # text/template Parse (PrepareLineFormatTemplate), not per-row
    validate_template(tpl)

    @F.pandas_udf("string")
    def render(
        lines: pd.Series, labels: pd.Series, ts: pd.Series
    ) -> pd.Series:
        return pd.Series(
            [
                render_template(tpl, l, lab, int(t) if pd.notna(t) else None)
                for l, lab, t in zip(lines, labels, ts)
            ]
        )

    # pipeline rows always carry timestamp_ns; unit-test frames and
    # label_format templates may not — __timestamp__ then renders empty
    ts_col = (
        F.col("timestamp_ns") if ts_in_scope else F.lit(None).cast("long")
    )
    return render(
        F.col("string"),
        F.coalesce(F.col("labels"), F.expr("map()")),
        ts_col,
    )


def _apply_label_format(df: DataFrame, st: A.LabelFormat) -> DataFrame:
    labels = F.coalesce(F.col("labels"), F.expr("map()"))
    drop_keys = []
    pairs = []
    for new, (kind, src) in st.actions:
        if kind == "label":
            pairs += [F.lit(new), labels.getItem(src)]
            drop_keys.append(src)  # rename semantics: source is dropped
        else:
            try:
                tcol = _template_col(src)
            except NotImplementedError:
                # same full-surface fallback as line_format — the
                # reference registers ONE function set for both stages
                # (shared/template_funcs.go BaseTemplateFuncs)
                tcol = _template_udf(
                    src, ts_in_scope="timestamp_ns" in df.columns
                )
            pairs += [F.lit(new), tcol]
    newmap = F.map_filter(
        F.map_from_arrays(F.array(*pairs[0::2]), F.array(*pairs[1::2])),
        lambda k, v: v.isNotNull(),
    )
    news = [new for new, _ in st.actions]
    base = F.map_filter(
        labels,
        lambda k, v: ~k.isin(*(drop_keys + news)) if (drop_keys or news) else F.lit(True),
    )
    return df.withColumn("labels", F.map_concat(base, newmap))


def _apply_drop_keep(df: DataFrame, st: A.Drop | A.Keep) -> DataFrame:
    labels = F.coalesce(F.col("labels"), F.expr("map()"))
    keep = isinstance(st, A.Keep)

    def match(k: Column, v: Column) -> Column:
        c = F.lit(False)
        for lbl, val in st.params:
            this = k == lbl
            if val is not None:
                this = this & (v == val)
            c = c | this
        return c

    if keep:
        # `| keep` preserves the synthetic error labels unconditionally
        # (ref: planner_keep.go:63 / internal/planner/keep.go:59);
        # `| drop` CAN drop them explicitly.
        fn = lambda k, v: match(k, v) | k.isin("__error__", "__error_details__")  # noqa: E731
    else:
        fn = lambda k, v: ~match(k, v)  # noqa: E731
    return df.withColumn("labels", F.map_filter(labels, fn))


def apply_stages(
    df: DataFrame,
    expr: A.LogExpr,
    stages: list | None = None,
    defer_unwrap_filter: bool = False,
) -> tuple[DataFrame, bool]:
    """Run the pipeline; returns (df, labels_mutated). `stages`
    overrides expr.stages when scan_pipeline already lifted a prefix.

    defer_unwrap_filter: skip the `value IS NOT NULL` row filter after a
    label unwrap. A Filter over the parser/label_format/unwrap Project
    chain gets pushed below ALL of it, and predicate-pushdown alias
    substitution clones the referenced expressions unconditionally —
    the unwrap conversion references its source label ~13x (unit/number
    branches), each cloning the full labels chain, so the pushed filter
    evaluated from_json 29x PER ROW on `| json | unwrap bytes(..)`
    (measured; the Projects themselves stay bounded because
    CollapseProject's non-cheap multi-ref guard keeps their
    boundaries). Range aggregation callers pass True and instead use
    null-ignoring aggregates + a cheap post-aggregate guard, which
    reproduces the filtered semantics exactly with zero per-row
    duplication."""
    mutated = False
    for st in expr.stages if stages is None else stages:
        if isinstance(st, A.LineFilter):
            df = df.filter(_lf_col(st.op, st.expr))
        elif isinstance(st, A.LabelFilter):
            # bind the labels map ONCE into the predicate: when this
            # filter pushes below a parser/line_format Project chain,
            # alias substitution inlines the chain per labels
            # reference — the bound form caps that at one clone
            # (measured on logql_line_format_logfmt: from_json 5 → 1
            # inside the pushed Filter condition)
            if mutated:
                # labels are per-row parser output here, so pushing
                # this predicate below the labels projection cannot
                # reach the scan — alias substitution only clones the
                # whole parser/line_format chain into the Filter, which
                # then re-runs per input row while the Project above
                # re-runs it for survivors. The nonpushable barrier
                # keeps the filter ABOVE the projection; the chain
                # materializes once per row (mechanism + why the
                # condition-side wrappers fail: planutil.nonpushable).
                # Only applied when a parser/label_format mutated
                # labels: selector-level label filters keep full
                # pushdown.
                df = df.withColumn("labels", nonpushable(F.col("labels")))
            df = df.filter(
                F.element_at(
                    F.transform(
                        F.array(F.col("labels")),
                        lambda m: _label_col(st.expr, m),
                    ),
                    1,
                )
            )
        elif isinstance(st, A.ParserStage):
            df = _apply_parser(df, st)
            mutated = True
        elif isinstance(st, A.LineFormat):
            try:
                tpl_col = _template_col(st.template)
            except NotImplementedError:
                # full template surface via the Arrow-batched fallback
                tpl_col = _template_udf(
                    st.template, ts_in_scope="timestamp_ns" in df.columns
                )
            df = df.withColumn("string", tpl_col)
        elif isinstance(st, A.LabelFormat):
            df = _apply_label_format(df, st)
            mutated = True
        elif isinstance(st, (A.Drop, A.Keep)):
            df = _apply_drop_keep(df, st)
            mutated = True
        elif isinstance(st, A.Unwrap):
            if st.label == "__value__":  # | unwrap_value: stored sample value
                df = df.filter(F.col("value").isNotNull())
                continue
            raw = (
                F.col("string")
                if st.label in ("_entry", "__line__")
                else F.col("labels").getItem(st.label)
            )
            if st.fn in ("duration", "duration_seconds"):
                df = df.withColumn("value", _go_duration_seconds(raw))
            elif st.fn == "bytes":
                df = df.withColumn("value", _humanized_bytes(raw))
            else:
                df = df.withColumn("value", raw.cast("double"))
            if not defer_unwrap_filter:
                df = df.filter(F.col("value").isNotNull())
        else:
            raise NotImplementedError(f"stage {st}")
    return df, mutated


_GO_DUR_PAT = r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)"
# the WHOLE value must be sign + a run of number+unit tokens, exactly as
# time.ParseDuration requires — "abc5mxx" is rejected, not parsed as 5m
_GO_DUR_FULL = r"^[-+]?(\d+(?:\.\d+)?(ns|us|µs|ms|s|m|h))+$"


def _go_duration_seconds(raw: Column) -> Column:
    """`unwrap duration(lbl)`: Go duration string ("1h30m", "250ms") →
    seconds, as time.ParseDuration does (ref: unwrap.go:9). Pure column
    expressions: anchor-validate the whole string, extract (number, unit)
    components, fold their products; a leading sign negates the total.
    Unparseable values → NULL → the row is dropped (the reference tags
    __error__ and drops on aggregate)."""
    valid = raw.rlike(_GO_DUR_FULL)
    sign = F.when(raw.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    nums = F.regexp_extract_all(raw, F.lit(_GO_DUR_PAT), 1)
    units = F.regexp_extract_all(raw, F.lit(_GO_DUR_PAT), 2)

    def unit_secs(u: Column) -> Column:
        return (
            F.when(u == "ns", F.lit(1e-9))
            .when(u.isin("us", "µs"), F.lit(1e-6))
            .when(u == "ms", F.lit(1e-3))
            .when(u == "s", F.lit(1.0))
            .when(u == "m", F.lit(60.0))
            .otherwise(F.lit(3600.0))  # h
        )

    total = F.aggregate(
        F.zip_with(nums, units, lambda n, u: n.cast("double") * unit_secs(u)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(valid & (F.size(nums) > 0), sign * total)


_BYTES_FACTORS = {
    "": 1.0, "b": 1.0,
    "kb": 1e3, "kib": 1024.0,
    "mb": 1e6, "mib": 1024.0**2,
    "gb": 1e9, "gib": 1024.0**3,
    "tb": 1e12, "tib": 1024.0**4,
    "pb": 1e15, "pib": 1024.0**5,
}


def _humanized_bytes(raw: Column) -> Column:
    """`unwrap bytes(lbl)`: humanized size ("3MiB", "5 kB") → bytes,
    as humanize.ParseBytes does (ref: unwrap.go:9). SI units are decimal
    (kB=1e3), IEC binary (KiB=1024).

    Exactly TWO regex runs per row: the factor is a map-literal lookup
    (try_element_at → NULL on an unknown unit) and the number goes
    through try_cast (NULL on the empty non-match) — a when-cascade /
    emptiness CASE would reference the extracted columns up to 11x,
    and every reference re-executes its regexp_extract after the
    optimizer's alias substitution (measured on `| json | unwrap
    bytes(..)`: 28 regex runs per row through the pushed-down filter)."""
    pat = r"^\s*(-?\d+(?:\.\d+)?)\s*([kKmMgGtTpP]?[iI]?[bB]?)\s*$"
    num = F.regexp_extract(raw, pat, 1)
    unit = F.lower(F.regexp_extract(raw, pat, 2))
    factors = F.create_map(
        *[F.lit(x) for u, f_ in _BYTES_FACTORS.items() for x in (u, f_)]
    )
    # non-matching raw extracts "" for BOTH groups; "" is not a factor
    # key ... except it IS ("" -> 1.0, the bare-number case). Guard the
    # bare-number factor on the number actually matching: try_cast("")
    # is NULL, so the product is NULL and the row drops, exactly like
    # the old `num != ""` CASE.
    return num.try_cast("double") * F.try_element_at(factors, unit)


# ---------------------------------------------------------------- aggs


def _bucket_col(range_ns: int, offset_ns: int) -> Column:
    # ref: planner_lra.go — intDiv(timestamp_ns, dur)*dur tumbling buckets.
    # Pure int64 arithmetic: double division would lose precision above
    # 2^53, and ns timestamps are ~1.7e18.
    ts = F.col("timestamp_ns") - F.lit(offset_ns)
    return (ts - F.pmod(ts, F.lit(range_ns))).alias("timestamp_ns")


_RANGE_AGGS = {
    "count_over_time": lambda rs: F.count(F.lit(1)).cast("double"),
    "rate": lambda rs: (F.count(F.lit(1)) / F.lit(rs / 1e9)).cast("double"),
    "bytes_over_time": lambda rs: F.sum(F.length("string")).cast("double"),
    "bytes_rate": lambda rs: (F.sum(F.length("string")) / F.lit(rs / 1e9)).cast("double"),
    "sum_over_time": lambda rs: F.sum("value"),
    "avg_over_time": lambda rs: F.avg("value"),
    "max_over_time": lambda rs: F.max("value"),
    "min_over_time": lambda rs: F.min("value"),
    "first_over_time": lambda rs: F.min_by("value", "timestamp_ns"),
    "last_over_time": lambda rs: F.max_by("value", "timestamp_ns"),
    "stddev_over_time": lambda rs: F.stddev_pop("value"),
    "stdvar_over_time": lambda rs: F.var_pop("value"),
}


def _absent_over_time(ctx: LogQLContext, ra: A.RangeAgg) -> Result:
    """absent_over_time: 1 for every range bucket (over the table's full
    time extent) where the selector+pipeline matched nothing
    (ref: LRA breakpoint special case, logql_transpiler/planner.go)."""
    df = scan(ctx, ra.inner, _needs_labels(ra.inner, False))
    df, _ = apply_stages(df, ra.inner)
    rng = ra.range_ns
    if ctx.start_ns is not None and ctx.end_ns is not None:
        # explicit request window: the grid is pure arithmetic over
        # [start, end) — no scan at all (the reference derives the step
        # grid from the request params, matrix.go)
        lo = ctx.start_ns - ctx.start_ns % rng
        hi = ctx.end_ns - 1
        grid = ctx.spark.range(1).select(
            F.explode(F.sequence(F.lit(lo), F.lit(hi), F.lit(rng))).alias(
                "timestamp_ns"
            )
        )
    else:
        # grid bounds from the full fact table so absence is well-defined
        all_ts = ctx.samples().select(
            (F.col("timestamp_ns") - F.pmod(F.col("timestamp_ns"), F.lit(rng))).alias("b")
        )
        bounds = all_ts.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        grid = bounds.select(
            F.explode(F.sequence("lo", "hi", F.lit(rng))).alias("timestamp_ns")
        )
    present = df.select(
        (F.col("timestamp_ns") - F.pmod(F.col("timestamp_ns"), F.lit(rng))).alias(
            "timestamp_ns"
        )
    ).distinct()
    out = grid.join(present, "timestamp_ns", "left_anti").select(
        F.lit(0).cast("long").alias("fingerprint"),
        F.lit(None).cast("map<string,string>").alias("labels"),
        "timestamp_ns",
        F.lit(1.0).alias("value"),
    )
    return Result(out, "matrix", False)


def compile_range_agg(ctx: LogQLContext, ra: A.RangeAgg) -> Result:
    if ra.fn == "absent_over_time":
        return _absent_over_time(ctx, ra)
    grouped = ra.by is not None or ra.without is not None
    # matrix results always carry labels: downstream vector aggs group on
    # them and the API layer renders them. The series join is a broadcast
    # of the (small) dimension — cheap relative to the fact scan.
    with_labels = True
    df, kept, lifted_mut = scan_pipeline(ctx, ra.inner, with_labels)
    stages_eff = ra.inner.stages if kept is None else kept
    unwrapped = any(
        isinstance(st, A.Unwrap) and st.label != "__value__"
        for st in stages_eff
    )
    df, mutated = apply_stages(
        df, ra.inner, kept, defer_unwrap_filter=unwrapped
    )
    mutated = mutated or lifted_mut
    bucket = _bucket_col(ra.range_ns, ra.offset_ns)
    if ra.fn == "quantile_over_time":
        agg = F.percentile("value", F.lit(ra.param))
    else:
        agg = _RANGE_AGGS[ra.fn](ra.range_ns)
    post_guard = None
    if unwrapped:
        # Null-ignoring aggregates reproduce the dropped `value IS NOT
        # NULL` row filter (see apply_stages defer_unwrap_filter):
        # sum/avg/min/max/stddev/stdvar/percentile skip nulls natively;
        # the count/first/last/bytes shapes need explicit null
        # awareness. A bucket whose rows ALL failed the unwrap
        # conversion previously produced no group at all — the post-agg
        # guard removes its (null or zero-count) row, and it cannot
        # remove a legitimate one: a surviving group always has >= 1
        # parsed row, so count > 0 and the null-ignoring values are
        # non-null.
        rs = ra.range_ns
        valid_ts = F.when(F.col("value").isNotNull(), F.col("timestamp_ns"))
        valid_len = F.when(F.col("value").isNotNull(), F.length("string"))
        overrides = {
            "count_over_time": F.count("value").cast("double"),
            "rate": (F.count("value") / F.lit(rs / 1e9)).cast("double"),
            "bytes_over_time": F.sum(valid_len).cast("double"),
            "bytes_rate": (F.sum(valid_len) / F.lit(rs / 1e9)).cast("double"),
            "first_over_time": F.min_by("value", valid_ts),
            "last_over_time": F.max_by("value", valid_ts),
        }
        agg = overrides.get(ra.fn, agg)
        post_guard = (
            (F.col("value") > 0)
            if ra.fn in ("count_over_time", "rate")
            else F.col("value").isNotNull()
        )
    if grouped:
        # grouped range agg: aggregate RAW samples per (group-labels,
        # bucket) — NOT per-stream then re-aggregate, which would turn
        # quantiles into sums-of-quantiles (ref: unwrap_agg.go applies
        # the agg over the regrouped stream set)
        group_labels = _group_labels_col(ra.by, ra.without)
        out = _labels_keyed_agg(df, group_labels, bucket, agg)
        if post_guard is not None:
            out = out.filter(post_guard)
        return Result(out, "matrix", True)
    if mutated:
        # labels can differ per row: stream identity = full label set
        # (ref: by_without.go canonical fingerprint re-hash)
        out = _labels_keyed_agg(df, F.col("labels"), bucket, agg)
    elif with_labels:
        # labels are constant within a stream fingerprint here (no
        # parser/format stage mutated them), so the sorted entries ride
        # the group key — functionally dependent on fingerprint, no
        # MapType in the buffer (see _labels_keyed_agg)
        out = (
            df.groupBy(
                "fingerprint",
                sorted_entries(F.col("labels")).alias("__lbl_entries"),
                bucket,
            )
            .agg(agg.alias("value"))
            .withColumn("labels", F.map_from_entries("__lbl_entries"))
            .select("fingerprint", "labels", "timestamp_ns", "value")
        )
    else:
        out = (
            df.groupBy("fingerprint", bucket)
            .agg(agg.alias("value"))
            .withColumn("labels", F.lit(None).cast("map<string,string>"))
            .select("fingerprint", "labels", "timestamp_ns", "value")
        )
    if post_guard is not None:
        out = out.filter(post_guard)
    return Result(out, "matrix", mutated)


def _labels_keyed_agg(
    df: DataFrame, labels_expr: Column, time_col: Column, agg: Column
) -> DataFrame:
    """Aggregate per (label set, time) with the label set AS the group key.

    The previous shape — groupBy(xxhash64(canonical), time) +
    first(labels) — put a MapType in the aggregation buffer, which
    disqualifies HashAggregateExec: Spark planned SortAggregate with a
    per-partition sort of EVERY input row, and the partial side shipped
    the labels map through the exchange (the same defect class the r14
    PromQL instant-vector fix removed). Grouping by the sorted entries
    array keeps the buffer numeric (hash agg, no input sort) and ships
    one entries array per group instead of a map per row; labels and
    fingerprint are rebuilt FROM the group key after the aggregate —
    map_from_entries inverts exactly, and the fingerprint hashes the
    canonical string derived from the same sorted entries, so group
    identity and fingerprints are identical to the old path.
    """
    out = (
        df.groupBy(sorted_entries(labels_expr).alias("__lbl_entries"), time_col)
        .agg(agg.alias("value"))
        .withColumn("labels", F.map_from_entries("__lbl_entries"))
        .withColumn(
            "fingerprint",
            F.xxhash64(canonical_from_entries(F.col("__lbl_entries"))),
        )
    )
    return out.select("fingerprint", "labels", "timestamp_ns", "value")


def select_per_step(
    df: DataFrame,
    fn: str,
    param: float,
    by: list[str] | None = None,
    without: list[str] | None = None,
) -> DataFrame:
    """Keep a subset of series per step (ref: planner_topk.go, one pass
    per timestamp): topk/bottomk the k largest/smallest values,
    limitk the first k series, limit_ratio the first r·n (r < 0: the
    complement suffix, so limit_ratio(r) ∪ limit_ratio(-(1 - r)) is
    everything). by/without scope the pick to each label group.

    One row_number window over (timestamp, group); ties (and limitk's
    whole order) break on the canonical label string, a stable rule
    the DuckDB oracles reproduce where upstream's hash order is
    unstable. limit_ratio's count window shares the partition spec, so
    the selection is one exchange."""
    parts = ["timestamp_ns"]
    if by is not None or without is not None:
        df = df.withColumn(
            "__g",
            F.xxhash64(F.array_sort(F.map_entries(_group_labels_col(by, without)))),
        )
        parts.append("__g")
    order = [canonical_labels_str(F.coalesce(F.col("labels"), F.expr("map()"))).asc()]
    if fn in ("topk", "bottomk"):
        order.insert(0, F.col("value").desc() if fn == "topk" else F.col("value").asc())
    df = df.withColumn(
        "__rn", F.row_number().over(Window.partitionBy(*parts).orderBy(*order))
    )
    if fn == "limit_ratio":
        df = df.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*parts)))
        n, r = F.col("__n"), float(param)
        keep = F.col("__rn") <= F.lit(r) * n if r >= 0 else F.col("__rn") > F.lit(1.0 + r) * n
    else:
        keep = F.col("__rn") <= int(param)
    return df.filter(keep).drop("__rn", "__n", "__g")


def _group_labels_col(by: list[str] | None, without: list[str] | None) -> Column:
    labels = F.coalesce(F.col("labels"), F.expr("map()"))
    if by is None and without is None:
        by = []  # bare agg (e.g. sum(x)): aggregate every label away
    if by is not None:
        return F.map_filter(labels, lambda k, v: k.isin(*by) if by else F.lit(False))
    return F.map_filter(labels, lambda k, v: ~k.isin(*without) if without else F.lit(True))


_VECTOR_AGGS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count": lambda c: F.count(c).cast("double"),
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
}


# vector-agg fn → range fns it commutes with (ref: canSwapByWithout,
# internal/planner/planner.go:166-178): the outer agg of per-stream
# results equals one agg of raw rows for these pairs only
_COMMUTABLE = {
    "sum": {"count_over_time", "rate", "bytes_over_time", "bytes_rate", "sum_over_time"},
    "max": {"max_over_time"},
    "min": {"min_over_time"},
}


def _regroup(res: Result, by, without, fn: str) -> Result:
    """Re-group a matrix by a label subset with a canonical fingerprint
    (ref: planner_by_without.go + planner_agg_op.go)."""
    df = res.df
    new_labels = _group_labels_col(by, without)
    agg = _VECTOR_AGGS[fn](F.col("value"))
    out = _labels_keyed_agg(df, new_labels, F.col("timestamp_ns"), agg)
    return Result(out, "matrix", True)


def compile_expr(ctx: LogQLContext, expr: A.Expr) -> Result:
    if isinstance(expr, A.LogExpr):
        with_labels = _needs_labels(expr, False)
        df, kept, lifted_mut = scan_pipeline(ctx, expr, with_labels)
        df, mutated = apply_stages(df, expr, kept)
        mutated = mutated or lifted_mut
        return Result(
            df.select("fingerprint", "labels", "timestamp_ns", "value", "string"),
            "streams",
            mutated,
        )
    if isinstance(expr, A.RangeAgg):
        return compile_range_agg(ctx, expr)
    if isinstance(expr, A.VectorAgg):
        # agg/range commute (ref: internal/planner/planner.go:166-178
        # canSwapByWithout): sum by(l)(count_over_time(x[r])) aggregates
        # RAW rows once per (l, bucket) instead of per-stream + regroup.
        # At scale this is one shuffle on the final grouping instead of
        # two (stream key, then label subset), with map-side partials
        # collapsing most of the volume before the exchange.
        if (
            isinstance(expr.inner, A.RangeAgg)
            and expr.inner.by is None
            and expr.inner.without is None
            and expr.inner.fn in _COMMUTABLE.get(expr.fn, ())
        ):
            import dataclasses

            ra = dataclasses.replace(
                expr.inner,
                by=expr.by if expr.by is not None else ([] if expr.without is None else None),
                without=expr.without,
            )
            return compile_range_agg(ctx, ra)
        inner = compile_expr(ctx, expr.inner)
        assert inner.kind == "matrix", "vector agg over streams"
        return _regroup(inner, expr.by, expr.without, expr.fn)
    if isinstance(expr, A.TopK):
        inner = compile_expr(ctx, expr.inner)
        out = select_per_step(inner.df, expr.fn, expr.k)
        return Result(out, "matrix", inner.labels_mutated)
    if isinstance(expr, A.BinOp):
        return _compile_binop(ctx, expr)
    if isinstance(expr, A.Scalar):
        raise ValueError("bare scalar is not a query")
    raise NotImplementedError(f"expr {expr}")


_CMP = {"==", "!=", ">", ">=", "<", "<="}


def _cmp_col(op: str, left: Column, right: Column) -> Column:
    return {
        "==": left == right, "!=": left != right, ">": left > right,
        ">=": left >= right, "<": left < right, "<=": left <= right,
    }[op]


def _arith_col(op: str, left: Column, right: Column) -> Column:
    return {
        "+": left + right, "-": left - right, "*": left * right,
        "/": left / right, "%": left % right,
    }[op]


def _compile_binop(ctx: LogQLContext, b: A.BinOp) -> Result:
    lscalar = isinstance(b.left, A.Scalar)
    rscalar = isinstance(b.right, A.Scalar)
    if lscalar and rscalar:
        raise ValueError("scalar-scalar expression is not a query")
    if rscalar or lscalar:
        vec = compile_expr(ctx, b.left if rscalar else b.right)
        lit = F.lit((b.right if rscalar else b.left).value)
        v = F.col("value")
        left, right = (v, lit) if rscalar else (lit, v)
        if b.op in _CMP:
            # comparison on aggregate = filter (ref: planner_comparison.go)
            out = vec.df.filter(_cmp_col(b.op, left, right))
        else:
            out = vec.df.withColumn("value", _arith_col(b.op, left, right))
        return Result(out, vec.kind, vec.labels_mutated)
    # vector-vector: join on (fingerprint, ts)
    # (ref: planner_binary_expr.go — UNION ALL + pivot; a join is the
    #  idiomatic Spark expression of the same (fp, ts) alignment)
    left = compile_expr(ctx, b.left)
    right = compile_expr(ctx, b.right)
    lj = left.df.select(
        "fingerprint", "labels", "timestamp_ns", F.col("value").alias("__l")
    )
    rj = right.df.select("fingerprint", "timestamp_ns", F.col("value").alias("__r"))
    j = lj.join(rj, ["fingerprint", "timestamp_ns"], "inner")
    if b.op in _CMP:
        out = j.filter(_cmp_col(b.op, F.col("__l"), F.col("__r"))).withColumn(
            "value", F.col("__l")
        )
    else:
        out = j.withColumn("value", _arith_col(b.op, F.col("__l"), F.col("__r")))
    return Result(
        out.select("fingerprint", "labels", "timestamp_ns", "value"),
        "matrix",
        left.labels_mutated,
    )


def _cancel_json_logfmt(expr: A.Expr) -> None:
    """Adjacent `| json | logfmt` pairs cancel — both stages are removed
    (ref: logql_transpiler/planner.go cancelJsonAndLogFmt, applied
    in-place on the parsed script before planning). Mirrored exactly,
    including the right-to-left sweep."""
    if isinstance(expr, A.BinOp):
        _cancel_json_logfmt(expr.left)
        _cancel_json_logfmt(expr.right)
        return
    if not isinstance(expr, A.LogExpr):
        inner = getattr(expr, "inner", None)
        if inner is not None:
            _cancel_json_logfmt(inner)
        return
    st = expr.stages
    i = len(st) - 2
    while i >= 0:
        a, b = st[i], st[i + 1]
        if (
            isinstance(a, A.ParserStage)
            and isinstance(b, A.ParserStage)
            and a.kind == "json"
            and b.kind == "logfmt"
        ):
            del st[i : i + 2]
            i = min(i, len(st) - 2)
        else:
            i -= 1


def query(ctx: LogQLContext, text: str) -> Result:
    """Compile entry: macros expand first, then planner plugins are
    consulted, then the built-in compiler (ref: planner.go:134-139 —
    plugin chain before the stock planner; model.go:485 MacrosOp)."""
    from gigapipe_spark import plugins
    from gigapipe_spark.logql.parser import parse

    if "_" in text and plugins.get_plugins(plugins.MACRO):
        text = plugins.expand_macros(text)
    planned = plugins.consult(plugins.LOGQL_PLANNER, ctx, text)
    if planned is not None:
        return planned
    expr = parse(text)
    _cancel_json_logfmt(expr)
    ctx.set_scan_bounds(_max_lookback_ns(expr))
    return compile_expr(ctx, expr)


def _max_lookback_ns(expr) -> int:
    """How far before the requested start the scan must reach: the max
    range+offset of any range aggregation in the tree (a bucket whose
    re-stepped points land inside [start, end) draws samples from up to
    range+offset earlier — the reference's rate-hint widening,
    prom_queryable.go:196-202)."""
    if isinstance(expr, A.RangeAgg):
        return expr.range_ns + expr.offset_ns
    if isinstance(expr, (A.VectorAgg, A.TopK)):
        return _max_lookback_ns(expr.inner)
    if isinstance(expr, A.BinOp):
        return max(_max_lookback_ns(expr.left), _max_lookback_ns(expr.right))
    return 0


def bucket_widths(text: str) -> set[int] | None:
    """The range widths a metric query_range of `text` buckets samples
    in (see _bucket_col): each point b of its answer counts only the
    samples in [b, b + range) of its range aggregations, on absolute
    buckets. None when the answer can depend on the request's edges
    instead, or is not a matrix: log lines, an `offset` (its buckets
    reach past the request's end), a macro or a planner plugin (their
    plans are not this compiler's)."""
    from gigapipe_spark import plugins
    from gigapipe_spark.logql.parser import parse

    if plugins.get_plugins(plugins.MACRO) or plugins.get_plugins(
        plugins.LOGQL_PLANNER
    ):
        return None

    def walk(e) -> set[int] | None:
        if isinstance(e, A.RangeAgg):
            return None if e.offset_ns else {e.range_ns}
        if isinstance(e, A.Scalar):
            return set()
        if isinstance(e, (A.VectorAgg, A.TopK)):
            return walk(e.inner)
        if isinstance(e, A.BinOp):
            left, right = walk(e.left), walk(e.right)
            return None if left is None or right is None else left | right
        return None

    return walk(parse(text))


def restep(matrix: DataFrame, range_ns: int, step_ns: int) -> DataFrame:
    """Step re-interpolation (ref: planner_step_fix.go:11 +
    matrix_step.go:9): each range bucket's value is repeated onto the
    finer step grid within the bucket — query_range responses are dense
    per step even when the range agg bucketed coarser. Zero-valued
    points are dropped afterwards by the zero-eater
    (ref: planner_zero_eater.go), mirrored here with a filter."""
    if step_ns >= range_ns:
        return matrix
    k = range_ns // step_ns
    offsets = F.sequence(F.lit(0), F.lit(int(k - 1)))
    exploded = matrix.withColumn("__i", F.explode(offsets))
    out = exploded.withColumn(
        "timestamp_ns", F.col("timestamp_ns") + F.col("__i") * F.lit(step_ns)
    ).drop("__i")
    return out.filter(F.col("value") != 0)  # zero-eater


def query_range(
    ctx: LogQLContext,
    text: str,
    start_ns: int | None = None,
    end_ns: int | None = None,
    limit: int | None = None,
    direction: str = "backward",
) -> Result:
    """query_range response shaping (ref: planner_main_order_by.go,
    planner_main_limit.go, planner_main_finalizer.go): time-range bounds,
    newest/oldest-first ordering, row limit. The limit's tiebreak is the
    (timestamp, fingerprint) total order so pagination is deterministic.
    A metric (matrix) result without a limit is left unsorted: the sort
    is a range-partition exchange plus its sampling job, and the matrix
    envelope orders series and values itself (httpd._matrix).
    """
    ctx.start_ns, ctx.end_ns = start_ns, end_ns
    res = query(ctx, text)
    df = res.df
    # exact trim on the derived column; the widened raw-ts bound already
    # pruned the scan inside query()
    if start_ns is not None:
        df = df.filter(F.col("timestamp_ns") >= start_ns)
    if end_ns is not None:
        df = df.filter(F.col("timestamp_ns") < end_ns)
    if limit is None and res.kind == "matrix":
        return Result(df, res.kind, res.labels_mutated)
    ts = F.col("timestamp_ns")
    fp = F.col("fingerprint")
    order = [ts.desc(), fp.desc()] if direction == "backward" else [ts.asc(), fp.asc()]
    df = df.orderBy(*order)
    if limit is not None:
        df = df.limit(limit)
    return Result(df, res.kind, res.labels_mutated)
