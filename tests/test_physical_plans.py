"""Physical-plan assertions: the scale properties SURVEY §4.3 promises.

These lock in the plan shape, not results: filters reach the parquet
scan (PushedFilters), projections prune the read schema (ReadSchema),
dimension joins broadcast, and selector scans stay shuffle-free.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gigapipe_spark.sources import views
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_samples_filter_pushdown(spark):
    s = views.samples(spark, SF_DIR).filter(F.col("fingerprint") == 42)
    plan = _formatted(s)
    # fingerprint derives from user_id/event_type, so those columns must
    # be read — but the value/props columns the query never touches must
    # NOT be (column pruning through the derived view)
    assert "PushedFilters" in plan


def test_samples_column_pruning(spark):
    s = views.samples(spark, SF_DIR).select("timestamp_ns")
    plan = _formatted(s)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "props" not in read[0] and "value" not in read[0]


def test_events_scan_prunes_predicate(spark):
    ev = views.load_table(spark, SF_DIR, "events").filter(
        F.col("event_type") == "error"
    ).select("user_id")
    plan = _formatted(ev)
    assert "PushedFilters: [" in plan and "event_type" in plan


def test_meta_volume_broadcasts_series(spark):
    from gigapipe_spark.registry import queries

    df = queries()["meta_volume"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df) or "BroadcastExchange" in _plan(df)


def test_selector_scan_no_shuffle(spark):
    # single-term TraceQL selector = filtered cached index, zero Exchange
    from gigapipe_spark.traceql.compiler import TraceQLContext, select_spans
    from gigapipe_spark.traceql.parser import parse

    ctx = TraceQLContext(spark, SF_DIR)
    df = select_spans(ctx, parse('{ returnflag = "R" }').spanset)
    # the cached index's BUILD plan (inside InMemoryRelation) may carry
    # its one-time shuffle; the query itself must add none on top
    top = _plan(df).split("InMemoryTableScan")[0]
    assert "Exchange" not in top


def test_multiterm_selector_no_shuffle(spark):
    from gigapipe_spark.traceql.compiler import TraceQLContext, select_spans
    from gigapipe_spark.traceql.parser import parse

    ctx = TraceQLContext(spark, SF_DIR)
    df = select_spans(
        ctx, parse('{ returnflag = "R" && linestatus = "O" }').spanset
    )
    top = _plan(df).split("InMemoryTableScan")[0]
    assert "Exchange" not in top


def test_loki_query_range_time_bound_reaches_scan(spark):
    # bounded metric query: the widened raw-ts predicate must appear in
    # the parquet scan's PushedFilters, below the range agg (ref:
    # stream_select.go:76 — every planner emits raw time bounds)
    from gigapipe_spark.logql.compiler import LogQLContext, query_range

    lo, hi = 1_500_000_000_000_000_000, 1_800_000_000_000_000_000
    res = query_range(
        LogQLContext(spark, SF_DIR),
        'sum by (app) (rate({level="info"} [10m]))',
        start_ns=lo,
        end_ns=hi,
    )
    plan = _formatted(res.df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any(
        "ts" in ln and ("GreaterThan" in ln or "LessThan" in ln) for ln in pushed
    ), pushed


def test_prom_query_range_bound_below_rate(spark, tmp_path):
    # with a STORED metrics table (physical timestamp_ns column, as at a
    # real deployment) the widened bound reaches the scan below rate();
    # the derived fixture necessarily stops above its counter cumsum
    from gigapipe_spark.promql.compiler import PromQLContext, query

    path = str(tmp_path / "stored_metrics")
    views.metric_samples(spark, SF_DIR).limit(1000).write.parquet(path)
    ctx = PromQLContext(
        spark, SF_DIR, use_rollup=False, _metrics=spark.read.parquet(path)
    )
    ctx.start_ns, ctx.end_ns = 1_500_000_000_000_000_000, 1_800_000_000_000_000_000
    m = query(ctx, 'rate({app="click"}[5m])')
    plan = _formatted(m)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any(
        "timestamp_ns" in ln and ("GreaterThan" in ln or "LessThan" in ln)
        for ln in pushed
    ), pushed


def test_bucketed_samples_window_no_exchange(spark, tmp_path):
    # the bucketed stored layout must satisfy the per-series window's
    # required distribution: NO Exchange in a counter-style lag plan
    from pyspark.sql import Window

    from gigapipe_spark.storage import writer

    s = views.samples(spark, SF_DIR)
    writer.write_bucketed(
        s, "samples_bucketed_t", str(tmp_path / "sb"), buckets=8
    )
    t = writer.read_bucketed(spark, "samples_bucketed_t")
    w = Window.partitionBy("fingerprint").orderBy("timestamp_ns")
    out = t.select(
        "fingerprint", "timestamp_ns", F.lag("value").over(w).alias("prev")
    )
    plan = _plan(out)
    assert "Window" in plan and "Exchange" not in plan, plan
    spark.sql("DROP TABLE IF EXISTS samples_bucketed_t")


def test_bm25_query_side_broadcasts(spark):
    """The query-term frame must broadcast against the postings slice —
    at 100 TB the corpus-sized postings never shuffle for a search."""
    from gigapipe_spark.datapipe.textstats import bm25_topk

    df = bm25_topk(
        views.documents(spark, SF_DIR), [(1, "spark query join")], k=5
    )
    assert "BroadcastExchange" in _plan(df)


def test_nb_classifier_grid_broadcasts_no_cartesian(spark):
    """The labels x vocab likelihood grid is broadcast-sized by
    construction; the corpus must never cartesian-join the label set."""
    from gigapipe_spark.datapipe.textstats import nb_classifier

    plan = _plan(nb_classifier(views.documents(spark, SF_DIR), max_vocab=300))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_curate_corpus_no_cartesian(spark):
    """The composed pipeline is doc-keyed joins only — no stage may
    degrade to a cartesian product."""
    from gigapipe_spark.datapipe.pipeline import curate_corpus

    plan = _plan(
        curate_corpus(
            views.documents(spark, SF_DIR), num_hashes=32, bands=8
        )
    )
    assert "CartesianProduct" not in plan


def test_remove_spans_single_doc_keyed_join(spark):
    """Span application joins the span arrays per doc — the corpus text
    shuffles on doc_id only (one SortMergeJoin/Exchange pair at most,
    nothing keyed by span or gram)."""
    from gigapipe_spark.datapipe.dedup import remove_spans

    docs = views.documents(spark, SF_DIR)
    spans = spark.createDataFrame(
        [(1, 0, 3)], "doc_id long, start_word long, n_words long"
    )
    plan = _plan(remove_spans(docs, spans))
    assert "CartesianProduct" not in plan


def test_rules_tail_poll_scan_bounds(spark, tmp_path):
    """The ruler evaluators' store reads must carry raw timestamp
    predicates into the scan (the same pruning contract as the tail
    poll) — a year-deep store is not re-scanned per evaluation."""
    import json

    from gigapipe_spark.sources.ingest import loki_push
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    t0 = 1_700_000_000_000_000_000
    root = str(tmp_path / "rulesplan")
    cat = Catalog(root)
    payload = json.dumps(
        {"streams": [{"stream": {"app": "p"},
                      "values": [[str(t0), "x"]]}]}
    )
    ingest_fanout(
        loki_push(spark.createDataFrame([(payload,)], "payload string")), cat
    )
    eng = StoreEngine(spark, root, catalog=cat)
    df = eng.loki_query('{app="p"}', t0 + 1_000)
    plan = _formatted(df)
    assert "PushedFilters" in plan


def test_limit_ratio_windows_share_one_exchange(spark):
    """limit_ratio stacks row_number + count windows on the SAME
    partition spec — the second window must not add an exchange
    (r9: the selection costs one shuffle, like topk)."""
    from gigapipe_spark.promql.compiler import PromQLContext
    from gigapipe_spark.promql.compiler import query as promql_query

    df = promql_query(
        PromQLContext(spark, SF_DIR),
        'limit_ratio(0.4, max_over_time({app=~"click|view"}[1h]))',
    )
    plan = _plan(df)
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window [" in ln.strip()[:10] or ln.strip().startswith("+- Window") or "- Window [" in ln]
    # the two selection windows are adjacent in the plan (allowing
    # Filter/Project between) with NO Exchange between them
    sel_wins = [i for i in win_idx if "row_number" in lines[i] or "count(1)" in lines[i]]
    assert len(sel_wins) >= 2, plan
    top_two = sorted(sel_wins)[:2]
    between = lines[top_two[0]: top_two[1] + 1]
    assert not any("Exchange" in ln for ln in between), "\n".join(between)


_S = 1_000_000_000
_T0 = 1_700_000_000 * _S


@pytest.fixture(scope="module")
def metric_store(spark, tmp_path_factory):
    """A written store of six counters in two apps, 15 s scrapes."""
    from gigapipe_spark.sources import ingest
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, ingest_fanout

    lines = [
        f"m,app={app},instance={inst} req_total={i * (n + 1)} {_T0 + i * 15 * _S}"
        for n, (app, inst) in enumerate(
            (app, inst) for app in ("api", "web") for inst in "abc"
        )
        for i in range(80)
    ]
    raw = spark.createDataFrame([(ln,) for ln in lines], "line string")
    cat = Catalog(str(tmp_path_factory.mktemp("plans") / "store"))
    ingest_fanout(ingest.influx_line(raw), cat)
    return StoreEngine(spark, cat.root, catalog=cat)


@pytest.mark.parametrize(
    "expr",
    [
        "topk(3, rate(req_total[5m]))",
        "limitk(2, req_total) by (app)",
        "limit_ratio(0.5, req_total)",
    ],
)
def test_selection_reads_samples_once(metric_store, expr):
    """topk/limitk/limit_ratio select from the inner matrix in one
    window pass: the inner subtree is evaluated once, so the executed
    plan scans the stored samples once — the samples table at an
    instant; over a range, samples or their 15 s rollup (metrics_15s),
    whichever the inner routes to."""

    def fact_scans(df) -> list:
        assert df.collect()
        # AQE prints the final plan, then the initial one; a store
        # read names its pinned files, so the location is a file path
        # under the table dir
        final = _plan(df).split("== Initial Plan ==")[0]
        return [
            ln for ln in final.splitlines()
            if "FileScan parquet" in ln
            and ("/samples/" in ln or "/metrics_15s/" in ln)
        ]

    t = _T0 + 1000 * _S
    scans = fact_scans(metric_store.prom_query(expr, t))
    assert len(scans) == 1 and "/samples/" in scans[0], scans
    scans = fact_scans(
        metric_store.prom_query_range(expr, t - 600 * _S, t, 60 * _S)
    )
    assert len(scans) == 1, scans


def test_ancestor_closure_join_count_is_logarithmic(spark):
    """Frontier doubling: a depth-16 hierarchy closes in ⌈log₂16⌉ = 4
    compose joins, not 15 sequential ones (r9). The plan of the final
    union must contain at most 6 joins (4 composes + slack for the
    fixture derivation), where the sequential formulation held 15."""
    from gigapipe_spark.sources.views import ancestors_from_spans

    rows = [("t1", f"s{i}", f"s{i-1}" if i else "") for i in range(16)]
    sp = spark.createDataFrame(
        rows, "trace_id string, span_id string, parent_id string"
    )
    from gigapipe_spark.telemetry import TELEMETRY

    key = ("ancestor_closure_rounds", (("max_depth", "16"),))
    before = TELEMETRY._counters.get(key, 0.0)
    out = ancestors_from_spans(sp, max_depth=16)
    assert out.count() == sum(range(1, 16))  # 120 pairs: full closure
    rounds = TELEMETRY._counters.get(key, 0.0) - before
    assert rounds == 4, rounds  # 1→2→4→8→16, not 15 sequential levels


def test_pure_attr_selector_stays_single_scan_after_mixed_fix(spark):
    """The round-12 mixed intrinsic+attr join base must NOT leak into
    pure-attr selectors: those keep the single map-scan plan (no Join
    operator at all)."""
    from gigapipe_spark.traceql.compiler import TraceQLContext, select_spans
    from gigapipe_spark.traceql.parser import parse

    ctx = TraceQLContext(spark, SF_DIR)
    df = select_spans(
        ctx, parse('{ returnflag = "R" && priority = "1-URGENT" }').spanset
    )
    top = _plan(df).split("InMemoryTableScan")[0]
    assert "Exchange" not in top
    assert "Join" not in top


def test_mixed_selector_join_no_cartesian_no_extra_shuffle(spark):
    """Mixed trees join spans⟕attr_map on (trace_id, span_id): the plan
    must be a real equi-join (never cartesian) and add no Exchange on
    top of the cached dims."""
    from gigapipe_spark.traceql.compiler import TraceQLContext, select_spans
    from gigapipe_spark.traceql.parser import parse

    ctx = TraceQLContext(spark, SF_DIR)
    df = select_spans(
        ctx, parse('{ returnflag = "R" && name = "item" }').spanset
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # the intrinsic really resolves via spans
    # a BroadcastExchange IS the desired strategy — only a SHUFFLE
    # exchange on top of the cached dims would be a regression
    top = plan.replace("BroadcastExchange", "BX").split(
        "InMemoryTableScan"
    )[0]
    assert "Exchange" not in top


def test_complexity_stats_probe_runs_no_jobs(spark):
    """The stats-served probe must be ZERO Spark jobs — its entire
    point (the per-shape count jobs were the cold-query cost)."""
    from gigapipe_spark.sources import views
    from gigapipe_spark.traceql import compiler as C
    from gigapipe_spark.traceql.parser import parse

    views.attr_stats(spark, SF_DIR)  # build once, outside the window
    ctx = C.TraceQLContext(spark, SF_DIR)
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    n = C.eval_complexity(
        ctx, parse('{ returnflag = "R" && priority = "1-URGENT" }').spanset
    )
    after = len(st.getJobIdsForGroup(None) or [])
    assert n > 0
    assert after == before  # dict lookups, no jobs


def test_miner_singles_path_no_full_row_exchange(spark):
    """The r13 miner contract: full log rows never shuffle to learn
    their shard size. The mixed-corpus plan's ONLY exchanges are (a)
    the sizing aggregation's (key, count) pairs — inside the gate job,
    not this plan — and (b) the repartition of the rare MULTI rows
    feeding the pandas merge loop. The singles branch (the bulk of
    every real corpus) must be exchange-free end-to-end: scan → IN-set
    filter → project, one stage."""
    from gigapipe_spark.patterns.cluster import mine_patterns
    from tests.conftest import SF_DIR_MED

    # sf0.01: a MIXED corpus (sf0.001 is all-singles — zero exchanges,
    # which is its own pure-path guarantee)
    df = mine_patterns(views.samples(spark, SF_DIR_MED))
    plan = _plan(df)
    # the union plan: count exchanges — exactly ONE, and it carries
    # ONLY the rare multi rows: either the JVM fold's groupBy hash
    # exchange on the shard keys (small slices, r14 default) or the
    # pandas branch's explicit repartition (past JVM_FOLD_CAP); a
    # second exchange would mean singles rows are shuffling
    assert plan.count("Exchange ") == 1, plan
    assert (
        "REPARTITION_BY_NUM" in plan
        or "hashpartitioning(fingerprint" in plan
    ), plan
    # no window sizing (the pre-r13 full-row shuffle's signature) —
    # the JVM fold's window-free contract too
    assert "Window" not in plan, plan

    # pure-singles corpus: the whole plan is exchange-free
    pure = mine_patterns(views.samples(spark, SF_DIR))
    pplan = _plan(pure)
    assert pplan.count("Exchange ") == 0, pplan
    assert "MapInPandas" not in pplan, pplan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_json_parse_once_through_label_filter_pushdown(spark):
    """Predicate pushdown substitutes Project aliases into the pushed
    filter UNCONDITIONALLY (no non-cheap multi-ref guard like
    CollapseProject's), so every from_json occurrence in the labels
    expression runs per row once a label filter sinks below the parser
    projection — and a reference from inside a map lambda runs per map
    ENTRY per row. The r14 parse-once contract: `| json` + label
    filter compiles to exactly ONE from_json in the optimized plan
    (pre-fix: 4, one inside a map_filter lambda)."""
    from gigapipe_spark.logql.compiler import LogQLContext, query as lq

    res = lq(
        LogQLContext(spark, SF_DIR),
        '{app="view"} | json | k > 50',
    )
    plan = _optimized(res.df)
    # exactly 1: the r15 pushdown barrier (a non-deterministic
    # value-identity on the labels projection at post-parser filter
    # time) keeps the filter ABOVE the parse, so the chain
    # materializes once and the filter reads the materialized map.
    # r14 shape: 2 (one cloned into the pushed filter, one in the
    # labels output projection). Pre-r14: 4, one of them inside a
    # map_filter lambda — per map ENTRY per row.
    assert plan.count("from_json(") == 1, plan
    # the per-element trap specifically: no JSON parse after a lambda
    # body opens (heuristic: in this plan the only from_json sites are
    # direct map_zip_with arguments, which print BEFORE the lambda)
    for line in plan.splitlines():
        head, sep, tail = line.partition("lambdafunction(")
        assert not (sep and "from_json(" in tail), line


def test_unwrap_bytes_no_filter_explosion(spark):
    """`| unwrap bytes(..)` must not emit a row filter over the
    parser/label_format/unwrap chain: the pushed-down null filter
    cloned the chain per reference (29 from_json + 28 regexp_extract
    per input row pre-fix). Range aggregations use null-ignoring
    aggregates + a post-aggregate guard instead; the conversion itself
    is exactly two regex runs."""
    from gigapipe_spark.logql.compiler import LogQLContext, query_range

    res = query_range(
        LogQLContext(spark, SF_DIR),
        'sum_over_time({app="purchase"} | json'
        ' | label_format b="{{.k}}KiB" | unwrap bytes(b) [10m]) by (app)',
    )
    plan = _optimized(res.df)
    assert plan.count("from_json(") == 1, plan
    assert plan.count("regexp_extract(") <= 2, plan


def test_vector_agg_no_map_in_aggregation_buffer(spark):
    """first(labels) in a groupBy puts a MapType in the aggregation
    buffer, which disqualifies HashAggregateExec — Spark plans
    SortAggregate with a per-partition sort of every raw matching row.
    The r14 contract: LogQL vector/range aggregates group by the sorted
    label-entries array (labels and fingerprint rebuilt FROM the key),
    so the whole-plan aggregate strategy stays hash-based with no
    pre-aggregate sort of the scan."""
    from gigapipe_spark.registry import queries

    for entry in ("logql_sum_by_count_over_time", "logql_topk"):
        df = queries()[entry](spark, SF_DIR)
        plan = _plan(df)
        assert "SortAggregate" not in plan, entry
        assert "first(labels" not in plan, entry


def test_promql_range_agg_no_map_in_buffer(spark):
    """PromQL per-series over_time aggregates run label-free on
    (fingerprint, bucket) and re-attach labels from the broadcast
    series dim on the bucket-reduced output (the r14 instant-vector
    shape); regrouped vector aggs use the entries-key form. Either way
    no first(map) survives in the physical plan."""
    from gigapipe_spark.registry import queries

    for entry in ("promql_max_over_time", "promql_quantile_agg"):
        df = queries()[entry](spark, SF_DIR)
        assert "first(labels" not in _plan(df), entry


def test_entries_key_reproduces_canonical_fingerprint(spark):
    """The entries-grouped aggregate rebuilds labels and fingerprint
    from the group key. Pin the bit-identity of that rebuild against
    the original map-derived forms, including the null/empty split."""
    from gigapipe_spark.model.fingerprint import (
        canonical_from_entries,
        canonical_labels_str,
        sorted_entries,
    )

    df = spark.createDataFrame(
        [
            ({"b": "2", "a": "1"},),
            ({"a": "x=y", "c": ""},),
            ({},),
            (None,),
        ],
        "labels map<string,string>",
    )
    ent = sorted_entries(F.col("labels"))
    rows = df.select(
        F.xxhash64(canonical_labels_str(F.col("labels"))).alias("fp_map"),
        F.xxhash64(canonical_from_entries(ent)).alias("fp_ent"),
        F.map_from_entries(ent).alias("rebuilt"),
        F.col("labels"),
    ).collect()
    for r in rows:
        assert r.fp_map == r.fp_ent, r
        assert r.rebuilt == r.labels, r
    # null map and empty map stay DISTINCT groups
    assert rows[2].fp_ent != rows[3].fp_ent


def test_minhash_verify_join_chain_shape(spark):
    """Pin the minhash verify shape: ONE candidate self-join plus TWO
    per-side verify joins against the shingle index, and NO
    collect_list pair-reassembly aggregate. The single-join fusion
    (explode pairs into id legs, join once, reassemble via a
    (doc_a, doc_b) collect_list) was measured and FALSIFIED in r15:
    it removes one broadcast job at sf0.1 but is 3-7x slower warm at
    the 30x regime — the pair-reassembling ObjectHashAggregate
    re-buffers the shingle-array payloads where the join chain keeps
    them in hash-relation lookups (receipt: OPTIMIZATION_r15.md §B)."""
    from gigapipe_spark.datapipe.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(views.documents(spark, SF_DIR), threshold=0.5)
    import re

    plan = _formatted(df)
    # the formatted dump names each operator twice (tree + detail
    # header), so count the numbered detail headers only
    joins = re.findall(
        r"^\(\d+\) (?:BroadcastHash|SortMerge|ShuffledHash)Join",
        plan,
        re.M,
    )
    assert len(joins) == 3, plan
    assert "collect_list" not in plan, plan


def test_ingest_decoder_filters_do_not_clone_extraction(spark):
    """Ingest decoders filter on per-row extraction output (influx:
    message-present / numeric-value on the fields map; collapsed
    stacks: value-parses / non-empty stack). Those predicates can
    never prune at the scan, so pushdown only clones the whole
    tokenize/extract chain into each Filter condition (r15 dupescan:
    29-41 regexp_extract in-Filter per influx entry) while the
    projection re-runs it for survivors. The nonpushable barrier pins
    the shape: no regexp work on any Filter line."""
    from gigapipe_spark.sources.ingest import collapsed_stacks, influx_line

    raw = spark.createDataFrame(
        [("cpu,region=east usage=0.64,idle=0.3 1000000000",),
         ("sys message=\"boot ok\" sev=3 2000000000",)],
        "line string",
    )
    folded = spark.createDataFrame(
        [("p1", "main;foo 5"), ("p1", "bad-line")],
        "profile_id string, line string",
    )
    for df in (influx_line(raw), collapsed_stacks(folded)):
        plan = _optimized(df)
        for line in plan.splitlines():
            if line.lstrip().startswith(("Filter", "+- Filter", ":- Filter")):
                assert "regexp_extract" not in line, line
                assert "regexp_replace" not in line, line


def test_nonpushable_tripwire(spark):
    """planutil.nonpushable relies on Catalyst treating its wrapper as
    non-deterministic, so predicate pushdown leaves a filter over the
    wrapped column above its Project. A Spark upgrade that folds the
    one-element shuffle breaks every caller silently; fail here."""
    from gigapipe_spark.planutil import nonpushable

    hint = (
        f"planutil.py nonpushable() no longer blocks pushdown on Spark "
        f"{spark.version}: pick a new non-deterministic identity wrapper"
    )
    df = spark.range(4).select(nonpushable(F.col("id") * 2).alias("x"))
    alias = df._jdf.queryExecution().analyzed().projectList().apply(0)
    assert not alias.deterministic(), hint
    plan = df.filter(F.col("x") > 2)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "Filter", hint + "\n" + plan.toString()
    assert plan.child().nodeName() == "Project", hint + "\n" + plan.toString()


@pytest.mark.parametrize(
    "expr",
    [
        "topk(3, rate(req_total[5m]))",
        "rate(sum by (app) (req_total)[5m:1m])",
        "ts_of_last_over_time(req_total[5m])",
        "ts_of_last_over_time(sum by (app) (req_total)[5m:1m])",
        "mad_over_time(req_total[5m])",
        "mad_over_time(sum by (app) (req_total)[5m:1m])",
    ],
)
def test_counter_aggregate_is_hash_aggregated(metric_store, expr):
    """rate/increase/... aggregate with no labels map in the buffer: the
    raw path re-attaches labels from the series dim, the subquery path
    carries them in the group key. A map there would plan a
    SortAggregate sorting every windowed sample."""
    t = _T0 + 1000 * _S
    for df in (
        metric_store.prom_query(expr, t),
        metric_store.prom_query_range(expr, t - 600 * _S, t, 60 * _S),
    ):
        assert df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        assert "SortAggregate" not in final, final
        assert "HashAggregate" in final, final
