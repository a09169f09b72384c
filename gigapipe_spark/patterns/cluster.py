"""Drain-style log pattern mining (ref: writer/pattern/, ~4.8k LoC).

The reference clusters log lines online at ingest: a re2c lexer types
tokens (UUID/IP/timestamp/number/...), the cluster key is the first
"valuable" token, and a line merges into a cluster iff

    (difference_cost + generalized_cost) / overall_cost <= 1 - similarity

(ref: writer/pattern/clustering/pattern.go:155-198; token costs :46-66;
cluster key :238-265). Differing tokens become the `<_>` placeholder.

Spark design: tokenize + cluster-key assignment are pure column
expressions; the per-key incremental clustering is an applyInPandas
stage — per-group state fits in memory because groups are (fingerprint,
cluster_key) shards, exactly how the reference shards its controller.
At 100 TB this is one shuffle on the cluster key; group sizes are
bounded by per-key line volume, with AQE skew handling for hot keys.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# token classes, mirroring the reference lexer's typing
# (ref: writer/pattern/clustering/_lexer.go): higher cost = more
# "valuable" when generalizing
# mixed-corpus split strategy thresholds (mine_patterns): <= ISIN_CAP
# multi keys inline as a literal IN-set; <= COLLECT_CAP broadcast as a
# collected LocalRelation; beyond that the full-row window path takes
# over. Module-level so tests can pin every branch.
ISIN_CAP = 2_000
COLLECT_CAP = 100_000
# multi-ROW count at or under which the multi branch runs the pure-JVM
# fold instead of mapInPandas (measured crossover, docs/SCALE.md r14:
# JVM ~2x faster on small/mixed slices — the real-world flush shape,
# e.g. the sf0.1 fixture's multi slice is 340 rows — pandas wins past
# ~30k all-multi rows and is ~1.6x faster at 1M)
JVM_FOLD_CAP = 16_384

TOKEN_CLASSES = [
    ("uuid", re.compile(r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"), 1),
    ("ip", re.compile(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(:\d+)?$"), 1),
    ("timestamp", re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}.*)?$"), 1),
    ("number", re.compile(r"^-?\d+(\.\d+)?$"), 1),
    ("hex", re.compile(r"^0[xX][0-9a-fA-F]+$"), 1),
    ("level", re.compile(r"^(TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL|trace|debug|info|warn|warning|error|fatal)$"), 2),
    ("method", re.compile(r"^(GET|POST|PUT|DELETE|PATCH|HEAD|OPTIONS)$"), 2),
    ("path", re.compile(r"^/[^ ]*$"), 3),
    ("word", re.compile(r"^.*$"), 5),
]

GENERALIZED = "<_>"
GENERALIZED_COST = 0


def classify(token: str) -> tuple[str, int]:
    for name, rx, cost in TOKEN_CLASSES:
        if rx.match(token):
            return name, cost
    return "word", 5


def token_cost(token: str) -> int:
    return classify(token)[1]


def _cost_col(t: Column) -> Column:
    """JVM twin of classify()/token_cost() — same verdicts, fewer regex
    evaluations. The 9-class first-match-wins cascade only ever NEEDS
    the matched class's COST, and the chain is ordered by cost, so
    same-cost classes union into one alternation: a token matching any
    cost-1 pattern scores 1 regardless of which, and no token matches
    patterns from two cost groups out of order (the groups' grammars
    are disjoint — digits/hex-shapes vs. keyword literals vs. a leading
    slash). 3 rlike per token instead of 8 — the classify pass bounds
    the miner, which bounds the full ingest path (SCALE.md).
    Equivalence to classify() is pinned by test_patterns' singles/multi
    parity and the patterns_mine_exact oracle."""
    groups: dict[int, list[str]] = {}
    for _name, rx, cost in TOKEN_CLASSES[:-1]:
        groups.setdefault(cost, []).append(rx.pattern)
    c = None
    for cost in sorted(groups):
        pat = "|".join(f"(?:{p})" for p in groups[cost])
        cond = t.rlike(pat)
        c = F.when(cond, cost) if c is None else c.when(cond, cost)
    return c.otherwise(TOKEN_CLASSES[-1][2])


def cluster_key(tokens: list[str]) -> str:
    """First 'valuable' token (ref: pattern.go:238-265): the first token
    whose class is a plain word — stable under parameter changes."""
    for t in tokens:
        name, cost = classify(t)
        if cost >= 5:
            return t
    return tokens[0] if tokens else ""


class Pattern:
    # last_seen: newest event ts absorbed — drives the stateful
    # stream's idle eviction (reference cleanup, pattern.go:306-313)
    # _overall/_gen: cached cost sums — try_merge runs once per
    # (line, cluster) in the mining hot loop, and recomputing both
    # O(tokens) property sums per call tripled the per-line work
    # (the miner bounds the full ingest path's lines/s). Lazily
    # rebuilt so the stateful twin's __new__-based rehydration
    # (which sets only tokens/costs/counters) stays valid.
    __slots__ = (
        "tokens", "costs", "samples_count", "last_seen", "_overall", "_gen"
    )

    def __init__(self, tokens: list[str]):
        self.tokens = list(tokens)
        self.costs = [token_cost(t) for t in tokens]
        self.samples_count = 1
        self.last_seen = 0
        self._overall = sum(self.costs)
        self._gen = 0

    def _ensure_cost_cache(self) -> None:
        try:
            self._overall  # noqa: B018 — attribute probe
        except AttributeError:
            self._overall = sum(self.costs)
            self._gen = sum(
                c for t, c in zip(self.tokens, self.costs) if t == GENERALIZED
            )

    @property
    def overall_cost(self) -> int:
        self._ensure_cost_cache()
        return self._overall

    @property
    def generalized_cost(self) -> int:
        self._ensure_cost_cache()
        return self._gen

    def try_merge(self, tokens: list[str], similarity: float) -> bool:
        """Merge rule (ref: pattern.go:155-198): accept iff
        (difference_cost + generalized_cost) / overall_cost <= 1 - sim.
        The acceptance expression is kept VERBATIM (same operand order,
        same division) so cached sums cannot move a floating-point
        boundary case."""
        mine_toks = self.tokens
        if len(tokens) != len(mine_toks):
            return False
        self._ensure_cost_cache()
        costs = self.costs
        diff_cost = 0
        diff_at = None
        for i, theirs in enumerate(tokens):
            m = mine_toks[i]
            if m != theirs and m != GENERALIZED:
                diff_cost += costs[i]
                diff_at = i
        overall = self._overall or 1
        if (diff_cost + self._gen) / overall > 1 - similarity:
            return False
        if diff_at is not None:
            self.tokens = [
                m if (m == t or m == GENERALIZED) else GENERALIZED
                for m, t in zip(mine_toks, tokens)
            ]
            self._gen += diff_cost  # exactly the newly generalized slots
        self.samples_count += 1
        return True


def cluster_lines(lines: list[str], similarity: float = 0.6) -> list[Pattern]:
    """Reference algorithm over one shard (driver-free: called inside
    applyInPandas per group)."""
    clusters: list[Pattern] = []
    for line in lines:
        tokens = line.split()
        if not tokens:
            continue
        for c in clusters:
            if c.try_merge(tokens, similarity):
                break
        else:
            clusters.append(Pattern(tokens))
    return clusters


def mine_patterns(
    samples: DataFrame,
    similarity: float = 0.6,
    bucket_ns: int = 600_000_000_000,  # 10m flush buckets (ref: controller.go)
    materialize: bool = True,
) -> DataFrame:
    """Distributed pattern mining over a samples DataFrame.

    Shards by (fingerprint, 10m bucket, first-token cluster key); a
    pandas merge loop runs the reference clustering per MULTI-line
    shard only. Output mirrors the `patterns` table (ref:
    ctrl/qryn/sql/log.sql:174-187).

    Sizing shape (the full ingest path's bound, SCALE.md): ONE sizing
    job runs groupBy().count() over the key columns — map-side partial
    aggregation means the only all-rows exchange ships (key, count)
    pairs, not full rows — with the pure/mixed shape stats attached as
    observed metrics and only the rare MULTI keys collected. Pure
    corpora then skip the split entirely; mixed corpora split via a
    literal IN-set (≤ ISIN_CAP keys), a collected-LocalRelation
    broadcast join (≤ COLLECT_CAP), or — past that (adversarial key
    cardinality, never a flush batch) — the pre-r13 full-row window
    path, correct at any scale, one shuffle slower. The window shape
    shuffled every full row (line + token arrays) just to learn its
    shard size; at 100× that shuffle was the profiled pole hypothesis
    (falsified end-to-end — receipts in docs/SCALE.md — but the
    replacement halves the fixture entry's warm latency and never
    moves full rows to size shards).

    INPUT CONTRACT (ADVICE r13): the sizing job runs EAGERLY at build
    time and its observed shape gates which branch the returned plan
    takes, so the input must be stable between this call and the
    plan's execution. materialize=True (default) guarantees it — the
    sizing job doubles as the localCheckpoint materialization, and
    every branch scan reads the pinned blocks. materialize=False
    callers must hand in an already-materialized/immutable input (the
    fan-out passes its checkpointed flush batch; the reference
    likewise clusters one bounded push batch, controller.go:71). A
    live growing source under materialize=False would route shards
    that became multi-line after sizing through the singles branch as
    unmerged samples_count=1 rows.
    """
    spark = samples.sparkSession
    par = spark.sparkContext.defaultParallelism
    tokens_raw = F.filter(F.split("string", r"\s+"), lambda t: t != "")
    # ckey = first non-empty token. regexp_extract, not
    # element_at(split+filter, 1): the sizing pass and the join keys
    # need ONLY this scalar, and building the whole token array per row
    # just to take its head doubled the split work on the singles scan.
    ckey_col = F.regexp_extract(F.col("string"), r"(\S+)", 1)
    keyed = samples.filter(F.col("string") != "").select(
        "fingerprint",
        (
            F.col("timestamp_ns")
            - F.pmod(F.col("timestamp_ns"), F.lit(bucket_ns))
        ).alias("timestamp_10m"),
        F.col("string"),
        "timestamp_ns",
        ckey_col.alias("ckey"),
    )
    if materialize:
        # derive-once: the sizing job below is the first action, so ONE
        # pass over the input computes the shard sizes AND persists the
        # 5 needed columns as executor-local blocks — every later pass
        # (branch scans, the write) reads blocks instead of re-running
        # the input's derivation. Callers whose input is ALREADY
        # block-backed (patterns_fanout: the fan-out's checkpointed
        # flush batch) pass materialize=False and skip the extra copy —
        # measured faster on the 100× ingest probe, while the fixture
        # path (a parquet-derived view) measured ~2× faster cold WITH it.
        keyed = keyed.localCheckpoint(eager=False)

    out_schema = (
        "fingerprint long, timestamp_10m long, tokens array<string>, "
        "classes array<int>, overall_cost int, generalized_cost int, "
        "samples_count long, pattern_id long"
    )

    cols = [
        "fingerprint", "timestamp_10m", "tokens", "classes",
        "overall_cost", "generalized_cost", "samples_count", "pattern_id",
    ]

    def run(batches):
        # mapInPandas over hash-partitioned data, per-shard loop in
        # pandas: one Arrow stream per partition instead of one
        # invocation per (fingerprint, bucket, key) group —
        # thousands of tiny applyInPandas groups each pay ~ms of
        # batch overhead, which dominated wall-clock.
        #
        # The partition's Arrow batches CONCATENATE before grouping:
        # Arrow slices a partition every ~10k rows, and a shard's rows
        # are scattered through the partition (they only co-locate, not
        # co-sort), so per-batch grouping would FRAGMENT every shard
        # once a partition exceeds one batch — each fragment clustering
        # independently (caught by patterns_mine_exact at sf0.1: a
        # split shard can emit a literal AND a generalized pattern
        # where single-scope clustering emits one). Memory = one
        # partition of MULTI-shard rows in pandas — bounded by the
        # flush batch, and multi shards are the rare slice of real
        # corpora.
        import zlib

        batches = list(batches)
        if not batches:
            return
        merged = (
            pd.concat(batches, ignore_index=True)
            if len(batches) > 1
            else batches[0]
        )
        for pdf in (merged,):
            rows = []
            pdf = pdf.sort_values("timestamp_ns")
            for (fp, bucket, _ck), grp in pdf.groupby(
                ["fingerprint", "timestamp_10m", "ckey"], sort=False
            ):
                for c in cluster_lines(list(grp["string"]), similarity):
                    # fp-free id like the singles path (pattern.go:102)
                    pid = zlib.crc32(" ".join(c.tokens).encode())
                    rows.append(
                        {
                            "fingerprint": int(fp),
                            "timestamp_10m": int(bucket),
                            "tokens": c.tokens,
                            "classes": [token_cost(t) for t in c.tokens],
                            "overall_cost": c.overall_cost,
                            "generalized_cost": c.generalized_cost,
                            "samples_count": c.samples_count,
                            "pattern_id": pid,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    shard_keys = ["fingerprint", "timestamp_10m", "ckey"]

    def _singles(rows: DataFrame) -> DataFrame:
        # Singles projection, exactly-once evaluation by construction:
        # `tokens` has exactly TWO consumers (the output column and the
        # classes transform), `classes` two (output + the overall fold)
        # — CollapseProject keeps non-cheap producers with >1 reference
        # in their own Project, so the split and the 3-rlike classify
        # cascade each run once per row. The pattern id and the
        # emptiness filter deliberately derive from the RAW STRING
        # (whitespace-normalized regexp_replace ≡ concat_ws(" ",
        # tokens); rlike(\S) ≡ size(tokens)>0) so they don't add token
        # consumers — a third reference historically got the split
        # inlined per consumer (the HOF-inlining trap, docs/SCALE.md).
        pid_col = F.crc32(
            F.regexp_replace(
                F.regexp_replace(F.col("string"), r"^\s+|\s+$", ""),
                r"\s+", " ",
            ).cast("binary")
        )
        return (
            rows.filter(F.col("string").rlike(r"\S"))
            .withColumn("tokens", tokens_raw)
            .withColumn("classes", F.transform("tokens", _cost_col))
            .select(
                "fingerprint",
                "timestamp_10m",
                "tokens",
                "classes",
                F.aggregate(
                    F.col("classes"), F.lit(0), lambda a, x: a + x
                ).alias("overall_cost"),
                F.lit(0).alias("generalized_cost"),
                F.lit(1).cast("long").alias("samples_count"),
                pid_col.alias("pattern_id"),
            )
        )

    def _multi(rows: DataFrame, n_multi: int) -> DataFrame:
        # Strategy gate, MEASURED (docs/SCALE.md round-14): the JVM
        # fold wins ~2x warm on small/mixed multi slices by skipping
        # the Python stage; the tight pandas loop wins ~1.6x on
        # massive all-multi corpora where interpreted HOF evaluation
        # per token dominates. Route by the sizing job's observed
        # multi-row count.
        if n_multi <= JVM_FOLD_CAP:
            return _mine_multi_jvm(rows, shard_keys, similarity)
        # multi-line shards re-spread across the full core count (a
        # Python merge-loop stage's cost is per-ROW, so byte-sized
        # AQE coalescing would starve it). The pandas loop
        # re-tokenizes its lines itself: shipping precomputed
        # arrays through Arrow measured SLOWER than the strings.
        return rows.repartition(par, *shard_keys).mapInPandas(
            run, schema=out_schema
        )

    # ONE sizing job, total: scan + regexp_extract + map-side partial
    # agg — the only all-rows exchange ships (key, count) pairs, never
    # full rows (the pre-r13 window sizing shuffled every full row just
    # to learn its shard size; at 100x that shuffle was the profiled
    # ingest pole). Only the MULTI keys (rare) collect; the pure/mixed
    # shape stats ride the SAME pass as observed metrics — the gate's
    # earlier forms (3 jobs; then 1 job collecting the whole ~100k-key
    # size table through py4j) were each the pole of the entry's COLD
    # latency in turn.
    from pyspark.sql import Observation

    obs = Observation()
    key_rows = (
        keyed.groupBy(*shard_keys)
        .count()
        .observe(
            obs,
            F.coalesce(F.sum("count"), F.lit(0)).alias("total_rows"),
            F.coalesce(
                F.sum(F.when(F.col("count") > 1, F.col("count"))),
                F.lit(0),
            ).alias("multi_rows"),
        )
        .filter(F.col("count") > 1)
        .limit(COLLECT_CAP + 1)
        .collect()
    )
    if len(key_rows) > COLLECT_CAP:
        # adversarial key cardinality (not a flush batch): the full-row
        # window path takes over — correct at any scale, one shuffle
        # slower, and never ships an unbounded key set anywhere. (The
        # observed stats are unused here — a tripped LIMIT may stop
        # early and under-count them; below the cap nothing truncates.)
        return _mine_patterns_window(
            keyed, tokens_raw, similarity, out_schema, run, par
        )
    stats = obs.get
    multi_rows = stats["multi_rows"]
    total_rows = stats["total_rows"]

    # Pure corpora skip the split entirely — the overwhelmingly common
    # flush shapes cost ZERO extra scans vs computing blind:
    #   all singleton shards -> pure JVM column algebra, no pandas stage
    #   all multi shards     -> straight to the merge loop, no anti scan
    if multi_rows == 0:
        return _singles(keyed)
    if multi_rows == total_rows and total_rows > 0:
        return _multi(keyed, n_multi=multi_rows)

    # MIXED corpus on an un-materialized input: both branch legs scan
    # it, so lazily persist the narrow projection here (the
    # materialize=True path already did this up front). The miner's
    # input is one bounded flush batch (the reference clusters per push
    # batch, controller.go:71); blocks free when the plan is GC'd.
    if not materialize:
        keyed = keyed.localCheckpoint(eager=False)
    if len(key_rows) <= ISIN_CAP:
        # few multi keys (the common flush): inline them as a literal
        # IN-set on a composite key — a JVM hash-set probe per row in
        # the SAME stage as the block read, no broadcast exchanges, no
        # join nodes (two BroadcastHashJoins measured ~0.15s of pure
        # stage overhead per run at sf0.1)
        lits = [
            f"{r['fingerprint']}\x00{r['timestamp_10m']}\x00{r['ckey']}"
            for r in key_rows
        ]
        composite = F.concat_ws(
            "\x00",
            F.col("fingerprint").cast("string"),
            F.col("timestamp_10m").cast("string"),
            F.col("ckey"),
        )
        return _singles(keyed.filter(~composite.isin(lits))).unionByName(
            _multi(keyed.filter(composite.isin(lits)), n_multi=multi_rows)
        )
    multi_keys = F.broadcast(
        spark.createDataFrame(
            [(r["fingerprint"], r["timestamp_10m"], r["ckey"])
             for r in key_rows],
            "fingerprint long, timestamp_10m long, ckey string",
        )
    )
    return _singles(
        keyed.join(multi_keys, shard_keys, "left_anti")
    ).unionByName(
        _multi(
            keyed.join(multi_keys, shard_keys, "left_semi"),
            n_multi=multi_rows,
        )
    )


# accumulator element: one live cluster of the reference merge loop —
# elems carries (token, ORIGINAL cost) pairs (costs never change on
# merge, pattern.go:46-66), gen/overall the cached cost sums, samples
# the absorbed-line count
_CLUSTER_ACC_T = (
    "array<struct<elems:array<struct<tok:string,cost:int>>,"
    "gen:int,overall:int,samples:bigint>>"
)


def _fold_sql(similarity: float) -> str:
    """The reference merge loop as ONE SQL aggregate() fold over a
    shard's time-sorted `lines` column. A single f-string (not stacked
    pyspark Column calls): the equivalent Column-API construction paid
    ~0.4s of py4j round trips PER PLAN BUILD — measured — and the
    ingest path builds a fresh plan per flush batch; one expr() string
    parses JVM-side in one call.

    Shape: outer aggregate folds lines into the live cluster list;
    the inner aggregate rebuilds that list per line with
    first-match-wins try_merge (ref: pattern.go:155-198), its finish
    lambda appending a fresh cluster when nothing accepted. Lambda
    variables (acc, line, st, c) are bound values — re-reading them is
    free; only the merge condition re-evaluates (twice per cluster:
    once gating the rebuilt element, once feeding the done flag), a
    bounded constant factor, unlike the HOF-inlining trap where a
    PRODUCER expression duplicates per consumer (docs/SCALE.md).
    Merge semantics mirror Pattern.try_merge verbatim: same operand
    order, same float division, costs frozen at first sight, diff
    slots generalized to `<_>`, gen += exactly the newly generalized
    slots' costs. zip_with pads length mismatches with null → poison
    cost so the ratio test fails (the size() guard is the real gate;
    the poison keeps the arithmetic null-free under
    non-short-circuit evaluation)."""
    thresh = repr(1.0 - similarity)
    dc = (
        "aggregate(zip_with(c.elems, line.elems, (m, x) -> "
        "CASE WHEN m IS NULL OR x IS NULL THEN 1000000000 "
        f"WHEN m.tok <> x.tok AND m.tok <> '{GENERALIZED}' THEN m.cost "
        "ELSE 0 END), 0, (a, b) -> a + b)"
    )
    merge_ok = (
        "(size(c.elems) = size(line.elems) AND "
        f"CAST(({dc} + c.gen) AS double) / "
        "CAST(IF(c.overall = 0, 1, c.overall) AS double) "
        f"<= {thresh})"
    )
    merged = (
        "named_struct("
        "'elems', zip_with(c.elems, line.elems, (m, x) -> named_struct("
        f"'tok', IF(m.tok = x.tok OR m.tok = '{GENERALIZED}', m.tok, "
        f"'{GENERALIZED}'), 'cost', m.cost)), "
        f"'gen', c.gen + {dc}, "
        "'overall', c.overall, "
        "'samples', c.samples + CAST(1 AS bigint))"
    )
    fresh = (
        "named_struct('elems', line.elems, 'gen', 0, "
        "'overall', aggregate(line.elems, 0, (a, x) -> a + x.cost), "
        "'samples', CAST(1 AS bigint))"
    )
    return (
        "aggregate(lines, "
        f"CAST(array() AS {_CLUSTER_ACC_T}), "
        "(acc, line) -> IF(size(line.elems) = 0, acc, "
        "aggregate(acc, "
        f"named_struct('out', CAST(array() AS {_CLUSTER_ACC_T}), "
        "'done', false), "
        "(st, c) -> named_struct("
        f"'out', concat(st.out, array(IF(st.done OR NOT {merge_ok}, c, "
        f"{merged}))), "
        f"'done', st.done OR {merge_ok}), "
        f"st -> IF(st.done, st.out, concat(st.out, array({fresh}))))))"
    )


def _mine_multi_jvm(
    rows: DataFrame, shard_keys: list[str], similarity: float
) -> DataFrame:
    """The reference merge loop as a pure-JVM fold per shard — no
    Python worker, no Arrow transfer (VERDICT r13 task 2; the same
    aggregate-fold reformulation killed holt_winters' pandas overhead,
    BASELINE.md r3). Clustering is a linear recurrence over a shard's
    time-ordered lines, expressed as sort_array(collect_list(line))
    per (fingerprint, bucket, ckey) group — the same single full-row
    shuffle the pandas path pays for its repartition — folded by the
    nested SQL higher-order functions in _fold_sql.

    MEASURED CROSSOVER (docs/SCALE.md round-14): on small/mixed multi
    slices (the real-world flush and fixture shapes) this wins ~2×
    warm over mapInPandas by skipping the Python stage entirely; on
    massive ALL-multi corpora (the adversarial 100× ingest probe, 1M
    multi rows) the tight pandas loop wins ~1.6× — interpreted HOF
    evaluation costs more per token than CPython on big shards, and
    the exchange ships token+cost arrays instead of raw strings.
    mine_patterns therefore routes by the sizing job's observed
    multi-row count (_JVM_FOLD_CAP); this function stays correct at
    any scale.

    100 TB shape: one hash exchange on the shard key (the minimum any
    grouping pays), fold runs partition-local, per-shard state bounded
    by per-key line volume exactly like the pandas twin. Parity is
    pinned by test_patterns' differential suite (JVM vs pandas vs
    driver-side reference clustering) and the patterns_mine_exact
    closed-form oracle."""
    tokens_col = F.filter(F.split("string", r"\s+"), lambda t: t != "")
    elems_col = F.zip_with(
        tokens_col,
        F.transform(tokens_col, _cost_col),
        lambda t, c: F.struct(t.alias("tok"), c.alias("cost")),
    )
    grouped = (
        rows.withColumn("elems", elems_col)
        .groupBy(*shard_keys)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("timestamp_ns", "elems"))
            ).alias("lines")
        )
    )
    out_tokens = F.col("c.elems").getField("tok")
    return grouped.select(
        "fingerprint",
        "timestamp_10m",
        F.explode(F.expr(_fold_sql(similarity))).alias("c"),
    ).select(
        "fingerprint",
        "timestamp_10m",
        out_tokens.alias("tokens"),
        # classes re-classify the FINAL tokens (generalized slots score
        # as plain words), mirroring the pandas emitter's token_cost()
        # over c.tokens
        F.transform(out_tokens, _cost_col).alias("classes"),
        F.col("c.overall").alias("overall_cost"),
        F.col("c.gen").alias("generalized_cost"),
        F.col("c.samples").alias("samples_count"),
        F.crc32(F.concat_ws(" ", out_tokens).cast("binary")).cast(
            "long"
        ).alias("pattern_id"),
    )


def _mine_patterns_window(
    keyed: DataFrame, tokens_raw, similarity: float, out_schema: str,
    run, par: int,
) -> DataFrame:
    """Adversarial-cardinality fallback: the pre-r13 full-row window
    sizing (count().over(shard window)). Pays one all-rows shuffle but
    never broadcasts — correct when the multi-key set itself is too
    large to ship to every executor."""
    prepared = keyed.withColumn("tokens", tokens_raw).withColumn(
        "classes", F.transform("tokens", _cost_col)
    )
    w = Window.partitionBy("fingerprint", "timestamp_10m", "ckey")
    sized = prepared.withColumn("__n", F.count(F.lit(1)).over(w))
    overall_col = F.aggregate(F.col("classes"), F.lit(0), lambda a, x: a + x)
    pid_col = F.crc32(F.concat_ws(" ", F.col("tokens")).cast("binary"))
    singles = (
        sized.filter(F.col("__n") == 1)
        .filter(F.size("tokens") > 0)
        .select(
            "fingerprint",
            "timestamp_10m",
            "tokens",
            "classes",
            overall_col.alias("overall_cost"),
            F.lit(0).alias("generalized_cost"),
            F.lit(1).cast("long").alias("samples_count"),
            pid_col.alias("pattern_id"),
        )
    )
    multi = (
        sized.filter(F.col("__n") > 1)
        .drop("__n", "tokens", "classes")
        .repartition(par, "fingerprint", "timestamp_10m", "ckey")
        .mapInPandas(run, schema=out_schema)
    )
    return singles.unionByName(multi)


def stream_mine_patterns(
    samples_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    similarity: float = 0.6,
    bucket_ns: int = 600_000_000_000,
    trigger_seconds: int = 5,
):
    """Streaming pattern mining: the reference clusters at ingest and
    flushes per 10m bucket (ref: writer/pattern/controller/
    controller.go:71,132,187). Here each micro-batch is mined and the
    clusters appended to the patterns table — per-batch clustering of a
    bucket shard merges at read time via read_patterns, matching the
    reference's iteration_id/argMax merge model."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from gigapipe_spark.storage.writer import store_write_lock

        # same _temporary staging-dir discipline as the batch fan-outs:
        # a concurrent gateway push must not overlap this append.
        # EXACTLY-ONCE under replay: foreachBatch re-runs the last
        # uncommitted micro-batch after a restart; writing each batch
        # into its own __batch partition with dynamic partition
        # overwrite makes the replay overwrite itself instead of
        # double-appending (the standard Spark idempotent-foreachBatch
        # idiom; the ingest-fan-out path gets the same property from
        # the batch journal's applied markers, storage/journal.py)
        with store_write_lock(os.path.dirname(out_path)):
            (
                mine_patterns(batch_df, similarity, bucket_ns)
                .withColumn("__batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch")
                .parquet(out_path)
            )

    return (
        samples_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def stateful_mine_patterns(
    samples_stream: DataFrame,
    similarity: float = 0.6,
    shards: int = 256,
    idle_evict_ns: int = 300_000_000_000,
) -> DataFrame:
    """Cross-batch ONLINE clustering via applyInPandasWithState — the
    true streaming twin of the reference's resident controller state
    (ref: writer/pattern/controller/controller.go:71-187: clusters live
    in memory across requests and keep absorbing lines until flush).

    Logical clustering key is (fingerprint, first word), like the
    reference's shard map — but the STATE key is a hash SHARD of it.
    Keying state directly by (fingerprint, ckey) is the classic
    applyInPandasWithState per-key trap: at 30× the r8 probe saw 225k
    tiny Python state groups, each paying its own pandas frame +
    state (de)serialization round-trip, a 14.2× cost blow-up. One
    shard's state holds the cluster table for MANY logical keys, so
    the per-invocation Python overhead amortizes and the group count
    is capped at `shards` regardless of series cardinality. Output mode
    `update`: each batch re-emits the logical keys it touched with
    refreshed counts.

    State BYTES are bounded by idle eviction, mirroring the reference's
    cleanup: its controller ticks Cleanup every 30s and drops clusters
    untouched for 5 minutes (writer/pattern/controller/controller.go:
    118-131 RunCleanup, clustering/pattern.go:306-313 `time.Since(
    lastFlush) > time.Minute*5`), so the resident map holds only
    RECENTLY-ACTIVE clusters while the patterns TABLE keeps the full
    history. Here each cluster carries a last-seen event timestamp and
    a per-shard event-time high-water mark; clusters idle for more than
    `idle_evict_ns` (default 5m, the reference's horizon) are dropped
    from state at the end of each batch. Counts were already emitted on
    every touch (`update` mode), so eviction loses no output — exactly
    the reference's flush-then-forget contract. Under series churn the
    state size tracks the live-horizon working set instead of growing
    monotonically with every key ever seen.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    first_word = F.element_at(
        F.filter(F.split("string", r"\s+"), lambda w: w != ""), 1
    )
    prepared = samples_stream.filter(F.col("string") != "").select(
        "fingerprint",
        F.coalesce(first_word, F.lit("")).alias("ckey"),
        F.col("string"),
        F.coalesce(F.col("timestamp_ns"), F.lit(0)).alias("__ts"),
        F.pmod(F.xxhash64("fingerprint", F.coalesce(first_word, F.lit(""))),
               F.lit(shards)).alias("shard"),
    )

    out_schema = (
        "fingerprint long, ckey string, pattern string, "
        "overall_cost int, generalized_cost int, samples_count long"
    )
    state_schema = "clusters string"

    def fn(key, pdfs: Iterator[pd.DataFrame], state):
        import json

        # shard state: {"now": hw_ts, "rows": [{"f": fp, "k": ckey,
        # "cl": [{t,c,n,ls}, …]}, …]} — ls = cluster last-seen event ts
        table: dict[tuple[int, str], list[Pattern]] = {}
        high_water = 0
        if state.exists:
            (raw,) = state.get
            obj = json.loads(raw)
            high_water = int(obj.get("now", 0))
            for ent in obj["rows"]:
                cl = []
                for item in ent["cl"]:
                    p = Pattern.__new__(Pattern)
                    p.tokens = item["t"]
                    p.costs = item["c"]
                    p.samples_count = item["n"]
                    p.last_seen = int(item.get("ls", 0))
                    cl.append(p)
                table[(int(ent["f"]), ent["k"])] = cl
        # materialize the shard's batch once (one hash-group of one
        # micro-batch) so eviction can run BEFORE merging: the
        # reference's Cleanup ticks on a wall clock independent of
        # arrivals — a cluster idle past the horizon is gone even if
        # the very next line would have matched it, which then starts
        # a FRESH cluster (controller.go:118-131 + pattern.go:306-313)
        chunks = [
            pdf[["fingerprint", "ckey", "string", "__ts"]] for pdf in pdfs
        ]
        for pdf in chunks:
            m = pdf["__ts"].max()
            if pd.notna(m):
                high_water = max(high_water, int(m))
        floor = high_water - idle_evict_ns
        for lk in list(table):
            kept = [
                c for c in table[lk] if getattr(c, "last_seen", 0) >= floor
            ]
            if kept:
                table[lk] = kept
            else:
                del table[lk]
        touched: set[tuple[int, str]] = set()
        for pdf in chunks:
            for fp, ck, line, ts in zip(
                pdf["fingerprint"], pdf["ckey"], pdf["string"], pdf["__ts"]
            ):
                tokens = line.split()
                if not tokens:
                    continue
                ts = int(ts)
                lk = (int(fp), ck)
                clusters = table.setdefault(lk, [])
                touched.add(lk)
                for c in clusters:
                    if c.try_merge(tokens, similarity):
                        c.last_seen = max(getattr(c, "last_seen", 0), ts)
                        break
                else:
                    fresh = Pattern(tokens)
                    fresh.last_seen = ts
                    clusters.append(fresh)
        rows = [
            {
                "fingerprint": fp,
                "ckey": ck,
                "pattern": " ".join(c.tokens),
                "overall_cost": c.overall_cost,
                "generalized_cost": c.generalized_cost,
                "samples_count": c.samples_count,
            }
            for (fp, ck) in sorted(touched)
            for c in table[(fp, ck)]
        ]
        state.update(
            (
                json.dumps(
                    {
                        "now": high_water,
                        "rows": [
                            {
                                "f": fp,
                                "k": ck,
                                "cl": [
                                    {
                                        "t": c.tokens,
                                        "c": c.costs,
                                        "n": c.samples_count,
                                        "ls": getattr(c, "last_seen", 0),
                                    }
                                    for c in cl
                                ],
                            }
                            for (fp, ck), cl in table.items()
                        ],
                    }
                ),
            )
        )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "fingerprint", "ckey", "pattern",
                    "overall_cost", "generalized_cost", "samples_count",
                ],
            )

    return prepared.groupBy("shard").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def read_patterns(patterns: DataFrame) -> DataFrame:
    """Simple read-side rollup: pattern string + totals (the shaping
    patterns_response wraps with the reference's full response
    contract; kept for stats-style callers and tests)."""
    return (
        patterns.withColumn("pattern", F.concat_ws(" ", "tokens"))
        .groupBy("pattern")
        .agg(
            F.sum("samples_count").alias("samples_count"),
            F.countDistinct("fingerprint").alias("n_streams"),
        )
    )


def build_pattern(tokens) -> Column:
    """buildPattern (reader/service/query_range.go:366-377): join the
    token array into the display pattern, collapsing CONSECUTIVE <_>
    wildcards into one (our tokens are whitespace-split, so the join
    separator is a space; the reference's lexer keeps separator tokens
    inline and joins with none). One JVM fold, no UDF."""
    tokens = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.aggregate(
        tokens,
        F.struct(F.lit("").alias("s"), F.lit("").alias("prev")),
        lambda acc, t: F.struct(
            F.when(
                (t == GENERALIZED) & (acc["prev"] == GENERALIZED), acc["s"]
            )
            .otherwise(
                F.when(acc["s"] == "", t).otherwise(
                    F.concat_ws(" ", acc["s"], t)
                )
            )
            .alias("s"),
            t.alias("prev"),
        ),
        lambda acc: acc["s"],
    )


def patterns_response(
    patterns: DataFrame,
    fps: DataFrame | None = None,
    start_ns: int | None = None,
    end_ns: int | None = None,
    step_ns: int = 15_000_000_000,
    limit: int = 100,
) -> DataFrame:
    """/loki/api/v1/patterns response shaping (ref:
    planner_patterns.go:14-48 + QueryPatterns/scan/buildPattern,
    reader/service/query_range.go:299-377): scope the patterns table to
    the selector's fingerprints and the [start, end] window (the
    coarse timestamp_10m prune is the partition-level filter), pregroup
    per (pattern_id, step-bucketed second) summing samples_count with
    latest-flush tokens (argMax(tokens, iteration_id) — our per-flush
    rows version by flush bucket), regroup per pattern into a SORTED
    (timestamp_s, count) samples array, keep patterns whose total count
    exceeds 1, order by total descending, limit.

    Returns (pattern, samples, total): samples is
    array<struct<timestamp_s long, count long>>; `total` rides along
    for stats callers, the HTTP layer serializes pattern+samples."""
    df = patterns
    if fps is not None:
        df = df.join(F.broadcast(fps), "fingerprint", "left_semi")
    if start_ns is not None:
        df = df.filter(
            F.col("timestamp_10m")
            >= start_ns - (start_ns % 600_000_000_000)
        )
    if end_ns is not None:
        df = df.filter(F.col("timestamp_10m") <= end_ns)
    step_s = max(step_ns // 1_000_000_000, 1)
    ts_s = (F.col("timestamp_10m") / 1_000_000_000).cast("long")
    pre = df.groupBy(
        "pattern_id",
        (ts_s - F.pmod(ts_s, F.lit(step_s))).alias("timestamp_s"),
    ).agg(
        F.sum("samples_count").cast("long").alias("count"),
        F.max_by("tokens", "timestamp_10m").alias("tokens"),
        F.max("timestamp_10m").alias("__ver"),
    )
    return (
        pre.groupBy("pattern_id")
        .agg(
            F.max_by("tokens", "__ver").alias("tokens"),
            F.sort_array(
                F.collect_list(F.struct("timestamp_s", "count"))
            ).alias("samples"),
            F.sum("count").cast("long").alias("total"),
        )
        .filter(F.col("total") > 1)
        .orderBy(F.col("total").desc(), "pattern_id")
        .limit(limit)
        .select(
            build_pattern("tokens").alias("pattern"), "samples", "total"
        )
    )
