"""Pattern mining: fixed-corpus cluster tests (FIXTURES.md F8: cluster
count + <_> placement on a fixed corpus) + distributed run."""

from gigapipe_spark.patterns.cluster import (
    GENERALIZED,
    cluster_key,
    cluster_lines,
    mine_patterns,
    read_patterns,
    token_cost,
)


def test_token_costs():
    assert token_cost("199.15.1.2") == 1
    assert token_cost("2024-01-01T10:00:00Z") == 1
    assert token_cost("550e8400-e29b-41d4-a716-446655440000") == 1
    assert token_cost("42") == 1
    assert token_cost("GET") == 2
    assert token_cost("/api/users") == 3
    assert token_cost("connected") == 5


def test_cluster_key_skips_params():
    assert cluster_key("42 connected from 10.0.0.1".split()) == "connected"
    assert cluster_key("GET /api/x 200".split()) == "GET"  # no plain word → first token


def test_merge_generalizes_numbers():
    lines = [
        "user 17 logged in from 10.0.0.1",
        "user 42 logged in from 10.0.0.9",
        "user 58 logged in from 172.16.0.4",
        "disk full on /dev/sda1",
    ]
    clusters = cluster_lines(lines, similarity=0.6)
    assert len(clusters) == 2
    merged = clusters[0]
    assert merged.samples_count == 3
    assert merged.tokens == ["user", GENERALIZED, "logged", "in", "from", GENERALIZED]


def test_dissimilar_lines_stay_separate():
    lines = ["alpha beta gamma delta", "one two three four"]
    clusters = cluster_lines(lines, similarity=0.6)
    assert len(clusters) == 2


def test_merge_rule_threshold():
    # one differing plain word out of 4 (cost 5/20 = 0.25): merges at
    # sim 0.6 (0.25 <= 0.4), not at sim 0.8 (0.25 > 0.2)
    a = "service started on port"
    b = "service stopped on port"
    assert len(cluster_lines([a, b], similarity=0.6)) == 1
    assert len(cluster_lines([a, b], similarity=0.8)) == 2


def test_distributed_mining(spark):
    # all within one 10m flush bucket (600e9 ns) — clustering state is
    # per (fingerprint, bucket), matching the reference's 10m flush
    data = [
        (1, 1_300_000_000_000, "user 17 logged in from 10.0.0.1"),
        (1, 1_350_000_000_000, "user 42 logged in from 10.0.0.9"),
        (1, 1_400_000_000_000, "disk full on /dev/sda1"),
        (2, 1_450_000_000_000, "user 99 logged in from 10.1.1.1"),
    ]
    df = spark.createDataFrame(
        data, "fingerprint long, timestamp_ns long, string string"
    )
    pats = mine_patterns(df, similarity=0.6).cache()
    rows = pats.collect()
    # fingerprint 1: 2 clusters, fingerprint 2: 1 cluster
    by_fp = {}
    for r in rows:
        by_fp.setdefault(r["fingerprint"], []).append(r)
    assert len(by_fp[1]) == 2
    assert len(by_fp[2]) == 1
    merged = [r for r in by_fp[1] if r["samples_count"] == 2][0]
    assert merged["tokens"][1] == GENERALIZED
    agg = read_patterns(pats)
    assert agg.count() == 3


def test_mine_patterns_branch_parity(spark, monkeypatch):
    """All four mine_patterns strategies produce the SAME clusters on
    the same mixed corpus: the isin split (default here: 2 multi keys),
    the broadcast-LocalRelation split (ISIN_CAP forced to 0), the
    full-row window fallback (COLLECT_CAP forced to 0), and the r12
    window shape they all replaced. Pure singles and pure multi pure
    paths are covered by the oracle + probe suites; this pins the
    MIXED-corpus branch equivalence the caps switch between."""
    from pyspark.sql import functions as F

    from gigapipe_spark.patterns import cluster as CL

    rows = []
    t0 = 1_700_000_000_000_000_000
    # two multi shards (same first token, same fp+bucket) + singles
    for i in range(6):
        rows.append((1, t0 + i, f"login user u{i} from site"))
        rows.append((2, t0 + i, f"logout user u{i} early"))
    for i in range(10):
        rows.append((100 + i, t0 + i, f"solo event number {i}"))
    df = spark.createDataFrame(
        rows, "fingerprint long, timestamp_ns long, string string"
    )

    def canon(out):
        return sorted(
            tuple(r)
            for r in out.select(
                "fingerprint", "timestamp_10m",
                F.concat_ws(" ", "tokens").alias("p"),
                "samples_count", "overall_cost", "generalized_cost",
                "pattern_id",
            ).collect()
        )

    base = canon(CL.mine_patterns(df))
    assert len(base) == 12  # 2 merged multi shards + 10 singles
    monkeypatch.setattr(CL, "ISIN_CAP", 0)
    via_broadcast = canon(CL.mine_patterns(df))
    monkeypatch.setattr(CL, "COLLECT_CAP", 0)
    via_window = canon(CL.mine_patterns(df))
    assert base == via_broadcast == via_window


def test_mine_patterns_matches_driver_side_reference(spark):
    """Differential property over randomized corpora: the distributed
    miner (whatever strategy branch it picks) must equal cluster_lines
    applied driver-side per (fingerprint, 10m bucket, first-token)
    shard in timestamp order — the exact reference semantics
    (pattern.go merge loop over the controller's shards). Seeded RNG:
    deterministic, but shaped to hit singles, multi-merge,
    multi-no-merge, and whitespace edge rows in one corpus."""
    import random
    import zlib

    from pyspark.sql import functions as F

    from gigapipe_spark.patterns.cluster import cluster_lines, mine_patterns

    rng = random.Random(1307)
    t0 = 1_700_000_000_000_000_000
    rows = []
    templates = [
        lambda i: f"login user u{i % 4} from 10.0.0.{i % 9} ok",
        lambda i: f"payment of {i * 3} cents failed code {i % 5}",
        lambda i: f"GET /api/v{i % 2}/items {200 + (i % 3)} {i}ms",
        lambda i: "completely different shape " + "x" * (i % 4 + 1),
    ]
    for i in range(300):
        fp = rng.randrange(4)
        tmpl = templates[rng.randrange(len(templates))]
        bucket_jitter = rng.randrange(3) * 600_000_000_000
        rows.append((fp, t0 + bucket_jitter + i * 1_000_000, tmpl(i)))
    rows.append((0, t0, "   "))  # whitespace-only: dropped everywhere
    rows.append((1, t0, ""))  # empty: filtered at the source
    df = spark.createDataFrame(
        rows, "fingerprint long, timestamp_ns long, string string"
    )

    # driver-side reference: shard exactly like the miner, cluster in
    # timestamp order with the same merge loop
    shards: dict = {}
    for fp, ts, line in rows:
        if line == "" or not line.split():
            continue
        bucket = ts - ts % 600_000_000_000
        ckey = line.split()[0]
        shards.setdefault((fp, bucket, ckey), []).append((ts, line))
    expected = []
    for (fp, bucket, _ck), items in shards.items():
        items.sort()
        for c in cluster_lines([line for _, line in items]):
            expected.append((
                fp, bucket, " ".join(c.tokens), c.samples_count,
                c.overall_cost, c.generalized_cost,
                zlib.crc32(" ".join(c.tokens).encode()),
            ))

    got = [
        tuple(r)
        for r in mine_patterns(df).select(
            "fingerprint", "timestamp_10m",
            F.concat_ws(" ", "tokens").alias("p"),
            "samples_count", "overall_cost", "generalized_cost",
            "pattern_id",
        ).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_mine_patterns_jvm_fold_equals_pandas_loop(spark, monkeypatch):
    """r14: the multi branch's JVM aggregate() fold must emit EXACTLY
    what the mapInPandas merge loop emits — full rows including the
    re-classified classes of generalized tokens and the crc32 pattern
    id — on a corpus that exercises merge, no-merge, generalization,
    and whitespace edges. (The pandas loop itself equals the
    driver-side reference, pinned above.)"""
    import random

    from pyspark.sql import functions as F

    from gigapipe_spark.patterns import cluster as CL

    rng = random.Random(14)
    t0 = 1_700_000_000_000_000_000
    rows = []
    for i in range(240):
        fp = rng.randrange(3)
        line = rng.choice([
            f"login user u{i % 7} from 10.0.0.{i % 5} ok",
            f"payment of {i} cents failed code {i % 4}",
            "static line with no params at all",
            f"weird {'x' * (i % 3 + 1)} tail {i}",
        ])
        rows.append((fp, t0 + i * 1_000_000, line))
    rows.append((0, t0 + 999, "  \t "))
    df = spark.createDataFrame(
        rows, "fingerprint long, timestamp_ns long, string string"
    )

    def canon():
        out = CL.mine_patterns(df)
        in_pandas = "MapInPandas" in out._jdf.queryExecution().logical().toString()
        return in_pandas, sorted(
            (
                r["fingerprint"], r["timestamp_10m"], tuple(r["tokens"]),
                tuple(r["classes"]), r["overall_cost"],
                r["generalized_cost"], r["samples_count"], r["pattern_id"],
            )
            for r in out.collect()
        )

    # the size gate routes by the observed multi-row count (at most the
    # corpus size): a cap above it pins the fold, one below it the loop
    monkeypatch.setattr(CL, "JVM_FOLD_CAP", len(rows))
    jvm_pandas, via_jvm = canon()
    monkeypatch.setattr(CL, "JVM_FOLD_CAP", -1)
    loop_pandas, via_pandas = canon()
    assert (jvm_pandas, loop_pandas) == (False, True)
    assert via_jvm == via_pandas
    # the corpus really generalized something (classes re-classify
    # `<_>` slots as plain words — cost 5 — unlike the frozen costs)
    assert any("<_>" in toks for _, _, toks, *_ in via_jvm)
