"""Scale probe: replicate the sf0.1 tables F-fold (fresh series ids per
copy, perturbed doc text so no cross-copy near-dups) and measure how the
headline operators scale from 1x to Fx. The point is the RATIO: an
operator whose runtime grows ~linearly with data (and stays flat per
row) holds its plan shape at scale; a super-linear ratio is a red flag
the small-SF bench can't see.

Usage: python scripts/scaleprobe.py [factor] [sf_dir]
Writes the replicated tables under /tmp/gigapipe_scaleprobe_{factor}x
(reused if present) and prints one JSON line per query:
{"query": ..., "sec_1x": ..., "sec_Fx": ..., "ratio": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def replicate(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(os.path.join(out_dir, "events.parquet")):
        return
    os.makedirs(out_dir, exist_ok=True)
    copies = spark.range(factor).withColumnRenamed("id", "__copy")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    (
        ev.crossJoin(copies)
        .withColumn("user_id", F.col("user_id") + F.col("__copy") * 1_000_000)
        .drop("__copy")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("__copy") * 1_000_000)
        # interleave a per-copy token between EVERY pair of words: every
        # word 3-gram then contains the copy token, so copies share NO
        # shingles (a mere prefix token leaves cross-copy jaccard ~0.67
        # — the corpus becomes 5k genuine 100-doc near-dup cliques and
        # the pair OUTPUT itself is quadratic; correct, but it measures
        # the data, not the operator)
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"),
                " ",
                F.concat(F.lit(" c"), F.col("__copy").cast("string"), F.lit(" ")),
            ),
        )
        # newlines too: a trigram spanning a line break would otherwise
        # be SHARED across all copies (df × factor → factor² join rows
        # on that key — measured as a ratio-190 artifact on the
        # containment probe that looked like an operator regression).
        # The newline itself is preserved so paragraph-level probes keep
        # their structure.
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"),
                "\n",
                F.concat(F.lit(" c"), F.col("__copy").cast("string"), F.lit("\n")),
            ),
        )
        .drop("__copy")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    (
        # fresh vec_ids per copy; perturb the last component by the copy
        # index so copies are distinct vectors (no degenerate exact ties)
        emb.crossJoin(copies)
        .withColumn("vec_id", F.col("vec_id") + F.col("__copy") * 1_000_000)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    i == dim - 1,
                    x + F.col("__copy").cast("float") / F.lit(1000.0),
                ).otherwise(x),
            ),
        )
        .drop("__copy")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )
    # orders/lineitem feed the trace views (one trace per order, spans
    # from lineitems — sources/views.spans): bump the order key per copy
    # so every copy mints FRESH trace ids, scaling the span fact table
    # and the ancestor closure with the factor (r11 cont.: without this
    # the traceql family had no scale receipts at all)
    key_bump = F.col("__copy") * 100_000_000
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (
        orders.crossJoin(copies)
        .withColumn("o_orderkey", F.col("o_orderkey") + key_bump)
        .drop("__copy")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    (
        li.crossJoin(copies)
        .withColumn("l_orderkey", F.col("l_orderkey") + key_bump)
        .drop("__copy")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )
    for t in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(src) or os.path.isfile(src):
            spark.read.parquet(src).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{t}.parquet")
            )


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_dir = f"/tmp/gigapipe_scaleprobe_{factor}x"

    from gigapipe_spark.session import get_spark

    spark = get_spark("scaleprobe")
    replicate(spark, sf_dir, out_dir, factor)

    import __spark_entry__ as e

    qs = e.queries()
    probes = [
        "logql_rate",
        "logql_sum_by_count_over_time",
        "logql_selector_scan",
        "promql_rate_counter_resets",
        "promql_instant_sum_by",
        "dedup_minhash_lsh",
        "dedup_exact",
        "dedup_paragraph",
        "text_quality_score",
        "text_repetition_stats",
        "text_gopher_quality",
        "sample_hash",
        "pack_sequences",
        "rollup_metrics_15s",
        "dedup_containment",
        "text_word_entropy",
        "multimodal_bmp_decode",
        "multimodal_wav_features",
        "multimodal_phash_dedup",
        "dedup_semantic_clusters",
        "multimodal_afp_dedup",
        "text_nb_classifier",
        "curate_corpus",
        "contamination_spans",
        "text_corpus_stats",
        "text_trigram_backoff",
        "text_bm25_topk",
        "dedup_span_removal",
        "text_tfidf_keywords",
        # r9: experimental PromQL fns (single-shuffle windows/aggs)
        "promql_topk",
        "promql_limitk",
        "promql_limit_ratio",
        "promql_ts_of_max_over_time",
        "promql_mad_over_time",
        # r11: ANN family after the bounded-fit + Arrow-pass redesign
        # (numpy Lloyd on the capped sample; centroid routing / PQ
        # encode / ADC scoring are narrow numpy mapInPandas passes —
        # ratios must stay ~linear with NO corpus-keyed exchange)
        "sim_cosine_topk",
        "sim_ann_lsh",
        "sim_ann_ivf",
        "sim_ann_pq",
        "dedup_embedding_cosine",
        # r11 cont.: the trace family scales with the replicated
        # orders/lineitem (fresh trace ids per copy) — structural ops
        # exercise the frontier-doubling closure at factor× traces
        "traceql_bitmask_and_or",
        "traceql_descendant",
        "traceql_sibling",
        "traceql_metrics_quantile",
    ]
    if os.environ.get("SCALEPROBE_ONLY"):
        sel = set(os.environ["SCALEPROBE_ONLY"].split(","))
        probes = [p for p in probes if p in sel]

    def run(name: str, d: str) -> float:
        t0 = time.monotonic()
        qs[name](spark, d).count()
        return round(time.monotonic() - t0, 2)

    for name in probes:
        run(name, sf_dir)  # warm caches/JIT for the small side
        s1 = run(name, sf_dir)
        sf_big = run(name, out_dir)
        # second Fx run: steady-state with the session dimension caches
        # built. For most operators warm == first; for the trace family
        # the first run pays one-time view builds (the fixture analog of
        # ingest-maintained stored tables), so the WARM ratio is the
        # operator's actual scaling and sec_Fx − sec_Fx_warm is the
        # build cost. Both are reported; receipts should cite warm.
        sf_warm = run(name, out_dir)
        print(
            json.dumps(
                {
                    "query": name,
                    "factor": factor,
                    "sec_1x": s1,
                    "sec_Fx": sf_big,
                    "sec_Fx_warm": sf_warm,
                    "ratio": round(sf_big / max(s1, 1e-9), 1),
                    "ratio_warm": round(sf_warm / max(s1, 1e-9), 1),
                }
            ),
            flush=True,
        )

    # Boilerplate-heavy containment: every doc carries the same
    # 7-word boilerplate sentence, so its pure-boilerplate shingles
    # have df == corpus size. Without the max_shingle_df cap the
    # equi-join on those keys is D² (quadratic in corpus size); with
    # the cap engaged at BOTH scales the ratio must stay ~linear.
    from pyspark.sql import functions as F

    from gigapipe_spark.datapipe.dedup import containment_pairs

    def boiler_corpus(n_docs: int):
        i = F.col("id").cast("string")
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("terms of service apply all rights reserved u"),
                i, F.lit("a v"), i, F.lit("b w"), i, F.lit("c"),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )

    def run_boiler(n_docs: int) -> float:
        t0 = time.monotonic()
        containment_pairs(boiler_corpus(n_docs), max_shingle_df=10_000).count()
        return round(time.monotonic() - t0, 2)

    if os.environ.get("SCALEPROBE_ONLY") and (
        "dedup_containment_boilerplate_capped" not in sel
    ):
        return
    n1 = 20_000
    run_boiler(n1)  # warm
    s1 = run_boiler(n1)
    sf_big = run_boiler(n1 * factor)
    print(
        json.dumps(
            {
                "query": "dedup_containment_boilerplate_capped",
                "factor": factor,
                "sec_1x": s1,
                "sec_Fx": sf_big,
                "ratio": round(sf_big / max(s1, 1e-9), 1),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
