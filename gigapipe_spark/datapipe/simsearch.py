"""Similarity search over embedding columns (array<float>).

  cosine_topk      brute-force exact top-k: broadcast the (small) query
                   set against the corpus; dot products via zip_with /
                   aggregate — JVM-side, no UDFs. The baseline.
  lsh_ann_topk     random-hyperplane LSH:
                   sign-bit signatures → band buckets → candidates →
                   exact rerank. The scale path: candidate generation is
                   a bucket join, not a cross join. Hyperplanes are
                   derived deterministically from xxhash64(j, d) — no RNG,
                   reproducible across runs/executors.

  ivf_topk         IVF (inverted-file) routing: a coarse k-means
                   quantizer (deterministic init, bounded Lloyd
                   iterations, all DataFrame ops) assigns every vector
                   to a cell; queries probe the nprobe nearest cells and
                   rerank exactly. The classic ANN index shape — recall
                   is tunable via nprobe, candidate cost is
                   corpus/cells × nprobe.

At 100 TB the corpus side stays partitioned; only queries, bucket keys
and the (tiny) centroid table move. Centroid/codebook tables are
dimension-sized CONSTANTS (k × dim doubles — FAISS keeps the same
tables in RAM): they are collected once per fit round and inlined into
the assignment expression, so cell routing / PQ encode / ADC scoring
are NARROW maps over the corpus scan — no join, no shuffle, no
driver-side loop over data rows, at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Vector math as SQL-string expression builders, not Column-API HOFs: a
# Python-lambda higher-order function costs ~12 Py4J round trips to
# build (callback registration per lambda); a plan with a few dozen of
# them spends 1.5-2s of DRIVER time per query in socket chatter alone
# (profiled: 3,183 round trips / 1.7s for one pq_topk plan). One
# F.expr(...) string is one round trip and compiles to the identical
# Catalyst tree, so plan construction drops ~6× with the same physical
# plan. The *_s builders return SQL fragments composable into larger
# single-expr strings; inputs are column names or SQL fragments.


def _dot_s(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _norm_s(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), "
        f"cast(0.0 as double), (acc, x) -> acc + x))"
    )


def _as_double_s(c: str) -> str:
    return f"transform({c}, x -> cast(x as double))"


def _cosine_s(q: str, v: str) -> Column:
    return F.expr(f"{_dot_s(q, v)} / ({_norm_s(q)} * {_norm_s(v)})")


def _as_double(col: str) -> Column:
    return F.expr(_as_double_s(f"`{col}`"))


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Queries are broadcast (small side); per-row cost is one fused
    zip_with/aggregate pass over the vector — whole-stage codegen, no
    Python. Deterministic tiebreak on neighbor id.
    """
    from pyspark.sql import Window

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    joined = base.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = joined.withColumn("cosine", _cosine_s("q", "v"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def _hyperplane_s(j: str, dim: int) -> str:
    """Deterministic pseudo-random ±1 hyperplane `j` (array<double>
    SQL fragment); `j` may itself be an expression (a lambda var)."""
    return (
        f"transform(sequence(0, {dim - 1}), "
        f"d -> CAST(CASE WHEN xxhash64(({j}) * 1048573 + d) % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END AS DOUBLE))"
    )


def signature_col(vec: str, dim: int, n_planes: int = 16) -> Column:
    """n_planes sign bits packed into a long — ONE expression string
    (one Py4J round trip instead of ~n_planes × 14), with the plane
    index `j` kept a LITERAL in each term: a lambda-var j (the obvious
    fold over sequence(0, n_planes-1)) makes every hyperplane
    runtime-computed per (row, plane) — 16 × dim xxhash64 calls per
    row — where literal-j planes constant-fold to arrays once at
    optimization (probed at 30×: the folded form is what keeps the
    signature pass linear-in-rows)."""
    bits = " | ".join(
        f"IF({_dot_s(vec, _hyperplane_s(str(j), dim))} > 0, "
        f"cast({1 << j} as long), cast(0 as long))"
        for j in range(n_planes)
    )
    return F.expr(f"({bits})")


def lsh_ann_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 LSH band with the query,
    then exact cosine rerank. Returns the same schema as cosine_topk."""
    from pyspark.sql import Window

    rows = n_planes // bands
    mask = (1 << rows) - 1
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    ).withColumn("sig", signature_col("v", dim, n_planes))
    banded = base.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * rows)
                        .bitwiseAND(F.lit(mask))
                        .alias("h"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select("vec_id", "v", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    queries = banded.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q"), "band", "h"
    )
    cand = (
        banded.join(F.broadcast(queries), ["band", "h"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.withColumn("cosine", _cosine_s("q", "v"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )



# ---------------------------------------------------------------------------
# IVF / PQ: bounded-sample driver fit + Arrow-vectorized corpus passes.
#
# Design (r11, probe-driven): centroid/codebook tables are index-build
# artifacts over a BOUNDED training sample — FAISS trains k-means on a
# capped in-RAM sample (~256 vectors/centroid), and so does this engine:
# a deterministic hash sample (≤ train_cap rows ≈ dim × 8 bytes × 65536
# ≈ 32 MB) collects to the driver and Lloyd runs in numpy (the same
# bounded-index-build precedent as the BPE vocab build, bpe.py). The
# corpus-touching passes — cell routing, PQ encode, ADC scoring — are
# Arrow mapInPandas over the scan: NARROW (no join, no corpus shuffle at
# any scale, partition-parallel) and numpy-vectorized. Two earlier
# formulations were probed and rejected at 30×: per-row SQL HOF folds
# over inlined centroid literals evaluate interpreted at ~200 ns/element
# (123M fold steps ≈ 27 s where numpy takes ~0.3 s), and broadcast-join
# assignment shuffles corpus-sized intermediates.
# ---------------------------------------------------------------------------


def _np_kmeans(
    subvecs, keys, ids, k: int, iters: int
):
    """Deterministic Lloyd on an in-RAM sample (numpy).

    Seeds = the k rows with the smallest (key, id) — key is Spark's
    xxhash64 of the id, so seed selection matches the engine's previous
    distributed TakeOrdered exactly. Assignment ties keep the lowest
    centroid index; empty cells drop (their cid disappears, like the
    groupBy-based recompute). Returns [(cid, centroid_list)].
    """
    import numpy as np

    order = np.lexsort((ids, keys))
    x = subvecs[order]
    cents = x[:k].copy()
    cids = list(range(len(cents)))
    for _ in range(iters):
        if not len(cents):
            break
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # ties → lowest index
        keep, new = [], []
        for ci in range(len(cents)):
            members = x[assign == ci]
            if len(members):
                keep.append(cids[ci])
                new.append(members.mean(axis=0))
        cents = np.array(new) if new else np.empty((0, x.shape[1]))
        cids = keep
    return [(cid, [float(v) for v in c]) for cid, c in zip(cids, cents)]


def _train_sample(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    train_cap: int,
):
    """Deterministic bounded training sample, collected: rows of
    (id, xxhash64(id), vector-as-double). The hash-threshold filter is
    the same sample the distributed fit used; 0/None disables the cap
    (the exact degenerate config trains on everything — still driver-
    sized in any configuration a correctness oracle runs)."""
    train = embeddings
    if train_cap:
        n = train.count()
        if n > train_cap:
            train = train.filter(
                F.pmod(F.abs(F.xxhash64(F.col(id_col))), F.lit(n))
                < F.lit(train_cap)
            )
    import numpy as np

    rows = train.select(
        F.col(id_col).alias("id"),
        F.xxhash64(F.col(id_col)).alias("key"),
        _as_double(vec_col).alias("v"),
    ).collect()
    ids = np.array([r["id"] for r in rows])
    keys = np.array([r["key"] for r in rows])
    vecs = np.array([r["v"] for r in rows], dtype="float64")
    return ids, keys, vecs


def _cents_df(spark, cents: list, with_sub: int | None = None) -> DataFrame:
    import pyspark.sql.types as T

    if with_sub is None:
        schema = T.StructType(
            [
                T.StructField("cid", T.IntegerType()),
                T.StructField("c", T.ArrayType(T.DoubleType())),
            ]
        )
        return spark.createDataFrame(
            [(int(cid), c) for cid, c in cents], schema
        )
    schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("cid", T.IntegerType()),
            T.StructField("c", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(
        [(int(s), int(cid), c) for s, cid, c in cents], schema
    )


def ivf_fit(
    embeddings: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 65536,
) -> DataFrame:
    """Coarse quantizer: k-means centroids as a (cid, c) DataFrame.

    FAISS-style bounded index build: a deterministic hash sample of the
    corpus (≤ train_cap rows, seeds = smallest xxhash64(id) — identical
    selection to the previous distributed TakeOrdered) collects to the
    driver and Lloyd runs vectorized in numpy. The corpus itself is
    never shuffled, joined, or collected — only the fixed-size training
    slice moves, at any scale."""
    ids, keys, vecs = _train_sample(embeddings, id_col, vec_col, train_cap)
    cents = _np_kmeans(vecs, keys, ids, n_cells, iters)
    return _cents_df(embeddings.sparkSession, cents)


def _assign_cells(
    base: DataFrame, cents: list, out: str = "cid", with_dist: bool = False
) -> DataFrame:
    """corpus (vec_id, v) → + nearest-centroid cid (and optionally the
    squared distance): ONE Arrow mapInPandas pass — narrow, partition-
    parallel, numpy-vectorized; the centroid matrix ships inside the
    serialized closure (k × dim doubles, dimension-sized)."""
    import numpy as np

    if not cents:
        raise ValueError("empty centroid table (fit over an empty corpus)")
    cmat = np.array([c for _, c in cents], dtype="float64")
    cid_of = np.array([cid for cid, _ in cents], dtype="int64")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields
    )
    out_schema += f", {out} int"
    if with_dist:
        out_schema += ", dist double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["v"].tolist(), dtype="float64")
            d = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            pos = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf[out] = cid_of[pos].astype("int32")
            if with_dist:
                pdf["dist"] = d[np.arange(len(x)), pos]
            yield pdf

    return base.mapInPandas(run, schema=out_schema)


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: route every vector to its nearest centroid cell,
    probe the query's `nprobe` nearest cells, exact-cosine rerank the
    candidates. Same output schema as cosine_topk. The fitted centroid
    table is a k × dim constant (an index build, like the reference's
    stored GIN): cell routing is one narrow Arrow pass over the corpus —
    no join, no corpus shuffle; only the tiny probe table and the final
    per-query window move."""
    from pyspark.sql import Window

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    ids, keys, vecs = _train_sample(embeddings, id_col, vec_col, 65536)
    cents = _np_kmeans(vecs, keys, ids, n_cells, iters)
    if not cents:
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double"
        )
    corpus = _assign_cells(base, cents)
    # queries → nprobe nearest cells, probed driver-side against the
    # same constant (the query batch is the request, not the corpus)
    qrows = base.filter(F.col("vec_id").isin(query_ids)).collect()

    def _sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe_rows = []
    for qr in qrows:
        ranked = sorted(
            ((_sqd(qr["v"], c), cid) for cid, c in cents)
        )[:nprobe]
        probe_rows += [(qr["vec_id"], list(qr["v"]), cid) for _, cid in ranked]
    import pyspark.sql.types as T

    probes = base.sparkSession.createDataFrame(
        probe_rows,
        T.StructType(
            [
                T.StructField("query_id", base.schema["vec_id"].dataType),
                T.StructField("q", T.ArrayType(T.DoubleType())),
                T.StructField("cid", T.IntegerType()),
            ]
        ),
    )
    cand = corpus.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn("cosine", _cosine_s("q", "v"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 65536,
) -> DataFrame:
    """Product-quantization codebook: per-subspace k-means centroids as
    one (sub, cid, c) DataFrame (Jégou et al. 2011, "Product
    quantization for nearest neighbor search").

    Bounded index build like ivf_fit: the capped deterministic sample
    collects once and all m subspaces train in numpy (seeds per
    subspace = the k subvectors with the smallest (xxhash64(id), id),
    the previous distributed window's exact selection; assignment ties
    keep the lowest cid; empty cells drop). The codebook stays tiny
    (m × k × dim/m doubles = exactly dim × k). `train_cap` bounds the
    TRAINING set (standard PQ practice — FAISS trains on ~256 vectors
    per centroid); encode remains the only full-corpus pass. 0/None
    disables the cap (the exact degenerate config needs every
    subvector as a seed)."""
    ids, keys, vecs = _train_sample(embeddings, id_col, vec_col, train_cap)
    out = []
    if len(vecs):
        width = vecs.shape[1] // m
        for s in range(m):
            sub = vecs[:, s * width : (s + 1) * width]
            for cid, c in _np_kmeans(sub, keys, ids, k_centroids, iters):
                out.append((s, cid, c))
    return _cents_df(embeddings.sparkSession, out, with_sub=True)


def _codebook_mats(cb_rows: list):
    """Collected (sub, cid, c) rows → (list per sub of (cids array,
    centroid matrix)) keyed by sub index, numpy."""
    import numpy as np

    by_sub: dict[int, list] = {}
    for r in cb_rows:
        by_sub.setdefault(int(r["sub"]), []).append((int(r["cid"]), list(r["c"])))
    mats = {}
    for s, ents in by_sub.items():
        ents.sort()
        mats[s] = (
            np.array([cid for cid, _ in ents], dtype="int64"),
            np.array([c for _, c in ents], dtype="float64"),
        )
    return mats


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → PQ codes (vec_id, sub, code): per subvector, the id of
    its nearest codebook centroid. ONE narrow Arrow pass over the scan
    (no join, no shuffle) — this is the stored index at scale (m small
    ints per vector instead of dim floats, a 16–32× compression),
    built in the same pass that reads the vectors."""
    import numpy as np
    import pandas as pd

    mats = _codebook_mats(codebook.collect())
    if not mats:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, sub int, code int"
        )
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["v"].tolist(), dtype="float64")
            width = x.shape[1] // m
            frames = []
            for s, (cid_of, cmat) in mats.items():
                xs = x[:, s * width : (s + 1) * width]
                d = ((xs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].values,
                            "sub": np.full(len(x), s, dtype="int32"),
                            "code": cid_of[d.argmin(axis=1)].astype("int32"),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(run, schema="vec_id long, sub int, code int")


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    k_centroids: int = 16,
    iters: int = 2,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 65536,
) -> DataFrame:
    """PQ ANN top-k with asymmetric distance (ADC) + exact refine.

    The codebook (dim × k doubles) and the per-query ADC table
    dot(q_sub, centroid) (queries × m × k doubles) are dimension-sized
    constants shipped inside one Arrow closure: candidate scoring —
    encode each subvector + per query sum the table lookups — is ONE
    narrow numpy pass over the corpus scan. The corpus moves through
    exactly one exchange: the per-query shortlist window; the top
    k×refine ADC shortlist is then exact-cosine reranked (the standard
    ADC+refine pipeline). At 100 TB the codes column is the persisted
    index and encode happens at ingest (pq_encode, also narrow).

    With k_centroids ≥ distinct subvectors, every subvector IS a
    centroid, ADC equals the exact dot product, and the result matches
    cosine_topk exactly — the oracle-able degenerate configuration
    (sim_ann_pq_exact)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("v")
    )
    codebook = pq_fit(
        embeddings, m, k_centroids, iters, id_col, vec_col, train_cap
    )
    mats = _codebook_mats(codebook.collect())
    qrows = sorted(
        base.filter(F.col("vec_id").isin(query_ids)).collect(),
        key=lambda r: r["vec_id"],
    )
    if not mats or not qrows:
        return base.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype="int64")
    qmat = np.array([r["v"] for r in qrows], dtype="float64")
    width = qmat.shape[1] // m
    # per-query ADC lookup tables, one [nq, k_s] matrix per sub
    adct = {
        s: qmat[:, s * width : (s + 1) * width] @ cmat.T
        for s, (_cids, cmat) in mats.items()
    }

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["v"].tolist(), dtype="float64")
            scores = np.zeros((len(x), len(qids)))
            for s, (_cids, cmat) in mats.items():
                xs = x[:, s * width : (s + 1) * width]
                d = ((xs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                scores += adct[s][:, d.argmin(axis=1)].T
            n = len(x)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "vec_id": np.repeat(pdf["vec_id"].values, len(qids)),
                    "adc_dot": scores.ravel(),
                }
            )

    adc = base.mapInPandas(
        run, schema="query_id long, vec_id long, adc_dot double"
    ).filter(F.col("vec_id") != F.col("query_id"))
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_dot").desc(), F.col("vec_id").asc()
    )
    shortlist = (
        adc.withColumn("__rn", F.row_number().over(wa))
        .filter(F.col("__rn") <= k * refine)
        .select("query_id", "vec_id")
    )
    # exact rerank on the shortlist only
    cand = (
        shortlist.join(base, "vec_id")
        .join(
            F.broadcast(
                base.filter(F.col("vec_id").isin(query_ids)).select(
                    F.col("vec_id").alias("query_id"), F.col("v").alias("q")
                )
            ),
            "query_id",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("cosine", _cosine_s("q", "v"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
