"""Similarity search over embedding columns (array<float>).

Not in the reference's surface (4store has no vector ops); these are the
ANN primitives a training-data pipeline needs, designed for the 100 TB /
1000-executor case:

- brute-force cosine top-k: broadcast the (small) query set, one pass over
  the corpus, per-partition partial top-k via window rank — the exact
  baseline;
- LSH-bucketed ANN (random hyperplanes): corpus hashed once to signature
  buckets (cheap, column expressions), queries probe only their bucket —
  the shuffle carries bucket keys, not vectors;
- IVF-style coarse quantization: k-means-lite centroids chosen
  deterministically, vectors assigned to nearest centroid partition,
  queries probe nprobe partitions.

Dot products use F.zip_with + F.aggregate (JVM, codegen) — no Python in
the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fourstore_spark import layout


def _to_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL, not an ANSI
    # DIVIDE_BY_ZERO crash (nor non-ANSI's NaN that a later long cast
    # would silently zero) — NULL propagates through max/comparisons
    # with the intended "unknowable similarity" semantics
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    queries: (query_id, embedding) — the small side by contract (a query
    set, not a second corpus). It is collected once and shipped in the
    task closure as a dense numpy matrix; the corpus — the 100 TB side —
    never shuffles: each Arrow batch is scored with one float64 GEMM
    (scores = Cn @ Qn.T) and reduced to its per-batch top-k immediately,
    so the only thing that leaves a task is k rows per query per batch.
    A final TopK over that reduced stream gives the global answer.
    Per-batch pruning is safe because the kept k are the best k under the
    exact global order (-score, vec_id): anything dropped is strictly
    worse than k survivors.  A GEMM against a ~1M-row Arrow batch is
    ~100x faster than per-element interpreted array lambdas.
    Output: (query_id, vec_id, score, rank), excluding self-matches.
    """
    import numpy as np
    import pandas as pd

    qid_dt = queries.select(F.col(query_id_col).alias("query_id")).schema[
        "query_id"
    ].dataType.simpleString()
    vid_dt = corpus.select(F.col(id_col).alias("vec_id")).schema[
        "vec_id"
    ].dataType.simpleString()
    scored_schema = f"query_id {qid_dt}, vec_id {vid_dt}, score double"
    # raw storage dtype through collect/Arrow — float64 promotion happens
    # in numpy (vectorized), never as a JVM per-element array transform,
    # and the corpus ships half the bytes when embeddings are float32
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], scored_schema + ", rank int"
        )
    qids = np.array([r["query_id"] for r in qrows])
    Q = np.array([list(r["__qv"]) for r in qrows], dtype="float64")
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = np.nan  # zero query vector: undefined cosine -> no hits
    Qn = Q / qn[:, None]

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.vstack(pdf["__cv"].to_numpy()).astype("float64", copy=False)
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0.0] = np.nan
            S = (C / cn[:, None]) @ Qn.T  # (n, nq)
            out_q, out_v, out_s = [], [], []
            for j in range(len(qids)):
                s = S[:, j]
                ok = np.isfinite(s) & (ids != qids[j])
                idx = np.flatnonzero(ok)
                if not len(idx):
                    continue
                if len(idx) > k:
                    # argpartition to the k best scores, then widen to
                    # every score tied with the k-th so the exact
                    # (-score, vec_id) order decides the boundary
                    part = idx[np.argpartition(-s[idx], k - 1)[:k]]
                    idx = idx[s[idx] >= s[part].min()]
                # exact global tie-break order: (-score, vec_id)
                order = idx[np.lexsort((ids[idx], -s[idx]))][:k]
                out_q.append(np.full(len(order), qids[j]))
                out_v.append(ids[order])
                out_s.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "score": np.concatenate(out_s),
                    }
                )

    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__cv")
    )
    scored = c.mapInPandas(score_batches, scored_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    k: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a < id_b)
    with cosine(a, b) >= threshold.

    Built on the cosine_topk GEMM kernel with the corpus doubling as the
    query side, then thresholded — exact as long as no vector has >= k
    neighbors above the threshold (near-dup neighborhoods are small by
    definition; pick k with headroom).  Exact all-pairs is inherently
    O(n^2): at 100 TB use embedding_neardup (LSH-bucketed, linear
    shuffle) as the scale path and keep this kernel as the verification
    oracle over samples.  Output: (id_a, id_b, cos), cos rounded to 6 dp.
    """
    topk = cosine_topk(
        corpus,
        corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )
    return topk.where(
        (F.col("score") >= threshold) & (F.col("query_id") < F.col("vec_id"))
    ).select(
        F.col("query_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.col("score").alias("cos"),
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy dependency
    at callsite so plans stay reproducible)."""
    state = seed
    planes = []
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature as a bigint bucket id."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bits.append(
            F.when(dot(vec, p) > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    At scale: corpus bucketed once (write-time partition column), queries
    probe single buckets — candidate generation is a bucket-key equi-join.
    """
    from fourstore_spark.operators.util import ensure_parallel

    planes = _hyperplanes(dim, nbits)
    # lsh_bucket's per-plane dot products are row-expensive interpreted
    # array math: spread single-file local corpora first (no-op at scale)
    c = ensure_parallel(corpus).select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__bucket", lsh_bucket(F.col("__cv"), planes))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("__qv"),
    ).withColumn("__bucket", lsh_bucket(F.col("__qv"), planes))
    scored = c.join(F.broadcast(q), "__bucket").where(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id", cosine(F.col("__cv"), F.col("__qv")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def train_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    sample: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic k-means-lite coarse quantizer training.

    Collects a bounded, deterministic sample (lowest ids) to the driver
    and runs a few Lloyd iterations in numpy — at 100 TB the sample is
    still O(sample * dim) on the driver; only assignment is distributed."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    X = np.array([list(r[1]) for r in rows], dtype="float64")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(k, len(X))
    cents = X[:k].copy()  # deterministic seeding: first-k sample vectors
    for _ in range(iters):
        sims = X @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return [[float(x) for x in c] for c in cents]


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF probe search: score each query only against the corpus cells of
    its nprobe nearest centroids.

    At scale the corpus is *written* partitioned by ``ivf_cell`` so a
    probe is a partition-pruned scan; here the cell equi-join carries
    (cell, query) pairs — nprobe/|cells| of the brute-force work. With
    nprobe = len(centroids) this degrades gracefully to exact search
    (same results as cosine_topk)."""
    c = ivf_assign(corpus, centroids, id_col, vec_col).select(
        "vec_id", _to_double(F.col(vec_col)).alias("__cv"), "ivf_cell"
    )
    return _ivf_score(c, queries, centroids, k, nprobe, vec_col,
                      query_id_col)


def _ivf_score(
    c: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Score PRE-ASSIGNED corpus rows (vec_id, __cv, ivf_cell) against
    each query's nprobe cells. Split out of ivf_search so
    ivf_probe_indexed can reuse the cell labels stored in the index's
    partition column instead of re-running the |centroids|-cosine
    assignment over the pruned scan at query time."""
    nprobe = min(nprobe, len(centroids))
    qv = _to_double(F.col(vec_col))
    probes = _probe_cells(qv, centroids, nprobe)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        qv.alias("__qv"),
        F.explode(F.transform(probes, lambda p: p["i"])).alias("ivf_cell"),
    )
    scored = c.join(F.broadcast(q), "ivf_cell").where(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id", cosine(F.col("__cv"), F.col("__qv")).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("score", 6).alias("score"), "rank")
    )


def _probe_cells(qv: Column, centroids: list[list[float]],
                 nprobe: int) -> Column:
    """array<struct<s,i>> of a query's nprobe nearest cells, best first
    (ties toward the higher cell index, matching ivf_assign). The ONE
    probe-selection expression — ivf_search scores with it and
    ivf_probe_indexed prunes with it, so the pruned scan can never drop
    a cell the search would probe (ADVICE r9: a driver-side numpy
    re-computation ordered near-tie centroid scores differently)."""
    cells = F.array(
        *[
            F.struct(
                cosine(qv, F.array(*[F.lit(x) for x in cen])).alias("s"),
                F.lit(i).alias("i"),
            )
            for i, cen in enumerate(centroids)
        ]
    )
    return F.slice(F.reverse(F.array_sort(cells)), 1, nprobe)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    centroids are small and inlined as literals; assignment is a pure
    column expression (argmin over centroid dots) — the partition column
    for a write-time layout.  ``round_to`` rounds the cosine before the
    argmax so an oracle computing the same rounded scores picks the same
    cell (ties break toward the HIGHER cell index on both sides)."""
    v = _to_double(F.col(vec_col))

    def score(cen: list[float]) -> Column:
        s = cosine(v, F.array(*[F.lit(x) for x in cen]))
        return F.round(s, round_to) if round_to is not None else s

    cells = F.array(
        *[
            F.struct(score(cen).alias("s"), F.lit(i).alias("i"))
            for i, cen in enumerate(centroids)
        ]
    )
    best = F.array_max(cells)  # struct order: score first, then cell id
    return corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col),
        best["i"].alias("ivf_cell"),
    )


def kcenter_select(
    corpus: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_k: int = 1024,
) -> list[tuple]:
    """Greedy k-center (farthest-point-first) diversity selection over
    an embedding column — the coreset/exemplar-picking step of
    embedding-driven curation (pick k maximally-dissimilar documents
    as cluster seeds, eval anchors, or annotation exemplars; Gonzalez
    1985's 2-approximation).

    Cosine flavor: the next pick is the vector with the SMALLEST
    maximum cosine similarity to everything already selected (ties
    break toward the lower id; the seed is the lowest id — fully
    deterministic). Returns [(id, sel_order, max_cos_micro_at_pick)]
    with the integer micro-quantized similarity at selection time
    (order-invariant: per-candidate max over <= k selected vectors,
    never a float accumulation).

    100 TB shape: k passes, each one narrow argmin over the corpus
    (ORDER BY + LIMIT 1 — Spark's TakeOrdered, no full sort) plus a
    column update against ONE broadcast-literal vector; the running
    max-cosine state rides in a localCheckpointed column so iteration
    i never recomputes the i-1 earlier cosines. Cost is k corpus
    scans — right for tens-to-hundreds of exemplars (``max_k``
    guards), not for k ~ corpus size (use kmeans_fit there)."""
    if k > max_k:
        raise ValueError(
            f"k={k} > max_k={max_k}: k-center costs one corpus pass "
            "per pick — for large k use kmeans_fit and take cluster "
            "representatives"
        )
    if k <= 0:
        return []
    state = corpus.select(
        F.col(id_col).alias("vec_id"), _to_double(F.col(vec_col)).alias("__v")
    )
    first = state.orderBy("vec_id").limit(1).collect()
    if not first:
        return []
    NEG = -2_000_000  # below any cos_micro: "nothing selected yet"
    sel = [(first[0]["vec_id"], 0, NEG)]
    vec = [float(x) for x in first[0]["__v"]]
    state = state.withColumn("__maxcos", F.lit(NEG).cast("long"))
    for i in range(1, k):
        cos_micro = F.round(
            cosine(F.col("__v"), F.array(*[F.lit(x) for x in vec]))
            * 1_000_000.0,
            0,
        ).cast("long")
        state = state.withColumn(
            "__maxcos",
            F.greatest(F.col("__maxcos"), F.coalesce(cos_micro, F.lit(NEG))),
        )
        # truncate lineage: each iteration otherwise stacks another
        # |dim|-literal cosine onto an ever-deeper plan
        state = state.localCheckpoint()
        nxt = (
            state.where(~F.col("vec_id").isin([s[0] for s in sel]))
            .orderBy(F.col("__maxcos").asc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not nxt:
            break  # corpus exhausted before k picks
        sel.append((nxt[0]["vec_id"], i, int(nxt[0]["__maxcos"])))
        vec = [float(x) for x in nxt[0]["__v"]]
    return sel


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[list[float]]:
    """Fully-distributed spherical k-means (Lloyd's): unlike
    ``train_centroids`` (bounded driver sample), every iteration assigns
    the WHOLE corpus and averages per cell cluster-side, so the fit sees
    all 100 TB.

    Per iteration: one scan + one groupBy(cell) carrying ``dim`` partial
    means (map-side combined) — the corpus never collects; only the
    (k × dim) centroid table returns to the driver to become the next
    round's literals.  Seeding is deterministic (the k smallest ids),
    empty cells keep their previous centroid, and each mean is
    L2-normalized (cosine geometry, matching train_centroids).
    """
    import numpy as np

    # decode/normalize the vector table ONCE per fit (r13, guide §5):
    # every iteration previously re-derived its assignment from the raw
    # corpus — ``iters`` (+2 for the dim probe and seeding) full parquet
    # scans and vec->double decodes where one suffices. The checkpoint
    # is the narrow (id, double[]) projection only; values are identical
    # (the same cast was applied inside each iteration before).
    base = corpus.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias(vec_col)
    ).localCheckpoint()
    if dim is None:
        dim = base.select(F.size(F.col(vec_col))).first()[0]
    seed_rows = (
        base.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    cents = np.array([list(r[1]) for r in seed_rows], dtype="float64")
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    k = len(cents)
    for _ in range(iters):
        assigned = ivf_assign(
            base, [[float(x) for x in c] for c in cents], id_col, vec_col
        )
        v = _to_double(F.col(vec_col))
        means = (
            assigned.groupBy("ivf_cell")
            .agg(*[F.avg(v[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        for row in means:
            m = np.array([row[f"m{i}"] for i in range(dim)], dtype="float64")
            n = np.linalg.norm(m)
            if n > 1e-12:
                cents[row["ivf_cell"]] = m / n
    return [[float(x) for x in c] for c in cents]


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(v_i / s) with
    s = max|v| / 127 — 4x smaller ANN storage (the standard first step
    before IVF/PQ indexing at 100 TB; recall loss at int8 is negligible
    for cosine).  Rounding is floor(x + 0.5) (ties toward +inf) so the
    same arithmetic is expressible in any engine; all-zero vectors get
    scale 0 and an all-zero code.

    Pure column expressions (transform/array_max) — zero shuffle, runs
    in the scan projection.  Output: (id, qvec tinyint[], scale).
    Reconstruction: v ~ q * scale (|error| <= scale/2 per element,
    verified by the round-trip test).
    """
    v = _to_double(F.col(vec_col))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    s = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(amax > 0, F.transform(
        v, lambda x: F.floor(x / s + F.lit(0.5)).cast("tinyint")
    )).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.select(
        F.col(id_col), q.alias("qvec"), s.alias("scale")
    )


def dequantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    qvec_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Inverse of quantize_embeddings: v ~ q * scale (float32 array)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col),
            lambda x: (x.cast("double") * F.col(scale_col)).cast("float"),
        ).alias("embedding"),
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k:
    (query_id, n_exact, n_hits, recall_micro).

    The standard index-quality gauge (recall@k) for tuning nprobe/nbits/
    int8 against the brute-force baseline. Both inputs are top-k result
    sets (k rows per query), so every join here is query-set-sized —
    the evaluation never touches the corpus. recall_micro is the exact
    integer round(n_hits / n_exact * 1e6) (hash-stable surface)."""
    e = exact.select(
        F.col(query_id_col).alias("query_id"), F.col(id_col).alias("vec_id")
    )
    a = approx.select(
        F.col(query_id_col).alias("query_id"), F.col(id_col).alias("vec_id")
    )
    hits = (
        e.join(a, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        e.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            n_hits.alias("n_hits"),
            F.round(n_hits / F.col("n_exact") * 1_000_000.0, 0)
            .cast("long")
            .alias("recall_micro"),
        )
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout the ivf_search docstring promises: the
    corpus written partitioned by ``ivf_cell`` (one directory per cell,
    probes become partition-PRUNED scans that never open non-probed
    cells' files), with the centroids in a JSON sidecar so the index is
    self-describing. One exchange on the cell key at write time buys
    nprobe/|cells| I/O on every query after."""
    import os

    layout.write_partitioned(
        ivf_assign(corpus, centroids, id_col, vec_col), path, "ivf_cell"
    )
    layout.write_json(
        os.path.join(path, "_ivf_centroids.json"), {"centroids": centroids}
    )


def read_ivf_index(spark, path: str):
    """(corpus DataFrame with ivf_cell partition column, centroids)."""
    return spark.read.parquet(path), _ivf_centroids(path)


def _ivf_centroids(path: str) -> list:
    import os

    side = layout.read_json(os.path.join(path, "_ivf_centroids.json"))
    return side["centroids"]


def ivf_probe_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a written IVF index: compute each query's nprobe nearest
    cells with the SAME `_probe_cells` expression ivf_search scores
    with (a query-set-sized Spark job — centroids are literals), scan
    ONLY those partitions (the cell filter prunes at the parquet
    source — assert PartitionFilters in .explain), then score the
    pruned rows using the CELL LABELS FROM THE PARTITION COLUMN — the
    assignment was paid once at write time, so query time never
    re-evaluates the |centroids|-cosine argmax over the scanned rows
    (the other half of what the written index buys besides pruned
    I/O). Results are identical to ivf_search over the full corpus BY
    CONSTRUCTION: the prune set is the union of exactly the cells the
    search's own probe expression selects, so near-tie centroid scores
    can never order differently between pruning and probing."""
    corpus, centroids = read_ivf_index(spark, path)
    nprobe = min(nprobe, len(centroids))
    probes = _probe_cells(_to_double(F.col(vec_col)), centroids, nprobe)
    probe = sorted(
        r["c"]
        for r in queries.select(
            F.explode(F.transform(probes, lambda p: p["i"])).alias("c")
        )
        .distinct()
        .collect()
    )
    pruned = corpus.where(
        F.col("ivf_cell").isin(probe) if probe else F.lit(False)
    )
    c = pruned.select(
        "vec_id",
        _to_double(F.col(vec_col)).alias("__cv"),
        F.col("ivf_cell").cast("int"),
    )
    return _ivf_score(c, queries, centroids, k, nprobe, vec_col,
                      query_id_col)


def append_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add NEW vectors to a written IVF index — O(delta),
    standard IVF maintenance: the coarse quantizer (centroid set in the
    sidecar) stays FIXED, new vectors are assigned to their nearest
    existing cell and appended to that cell's partition directory.
    Probe results afterwards equal a full rebuild with the same
    centroids (equality-tested) — cell recall degrades only as far as
    the data distribution drifts from the trained centroids, at which
    point retrain + rewrite (write_ivf_index) is the answer.

    Caller contract mirrors append_bm25_index: appended ids must be
    new; one writer at a time."""
    layout.write_partitioned(
        ivf_assign(corpus, _ivf_centroids(path), id_col, vec_col),
        path,
        "ivf_cell",
        mode="append",
    )


def compact_ivf_index(spark, path: str) -> None:
    """Small-files maintenance for an append-heavy IVF index (the
    compact_bm25_index discipline applied to the cell layout): every
    append adds one parquet file per touched cell directory, so after
    many appends a probe opens many small files per pruned cell.
    Compaction rewrites the corpus back to one file set per cell —
    same rows, same cell labels, same sidecar centroids; probe results
    are identical before and after (equality-tested). Swap and crash
    recovery as in ``layout``."""
    layout.rewrite(spark, path, "ivf_cell")
