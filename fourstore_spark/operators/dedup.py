"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (4store dedups only resource rows at import,
src/backend/import-backend.c:74-118); these are the training-data-pipeline
dedup primitives, built scale-first:

- exact dedup:    hash-groupBy — one shuffle on the content hash, map-side
                  combine, no driver involvement;
- MinHash + LSH:  shingle -> minhash signature -> banded bucket join; all
                  signature math is JVM-side higher-order functions
                  (transform/aggregate), candidate pairs come from a
                  self-join on (band, bucket-hash) keys, so the shuffle
                  carries only (band_hash, doc_id) pairs, never the text;
- SimHash:        64-bit sign-of-weighted-sum fingerprint, Hamming-banded;
- char-set Jaccard: exact pairwise verifier (matches DuckDB's jaccard()).

At 100 TB: every operator here shuffles fixed-width keys/signatures (8-516
bytes/doc) rather than documents, and candidate verification joins back to
the corpus by id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fourstore_spark import layout


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per distinct content.

    Equivalent SQL: SELECT MIN(id), content GROUP BY content.
    """
    return df.groupBy(*content_cols).agg(F.min(id_col).alias(id_col)).select(
        id_col, *content_cols
    )


def subtract_corpus(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-corpus exact dedup: drop every row of ``df`` whose
    normalization fingerprint (textstats.fingerprint — 'same modulo
    case/punctuation/whitespace') appears anywhere in ``reference``.
    The standard step when ingesting a new crawl against an existing
    corpus, or keeping a refreshed dump from re-introducing documents
    already curated out.

    100 TB shape: both sides reduce to 32-char fingerprints before any
    join; the reference side deduplicates first (groupBy with map-side
    combine), then a left_anti equi-join — broadcastable whenever the
    reference fingerprint set fits the AQE threshold, a shuffled
    anti-join otherwise; df's payload columns never shuffle twice. (For
    a reference too large even for a shuffle join, swap the exact set
    for a bloom filter — accepting false-positive drops.)
    """
    from fourstore_spark.operators.textstats import fingerprint

    rcol = ref_text_col or text_col
    ref_fps = (
        reference.select(fingerprint(F.col(rcol)).alias("__fp")).distinct()
    )
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col)))
        .join(ref_fps, "__fp", "left_anti")
        .drop("__fp")
    )


def _derived_hash(h1: Column, h2: Column, i: int) -> Column:
    """i-th hash from two base hashes: h1 XOR rotl64(h2, i).

    The double-hashing family (Kirsch–Mitzenmacher; datasketch's universal
    a*h+b is the same idea) with rotate-xor instead of multiply-add so the
    derivation is pure bit ops — no long-overflow concern under ANSI mode,
    and every bit of h2 stays live at every i (a plain shift would decay)."""
    r = i % 64
    if r == 0:
        return h1.bitwiseXOR(h2)
    rot = F.shiftleft(h2, r).bitwiseOR(F.shiftrightunsigned(h2, 64 - r))
    return h1.bitwiseXOR(rot)


def _derived_hash_sql(h1: str, h2: str, i: int) -> str:
    """SQL-string form of _derived_hash, byte-identical semantics.

    The Column form costs ~8 py4j round trips per hash; at num_hashes=32
    the aggregate list alone was ~0.75 s of driver wall per query build
    (cProfile, r12 opt round). One expr() string parses in the JVM in a
    single call — same parsed expression tree, same values (pinned by the
    HOF differential in tests/test_fuzz_dedup.py)."""
    r = i % 64
    if r == 0:
        return f"({h1} ^ {h2})"
    return f"({h1} ^ (shiftleft({h2}, {r}) | shiftrightunsigned({h2}, {64 - r})))"


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """Per-document MinHash signature: (__id, __h0..__h{n-1}).

    Signatures via explode + hash-aggregate, NOT array higher-order
    functions: lambda bodies inside transform/aggregate are interpreted
    per element, while explode + min(xxhash64(...)) stays in whole-stage
    codegen end-to-end (measured 3x on the sf0.1 corpus). The shuffle
    carries only partial min-hash rows (map-side combine), never
    shingles. Double hashing: 2 xxhash64 per shingle, hash_i derived by
    rotate-xor (_derived_hash) — num_hashes/2 x less hash work than
    independent seeded hashes, same LSH geometry. The HOF formulation
    lives in tests/test_fuzz_dedup.py as the differential reference.
    """
    # selectExpr strings over Column chains: the same parsed expressions
    # in a handful of py4j calls instead of one call per Column op —
    # the build phase of this function was ~0.36 s of driver wall per
    # query (r12 opt round), all socket round trips. Values pinned by
    # the HOF differential (tests/test_fuzz_dedup.py).
    idq = id_col.replace("`", "``")
    tq = text_col.replace("`", "``")
    ex = (
        df.selectExpr(f"`{idq}` AS __id", f"lower(`{tq}`) AS __t")
        .selectExpr(
            "__id",
            "__t",
            f"explode(sequence(0, greatest(length(__t) - {shingle_k}, 0)))"
            " AS __i",
        )
        .selectExpr("__id", f"substring(__t, __i + 1, {shingle_k}) AS __sh")
        .selectExpr(
            "__id", "xxhash64(__sh) AS __h1", "xxhash64(__sh, 1) AS __h2"
        )
    )
    return ex.groupBy("__id").agg(
        *[
            F.expr(f"min({_derived_hash_sql('__h1', '__h2', i)}) AS __h{i}")
            for i in range(num_hashes)
        ]
    )


def _bucket_pairs(
    banded: DataFrame, keys: list[str], max_bucket: int, extra_cols: list[str] | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ``__id`` values sharing a bucket key,
    generated by grouping the bucket and expanding the sorted id list with
    array higher-order functions — one shuffle, no self-join. Buckets larger
    than max_bucket are dropped (see _cap_buckets rationale); per-task
    memory is bounded by max_bucket ids per group."""
    grouped = (
        banded.groupBy(*keys)
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .where((F.size("__ids") > 1) & (F.size("__ids") <= max_bucket))
    )
    # SQL lambda form of the nested transform — the Python-lambda HOFs
    # cost ~0.2 s of py4j chatter per query build (r12 opt round); the
    # parsed expression is the same nested transform/slice/struct tree
    pair_structs = F.expr(
        "flatten(transform(__ids, (x, i) -> "
        "transform(slice(__ids, i + 2, size(__ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop LSH buckets larger than max_bucket: a degenerate hot bucket
    (template cluster, near-empty docs) is quadratic in the pair join —
    the members it would pair are exactly what exact/fingerprint dedup
    already catches, so skipping costs little recall and bounds the
    worst-case work (the scale safety valve for 100 TB corpora)."""
    sizes = banded.groupBy(*keys).agg(F.count("*").alias("__n"))
    small = sizes.where(F.col("__n") <= max_bucket).select(*keys)
    return banded.join(F.broadcast(small), keys, "inner")


from fourstore_spark.operators.util import ensure_parallel as _ensure_parallel


def _banded_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(__id, band, bucket) LSH rows: each document's signature split
    into ``bands`` bands of num_hashes/bands rows, each band hashed to
    one bucket. Shared by the one-shot candidate generator and the
    written index (identical parameters => identical buckets, which is
    what makes index probes comparable to fresh signatures)."""
    # spread keyed by the doc id: minhash_signatures' groupBy(__id)
    # reuses this exchange instead of adding a second one (r12 opt
    # round — one Exchange + one AQE stage fewer, values identical)
    df = _ensure_parallel(df, by=[id_col])
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    return _bands_from_sig(sig, num_hashes=num_hashes, bands=bands)


def _bands_from_sig(
    sig: DataFrame, *, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Band/bucket rows from a minhash_signatures frame."""
    rows = num_hashes // bands
    # one expr() string instead of bands x (struct + xxhash64 + lits)
    # Column calls — ~0.3 s of py4j round trips per query build at
    # bands=8 (r12 opt round); identical parsed expressions (the int
    # literals keep their Python types: `b` is an INT literal on both
    # paths, so the xxhash64 input bytes are unchanged)
    band_buckets = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, xxhash64("
            + ", ".join(f"__h{b * rows + r}" for r in range(rows))
            + f", {b}) AS bucket)"
            for b in range(bands)
        )
        + ")"
    )
    return sig.select("__id", F.explode(band_buckets).alias("bb")).select(
        "__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _sig_rows(sig: DataFrame, num_hashes: int, n_dirs: int) -> DataFrame:
    """(__id, sig array<long>, sdir) — the signature table rows the
    written index stores for verification, directory-keyed by an
    id-hash so verification lookups prune like band probes do."""
    from fourstore_spark.operators.sampling import hash_bucket

    return sig.select(
        "__id",
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias(
            "sig"
        ),
        (hash_bucket(F.col("__id").cast("string")) % n_dirs)
        .cast("int")
        .alias("sdir"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded MinHash LSH.

    Two docs collide if any band of rows/bands signature entries hashes
    equal. Output: (id_a, id_b) distinct candidate pairs. ``max_bucket``
    skips oversized buckets (see _cap_buckets) — ON by default so a
    degenerate corpus (template clusters, empty docs) can't go quadratic;
    pass None to disable the cap.
    """
    banded = _banded_rows(
        df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    )
    if max_bucket is not None:
        # grouped pair generation: ONE shuffle to (band, bucket), pairs
        # emitted from the sorted in-bucket id list inside codegen — no
        # bucket-size pre-pass, no self-join exchange, and the hot-bucket
        # cap becomes a free filter on the grouped size (memory per task
        # bounded by max_bucket ids)
        return _bucket_pairs(banded, ["band", "bucket"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    return pairs


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array, as bigint.

    Per-bit majority vote of token hashes — expressed with aggregate() over
    the token array so it runs inside codegen, no UDF.
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    bit_ids = F.sequence(F.lit(0), F.lit(63))
    bits = F.transform(
        bit_ids,
        lambda i: F.when(
            F.aggregate(
                hashes,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + F.when(
                    F.call_function("shiftright", h, i.cast("int")).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    1,
                ).otherwise(-1),
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        F.zip_with(
            bits, bit_ids, lambda b, i: F.call_function("shiftleft", b, i.cast("int"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_dedup_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    band_bits: int = 16,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup candidates: equal band_bits-wide SimHash band => candidate
    pair (pigeonhole blocking: 64/band_bits bands guarantee a match at
    Hamming distance <= 64/band_bits - 1; 16-bit bands cover <= 3, 8-bit
    bands cover <= 7 at the cost of more candidates).

    ``max_bucket`` (default on) drops degenerate hot buckets; see
    _cap_buckets.
    """
    # simhash64's per-token aggregate is the expensive projection here —
    # same under-partitioned-input hazard as the MinHash shingle explode
    df = _ensure_parallel(df)
    tokens = F.split(F.lower(F.col(text_col)), r"\s+")
    sh = df.select(F.col(id_col).alias("__id"), simhash64(tokens).alias("__sh"))
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("__sh", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__sh", "bb.band", "bb.bucket")
    if max_bucket is not None:
        # grouped pair generation (one shuffle, no self-join — see
        # _bucket_pairs); members carry (id, simhash) so hamming is
        # computed inside the group expansion
        grouped = (
            banded.groupBy("band", "bucket")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__id", "__sh"))
                ).alias("__ms")
            )
            .where((F.size("__ms") > 1) & (F.size("__ms") <= max_bucket))
        )
        pair_structs = F.flatten(
            F.transform(
                F.col("__ms"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("__ms"),
                        i + F.lit(2),
                        F.size(F.col("__ms")) - i - F.lit(1),
                    ),
                    lambda y: F.struct(
                        x["__id"].alias("id_a"),
                        y["__id"].alias("id_b"),
                        F.bit_count(
                            x["__sh"].bitwiseXOR(y["__sh"])
                        ).alias("hamming"),
                    ),
                ),
            )
        )
        return (
            grouped.select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b", "p.hamming")
            .distinct()
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))).alias(
                "hamming"
            ),
        )
        .distinct()
    )


def charset_jaccard(t1: Column, t2: Column) -> Column:
    """Character-set Jaccard similarity — semantics match DuckDB jaccard()."""
    s1 = F.array_distinct(F.split(t1, ""))
    s2 = F.array_distinct(F.split(t2, ""))
    inter = F.size(F.array_intersect(s1, s2))
    union = F.size(F.array_union(s1, s2))
    return inter.cast("double") / union.cast("double")


def ngram_jaccard(t1: Column, t2: Column, n: int = 3) -> Column:
    """Word n-gram Jaccard similarity of two text columns."""

    def grams(t: Column) -> Column:
        toks = F.split(F.lower(t), r"\s+")
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    g1, g2 = grams(t1), grams(t2)
    return F.size(F.array_intersect(g1, g2)).cast("double") / F.size(
        F.array_union(g1, g2)
    ).cast("double")


def embedding_neardup_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    nbits: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate embedding near-duplicate pairs via banded random-
    hyperplane LSH (SimHash over vectors).

    Signatures are one float64 GEMM per Arrow batch against the
    deterministic hyperplane matrix (the vectors themselves never
    shuffle); the shuffle carries (band, bucket, id) rows only, and pairs
    are emitted by the same grouped expansion as MinHash LSH — one
    shuffle, no self-join, hot buckets capped by ``max_bucket``.  Recall
    for a pair at angle theta is 1-(1-p^r)^bands with p = 1 - theta/pi,
    r = nbits//bands: tune (nbits, bands) to the target threshold and
    verify with cosine (embedding_neardup) for exact precision.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _hyperplanes, _to_double

    if dim is None:
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    r = nbits // bands
    planes = np.array(_hyperplanes(dim, nbits, seed), dtype="float64")
    weights = (1 << np.arange(r)).astype("int64")
    vid_dt = df.select(F.col(id_col).alias("__id")).schema["__id"].dataType
    sig_schema = f"__id {vid_dt.simpleString()}, band int, bucket long"

    def sig_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64", copy=False)
            B = (V @ planes.T) > 0  # (n, nbits) sign bits
            frames = []
            for b in range(bands):
                key = B[:, b * r : (b + 1) * r] @ weights
                frames.append(
                    pd.DataFrame(
                        {
                            "__id": ids,
                            "band": np.full(len(ids), b, dtype="int32"),
                            "bucket": key,
                        }
                    )
                )
            yield pd.concat(frames)

    banded = _ensure_parallel(df).select(
        F.col(id_col).alias("__id"), _to_double(F.col(vec_col)).alias("__v")
    ).mapInPandas(sig_batches, sig_schema)
    if max_bucket is not None:
        return _bucket_pairs(banded, ["band", "bucket"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    nbits: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH candidates -> exact cosine verify.

    Precision is exact (every returned pair really has cosine >=
    threshold, verified JVM-side with zip_with/aggregate); recall is the
    LSH banding recall of embedding_neardup_candidates.  The 100 TB scale
    path for similarity.cosine_neardup_pairs (which is exact but O(n^2)).
    Output: (id_a, id_b, cos), cos rounded to 6 dp.
    """
    from .similarity import _to_double, cosine

    cand = embedding_neardup_candidates(
        df, id_col, vec_col, dim, nbits, bands, seed, max_bucket
    )
    v = df.select(F.col(id_col).alias("__vid"), _to_double(F.col(vec_col)).alias("__vec"))
    return (
        cand.join(
            v.select(
                F.col("__vid").alias("id_a"), F.col("__vec").alias("__va")
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("__vid").alias("id_b"), F.col("__vec").alias("__vb")
            ),
            "id_b",
        )
        .withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semdedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Within-cluster near-duplicate pairs — the candidate stage of
    SemDedup (Abbas et al. 2023, arXiv:2303.09540): embeddings are
    clustered by nearest centroid and exact cosine runs ONLY inside each
    cluster, turning the O(n^2) all-pairs comparison into
    sum-over-cells(|cell|^2).

    The cluster equi-join shuffles (cell, id, vector) once; at 100 TB the
    corpus is written partitioned by cell (same layout IVF search uses,
    similarity.ivf_assign) so the join is partition-local.  Skewed cells
    are AQE's skew-join case; raise k to bound cell sizes.
    Output: (id_a, id_b, cell, cos) with cos rounded and >= threshold.
    """
    from .similarity import cosine, ivf_assign

    a = ivf_assign(df, centroids, id_col, vec_col, round_to=round_to)
    b = (
        a.select(
            F.col("vec_id").alias("id_b"),
            F.col(vec_col).alias("__vb"),
            F.col("ivf_cell"),
        )
    )
    return (
        a.select(
            F.col("vec_id").alias("id_a"),
            F.col(vec_col).alias("__va"),
            "ivf_cell",
        )
        .join(b, "ivf_cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), round_to))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.col("ivf_cell").alias("cell"), "cos")
    )


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDedup: drop every row that has a semantically-near neighbor
    with a smaller id in the same cluster (keep-lowest-id greedy — the
    deterministic, engine-portable variant of the paper's keep-one rule;
    survivors are identical on any partitioning/run).

    Only ids travel through the drop set (distinct id_b — a pure
    projection of semdedup_pairs), and the final left_anti equi-join is
    AQE-broadcastable when the drop set is small (the common case at
    sane thresholds).  Returns the surviving rows of ``df`` unchanged.
    """
    drops = semdedup_pairs(
        df, centroids, threshold, id_col, vec_col, round_to
    ).select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def window_hash_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate-span detection (the operator behind
    suffix-array dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499 §4 — approximated
    at fixed granularity): any ``window``-token span whose md5 occurs
    >= ``min_count`` times corpus-wide (across OR within documents) is
    a duplicated region; overlapping/adjacent hits merge into maximal
    spans per document.

    Scale shape: the rolling hashes are computed inside the scan
    projection (transform over a sequence — the TEXT never shuffles;
    the exploded stream is (id, pos, 32-char hash)); duplicated hashes
    come from one count groupBy with map-side combine; span merging is
    the classic gaps-and-islands window over (id, pos) — one shuffle
    keyed by document. md5 keeps the hash engine-portable for the
    oracle (swap xxhash64 for throughput when portability is not
    needed).

    Output: (id, span_start, span_end, n_windows) — token offsets,
    end-exclusive; span_end - span_start >= window.
    """
    from pyspark.sql import Window as W

    from .textstats import tokens

    toks = tokens(F.col(text_col))
    wh = (
        df.select(F.col(id_col), toks.alias("__t"))
        .where(F.size("__t") >= window)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - window),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("__t", i + 1, window))
                    ),
                )
            ).alias("pos", "__wh"),
        )
    )
    dup = (
        wh.groupBy("__wh")
        .agg(F.count("*").alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__wh")
    )
    hits = wh.join(dup, "__wh").select(id_col, "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    # fixed-width spans sorted by start: merge while pos <= prev + window
    island = F.sum(
        F.when(
            F.col("pos") > F.lag("pos").over(w) + window, 1
        ).otherwise(0)
    ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    return (
        hits.withColumn("__isl", island)
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + window).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("__isl")
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Cut every corpus-duplicated span out of the text (the removal
    step of Lee et al. 2022 exact-substring dedup, completing
    window_hash_spans' detection): tokens covered by any maximal
    duplicated span are dropped from EVERY occurrence (the conservative
    C4-style drop-all policy — boilerplate and licence blocks vanish
    entirely), the survivors re-join in original order.

    Scale shape: detection is window_hash_spans (text never shuffles;
    one count groupBy + one per-document window); the removal itself is
    one spans-per-doc aggregation joined back to the corpus by id, with
    the token filter running as a codegen'd array expression — tokens x
    spans comparisons per document, no extra shuffle beyond the
    detector's.

    Output: (id, text, n_spans, n_tokens_removed); docs without
    duplicated spans pass through unchanged (rebuilt text is
    whitespace-normalized, consistent with the token-level family).
    """
    from .textstats import tokens

    spans = (
        window_hash_spans(df, id_col, text_col, window, min_count)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct("span_start", "span_end")
            ).alias("__spans"),
            F.count("*").alias("n_spans"),
        )
    )
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__t")).join(
        spans, id_col, "left"
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"),
        lambda s: (s["span_start"] <= i) & (i < s["span_end"]),
    )
    # sequence(0, -1) would count DOWN on empty docs: guard explicitly
    idxs = F.when(
        F.size("__t") > 0, F.sequence(F.lit(0), F.size("__t") - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            idxs,
            lambda i: F.struct(
                F.element_at("__t", i + 1).alias("w"),
                covered(i).alias("c"),
            ),
        ),
        lambda x: ~x["c"],
    )
    no_spans = F.col("__spans").isNull()
    rebuilt = F.when(no_spans, F.concat_ws(" ", "__t")).otherwise(
        F.concat_ws(
            " ", F.transform(kept, lambda x: x["w"])
        )
    )
    removed = F.when(no_spans, F.lit(0)).otherwise(
        F.size("__t") - F.size(kept)
    )
    return base.select(
        F.col(id_col),
        rebuilt.alias(text_col),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        removed.cast("long").alias("n_tokens_removed"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    *,
    threshold_micro: int = 950_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_vec_col: str | None = None,
    max_eval_rows: int = 100_000,
) -> DataFrame:
    """Semantic benchmark decontamination: flag corpus documents whose
    embedding is near-identical to ANY eval-set embedding — the
    embedding-space complement of ngram_decontaminate (paraphrased or
    reformatted eval items that share no exact n-gram still leak
    through lexical checks; cosine similarity catches them).

    Output: (vec_id, max_cos_micro, contaminated) for EVERY corpus row
    — max cosine against the eval set quantized to integer micro-units
    (round-half-up, the similarity-family convention), contaminated =
    max_cos_micro >= threshold_micro. Filter on ~contaminated for the
    cleaned corpus, or join the flags back for an audit report.

    100 TB shape: the eval set broadcasts (guarded by
    ``max_eval_rows`` — eval benchmarks are thousands of items, not
    corpora); each corpus row computes its n_eval cosines INSIDE the
    scan projection (no corpus shuffle), and the per-row max is a
    map-side-combined groupBy(vec_id) whose exchange carries one row
    per document. For very large eval sets, pre-bucket both sides with
    the hyperplane-LSH family instead (embedding_neardup).

    Zero-norm edge: cosine against (or of) an all-zeros embedding is
    0/0 = NaN; those pairs contribute NULL (not a silent 0 — non-ANSI
    Spark would cast the NaN to 0L). A corpus row whose EVERY cosine
    is NaN gets max_cos_micro NULL and contaminated=false: an
    unembeddable document cannot be evidence of leakage."""
    n_eval = eval_df.limit(max_eval_rows + 1).count()
    if n_eval == 0:
        raise ValueError("empty eval set: nothing to decontaminate against")
    if n_eval > max_eval_rows:
        raise ValueError(
            f"eval set exceeds {max_eval_rows} rows — broadcasting it "
            "would blow up the per-row cosine fan-out; use the LSH "
            "banding path (embedding_neardup) for corpus-vs-corpus"
        )
    from .similarity import _to_double, cosine

    ev = F.broadcast(
        eval_df.select(
            _to_double(F.col(eval_vec_col or vec_col)).alias("__ev")
        )
    )
    cos = cosine(_to_double(F.col(vec_col)), F.col("__ev"))
    # zero-norm guard: NaN cosine -> NULL (max ignores it) instead of
    # the silent 0L a non-ANSI cast would produce
    cos_micro = F.when(
        ~F.isnan(cos), F.round(cos * 1_000_000.0, 0).cast("long")
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
        .crossJoin(ev)
        .select("vec_id", cos_micro.alias("__cm"))
        .groupBy("vec_id")
        .agg(F.max("__cm").alias("max_cos_micro"))
        .withColumn(
            "contaminated",
            F.coalesce(
                F.col("max_cos_micro") >= F.lit(int(threshold_micro)),
                F.lit(False),
            ),
        )
    )


def subtract_corpus_bloom(
    df: DataFrame,
    reference: DataFrame,
    *,
    fpp: float = 0.001,
    expected_items: int | None = None,
    text_col: str = "text",
    ref_text_col: str | None = None,
    max_filter_bytes: int = 512 * 1024 * 1024,
) -> DataFrame:
    """Cross-corpus exact dedup at BLOOM scale — the subtract_corpus
    docstring's 'reference too large even for a shuffle join' path
    (the Dolma deduper is exactly this shape): the reference's
    normalization fingerprints fold into a Bloom filter (one scan,
    tree-aggregated bit array, Spark's df.stat.bloomFilter) that
    broadcasts to every task; the corpus side is then a pure
    projection-and-filter — NO join, NO shuffle of either corpus.

    Semantics: no false negatives (every true duplicate is dropped),
    false-positive drops at rate <= ``fpp`` (docs wrongly removed —
    acceptable for corpus curation, never for the exact contract
    entries; the test pins both directions). Size the filter with
    ``expected_items`` (default: a count of distinct reference
    fingerprints — one cheap aggregate).

    Built distributively (PySpark exposes no DataFrame bloomFilter):
    the k bit positions per fingerprint are seeded xxhash64 column
    expressions, folded to one 64-bit word per index with a bit_or
    aggregate — only the m/64-word bit array (the filter itself) ever
    reaches the driver; membership tests reuse the SAME Spark hash
    expressions, so probe positions can never diverge from build
    positions, and the Python side only indexes a numpy array.

    NULL-text rows carry a NULL fingerprint and are kept
    unconditionally on the corpus side and excluded from the build —
    exactly subtract_corpus's semantics, where fingerprint(NULL) never
    equi-joins (xxhash64 would otherwise give NULL input deterministic
    positions and deterministically drop every NULL-text doc).

    Memory contract (the guarded driver-materialization discipline):
    the bit array costs m/8 = -n*ln(fpp)/(8*ln^2 2) bytes ~ 1.8 bits
    per item per factor of 10 in 1/fpp, held ONCE on the driver and
    once per executor as a broadcast. ``max_filter_bytes`` (default
    512 MB ~ 2.4e9 items at fpp=1e-3) raises BEFORE the build;
    remediations: raise ``fpp``, shard the reference and subtract in
    passes (filters compose as successive subtractions), or pass
    ``expected_items`` if the default distinct-count overestimates."""
    import math

    import numpy as np
    import pandas as pd

    from fourstore_spark.operators.textstats import fingerprint

    rcol = ref_text_col or text_col
    ref_fps = reference.select(
        fingerprint(F.col(rcol)).alias("__fp")
    ).where(F.col("__fp").isNotNull()).distinct().localCheckpoint()
    if expected_items is None:
        expected_items = ref_fps.count() or 1
    n = max(1, expected_items)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64  # whole words
    if m // 8 > max_filter_bytes:
        raise ValueError(
            f"Bloom filter for expected_items={n} at fpp={fpp} needs "
            f"{m // 8 / 1e9:.2f} GB (driver + every executor) > "
            f"max_filter_bytes={max_filter_bytes}. Raise fpp (bits "
            "scale with ln(1/fpp)), shard the reference and subtract "
            "in passes, or pass expected_items if the distinct-count "
            "default overestimates."
        )
    k = max(1, round(m / n * math.log(2)))

    def positions(col: Column) -> Column:
        return F.array(*[
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
            for i in range(k)
        ])

    words = (
        ref_fps.select(F.explode(positions(F.col("__fp"))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = np.zeros(m // 64, dtype=np.int64)
    for r in words:
        arr[r["w"]] = r["bits"]
    barr = df.sparkSession.sparkContext.broadcast(arr)

    def keep(batches):
        a = barr.value
        one = np.int64(1)
        for pdf in batches:
            if not len(pdf):
                continue
            # NULL fingerprint -> NULL position array -> keep
            # unconditionally (subtract_corpus parity: NULL never
            # matches the reference)
            probe = pdf["__pos"].notna().to_numpy()
            hit = np.zeros(len(pdf), dtype=bool)
            if probe.any():
                # vectorized probe: (n, k) position matrix -> word
                # lookup, bit test, all-bits-set per row — no per-row
                # Python loop
                P = np.vstack([
                    np.asarray(p, dtype=np.int64)
                    for p in pdf["__pos"][probe]
                ])
                bits = a[P // 64] & (one << (P % 64).astype(np.int64))
                hit[probe] = (bits != 0).all(axis=1)
            yield pdf[pd.Series(~hit, index=pdf.index)]

    fp = fingerprint(F.col(text_col))
    with_pos = df.withColumn(
        "__pos", F.when(fp.isNotNull(), positions(fp))
    )
    return with_pos.mapInPandas(keep, with_pos.schema).drop("__pos")


# ------------------------------------------------------ written LSH index
# Incremental near-dup maintenance: real pipelines dedup each NEW crawl
# batch against the EXISTING corpus — re-running one-shot LSH over
# corpus+delta re-signs the whole corpus every batch. The written index
# applies the repo's written-index discipline (write_bm25_index /
# write_ivf_index) to MinHash LSH: (doc, band, bucket) rows land ONCE,
# partitioned into a bounded number of directories by bucket hash, and
# a query batch signs only ITSELF, prunes to the directories its
# buckets hash into (PartitionFilters — plan-pinned in tests), and
# joins (band, bucket) inside them. Hyperparameters travel in a JSON
# sidecar (the kmv_save lesson from birth): a different shingle_k /
# num_hashes / bands would silently make buckets incomparable.


def write_lsh_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    n_dirs: int = 256,
) -> None:
    """Materialize the corpus's banded MinHash rows, partitioned by
    ``pdir = pmod(bucket, n_dirs)`` (bucket is already a xxhash64
    output, so the directories balance), plus a ``sigs/`` table of the
    full signatures (id-hash-keyed directories) so queries can VERIFY
    candidates by signature agreement without the corpus text. One
    exchange per sub-table at write time; every later query batch
    reads only its own buckets'/candidates' dirs."""
    import os

    sig = minhash_signatures(
        _ensure_parallel(df, by=[id_col]), text_col, id_col,
        num_hashes=num_hashes, shingle_k=shingle_k,
    ).localCheckpoint()  # feeds both the bands and the sigs writes
    banded = _bands_from_sig(
        sig, num_hashes=num_hashes, bands=bands
    ).withColumn("pdir", F.pmod(F.col("bucket"), F.lit(n_dirs)).cast("int"))
    layout.write_partitioned(banded, os.path.join(path, "bands"), "pdir")
    layout.write_partitioned(
        _sig_rows(sig, num_hashes, n_dirs), os.path.join(path, "sigs"), "sdir"
    )
    layout.write_json(
        os.path.join(path, "_lsh.json"),
        {
            "num_hashes": int(num_hashes),
            "bands": int(bands),
            "shingle_k": int(shingle_k),
            "n_dirs": int(n_dirs),
            "hash": "xxhash64 shingles, rotate-xor derivation",
        },
    )


def _read_lsh_meta(path: str) -> dict:
    import os

    return layout.read_json(os.path.join(path, "_lsh.json"))


def append_lsh_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incrementally add NEW documents — O(delta): sign the delta with
    the SIDECAR's parameters, append to the touched directories (bands
    AND sigs). Caller contract mirrors append_bm25_index: appended ids
    must be new; one writer at a time; results equal a rebuild
    (equality-tested)."""
    import os

    m = _read_lsh_meta(path)
    sig = minhash_signatures(
        _ensure_parallel(df, by=[id_col]), text_col, id_col,
        num_hashes=m["num_hashes"], shingle_k=m["shingle_k"],
    ).localCheckpoint()
    banded = _bands_from_sig(
        sig, num_hashes=m["num_hashes"], bands=m["bands"]
    ).withColumn(
        "pdir", F.pmod(F.col("bucket"), F.lit(m["n_dirs"])).cast("int")
    )
    layout.write_partitioned(
        banded, os.path.join(path, "bands"), "pdir", mode="append"
    )
    layout.write_partitioned(
        _sig_rows(sig, m["num_hashes"], m["n_dirs"]),
        os.path.join(path, "sigs"),
        "sdir",
        mode="append",
    )


def lsh_query_index(
    spark,
    path: str,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 1000,
    verify_micro: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs between a query batch and the INDEXED
    corpus: (id_a = indexed doc, id_b = query doc), distinct.

    With ``verify_micro=None`` (default) the output is the raw LSH
    CANDIDATE set — collisions, not confirmed duplicates; follow with
    your own verification (e.g. exact n-gram Jaccard over the texts)
    before dropping anything. With ``verify_micro`` set, each candidate
    is VERIFIED against the index's stored signatures: agreement =
    matching minhash components / num_hashes (the standard unbiased
    Jaccard estimator, std err ~1/sqrt(num_hashes)), and only pairs
    with ``round(1e6 * agreement) >= verify_micro`` return, with the
    estimate in an ``agree_micro`` column — no corpus text needed,
    which is the point: the corpus may be 100 TB and the index is not
    going to re-read it.

    The query batch signs itself ONCE with the sidecar's parameters
    (checkpointed — it feeds the probe list, the join, and the
    verification), the corpus band scan prunes to the <= n_dirs
    directories the query buckets hash into, the verification scan
    prunes to the candidate ids' signature directories (both probe
    lists are bounded by n_dirs integers, never by corpus or batch
    size). ``max_bucket`` drops corpus-side buckets larger than the
    cap (the _cap_buckets safety valve); pass None to disable.

    Query-vs-query duplicates are deliberately out of scope — run
    minhash_lsh_candidates on the batch itself, then append it."""
    import os

    from fourstore_spark.operators.sampling import hash_bucket

    m = _read_lsh_meta(path)
    nh, nd = m["num_hashes"], m["n_dirs"]
    qsig = minhash_signatures(
        _ensure_parallel(queries, by=[id_col]), text_col, id_col,
        num_hashes=nh, shingle_k=m["shingle_k"],
    ).localCheckpoint()
    qb = _bands_from_sig(qsig, num_hashes=nh, bands=m["bands"]).withColumn(
        "pdir", F.pmod(F.col("bucket"), F.lit(nd)).cast("int")
    )
    probe = sorted(
        r["pdir"] for r in qb.select("pdir").distinct().collect()
    )
    corpus = spark.read.parquet(os.path.join(path, "bands")).where(
        F.col("pdir").isin(probe) if probe else F.lit(False)
    )
    if max_bucket is not None:
        corpus = _cap_buckets(corpus, ["band", "bucket"], max_bucket)
    cand = (
        corpus.select(F.col("__id").alias("id_a"), "band", "bucket")
        .join(
            qb.select(F.col("__id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify_micro is None:
        return cand
    cand = cand.localCheckpoint()  # feeds the sdir probe AND the join
    sdirs = sorted(
        r["sdir"]
        for r in cand.select(
            (hash_bucket(F.col("id_a").cast("string")) % nd)
            .cast("int")
            .alias("sdir")
        ).distinct().collect()
    )
    sigs = spark.read.parquet(os.path.join(path, "sigs")).where(
        F.col("sdir").isin(sdirs) if sdirs else F.lit(False)
    )
    matches = F.aggregate(
        F.zip_with(
            "__sa", "__sb", lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(
            sigs.select(F.col("__id").alias("id_a"), F.col("sig").alias("__sa")),
            "id_a",
        )
        .join(
            qsig.select(
                F.col("__id").alias("id_b"),
                F.array(*[F.col(f"__h{i}") for i in range(nh)]).alias("__sb"),
            ),
            "id_b",
        )
        .withColumn(
            "agree_micro",
            F.round(matches * F.lit(1_000_000.0) / F.lit(nh), 0)
            .cast("long"),
        )
        .where(F.col("agree_micro") >= F.lit(int(verify_micro)))
        .select("id_a", "id_b", "agree_micro")
    )


def compact_lsh_index(spark, path: str) -> None:
    """Small-files maintenance after many appends — one file set per
    directory in both sub-tables, query results identical (the
    compact_bm25_index / compact_ivf_index discipline; swap and crash
    recovery as in ``layout``). Duplicate rows from replayed
    at-least-once appends collapse here (distinct — a replayed append
    rewrites identical rows by construction, in both sub-tables)."""
    import os

    for sub, key in (("bands", "pdir"), ("sigs", "sdir")):
        layout.rewrite(
            spark, os.path.join(path, sub), key, lambda df: df.distinct()
        )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_dist: int = 1,
    block_chars: int = 4,
    max_block: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by EDIT DISTANCE with prefix/suffix
    blocking — the short-string tier of the dedup family. Shingle
    methods (MinHash/SimHash/n-gram Jaccard) need enough text to
    shingle; titles, names, questions and queries are a few words, and
    there a single typo IS the duplicate signal. Output: (id_a, id_b,
    dist) with id_a < id_b and dist = levenshtein of the normalized
    (lower+trim) strings, dist <= max_dist — dist 0 rows are the exact
    duplicates. Compose with components.resolve_duplicate_clusters for
    cluster/survivor resolution, like the other pair producers.

    Blocking contract (deterministic, engine-replayable — the DuckDB
    oracle runs the identical algebra): candidates are pairs sharing
    the first-``block_chars`` or last-``block_chars`` characters of
    the normalized string (whole string when shorter). A true pair is
    therefore found unless its edits touch BOTH the first and last
    window — the standard prefix-blocking recall tradeoff, stated
    rather than hidden; raise block_chars overlap by lowering
    block_chars if the field is tiny. The |len(a)-len(b)| <= max_dist
    prefilter is lossless (edit distance >= length difference), and
    the JVM levenshtein evaluates with the max_dist early-exit
    threshold.

    100 TB shape: two shuffles on the block key (self-join) + the
    distinct; comparisons are sum over blocks of |block|^2, never
    all-pairs; blocks larger than ``max_block`` drop entirely (the
    minhash_lsh_candidates max_bucket discipline — a degenerate key
    like a boilerplate prefix pairs everything with everything and
    carries no dedup signal)."""
    if max_dist < 0 or block_chars < 1:
        raise ValueError(f"need max_dist >= 0, block_chars >= 1")
    s = F.lower(F.trim(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), s.alias("s")).where(
        s.isNotNull() & (s != "")
    )
    pfx = F.concat(F.lit("p:"), F.substring("s", 1, block_chars))
    sfx = F.concat(
        F.lit("s:"),
        F.expr(
            f"substring(s, greatest(length(s) - {block_chars - 1}, 1), "
            f"{block_chars})"
        ),
    )
    keys = base.select(
        "id", "s", F.explode(F.array(pfx, sfx)).alias("k")
    )
    ok = keys.groupBy("k").agg(F.count("*").alias("__n")).where(
        F.col("__n") <= max_block
    ).select("k")
    kk = keys.join(ok, "k")
    cand = (
        kk.select("k", F.col("id").alias("id_a"), F.col("s").alias("sa"))
        .join(
            kk.select(
                "k", F.col("id").alias("id_b"), F.col("s").alias("sb")
            ),
            "k",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    dist = F.levenshtein("sa", "sb", max_dist)
    return (
        cand.where(
            F.abs(F.length("sa") - F.length("sb")) <= max_dist
        )
        .select("id_a", "id_b", dist.alias("dist"))
        .where(F.col("dist") >= 0)
    )


def edit_distance_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_dist: int = 1,
    block_chars: int = 4,
    max_block: int = 10_000,
) -> DataFrame:
    """Survivors of edit-distance dedup — the shape that survives
    duplicate-heavy corpora. ``edit_distance_pairs`` emits ID-level
    pairs, which is what verification and auditing want, but its
    output is QUADRATIC in duplicate multiplicity: near-dup-ness is a
    function of the STRING pair, so ten thousand copies of one title
    are C(10k, 2) dist-0 pairs carrying one bit of information (the
    synthetic part table at sf3: 600k rows, 64 distinct names —
    ~3.5e9 id pairs vs 64 strings). Here exact duplicates resolve by
    groupBy (one representative = min id per distinct normalized
    string), the blocked levenshtein join runs over the DISTINCT
    string set only, and connected components + min-id survivors run
    on the representative graph. Returns the kept rows of ``df``
    (blank/NULL-text rows pass through — nothing to compare) — same
    contract as components.resolve_duplicate_clusters over the pair
    producer, and equal to that composition whenever the hot-block cap
    bites the same way (equality pinned in tests/test_fuzz_dedup.py;
    note ``max_block`` here counts DISTINCT STRINGS per block — the
    quantity that actually bounds comparisons — while the id-level
    path counts ids, so a block of 10k copies of one title is dropped
    there and correctly deduped here), without ever materializing an
    id-level pair."""
    from .components import resolve_duplicate_clusters

    s = F.lower(F.trim(F.col(text_col)))
    ids = df.select(F.col(id_col).alias("__id"), s.alias("s")).where(
        s.isNotNull() & (s != "")
    )
    reps = ids.groupBy("s").agg(F.min("__id").alias("rep"))
    rep_pairs = edit_distance_pairs(
        reps, text_col="s", id_col="rep",
        max_dist=max_dist, block_chars=block_chars, max_block=max_block,
    ).where(F.col("dist") > 0)  # dist-0 pairs impossible on a distinct set
    surviving_reps = resolve_duplicate_clusters(
        reps.select("rep"), rep_pairs.select("id_a", "id_b"), id_col="rep"
    )
    keep = ids.join(
        reps.join(surviving_reps.select("rep"), "rep").select("s", "rep"),
        "s",
    ).where(F.col("__id") == F.col("rep")).select(
        F.col("__id").alias(id_col)
    )
    blanks = df.where(s.isNull() | (s == "")).select(F.col(id_col))
    return df.join(keep.unionByName(blanks), id_col, "left_semi")
