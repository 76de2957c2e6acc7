"""Mergeable sketches over corpus-scale key streams: count-min
(frequency estimation, Cormode & Muthukrishnan 2005), HyperLogLog
(distinct counting, Flajolet 2007), KMV/bottom-k (distinct sample,
Bar-Yossef 2002) and a log2/linear histogram quantile sketch (the
HdrHistogram/DDSketch bucketing idea on exact integer arithmetic) —
the standard answers to "how often does each of these tokens/domains/
n-grams occur in 100 TB", "how many distinct ones are there", "show me
a uniform sample of them" and "what is the p99 document length" when
the exact groupBy's output (one row per DISTINCT key / a full sort)
is itself too large to keep.

Engine-portable and integer-exact by the module discipline
(sampling.hash_bucket md5 hashing, exact integer counters): the sketch
a DuckDB oracle builds from the same rows is cell-for-cell identical,
and every estimate obeys the CMS contract EXACTLY — never below the
true count, above it by at most eps*N with probability 1-delta
(eps = e/width, delta = e^-depth).

100 TB shape: the build is one explode to ``depth`` (row, col) cells
per key occurrence and one map-side-combined groupBy whose output is
bounded by depth*width CELLS — never by the number of distinct keys.
Sketches are counters, so shard sketches MERGE BY ADDITION
(``cms_merge``): build per day/per shard, add for any window — the
whole reason to sketch instead of groupBy. Queries join the probe
keys' cells against the sketch and take the row-wise min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fourstore_spark import layout

from .sampling import _MOD, hash_bucket

# depth*width cells may be collected/broadcast — same guard class as
# the Bloom filter's max_filter_bytes
MAX_CELLS = 50_000_000


def _cms_col(key: Column, row: int, width: int) -> Column:
    """Row ``row``'s column index for a key: md5 of 'row:key' (the seed
    folded into the hashed string keeps the depth hash functions
    pairwise independent enough AND engine-portable — any SQL engine
    with md5 replays it)."""
    return hash_bucket(F.concat(F.lit(f"{row}:"), key.cast("string"))) % width


def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    width: int = 2048,
    depth: int = 5,
    weight_col: str | None = None,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Build a count-min sketch over a key column: DataFrame
    (*group_cols, r, c, cnt) with at most depth*width rows per group —
    sparse (zero cells are absent). ``weight_col`` counts each row by
    an integer weight instead of 1 (e.g. pre-aggregated (key, count)
    input). ``group_cols`` keeps one sketch per group in the same
    table (per-source token frequencies, the qsketch_build shape) —
    the cell bound is then PER GROUP; a grouped slice feeds cms_query/
    cms_merge after filtering to one group. NULL keys are not counted
    (a NULL key is the absence of a key, matching groupBy semantics
    where NULL forms its own group only if present — callers who want
    NULL tracked should coalesce to a sentinel). Weights must be
    NON-NEGATIVE — the one-sided CMS bound ("never below the true
    count") is a min over cells that only hold overcounts, which a
    negative weight voids; the build fails the job on the first
    negative weight it sees.

    width must divide the hash space evenly enough: it is capped at
    hash_bucket's 1e6 modulus; eps = e/width, so width 2048 gives
    ~0.13% of N overcount at 99.3% confidence with depth 5."""
    if width > _MOD:
        raise ValueError(f"width {width} > hash modulus {_MOD}")
    if width * depth > MAX_CELLS:
        raise ValueError(
            f"depth*width = {width * depth} cells > {MAX_CELLS}: the "
            "sketch is meant to be broadcastable — lower width/depth "
            "(estimates degrade gracefully) or shard and cms_merge"
        )
    k = F.col(key_col)
    # NULL weight = zero contribution (made explicit so a cell fed only
    # by NULL-weight rows holds 0, not a NULL counter); negative
    # weights fail the job — they'd silently void the one-sided bound
    w = (
        F.expr(
            f"CASE WHEN CAST({weight_col} AS LONG) < 0 THEN "
            f"CAST(raise_error('cms_build: negative weight in "
            f"{weight_col} voids the one-sided CMS bound "
            f"(min over overcounting cells)') AS LONG) "
            f"ELSE coalesce(CAST({weight_col} AS LONG), 0) END"
        )
        if weight_col
        else F.lit(1).cast("long")
    )
    gcols = list(group_cols)
    cells = df.where(k.isNotNull()).select(
        *gcols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("r"),
                    _cms_col(k, r, width).alias("c"),
                    w.alias("w"),
                )
                for r in range(depth)
            ])
        ).alias("cell"),
    )
    return (
        cells.select(*gcols, "cell.r", "cell.c", "cell.w")
        .groupBy(*gcols, "r", "c")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(
    *sketches: DataFrame, group_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """Sum sketches built with the SAME width/depth — counters add, so
    per-shard/per-day sketches compose into any window without touching
    the raw data (the linearity that makes sketching worth it)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*list(group_cols), "r", "c").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_query(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    *,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Point estimates for a key set: (key, est) with est = min over
    the depth rows of that key's cell counter (0 when a cell is absent
    — the key was never seen on that row). Estimates are >= the true
    count always, and <= true + (e/width)*N with prob 1 - e^-depth.

    The sketch broadcasts (depth*width-bounded by construction); the
    probe is one join + a depth-bounded groupBy min — works for a
    thousand keys or a billion (the keys side never collects)."""
    k = F.col(key_col)
    probes = keys.where(k.isNotNull()).select(
        k.alias("key"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("r"), _cms_col(k, r, width).alias("c")
                )
                for r in range(depth)
            ])
        ).alias("cell"),
    ).select("key", "cell.r", "cell.c")
    return (
        probes.join(F.broadcast(sketch), ["r", "c"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est"))
    )


# ------------------------------------------------------------ HyperLogLog
# Distinct-count companion to the CMS (Flajolet 2007): m integer
# registers, mergeable by ELEMENT-WISE MAX — per-shard sketches compose
# into any window, the same linearity argument as cms_merge. The
# register table is the oracle surface (exact integers, md5-portable);
# the float estimate is a driver-side readout of an m-bounded table.

_HLL_HASH_BITS = 32


def hll_build(
    df: DataFrame,
    key_col: str,
    *,
    m: int = 1024,
    group_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """HyperLogLog registers over a key column: DataFrame
    (*group_cols, j, M) with at most ``m`` rows per group (never-hit
    registers are absent = 0). The 32-bit md5 prefix splits into
    register index j = h % m and the remaining bits w; M = max over
    keys of rho(w) (leading-zero count + 1 within the remaining bit
    width). Both j and rho are integer string/arithmetic ops any
    md5-capable engine replays exactly. ``group_cols`` keeps one
    sketch per group (per-source distinct counts — feed a filtered
    group's (j, M) rows to hll_estimate).

    m must be a power of two in [128, 65536]: the standard bias
    constant below 128 differs, and past 2^16 the 32-bit hash's
    remaining bits get too short."""
    k = F.col(key_col)
    gcols = list(group_cols)
    j, rho = hll_register_exprs(k, m)
    return (
        df.where(k.isNotNull())
        .select(*gcols, j.alias("j"), rho.alias("rho"))
        .groupBy(*gcols, "j")
        .agg(F.max("rho").alias("M"))
    )


def hll_register_exprs(k: Column, m: int) -> tuple[Column, Column]:
    """The per-row HLL register expressions (j, rho) for a key column —
    shared by the global ``hll_build`` and per-group consumers like
    ``reports.corpus_report(approx=True)``. Pure integer/string ops on
    the md5 prefix, so any md5-capable engine replays them exactly."""
    if m < 128 or m > 65536 or m & (m - 1):
        raise ValueError(f"m={m}: need a power of two in [128, 65536]")
    p = m.bit_length() - 1
    rem_bits = _HLL_HASH_BITS - p
    h = F.conv(F.substring(F.md5(k.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    # exact integer h // m (h % m is the register index, so the
    # remainder subtraction costs nothing extra) — double division
    # would be correctly-rounded-but-float on a hash surface that must
    # replay bit-for-bit in the oracle
    w = (h - h % m) / m
    w = w.cast("long")
    # bit_length(w) via base-2 string length (exact, engine-portable);
    # w = 0 -> all remaining bits zero -> rho = rem_bits + 1
    bl = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits) - bl + 1
    )
    return (h % m), rho.cast("int")


def hll_merge(
    *sketches: DataFrame, group_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """Element-wise register max — sketches built with the same m
    compose losslessly (max is idempotent and commutative, so a key
    counted in several shards still counts once)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*list(group_cols), "j").agg(F.max("M").alias("M"))


def hll_estimate(registers: DataFrame, *, m: int = 1024) -> float:
    """Distinct-count estimate from a register table (collects <= m
    rows — bounded by construction). Standard HLL readout: harmonic
    mean with alpha_m bias constant, linear-counting correction for
    the small range, and the large-range hash-collision correction
    -2^32 * ln(1 - E/2^32) once E passes 2^32/30 (~1.4e8) — without it
    a 32-bit hash saturates and the raw estimate biases low. Each 2^-M
    term is an exact dyadic rational, so the register sum is
    order-independent; the readout is deterministic for a given
    register table. Typical error is ~1.04/sqrt(m) (about 3% at
    m=1024)."""
    import math

    rows = registers.collect()
    if len(rows) > m:
        raise ValueError(f"register table has {len(rows)} rows > m={m}")
    seen = {r["j"]: r["M"] for r in rows}
    s = sum(2.0 ** -v for v in seen.values()) + (m - len(seen))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    e = alpha * m * m / s
    zeros = m - len(seen)
    if e <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    two32 = float(1 << _HLL_HASH_BITS)
    if e > two32 / 30.0:
        return -two32 * math.log(1.0 - e / two32)
    return e


# ---------------------------------------------------------- KMV/bottom-k
# Third member of the sketch family (Bar-Yossef 2002 "k minimum
# values"): keep the k smallest hash values ever seen. Unlike HLL it
# doubles as a UNIFORM DISTINCT SAMPLE of the keys (the bottom-k keys
# ARE a deterministic sample — useful for profiling a join key's value
# distribution without a distinct-groupBy), and the sketch is exactly
# engine-replayable: it is literally SELECT DISTINCT ORDER BY hash
# LIMIT k.

_KMV_SPACE = float(1 << 48)


def _kmv_hash(key: Column) -> Column:
    """48-bit md5-prefix hash (12 hex chars): exact in a long on any
    engine, dense enough that collisions don't bias the estimator
    below ~10^7 distinct keys per sketch."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 12), 16, 10
    ).cast("long")


def kmv_build(df: DataFrame, key_col: str, *, k: int = 1024) -> DataFrame:
    """Bottom-k sketch: (h, key) for the k distinct keys with the
    smallest hashes — k rows, mergeable, and a deterministic uniform
    sample of the DISTINCT key set (hash order is independent of
    frequency, so heavy keys are not over-represented — the property
    that makes it a profiling sample). One distinct + TakeOrdered: the
    exchange carries distinct (h, key) pairs and the limit never sorts
    the full set."""
    kc = F.col(key_col)
    return (
        df.where(kc.isNotNull())
        .select(_kmv_hash(kc).alias("h"), kc.cast("string").alias("key"))
        .distinct()
        .orderBy("h", "key")
        .limit(k)
    )


def kmv_merge(*sketches: DataFrame, k: int = 1024) -> DataFrame:
    """Bottom-k of the union of bottom-k's — equals the one-pass sketch
    of the concatenated streams (min is associative), the same shard
    linearity as cms_merge/hll_merge.

    ``k`` must NOT exceed any input's build k: bottom-512 of a
    bottom-1024 sketch is a valid k=512 sketch (merging DOWN is
    lossless), but merging k=512 builds under k=1024 yields a table
    whose 1024th minimum is not the stream's — the estimator would
    silently bias low. A saturated smaller-k input is indistinguishable
    from an exact small key set by row count alone, which is why the
    build k travels in the ``kmv_save`` sidecar."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h", "key").limit(k)


def kmv_estimate(sketch: DataFrame, *, k: int = 1024) -> float:
    """Distinct-count estimate: with fewer than k values the sketch IS
    the distinct set (exact count); otherwise the classic unbiased
    (k - 1) / normalized k-th minimum. Collects <= k rows.

    ``k`` must be the BUILD k (sidecar-pinned by ``kmv_save``): a
    sketch carrying more rows than k was built with a larger k — its
    max hash is not the k-th minimum — and the call raises; a sketch
    built with a SMALLER k that saturated would be silently read as
    exact, which is the mismatch the sidecar exists to prevent."""
    rows = sketch.select("h").collect()
    if len(rows) > k:
        raise ValueError(
            f"sketch has {len(rows)} rows > k={k}: it was built/merged "
            "with a larger k — pass the build k (see kmv_save/kmv_load, "
            "which pin it in a sidecar)"
        )
    if len(rows) < k:
        return float(len(rows))
    hk = max(r["h"] for r in rows)
    return (k - 1) / ((hk + 1) / _KMV_SPACE)


def kmv_save(sketch: DataFrame, path: str, *, k: int = 1024) -> None:
    """Persist a sketch with its build k pinned in a JSON sidecar (the
    save_classifier/save_lm shape): estimating or merging under a
    different k than the build silently biases the estimator, and the
    row count alone cannot reveal the build k once a sketch saturates."""
    import os

    sketch.write.mode("overwrite").parquet(os.path.join(path, "sketch"))
    layout.write_json(
        os.path.join(path, "_kmv.json"), {"k": int(k), "hash": "md5-prefix-48bit"}
    )


def kmv_load(spark, path: str) -> tuple[DataFrame, int]:
    """-> (sketch DataFrame, build k). Feed the returned k to
    kmv_estimate/kmv_merge — never a default."""
    import os

    meta = layout.read_json(os.path.join(path, "_kmv.json"))
    return spark.read.parquet(os.path.join(path, "sketch")), int(meta["k"])


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    *,
    width: int = 2048,
    depth: int = 5,
    threshold: int = 100,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Keys whose estimated count >= threshold. CMS alone cannot
    enumerate keys (it stores counters, not keys), so candidates come
    from a pass over the data (default: the distinct keys of ``df``
    itself — useful when the SKETCH was built elsewhere/earlier and
    ``df`` is a recent slice; pass an explicit candidate set
    otherwise). One-sided error: every true heavy hitter is returned
    (estimates never undercount); some near-threshold keys may slip in."""
    sk = cms_build(df, key_col, width=width, depth=depth)
    cand = (candidates or df).select(key_col).distinct()
    est = cms_query(sk, cand, key_col, width=width, depth=depth)
    return est.where(F.col("est") >= threshold)


# ------------------------------------------------- quantile histogram
# Fourth member of the sketch family: mergeable quantiles. The bucket
# scheme is the HdrHistogram / DDSketch idea — log-spaced buckets give
# a RELATIVE error guarantee — but on exact integer arithmetic only
# (bit length + right shift), so the bucket table a DuckDB oracle
# builds from the same rows is row-for-row identical, unlike a
# float-log gamma bucketing where a 1-ulp libm difference flips
# boundary values into the neighbouring bucket.
#
# For a value v with magnitude mag and sub_bits = s:
#     e     = bit_length(mag) - 1          (position of the top bit)
#     shift = max(e - s, 0)
#     base  = mag >> shift                 (in [2^s, 2^(s+1)) once e > s)
#     b     = sign(v) * (shift * 2^s + base),   b = 0 iff v = 0
# b is monotone in v (so quantiles of b are quantiles of v), exact for
# |v| < 2^(s+1), and within relative error 2^-(s+1) of v elsewhere
# (bucket width 2^shift against magnitude >= 2^(s+shift)). The bucket
# id space is tiny by construction — at most 2*(63-s)*2^s + 2^(s+1)
# ids over the whole signed 64-bit range (~3.8k at the default s=5) —
# so sketches collect/broadcast without a guard, and per-shard
# sketches MERGE BY ADDITION like the CMS.

MAX_SUB_BITS = 12  # 2^12 sub-buckets -> <=~420k ids: still collectable


def _qsketch_check(sub_bits: int) -> None:
    if not 0 <= sub_bits <= MAX_SUB_BITS:
        raise ValueError(
            f"sub_bits={sub_bits}: need 0..{MAX_SUB_BITS} (relative "
            f"error is 2^-(sub_bits+1); 12 is already 0.012%)"
        )


def qsketch_bucket(value: Column, *, sub_bits: int = 5) -> Column:
    """The histogram bucket id for an integer value column (NULL in,
    NULL out). Callers quantize real-valued inputs to integer
    micro-units FIRST (module discipline — the cast here truncates).
    Pure integer ops (bin + shiftright), engine-portable: DuckDB
    replays it as
    ``sign * (greatest(length(bin(mag))-1-s, 0) * 2^s
    + (mag >> greatest(length(bin(mag))-1-s, 0)))``."""
    _qsketch_check(sub_bits)
    s = int(sub_bits)
    v = value.cast("long")
    mag = F.abs(v)
    # bin() renders without leading zeros in both Spark and DuckDB, so
    # length(bin(mag)) IS bit_length; mag = 0 gives "0" -> e = 0, and
    # the sign factor zeroes the whole id anyway
    e = (F.length(F.bin(mag)) - F.lit(1)).cast("int")
    shift = F.greatest(e - F.lit(s), F.lit(0))
    base = F.call_function("shiftright", mag, shift)
    b = shift.cast("long") * F.lit(1 << s) + base
    sgn = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(
        F.lit(0)
    ).cast("long")
    return sgn * b


def qsketch_build(
    df: DataFrame,
    value_col: str,
    *,
    sub_bits: int = 5,
    group_cols: tuple[str, ...] | list[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Build a quantile histogram over an integer value column:
    DataFrame (*group_cols, b, cnt), one row per non-empty bucket.
    NULL values are not counted (same convention as cms_build).
    ``group_cols`` keeps one sketch per group in the same table (e.g.
    per-language document-length distributions); ``weight_col`` counts
    each row by a non-negative integer weight (pre-aggregated input —
    negative weights fail the job, they would corrupt the CDF).

    One scan projection + one map-side-combined groupBy whose output
    is bounded by groups x ~2*(63-s)*2^s buckets — never by the number
    of rows. Shard sketches merge by addition (``qsketch_merge``)."""
    gcols = list(group_cols)
    b = qsketch_bucket(F.col(value_col), sub_bits=sub_bits)
    if weight_col:
        w = F.expr(
            f"CASE WHEN CAST({weight_col} AS LONG) < 0 THEN "
            f"CAST(raise_error('qsketch_build: negative weight in "
            f"{weight_col} corrupts the quantile CDF') AS LONG) "
            f"ELSE coalesce(CAST({weight_col} AS LONG), 0) END"
        )
    else:
        w = F.lit(1).cast("long")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*gcols, b.alias("b"), w.alias("w"))
        .groupBy(*gcols, "b")
        .agg(F.sum("w").alias("cnt"))
    )


def qsketch_merge(
    *sketches: DataFrame, group_cols: tuple[str, ...] | list[str] = ()
) -> DataFrame:
    """Sum bucket counters — sketches built with the SAME sub_bits
    (and group_cols) compose into any window without touching the raw
    data. Bucket ids encode sub_bits implicitly, so a mismatch shows
    up as interleaved ids with inconsistent CDFs; keep sub_bits in the
    caller's metadata like kmv_save keeps k."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy(*list(group_cols), "b").agg(F.sum("cnt").alias("cnt"))
    )


def qsketch_bounds(b: int, *, sub_bits: int = 5) -> tuple[int, int]:
    """Inclusive [lo, hi] value range of a bucket id (driver-side
    readout helper). Inverts the bucket encoding exactly."""
    _qsketch_check(sub_bits)
    if b == 0:
        return (0, 0)
    sub = 1 << sub_bits
    m = abs(b)
    shift = max(m // sub - 1, 0)
    base = m - shift * sub
    lo, hi = base << shift, ((base + 1) << shift) - 1
    return (lo, hi) if b > 0 else (-hi, -lo)


def qsketch_quantile(
    sketch: DataFrame | list, qs, *, sub_bits: int = 5
) -> list[int] | int:
    """Quantile estimates from an UNGROUPED sketch (collects the
    bucket table — bounded by construction, no guard needed; pass a
    pre-filtered group's rows for grouped sketches, or the already-
    collected [(b, cnt), ...] list). For each q in (0, 1]: the
    midpoint of the bucket holding the rank-ceil(q*N) value in the
    b-ascending (= value-ascending) CDF — the lower-quantile
    convention, rank 1 at q -> 0+. The estimate's relative error vs
    the true rank-q value is <= 2^-(sub_bits+1) (zero when the value
    landed in an exact small bucket). Scalar q in -> scalar out.

    A DataFrame with columns beyond (b, cnt) is refused: selecting
    just b/cnt from a GROUPED sketch would silently merge every
    group's histogram into one wrong answer — slice one group first,
    or use qsketch_group_quantiles."""
    import math

    if isinstance(sketch, DataFrame):
        extra = set(sketch.columns) - {"b", "cnt"}
        if extra:
            raise ValueError(
                f"sketch has extra columns {sorted(extra)}: this looks "
                "like a GROUPED sketch — quantiles over mixed groups "
                "are meaningless; filter to one group or use "
                "qsketch_group_quantiles"
            )
        rows = [(r["b"], r["cnt"]) for r in sketch.select("b", "cnt").collect()]
    else:
        rows = [(int(b), int(c)) for b, c in sketch]
    scalar = not isinstance(qs, (list, tuple))
    qlist = [qs] if scalar else list(qs)
    if not all(0.0 < q <= 1.0 for q in qlist):
        raise ValueError(f"quantiles must be in (0, 1]: {qlist}")
    rows.sort()
    n = sum(c for _, c in rows)
    if n <= 0:
        raise ValueError("empty sketch")
    out = []
    for q in qlist:
        rank = max(1, math.ceil(q * n))
        cum = 0
        val = None
        for b, c in rows:
            cum += c
            if cum >= rank:
                lo, hi = qsketch_bounds(b, sub_bits=sub_bits)
                val = (lo + hi) // 2
                break
        out.append(val)
    return out[0] if scalar else out


def qsketch_group_quantiles(
    sketch: DataFrame,
    qs,
    group_cols: tuple[str, ...] | list[str],
    *,
    sub_bits: int = 5,
    max_groups: int = 100_000,
) -> list[tuple]:
    """Per-group quantile readout of a GROUPED sketch: [(group...,
    est_for_q1, est_for_q2, ...)] sorted by group. Collects the bucket
    table — per-group it is bounded by construction, but the group
    count is not, hence the ``max_groups`` guard (raise it knowingly,
    or aggregate upstream; a per-URL-host sketch at 100 TB is million-
    group territory and belongs in a join against qsketch_bounds
    midpoints instead of a driver readout)."""
    gcols = list(group_cols)
    qlist = list(qs) if isinstance(qs, (list, tuple)) else [qs]
    n_groups = sketch.select(*gcols).distinct().limit(max_groups + 1).count()
    if n_groups > max_groups:
        raise ValueError(
            f"> {max_groups} groups: collecting this readout would "
            "materialize an unbounded table on the driver — raise "
            "max_groups knowingly or aggregate upstream"
        )
    per: dict[tuple, list] = {}
    for row in sketch.select(*gcols, "b", "cnt").collect():
        key = tuple(row[c] for c in gcols)
        per.setdefault(key, []).append((row["b"], row["cnt"]))
    return [
        (*key, *[
            int(v) for v in (
                qsketch_quantile(bs, qlist, sub_bits=sub_bits)
                if len(qlist) > 1
                else [qsketch_quantile(bs, qlist[0], sub_bits=sub_bits)]
            )
        ])
        for key, bs in sorted(per.items())
    ]


def hll_intersect_estimate(
    a: DataFrame, b: DataFrame, *, m: int = 1024
) -> float:
    """Estimated |A ∩ B| of two register tables built with the same m:
    inclusion-exclusion over the mergeable union —
    |A| + |B| - |A ∪ B|, each term the standard hll_estimate readout.
    The union costs one element-wise register max (hll_merge), never a
    data re-scan — the overlap question ("how many of last month's
    URLs did we see this month") stays answerable from stored shard
    sketches alone. Error compounds across the three estimates
    (~1.04/sqrt(m) each), so small intersections of large sets drown
    in noise — use KMV sketches' bottom-k overlap when the ratio
    matters at that extreme; can return slightly negative on
    noise-dominated inputs (clamp at 0)."""
    est = (
        hll_estimate(a, m=m)
        + hll_estimate(b, m=m)
        - hll_estimate(hll_merge(a, b), m=m)
    )
    return max(est, 0.0)


def cms_inner_product(
    a: DataFrame, b: DataFrame, *, width: int = 2048, depth: int = 5
) -> int:
    """Estimated inner product of two count-min sketches built with
    the same width/depth: min over the depth rows of the per-row
    cell-wise dot product (Cormode 2005 §4.3) — an estimate of
    sum over keys of f_A(key) * f_B(key), the unnormalized corpus
    similarity / join-size estimate. One-sided like the point query:
    never below the true inner product, above by at most
    (e/width) * N_A * N_B with probability 1 - e^-depth. The join is
    cell-aligned (depth*width-bounded on both sides) and the readout
    collects depth rows."""
    prod = (
        a.select("r", "c", F.col("cnt").alias("ca"))
        .join(b.select("r", "c", F.col("cnt").alias("cb")), ["r", "c"])
        .groupBy("r")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    rows = prod.collect()
    if len(rows) < depth:
        return 0  # some row shares no cells -> its dot product is 0
    return min(r["dot"] for r in rows)


def kmv_union_membership(
    a: DataFrame, b: DataFrame, *, k: int = 1024
) -> DataFrame:
    """The exact-replayable surface under the KMV Jaccard estimator:
    the bottom-k of the UNION of two same-k sketches, flagged with
    membership in each input — (h, key, in_a, in_b). Pure
    distinct/sort/limit/join algebra over 48-bit md5 hashes, so a SQL
    oracle replays it row-for-row."""
    u = kmv_merge(a, b, k=k)
    fa = a.select("h", "key").withColumn("in_a", F.lit(True))
    fb = b.select("h", "key").withColumn("in_b", F.lit(True))
    return (
        u.join(fa, ["h", "key"], "left")
        .join(fb, ["h", "key"], "left")
        .select(
            "h", "key",
            F.coalesce("in_a", F.lit(False)).alias("in_a"),
            F.coalesce("in_b", F.lit(False)).alias("in_b"),
        )
    )


def kmv_jaccard(
    a: DataFrame, b: DataFrame, *, k: int = 1024
) -> tuple[int, int, float]:
    """Jaccard similarity of two DISTINCT key sets from their bottom-k
    sketches (Beyer 2007's k-min-values set estimator): the bottom-k
    of the union is a uniform sample of A ∪ B, so the fraction of it
    present in BOTH sketches estimates |A ∩ B| / |A ∪ B| with std err
    ~1/sqrt(k). Returns (n_shared, n_union, jaccard). Exact when the
    union fits under k (the sample IS the union). This is the
    small-overlap companion hll_intersect_estimate points at: the
    ratio is measured directly on a shared sample instead of
    differencing three noisy cardinalities.

    ``k`` must not exceed either input's BUILD k (the kmv_merge
    contract): merging DOWN is lossless — bottom-256 of k=512 builds
    is a valid k=256 union sample — but a k above the build k reads
    rows that are not the stream's true bottom-k and biases the
    ratio; row counts cannot reveal this, which is why the build k
    travels in the kmv_save sidecar."""
    rows = kmv_union_membership(a, b, k=k).collect()
    n_union = len(rows)
    if n_union == 0:
        return (0, 0, 0.0)
    n_shared = sum(1 for r in rows if r["in_a"] and r["in_b"])
    return (n_shared, n_union, n_shared / n_union)
