"""Hashed n-gram linear text classifier — the fastText-style quality
filter every large curation pipeline trains (CCNet §4.2 fits a fastText
model on Wikipedia-vs-crawl; Dolma and RefinedWeb ship the same shape):
word unigram+bigram features hashed into a fixed bucket space, mean
pooling, a linear layer, a squashing function.

Engine-replayable by construction (the module discipline shared with
lm.py / sampling.py):

- Features hash with the md5-based ``sampling.hash_bucket`` — the same
  assignment in Spark, DuckDB, and numpy.
- Weights are INTEGER micro-units; a document's logit numerator is an
  exact integer sum (partitioning-invariant), divided once at the end:
  ``z = (bias_micro + sum_g w_micro[b(g)]) / (1e6 * n_grams)``.
- The score surface is the LOGIT (``logit_micro = round(1e6 * z)``) and
  its sign threshold — pure +,*,/ on IEEE doubles, so a DuckDB oracle
  reproduces it bit-for-bit. ``sigmoid`` is exposed for humans but kept
  off the oracle surface (libm ``exp`` is not guaranteed identically
  rounded across engines).
- Training is full-batch gradient descent on a HARD-sigmoid logistic
  loss: p = clip(0.5 + z/4, 0, 1). The hard sigmoid keeps the whole
  training loop transcendental-free, so the distributed run and the
  numpy replica in tests agree exactly, iteration for iteration.
  Per-(doc, feature) gradient contributions are micro-quantized BEFORE
  the feature-wise integer sum — the same
  quantize-then-sum-exact-integers rule lm_score established.

100 TB shape: the per-iteration work is one broadcast join of the
weight table (n_features rows, bounded and small by construction —
that is the hashing trick's whole point) onto a checkpointed exploded
feature table, one groupBy(doc) for logits, one groupBy(feature) for
the gradient whose output is again n_features-bounded. No corpus-sized
shuffle; the corpus tokenizes exactly once.

No counterpart in the reference (a SPARQL store): cited against the
published pipelines above.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fourstore_spark import layout

from .sampling import _MOD, _grams_expr, hash_bucket

MICRO = 1_000_000.0

# gradient/weight tables are n_features-bounded and collected to the
# driver each iteration — guard like every driver materialization.
# Capped at hash_bucket's modulus (the same ceiling cms_build enforces
# on width): grams hash through a 1e6 space before the % n_features
# fold, so any bucket >= _MOD would be permanently unreachable and
# every extra "feature" past it pure collision.
MAX_FEATURES = _MOD


def doc_features(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
) -> DataFrame:
    """Exploded hashed-feature table: (doc_id, b, cnt, n_grams) with b =
    hash_bucket(gram) % n_features. Blank documents drop (no grams —
    nothing to score, same rule as lm_score)."""
    from .lm import lm_tokens

    if n_features > _MOD:
        raise ValueError(
            f"n_features={n_features} > hash modulus {_MOD}: buckets "
            ">= the modulus are unreachable through hash_bucket, so a "
            "larger space only pretends to cut collisions — use "
            f"n_features <= {_MOD}"
        )

    toks = df.select(
        F.col(id_col).alias("doc_id"), lm_tokens(F.col(text_col)).alias("t")
    ).where(F.size("t") > 0)
    g = toks.select(
        "doc_id", F.explode(_grams_expr()).alias("gram")
    ).select(
        "doc_id", (hash_bucket(F.col("gram")) % n_features).alias("b")
    )
    counts = g.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
    # totals from the aggregated counts, not the raw gram stream: the
    # second shuffle carries (doc, bucket) rows instead of every gram
    # occurrence, and ReuseExchange shares the first aggregation
    totals = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams")
    )
    return counts.join(totals, "doc_id")


def classifier_logits(
    df: DataFrame,
    weights: DataFrame,
    *,
    bias_micro: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    threshold_micro: int = 0,
) -> DataFrame:
    """Score documents against a weight table (b, w_micro): (doc_id,
    n_grams, logit_micro, quality) where quality = logit_micro >=
    threshold_micro. The logit is mean-pooled:

        z = (bias_micro + sum_g w_micro[b(g)]) / (1e6 * n_grams)
        logit_micro = round(1e6 * z)    -- half away from zero

    Unhashed-but-unweighted buckets score 0 (a missing row in the
    weight table is a zero weight). Thresholding happens in LOGIT space
    — sigmoid is monotonic, so quality at threshold_micro=0 equals
    p >= 0.5 without putting exp() on the oracle surface.

    One-pass shape (r12, measured -30% at sf1/sf3 with identical
    outputs): the logit numerator is summed over the raw gram
    OCCURRENCE stream through the broadcast weight join — scoring
    never needs the per-(doc, bucket) count table (sum over
    occurrences of w[b] == sum over buckets of cnt*w[b], exact
    integers either way), so the plan is one broadcast hash join and
    ONE shuffle to doc_id instead of doc_features' two aggregations
    plus a re-join. Training keeps doc_features: its gradient rounds
    per (doc, bucket, cnt) — that shape IS the documented
    recurrence."""
    if n_features > MAX_FEATURES:
        raise ValueError(
            f"n_features={n_features} > hash modulus {MAX_FEATURES}: "
            "buckets past it are unreachable through hash_bucket"
        )
    from .lm import lm_tokens

    toks = df.select(
        F.col(id_col).alias("doc_id"), lm_tokens(F.col(text_col)).alias("t")
    ).where(F.size("t") > 0)
    g = toks.select(
        "doc_id", F.explode(_grams_expr()).alias("gram")
    ).select(
        "doc_id", (hash_bucket(F.col("gram")) % n_features).alias("b")
    )
    z = (
        F.lit(int(bias_micro)) + F.sum(F.coalesce("w_micro", F.lit(0)))
    ) / (F.lit(MICRO) * F.count(F.lit(1)))
    return (
        g.join(F.broadcast(weights), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(z * MICRO, 0).cast("long").alias("logit_micro"),
        )
        .withColumn(
            "quality",
            F.col("logit_micro") >= F.lit(int(threshold_micro)),
        )
    )


def sigmoid_prob(logit_micro: Column) -> Column:
    """Display-only probability from a logit_micro column. NOT on any
    oracle surface: libm exp() rounding may differ across engines."""
    return 1.0 / (1.0 + F.exp(-(logit_micro / F.lit(MICRO))))


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    *,
    iters: int = 20,
    lr: float = 4.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
) -> tuple[DataFrame, int]:
    """Fit the linear layer on a positive corpus (quality reference,
    y=1 — CCNet uses Wikipedia) vs a negative corpus (y=0, raw crawl).
    Returns (weights DataFrame (b, w_micro), bias_micro).

    Full-batch gradient descent on hard-sigmoid logistic loss,
    deterministic end to end:

        z_i    = (bias + sum_f w[f] x_if) / 1e6      (x_if = cnt/n_i)
        p_i    = clip(0.5 + z_i / 4, 0, 1)           (hard sigmoid)
        r_i    = round(1e6 (p_i - y_i))              (integer residual)
        c_if   = round(r_i * cnt_if / n_i)           (integer contrib)
        g_f    = sum_i c_if                          (EXACT integer sum)
        w[f]  -= round(lr * g_f / n_docs)            (driver, integer)
        bias  -= round(lr * sum_i r_i / n_docs)      (driver, integer)

    Note the bias gradient sums the RAW residual r_i without the
    1/n_i mean-pooling factor the weight gradients carry (even though
    z divides bias by n_i too) — an intentional asymmetry: the bias
    sees every document at weight 1 regardless of length, i.e. it
    trains at an effectively larger rate. This recurrence, asymmetry
    included, IS the documented contract the numpy replica in
    tests/test_classifier.py replays iteration for iteration.

    The quantize-before-sum rule makes every iteration independent of
    partitioning and shuffle order; tests replay the identical
    recurrence in numpy. One tokenization: the exploded feature table
    is checkpointed and reused by all ``iters`` passes. The gradient
    table is n_features-bounded (<= MAX_FEATURES); the per-iteration
    driver traffic is O(n_features), never O(corpus)."""
    if n_features > MAX_FEATURES:
        raise ValueError(
            f"n_features={n_features} > {MAX_FEATURES}: buckets past "
            "hash_bucket's modulus are unreachable (grams fold through "
            "a 1e6 hash space first), and the weight/gradient tables "
            "are collected driver-side each iteration — use a coarser "
            "hash space (collisions are the hashing trick's accepted "
            "trade-off)"
        )
    spark = positive.sparkSession
    # prefix-synthesized ids: the two corpora may legitimately share
    # id values (both start at doc_id 0) — a raw union would merge a
    # positive and a negative document into one feature bag
    labeled = positive.select(
        F.concat(F.lit("p:"), F.col(id_col).cast("string")).alias("__id"),
        F.col(text_col).alias(text_col),
    ).unionByName(
        negative.select(
            F.concat(F.lit("n:"), F.col(id_col).cast("string"))
            .alias("__id"),
            F.col(text_col).alias(text_col),
        )
    )
    # one tokenization for all iterations (lm_score discipline),
    # PRE-PARTITIONED AND PRE-SORTED BY doc_id (r13, guide §2.4/§5):
    # doc_features' output is keyed (doc_id, b), which does NOT satisfy
    # the training window's ClusteredDistribution(doc_id) — without
    # this every one of the ``iters`` window aggregates re-exchanged
    # (and re-sorted) the whole feature table to doc_id. persist() is
    # load-bearing here where localCheckpoint is NOT: a checkpointed
    # plan comes back as Scan ExistingRDD with UnknownPartitioning
    # (measured on this Spark: the doc_id exchange stayed in every
    # iteration), while InMemoryRelation preserves both the hash
    # partitioning and the sort order, so each iteration plans as
    # cache scan -> broadcast weight join -> Window with NO exchange
    # and NO sort up to the n_features-bounded gradient groupBy.
    # MEMORY_AND_DISK: blocks that exceed storage memory spill to
    # executor-local disk — no new OOM mode at the 100 TB design
    # point, and the table is the narrow exploded feature projection,
    # not the corpus. The partition count derives from the cluster
    # (defaultParallelism), not a local constant.
    feats = (
        doc_features(
            labeled, text_col=text_col, id_col="__id",
            n_features=n_features,
        )
        .withColumn(
            "__y",
            F.when(F.col("doc_id").startswith("p:"), F.lit(1))
            .otherwise(F.lit(0)),
        )
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .sortWithinPartitions("doc_id")
        .persist()
    )
    try:
        n_docs = feats.select("doc_id").distinct().count()
        if n_docs == 0:
            raise ValueError("no non-blank documents to train on")
        return _gd_train(feats, n_docs, iters=iters, lr=lr)
    finally:
        # the returned weight table is a driver-built literal DataFrame
        # (no lineage into feats) — safe to release the cache here
        feats.unpersist()


def _gd_train(
    feats: DataFrame, n_docs: int, *, iters: int, lr: float
) -> tuple[DataFrame, int]:
    """The documented gradient-descent recurrence over a checkpointed
    (doc_id, b, cnt, n_grams, __y) feature table — a deterministic
    function of the per-doc feature bags and labels only (doc ids just
    route the grouping), which is what lets train_langid share ONE
    feature build across its K one-vs-rest passes with outputs
    identical to K independent trains (pinned in
    tests/test_classifier.py)."""
    spark = feats.sparkSession
    from pyspark.sql import Window

    w: dict[int, int] = {}
    bias = 0
    # per-iteration shape (r12, measured -47% vs the groupBy+re-join
    # form in a same-session A/B at sf1, identical weights): the
    # per-doc logit is a WINDOW sum over the doc's feature rows — the
    # residual lands on every row in the partition that grouped the
    # doc, so the doc-count-sized aggregate-then-rejoin round trip
    # disappears. The bias gradient (raw residual sum — see the
    # recurrence note above) rides the same aggregation as the weight
    # gradients as a second aggregate column over each doc's first row
    # (min b marks it; (doc_id, b) rows are unique). With feats cached
    # pre-partitioned/pre-sorted by doc_id (r13), each iteration is
    # ZERO corpus shuffles: cache scan -> broadcast weight join ->
    # window -> one n_features-bounded groupBy, one job.
    win = Window.partitionBy("doc_id")
    for _ in range(iters):
        wdf = spark.createDataFrame(
            list(w.items()) or [(0, 0)], "b long, w_micro long"
        )
        fw = feats.join(F.broadcast(wdf), "b", "left")
        z = (
            F.lit(bias)
            + F.sum(F.col("cnt") * F.coalesce("w_micro", F.lit(0)))
            .over(win)
        ) / (F.lit(MICRO) * F.col("n_grams"))
        p = F.least(
            F.greatest(F.lit(0.5) + z / 4.0, F.lit(0.0)), F.lit(1.0)
        )
        rows = fw.select(
            "b",
            "cnt",
            "n_grams",
            F.round((p - F.col("__y")) * MICRO, 0)
            .cast("long")
            .alias("r_micro"),
            (F.col("b") == F.min("b").over(win)).alias("__first"),
        )
        # bias gradient FUSED into the weight-gradient aggregation
        # (r13): the old form unioned a b = -1 sentinel branch onto the
        # gradient stream, which duplicated the join+window subtree —
        # cheap while a per-iteration doc_id Exchange existed (shuffle
        # stage reuse covered the second evaluation), but a full second
        # window pass once the cache removed that exchange. Summing the
        # first-row residuals as a second aggregate per bucket and
        # adding the n_features-bounded partials driver-side is the
        # same exact integer total: sum_b sum_{first rows in b} r ==
        # sum_{first rows} r.
        grad = rows.select(
            "b",
            F.round(
                F.col("r_micro") * F.col("cnt") / F.col("n_grams"), 0
            ).cast("long").alias("c"),
            F.when(F.col("__first"), F.col("r_micro")).alias("rb"),
        )
        gb = grad.groupBy("b").agg(
            F.sum("c").alias("g"), F.sum("rb").alias("gb")
        ).collect()
        gbias = 0
        for r in gb:
            gbias += r["gb"] or 0
            step = round(lr * r["g"] / n_docs)
            if step:
                w[r["b"]] = w.get(r["b"], 0) - step
        bias -= round(lr * gbias / n_docs)
    wdf = spark.createDataFrame(
        list(w.items()) or [(0, 0)], "b long, w_micro long"
    ).where(F.col("w_micro") != 0)
    return wdf, bias


def save_classifier(
    weights: DataFrame,
    bias_micro: int,
    path: str,
    *,
    n_features: int = 4096,
    threshold_micro: int = 0,
) -> None:
    """Persist the trained artifact (the save_lm shape: parquet weight
    table + JSON sidecar pinning the hyperparameters the scorer must
    reuse — a different n_features would silently remap every
    feature)."""
    import os

    weights.write.mode("overwrite").parquet(os.path.join(path, "weights"))
    layout.write_json(
        os.path.join(path, "_classifier.json"),
        {
            "bias_micro": int(bias_micro),
            "n_features": int(n_features),
            "threshold_micro": int(threshold_micro),
            "features": "word unigram+bigram, md5 hash_bucket",
            "pooling": "mean",
        },
    )


def load_classifier(spark, path: str):
    """-> (weights DataFrame, sidecar dict)."""
    import os

    meta = layout.read_json(os.path.join(path, "_classifier.json"))
    return spark.read.parquet(os.path.join(path, "weights")), meta


def classifier_score_artifact(
    spark, df: DataFrame, path: str, **kwargs
) -> DataFrame:
    """Score against a saved artifact — train once, ship everywhere
    (the CCNet deployment shape)."""
    weights, meta = load_classifier(spark, path)
    return classifier_logits(
        df,
        weights,
        bias_micro=meta["bias_micro"],
        n_features=meta["n_features"],
        threshold_micro=meta.get("threshold_micro", 0),
        **kwargs,
    )


# ---------------------------------------------------- multi-class langid
# fastText's second standard role (after the quality filter): language
# identification. One-vs-rest over the SAME deterministic binary
# machinery — per label, train_quality_classifier(label-positive,
# rest-negative) — so every determinism/oracle property (integer
# micro-weights, hard-sigmoid recurrence, numpy-replica equality)
# carries over unchanged. Scoring keeps the integer-exact logit
# surface: per-(doc, lang) mean-pooled logits, argmax in logit space.

MAX_LABELS = 64  # each label trains a full binary pass — K scales cost


def train_langid(
    df: DataFrame,
    *,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 8,
    lr: float = 4.0,
    n_features: int = 4096,
    max_labels: int = MAX_LABELS,
) -> tuple[DataFrame, DataFrame]:
    """One-vs-rest language-ID training: for each distinct label L,
    fit the binary classifier on (label == L) vs the rest. Returns
    (weights (lang, b, w_micro), biases (lang, bias_micro)) — both
    label-count x n_features bounded, broadcastable. Labels collect
    driver-side (guarded by ``max_labels``: K gradient-descent loops
    is the cost model, and a label explosion usually means an unclean
    label column, not a real language set). Rows need unique ids (one
    corpus — there is no cross-corpus id collision for the binary
    trainer's p:/n: prefixing to solve).

    The corpus tokenizes ONCE: the feature table builds and
    checkpoints a single time with the label column attached, and each
    label's pass only flips __y on it — K independent binary trains
    would re-tokenize 2K corpus halves for byte-identical results
    (equality pinned in tests/test_classifier.py). Measured -11% at
    sf0.01 K=5 where the K x iters driver round-trips dominate; the
    tokenize share this removes grows with corpus size."""
    base = df.where(F.col(label_col).isNotNull())
    labels = sorted(
        r[0]
        for r in base.select(label_col).distinct().limit(
            max_labels + 1
        ).collect()
    )
    if len(labels) > max_labels:
        raise ValueError(
            f"> {max_labels} distinct labels in {label_col}: each label "
            "trains a full binary classifier — clean the label column "
            "or raise max_labels knowingly"
        )
    spark = df.sparkSession
    # pre-partitioned + pre-sorted by doc_id and PERSISTED for the same
    # reason as train_quality_classifier (persist, not localCheckpoint:
    # only InMemoryRelation preserves the partitioning/ordering — see
    # the note there): K labels x ``iters`` window aggregates all reuse
    # this one exchange (r13)
    feats_lab = (
        doc_features(
            base, text_col=text_col, id_col=id_col, n_features=n_features
        )
        .join(
            base.select(
                F.col(id_col).alias("doc_id"),
                F.col(label_col).alias("__label"),
            ),
            "doc_id",
        )
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .sortWithinPartitions("doc_id")
        .persist()
    )
    try:
        n_docs = feats_lab.select("doc_id").distinct().count()
        if n_docs == 0:
            raise ValueError("no non-blank documents to train on")
        wparts, brows = [], []
        for lab in labels:
            feats = feats_lab.withColumn(
                "__y", (F.col("__label") == lab).cast("int")
            )
            w, bias = _gd_train(feats, n_docs, iters=iters, lr=lr)
            wparts.append(
                w.select(F.lit(lab).alias("lang"), "b", "w_micro")
            )
            brows.append((lab, int(bias)))
        weights = wparts[0]
        for w in wparts[1:]:
            weights = weights.unionByName(w)
        biases = spark.createDataFrame(
            brows, "lang string, bias_micro long"
        )
        # per-label weight tables are driver-built literals — the
        # checkpoint below materializes nothing that reads feats_lab
        return weights.localCheckpoint(), biases
    finally:
        feats_lab.unpersist()


def langid_scores(
    df: DataFrame,
    weights: DataFrame,
    biases: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
) -> DataFrame:
    """Per-(doc, lang) mean-pooled logits: (doc_id, lang, n_grams,
    logit_micro) — one row per document per label, INCLUDING labels
    whose weights hit no bucket (bias-only logit), because an argmax
    over a missing row is a wrong argmax. Same integer algebra as
    classifier_logits:

        z = (bias[lang] + sum_g w[lang][b(g)]) / (1e6 * n_grams)

    One-aggregation shape (late r12, same-session A/B at sf1: 16.1 ->
    8.9 s, -45%, outputs identical): the (lang, b) weight table pivots
    to ONE broadcastable row per bucket with K weight columns, the
    gram stream joins it once (1x rows — a (lang, b)-keyed join would
    explode the stream K-fold), one groupBy(doc) sums all K numerators
    plus n_grams, and a K-way ``stack`` unpivots to (doc, lang) rows
    with each label's bias folded in as a literal. One corpus shuffle,
    no second corpus-sized join; K and n_features both bounded."""
    if n_features > MAX_FEATURES:
        raise ValueError(
            f"n_features={n_features} > hash modulus {MAX_FEATURES}"
        )
    from .lm import lm_tokens

    brows = sorted(
        (r["lang"], int(r["bias_micro"])) for r in biases.collect()
    )
    if not brows:
        raise ValueError("empty one-vs-rest stack: no labels in biases")
    langs = [lab for lab, _ in brows]
    wtab = weights.groupBy("b").agg(*[
        F.sum(
            F.when(F.col("lang") == lab, F.col("w_micro")).otherwise(0)
        ).alias(f"w{i}")
        for i, lab in enumerate(langs)
    ])
    toks = df.select(
        F.col(id_col).alias("doc_id"), lm_tokens(F.col(text_col)).alias("t")
    ).where(F.size("t") > 0)
    g = toks.select(
        "doc_id", F.explode(_grams_expr()).alias("gram")
    ).select(
        "doc_id", (hash_bucket(F.col("gram")) % n_features).alias("b")
    )
    agg = (
        g.join(F.broadcast(wtab), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            *[
                F.sum(F.coalesce(f"w{i}", F.lit(0))).alias(f"s{i}")
                for i in range(len(langs))
            ],
        )
    )
    # labels land inside a SQL string literal — escape quotes (labels
    # are data, e.g. a lang column scraped from the wild)
    stack = ", ".join(
        "'{}', {}L + s{}".format(lab.replace("'", "''"), bias, i)
        for i, (lab, bias) in enumerate(brows)
    )
    return (
        agg.selectExpr(
            "doc_id", "n_grams",
            f"stack({len(langs)}, {stack}) AS (lang, num)",
        )
        .select(
            "doc_id", "lang", "n_grams",
            F.round(
                F.col("num") / (F.lit(MICRO) * F.col("n_grams")) * MICRO, 0
            ).cast("long").alias("logit_micro"),
        )
    )


def langid_predict(
    df: DataFrame,
    weights: DataFrame,
    biases: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
) -> DataFrame:
    """Argmax readout of langid_scores: (doc_id, lang, logit_micro)
    with the highest logit per document, ties broken toward the
    lexicographically SMALLEST label (deterministic — an argmax that
    depends on row order is not a contract)."""
    scores = langid_scores(
        df, weights, biases,
        text_col=text_col, id_col=id_col, n_features=n_features,
    )
    pick = F.min(
        F.struct((-F.col("logit_micro")).alias("neg"), "lang")
    ).alias("p")
    return scores.groupBy("doc_id").agg(pick).select(
        "doc_id",
        F.col("p.lang").alias("lang"),
        (-F.col("p.neg")).alias("logit_micro"),
    )


def save_langid(
    weights: DataFrame,
    biases: DataFrame,
    path: str,
    *,
    n_features: int = 4096,
) -> None:
    """Persist the one-vs-rest stack (the save_classifier shape): the
    (lang, b, w_micro) weight table and (lang, bias_micro) biases as
    parquet, with n_features and the label list pinned in a JSON
    sidecar written LAST (a crashed save rebuilds instead of serving a
    half-artifact). Scoring under a different n_features would hash
    grams into different buckets — the sidecar is the contract."""
    import os

    weights.write.mode("overwrite").parquet(
        os.path.join(path, "weights")
    )
    biases.write.mode("overwrite").parquet(os.path.join(path, "biases"))
    labels = sorted(
        r["lang"] for r in biases.select("lang").distinct().collect()
    )
    layout.write_json(
        os.path.join(path, "_langid.json"),
        {
            "n_features": int(n_features),
            "labels": labels,
            "features": "word unigram+bigram, md5 hash_bucket",
            "pooling": "mean",
        },
    )


def load_langid(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    """-> (weights, biases, n_features). Feed n_features to
    langid_scores/langid_predict — never a default."""
    import os

    meta = layout.read_json(os.path.join(path, "_langid.json"))
    return (
        spark.read.parquet(os.path.join(path, "weights")),
        spark.read.parquet(os.path.join(path, "biases")),
        int(meta["n_features"]),
    )
