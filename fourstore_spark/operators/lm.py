"""N-gram language-model quality scoring and BM25 ranked retrieval.

Extends the reference's free-text machinery (token derived quads,
src/frontend/import.c:603-700) with the two classic corpus-scoring
primitives a training-data pipeline runs at scale:

- **CCNet-style LM perplexity filtering** (Wenzek et al. 2020): train an
  add-k-smoothed bigram LM on the corpus itself, score every document's
  perplexity under it, and split the corpus into head/middle/tail
  quality buckets at the perplexity terciles.
- **BM25 ranked retrieval** (Robertson/Sparck Jones): score documents
  against a bag-of-terms query with the standard k1/b saturation and
  length normalization.

Scale shape (100 TB): counting is one explode + one map-side-combined
groupBy; scoring joins doc bigrams to the count table on (w1, w2) — a
plain equi-join Catalyst can shuffle-hash, or a broadcast when the LM is
pruned to a top-N vocabulary (`prune_top`, the CCNet deployment mode:
a pruned KenLM is a few GB against petabytes of text). BM25's document
frequencies and average length are tiny aggregates; the per-term scan
filters to query terms before the explode so non-matching tokens never
leave the scan projection.

Determinism discipline: every logarithm is quantized to integer
micro-nats (round(ln(...) * 1e6)) BEFORE summation, so per-document
totals are exact integer sums — order-independent across Spark/DuckDB
partitionings — and safe for the driver's value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fourstore_spark import layout

__all__ = [
    "lm_tokens",
    "unigram_counts",
    "bigram_counts",
    "trigram_counts",
    "lm_score",
    "ccnet_partition",
    "stupid_backoff_score",
    "bm25_score",
    "write_bm25_index",
    "bm25_query",
    "append_bm25_index",
    "compact_bm25_index",
    "save_lm",
    "load_lm",
]

MICRO = 1_000_000.0


def lm_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (empty/blank text -> empty array)."""
    t = F.trim(F.lower(text))
    return F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))


def _tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), lm_tokens(F.col(text_col)).alias("t")
    ).where(F.size("t") > 0)


def unigram_counts(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(w1, c1) occurrence counts over the whole corpus — one explode +
    one groupBy; partial aggregation combines map-side before the single
    shuffle on the token."""
    return (
        _tokenized(df, text_col, id_col)
        .select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )


def _bigrams(toks: DataFrame) -> DataFrame:
    """doc_id, w1, w2 for every adjacent token pair (docs with < 2
    tokens contribute nothing). The pair array is built inside the scan
    projection (sequence + transform, whole-stage codegen) — tokens are
    never shuffled, only the pairs that survive downstream filters."""
    pairs = F.expr(
        "transform(sequence(0, size(t) - 2), "
        "i -> struct(t[i] AS w1, t[i + 1] AS w2))"
    )
    return (
        toks.where(F.size("t") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )


def bigram_counts(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(w1, w2, c12) adjacent-pair counts over the whole corpus."""
    return (
        _bigrams(_tokenized(df, text_col, id_col))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )


def _padded_gram_counts(toks: DataFrame, order: int) -> DataFrame:
    """Fused n-gram counting: ONE corpus pass whose (w1..wN, c) output
    yields every lower-order count table by re-aggregating the
    vocab-sized result instead of re-scanning the corpus.

    Emits one row per TOKEN OCCURRENCE — position i carries
    (t[i], t[i+1], ..., t[i+order-1]) with NULL padding past the end of
    the document — then one map-side-combined groupBy over the padded
    tuple. Exact identities (each position is counted exactly once):

        c1(w)        = sum of c over rows with w1 = w
        c12(a, b)    = sum of c over rows with (w1, w2) = (a, b), w2 != NULL
        c123(a,b,c)  = the rows with w3 != NULL themselves

    so unigram/bigram(/trigram) tables derived from this output are
    integer-identical to unigram_counts/bigram_counts/trigram_counts —
    for the cost of one tokenize+explode scan instead of `order`."""
    fields = ["t[i] AS w1"] + [
        f"CASE WHEN i < size(t) - {j} THEN t[i + {j}] END AS w{j + 1}"
        for j in range(1, order)
    ]
    padded = F.expr(
        "transform(sequence(0, size(t) - 1), "
        f"i -> struct({', '.join(fields)}))"
    )
    cols = [f"p.w{j + 1}" for j in range(order)]
    # guard, not just a precondition: for size(t) = 0 Spark's
    # sequence(0, -1) DESCENDS ([0, -1]) and would emit two all-NULL
    # rows per blank doc, corrupting c1 and n_tokens (or raising
    # INVALID_ARRAY_INDEX under ANSI). Current callers pass _tokenized
    # output (already size > 0) so this filter drops nothing today —
    # it pins the invariant for future callers (ADVICE r12).
    return (
        toks.where(F.size("t") > 0)
        .select(F.explode(padded).alias("p"))
        .select(*cols)
        .groupBy(*[f"w{j + 1}" for j in range(order)])
        .agg(F.count("*").alias("c"))
    )


def lm_score(
    df: DataFrame,
    unigrams: DataFrame | None = None,
    bigrams: DataFrame | None = None,
    *,
    k: float = 0.5,
    vocab_size: int | None = None,
    prune_top: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document add-k bigram-LM score: (doc_id, n_bigrams,
    logprob_micro, ppl).

    logp(w2|w1) = ln((c12 + k) / (c1 + k * V)); V = distinct unigrams.
    Each bigram's logp is quantized to micro-nats (BIGINT) before the
    per-document sum, so `logprob_micro` is an exact integer total.
    `ppl` = exp(-logprob_micro / 1e6 / n_bigrams) is the conventional
    per-bigram perplexity (double, derived — compare on the integers).

    Train-on-self by default (the CCNet bootstrap); pass pre-trained
    `unigrams`/`bigrams` to score against a held LM. `prune_top` keeps
    only the N most frequent bigrams (ties broken by (w1, w2)) — the
    dropped mass falls back to the smoothed floor ln(k / (c1 + k*V)),
    and the now-small LM broadcasts instead of shuffling the corpus.
    """
    # NOTE (r12): a fused padded-pair count pass (_padded_gram_counts,
    # kept for stupid_backoff_score where it removes THREE corpus
    # passes) was tried here too and REVERTED by measurement: lm_score
    # only saves the cheap token-explode pass (3 -> 2 scans) while
    # paying a heavier padded explode + an extra checkpoint job —
    # interleaved A/B best-of-4: sf1 10.2 -> 11.9 s, sf3 29.3 -> 29.9 s.
    self_train = unigrams is None and bigrams is None and prune_top is None
    if unigrams is None:
        unigrams = unigram_counts(df, text_col, id_col)
    if bigrams is None:
        bigrams = bigram_counts(df, text_col, id_col)
    if vocab_size is None:
        # the count job would otherwise scan+aggregate the corpus once
        # for V and AGAIN for the scoring join — materialize the
        # vocab-sized table before counting so the corpus tokenizes
        # once per distinct downstream (3 scans instead of 4)
        unigrams = unigrams.localCheckpoint()
        vocab_size = unigrams.count()
    denom = F.col("c1") + F.lit(k) * F.lit(float(vocab_size))
    if self_train:
        # FUSED plan for the train-on-self bootstrap: pre-join the two
        # VOCAB-SIZED count tables into one (w1, w2) -> lp_micro score
        # table, so the corpus-sized bigram stream shuffles through ONE
        # equi-join instead of two. Safe exactly here: every corpus
        # bigram is in its own count table by construction, so the
        # unseen-pair floor can never fire (pretrained scoring keeps
        # the two-join form below, where left-miss = smoothed floor).
        logp = F.log((F.col("c12") + F.lit(k)) / denom)
        score_tbl = bigrams.join(unigrams, "w1").select(
            "w1", "w2",
            F.round(logp * MICRO, 0).cast("long").alias("lp_micro"),
        )
        scored = (
            _bigrams(_tokenized(df, text_col, id_col))
            .join(score_tbl, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_bigrams"),
                F.sum("lp_micro").alias("logprob_micro"),
            )
        )
        return scored.withColumn(
            "ppl",
            F.exp(-(F.col("logprob_micro") / MICRO) / F.col("n_bigrams")),
        )
    if prune_top is not None:
        # Only the PRUNED bigram table broadcasts — the unigram table is
        # the distinct-token vocabulary, itself huge at web scale, and
        # broadcasting it would driver-collect exactly the blowup the
        # translator's big-side veto exists to prevent; its join stays
        # whatever Catalyst picks from statistics (ADVICE r9).
        bigrams = (
            bigrams.orderBy(F.desc("c12"), "w1", "w2").limit(prune_top)
        )
        bigrams = F.broadcast(bigrams)

    toks = _tokenized(df, text_col, id_col)
    big = _bigrams(toks)
    logp = F.log((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k)) / denom)
    scored = (
        big.join(unigrams, "w1")  # every w1 occurs, so inner is total
        .join(bigrams, ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.round(logp * MICRO, 0).cast("long").alias("lp_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_micro").alias("logprob_micro"),
        )
    )
    return scored.withColumn(
        "ppl",
        F.exp(-(F.col("logprob_micro") / MICRO) / F.col("n_bigrams")),
    )


def ccnet_partition(
    scored: DataFrame,
    *,
    fractions: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    exact: bool = True,
    max_exact_rows: int = 100_000_000,
) -> DataFrame:
    """Split LM-scored docs into head/middle/tail by perplexity terciles
    (CCNet §4.3: lower perplexity = cleaner text = 'head').

    Thresholds come from one `percentile` over the per-bigram average
    micro-nats (an integer-derived double, so both engines interpolate
    identical values); the bucket assignment itself is a pure column
    expression. Exact `percentile` buffers every value in one
    aggregation buffer, so it is driver/executor-memory-bound: above
    `max_exact_rows` the exact path raises and `exact=False` switches
    to `approx_percentile` (the split stays a two-job pattern — tiny
    threshold aggregate + one scan). The exact path is the oracle
    contract; the approx path is the 100 TB deployment mode."""
    avg = (-F.col("logprob_micro") / F.col("n_bigrams")).alias("avg_nll")
    base = scored.select("doc_id", "n_bigrams", "logprob_micro", avg)
    lo, hi = fractions
    if exact:
        # the upstream plan is typically the whole lm_score pipeline;
        # materialize it ONCE so the guard count, the percentile, and
        # the bucket scan are three cheap reads instead of three full
        # recomputes (the localCheckpoint discipline lm_score itself
        # applies)
        base = base.localCheckpoint()
        if base.count() > max_exact_rows:
            raise ValueError(
                f"ccnet_partition(exact=True) over > {max_exact_rows} "
                "rows buffers every avg_nll in one aggregation buffer — "
                "pass exact=False to use approx_percentile at scale"
            )
        pct = f"percentile(avg_nll, array({lo!r}, {hi!r}))"
    else:
        pct = f"approx_percentile(avg_nll, array({lo!r}, {hi!r}), 10000)"
    t = base.agg(F.expr(pct).alias("t")).head()["t"]
    if t is None:  # empty input: no terciles to compute
        return base.withColumn("bucket", F.lit(None).cast("string"))
    return base.withColumn(
        "bucket",
        F.when(F.col("avg_nll") <= float(t[0]), F.lit("head"))
        .when(F.col("avg_nll") <= float(t[1]), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def bm25_score(
    df: DataFrame,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 scores for a bag-of-terms query: (doc_id, n_hits,
    score_micro) for every document matching >= 1 term.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)); per-term contribution
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)), quantized to
    micro units per term then integer-summed (same determinism
    discipline as lm_score).

    The corpus tokenizes EXACTLY ONCE: a narrow (doc_id, dl,
    query-term matches) projection — the full token array never
    leaves the scan — localCheckpoints, and both the N/avgdl scalar
    action and the tf path read the checkpoint (without it the
    tokenizer runs twice: the stats .head() is a separate job whose
    narrow stages can't be reused; measured -35% at sf1,
    values identical)."""
    terms = sorted(set(terms))
    tarr = F.array(*[F.lit(t) for t in terms])
    pre = (
        _tokenized(df, text_col, id_col)
        .select(
            "doc_id",
            F.size("t").alias("dl"),
            # keep only query-term occurrences: the filter runs inside
            # the scan projection, so non-matching tokens never
            # materialize past this point
            F.filter(
                F.col("t"), lambda x: F.array_contains(tarr, x)
            ).alias("q"),
        )
        .localCheckpoint()
    )
    corpus = pre.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).head()
    n_docs, avgdl = corpus["n_docs"], corpus["avgdl"]

    tf = (
        pre.where(F.size("q") > 0)
        .select("doc_id", "dl", F.explode("q").alias("term"))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = F.broadcast(
        tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    )
    idf = F.log(
        1.0
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    return (
        tf.join(docfreq, "term")
        .select(
            "doc_id",
            F.round(contrib * MICRO, 0).cast("long").alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum("c_micro").alias("score_micro"),
        )
    )


def trigram_counts(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(w1, w2, w3, c123) adjacent-triple counts over the corpus."""
    toks = _tokenized(df, text_col, id_col)
    triples = F.expr(
        "transform(sequence(0, size(t) - 3), "
        "i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"
    )
    return (
        toks.where(F.size("t") >= 3)
        .select(F.explode(triples).alias("p"))
        .select("p.w1", "p.w2", "p.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c123"))
    )


def stupid_backoff_score(
    df: DataFrame,
    train_df: DataFrame | None = None,
    *,
    alpha: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document trigram stupid-backoff score (Brants 2007 — THE
    web-scale LM: unnormalized count ratios with a fixed backoff
    penalty, no discounting to estimate): for each position i >= 2,

        S(w3|w1 w2) = c123/c12            if the trigram was seen
                    = a * c23/c2          else if the bigram was seen
                    = a^2 * c3/N          else (a^2 * 0.5/N floor when
                                               even the unigram is new)

    log S is quantized to integer micro-nats per position before the
    per-document sum (the module's determinism discipline). Output:
    (doc_id, n_trigrams, logscore_micro) — docs need >= 3 tokens.

    Trained on `train_df` (default: the corpus itself); a held-out
    corpus exercises every backoff tier including the unigram floor.
    The count tables join on their n-gram keys — plain equi-joins
    Catalyst shuffles or broadcasts from statistics. Note the
    deployment-pruning story differs from lm_score's prune_top: the
    TRIGRAM and backoff-bigram tables can be pruned to top-N (a
    missing count just falls to the next tier — that's the point of
    stupid backoff), but the c12 CONTEXT counts and unigram
    denominators must stay intact (or be re-aggregated from the
    pruned tier) or tier-1 ratios would divide by NULL."""
    if train_df is None:
        train_df = df
    toks = _tokenized(df, text_col, id_col)
    tri = F.expr(
        "transform(sequence(0, size(t) - 3), "
        "i -> struct(t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"
    )
    doc_tri = (
        toks.where(F.size("t") >= 3)
        .select("doc_id", F.explode(tri).alias("p"))
        .select("doc_id", "p.w1", "p.w2", "p.w3")
    )
    # FUSED counting: uni/big/tric all derive from ONE padded-trigram
    # corpus pass over train_df (see _padded_gram_counts). The previous
    # form paid FIVE train-corpus tokenize+explode passes — unigram
    # counts (materialized), bigram counts TWICE (c12 and c23 are
    # separate consumers of an unmaterialized plan), trigram counts —
    # where one suffices; counts are integer-identical by construction.
    # Storage tradeoff (ADVICE r12): this checkpoint is TRIGRAM-vocab-
    # sized — the largest table in the pipeline — where the pre-fusion
    # form only materialized the unigram table. localCheckpoint stores
    # MEMORY_AND_DISK: blocks that exceed executor storage memory spill
    # to executor-local disk (the same storage class a shuffle write
    # uses), so at the 100 TB design point the cost is disk footprint
    # and eviction pressure, not an OOM mode; the three saved corpus
    # tokenize+explode scans dominate that cost off the local job floor.
    counts = _padded_gram_counts(
        _tokenized(train_df, text_col, id_col), 3
    ).localCheckpoint()
    tric = counts.where(F.col("w3").isNotNull()).select(
        "w1", "w2", "w3", F.col("c").alias("c123")
    )
    # big feeds two scoring joins (c12 context + c23 backoff) — derive
    # it once from the checkpoint and materialize (bigram-vocab-sized)
    big = (
        counts.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("c12"))
        .localCheckpoint()
    )
    # materialize the vocab-sized table before the N job: uni feeds two
    # scoring joins AND this aggregate — without the checkpoint each
    # use re-reads the gram-count checkpoint (lm_score discipline)
    uni = (
        counts.groupBy("w1").agg(F.sum("c").alias("c1")).localCheckpoint()
    )
    n_tokens = uni.agg(F.sum("c1")).head()[0]

    c12 = big.select(
        F.col("w1"), F.col("w2"), F.col("c12").alias("c12ctx")
    )
    c23 = big.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("c12").alias("c23"),
    )
    c2 = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c2"))
    c3 = uni.select(F.col("w1").alias("w3"), F.col("c1").alias("c3"))

    la = F.log(F.lit(alpha))
    log_s = (
        F.when(
            F.col("c123").isNotNull(),
            F.log(F.col("c123") / F.col("c12ctx")),
        )
        .when(
            F.col("c23").isNotNull(),
            la + F.log(F.col("c23") / F.col("c2")),
        )
        .otherwise(
            la * 2
            + F.log(
                F.coalesce(F.col("c3").cast("double"), F.lit(0.5))
                / F.lit(float(n_tokens))
            )
        )
    )
    return (
        doc_tri.join(tric, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(c2, "w2", "left")
        .join(c3, "w3", "left")
        .select(
            "doc_id",
            F.round(log_s * MICRO, 0).cast("long").alias("ls_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.sum("ls_micro").alias("logscore_micro"),
        )
    )


def write_bm25_index(
    df: DataFrame,
    path: str,
    *,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize a BM25 postings layout (the text-retrieval twin of
    similarity.write_ivf_index): per-(doc, term) postings written
    ``partitionBy(term_bucket)`` — a query for a handful of terms
    opens only those terms' bucket directories (partition-pruned
    scan), never the whole inverted index — plus a term->df table
    bucketed the same way and a JSON sidecar with N/avgdl.

    The bucket is the module's engine-portable md5 hash
    (sampling.hash_bucket % n_buckets), so ``bm25_query`` can compute
    a term's bucket driver-side with hashlib and prune before the
    scan. One explode + one groupBy at build time buys
    |query-buckets|/n_buckets I/O on every query after — at 100 TB
    the postings table is corpus-scale and this pruning IS the
    difference between a lookup and a full scan.

    Size ``n_buckets`` so one bucket directory is a few GB (e.g. 4096+
    at 100 TB — the default 64 suits the test scales); more buckets =
    finer pruning AND more write parallelism, at the cost of more
    files per append (compact_bm25_index is the counterweight)."""
    import os

    from .sampling import hash_bucket

    # one tokenization: the stats aggregate, the postings write, and
    # the dfreq write all read the materialized token arrays instead of
    # re-evaluating the corpus scan + tokenizer three times
    toks = _tokenized(df, text_col, id_col).select(
        "doc_id", "t", F.size("t").alias("dl")
    ).localCheckpoint()
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("sum_dl"),
    ).head()
    tf = (
        toks.select("doc_id", "dl", F.explode("t").alias("term"))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", (hash_bucket(F.col("term")) % n_buckets))
    )
    layout.write_partitioned(tf, os.path.join(path, "postings"), "bucket")
    dfreq = (
        tf.groupBy("term", "bucket")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    layout.write_partitioned(dfreq, os.path.join(path, "df"), "bucket")
    layout.write_json(
        os.path.join(path, "_bm25_stats.json"),
        {
            "n_docs": stats["n_docs"],
            "avgdl": stats["avgdl"],
            # exact integer: lets append_bm25_index recompute avgdl
            # as (sum_dl + delta) / (n_docs + delta) with the SAME
            # IEEE division Spark's avg performs
            "sum_dl": stats["sum_dl"],
            "n_buckets": n_buckets,
        },
    )


def bm25_query(
    spark,
    path: str,
    terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Query a written BM25 index: (doc_id, n_hits, score_micro),
    value-identical to bm25_score over the corpus the index was built
    from (equality-tested). The query terms' md5 buckets are computed
    driver-side (hashlib replays sampling.hash_bucket bit-for-bit),
    the postings/df scans prune to those partitions, and the scoring
    formula is bm25_score's integer micro-quantized sum."""
    import hashlib
    import os

    stats = layout.read_json(os.path.join(path, "_bm25_stats.json"))
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    nb = stats["n_buckets"]
    terms = sorted(set(terms))
    buckets = sorted({
        (int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 1_000_000) % nb
        for t in terms
    })
    post = (
        spark.read.parquet(os.path.join(path, "postings"))
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
    )
    # the df dir holds PARTIAL counts (one row per (term, append
    # generation)): append_bm25_index adds delta rows instead of
    # rewriting, so sum them here — a few pruned rows per query term
    dfreq = F.broadcast(
        spark.read.parquet(os.path.join(path, "df"))
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    idf = F.log(
        1.0
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
    )
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    return (
        post.join(dfreq, "term")
        .select(
            "doc_id",
            F.round(contrib * MICRO, 0).cast("long").alias("c_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum("c_micro").alias("score_micro"),
        )
    )


def append_bm25_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incrementally add NEW documents to a written BM25 index —
    O(delta), no rewrite of existing postings.

    The layout makes this possible by construction: per-(doc, term)
    postings rows never change when the corpus grows (tf and dl are
    per-document facts), the df table is a sum of PARTIALS (this
    append writes one delta row per new (term, bucket) and bm25_query
    sums at lookup), and the sidecar keeps the exact integer
    ``sum_dl`` so the combined avgdl is the same IEEE division Spark's
    avg would produce over the full corpus. Query results after
    append are therefore value-identical to an index rebuilt from
    scratch (equality-tested).

    Caller contract: appended ``id_col`` values must be NEW documents
    (re-appending an existing doc would double its postings — dedup
    upstream, e.g. subtract_corpus). Not concurrency-safe: one writer
    at a time. NOT crash-atomic either: there is no manifest, so
    appended parquet files are live to bm25_query the moment they land
    — a crash between the postings write and the df write (or the
    sidecar rewrite) leaves queries scoring the new docs against
    missing df partials and stale n_docs/avgdl. Recovery is NOT a
    sidecar-only touch-up: delete the partial append's files (parquet
    part files newer than the sidecar mtime) and re-run the whole
    append with the same delta, or rebuild with write_bm25_index. On
    an object store, stage each append as a generation directory
    behind a manifest pointer swap instead."""
    import os

    from .sampling import hash_bucket

    side = os.path.join(path, "_bm25_stats.json")
    stats = layout.read_json(side)
    nb = stats["n_buckets"]

    # one tokenization for the delta stats + postings + df writes
    # (same discipline as write_bm25_index)
    toks = _tokenized(df, text_col, id_col).select(
        "doc_id", "t", F.size("t").alias("dl")
    ).localCheckpoint()
    delta = toks.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).head()
    tf = (
        toks.select("doc_id", "dl", F.explode("t").alias("term"))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").alias("tf"))
        .withColumn("bucket", (hash_bucket(F.col("term")) % nb))
    )
    layout.write_partitioned(
        tf, os.path.join(path, "postings"), "bucket", mode="append"
    )
    layout.write_partitioned(
        tf.groupBy("term", "bucket").agg(
            F.count_distinct("doc_id").alias("df")
        ),
        os.path.join(path, "df"),
        "bucket",
        mode="append",
    )
    n_docs = stats["n_docs"] + delta["n_docs"]
    sum_dl = stats["sum_dl"] + (delta["sum_dl"] or 0)
    stats.update(
        n_docs=n_docs, sum_dl=sum_dl,
        avgdl=(sum_dl / n_docs) if n_docs else None,
    )
    layout.write_json(side, stats)


def compact_bm25_index(spark, path: str) -> None:
    """Small-files maintenance for an append-heavy BM25 index (the
    store.compact_store discipline applied to the postings layout):
    every append adds one parquet file per touched bucket plus one df
    PARTIAL row per (term, bucket) — after many appends a query reads
    many small files and sums many partials. Compaction rewrites each
    sub-table back to one file set per bucket and collapses the df
    partials into one row per (term, bucket); query results are
    identical before and after (equality-tested). Swap and crash
    recovery as in ``layout``."""
    import os

    layout.rewrite(spark, os.path.join(path, "postings"), "bucket")
    layout.rewrite(
        spark,
        os.path.join(path, "df"),
        "bucket",
        lambda df: df.groupBy("term", "bucket").agg(F.sum("df").alias("df")),
    )


def save_lm(
    unigrams: DataFrame,
    bigrams: DataFrame,
    path: str,
    *,
    k: float = 0.5,
    vocab_size: int | None = None,
) -> None:
    """Persist a trained bigram LM as a deployable artifact (the CCNet
    shape: train on a reference corpus once, ship the artifact to every
    scoring/filtering job): unigram + bigram count tables as parquet
    plus a JSON sidecar pinning the smoothing ``k`` and the TRAINING
    vocabulary size — V must come from training time, because a pruned
    table's distinct count would silently change the smoothed
    denominators."""
    import os

    if vocab_size is None:
        unigrams = unigrams.localCheckpoint()
        vocab_size = unigrams.count()
    unigrams.write.mode("overwrite").parquet(os.path.join(path, "uni"))
    bigrams.write.mode("overwrite").parquet(os.path.join(path, "big"))
    layout.write_json(
        os.path.join(path, "_lm_meta.json"), {"k": k, "vocab_size": vocab_size}
    )


def load_lm(spark, path: str):
    """(unigrams, bigrams, meta) from a save_lm artifact — pass straight
    to lm_score / stream_lm_filter with meta['vocab_size'] and
    meta['k'] so scoring matches the training-time smoothing exactly."""
    import os

    meta = layout.read_json(os.path.join(path, "_lm_meta.json"))
    return (
        spark.read.parquet(os.path.join(path, "uni")),
        spark.read.parquet(os.path.join(path, "big")),
        meta,
    )
