"""Corpus-cleaning operators a large-scale training-data pipeline needs:
benchmark decontamination and repetition-based quality filtering.

Extends the engine's text family (operators/textstats.py) with the two
standard pre-training hygiene steps:

- ``ngram_decontaminate``: drop/flag corpus documents that share any
  word n-gram with an evaluation/benchmark set (training-on-test
  contamination). Scale shape: the eval side's distinct n-grams are a
  SMALL relation -> broadcast hash semi-join against the exploded corpus
  n-grams; the corpus never shuffles, only matched doc ids aggregate.
- ``repetition_stats`` / ``repetition_filter``: within-document
  repetition signals (duplicate-word fraction, duplicate-2-gram
  fraction, most-frequent-word fraction) in the style of the Gopher /
  C4 quality filters. Pure column expressions — at 100 TB these run
  inside the parquet scan projection with zero shuffles.

Everything has an exact DuckDB-SQL oracle (list_* lambdas mirror the
Spark higher-order functions 1:1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lm import lm_tokens


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (space-joined). A document shorter than n
    tokens contributes its whole token sequence as one gram, so short
    eval rows still participate in containment checks."""
    toks = lm_tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
        ),
    ).otherwise(
        F.when(
            F.size(toks) > 0, F.array(F.array_join(toks, " "))
        ).otherwise(F.array().cast("array<string>"))
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    mode: str = "drop",
) -> DataFrame:
    """Benchmark decontamination: remove (mode='drop') or mark
    (mode='flag', adds boolean ``contaminated``) every corpus document
    sharing at least one word n-gram with the evaluation set.

    100 TB shape: eval n-grams deduplicate to a small relation that is
    explicitly broadcast; the corpus side is a scan + generate + broadcast
    semi-join (no corpus shuffle); only the matched ids (a tiny set)
    aggregate before the final id join."""
    from fourstore_spark.operators.util import ensure_parallel

    ecol = eval_text_col or text_col
    eval_grams = (
        eval_df.select(F.explode(word_ngrams(F.col(ecol), n)).alias("__g"))
        .distinct()
    )
    # the n-gram explode multiplies corpus bytes; spread single-file
    # local inputs first (conditional no-op for real corpora)
    docs = ensure_parallel(docs)
    corpus_grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("__g")
    )
    hit_ids = (
        corpus_grams.join(F.broadcast(eval_grams), "__g", "left_semi")
        .select(id_col)
        .distinct()
    )
    if mode == "drop":
        return docs.join(hit_ids, id_col, "left_anti")
    marked = hit_ids.withColumn("contaminated", F.lit(True))
    return docs.join(marked, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters):

    - ``dup_word_frac``:  1 - distinct_words / words
    - ``dup_2gram_frac``: 1 - distinct_2grams / 2grams
    - ``top_word_frac``:  occurrences of the most frequent word / words

    All three are single-pass array expressions over one tokenize."""
    staged = df.select(
        "*", lm_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    nw = F.size(toks)
    grams2 = F.when(
        nw >= 2,
        F.transform(
            F.sequence(F.lit(1), nw - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_word = F.when(
        nw > 0,
        F.round(1.0 - F.size(F.array_distinct(toks)) / nw.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    dup_2gram = F.when(
        F.size(grams2) > 0,
        F.round(
            1.0
            - F.size(F.array_distinct(grams2))
            / F.size(grams2).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    # max occurrence count == max run length over the SORTED tokens: one
    # O(n log n) sort + one O(n) aggregate pass. (The naive
    # transform(distinct, x -> size(filter(toks, = x))) form is O(n^2)
    # per document — a 100k-token web page costs ~10^10 comparisons in a
    # single row inside corpus_clean's hot scan.)
    def _run_step(acc, x):
        newrun = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.greatest(acc["best"], newrun).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    top_word = F.when(
        nw > 0, F.round(top_count.cast("double") / nw, 6)
    ).otherwise(F.lit(0.0))
    return staged.select(
        "*",
        dup_word.alias("dup_word_frac"),
        dup_2gram.alias("dup_2gram_frac"),
        top_word.alias("top_word_frac"),
    ).drop("__toks")


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_word_frac: float = 0.6,
    max_dup_2gram_frac: float = 0.4,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """Keep documents under all repetition thresholds (defaults chosen for
    the synthetic corpus; production pipelines tune per-source)."""
    s = repetition_stats(df, text_col)
    return s.where(
        (F.col("dup_word_frac") <= max_dup_word_frac)
        & (F.col("dup_2gram_frac") <= max_dup_2gram_frac)
        & (F.col("top_word_frac") <= max_top_word_frac)
    ).drop("dup_word_frac", "dup_2gram_frac", "top_word_frac")


def corpus_clean(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    n: int = 8,
    max_dup_word_frac: float = 0.6,
    max_dup_2gram_frac: float = 0.4,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """End-to-end corpus hygiene in one call: quality floor ->
    repetition filter -> (optional) benchmark decontamination ->
    canonical-fingerprint dedup (lowest id per fingerprint wins).

    Every stage except the final dedup is a row-wise drop, so the
    composition stays scan-shaped: one pass computes all filter signals,
    the decontamination adds the broadcast semi-join, and the only
    corpus shuffle is the final fingerprint window."""
    from pyspark.sql import Window

    from fourstore_spark.operators.textstats import (
        fingerprint,
        quality_score,
    )

    d = docs.where(quality_score(F.col(text_col)) >= min_quality)
    d = repetition_filter(
        d,
        text_col,
        max_dup_word_frac=max_dup_word_frac,
        max_dup_2gram_frac=max_dup_2gram_frac,
        max_top_word_frac=max_top_word_frac,
    )
    if eval_df is not None:
        d = ngram_decontaminate(
            d, eval_df, n=n, text_col=text_col, id_col=id_col
        )
    fp = d.withColumn("__fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def line_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-wide line frequency table: one row per distinct line with
    (line, n_docs, n_occurrences). The inspection companion to
    ``dedup_lines`` (which lines WOULD a given threshold remove?).

    100 TB shape: one explode + one groupBy with map-side combine; the
    shuffle carries (line, doc_id) only — no full rows.
    """
    from fourstore_spark.operators.util import ensure_parallel

    lines = ensure_parallel(docs).select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), delimiter)).alias("line"),
    )
    return lines.groupBy("line").agg(
        F.count_distinct("__id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 1,
    delimiter: str = "\n",
    keep_first: bool = False,
) -> DataFrame:
    """Line-level (paragraph-level) exact deduplication across the whole
    corpus, in the style of the C4 / Dolma pipelines: any line that
    occurs in more than ``max_docs`` distinct documents is removed from
    EVERY document (order-free, so the result is deterministic on any
    partitioning — unlike "first seen wins" streaming dedup). With
    ``keep_first=True`` the single occurrence at the smallest
    (doc_id, position) survives instead, matching Dolma's
    keep-one-copy paragraph dedup while staying deterministic.

    Returns the input frame with ``text_col`` rebuilt from the surviving
    lines (original order, re-joined with ``delimiter``; a document whose
    every line was removed keeps an empty string) plus an
    ``n_lines_removed`` count per document. All other columns pass
    through unchanged.

    100 TB shape: one posexplode; the frequency aggregate groups the
    line text directly (exact — substitute xxhash64 keys to shrink the
    shuffle at a vanishing collision risk); the over-threshold set is
    usually small -> the back-join is AQE-broadcastable; one final
    groupBy(doc) rebuilds text. Document payloads other than the text
    itself never shuffle (they re-attach by an id-equi join).
    """
    from fourstore_spark.operators.util import ensure_parallel

    lines = ensure_parallel(docs).select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias(
            "__pos", "__line"
        ),
    )
    freq = lines.groupBy("__line").agg(
        F.count_distinct("__id").alias("__nd"),
        F.min(F.struct("__id", "__pos")).alias("__first"),
    )
    over = freq.where(F.col("__nd") > max_docs).select(
        "__line", "__first"
    )
    marked = lines.join(over, "__line", "left")
    if keep_first:
        removed = F.col("__first").isNotNull() & ~(
            (F.col("__first.__id") == F.col("__id"))
            & (F.col("__first.__pos") == F.col("__pos"))
        )
    else:
        removed = F.col("__first").isNotNull()
    marked = marked.withColumn("__rm", removed)
    rebuilt = marked.groupBy("__id").agg(
        F.concat_ws(
            delimiter,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__rm"),
                            F.struct("__pos", "__line"),
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
        ).alias("__text"),
        F.sum(F.col("__rm").cast("long")).cast("long").alias(
            "n_lines_removed"
        ),
    )
    out_cols = [
        F.col("__text").alias(c) if c == text_col else F.col(c)
        for c in docs.columns
    ]
    return (
        docs.join(rebuilt, F.col(id_col) == F.col("__id"))
        .select(*out_cols, "n_lines_removed")
    )


def contamination_report(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    eval_text_col: str | None = None,
) -> DataFrame:
    """The REVERSE direction of decontamination: for every evaluation
    item, how badly does it leak into the corpus? Output one row per
    eval item: (eval_id, n_docs_hit, n_gram_hits) — docs sharing >= 1
    word n-gram, and the total number of (doc, gram) collisions. Items
    with zero leakage are included with zeros (the dashboard wants the
    clean rows too).

    100 TB shape: mirror of ngram_decontaminate — the eval side's grams
    broadcast (carrying eval_id), the corpus explodes once, the join is
    broadcast-hash, and only (eval_id, doc_id) hit pairs aggregate.
    """
    from fourstore_spark.operators.util import ensure_parallel

    ecol = eval_text_col or text_col
    eval_grams = eval_df.select(
        F.col(eval_id_col),
        F.explode(word_ngrams(F.col(ecol), n)).alias("__g"),
    ).distinct()
    docs = ensure_parallel(docs)
    corpus_grams = docs.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("__g")
    )
    hits = corpus_grams.join(F.broadcast(eval_grams), "__g").groupBy(
        eval_id_col
    ).agg(
        F.count_distinct(id_col).cast("long").alias("n_docs_hit"),
        F.count(F.lit(1)).cast("long").alias("n_gram_hits"),
    )
    return (
        eval_df.select(eval_id_col)
        .distinct()
        .join(hits, eval_id_col, "left")
        .select(
            eval_id_col,
            F.coalesce("n_docs_hit", F.lit(0)).alias("n_docs_hit"),
            F.coalesce("n_gram_hits", F.lit(0)).alias("n_gram_hits"),
        )
    )


def blocklist_flags(
    df: DataFrame,
    phrases: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_inline_phrases: int = 50_000,
) -> DataFrame:
    """The C4/RefinedWeb "bad words" gate: flag documents containing
    ANY blocked word sequence (C4 §2.2 drops pages with a word on the
    blocklist; RefinedWeb couples it with the URL blocklist —
    scrubbing.url_host is that step's grouping key).

    Matching is word-boundary exact on the module's normalized tokens
    (lowercase, whitespace-split): a blocked phrase of n words matches
    iff it appears as a token n-gram, so "class" never flags
    "classify". Output: (id_col, n_blocked, blocked) for every row —
    n_blocked counts DISTINCT blocked grams present; compose with
    ``.where(~F.col("blocked"))`` for the cleaned corpus.

    100 TB shape: phrases group by word count and inline as literal
    arrays into ONE scan projection (arrays_overlap / array_intersect
    are codegen'd JVM ops) — zero shuffle, zero join, fully
    pushdown-compatible. The guard caps the inlined list (a plan with
    megabytes of literals slows codegen); past it, explode the doc
    grams and broadcast-semi-join the phrase table instead (the
    ngram_decontaminate shape)."""
    norm: dict[int, list[str]] = {}
    for p in phrases:
        toks = p.lower().split()
        if toks:
            norm.setdefault(len(toks), []).append(" ".join(toks))
    total = sum(len(v) for v in norm.values())
    if total > max_inline_phrases:
        raise ValueError(
            f"{total} phrases exceed max_inline_phrases="
            f"{max_inline_phrases}: inline literals would bloat the "
            "codegen'd plan — use the broadcast-join path "
            "(ngram_decontaminate with the phrase list as the eval "
            "side) for blocklists this large"
        )
    if not norm:
        return df.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_blocked"),
            F.lit(False).alias("blocked"),
        )
    counts = []
    for n, plist in sorted(norm.items()):
        lit = F.array(*[F.lit(x) for x in sorted(set(plist))])
        counts.append(
            F.size(
                F.array_intersect(word_ngrams(F.col(text_col), n), lit)
            ).cast("long")
        )
    n_blocked = counts[0]
    for c in counts[1:]:
        n_blocked = n_blocked + c
    return df.select(
        F.col(id_col),
        n_blocked.alias("n_blocked"),
        (n_blocked > 0).alias("blocked"),
    )
