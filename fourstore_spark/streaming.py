"""Structured Streaming operators: continuous RDF ingest, windowed event
rollups, streaming dedup, and stateful sessionization.

The reference is batch + incremental-update only (SURVEY §1.4); these are
the continuous versions of its ingest path and of the pipeline operators,
built on Spark's native streaming runtime:

- **stream_quads_from_nt**: a file-source stream of N-Triples/N-Quads
  lines parsed into quads — the continuous analogue of fs_import
  (import.c:333). Parsing is an Arrow-batched pandas UDF, one
  JVM->Python crossing per micro-batch.
- **stream_ingest**: appends parsed quads to a parquet store with
  exactly-once file-sink semantics (the streaming LOAD).
- **windowed_event_counts**: tumbling event-time windows + watermark —
  late rows beyond the watermark are dropped, state is bounded.
- **streaming_dedup**: watermarked dropDuplicates on the content
  fingerprint — the streaming form of operators.dedup.exact_dedup.
- **sessionize**: applyInPandasWithState gap-based sessionization —
  the custom-stateful-operator pattern (GroupState, per-key timeout).
- **stream_decontaminate**: ingest-time benchmark decontamination
  against a static eval set — stateless per-row n-gram overlap check,
  eval grams broadcast once.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from fourstore_spark import layout
from fourstore_spark.model import DEFAULT_GRAPH, QUADS_SCHEMA

_QUAD_STRUCT_DDL = (
    "struct<g:string, s:string, s_kind:tinyint, p:string, o_kind:tinyint,"
    " o_lex:string, o_dt:string, o_lang:string, o_num:double>"
)


def stream_quads_from_nt(
    spark: SparkSession,
    path: str,
    default_graph: str = DEFAULT_GRAPH,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming quads from a directory of N-Triples/N-Quads files."""
    from pyspark.sql.functions import pandas_udf

    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(path)

    @pandas_udf(_QUAD_STRUCT_DDL)
    def parse(batch: pd.Series) -> pd.DataFrame:
        from fourstore_spark.sources.rdfio import parse_nt_line

        cols = {f.name: [] for f in QUADS_SCHEMA.fields}
        for line in batch:
            try:
                q = parse_nt_line(line, default_graph)
            except ValueError:
                q = None  # skip malformed lines in the stream
            if q is None:
                q = (None,) * len(QUADS_SCHEMA.fields)
            for f, v in zip(QUADS_SCHEMA.fields, q):
                cols[f.name].append(v)
        return pd.DataFrame(cols)

    parsed = lines.select(parse(F.col("value")).alias("q"))
    return parsed.where(F.col("q.s").isNotNull()).select("q.*")


def stream_ingest(
    quads_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
):
    """Continuous LOAD: append the quad stream to a parquet store dir.
    The file sink's log gives exactly-once per input file."""
    writer = (
        quads_stream.writeStream.format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_store(
    quads_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
    compact_every: int | None = None,
):
    """Continuous live import into a materialized v4 store — the
    streaming analogue of the reference's import-into-a-running-KB path
    (httpd import queue, httpd.c:755-810 + import.c:333-423).

    Each micro-batch runs store.append_quads: set-semantics (duplicates
    against the store AND within the batch are dropped), pruned to the
    batch's predicate directories, manifest stats refreshed. foreachBatch
    is at-least-once on retry, but the anti-join makes a replayed batch a
    no-op — the sink is idempotent, which upgrades the pipeline to
    effectively-once. Every ``compact_every`` batches the fragmented
    predicate directories are compacted (appends add a file per touched
    predicate per batch; a long-running ingest needs the small-files
    maintenance inline). The property table is left stale during
    streaming — engines fall back to quad scans — and is rebuilt by the
    periodic compaction.
    """
    from fourstore_spark.store import append_quads, compact_store

    state = {"batches": 0}

    def _sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        append_quads(batch_df, store_path)
        state["batches"] += 1
        if compact_every and state["batches"] % compact_every == 0:
            compact_store(batch_df.sparkSession, store_path)

    writer = (
        quads_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _watermarkable(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; parquet sources may surface
    TIMESTAMP_NTZ (e.g. Spark 4 reading plain micros timestamps)."""
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling event-time rollup with bounded state: count + value sum
    per (window, key); rows later than the watermark are dropped."""
    return (
        _watermarkable(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n",
            "total",
        )
    )


def streaming_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalization
    fingerprint wins; state expires with the watermark."""
    from fourstore_spark.operators.textstats import fingerprint

    keyed = _watermarkable(docs, ts_col).withColumn(
        "fingerprint", fingerprint(F.col(text_col))
    )
    return keyed.withWatermark(ts_col, watermark).dropDuplicates(
        ["fingerprint"]
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_SESSION_STATE = StructType(
    [
        StructField("start", DoubleType()),  # epoch seconds
        StructField("last", DoubleType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _ts_us(epoch_sec: float) -> pd.Timestamp:
    # Spark timestamps are microsecond-precision; a float-seconds round-trip
    # leaves ns residue that Arrow refuses to cast down, so round to µs.
    return pd.Timestamp(int(round(epoch_sec * 1_000_000)), unit="us")


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState + EVENT-time timeout): a session closes when a
    user is idle for gap_seconds of event time. Closed sessions are
    emitted either by an observed gap or by the watermark passing
    session_end + gap — so emission is a pure function of the data, never
    of wall-clock batch timing (a processing-time timeout here would both
    make results nondeterministic and keep an availableNow drain alive
    until the wall-clock timer fired)."""

    def fn(
        key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [_ts_us(start)],
                    "session_end": [_ts_us(last)],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        import numpy as np

        rows = pd.concat(list(pdf_iter)).sort_values(ts_col)
        # vectorized gap split: a row starts a new session when its gap to
        # the previous row (or to the open state session) exceeds the
        # threshold; cumsum of the break flags numbers the sessions.
        # (A per-row Python loop here was ~100x slower and made large
        # micro-batches overrun the trigger.)
        ts = (
            rows[ts_col].to_numpy(dtype="datetime64[us]").astype("int64")
            / 1e6
        )
        if "value" in rows.columns:
            vals = (
                pd.to_numeric(rows["value"], errors="coerce")
                .fillna(0.0)
                .to_numpy(dtype=float)
            )
        else:
            vals = np.zeros(len(ts))
        if state.exists:
            start0, last0, n0, total0 = state.get
        else:
            start0 = last0 = None
            n0, total0 = 0, 0.0
        prev = np.empty(len(ts))
        prev[0] = last0 if last0 is not None else -np.inf
        prev[1:] = ts[:-1]
        sid = np.cumsum((ts - prev) > gap_seconds)
        g = (
            pd.DataFrame({"sid": sid, "ts": ts, "v": vals})
            .groupby("sid")
            .agg(
                start=("ts", "min"),
                end=("ts", "max"),
                n=("ts", "size"),
                total=("v", "sum"),
            )
            .reset_index()
            .sort_values("sid")
        )
        closed = []  # (start, last, n, total) tuples
        if last0 is not None and sid[0] == 0:
            # first rows continue the open state session
            g.loc[g.index[0], "start"] = start0
            g.loc[g.index[0], "end"] = max(last0, g.loc[g.index[0], "end"])
            g.loc[g.index[0], "n"] += n0
            g.loc[g.index[0], "total"] += total0
        elif last0 is not None:
            # the gap to the first row closed the state session
            closed.append((start0, last0, n0, total0))
        # every session but the last is closed by an observed gap; the last
        # stays open in state until the timeout fires
        recs = list(g.itertuples(index=False))
        closed.extend((r.start, r.end, int(r.n), r.total) for r in recs[:-1])
        open_s = recs[-1]
        state.update((open_s.start, open_s.end, int(open_s.n), open_s.total))
        # fire when the watermark passes session_end + gap (+1 ms so a
        # timeout exactly at the watermark isn't rejected as stale)
        state.setTimeoutTimestamp(int((open_s.end + gap_seconds) * 1000) + 1)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start": [_ts_us(c[0]) for c in closed],
                    "session_end": [_ts_us(c[1]) for c in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return (
        _watermarkable(events, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming benchmark decontamination: drop stream documents sharing
    any word n-gram with a STATIC evaluation set — the continuous form of
    operators.cleaning.ngram_decontaminate for ingest-time filtering.

    Shape: the eval side is static and small, so its distinct n-grams
    broadcast; the stream side stays stateless — each micro-batch checks
    arrays_overlap per row (no explode, no streaming state, no shuffle of
    the stream). A stream-static LEFT ANTI join would need the stream
    exploded + re-aggregated (stateful); the per-row array check keeps
    exactly-once append semantics trivially."""
    from fourstore_spark.operators.cleaning import word_ngrams

    eval_grams = (
        eval_df.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("__g")
        )
        .agg(F.collect_set("__g").alias("__gs"))
    )
    # one-row static frame carrying the gram set; stream-static inner
    # join on TRUE broadcasts that single row to every stream partition
    joined = docs.join(F.broadcast(eval_grams), F.lit(True), "inner")
    return joined.where(
        ~F.arrays_overlap(word_ngrams(F.col(text_col), n), F.col("__gs"))
    ).drop("__gs")


def stream_corpus_clean(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    ts_col: str = "ts",
    text_col: str = "text",
    min_quality: float = 0.5,
    n: int = 8,
    max_dup_word_frac: float = 0.6,
    max_dup_2gram_frac: float = 0.4,
    max_top_word_frac: float = 0.2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming end-to-end corpus hygiene — the continuous form of
    operators.cleaning.corpus_clean for ingest-time filtering: quality
    floor -> Gopher repetition filters -> (optional) benchmark
    decontamination -> exact-fingerprint dedup.

    Shape at scale: every stage except the dedup is STATELESS (pure
    column expressions / a broadcast one-row gram set), so micro-batches
    stay append-only with no shuffle; the only state is dropDuplicates
    keyed on the fingerprint, bounded by the watermark. Batch semantics
    differ only in the dedup tiebreak: batch keeps the lowest id per
    fingerprint, a stream necessarily keeps the FIRST ARRIVAL."""
    from fourstore_spark.operators.cleaning import repetition_filter
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
        d = stream_decontaminate(d, eval_df, n=n, text_col=text_col)
    keyed = _watermarkable(d, ts_col).withColumn(
        "__fp", fingerprint(F.col(text_col))
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicates(["__fp"])
        .drop("__fp")
    )


def stream_lm_filter(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    *,
    k: float = 0.5,
    vocab_size: int | None = None,
    max_avg_nll_micro: int | None = None,
    max_lm_rows: int = 5_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time LM quality filtering (the streaming form of
    operators.lm.lm_score + a fixed perplexity ceiling): score each
    arriving document against a PRETRAINED pruned bigram LM and keep
    docs whose average nll (micro-nats) is within `max_avg_nll_micro`
    (None = score-only, keep all).

    The LM is collected once and shipped in the task closure — the
    CCNet deployment shape (a pruned LM artifact rides to every worker;
    pass lm_score's prune_top output, NOT an unpruned web-scale count
    table — a `max_lm_rows` guard enforces this, VERDICT r9 #5).
    Scoring is an Arrow-batched stateless projection: no shuffle, no
    state store, so micro-batches stay append-only and the same frame
    works batch or streaming (equivalence-fuzzed). Semantics match
    lm_score exactly: tokens come from the SAME Spark `lm_tokens`
    expression (not a Python re-tokenization — Java `\\s` is ASCII-only
    and trim strips only spaces, so tabs/NBSP would diverge), rounding
    is half-away-from-zero like F.round, micro-nat quantize-before-sum,
    unseen-w1 bigrams skipped, unseen-w2 at the smoothed floor; docs
    with no scorable bigram are dropped (as lm_score omits them)."""
    import math

    import pandas as pd

    from .operators.lm import lm_tokens

    # guard BOTH tables: prune_top output has pruned bigrams but a
    # vocab-sized unigram table, and that collect() would OOM the
    # driver just the same (code-review r10)
    for name, table in (("bigram", bigrams), ("unigram", unigrams)):
        n = table.limit(max_lm_rows + 1).count()
        if n > max_lm_rows:
            raise ValueError(
                f"{name} LM table exceeds {max_lm_rows} rows — "
                "collecting it into the task closure would OOM the "
                "driver; prune it first (bigrams: lm_score prune_top; "
                "unigrams: keep the top-N tokens and let unseen-w1 "
                "bigrams skip, as lm_score's inner join does)"
            )
    uni = {r["w1"]: r["c1"] for r in unigrams.collect()}
    big = {(r["w1"], r["w2"]): r["c12"] for r in bigrams.collect()}
    if vocab_size is None:
        vocab_size = len(uni)
    kv = k * vocab_size

    def _round_half_up(x: float) -> int:
        # F.round / DuckDB round: half away from zero (Python's round()
        # is banker's — round(-0.5) == 0 there, -1 here)
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def score(batches):
        for pdf in batches:
            out = []
            for did, toks in zip(pdf["doc_id"], pdf["__t"]):
                toks = list(toks) if toks is not None else []
                n = s = 0
                for i in range(len(toks) - 1):
                    c1 = uni.get(toks[i])
                    if c1 is None:
                        continue  # lm_score's inner unigram join
                    c12 = big.get((toks[i], toks[i + 1]), 0)
                    s += _round_half_up(
                        math.log((c12 + k) / (c1 + kv)) * 1e6
                    )
                    n += 1
                if n:
                    out.append((did, n, s))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_bigrams", "logprob_micro"]
            )

    did_t = docs.select(F.col(id_col).alias("doc_id")).schema[
        "doc_id"
    ].dataType.simpleString()
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        lm_tokens(F.col(text_col)).alias("__t"),
    ).mapInPandas(
        score, f"doc_id {did_t}, n_bigrams long, logprob_micro long"
    )
    if max_avg_nll_micro is not None:
        scored = scored.where(
            -F.col("logprob_micro") / F.col("n_bigrams")
            <= F.lit(float(max_avg_nll_micro))
        )
    return scored


def stream_quality_filter(
    docs: DataFrame,
    weights: DataFrame,
    *,
    bias_micro: int = 0,
    n_features: int = 4096,
    threshold_micro: int | None = None,
    max_weight_rows: int = 5_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time classifier quality filtering — the streaming form of
    operators.classifier.classifier_logits with a PRETRAINED weight
    table (the fastText-at-the-crawl-frontier deployment: CCNet scores
    every arriving page before it ever lands). Keeps docs whose
    logit_micro >= ``threshold_micro`` (None = score-only).

    Same shape as stream_lm_filter: the weight table is collected once
    into the task closure (guarded by ``max_weight_rows`` — the
    hashing trick bounds it at n_features by construction, so the
    guard only trips on a mis-built table), scoring is an
    Arrow-batched STATELESS projection — no shuffle, no state store,
    append-only micro-batches, and the same frame works batch or
    streaming. Semantics equal classifier_logits exactly: tokens come
    from the SAME Spark ``lm_tokens`` expression (the Java-vs-Python
    whitespace lesson), grams and md5 buckets replay hash_bucket
    bit-for-bit via hashlib, rounding is half-away-from-zero, and
    blank docs drop (no grams — nothing to score)."""
    import hashlib
    import math

    import pandas as pd

    from .operators.lm import lm_tokens

    if n_features > 1_000_000:
        raise ValueError(
            f"n_features={n_features} > the 1e6 hash_bucket modulus: "
            "buckets past it are unreachable (same guard as "
            "operators.classifier.doc_features)"
        )
    # one materialization serves both the guard and the closure dict
    # (the lm_score discipline: never evaluate the same plan twice)
    w_rows = weights.limit(max_weight_rows + 1).collect()
    if len(w_rows) > max_weight_rows:
        raise ValueError(
            f"weight table exceeds {max_weight_rows} rows — a hashed-"
            f"feature classifier is n_features-bounded by construction; "
            "collecting more than that into the task closure would OOM "
            "the driver (was the table built with a different "
            "n_features?)"
        )
    w = {r["b"]: r["w_micro"] for r in w_rows}
    bias = int(bias_micro)

    def _round_half_up(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def _bucket(gram: str) -> int:
        return (
            int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
            % 1_000_000
        ) % n_features

    def score(batches):
        for pdf in batches:
            out = []
            for did, toks in zip(pdf["doc_id"], pdf["__t"]):
                toks = list(toks) if toks is not None else []
                if not toks:
                    continue
                s = bias
                n = 2 * len(toks) - 1
                for i, t in enumerate(toks):
                    s += w.get(_bucket(t), 0)
                    if i + 1 < len(toks):
                        s += w.get(_bucket(f"{t} {toks[i + 1]}"), 0)
                out.append(
                    (did, n, _round_half_up(1e6 * (s / (1e6 * n))))
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_grams", "logit_micro"]
            )

    did_t = docs.select(F.col(id_col).alias("doc_id")).schema[
        "doc_id"
    ].dataType.simpleString()
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        lm_tokens(F.col(text_col)).alias("__t"),
    ).mapInPandas(
        score, f"doc_id {did_t}, n_grams long, logit_micro long"
    )
    if threshold_micro is not None:
        scored = scored.where(
            F.col("logit_micro") >= F.lit(int(threshold_micro))
        )
    return scored


def stream_langid_filter(
    docs: DataFrame,
    weights: DataFrame,
    biases: DataFrame,
    *,
    keep_langs: list[str] | None = None,
    n_features: int = 4096,
    max_weight_rows: int = 5_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time language filtering — the streaming form of
    operators.classifier.langid_predict with a PRETRAINED one-vs-rest
    stack (the CCNet keep-target-languages step, run before anything
    else touches an arriving page). Emits (doc_id, lang, logit_micro)
    for the argmax label per document; ``keep_langs`` keeps only
    documents predicted in the set (None = classify-only).

    Same deployment shape as stream_quality_filter: weights + biases
    collect once into the task closure (K x n_features bounded by the
    hashing trick; guard trips only on a mis-built table), scoring is
    an Arrow-batched STATELESS projection — no shuffle, no state
    store, the same frame batch or streaming. Semantics equal
    langid_predict exactly: Spark ``lm_tokens`` tokens, hashlib
    replays hash_bucket bit-for-bit, half-away-from-zero rounding,
    every label scored (bias-only included — an argmax over a missing
    label is a wrong argmax), ties to the smallest label."""
    import hashlib
    import math

    import pandas as pd

    from .operators.lm import lm_tokens

    if n_features > 1_000_000:
        raise ValueError(
            f"n_features={n_features} > the 1e6 hash_bucket modulus"
        )
    w_rows = weights.limit(max_weight_rows + 1).collect()
    if len(w_rows) > max_weight_rows:
        raise ValueError(
            f"weight table exceeds {max_weight_rows} rows — a K-label "
            "one-vs-rest stack is K x n_features bounded by "
            "construction (was it built with a different n_features?)"
        )
    w: dict[str, dict[int, int]] = {}
    for r in w_rows:
        w.setdefault(r["lang"], {})[r["b"]] = r["w_micro"]
    bias = {r["lang"]: int(r["bias_micro"]) for r in biases.collect()}
    labels = sorted(set(w) | set(bias))
    if not labels:
        raise ValueError("empty one-vs-rest stack: no labels")
    keep = set(keep_langs) if keep_langs is not None else None

    def _round_half_up(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def _bucket(gram: str) -> int:
        return (
            int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
            % 1_000_000
        ) % n_features

    def score(batches):
        for pdf in batches:
            out = []
            for did, toks in zip(pdf["doc_id"], pdf["__t"]):
                toks = list(toks) if toks is not None else []
                if not toks:
                    continue
                n = 2 * len(toks) - 1
                sums = {lab: 0 for lab in labels}
                for i, t in enumerate(toks):
                    grams = [t]
                    if i + 1 < len(toks):
                        grams.append(f"{t} {toks[i + 1]}")
                    for gram in grams:
                        b = _bucket(gram)
                        for lab in labels:
                            sums[lab] += w.get(lab, {}).get(b, 0)
                best, best_logit = None, None
                for lab in labels:  # ascending -> strict > keeps ties low
                    logit = _round_half_up(
                        1e6 * ((bias.get(lab, 0) + sums[lab]) / (1e6 * n))
                    )
                    if best_logit is None or logit > best_logit:
                        best, best_logit = lab, logit
                if keep is None or best in keep:
                    out.append((did, best, best_logit))
            yield pd.DataFrame(
                out, columns=["doc_id", "lang", "logit_micro"]
            )

    did_t = docs.select(F.col(id_col).alias("doc_id")).schema[
        "doc_id"
    ].dataType.simpleString()
    return docs.select(
        F.col(id_col).alias("doc_id"),
        lm_tokens(F.col(text_col)).alias("__t"),
    ).mapInPandas(
        score, f"doc_id {did_t}, lang string, logit_micro long"
    )


def stream_ingest_dedup(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 1000,
    threshold_micro: int = 500_000,
    trigger_available_now: bool = False,
):
    """Dedup-at-ingest against a WRITTEN MinHash-LSH index — the
    incremental-crawl deployment the index exists for: the corpus was
    signed once (operators.dedup.write_lsh_index); each arriving
    micro-batch then

      1. resolves its OWN near-dup clusters — LSH candidates VERIFIED
         by exact word-trigram Jaccard >= ``threshold_micro``/1e6 (the
         batch's texts are in hand, so the exact verifier is free),
         connected components, min-id survivor per cluster,
      2. drops survivors that near-duplicate the INDEXED corpus —
         lsh_query_index with ``verify_micro=threshold_micro``: signs
         only the batch, partition-pruned scan, candidates verified by
         stored-signature agreement (the corpus text is NOT re-read;
         at 100 TB it can't be — signature agreement is the unbiased
         Jaccard estimator, ~1/sqrt(num_hashes) std err),
      3. lands the remaining docs in ``out_path/batch=<id>`` and
         appends their signatures to the index, so every LATER batch
         dedups against them too.

    Exactly-once notes (foreachBatch is at-least-once on retry): the
    parquet output is keyed by batch id and written mode=overwrite, so
    a replayed batch overwrites its own directory rather than
    duplicating docs; the index append is NOT deduplicated on replay —
    re-appended signature rows are identical (id, band, bucket) rows,
    which cannot change any candidate set (lsh_query_index output is
    DISTINCT pairs) but do grow the index until the next
    compact_lsh_index run. Batch ids must be globally new documents
    (the append_lsh_index caller contract).

    The same candidate algebra as the batch path, so the survivors of
    a single availableNow pass equal the batch-mode composition
    (equality-tested in tests/test_streaming.py)."""
    from fourstore_spark.operators.components import (
        resolve_duplicate_clusters,
    )
    from fourstore_spark.operators.dedup import (
        append_lsh_index,
        lsh_query_index,
        minhash_lsh_candidates,
        ngram_jaccard,
    )

    thr = float(threshold_micro) / 1e6

    def _sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint()  # consumed by 3+ jobs below
        texts = batch.select(
            F.col(id_col), F.col(text_col).alias("__t")
        )
        pairs = (
            minhash_lsh_candidates(
                batch, text_col, id_col, max_bucket=max_bucket
            )
            .join(
                texts.select(
                    F.col(id_col).alias("id_a"), F.col("__t").alias("__ta")
                ),
                "id_a",
            )
            .join(
                texts.select(
                    F.col(id_col).alias("id_b"), F.col("__t").alias("__tb")
                ),
                "id_b",
            )
            .where(
                ngram_jaccard(F.col("__ta"), F.col("__tb")) >= F.lit(thr)
            )
            .select("id_a", "id_b")
        )
        survivors = resolve_duplicate_clusters(batch, pairs, id_col=id_col)
        hits = lsh_query_index(
            spark, index_path, survivors,
            text_col=text_col, id_col=id_col, max_bucket=max_bucket,
            verify_micro=threshold_micro,
        ).select(F.col("id_b").alias(id_col)).distinct()
        fresh = survivors.join(hits, id_col, "left_anti").localCheckpoint()
        if fresh.isEmpty():
            return
        fresh.write.mode("overwrite").parquet(
            f"{out_path}/batch={batch_id}"
        )
        append_lsh_index(fresh, index_path, text_col=text_col,
                         id_col=id_col)

    writer = (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sketch_ingest(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    value_col: str | None = "n_chars",
    cms_width: int = 2048,
    cms_depth: int = 5,
    hll_m: int = 1024,
    sub_bits: int = 5,
    trigger_available_now: bool = False,
):
    """Sketch-at-ingest: maintain running corpus statistics — token
    frequencies (count-min), distinct tokens (HyperLogLog) and an
    integer column's distribution (quantile histogram) — as micro-
    batches arrive, WITHOUT ever re-scanning landed data. The batch
    path answers "what are the stats of this corpus"; this is the
    deployment shape for "what are the stats of the corpus SO FAR" on
    a crawl that never stops.

    Per micro-batch: build the batch's own bounded sketches (each
    depth*width / m / bucket-space bounded — batch size never matters)
    and land them under ``store_path/<kind>/batch=<id>``. Merging is
    deferred to the reader (``read_sketch_store``): sketches are
    mergeable by construction, and a groupBy over ALL batch rows costs
    the same one bounded shuffle as merging two.

    Exactly-once: foreachBatch is at-least-once on retry, and CMS /
    qsketch counters ADD — a naive read-merge-overwrite of one rolling
    sketch would double-count every replayed batch (HLL's max would
    survive, the others not). Batch-id-keyed directories written
    mode=overwrite make the write idempotent: a replayed batch
    overwrites its own directory with identical rows. Hyperparameters
    pin in a ``_sketches.json`` sidecar written after the first
    successful batch (the kmv_save discipline — a sketch's params are
    part of its meaning); later batches and readers validate against
    it."""
    import os

    params = {
        "cms_width": int(cms_width), "cms_depth": int(cms_depth),
        "hll_m": int(hll_m), "sub_bits": int(sub_bits),
        "value_col": value_col,
    }
    side = os.path.join(store_path, "_sketches.json")

    def _sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        if os.path.isfile(side):
            stored = layout.read_json(side)
            if stored != params:
                raise ValueError(
                    f"sketch store {store_path} was built with {stored}, "
                    f"this stream uses {params}: sketches with different "
                    "params do not merge — start a new store or match them"
                )
        batch = batch_df.localCheckpoint()  # consumed by 2-3 builds
        _write_sketches(batch, text_col, params, store_path, batch_id)
        if not os.path.isfile(side):  # written LAST: crashed first
            layout.write_json(side, params)  # batch redoes

    writer = (
        docs_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sketch_store(
    spark, store_path: str
) -> tuple[dict[str, DataFrame], dict]:
    """-> ({"cms": ..., "hll": ..., "qsketch": ...}, params): each
    sketch merged across every landed batch — one bounded groupBy per
    kind (Spark's partition discovery reads the batch=<id> layout; the
    merge drops it). Feed params["cms_width"] etc. to cms_query /
    hll_estimate / qsketch_quantile — never defaults (the sidecar
    exists so a store built at non-default params cannot be silently
    misread)."""
    import os

    params = layout.read_json(os.path.join(store_path, "_sketches.json"))
    out: dict[str, DataFrame] = {}
    aggs = {
        "cms": (["r", "c"], F.sum),
        "hll": (["j"], F.max),
        "qsketch": (["b"], F.sum),
    }
    for kind, (keys, agg) in aggs.items():
        sub = os.path.join(store_path, kind)
        if not os.path.isdir(sub):
            continue
        vcol = "cnt" if kind != "hll" else "M"
        out[kind] = (
            spark.read.parquet(sub)
            .groupBy(*keys)
            .agg(agg(vcol).alias(vcol))
        )
    return out, params


def compact_sketch_store(spark, store_path: str) -> None:
    """Collapse all batch directories of each sketch kind into one
    ``batch=0`` file set — the readout is identical before and after
    (merge is associative), only the file count changes. Swap and crash
    recovery as in ``layout``: quiesce the writer first."""
    import os

    layout.recover(store_path)
    merged, _ = read_sketch_store(spark, store_path)
    for kind, df in merged.items():
        src = os.path.join(store_path, kind)
        staged = layout.staging(src)
        layout.write_partition(df.coalesce(1), staged, "batch", 0)
        layout.replace(src, staged)


def init_sketch_store(
    docs: DataFrame,
    store_path: str,
    *,
    text_col: str = "text",
    value_col: str | None = "n_chars",
    cms_width: int = 2048,
    cms_depth: int = 5,
    hll_m: int = 1024,
    sub_bits: int = 5,
) -> None:
    """Bootstrap a sketch store from an EXISTING batch corpus — the
    missing half of the stream_sketch_ingest lifecycle: a crawl rarely
    starts from zero; it starts from a landed corpus whose statistics
    the stream should extend, not recompute. Writes the same layout
    the stream writes (``<kind>/batch=base`` + the ``_sketches.json``
    sidecar, sidecar last), so a subsequent stream_sketch_ingest with
    the SAME params appends its numeric batch ids alongside and
    read_sketch_store merges seamlessly (bootstrap==rebuild equality
    pinned in tests/test_streaming.py). Refuses an already-initialized
    store (re-bootstrapping would double-count the corpus — the same
    additive-counter hazard the stream's batch-keyed dirs solve)."""
    import os

    side = os.path.join(store_path, "_sketches.json")
    if os.path.isfile(side):
        raise ValueError(
            f"sketch store {store_path} already initialized: "
            "re-bootstrapping would double-count its corpus (counters "
            "add) — start a new store or stream increments into it"
        )
    params = {
        "cms_width": int(cms_width), "cms_depth": int(cms_depth),
        "hll_m": int(hll_m), "sub_bits": int(sub_bits),
        "value_col": value_col,
    }
    _write_sketches(docs, text_col, params, store_path, "base")
    layout.write_json(side, params)


def _write_sketches(
    docs: DataFrame, text_col: str, params: dict, store_path: str, batch_id
) -> None:
    """One batch's sketches into ``<store_path>/<kind>/batch=<batch_id>``."""
    from fourstore_spark.operators.lm import lm_tokens
    from fourstore_spark.operators.sketch import (
        cms_build,
        hll_build,
        qsketch_build,
    )

    p = params
    toks = docs.select(F.explode(lm_tokens(F.col(text_col))).alias("tok"))
    sketches = {
        "cms": cms_build(
            toks, "tok", width=p["cms_width"], depth=p["cms_depth"]
        ),
        "hll": hll_build(toks, "tok", m=p["hll_m"]),
    }
    if p["value_col"] is not None:
        sketches["qsketch"] = qsketch_build(
            docs, p["value_col"], sub_bits=p["sub_bits"]
        )
    for kind, sketch in sketches.items():
        layout.write_partition(
            sketch, f"{store_path}/{kind}", "batch", batch_id
        )
