"""Sequence packing: group documents into fixed token-budget training
rows (greedy, deterministic, chunk-parallel).

LLM pre-training consumes fixed-length sequences; feeding one short
document per sequence wastes most of the context window, so pipelines
PACK multiple documents per sequence up to a token budget. Exact
bin-packing is NP-hard and needs global state; the production-standard
compromise is greedy sequential packing, which this operator makes
deterministic AND distributed:

- documents are bucketed into CHUNKS by id range (``chunk`` ids per
  chunk) — a pure column expression, so the assignment is reproducible
  on any engine/partitioning;
- each chunk is packed independently by a greedy in-id-order walk
  (Arrow-batched applyInPandas — per-chunk state only, chunks run in
  parallel, nothing global);
- pack ids are ``chunk * 2^32 + local``, globally unique without any
  coordination.

Cost of chunking vs a global greedy: at most one partially-filled pack
per chunk — negligible at chunk sizes of 10^5+ docs, and the price of
having NO sequential dependency across a 100 TB corpus.

A document longer than the budget gets a pack of its own (downstream
tokenizers truncate); packing never splits documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    chunk: int = 100_000,
) -> DataFrame:
    """Add a ``pack_id`` column assigning every row to a training
    sequence whose summed ``tokens_col`` is <= ``budget`` (oversized
    rows pack alone). Deterministic in (id, chunk, budget).

    Only ``(id, tokens, __chunk)`` — three fixed-width columns — ever
    cross the Arrow/Python boundary: at 100 TB the corpus text must NOT
    be serialized into pandas just to run a counter loop, so the greedy
    walk runs on a metadata projection and ``pack_id`` joins back by id
    (an id-equi join AQE can broadcast per chunk)."""
    from pyspark.sql.types import LongType, StructField, StructType

    meta = df.select(id_col, tokens_col).withColumn(
        "__chunk", (F.col(id_col) / chunk).cast("long")
    )
    # a FRESH StructType: StructType.add mutates in place, and a
    # DataFrame's cached schema must never be mutated
    out_schema = StructType(
        [df.schema[id_col], StructField("pack_id", LongType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        base = int(pdf["__chunk"].iloc[0]) << 32
        packs = []
        acc, pid = 0, 0
        for t in pdf[tokens_col]:
            t = int(t)
            if acc > 0 and acc + t > budget:
                pid += 1
                acc = 0
            acc += t
            packs.append(base + pid)
        return pd.DataFrame({id_col: pdf[id_col], "pack_id": packs})

    assigned = meta.groupBy("__chunk").applyInPandas(pack, out_schema)
    return df.join(assigned, id_col).select(*df.columns, "pack_id")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split every document into overlapping fixed token-count chunks —
    the sliding-window step that turns raw documents into model-sized
    training examples (window = max sequence tokens, stride < window
    gives ``window - stride`` tokens of overlap so no span is only ever
    seen truncated at a boundary).

    Output: one row per chunk with (id, ``chunk_id`` 0..k-1,
    ``n_tokens``, ``chunk_text``). Chunk starts are the multiples of
    ``stride`` below the document's token count, so every token is
    covered and the final chunk may be short. Empty/whitespace documents
    produce no chunks. Tokens are whitespace tokens of the trimmed text
    (swap in a real tokenizer's counts upstream if needed).

    100 TB shape: pure column expressions (split -> sequence ->
    posexplode -> slice) — no shuffle at all, fully whole-stage-codegen;
    the explode multiplies rows ~(1 + overlap) x which the scan
    parallelism already absorbs.
    """
    if window < 1 or stride < 1:
        raise ValueError(f"window/stride must be >= 1, got {window}/{stride}")
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    starts = F.sequence(
        F.lit(0), F.size("__toks") - 1, F.lit(stride)
    )
    d = d.where(F.size("__toks") > 0).select(
        id_col,
        "__toks",
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, window)
    return d.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def packing_stats(packed: DataFrame, tokens_col: str, budget: int) -> DataFrame:
    """One-row packing quality summary: pack count, fill rate, and the
    invariants a correct packing must satisfy (no pack over budget
    unless it is a single oversized doc; every doc packed once)."""
    per_pack = packed.groupBy("pack_id").agg(
        F.sum(tokens_col).alias("tok"), F.count(F.lit(1)).alias("n")
    )
    return per_pack.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("tok").alias("total_tokens"),
        F.round(
            F.sum(F.least(F.col("tok"), F.lit(budget))).cast("double")
            / (F.count(F.lit(1)) * budget),
            6,
        ).alias("fill_rate"),
        F.sum(
            ((F.col("tok") > budget) & (F.col("n") > 1)).cast("int")
        ).alias("over_budget_multi"),
    )


def shard_corpus(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    order_col: str | None = None,
) -> DataFrame:
    """Deterministic output sharding — the write-side layout of a
    training-data pipeline (webdataset/TFRecord-style fixed shard
    files): every row gets a ``shard`` in [0, n_shards) from the same
    engine-portable md5 bucket as sampling.py (identical assignment on
    every run/engine/partitioning) and a dense 0-based ``shard_pos``
    ordered by ``order_col`` (default: the key) within its shard, so a
    reader can address any (shard, pos) pair reproducibly.

    Write with ``.repartition(n_shards, "shard").write.partitionBy
    ("shard")`` — one exchange keyed by shard; the row_number window
    reuses that same partitioning (AQE folds the two exchanges).
    At 100 TB pick n_shards so a shard is a few GB: assignments stay
    stable under re-runs because they depend only on the key.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: {n_shards}")
    from pyspark.sql import Window as W

    from .sampling import hash_bucket

    order = order_col or key_col
    w = W.partitionBy("shard").orderBy(F.col(order).asc())
    return df.withColumn(
        "shard", (hash_bucket(F.col(key_col)) % n_shards).cast("int")
    ).withColumn(
        "shard_pos", (F.row_number().over(w) - 1).cast("long")
    )
