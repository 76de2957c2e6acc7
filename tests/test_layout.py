"""Written-layout faults (fourstore_spark/layout.py): a compaction that
dies right after moving a live directory aside, and a sidecar write that
fails partway, must leave every layout readable with its old contents.

The compaction fixtures are the append/compaction-equality fixtures of
test_store_append, test_lsh_index, test_fulltext_ivf, test_fuzz_lm and
test_streaming."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from fourstore_spark.sources.rdfio import quads_from_nt_text
from fourstore_spark.store import append_quads, read_manifest


def _store_case(spark, tmp_path, sf_dir):
    from test_store_append import _build

    from fourstore_spark import SparqlEngine
    from fourstore_spark.store import compact_store

    path = _build(spark, tmp_path)
    for i in range(3):
        append_quads(
            quads_from_nt_text(spark, f'<urn:c{i}> <urn:p> "w{i}" .'), path
        )

    def query():
        eng = SparqlEngine.from_store(spark, path)
        return sorted(
            r["o"]
            for r in eng.select("SELECT ?o WHERE { ?s <urn:p> ?o }").collect()
        )

    return lambda: compact_store(spark, path), query


def _lsh_case(spark, tmp_path, sf_dir):
    from test_lsh_index import _corpus

    from fourstore_spark.operators.dedup import (
        append_lsh_index,
        compact_lsh_index,
        lsh_query_index,
        write_lsh_index,
    )

    df = spark.createDataFrame(_corpus(11, 36, 12), ["doc_id", "text"])
    corpus = df.where("doc_id % 3 != 0")
    batch = df.where("doc_id % 3 = 0")
    path = str(tmp_path / "lsh")
    write_lsh_index(corpus.where("doc_id % 2 = 0"), path, n_dirs=32)
    append_lsh_index(corpus.where("doc_id % 2 = 1"), path)

    def query():
        return sorted(
            map(tuple, lsh_query_index(spark, path, batch).collect())
        )

    return lambda: compact_lsh_index(spark, path), query


def _ivf_case(spark, tmp_path, sf_dir):
    from fourstore_spark.operators.similarity import (
        append_ivf_index,
        compact_ivf_index,
        ivf_probe_indexed,
        train_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = train_centroids(emb, k=8, iters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb.where("vec_id % 2 = 0"), cents, path)
    append_ivf_index(emb.where("vec_id % 2 = 1"), path)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def query():
        return sorted(map(tuple, ivf_probe_indexed(
            spark, path, queries, k=5, nprobe=4
        ).select("query_id", "vec_id", "rank").collect()))

    return lambda: compact_ivf_index(spark, path), query


def _bm25_case(spark, tmp_path, sf_dir):
    from test_fuzz_lm import _corpus

    from fourstore_spark.operators.lm import (
        append_bm25_index,
        bm25_query,
        compact_bm25_index,
        write_bm25_index,
    )

    df = spark.createDataFrame(_corpus(41, n_docs=90), ["doc_id", "text"])
    path = str(tmp_path / "bm25")
    write_bm25_index(df.where("doc_id % 3 = 0"), path, n_buckets=8)
    append_bm25_index(df.where("doc_id % 3 = 1"), path)
    append_bm25_index(df.where("doc_id % 3 = 2"), path)

    def query():
        return sorted(
            map(tuple, bm25_query(spark, path, ["ab", "cc", "ee"]).collect())
        )

    return lambda: compact_bm25_index(spark, path), query


def _sketch_case(spark, tmp_path, sf_dir):
    from fourstore_spark.streaming import (
        compact_sketch_store,
        init_sketch_store,
        read_sketch_store,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "n_chars")
    path = str(tmp_path / "sketches")
    init_sketch_store(
        docs, path, cms_width=128, cms_depth=3, hll_m=128, sub_bits=4
    )

    def query():
        merged, params = read_sketch_store(spark, path)
        return params, {
            kind: sorted(tuple(r) for r in merged[kind].collect())
            for kind in ("cms", "hll", "qsketch")
        }

    return lambda: compact_sketch_store(spark, path), query


def _crash_after_move_aside(monkeypatch):
    """os.rename of a process killed right after its first rename (the
    swap moving the live directory aside): no later rename happens."""
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append((src, dst))
        if len(calls) > 1:
            raise OSError("injected crash")
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    return calls


@pytest.mark.parametrize(
    "case",
    [_store_case, _lsh_case, _ivf_case, _bm25_case, _sketch_case],
    ids=["store", "lsh", "ivf", "bm25", "sketch"],
)
def test_compaction_recovers_from_crash_mid_swap(
    spark, tmp_path, sf_dir, monkeypatch, case
):
    compact, query = case(spark, tmp_path, sf_dir)
    want = query()

    calls = _crash_after_move_aside(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        compact()
    monkeypatch.undo()
    assert len(calls) >= 2, "the crash must hit the rename-in"

    compact()
    assert query() == want


def _torn_json_dump(monkeypatch):
    """json.dump that writes half its output, then fails."""

    def dump(obj, fh, **kwargs):
        text = json.dumps(obj, **kwargs)
        fh.write(text[: len(text) // 2])
        raise OSError("injected write failure")

    monkeypatch.setattr(json, "dump", dump)


def _no_temp_files(path):
    return not glob.glob(os.path.join(path, ".*.tmp"))


def test_failed_manifest_write_keeps_previous_manifest(
    spark, tmp_path, monkeypatch
):
    from test_store_append import _build

    path = _build(spark, tmp_path)
    before = read_manifest(path)
    _torn_json_dump(monkeypatch)
    with pytest.raises(OSError, match="injected write failure"):
        append_quads(
            quads_from_nt_text(spark, '<urn:c> <urn:p> "v3" .'), path
        )
    monkeypatch.undo()
    assert read_manifest(path) == before
    assert _no_temp_files(path)


def test_failed_index_sidecar_write_keeps_previous_sidecar(
    spark, tmp_path, monkeypatch
):
    from test_fuzz_lm import _corpus

    from fourstore_spark.operators.lm import (
        append_bm25_index,
        write_bm25_index,
    )

    df = spark.createDataFrame(_corpus(31, n_docs=80), ["doc_id", "text"])
    path = str(tmp_path / "bm25")
    write_bm25_index(df.where("doc_id % 2 = 0"), path, n_buckets=16)
    side = os.path.join(path, "_bm25_stats.json")
    with open(side, encoding="utf-8") as fh:
        before = json.load(fh)
    _torn_json_dump(monkeypatch)
    with pytest.raises(OSError, match="injected write failure"):
        append_bm25_index(df.where("doc_id % 2 = 1"), path)
    monkeypatch.undo()
    with open(side, encoding="utf-8") as fh:
        assert json.load(fh) == before
    assert _no_temp_files(path)
