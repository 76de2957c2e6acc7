"""Dump .explain("formatted") for every bench.py query.

Usage: python scripts/bench_plans.py <suffix> [out_dir]
       (writes <out_dir>/<query>_<suffix>.txt; suffix = before|after;
       out_dir defaults to plans/r12)

Reuses bench.py's exact query construction (same store, same params) but
captures the compiled physical plan instead of executing, so it can run
without perturbing timing measurements. The q1-q5 SPARQL queries go
through the same run_fresh flatten wrapper the bench times.

The q1-q5 plans are written twice: over ``SparqlEngine.from_store`` (its
stars read the property table) and, as <query>_plain_<suffix>.txt, over
a plain engine on the same store's quads (the served engine's shape: its
stars group the quads).

The ten endpoint read shapes (``perfbench.mix.READ_BLOCK``, the reads of
``Mix(ENDPOINT_SEED, 0.001).warmup()``) are written as
ep_<shape>_plain_<suffix>.txt over the plain engine: the plan of the
result DataFrame each served read serializes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ENDPOINT_SEED = 1  # the perfbench.mix seed of the endpoint read shapes


def endpoint_reads() -> dict:
    """shape -> SPARQL text of the endpoint workload's warm-up reads
    (one per shape, in READ_BLOCK order)."""
    from urllib.parse import parse_qs

    from perfbench import mix

    reads = [r for r in mix.Mix(ENDPOINT_SEED, 0.001).warmup() if r.kind == "read"]
    out = {}
    for shape, r in zip(dict.fromkeys(mix.READ_BLOCK), reads):
        form = r.body if r.method == "POST" else r.path.split("?", 1)[1]
        out[shape] = parse_qs(form)["query"][0]
    return out


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r12",
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-plans")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fourstore_spark.operators.dedup import minhash_lsh_candidates
    from fourstore_spark.operators.similarity import cosine_topk
    from fourstore_spark.operators.textstats import text_stats
    from fourstore_spark.sources.relational import quads_from_sf_dir
    from fourstore_spark.sparql.engine import SparqlEngine
    from fourstore_spark.store import read_manifest, read_store, write_store

    import __spark_entry__ as entry_mod

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    store_path = f"/tmp/fourstore_store_{sf_tag}"
    manifest = read_manifest(store_path)
    if not manifest or (
        manifest.get("format") != "fourstore-quads-parquet-v4"
        or "pred_numeric_dt" not in manifest
    ):
        write_store(quads_from_sf_dir(spark, sf_dir), store_path)
    engines = {
        "": SparqlEngine.from_store(spark, store_path),
        "_plain": SparqlEngine(spark, read_store(spark, store_path)),
    }

    P = "urn:col:"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    # q1-q5: SPARQL text -> flat() column types
    queries = {
        "q1_agg": (entry_mod._FLAGSHIP, entry_mod._FLAGSHIP_TYPES),
        "q2_join": (
            f"""SELECT ?cname ?nname ?rname WHERE {{
                  ?c <{P}customer#c_name> ?cname ;
                     <{P}customer#c_nationkey> ?nat .
                  ?nat <{P}nation#n_name> ?nname ;
                       <{P}nation#n_regionkey> ?reg .
                  ?reg <{P}region#r_name> ?rname }}""",
            {},
        ),
        "q3_optional": (
            f"""SELECT ?o ?pk WHERE {{
                  ?o <{P}orders#o_orderstatus> ?st .
                  OPTIONAL {{ ?li <{P}lineitem#l_orderkey> ?o ;
                                  <{P}lineitem#l_partkey> ?pk }} }}""",
            {},
        ),
        "q4_topk": (
            f"SELECT ?c ?bal WHERE {{ ?c <{P}customer#c_acctbal> ?bal }} "
            f"ORDER BY DESC(?bal) ?c LIMIT 100",
            dict(bal="num"),
        ),
        "q5_groupjoin": (
            f"""SELECT ?nname (SUM(?tp) AS ?total) (COUNT(?o) AS ?n)
                WHERE {{ ?o <{P}orders#o_custkey> ?c ;
                            <{P}orders#o_totalprice> ?tp .
                         ?c <{P}customer#c_nationkey> ?nat .
                         ?nat <{P}nation#n_name> ?nname }}
                GROUP BY ?nname""",
            dict(total="num", n="int"),
        ),
    }

    dfs = {}
    for tag, eng in engines.items():
        for name, (text, types) in queries.items():
            dfs[name + tag] = (
                lambda eng=eng, text=text, types=types:
                eng.query(text).flat(**types)
            )
    plain = engines["_plain"]
    for shape, text in endpoint_reads().items():
        dfs[f"ep_{shape}_plain"] = lambda text=text: plain.query(text).df
    dfs.update({
        "q6_minhash": lambda: minhash_lsh_candidates(
            docs, "text", "doc_id", num_hashes=32, bands=8
        ),
        "q7_cosine": lambda: cosine_topk(
            emb,
            emb.where(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=10,
        ),
        "q8_textstats": lambda: text_stats(docs).agg(
            F.sum("n_tokens"), F.avg("quality"),
            F.count_distinct("fingerprint"),
        ),
    })

    for name, build in dfs.items():
        df = build()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
