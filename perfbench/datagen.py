"""Seeded generator of the TPC-H-shaped tables the store is imported from.

Writes one parquet file per table (region nation customer supplier part
orders lineitem events documents embeddings) with the column names and
types that ``fourstore_spark.sources.relational`` maps to quads. Row
counts scale like TPC-H: ``sf=0.01`` gives 60,000 lineitem rows,
``sf=0.1`` gives 600,000. The same (sf, seed) always writes the same
tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor
ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
PART_WORDS = ["small", "red", "ring", "widget", "blue", "steel", "green",
              "bolt", "large", "brass", "copper", "gear"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small query customer "
         "stream group filter big index plan cache shuffle").split()
EMBED_DIM = 64


def _dates(rng, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    """Word-salad texts; one in five is a light edit of an earlier text,
    so MinHash LSH finds near-duplicate pairs."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 90)))])
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS.items()}
    i64 = lambda k: np.arange(k, dtype=np.int64)  # noqa: E731
    out: dict[str, dict] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }
    out["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    nc = n["customer"]
    out["customer"] = {
        "c_custkey": pa.array(i64(nc)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    }
    ns = n["supplier"]
    out["supplier"] = {
        "s_suppkey": pa.array(i64(ns)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    }
    npart = n["part"]
    words = np.array(PART_WORDS)
    out["part"] = {
        "p_partkey": pa.array(i64(npart)),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(words[rng.integers(0, 12, npart)],
                                       words[rng.integers(0, 12, npart)])
        ]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (i64(npart) % 1000) * 0.1, 2)),
    }
    no = n["orders"]
    out["orders"] = {
        "o_orderkey": pa.array(i64(no)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _dates(rng, no, "1995-01-01", 2400),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    }
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _dates(rng, nl, "1995-01-01", 2600),
    }
    ne = n["events"]
    out["events"] = {
        "event_id": pa.array(i64(ne)),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 86_400 * 10**6 * 30, ne)).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 100, ne)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.uniform(0, 100, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.normal(0, 0.1, (nv, EMBED_DIM)).astype(np.float32)
    out["embeddings"] = {
        "vec_id": pa.array(i64(nv)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    }
    return {t: pa.table(cols) for t, cols in out.items()}


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
