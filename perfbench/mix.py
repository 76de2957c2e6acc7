"""Seeded request streams for the endpoint workload, the DuckDB oracle
for their answers, and parsers that bring every result format back to
comparable rows.

Each client gets its own stream, a pure function of (seed, client): the
same seed gives byte-identical requests. Reads draw their
constants Zipf-skewed, so some query texts repeat (plan-cache hits) and
most do not. Writes only touch subjects under ``urn:perfbench:`` that the
writing client owns, so base-data answers never depend on how clients
interleave, and each client knows exactly what its own later reads must
see.
"""

from __future__ import annotations

import bisect
import csv
import datetime
import io
import json
import random
import urllib.parse
import xml.etree.ElementTree as ET
from dataclasses import asdict, dataclass, field, replace

from perfbench import datagen

C = "urn:col:"
BENCH_GRAPH = "urn:g:perfbench"
DATA_GRAPH = "urn:g:perfbench-data"
ZIPF_S = 1.1
# one block of reads, in the order sent: each shape's share of the read
# mix, cheap and costly shapes interleaved. The order is the same for
# every seed: a run covers one to two blocks, and a seeded shuffle of the
# partial block moved p50 by 14-23% across seeds.
READ_BLOCK = ["lookup", "bgp", "describe", "orders", "lookup", "filter", "join",
              "lookup", "agg", "topk", "describe", "lookup", "ask", "bgp", "orders",
              "filter", "construct", "join", "agg", "topk"]
WRITE_EVERY = 5  # endpoint-write: one request in five is a write
WRITE_CYCLE = ["insert", "data", "insert", "delete", "insert",
               "insert", "data", "insert", "insert", "insert"]
RYW_EVERY = 5  # endpoint-write: one read in five looks up an own write
REPEAT_EVERY = 3  # one base read in three re-sends an earlier text
STREAM_LEN = 4000  # per client; far more than a run can send

# subject-lookup mapping for the tables the reads touch (the quads
# mapping of sources/relational.py restated for the oracle)
LOOKUP = {
    "customer": ("c_custkey", [("c_name", "str"), ("c_nationkey", "fk:nation"),
                               ("c_acctbal", "num"), ("c_mktsegment", "str")]),
    "supplier": ("s_suppkey", [("s_name", "str"), ("s_nationkey", "fk:nation"),
                               ("s_acctbal", "num")]),
    "part": ("p_partkey", [("p_name", "str"), ("p_brand", "str"), ("p_type", "str"),
                           ("p_size", "num"), ("p_retailprice", "num")]),
    "orders": ("o_orderkey", [("o_custkey", "fk:customer"), ("o_orderstatus", "str"),
                              ("o_totalprice", "num"), ("o_orderdate", "ts"),
                              ("o_orderpriority", "str")]),
}
SELECT_FORMATS = ["json", "json", "xml", "csv", "tsv"]


@dataclass
class Request:
    rid: str
    kind: str  # read | ryw | insert | data | delete
    method: str
    path: str
    body: str | None = None
    content_type: str | None = None
    form: str = ""  # SELECT | ASK | CONSTRUCT | DESCRIBE for reads
    fmt: str = ""
    oracle: list = field(default_factory=list)  # see Oracle.expected
    ordered: bool = False

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)


class Zipf:
    """Keys 0..n-1 drawn with P(rank r) ~ 1/r^s; which key holds which
    rank is a seeded permutation."""

    def __init__(self, n: int, rng: random.Random, s: float = ZIPF_S):
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        acc, self.cdf = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            self.cdf.append(acc)

    def draw(self, rng: random.Random) -> int:
        i = bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])
        return self.keys[min(i, len(self.keys) - 1)]


def _rows(table: str, scale: float) -> int:
    return max(1, int(round(datagen.ROWS[table] * scale)))


def _sparql_request(rid, kind, text, form, fmt, oracle, rng, ordered=False):
    params = {"query": text}
    if fmt:
        params["output"] = fmt
    if rng.random() < 0.3:
        return Request(rid, kind, "POST", "/sparql/", urllib.parse.urlencode(params),
                       "application/x-www-form-urlencoded", form, fmt, oracle, ordered)
    return Request(rid, kind, "GET", "/sparql/?" + urllib.parse.urlencode(params),
                   form=form, fmt=fmt, oracle=oracle, ordered=ordered)


class Mix:
    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.zipf = {
            t: Zipf(_rows(t, scale), random.Random(f"{seed}:keys:{t}"))
            for t in ("customer", "orders", "part", "supplier")
        }
        self.nations = Zipf(25, random.Random(f"{seed}:keys:nation"))

    # ---------------------------------------------------------- reads
    def read(self, rid: str, rng: random.Random, shape: str) -> Request:
        z = self.zipf
        fmt = rng.choice(SELECT_FORMATS)
        seg = rng.choice(datagen.SEGMENTS)
        if shape == "lookup":
            t = rng.choice(list(LOOKUP))
            k = z[t].draw(rng)
            return _sparql_request(rid, "read", f"SELECT ?p ?o WHERE {{ <urn:{t}:{k}> ?p ?o }}",
                                   "SELECT", fmt, ["lookup", t, k], rng)
        if shape == "describe":
            t = rng.choice(list(LOOKUP))
            k = z[t].draw(rng)
            return _sparql_request(rid, "read", f"DESCRIBE <urn:{t}:{k}>", "DESCRIBE", "",
                                   ["describe", t, k], rng)
        if shape == "bgp":
            n = self.nations.draw(rng)
            text = (f"SELECT ?c ?name WHERE {{ ?c <{C}customer#c_nationkey> <urn:nation:{n}> ; "
                    f"<{C}customer#c_mktsegment> \"{seg}\" ; <{C}customer#c_name> ?name }}")
            sql = (f"SELECT 'urn:customer:' || c_custkey, c_name FROM customer "
                   f"WHERE c_nationkey = {n} AND c_mktsegment = '{seg}'")
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng)
        if shape == "orders":
            k = z["customer"].draw(rng)
            text = (f"SELECT ?o ?tp WHERE {{ ?o <{C}orders#o_custkey> <urn:customer:{k}> ; "
                    f"<{C}orders#o_totalprice> ?tp }}")
            sql = f"SELECT 'urn:orders:' || o_orderkey, o_totalprice FROM orders WHERE o_custkey = {k}"
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng)
        if shape == "filter":
            size = 1 + self.nations.draw(rng) * 2
            text = (f"SELECT ?p ?name WHERE {{ ?p <{C}part#p_size> ?sz ; <{C}part#p_name> ?name . "
                    f"FILTER(?sz = {size}) }}")
            sql = f"SELECT 'urn:part:' || p_partkey, p_name FROM part WHERE p_size = {size}"
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng)
        if shape == "join":
            prio = rng.choice(datagen.PRIORITIES)
            n = self.nations.draw(rng)
            text = (f"SELECT ?o ?name WHERE {{ ?o <{C}orders#o_orderpriority> \"{prio}\" ; "
                    f"<{C}orders#o_custkey> ?c . ?c <{C}customer#c_nationkey> <urn:nation:{n}> ; "
                    f"<{C}customer#c_name> ?name }}")
            sql = (f"SELECT 'urn:orders:' || o_orderkey, c_name FROM orders JOIN customer "
                   f"ON o_custkey = c_custkey WHERE o_orderpriority = '{prio}' AND c_nationkey = {n}")
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng)
        if shape == "agg":
            k = z["customer"].draw(rng)
            text = (f"SELECT ?st (COUNT(?o) AS ?n) WHERE {{ ?o <{C}orders#o_custkey> <urn:customer:{k}> ; "
                    f"<{C}orders#o_orderstatus> ?st }} GROUP BY ?st")
            sql = (f"SELECT o_orderstatus, COUNT(*) FROM orders WHERE o_custkey = {k} "
                   f"GROUP BY o_orderstatus")
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng)
        if shape == "topk":
            n = self.nations.draw(rng)
            text = (f"SELECT ?c ?bal WHERE {{ ?c <{C}customer#c_nationkey> <urn:nation:{n}> ; "
                    f"<{C}customer#c_acctbal> ?bal }} ORDER BY DESC(?bal) ?c LIMIT 5")
            sql = (f"SELECT 'urn:customer:' || c_custkey AS c, c_acctbal FROM customer "
                   f"WHERE c_nationkey = {n} ORDER BY c_acctbal DESC, c LIMIT 5")
            return _sparql_request(rid, "read", text, "SELECT", fmt, ["sql", sql], rng,
                                   ordered=True)
        if shape == "ask":
            k = z["customer"].draw(rng)
            text = f"ASK {{ <urn:customer:{k}> <{C}customer#c_mktsegment> \"{seg}\" }}"
            sql = f"SELECT COUNT(*) > 0 FROM customer WHERE c_custkey = {k} AND c_mktsegment = '{seg}'"
            return _sparql_request(rid, "read", text, "ASK", rng.choice(["json", "xml"]),
                                   ["ask", sql], rng)
        k = z["customer"].draw(rng)
        text = (f"CONSTRUCT {{ ?o <urn:perfbench:status> ?st }} WHERE {{ "
                f"?o <{C}orders#o_custkey> <urn:customer:{k}> ; <{C}orders#o_orderstatus> ?st }}")
        sql = (f"SELECT 'urn:orders:' || o_orderkey, 'urn:perfbench:status', o_orderstatus "
               f"FROM orders WHERE o_custkey = {k}")
        return _sparql_request(rid, "read", text, "CONSTRUCT", "", ["triples", sql], rng)

    # ---------------------------------------------------------- streams
    def stream(self, client: int, n: int = STREAM_LEN) -> list[Request]:
        """The request kinds follow fixed cycles (READ_BLOCK, every
        WRITE_EVERY-th request a write of kind WRITE_CYCLE,
        every RYW_EVERY-th read an own-subject lookup, every REPEAT_EVERY-th
        base read a repeat of an earlier one, hot texts first) so every
        seed gives the same mix; the seed picks constants, formats, the
        HTTP method and which earlier text a repeat re-sends."""
        rng = random.Random(f"{self.seed}:client:{client}")
        owned: dict[str, dict] = {}  # subject -> {(p, o)} this client wrote
        inserted: list[tuple] = []  # (s, p, o) still present, deletable
        out: list[Request] = []
        shapes: list[str] = []
        sent: list[Request] = []  # this client's distinct base reads so far
        hot = Zipf(n, rng)
        hot.keys.sort()  # rank r -> the r-th text sent
        nwrites = nreads = nbase = 0
        for i in range(n):
            rid = f"m{client}.{i}"
            if (i + client) % WRITE_EVERY == WRITE_EVERY - 1:
                kind = WRITE_CYCLE[(client + nwrites) % len(WRITE_CYCLE)]
                if kind == "delete" and not inserted:
                    kind = "insert"
                out.append(self._write(rid, client, i, rng, owned, inserted, kind))
                nwrites += 1
                continue
            nreads += 1
            if owned and nreads % RYW_EVERY == 0:
                s = rng.choice(sorted(owned))
                rows = sorted([p, o] for p, o in owned[s])
                out.append(_sparql_request(rid, "ryw", f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                                           "SELECT", rng.choice(SELECT_FORMATS),
                                           ["rows", rows], rng))
            else:
                nbase += 1
                if sent and nbase % REPEAT_EVERY == 0:
                    k = hot.draw(rng)
                    while k >= len(sent):
                        k = hot.draw(rng)
                    out.append(replace(sent[k], rid=rid))
                    continue
                if not shapes:
                    shapes = list(reversed(READ_BLOCK))
                sent.append(self.read(rid, rng, shapes.pop()))
                out.append(sent[-1])
        return out

    def _write(self, rid, client, i, rng, owned, inserted, kind) -> Request:
        if kind == "delete":
            s, p, o = inserted.pop(rng.randrange(len(inserted)))
            owned[s].discard((p, o))
            text = f'DELETE DATA {{ GRAPH <{BENCH_GRAPH}> {{ <{s}> <{p}> "{o}" }} }}'
            return Request(rid, "delete", "POST", "/update/",
                           urllib.parse.urlencode({"update": text}),
                           "application/x-www-form-urlencoded")
        if kind == "data":
            s = f"urn:perfbench:c{client}:d{i}"
            triples = {(f"urn:perfbench:q{j}", f"w{client}.{i}.{j}")
                       for j in range(rng.randint(10, 30))}
            owned[s] = set(triples)
            body = "".join(f'<{s}> <{p}> "{o}" .\n' for p, o in sorted(triples))
            return Request(rid, "data", "POST",
                           "/data/?" + urllib.parse.urlencode({"graph": DATA_GRAPH}),
                           body, "application/n-triples")
        s = f"urn:perfbench:c{client}:n{i}"
        triples = [(f"urn:perfbench:p{j}", f"v{client}.{i}.{j}") for j in range(rng.randint(1, 4))]
        owned[s] = set(triples)
        inserted.extend((s, p, o) for p, o in triples)
        data = " ".join(f'<{s}> <{p}> "{o}" .' for p, o in triples)
        text = f"INSERT DATA {{ GRAPH <{BENCH_GRAPH}> {{ {data} }} }}"
        return Request(rid, "insert", "POST", "/update/",
                       urllib.parse.urlencode({"update": text}),
                       "application/x-www-form-urlencoded")

    def warmup(self) -> list[Request]:
        """Untimed requests that compile every read shape once and run
        each write path once."""
        rng = random.Random(f"{self.seed}:warmup")
        reqs = [self.read(f"w{i}", rng, shape)
                for i, shape in enumerate(dict.fromkeys(READ_BLOCK))]
        owned, inserted = {}, []
        for i, kind in enumerate(("insert", "data", "delete")):
            reqs.append(self._write(f"w{100 + i}", 99, i, rng, owned, inserted, kind))
        return reqs


# ------------------------------------------------------------- oracle
def canon(v):
    """One comparable form for a value from DuckDB or from a result body:
    numbers as floats, timestamps in the store's lexical form, other
    strings as themselves."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return v
    raise TypeError(type(v))


def _sorted(rows):
    return sorted(rows, key=repr)


class Oracle:
    """Expected answers, computed by DuckDB over the parquet tables the
    store was imported from."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._memo: dict[str, object] = {}

    def _lookup(self, table: str, key: int) -> list[tuple]:
        kcol, cols = LOOKUP[table]
        row = self.con.execute(
            f"SELECT {', '.join(c for c, _ in cols)} FROM {table} WHERE {kcol} = {int(key)}"
        ).fetchone()
        out = []
        for (col, kind), v in zip(cols, row or ()):
            if v is None:
                continue
            obj = f"urn:{kind[3:]}:{v}" if kind.startswith("fk:") else v
            out.append((f"{C}{table}#{col}", canon(obj)))
        return out

    def expected(self, req: Request):
        key = json.dumps(req.oracle)
        if key not in self._memo:
            kind, *args = req.oracle
            if kind == "lookup":
                val = _sorted(self._lookup(*args))
            elif kind == "describe":
                s = f"urn:{args[0]}:{args[1]}"
                val = _sorted((s, p, o) for p, o in self._lookup(*args))
            elif kind == "rows":
                val = _sorted(tuple(canon(v) for v in r) for r in args[0])
            elif kind == "ask":
                val = bool(self.con.execute(args[0]).fetchone()[0])
            else:  # sql / triples
                rows = [tuple(canon(v) for v in r) for r in self.con.execute(args[0]).fetchall()]
                val = rows if req.ordered else _sorted(rows)
            self._memo[key] = val
        return self._memo[key]


# ------------------------------------------------------------- parsers
_XR = "{http://www.w3.org/2005/sparql-results#}"


def _nt_term(tok: str):
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if tok.startswith('"'):
        end = tok.rindex('"')
        lex = tok[1:end].encode("utf-8").decode("unicode_escape")
        return canon(lex)
    return canon(tok)


def parse_ntriples(body: str) -> list[tuple]:
    out = []
    for line in body.splitlines():
        line = line.strip()
        if not line:
            continue
        s, p, rest = line.split(" ", 2)
        out.append((_nt_term(s), _nt_term(p), _nt_term(rest.rstrip(" .").rstrip())))
    return out


def parse_body(req: Request, body: str):
    """Result body -> the oracle's form: ASK -> bool, graph forms ->
    sorted triples, SELECT -> rows (sorted unless the query orders)."""
    if req.form in ("CONSTRUCT", "DESCRIBE"):
        return _sorted(parse_ntriples(body))
    fmt = req.fmt or "json"
    if req.form == "ASK":
        if fmt == "xml":
            return ET.fromstring(body).find(f"{_XR}boolean").text.strip() == "true"
        return bool(json.loads(body)["boolean"])
    if fmt == "json":
        doc = json.loads(body)
        names = doc["head"]["vars"]
        rows = [tuple(canon(b[v]["value"]) if v in b else None for v in names)
                for b in doc["results"]["bindings"]]
    elif fmt == "xml":
        root = ET.fromstring(body)
        names = [v.get("name") for v in root.iter(f"{_XR}variable")]
        rows = []
        for res in root.iter(f"{_XR}result"):
            vals = {b.get("name"): canon(b[0].text or "") for b in res.findall(f"{_XR}binding")}
            rows.append(tuple(vals.get(v) for v in names))
    elif fmt == "csv":
        recs = list(csv.reader(io.StringIO(body)))
        rows = [tuple(canon(v) for v in r) for r in recs[1:]]
    else:  # tsv: N-Triples-style terms
        lines = body.split("\n")
        rows = [tuple(_nt_term(c) for c in ln.split("\t")) for ln in lines[1:] if ln]
    return rows if req.ordered else _sorted(rows)
