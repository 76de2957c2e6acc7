"""W3C SPARQL test-suite manifest runner (manifest.ttl ingestion).

The reference consumes the published W3C DAWG/SPARQL-WG manifests
(``/root/reference/src/dawg-tests/run.sh`` globs ``data/**/manifest.*``
and ``runtest.pl`` walks each manifest's ``mf:entries`` list, loading
``qt:data``/``qt:graphData``, running ``qt:query`` and diffing against
``mf:result``, with ``excuses.txt`` recording known deltas). This module
re-expresses that harness over the engine itself — DOGFOODING:

- the manifest.ttl is parsed with the engine's own Turtle reader
  (``sources.rdfio.quads_from_turtle``) and walked by a SPARQL query run
  through :class:`SparqlEngine` (no third-party RDF library);
- relative file IRIs resolve against the manifest's location via the
  parser's BASE machinery;
- data files load through ``sources.rdfio.load_rdf`` (qt:data into the
  default graph, qt:graphData into the graph named by the file IRI,
  exactly the protocol the W3C vocabulary specifies);
- expected results parse from any of the three official encodings:
  SPARQL-XML (``.srx``), SPARQL-JSON (``.srj``), and the result-set
  vocabulary in Turtle (``rs:`` — including ``rs:index`` ordering and
  ``rs:boolean`` for ASK); CONSTRUCT expectations are graphs compared
  modulo blank-node bijection.

Vocabulary (all public W3C namespaces):
    mf: test-manifest#   qt: test-query#   rs: result-set#
    ut: test-update#     dawgt: test-dawg#

Supported test types: QueryEvaluationTest, PositiveSyntaxTest[11],
NegativeSyntaxTest[11], Positive/NegativeUpdateSyntaxTest11, and
UpdateEvaluationTest; anything else is reported as ``skipped`` with its
type (the caller's excuses map decides whether that is acceptable).
Sub-manifests via ``mf:include`` recurse.
"""

from __future__ import annotations

import json
import os
import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from itertools import permutations
from urllib.parse import urlparse

MF = "http://www.w3.org/2001/sw/DataAccess/tests/test-manifest#"
QT = "http://www.w3.org/2001/sw/DataAccess/tests/test-query#"
RS = "http://www.w3.org/2001/sw/DataAccess/tests/result-set#"
UT = "http://www.w3.org/2009/sparql/tests/test-update#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

_SYNTAX_POSITIVE = {
    MF + "PositiveSyntaxTest",
    MF + "PositiveSyntaxTest11",
    MF + "PositiveUpdateSyntaxTest11",
}
_SYNTAX_NEGATIVE = {
    MF + "NegativeSyntaxTest",
    MF + "NegativeSyntaxTest11",
    MF + "NegativeUpdateSyntaxTest11",
}


@dataclass
class W3CTest:
    iri: str
    name: str
    types: list[str]
    query: str | None = None  # file IRI
    data: list[str] = field(default_factory=list)
    graph_data: list[str] = field(default_factory=list)
    result: str | None = None  # file IRI (eval tests)
    # UpdateEvaluationTest: expected post-state
    update_result_data: list[str] = field(default_factory=list)
    update_result_graphs: list[tuple[str, str]] = field(default_factory=list)
    update_graphs: list[tuple[str, str]] = field(default_factory=list)

    @property
    def kind(self) -> str:
        for t in self.types:
            if t in _SYNTAX_POSITIVE:
                return "syntax+"
            if t in _SYNTAX_NEGATIVE:
                return "syntax-"
            if t == MF + "QueryEvaluationTest":
                return "query"
            if t == MF + "UpdateEvaluationTest":
                return "update"
            if t == MF + "CSVResultFormatTest":
                return "csv"
        return "unsupported"


def _file_path(iri: str) -> str:
    u = urlparse(iri)
    if u.scheme != "file":
        raise ValueError(f"manifest references non-file IRI {iri!r}")
    return u.path


def _read(iri: str) -> str:
    with open(_file_path(iri), encoding="utf-8") as fh:
        return fh.read()


def _manifest_graph(spark, path: str):
    """manifest.ttl -> {subject: {pred: [object lex, ...]}} plus the set
    of bnode-valued objects, extracted BY THE ENGINE (Turtle reader +
    a SPARQL scan), not a separate RDF stack."""
    from fourstore_spark.sources.rdfio import quads_from_turtle
    from fourstore_spark.sparql.engine import SparqlEngine

    base = "file://" + os.path.abspath(path)
    text = f"@base <{base}> .\n" + open(path, encoding="utf-8").read()
    quads = quads_from_turtle(spark, text, namespace_bnodes=False)
    eng = SparqlEngine(spark, quads)
    res = eng.query("SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    props: dict[str, dict[str, list[str]]] = {}
    for row in res.df.collect():
        s, p, o = row["s"]["lex"], row["p"]["lex"], row["o"]["lex"]
        props.setdefault(s, {}).setdefault(p, []).append(o)
    return props


def _rdf_list(props, head) -> list[str]:
    out = []
    seen = set()
    while head and head != RDF + "nil" and head not in seen:
        seen.add(head)
        cell = props.get(head, {})
        out.extend(cell.get(RDF + "first", []))
        nxt = cell.get(RDF + "rest", [])
        head = nxt[0] if nxt else None
    return out


def read_manifest(spark, path: str) -> list[W3CTest]:
    """Parse one manifest.ttl (recursing into mf:include) into tests."""
    props = _manifest_graph(spark, path)
    tests: list[W3CTest] = []
    manifests = [
        s for s, ps in props.items() if MF + "Manifest" in ps.get(RDF + "type", [])
    ] or list(props)
    for m in manifests:
        for inc_head in props.get(m, {}).get(MF + "include", []):
            for sub in _rdf_list(props, inc_head):
                tests.extend(read_manifest(spark, _file_path(sub)))
        for entry_head in props.get(m, {}).get(MF + "entries", []):
            for t_iri in _rdf_list(props, entry_head):
                tests.append(_build_test(props, t_iri))
    return tests


def _build_test(props, t_iri: str) -> W3CTest:
    tp = props.get(t_iri, {})
    t = W3CTest(
        iri=t_iri,
        name=(tp.get(MF + "name") or [t_iri.rsplit("#", 1)[-1]])[0],
        types=tp.get(RDF + "type", []),
    )
    actions = tp.get(MF + "action", [])
    if actions:
        a = actions[0]
        if a.startswith("_:"):
            ap = props.get(a, {})
            t.query = (ap.get(QT + "query") or ap.get(UT + "request") or [None])[0]
            t.data = ap.get(QT + "data", []) + ap.get(UT + "data", [])
            t.graph_data = ap.get(QT + "graphData", [])
            for g in ap.get(UT + "graphData", []):
                gp = props.get(g, {})
                src = (gp.get(UT + "graph") or [None])[0]
                label = (gp.get(RDFS + "label") or [src])[0]
                if src:
                    t.update_graphs.append((src, label))
        else:
            t.query = a  # syntax tests: action IS the query file
    results = tp.get(MF + "result", [])
    if results:
        r = results[0]
        if r.startswith("_:"):  # UpdateEvaluationTest post-state
            rp = props.get(r, {})
            t.update_result_data = rp.get(UT + "data", [])
            for g in rp.get(UT + "graphData", []):
                gp = props.get(g, {})
                src = (gp.get(UT + "graph") or [None])[0]
                label = (gp.get(RDFS + "label") or [src])[0]
                if src:
                    t.update_result_graphs.append((src, label))
        else:
            t.result = r
    return t


# ---------------------------------------------------------------- loading
def _load_rdf_text(spark, iri: str, graph: str):
    from fourstore_spark.sources.rdfio import quads_from_text, rdf_syntax

    if rdf_syntax(iri) is None:
        raise ValueError(f"unknown RDF extension on {iri!r}")
    text = _read(iri)
    return quads_from_text(spark, text, graph, rdf_syntax(iri, head=text))


def _dataset(spark, data, graph_data):
    from fourstore_spark.model import QUADS_SCHEMA, DEFAULT_GRAPH

    frames = [_load_rdf_text(spark, d, DEFAULT_GRAPH) for d in data]
    frames += [_load_rdf_text(spark, g, g) for g in graph_data]
    if not frames:
        return spark.createDataFrame([], QUADS_SCHEMA)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# ------------------------------------------------------- expected results
_XSD = "http://www.w3.org/2001/XMLSchema#"
_NUM_EXACT = {_XSD + "integer", _XSD + "decimal", _XSD + "long",
              _XSD + "int", _XSD + "short", _XSD + "byte",
              _XSD + "nonNegativeInteger", _XSD + "positiveInteger"}
_NUM_FLOAT = {_XSD + "double", _XSD + "float"}


def _norm_term(tup):
    """(type, value, dt, lang) canonicalized: simple literal ==
    xsd:string, and numeric literals compare by VALUE ("4.0" == "4" for
    xsd:decimal) — the published expected-result files and engines
    disagree on lexical forms, and the official harness diffs values
    (result-diff.pl), not spellings."""
    ty, v, dt, lang = tup
    if ty == "literal" and dt == XSD_STRING:
        dt = None
    if ty == "literal" and dt in _NUM_EXACT:
        from decimal import Decimal, InvalidOperation

        try:
            v = str(Decimal(v).normalize())
        except InvalidOperation:
            pass
    elif ty == "literal" and dt in _NUM_FLOAT:
        try:
            v = repr(float(v))
        except ValueError:
            pass
    return (ty, v, dt, lang or None)


def _json_term(obj) -> tuple:
    return _norm_term(
        (obj["type"], obj["value"], obj.get("datatype"), obj.get("xml:lang"))
    )


def parse_srx(text: str):
    """SPARQL Query Results XML -> (boolean|None, ordered solution list)."""
    ns = {"s": "http://www.w3.org/2005/sparql-results#"}
    root = ET.fromstring(text)
    b = root.find("s:boolean", ns)
    if b is not None:
        return (b.text.strip() == "true", None)
    sols = []
    for result in root.findall(".//s:result", ns):
        sol = {}
        for binding in result.findall("s:binding", ns):
            var = binding.attrib["name"]
            for child in binding:
                tag = child.tag.split("}", 1)[-1]
                if tag == "uri":
                    sol[var] = _norm_term(("uri", child.text or "", None, None))
                elif tag == "bnode":
                    sol[var] = _norm_term(("bnode", child.text or "", None, None))
                else:
                    dt = child.attrib.get("datatype")
                    lang = child.attrib.get(
                        "{http://www.w3.org/XML/1998/namespace}lang"
                    )
                    sol[var] = _norm_term(("literal", child.text or "", dt, lang))
        sols.append(sol)
    return (None, sols)


def parse_srj(text: str):
    doc = json.loads(text)
    if "boolean" in doc:
        return (bool(doc["boolean"]), None)
    sols = [
        {var: _json_term(term) for var, term in b.items()}
        for b in doc["results"]["bindings"]
    ]
    return (None, sols)


def parse_rs_turtle(spark, iri: str):
    """Result-set vocabulary in Turtle -> (boolean|None, solutions,
    ordered?). Parsed with the engine's own Turtle reader."""
    from fourstore_spark.sparql import algebra as A
    from fourstore_spark.sources.rdfio import parse_turtle

    triples = parse_turtle(_read(iri))
    props: dict[str, dict[str, list]] = {}

    def key(term):
        if isinstance(term, A.Iri):
            return term.value
        if isinstance(term, A.BNode):
            return "_:" + term.label
        return term

    for tr in triples:
        props.setdefault(key(tr.s), {}).setdefault(key(tr.p), []).append(tr.o)

    rset = None
    for s, ps in props.items():
        types = [key(o) for o in ps.get(RDF + "type", [])]
        if RS + "ResultSet" in types:
            rset = s
            break
    if rset is None:
        return (None, None, False)
    rp = props[rset]
    if RS + "boolean" in rp:
        return (key(rp[RS + "boolean"][0]).lex == "true", None, False)

    def term_tuple(o):
        if isinstance(o, A.Iri):
            return _norm_term(("uri", o.value, None, None))
        if isinstance(o, A.BNode):
            return _norm_term(("bnode", o.label, None, None))
        return _norm_term(("literal", o.lex, o.dt, o.lang))

    sols = []
    ordered = False
    for sol_term in rp.get(RS + "solution", []):
        sp = props.get(key(sol_term), {})
        sol = {}
        for b in sp.get(RS + "binding", []):
            bp = props.get(key(b), {})
            var = bp[RS + "variable"][0].lex
            sol[var] = term_tuple(bp[RS + "value"][0])
        idx = sp.get(RS + "index")
        if idx:
            ordered = True
            sols.append((int(idx[0].lex), sol))
        else:
            sols.append((len(sols), sol))
    sols.sort(key=lambda p: p[0])
    return (None, [s for _, s in sols], ordered)


# ------------------------------------------------------------- comparison
def _rename_bnodes(sol, mapping):
    return {
        v: (t[0], mapping.get(t[1], t[1]), t[2], t[3]) if t[0] == "bnode" else t
        for v, t in sol.items()
    }


def solutions_match(got, want, ordered=False) -> bool:
    """Solution multiset equality modulo a blank-node bijection."""
    if len(got) != len(want):
        return False
    gb = sorted({t[1] for s in got for t in s.values() if t[0] == "bnode"})
    wb = sorted({t[1] for s in want for t in s.values() if t[0] == "bnode"})
    if len(gb) != len(wb):
        return False

    def norm(sols):
        return (
            [sorted(s.items()) for s in sols]
            if ordered
            else sorted(sorted(s.items()) for s in sols)
        )

    target = norm(want)
    for perm in permutations(wb):
        m = dict(zip(gb, perm))
        if norm(_rename_bnodes(s, m) for s in got) == target:
            return True
    return False


# ---------------------------------------------------------------- running
def run_test(spark, t: W3CTest) -> tuple[str, str]:
    """-> (status, detail); status in pass|fail|skipped."""
    from fourstore_spark.sparql.engine import SparqlEngine
    from fourstore_spark.sparql.parser import (
        SparqlSyntaxError,
        parse_query,
        parse_update,
    )

    kind = t.kind
    if kind == "unsupported":
        return ("skipped", f"unsupported types {t.types}")
    if kind in ("syntax+", "syntax-"):
        text = _read(t.query)
        is_update = any("Update" in ty for ty in t.types)
        try:
            (parse_update if is_update else parse_query)(text)
            err = None
        except SparqlSyntaxError as exc:
            err = exc
        except NotImplementedError as exc:
            err = exc
        if kind == "syntax+":
            return ("pass", "") if err is None else ("fail", f"raised {err}")
        return ("pass", "") if err is not None else ("fail", "parsed but must not")

    if kind == "update":
        return _run_update_eval(spark, t)

    if kind == "csv":
        return _run_csv_eval(spark, t)

    # QueryEvaluationTest: W3C dataset semantics — the default graph is
    # qt:data ONLY (no union with named graphs)
    quads = _dataset(spark, t.data, t.graph_data)
    eng = SparqlEngine(spark, quads, union_default_graph=False)
    qtext = _implicit_base(_read(t.query), t.query)
    res = eng.query(qtext)

    if res.form in ("CONSTRUCT", "DESCRIBE"):
        return _compare_graph(spark, res, t)

    if res.form == "ASK":
        want_bool = _expected_boolean(spark, t)
        got = res.ask()
        if want_bool is None:
            return ("fail", f"expected file {t.result} has no boolean")
        return (
            ("pass", "") if got is want_bool else ("fail", f"ask={got}")
        )

    want_bool, want, ordered = _expected_solutions(spark, t)
    if want is None:
        return ("fail", f"cannot parse expected results {t.result!r}")
    got = [
        {v: _json_term(term) for v, term in b.items()}
        for b in json.loads(res.serialize("json"))["results"]["bindings"]
    ]
    ordered = ordered and bool(re.search(r"ORDER\s+BY", qtext, re.I))
    if solutions_match(got, want, ordered=ordered):
        return ("pass", "")
    return ("fail", f"got {got!r} want {want!r}")


def _implicit_base(qtext: str, query_iri: str) -> str:
    """The official suites write relative graph IRIs (GRAPH
    <data-g1.ttl>) resolved against the QUERY FILE's location — the
    protocol's implicit base. Prepend it unless the query declares its
    own BASE."""
    if re.search(r"(?im)^\s*BASE\b", qtext):
        return qtext
    return f"BASE <{query_iri}>\n{qtext}"


def _expected_solutions(spark, t: W3CTest):
    ext = (t.result or "").rsplit(".", 1)[-1].lower()
    if ext == "srx":
        b, sols = parse_srx(_read(t.result))
        return (b, sols, True)
    if ext in ("srj", "json"):
        b, sols = parse_srj(_read(t.result))
        return (b, sols, True)
    if ext in ("ttl", "nt"):
        b, sols, ordered = parse_rs_turtle(spark, t.result)
        return (b, sols, ordered)
    return (None, None, False)


def _expected_boolean(spark, t: W3CTest):
    ext = (t.result or "").rsplit(".", 1)[-1].lower()
    if ext == "srx":
        return parse_srx(_read(t.result))[0]
    if ext in ("srj", "json"):
        return parse_srj(_read(t.result))[0]
    if ext in ("ttl", "nt"):
        return parse_rs_turtle(spark, t.result)[0]
    return None


def _compare_graph(spark, res, t: W3CTest):
    from fourstore_spark.sources.rdfio import quads_to_nq_lines
    from scripts.dawg_verify import isomorphic, nt_triples

    got_nt = [
        ln for ln in res.serialize("ntriples").splitlines() if ln.strip()
    ]
    want_df = _load_rdf_text(spark, t.result, "default:")
    want_nt = [
        r["value"]
        for r in quads_to_nq_lines(want_df, with_graph=False).collect()
    ]
    got_tr, want_tr = nt_triples(got_nt), nt_triples(want_nt)
    if isomorphic(got_tr, want_tr):
        return ("pass", "")
    return ("fail", f"graphs differ: got {sorted(got_tr)!r}")


def _run_update_eval(spark, t: W3CTest):
    from fourstore_spark.sources.rdfio import quads_to_nq_lines
    from fourstore_spark.sparql.update import UpdateEngine

    pre = _dataset(spark, t.data, [])
    for src, label in t.update_graphs:
        pre = pre.unionByName(_load_rdf_text(spark, src, label))
    ue = UpdateEngine(spark, pre)
    ue.update(_read(t.query))
    post = _dataset(spark, t.update_result_data, [])
    for src, label in t.update_result_graphs:
        post = post.unionByName(_load_rdf_text(spark, src, label))
    got = {r["value"] for r in quads_to_nq_lines(ue.quads).collect()}
    want = {r["value"] for r in quads_to_nq_lines(post).collect()}
    if got == want:
        return ("pass", "")
    return (
        "fail",
        f"store mismatch: extra={sorted(got - want)!r} "
        f"missing={sorted(want - got)!r}",
    )


def _run_csv_eval(spark, t: W3CTest):
    """mf:CSVResultFormatTest: serialize through the engine's own
    CSV/TSV result writers and compare the parsed grid (CSV is lossy by
    spec — strings only — so comparison is cell-text equality; TSV keeps
    N-Triples term syntax). Unordered unless the query has ORDER BY."""
    import csv
    import io

    from fourstore_spark.sparql.engine import SparqlEngine

    quads = _dataset(spark, t.data, t.graph_data)
    eng = SparqlEngine(spark, quads, union_default_graph=False)
    qtext = _implicit_base(_read(t.query), t.query)
    res = eng.query(qtext)
    ext = (t.result or "").rsplit(".", 1)[-1].lower()
    if ext == "csv":
        got_txt = res.serialize("csv")
        parse = lambda txt: [  # noqa: E731
            tuple(row) for row in csv.reader(io.StringIO(txt))
        ]
    elif ext == "tsv":
        got_txt = res.serialize("tsv")
        parse = lambda txt: [  # noqa: E731
            tuple(ln.split("\t")) for ln in txt.splitlines() if ln != ""
        ]
    else:
        return ("fail", f"CSVResultFormatTest with {t.result!r}")
    got = parse(got_txt)
    want = parse(_read(t.result))
    if not got or not want or got[0] != want[0]:
        return ("fail", f"header mismatch: {got[:1]} vs {want[:1]}")
    ordered = bool(re.search(r"ORDER\s+BY", qtext, re.I))
    g, w = got[1:], want[1:]
    if not ordered:
        g, w = sorted(g), sorted(w)

    def canon_bnodes(rows):
        # bnode labels carry no cross-document meaning (csv-tsv-res
        # spec §3/§4): relabel by first appearance so the comparison is
        # a label bijection, like solutions_match for SELECT results
        m: dict = {}
        return [
            tuple(
                m.setdefault(c, f"_:c{len(m)}") if c.startswith("_:") else c
                for c in row
            )
            for row in rows
        ]

    if canon_bnodes(g) == canon_bnodes(w):
        return ("pass", "")
    return ("fail", f"rows differ: got {g!r} want {w!r}")


def earl_report(
    results: list[tuple],
    subject: str = "http://fourstore-spark.test/#engine",
    assertor: str = "http://fourstore-spark.test/#harness",
) -> str:
    """EARL (Evaluation and Report Language) Turtle report for a
    run_manifest result list — the reference's runtest.pl writes the
    same shape (earl.ttl) for W3C submission. (name, status, detail)
    with status pass -> earl:passed, fail -> earl:failed, anything
    else -> earl:untested."""
    out = [
        "@prefix earl: <http://www.w3.org/ns/earl#> .",
        "@prefix dc:   <http://purl.org/dc/terms/> .",
        "",
    ]
    outcome = {"pass": "earl:passed", "fail": "earl:failed"}
    for name, status, _detail in results:
        esc = name.replace("\\", "\\\\").replace('"', '\\"')
        out.append(
            "[] a earl:Assertion ;\n"
            f"   earl:assertedBy <{assertor}> ;\n"
            f"   earl:subject <{subject}> ;\n"
            f'   earl:test [ dc:title "{esc}" ] ;\n'
            "   earl:result [ a earl:TestResult ; earl:outcome "
            f"{outcome.get(status, 'earl:untested')} ] ."
        )
    return "\n".join(out) + "\n"


def run_manifest(spark, path: str, excuses: dict | None = None):
    """Run every test in a manifest; -> list of (name, status, detail).
    ``excuses`` maps test name -> reason; excused tests report
    ``excused`` instead of fail (and ``unexcused-pass`` if they pass —
    stale excuses must be noticed, exactly like the reference's
    excuses.txt discipline)."""
    excuses = excuses or {}
    report = []
    for t in read_manifest(spark, path):
        try:
            status, detail = run_test(spark, t)
        except Exception as exc:  # noqa: BLE001 — report, don't abort suite
            status, detail = "fail", f"{type(exc).__name__}: {exc}"
        if t.name in excuses:
            if status == "pass":
                status = "unexcused-pass"
            elif status == "fail":
                status, detail = "excused", excuses[t.name]
        report.append((t.name, status, detail))
    return report
