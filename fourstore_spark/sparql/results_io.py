"""SPARQL result serializers: XML, JSON, CSV, TSV (+ N-Triples for
CONSTRUCT/DESCRIBE graphs).

Parity with the reference's output dispatch (fs_query_results_output,
/root/reference/src/frontend/results.c:2900-2918; writers output_sparql
:1900, output_text :2014, output_csv :2143, output_json :2248) against the
W3C formats those writers implement.

Every writer pulls its rows with one Spark action (``_rows``:
``df.collect()``) and returns the whole body as one string: the rows and
the body of one result are in memory at once. One action is one
Spark job however many partitions the store's union of delta parts has;
under adaptive execution each shuffle stage of the plan is one job more.
"""

from __future__ import annotations

import json
from xml.sax.saxutils import escape as xml_escape
from xml.sax.saxutils import quoteattr

from fourstore_spark.model import (
    KIND_BNODE,
    KIND_LITERAL,
    KIND_URI,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    nt_iri,
    nt_term,
)


class _BnodeNamer:
    """Per-serialization blank-node relabeling. Internal labels may
    contain characters outside the BLANK_NODE_LABEL grammar (the import
    path's collision-proof '~' namespacing, rdfio.py), so writers emit
    fresh b0, b1, ... labels instead — consistent within one
    serialization, which is all the spec requires (the reference likewise
    emits Raptor-generated genid labels on output)."""

    def __init__(self):
        self._map: dict = {}

    def __call__(self, lex: str) -> str:
        if lex.startswith("_:"):
            lex = lex[2:]
        return self._map.setdefault(lex, f"b{len(self._map)}")


def _term_dict(term, bn: _BnodeNamer) -> dict | None:
    """Row struct -> SPARQL-JSON RDF-term object."""
    if term is None or term["kind"] is None:
        return None
    kind = term["kind"]
    if kind == KIND_URI:
        return {"type": "uri", "value": term["lex"]}
    if kind == KIND_BNODE:
        return {"type": "bnode", "value": bn(term["lex"])}
    out = {"type": "literal", "value": term["lex"]}
    if term["lang"]:
        out["xml:lang"] = term["lang"]
    elif term["dt"]:
        out["datatype"] = term["dt"]
    return out


def _nt_cell(term, bn: _BnodeNamer) -> str:
    """Row struct -> N-Triples term text ('' when unbound)."""
    if term is None or term["kind"] is None:
        return ""
    return nt_term(term["kind"], term["lex"], term["dt"], term["lang"], bn)


def _nt_triple(row, bn: _BnodeNamer, iri=nt_iri) -> tuple:
    """Triples-schema row -> N-Triples (or Turtle) subject, predicate and
    object text."""
    return (
        nt_term(row["s_kind"], row["s"], None, None, bn, iri),
        iri(row["p"]),
        nt_term(row["o_kind"], row["o_lex"], row["o_dt"], row["o_lang"], bn, iri),
    )


def _rows(df) -> list:
    """The rows of a result, pulled with one Spark action."""
    return df.collect()


def _iter_bindings(df, variables):
    bn = _BnodeNamer()
    for row in _rows(df):
        binding = {}
        for v in variables:
            t = _term_dict(row[v], bn)
            if t is not None:
                binding[v] = t
        yield binding


# ------------------------------------------------------------------ JSON
def select_json(df, variables=None, ask: bool | None = None) -> str:
    """SPARQL 1.1 Query Results JSON (output_json, results.c:2248)."""
    if ask is not None:
        return json.dumps({"head": {}, "boolean": ask})
    variables = variables or df.columns
    bindings = list(_iter_bindings(df, variables))
    return json.dumps(
        {"head": {"vars": variables}, "results": {"bindings": bindings}},
        ensure_ascii=False,
    )


# ------------------------------------------------------------------- XML
def select_xml(df, variables=None, ask: bool | None = None) -> str:
    """SPARQL Query Results XML (output_sparql, results.c:1900)."""
    out = ['<?xml version="1.0"?>']
    out.append('<sparql xmlns="http://www.w3.org/2005/sparql-results#">')
    if ask is not None:
        out.append("  <head></head>")
        out.append(f"  <boolean>{'true' if ask else 'false'}</boolean>")
        out.append("</sparql>")
        return "\n".join(out)
    variables = variables or df.columns
    out.append("  <head>")
    for v in variables:
        out.append(f"    <variable name={quoteattr(v)}/>")
    out.append("  </head>")
    out.append("  <results>")
    for binding in _iter_bindings(df, variables):
        out.append("    <result>")
        for v, t in binding.items():
            val = xml_escape(t["value"])
            if t["type"] == "uri":
                body = f"<uri>{val}</uri>"
            elif t["type"] == "bnode":
                body = f"<bnode>{val}</bnode>"
            elif "xml:lang" in t:
                body = f"<literal xml:lang={quoteattr(t['xml:lang'])}>{val}</literal>"
            elif "datatype" in t:
                body = f"<literal datatype={quoteattr(t['datatype'])}>{val}</literal>"
            else:
                body = f"<literal>{val}</literal>"
            out.append(f"      <binding name={quoteattr(v)}>{body}</binding>")
        out.append("    </result>")
    out.append("  </results>")
    out.append("</sparql>")
    return "\n".join(out)


# --------------------------------------------------------------- CSV/TSV
def _csv_cell(term, bn: _BnodeNamer) -> str:
    if term is None or term["kind"] is None:
        return ""
    if term["kind"] == KIND_BNODE:
        return "_:" + bn(term["lex"])
    v = term["lex"] or ""
    if any(c in v for c in (",", '"', "\n", "\r")):
        return '"' + v.replace('"', '""') + '"'
    return v


def select_csv(df, variables=None) -> str:
    """SPARQL 1.1 Results CSV (output_csv, results.c:2143)."""
    variables = variables or df.columns
    bn = _BnodeNamer()
    lines = [",".join(variables)]
    for row in _rows(df):
        lines.append(",".join(_csv_cell(row[v], bn) for v in variables))
    return "\r\n".join(lines) + "\r\n"


def select_tsv(df, variables=None) -> str:
    """SPARQL 1.1 Results TSV (the reference's 'text' format,
    output_text, results.c:2014)."""
    variables = variables or df.columns
    bn = _BnodeNamer()
    lines = ["\t".join("?" + v for v in variables)]
    for row in _rows(df):
        lines.append("\t".join(_nt_cell(row[v], bn) for v in variables))
    return "\n".join(lines) + "\n"


# double lexical forms select_text writes without an appended "e0": the
# XSD specials, and computed infinities ("inf" as C's printf spells it)
_DOUBLE_SPECIALS = frozenset(["INF", "-INF", "+INF", "NaN", "inf", "-inf"])


def select_text(df, variables=None, ask: bool | None = None) -> str:
    """The reference's default 'ascii'/'text' output (output_text,
    results.c:2014-2135): tab-separated cells, URIs in <>, bare lexical
    forms for the numeric shortform types (integer bare; decimal with a
    forced '.'; double with a forced exponent), language tags uppercased
    (the reference's resource storage does), quoted strings otherwise.
    Served by the httpd for Accept: text/plain and -f text/ascii."""
    if ask is not None:
        return "true\n" if ask else "false\n"

    def cell(t) -> str:
        if t is None or t["kind"] is None:
            return ""
        lex, dt, lang = t["lex"] or "", t["dt"], t["lang"]
        if t["kind"] == KIND_LITERAL and not lang:
            if dt == XSD_INTEGER:
                return lex
            if dt == XSD_DECIMAL:
                return lex if "." in lex else lex + ".0"
            if dt == XSD_DOUBLE:
                whole = "e" in lex.lower() or lex in _DOUBLE_SPECIALS
                return lex if whole else lex + "e0"
        return nt_term(t["kind"], lex, dt, lang and lang.upper(), bn)

    bn = _BnodeNamer()
    variables = variables or df.columns
    lines = ["\t".join("?" + v for v in variables)]
    for row in _rows(df):
        lines.append("\t".join(cell(row[v]) for v in variables))
    return "\n".join(lines) + "\n"


# ------------------------------------------------------------- testcase
def select_testcase(df, variables=None, ask: bool | None = None) -> str:
    """The reference's ``-f testcase`` format (output_testcase,
    /root/reference/src/frontend/results.c:2397-2496): the W3C DAWG
    result-set vocabulary in Turtle — rs:ResultSet with one rs:solution
    bnode per row, rs:binding [ rs:variable / rs:value ] per bound var;
    ASK renders rs:boolean. CONSTRUCT/DESCRIBE route to Turtle upstream
    (the reference does the same)."""

    out = [
        "@prefix rs: "
        "<http://www.w3.org/2001/sw/DataAccess/tests/result-set#> .",
        "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .",
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
        "",
    ]
    if ask is not None:
        out.append("[] rdf:type rs:ResultSet ;")
        out.append(
            f'   rs:boolean "{"true" if ask else "false"}"^^xsd:boolean .'
        )
        return "\n".join(out) + "\n"
    variables = variables or df.columns
    head = "\n".join(out) + "\n[] rdf:type rs:ResultSet ;\n   rs:resultVariable "
    head += ", ".join(f'"{v}"' for v in variables)
    bn = _BnodeNamer()
    sols = []
    for row in _rows(df):
        binds = []
        for v in variables:
            val = _nt_cell(row[v], bn)
            if not val:
                continue
            binds.append(
                f'      rs:binding [ rs:variable "{v}" ;\n'
                f"                   rs:value {val} ]"
            )
        sols.append("   rs:solution [\n" + " ;\n".join(binds) + "\n   ]")
    return head + ("".join(" ;\n" + s for s in sols)) + " .\n"


# --------------------------------------------- CONSTRUCT/DESCRIBE graphs
def graph_ntriples(df) -> str:
    """Triples DataFrame (CONSTRUCT/DESCRIBE output schema) -> N-Triples
    text (the reference serializes via Raptor, results.c:1659-1898)."""
    bn = _BnodeNamer()
    lines = [
        " ".join(_nt_triple(row, bn)) + " ." for row in _rows(df)
    ]
    return "\n".join(lines) + ("\n" if lines else "")


def graph_rdfxml(df) -> str:
    """Triples DataFrame (CONSTRUCT/DESCRIBE output schema) -> RDF/XML
    (the reference serializes graphs via Raptor in multiple syntaxes;
    results.c:1659-1898 + Raptor serializer selection). One
    rdf:Description per subject occurrence; predicates split into
    namespace + local name at the last #, / or : boundary."""
    import re as _re

    bn = _BnodeNamer()
    out = [
        '<?xml version="1.0" encoding="utf-8"?>',
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">',
    ]
    split = _re.compile(r"^(.*[#/:])([A-Za-z_][\w.-]*)$")

    for row in _rows(df):
        m = split.match(row["p"])
        if not m:
            # predicate IRI with no splittable local name cannot be an
            # XML element — skip (Raptor errors similarly)
            continue
        ns, local = m.group(1), m.group(2)
        if row["s_kind"] == KIND_BNODE:
            subj = f"rdf:nodeID={quoteattr(bn(row['s']))}"
        else:
            subj = f"rdf:about={quoteattr(row['s'])}"
        head = f"<{local} xmlns={quoteattr(ns)}"
        if row["o_kind"] == KIND_URI:
            obj = f"{head} rdf:resource={quoteattr(row['o_lex'])}/>"
        elif row["o_kind"] == KIND_BNODE:
            obj = f"{head} rdf:nodeID={quoteattr(bn(row['o_lex']))}/>"
        else:
            if row["o_lang"]:
                head += f" xml:lang={quoteattr(row['o_lang'])}"
            elif row["o_dt"]:
                head += f" rdf:datatype={quoteattr(row['o_dt'])}"
            obj = f"{head}>{xml_escape(row['o_lex'] or '')}</{local}>"
        out.append(f"  <rdf:Description {subj}>")
        out.append(f"    {obj}")
        out.append("  </rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out) + "\n"


def graph_turtle(df) -> str:
    """Triples DataFrame -> Turtle, grouped by subject with ``;``
    predicate lists (Raptor's turtle serializer parity). Terms use the
    N-Triples forms (no prefix compression — correct and simple; any
    Turtle parser accepts it)."""
    bn = _BnodeNamer()
    by_subject: dict = {}
    for row in _rows(df):
        s, p, o = _nt_triple(row, bn)
        by_subject.setdefault(s, []).append(f"{p} {o}")
    blocks = [f"{s} " + " ;\n    ".join(pos) + " ." for s, pos in by_subject.items()]
    return "\n".join(blocks) + ("\n" if blocks else "")


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def graph_turtle_abbrev(df, base: str | None = None) -> str:
    """Raptor's abbreviated Turtle, as 4s-httpd streams CONSTRUCT/
    DESCRIBE bodies under Accept: text/plain (httpd.c:438 type "text" ->
    the raptor turtle serializer): ``@base``/``@prefix rdf:`` header,
    subject on its own line, 4-space-indented predicate lines joined
    with `` ;``, objects comma-grouped, block terminated `` .`` plus a
    blank line. Rows are emitted in sorted (s, p, o) order."""

    def iri(v: str) -> str:
        if v.startswith(_RDF_NS):
            return "rdf:" + v[len(_RDF_NS):]
        return nt_iri(v)

    bn = _BnodeNamer()
    triples = sorted({_nt_triple(row, bn, iri) for row in _rows(df)})

    out = []
    if base:
        out.append(f"@base <{base}> .\n")
    out.append(f"@prefix rdf: <{_RDF_NS}> .\n\n")
    cur_s = None
    lines: list[str] = []
    cur_p = None
    objs: list[str] = []

    def flush_pred():
        nonlocal cur_p, objs
        if cur_p is not None:
            lines.append(f"    {cur_p} " + ", ".join(objs))
        cur_p, objs = None, []

    def flush_subj():
        nonlocal cur_s, lines
        flush_pred()
        if cur_s is not None:
            out.append(cur_s + "\n" + " ;\n".join(lines) + " .\n\n")
        cur_s, lines = None, []

    for s, p, o in triples:
        if s != cur_s:
            flush_subj()
            cur_s = s
        if p != cur_p:
            flush_pred()
            cur_p = p
        objs.append(o)
    flush_subj()
    return "".join(out)
