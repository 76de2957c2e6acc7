"""RDF syntax I/O: N-Triples / N-Quads (distributed), Turtle, TriG,
RDF/XML and TriX (driver-side), plus quad serializers.

Replaces the reference's Raptor-based import pipeline (fs_import,
/root/reference/src/frontend/import.c:333-477; statement callback
store_stmt import.c:702) with:

- **N-Triples / N-Quads**: line-oriented, so the parse distributes as a
  ``mapPartitions`` over ``spark.read.text`` — each executor parses its
  split with a pure-Python tokenizer; no driver bottleneck, scales to
  arbitrarily large dumps. Blank-node labels are file-scoped
  (``_:label``), matching the reference's per-import bnode allocation
  (fs_bnode_id, import.c:546-586) without a cluster-wide counter.
- **Turtle**: parsed on the driver by reusing the SPARQL grammar's
  triples-block parser (Turtle is a syntactic subset of a SPARQL BGP plus
  @prefix/@base). Right for config files and test KBs; convert big data
  to N-Triples/N-Quads for the distributed path.

Readers pick the parser with one table, ``RDF_SYNTAXES``, and one
chooser, ``rdf_syntax``: ``load_rdf`` (files), ``quads_from_text``.

Serialization (dump.c / restore.c parity) goes the other way: a quads
DataFrame becomes one N-Quads (or N-Triples) line per row via a column
expression, written with ``df.write.text`` — fully distributed.
"""

from __future__ import annotations

import logging
import os
import re
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger("fourstore_spark.rdfio")

from fourstore_spark.model import (
    DEFAULT_GRAPH,
    KIND_BNODE,
    KIND_LITERAL,
    KIND_URI,
    QUADS_SCHEMA,
    bnode_row,
    check_iri,
    escape_iri,
    iri_row,
    nt_term_col,
    resolve_iri,
    term_row,
)
from fourstore_spark.sparql import algebra as A
from fourstore_spark.sparql.parser import unescape

_TERM_RE = re.compile(
    r"""\s*(?:
        <(?P<iri>[^>]*)>
      | (?P<bnode>_:[^\s]*[^\s.])
      | "(?P<lit>(?:[^"\\]|\\.)*)"
        (?:@(?P<lang>[A-Za-z][A-Za-z0-9-]*)|\^\^<(?P<dt>[^>]*)>)?
      | (?P<dot>\.)
    )""",
    re.VERBOSE,
)

def _nt_term(m: re.Match) -> tuple:
    """Term row of one N-Triples term match (not the final dot)."""
    if m.group("iri") is not None:
        return iri_row(unescape(m.group("iri")))
    if m.group("bnode") is not None:
        return bnode_row(m.group("bnode"))
    dt = m.group("dt")
    lex = unescape(m.group("lit"))
    return term_row((lex, dt and unescape(dt), m.group("lang")))


def _quad(g: str, s: tuple, p: str, o: tuple) -> tuple:
    """QUADS_SCHEMA row from subject and object term rows."""
    if s[0] == KIND_LITERAL:
        raise ValueError(f"literal subject: {s[1]!r}")
    return (check_iri(g), s[1], s[0], check_iri(p)) + o


def _triple_rows(triples: list, graph: str) -> list:
    """QUADS_SCHEMA rows of algebra triples in one graph."""
    return [
        _quad(graph, term_row(tp.s), tp.p.value, term_row(tp.o))
        for tp in triples
    ]


def parse_nt_line(line: str, default_graph: str = DEFAULT_GRAPH):
    """One N-Triples/N-Quads line -> quad tuple matching QUADS_SCHEMA,
    or None for blank/comment lines."""
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    terms = []
    pos = 0
    while pos < len(line):
        m = _TERM_RE.match(line, pos)
        if not m:
            raise ValueError(f"bad N-Triples syntax at col {pos}: {line!r}")
        pos = m.end()
        if m.group("dot") is not None:
            break
        terms.append(_nt_term(m))
    if len(terms) not in (3, 4):
        raise ValueError(f"expected 3 or 4 terms: {line!r}")
    s, p, o = terms[:3]
    if p[0] != KIND_URI:
        raise ValueError(f"predicate must be an IRI: {line!r}")
    g = default_graph
    if len(terms) == 4:
        if terms[3][0] == KIND_LITERAL:
            raise ValueError(f"literal graph: {line!r}")
        g = terms[3][1]
    return _quad(g, s, p[1], o)


_LOAD_SEQ = __import__("itertools").count(1)


def _bnode_namespace(df: DataFrame, enabled: bool) -> DataFrame:
    """Suffix every blank-node label with a per-load unique token, so two
    files that both say ``_:b1`` keep distinct nodes (the reference
    allocates fresh bnode ids per import — fs_bnode_id, import.c:546-586;
    without this, quads_add's set-dedup silently conflates them).
    Column-level, so it composes with the distributed N-Triples path."""
    if not enabled:
        return df
    tag = F.lit(f"~{next(_LOAD_SEQ)}")
    is_bn = F.col("s_kind") == KIND_BNODE
    df = df.withColumn("s", F.when(is_bn, F.concat("s", tag)).otherwise(F.col("s")))
    o_bn = F.col("o_kind") == KIND_BNODE
    df = df.withColumn(
        "o_lex", F.when(o_bn, F.concat("o_lex", tag)).otherwise(F.col("o_lex"))
    )
    g_bn = F.col("g").startswith("_:")
    return df.withColumn(
        "g", F.when(g_bn, F.concat("g", tag)).otherwise(F.col("g"))
    )


def _quads_frame(spark: SparkSession, rows, namespace_bnodes: bool) -> DataFrame:
    """QUADS_SCHEMA frame of ``rows`` (a list or an RDD), its blank
    nodes namespaced to this load."""
    return _bnode_namespace(
        spark.createDataFrame(rows, QUADS_SCHEMA), namespace_bnodes
    )


def quads_from_nt(
    spark: SparkSession,
    path: str,
    default_graph: str = DEFAULT_GRAPH,
    namespace_bnodes: bool = True,
    on_error: str = "skip",
) -> DataFrame:
    """Distributed N-Triples/N-Quads load: text splits parse in parallel.

    ``on_error="skip"`` (default) drops malformed lines — the reference's
    importer likewise reports parser errors and keeps going (4s-import
    over raptor, import.c:352+), and at 100 TB one corrupt line must not
    fail the whole ingest after N task retries. ``on_error="strict"``
    raises on the first malformed line (fail-fast validation runs).

    Skips are never silent (ADVICE r4): a Spark accumulator counts
    dropped lines; the returned DataFrame exposes it as
    ``df.skipped_lines`` (read it AFTER an action has consumed the
    frame), and each executor logs the first few offending lines to
    stderr. ``report_skips(df)`` logs the total — append/import call
    sites invoke it after their action."""
    lines = spark.read.text(path)
    strict = on_error == "strict"
    acc = spark.sparkContext.accumulator(0)

    def parse_partition(rows):
        shown = 0
        for row in rows:
            try:
                q = parse_nt_line(row[0], default_graph)
            except ValueError as exc:
                if strict:
                    raise
                acc.add(1)
                if shown < 3:  # first few per task, not a log flood
                    shown += 1
                    print(
                        f"rdfio: skipping malformed line: {exc}",
                        file=sys.stderr,
                    )
                continue
            if q is not None:
                yield q

    df = _quads_frame(
        spark, lines.rdd.mapPartitions(parse_partition), namespace_bnodes
    )
    df.skipped_lines = acc
    return df


def report_skips(df: DataFrame, source: str = "") -> int:
    """Log and return the malformed-line count accumulated by a
    ``quads_from_nt`` load. Call after an action has consumed ``df``
    (accumulators only populate when tasks run).

    The count is APPROXIMATE (an upper bound): accumulators in
    transformations re-fire on task retries, stage recomputation, and
    any second action over the same frame (the import path's
    property-table pass can re-trigger the scan), and read 0 before the
    first action. Its job is surfacing that skips HAPPENED; exactness
    needs a dedicated count action over the malformed predicate."""
    acc = getattr(df, "skipped_lines", None)
    n = acc.value if acc is not None else 0
    if n:
        _LOG.warning(
            "rdfio: ~%d malformed line(s) skipped%s (approximate: task "
            "retries / re-scans re-count)",
            n,
            f" importing {source}" if source else "",
        )
    return n


def quads_from_nt_text(
    spark: SparkSession,
    text: str,
    default_graph: str = DEFAULT_GRAPH,
    namespace_bnodes: bool = True,
    on_error: str = "strict",
) -> DataFrame:
    """Parse an in-memory N-Triples/N-Quads string (driver-side).

    Strict by default — an in-memory literal is authored, not ingested,
    so a typo should surface; pass ``on_error="skip"`` for file-like
    leniency."""
    rows = []
    for line in text.splitlines():
        try:
            q = parse_nt_line(line, default_graph)
        except ValueError:
            if on_error == "strict":
                raise
            continue
        if q is not None:
            rows.append(q)
    return _quads_frame(spark, rows, namespace_bnodes)


# ------------------------------------------------------------- turtle
_AT_PREFIX = re.compile(r"@prefix\s+(\S+)\s+(<[^>]*>)\s*\.", re.IGNORECASE)
_AT_BASE = re.compile(r"@base\s+(<[^>]*>)\s*\.", re.IGNORECASE)


def _turtle_parser(text: str):
    """SPARQL-grammar parser over Turtle/TriG text, its @prefix/@base
    directives rewritten to SPARQL PREFIX/BASE."""
    from fourstore_spark.sparql.parser import Parser

    text = _AT_PREFIX.sub(lambda m: f"PREFIX {m.group(1)} {m.group(2)}", text)
    return Parser(_AT_BASE.sub(lambda m: f"BASE {m.group(1)}", text))


def _with_base(text: str, base: str | None) -> str:
    """Turtle/TriG ``text`` parsed against ``base``: a base directive of
    the document's own replaces it from there on (RFC 3986 §5.1)."""
    return f"@base <{base}> .\n" + text if base else text


def parse_turtle(text: str) -> list:
    """Turtle text -> list of (s, p, o) algebra terms (driver-side).

    Reuses the SPARQL grammar's triples-block parser — Turtle's triple
    syntax (prefixed names, 'a', ';' ',' lists, bnode property lists,
    collections) is the same production the WHERE clause uses. @prefix/
    @base directives are rewritten to SPARQL PREFIX/BASE first.
    """
    p = _turtle_parser(text)
    triples: list = []
    while True:
        p.parse_prologue()
        if p.peek().type == "EOF":
            break
        block = p.parse_triples_block()
        if not block:
            p.err("expected triples")
        triples.extend(block)
    return triples


def quads_from_turtle(
    spark: SparkSession,
    text: str,
    default_graph: str = DEFAULT_GRAPH,
    namespace_bnodes: bool = True,
    base: str | None = None,
) -> DataFrame:
    """Turtle text -> quads DataFrame (driver-side parse).

    ``base`` resolves relative IRIs until the document sets an @base of
    its own — the HTTP import path passes the graph URI, matching the
    reference where raptor parses against the model URI (import.c)."""
    triples = parse_turtle(_with_base(text, base))
    return _quads_frame(
        spark, _triple_rows(triples, default_graph), namespace_bnodes
    )


# ------------------------------------------------------------- rdf/xml
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_NS = "http://www.w3.org/XML/1998/namespace"


def parse_rdfxml(text: str, base: str = "") -> list:
    """RDF/XML -> list of (s, p, o) tuples where each term is
    ('uri'|'bnode', value) or ('lit', lex, dt, lang).

    Driver-side, stdlib xml.etree. Covers the striped syntax the
    reference's test KBs use (data/swh.xrdf): rdf:Description and typed
    node elements, rdf:about/rdf:resource/rdf:nodeID/rdf:ID, nested node
    elements, rdf:datatype, xml:lang inheritance, property attributes,
    and rdf:parseType="Resource"/"Literal". (The reference delegates to
    Raptor, import.c:352-371.)
    """
    import xml.etree.ElementTree as ET

    root = ET.fromstring(text)
    triples: list = []
    counter = [0]

    def bnode() -> tuple:
        counter[0] += 1
        return ("bnode", f"_:rx{counter[0]}")

    def split(tag: str) -> str:
        # '{ns}local' -> ns + local
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    def node_subject(el) -> tuple:
        about = el.get(f"{{{_RDF_NS}}}about")
        if about is not None:
            return ("uri", resolve_iri(base, about))
        rid = el.get(f"{{{_RDF_NS}}}ID")
        if rid is not None:
            return ("uri", resolve_iri(base, "#" + rid))
        nid = el.get(f"{{{_RDF_NS}}}nodeID")
        if nid is not None:
            return ("bnode", "_:" + nid)
        return bnode()

    def do_node(el, lang) -> tuple:
        lang = el.get(f"{{{_XML_NS}}}lang", lang)
        subj = node_subject(el)
        tag = split(el.tag)
        if tag != _RDF_NS + "Description":
            triples.append((subj, ("uri", _RDF_NS + "type"), ("uri", tag)))
        # property attributes (non-rdf, non-xml attrs -> literal triples)
        for k, v in el.attrib.items():
            ku = split(k)
            if ku.startswith(_RDF_NS) or k.startswith(f"{{{_XML_NS}}}"):
                continue
            triples.append((subj, ("uri", ku), ("lit", v, None, lang)))
        for prop in el:
            do_property(subj, prop, lang)
        return subj

    def do_property(subj, el, lang):
        lang = el.get(f"{{{_XML_NS}}}lang", lang)
        pred = ("uri", split(el.tag))
        res = el.get(f"{{{_RDF_NS}}}resource")
        if res is not None:
            triples.append((subj, pred, ("uri", resolve_iri(base, res))))
            return
        nid = el.get(f"{{{_RDF_NS}}}nodeID")
        if nid is not None:
            triples.append((subj, pred, ("bnode", "_:" + nid)))
            return
        ptype = el.get(f"{{{_RDF_NS}}}parseType")
        if ptype == "Resource":
            b = bnode()
            triples.append((subj, pred, b))
            for child in el:
                do_property(b, child, lang)
            return
        if ptype == "Literal":
            import xml.etree.ElementTree as ET2

            inner = (el.text or "") + "".join(
                ET2.tostring(c, encoding="unicode") for c in el
            )
            triples.append(
                (subj, pred, ("lit", inner, _RDF_NS + "XMLLiteral", None))
            )
            return
        children = list(el)
        if children:
            for child in children:
                obj = do_node(child, lang)
                triples.append((subj, pred, obj))
            return
        dt = el.get(f"{{{_RDF_NS}}}datatype")
        triples.append((subj, pred, ("lit", el.text or "", dt, lang)))

    if split(root.tag) == _RDF_NS + "RDF":
        for el in root:
            do_node(el, None)
    else:
        do_node(root, None)
    return triples


def quads_from_rdfxml(
    spark: SparkSession,
    text: str,
    default_graph: str = DEFAULT_GRAPH,
    base: str = "",
    namespace_bnodes: bool = True,
) -> DataFrame:
    rows = [
        _quad(default_graph, _tagged_row(s), p[1], _tagged_row(o))
        for s, p, o in parse_rdfxml(text, base)
    ]
    return _quads_frame(spark, rows, namespace_bnodes)


def _tagged_row(t: tuple) -> tuple:
    """Term row of a ``parse_rdfxml`` / TriX term tuple:
    ('uri'|'bnode', value) or ('lit', lex, dt, lang)."""
    if t[0] == "uri":
        return iri_row(t[1])
    if t[0] == "bnode":
        return bnode_row(t[1])
    return term_row(t[1:])


# ---------------------------------------------------------------- trig
def quads_from_trig(
    spark: SparkSession,
    text: str,
    default_graph: str = DEFAULT_GRAPH,
    namespace_bnodes: bool = True,
) -> DataFrame:
    """TriG (Turtle + graph blocks): ``<g> { triples }`` / ``GRAPH <g>
    { triples }`` plus top-level default-graph triples."""
    p = _turtle_parser(text)
    rows: list = []

    def block(graph: str):
        p.expect_op("{")
        rows.extend(_triple_rows(p.parse_triples_block(), graph))
        p.expect_op("}")
        p.take_op(".")

    while True:
        p.parse_prologue()
        t = p.peek()
        if t.type == "EOF":
            break
        if t.type == "IDENT" and t.value.upper() == "GRAPH":
            p.next()
            block(p.parse_iri().value)
        elif t.type in ("IRIREF", "PNAME") and p.peek(1).type == "OP" and p.peek(1).value == "{":
            block(p.parse_iri().value)
        else:
            # one default-graph statement at a time (a full triples-block
            # parse would run into the next graph label)
            triples: list = []
            subj = p.parse_graph_node(triples)
            p.parse_property_list(subj, triples)
            p.take_op(".")
            rows.extend(_triple_rows(triples, default_graph))
    # one namespace tag for the whole document: bnodes are document-scoped
    return _quads_frame(spark, rows, namespace_bnodes)


# ---------------------------------------------------------------- trix
def quads_from_trix(
    spark: SparkSession,
    text: str,
    default_graph: str = DEFAULT_GRAPH,
    namespace_bnodes: bool = True,
) -> DataFrame:
    """TriX XML -> quads, matching the reference's restore path
    (src/frontend/restore-trix.c): ``<TriX>`` wraps ``<graph>`` blocks
    whose first ``<uri>`` names the model, followed by ``<triple>``
    elements of exactly three terms.  Terms are ``<uri>``, ``<id>``
    (blank node), ``<plainLiteral xml:lang="...">`` or
    ``<typedLiteral datatype="...">`` (restore-trix.c:225-246); a
    typedLiteral without a datatype degrades to plain with a warning
    (restore-trix.c:238).  Namespaced documents (the TriX spec's
    ``http://www.w3.org/2004/03/trix/trix-1/``) parse identically —
    the reference compares SAX local names only.

    Two lenient extensions over the reference (which logs "impossible
    document structure" and drops the data): a graph without a leading
    ``<uri>`` falls into ``default_graph``, and a literal SUBJECT —
    representable in the reference's RID model but not in the quads
    schema — is skipped with a warning instead of aborting the import.
    Driver-side stdlib XML, like the Turtle/RDF-XML readers: TriX is a
    migration format; bulk data belongs in N-Quads/parquet.
    """
    import xml.etree.ElementTree as ET

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    root = ET.fromstring(text)
    if local(root.tag) != "TriX":
        raise ValueError("Not a TriX document")  # restore-trix.c:185

    def term(el):
        """-> algebra Iri | BNode | Literal, or None."""
        t, txt = local(el.tag), el.text or ""
        if t == "uri":
            return A.Iri(txt.strip())
        if t == "id":
            return A.BNode(txt.strip())
        if t == "plainLiteral":
            lang = el.get(f"{{{_XML_NS}}}lang") or el.get("xml:lang")
            return A.Literal(txt, None, lang)
        if t == "typedLiteral":
            dt = el.get("datatype")
            if not dt:
                _LOG.warning("missing datatype on typed literal")
            return A.Literal(txt, dt or None)
        _LOG.warning("unexpected TriX term <%s>", t)
        return None

    rows = []
    for graph in root:
        if local(graph.tag) != "graph":
            _LOG.warning("expected <graph> found <%s>", local(graph.tag))
            continue
        children = list(graph)
        g = default_graph
        if children and local(children[0].tag) == "uri":
            g = (children[0].text or "").strip()
            children = children[1:]
        for tr in children:
            if local(tr.tag) != "triple":
                _LOG.warning("expected <triple> found <%s>", local(tr.tag))
                continue
            terms = [term(el) for el in tr]
            if len(terms) != 3 or any(t is None for t in terms):
                _LOG.warning("missing part of triple")  # restore-trix.c:336
                continue
            s, p, o = terms
            if isinstance(s, A.Literal):
                _LOG.warning("literal subject not representable; skipped")
                continue
            if not isinstance(p, A.Iri):
                _LOG.warning("non-URI predicate; skipped")
                continue
            rows.append(_quad(g, term_row(s), p.value, term_row(o)))
    return _quads_frame(spark, rows, namespace_bnodes)


def trix_from_quads(quads: DataFrame) -> str:
    """Quads -> TriX document string, matching the reference's dumper
    (src/frontend/dump.c:134-249 dump_model/dump_trix): graphs sorted
    and uniqued, one ``<triple>`` per line, ``<id>`` for bnodes,
    ``plainLiteral``/``typedLiteral`` split on the literal's attribute.
    Driver-side like the reference's single xmlTextWriter — the scale
    path for backups is N-Quads/parquet (store.py); this exists so a
    4store migrator can round-trip its TriX dumps in both directions.
    """
    from xml.sax.saxutils import escape, quoteattr

    def term_xml(kind: int, lex: str, dt, lang) -> str:
        if kind == KIND_URI:
            return f"<uri>{escape(lex)}</uri>"
        if kind == KIND_BNODE:
            return f"<id>{escape(lex[2:] if lex.startswith('_:') else lex)}</id>"
        if dt:
            return (
                f"<typedLiteral datatype={quoteattr(dt)}>"
                f"{escape(lex)}</typedLiteral>"
            )
        if lang:
            return (
                f"<plainLiteral xml:lang={quoteattr(lang)}>"
                f"{escape(lex)}</plainLiteral>"
            )
        return f"<plainLiteral>{escape(lex)}</plainLiteral>"

    out = ['<?xml version="1.0"?>', "<TriX>"]
    # toLocalIterator: one graph-sorted pass, never the whole store as
    # one driver list
    it = quads.orderBy("g", "s", "p", "o_lex").toLocalIterator()
    cur_g = None
    for row in it:
        if row["g"] != cur_g:
            if cur_g is not None:
                out.append("</graph>")
            out.append("<graph>")
            out.append(f"<uri>{escape(row['g'])}</uri>")
            cur_g = row["g"]
        s_xml = term_xml(row["s_kind"], row["s"], None, None)
        p_xml = f"<uri>{escape(row['p'])}</uri>"
        o_xml = term_xml(
            row["o_kind"], row["o_lex"], row["o_dt"], row["o_lang"]
        )
        out.append(f"<triple>{s_xml}{p_xml}{o_xml}</triple>")
    if cur_g is not None:
        out.append("</graph>")
    out.append("</TriX>")
    return "\n".join(out) + "\n"


# ------------------------------------------------------ syntax choice
# The one table of the RDF syntaxes read here: per syntax, its media
# types (the first labels a writer's output) and its file suffixes.
# 4store picks a Raptor parser by the same two keys (fs_import,
# import.c:352-371; http_put_data / http_post_data in httpd.c).
RDF_SYNTAXES = {
    "nt": (("application/n-triples", "application/n-quads"), (".nt", ".nq")),
    "turtle": (("text/turtle", "application/x-turtle"), (".ttl", ".turtle")),
    "trig": (("application/trig",), (".trig",)),
    "rdfxml": (("application/rdf+xml",), (".rdf", ".xrdf", ".owl", ".xml")),
    "trix": ((), (".trix",)),
}
_SNIFF_CHARS = 4096
_XML_START = ("<?xml", "<!--", "<rdf:RDF", "<TriX")
_TRIX_ROOT = re.compile(r"<\s*(?:\w+:)?TriX[\s>]")


def rdf_syntax(
    name: str, media_type: str | None = None, head: str = ""
) -> str | None:
    """The ``RDF_SYNTAXES`` key of a document named ``name`` (file path
    or graph IRI) with first few KB ``head``, or None. In order: a media
    type in the table; the suffix of ``name``; ``text/plain`` as
    N-Triples, weak as in raptor, so a .ttl graph URI beats it (the
    reference's describe script PUTs Turtle as text/plain under
    <...test.ttl>); an XML ``head`` as RDF/XML, like raptor's guess
    parser (the reference PUTs swh.xrdf with no Content-Type). RDF/XML
    whose ``head`` has a TriX root element is TriX (4s-dump output)."""
    mt = (media_type or "").split(";")[0].strip().lower()
    name = name.lower()
    syntax = next(
        (s for s, (types, _) in RDF_SYNTAXES.items() if mt in types), None
    ) or next(
        (s for s, (_, sufs) in RDF_SYNTAXES.items() if name.endswith(sufs)),
        None,
    )
    head = head[:_SNIFF_CHARS]
    if syntax is None and mt == "text/plain":
        syntax = "nt"
    elif syntax is None and head.lstrip().startswith(_XML_START):
        syntax = "rdfxml"
    if syntax == "rdfxml" and _TRIX_ROOT.search(head):
        return "trix"
    return syntax


def quads_from_text(
    spark: SparkSession,
    text: str,
    graph: str,
    syntax: str | None,
    base: str | None = None,
) -> DataFrame:
    """In-memory RDF document -> quads, its triples in ``graph``.
    ``syntax`` is an ``RDF_SYNTAXES`` key; None tries N-Triples, then
    Turtle. ``base`` resolves relative IRIs (not in N-Triples, TriX).

    The readers are looked up by module-global name on each call, so a
    wrapper installed over one (a tracer) sees this path too."""
    if syntax is None:
        try:
            return quads_from_nt_text(spark, text, graph)
        except ValueError:
            syntax = "turtle"
    if syntax == "nt":
        return quads_from_nt_text(spark, text, graph)
    if syntax == "turtle":
        return quads_from_turtle(spark, text, graph, base=base)
    if syntax == "trig":
        return quads_from_trig(spark, _with_base(text, base), graph)
    if syntax == "rdfxml":
        return quads_from_rdfxml(spark, text, graph, base=base or "")
    if syntax == "trix":
        return quads_from_trix(spark, text, graph)
    raise ValueError(f"unknown RDF syntax {syntax!r}")


def _file_head(path: str) -> str:
    """First ``_SNIFF_CHARS`` characters of a local file; "" for a
    directory or a non-local URI (Spark reads those)."""
    if not os.path.isfile(path):
        return ""
    with open(path, encoding="utf-8", errors="replace") as fh:
        return fh.read(_SNIFF_CHARS)


def load_rdf(
    spark: SparkSession, path: str, default_graph: str = DEFAULT_GRAPH
) -> DataFrame:
    """RDF file -> quads, the syntax chosen by ``rdf_syntax`` from the
    suffix and the first few KB. N-Triples/N-Quads, and a file nothing
    decides, load distributed (``quads_from_nt``); every other syntax
    is read on the driver and parsed against the path as base, the
    characters an IRI may not hold (a space) percent-encoded."""
    syntax = rdf_syntax(path)
    if syntax != "nt":
        syntax = rdf_syntax(path, head=_file_head(path))
    if syntax in (None, "nt"):
        return quads_from_nt(spark, path, default_graph)
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    return quads_from_text(
        spark, text, default_graph, syntax, base=escape_iri(path)
    )


# --------------------------------------------------------- serializers
def quads_to_nq_lines(quads: DataFrame, with_graph: bool = True) -> DataFrame:
    """One N-Quads (or N-Triples) line per quad, as a single 'value'
    column — write with df.write.text for a distributed dump
    (dump.c parity without the custom binary format)."""
    uri = F.lit(KIND_URI)
    base = F.concat(
        nt_term_col(F.col("s_kind"), F.col("s")),
        F.lit(" "),
        nt_term_col(uri, F.col("p")),
        F.lit(" "),
        nt_term_col(F.col("o_kind"), F.col("o_lex"), F.col("o_dt"), F.col("o_lang")),
    )
    if with_graph:
        line = F.when(
            F.col("g") == DEFAULT_GRAPH, F.concat(base, F.lit(" ."))
        ).otherwise(
            F.concat(base, F.lit(" "), nt_term_col(uri, F.col("g")), F.lit(" ."))
        )
    else:
        line = F.concat(base, F.lit(" ."))
    return quads.select(line.alias("value"))
