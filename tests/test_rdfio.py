"""RDF syntax I/O tests (import parity: fs_import import.c:333-477;
query-over-imported-KB shape: tests/query/scripts/foaf-knows-name)."""

import pytest
from pyspark.sql import functions as F

from fourstore_spark.sparql.engine import SparqlEngine

NT = """
<http://example.org/alice> <http://xmlns.com/foaf/0.1/knows> <http://example.org/bob> .
<http://example.org/alice> <http://xmlns.com/foaf/0.1/name> "Alice" .
<http://example.org/bob> <http://xmlns.com/foaf/0.1/name> "Bob"@en .
<http://example.org/bob> <http://xmlns.com/foaf/0.1/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
_:b1 <http://xmlns.com/foaf/0.1/name> "Shadow \\"quoted\\" name" .
# a comment line

<http://example.org/alice> <http://xmlns.com/foaf/0.1/knows> _:b1 .
"""

TTL = """
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
@prefix ex: <http://example.org/> .
ex:carol a foaf:Person ;
    foaf:name "Carol" ;
    foaf:knows ex:alice, ex:bob .
ex:dan foaf:age 23 .
"""


def test_nt_parse_roundtrip(spark):
    from fourstore_spark.sources.rdfio import quads_from_nt_text, quads_to_nq_lines

    # namespace_bnodes=False: the serializer round trip must reproduce the
    # parser's verbatim labels
    q = quads_from_nt_text(spark, NT, namespace_bnodes=False)
    assert q.count() == 6
    row = {r["p"]: r for r in q.collect()}
    age = row["http://xmlns.com/foaf/0.1/age"]
    assert age["o_num"] == 42.0
    name_bob = [
        r for r in q.collect() if r["o_lang"] == "en"
    ]
    assert len(name_bob) == 1 and name_bob[0]["o_lex"] == "Bob"
    # escaped quotes survive a serialize->parse round trip
    from fourstore_spark.sources.rdfio import parse_nt_line

    lines = [r[0] for r in quads_to_nq_lines(q, with_graph=False).collect()]
    reparsed = {parse_nt_line(ln) for ln in lines}
    original = {tuple(r) for r in q.collect()}
    assert reparsed == original


def test_nt_distributed_load(spark, tmp_path):
    from fourstore_spark.sources.rdfio import quads_from_nt

    p = tmp_path / "data.nt"
    p.write_text(NT)
    q = quads_from_nt(spark, str(p))
    assert q.count() == 6


def test_bnode_labels_scoped_per_import(spark):
    # two files both naming _:b1 keep distinct nodes (fs_bnode_id
    # allocates per import, import.c:546-586); without namespacing,
    # quads_add's set-dedup would conflate/drop them
    from fourstore_spark.sources.rdfio import quads_from_nt_text
    from fourstore_spark.sparql.update import quads_add

    nt = '_:b1 <urn:p> "v" .'
    q1 = quads_from_nt_text(spark, nt)
    q2 = quads_from_nt_text(spark, nt)
    merged = quads_add(q1, q2)
    assert merged.count() == 2
    subjects = {r["s"] for r in merged.collect()}
    assert len(subjects) == 2 and all(s.startswith("_:b1~") for s in subjects)


def test_query_over_imported_nt(spark):
    # the foaf-knows-name golden test shape (tests/query/scripts/)
    from fourstore_spark.sources.rdfio import quads_from_nt_text

    eng = SparqlEngine(spark, quads_from_nt_text(spark, NT))
    rows = {
        tuple(r)
        for r in eng.select(
            """SELECT ?name WHERE {
                 <http://example.org/alice> <http://xmlns.com/foaf/0.1/knows> ?k .
                 ?k <http://xmlns.com/foaf/0.1/name> ?name }"""
        ).collect()
    }
    assert rows == {("Bob",), ('Shadow "quoted" name',)}


def test_turtle_parse(spark):
    from fourstore_spark.sources.rdfio import quads_from_turtle

    q = quads_from_turtle(spark, TTL)
    assert q.count() == 5  # a + name + knows x2 + age
    eng = SparqlEngine(spark, q)
    rows = {
        tuple(r)
        for r in eng.select(
            """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
               SELECT ?who WHERE {
                 <http://example.org/carol> foaf:knows ?who }"""
        ).collect()
    }
    assert rows == {("http://example.org/alice",), ("http://example.org/bob",)}
    age = q.where(F.col("p").endswith("age")).collect()[0]
    assert age["o_num"] == 23.0


def test_nquads_graph_column(spark):
    from fourstore_spark.sources.rdfio import quads_from_nt_text

    nq = '<urn:s> <urn:p> "v" <urn:graph1> .\n<urn:s2> <urn:p> "w" .'
    q = quads_from_nt_text(spark, nq)
    got = {(r["g"], r["s"]) for r in q.collect()}
    assert got == {("urn:graph1", "urn:s"), ("default:", "urn:s2")}


RDFXML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:foaf="http://xmlns.com/foaf/0.1/"
         xmlns:dc="http://purl.org/dc/elements/1.1/">
  <foaf:Person rdf:about="mailto:pat@example.net">
    <foaf:name>Pat Doe</foaf:name>
    <foaf:age rdf:datatype="http://www.w3.org/2001/XMLSchema#int">44</foaf:age>
    <dc:description xml:lang="en-GB">A test person</dc:description>
    <foaf:homepage rdf:resource="http://example.net/pat"/>
    <foaf:depiction>
      <foaf:Image rdf:about="http://example.net/pat.jpg">
        <dc:format>image/jpeg</dc:format>
      </foaf:Image>
    </foaf:depiction>
    <foaf:empty></foaf:empty>
  </foaf:Person>
  <rdf:Description rdf:about="http://example.net/doc">
    <dc:creator rdf:nodeID="b0"/>
  </rdf:Description>
</rdf:RDF>
"""


def test_rdfxml_parse(spark):
    from fourstore_spark.sources.rdfio import quads_from_rdfxml

    q = quads_from_rdfxml(spark, RDFXML)
    eng = SparqlEngine(spark, q)
    # typed node element => rdf:type triple
    assert eng.ask(
        """ASK { <mailto:pat@example.net>
                 <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>
                 <http://xmlns.com/foaf/0.1/Person> }"""
    )
    # typed literal with numeric value usable in FILTER
    assert eng.ask(
        """ASK { <mailto:pat@example.net> <http://xmlns.com/foaf/0.1/age> ?a
                 FILTER(?a > 40) }"""
    )
    # lang literal
    row = q.where(q.o_lang.isNotNull()).collect()[0]
    assert row["o_lang"] == "en-gb" and row["o_lex"] == "A test person"
    # nested node element object + its own properties
    assert eng.ask(
        """ASK { <mailto:pat@example.net> <http://xmlns.com/foaf/0.1/depiction>
                 <http://example.net/pat.jpg> }"""
    )
    assert eng.ask(
        """ASK { <http://example.net/pat.jpg>
                 <http://purl.org/dc/elements/1.1/format> "image/jpeg" }"""
    )
    # empty property element -> empty literal
    assert eng.ask(
        'ASK { <mailto:pat@example.net> <http://xmlns.com/foaf/0.1/empty> "" }'
    )


def test_rdfxml_reference_kb(spark):
    import os

    path = "/root/reference/data/swh.xrdf"
    if not os.path.exists(path):
        pytest.skip("reference KB not present")
    from fourstore_spark.sources.rdfio import load_rdf

    q = load_rdf(spark, path)
    assert q.count() > 30
    eng = SparqlEngine(spark, q)
    rows = {
        r[0]
        for r in eng.select(
            """SELECT ?name WHERE {
                 <mailto:steve@example.net>
                 <http://xmlns.com/foaf/0.1/name> ?name }"""
        ).collect()
    }
    assert rows == {"Steve Harris"}


def test_trig_parse(spark):
    from fourstore_spark.sources.rdfio import quads_from_trig

    trig = """
@prefix ex: <http://example.org/> .
ex:top ex:p "default-graph" .
ex:g1 { ex:a ex:p "one" . ex:a ex:q ex:b . }
GRAPH ex:g2 { ex:c ex:p "two" }
"""
    q = quads_from_trig(spark, trig)
    got = {(r["g"], r["s"], r["o_lex"]) for r in q.collect()}
    assert ("default:", "http://example.org/top", "default-graph") in got
    assert ("http://example.org/g1", "http://example.org/a", "one") in got
    assert ("http://example.org/g2", "http://example.org/c", "two") in got
    assert q.count() == 4


def test_nt_import_skips_malformed_lines_by_default(spark, tmp_path):
    # one corrupt line must not fail a distributed ingest (the reference
    # importer reports raptor errors and continues, import.c:352+)
    from fourstore_spark.sources.rdfio import quads_from_nt

    f = tmp_path / "mixed.nt"
    f.write_text(
        '<urn:a> <urn:p> "ok" .\n'
        "THIS IS NOT NTRIPLES\n"
        '<urn:b> <urn:p> "ok2" .\n'
    )
    df = quads_from_nt(spark, str(f))
    assert df.count() == 2
    # ADVICE r4: skips are counted, not silent — the accumulator is
    # populated once an action has consumed the frame
    from fourstore_spark.sources.rdfio import report_skips

    assert df.skipped_lines.value == 1
    assert report_skips(df, str(f)) == 1
    import pytest as _pytest

    with _pytest.raises(Exception):
        quads_from_nt(spark, str(f), on_error="strict").count()


TRIX = """<?xml version="1.0"?>
<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
<graph>
<uri>http://example.org/g1</uri>
<triple><uri>http://example.org/a</uri><uri>http://example.org/p</uri><plainLiteral>hello</plainLiteral></triple>
<triple><id>42</id><uri>http://example.org/p</uri><plainLiteral xml:lang="en">hi &amp; bye</plainLiteral></triple>
<triple><uri>http://example.org/a</uri><uri>http://example.org/n</uri><typedLiteral datatype="http://www.w3.org/2001/XMLSchema#integer">7</typedLiteral></triple>
</graph>
<graph>
<uri>http://example.org/g2</uri>
<triple><uri>http://example.org/b</uri><uri>http://example.org/q</uri><id>42</id></triple>
</graph>
</TriX>
"""


def test_trix_parse(spark):
    """TriX reader matches restore-trix.c's term model: uri/id/
    plainLiteral(@xml:lang)/typedLiteral(@datatype), graph-scoped."""
    from fourstore_spark.sources.rdfio import quads_from_trix

    q = quads_from_trix(spark, TRIX, namespace_bnodes=False)
    rows = {
        (r["g"], r["s"], r["p"], r["o_kind"], r["o_lex"], r["o_dt"],
         r["o_lang"])
        for r in q.collect()
    }
    assert ("http://example.org/g1", "http://example.org/a",
            "http://example.org/p", 2, "hello", None, None) in rows
    assert ("http://example.org/g1", "_:42", "http://example.org/p",
            2, "hi & bye", None, "en") in rows
    assert ("http://example.org/g1", "http://example.org/a",
            "http://example.org/n", 2, "7",
            "http://www.w3.org/2001/XMLSchema#integer", None) in rows
    assert ("http://example.org/g2", "http://example.org/b",
            "http://example.org/q", 1, "_:42", None, None) in rows
    # numeric shadow column derived for xsd:integer
    n = q.where(F.col("p") == "http://example.org/n").collect()[0]
    assert n["o_num"] == 7.0


def test_trix_lenient_corners(spark):
    """Reference parity corners: typedLiteral without datatype degrades
    to plain (restore-trix.c:238 warning), a graph without a leading
    uri lands in the default graph, literal subjects are skipped, and
    a non-TriX root raises (restore-trix.c:185 'Not a TriX document')."""
    import pytest as _pytest

    from fourstore_spark.sources.rdfio import quads_from_trix

    doc = """<TriX>
    <graph>
    <triple><uri>u:s</uri><uri>u:p</uri><typedLiteral>x</typedLiteral></triple>
    <triple><plainLiteral>lit-subj</plainLiteral><uri>u:p</uri><uri>u:o</uri></triple>
    </graph>
    </TriX>"""
    q = quads_from_trix(spark, doc, namespace_bnodes=False)
    rows = q.collect()
    assert len(rows) == 1  # literal subject skipped
    r = rows[0]
    assert r["o_dt"] is None and r["o_lex"] == "x"
    from fourstore_spark.model import DEFAULT_GRAPH

    assert r["g"] == DEFAULT_GRAPH
    with _pytest.raises(ValueError):
        quads_from_trix(spark, "<notTriX/>")


def test_trix_roundtrip_store_equality(spark, tmp_path):
    """dump.c/restore-trix.c round-trip: quads -> TriX text -> quads
    reproduces the store exactly (bnode labels renamed consistently)."""
    from fourstore_spark.sources.rdfio import (
        quads_from_nt_text,
        quads_from_trix,
        trix_from_quads,
    )

    nq = "\n".join(
        [
            '<u:s1> <u:p> "plain" <u:g1> .',
            '<u:s1> <u:p> "fr"@fr <u:g1> .',
            '<u:s2> <u:n> "3.5"^^<http://www.w3.org/2001/XMLSchema#decimal> <u:g2> .',
            "_:b1 <u:q> _:b2 <u:g2> .",
            '<u:s3> <u:p> "needs <escaping> & \\"quotes\\"" <u:g2> .',
        ]
    )
    orig = quads_from_nt_text(spark, nq, namespace_bnodes=False)
    text = trix_from_quads(orig)
    back = quads_from_trix(spark, text, namespace_bnodes=False)
    # compare modulo the bnode relabel (reader keeps the dumped label)
    a = {tuple(r) for r in orig.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # and the file round-trips through load_rdf sniffing
    p = tmp_path / "dump.trix"
    p.write_text(text, encoding="utf-8")
    from fourstore_spark.sources.rdfio import load_rdf

    again = load_rdf(spark, str(p))
    assert again.count() == orig.count()


def test_nt_short_uchar_stays_as_written():
    """N-Triples and SPARQL share one escape decoder: a \\u escape cut
    short by the end of the literal stays as written (it was read as
    U+0012)."""
    from fourstore_spark.sources.rdfio import parse_nt_line
    from fourstore_spark.sparql.parser import parse_query

    q = parse_nt_line(r'<urn:s> <urn:p> "x\u12" .')
    assert q[5] == "x\\u12"
    lit = parse_query(r'SELECT * WHERE { ?s ?p "x\u12" }').pattern.triples[0].o
    assert lit.lex == q[5]
    assert parse_nt_line(r'<urn:s> <urn:p> "A\U0001F600\t" .')[5] == (
        "A\U0001F600\t"
    )


@pytest.mark.parametrize(
    "line, label",
    [
        ("<urn:s> <urn:p> _:o.", "_:o"),
        ("<urn:s> <urn:p> _:o .", "_:o"),
        ("<urn:s> <urn:p> _:o.b.", "_:o.b"),
        ("<urn:s> <urn:p> _:o~3 .", "_:o~3"),  # what cli dump writes
        ("<urn:s> <urn:p> _:o~3.", "_:o~3"),
    ],
)
def test_nt_bnode_label_stops_before_the_dot(line, label):
    """A blank-node label cannot end in '.': the statement's dot right
    after it is the dot (it was stored as part of the label)."""
    from fourstore_spark.sources.rdfio import parse_nt_line

    assert parse_nt_line(line)[5] == label
