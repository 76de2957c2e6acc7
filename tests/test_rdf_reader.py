"""RDF reader dispatch: the one syntax table and chooser in
sources/rdfio.py, and every reader that goes through them (httpd
/data/, load_rdf, cli restore)."""

import urllib.parse
import urllib.request

import pytest

from fourstore_spark.httpd import SparqlHttpServer
from fourstore_spark.sources import rdfio
from fourstore_spark.sources.rdfio import load_rdf, rdf_syntax
from fourstore_spark.sparql.engine import SparqlEngine, SparqlResult

RDFXML = (
    '<?xml version="1.0"?>\n'
    '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
    ' xmlns:r="urn:rr:">'
    '<rdf:Description rdf:about="urn:rr:s"><r:p>{v}</r:p>'
    "</rdf:Description></rdf:RDF>\n"
)
TRIX = (
    '<?xml version="1.0"?>\n<TriX><graph>'
    "<triple><uri>urn:rr:s</uri><uri>urn:rr:p</uri>"
    "<plainLiteral>{v}</plainLiteral></triple></graph></TriX>\n"
)
# one document per syntax, each stating <urn:rr:s> <urn:rr:p> "{v}"
# in the graph it is loaded into
DOCS = {
    "nt": '<urn:rr:s> <urn:rr:p> "{v}" .\n',
    "turtle": '@prefix r: <urn:rr:> .\nr:s r:p "{v}" .\n',
    "trig": '@prefix r: <urn:rr:> .\nr:s r:p "{v}" .\n'
            '<urn:rr:named> {{ r:s r:p "named" }}\n',
    "rdfxml": RDFXML,
    "trix": TRIX,
}


@pytest.mark.parametrize(
    "name, media_type, head, want",
    [
        # 1. a media type in the table, parameters ignored
        ("urn:g", "application/n-triples", "", "nt"),
        ("urn:g", "application/n-quads; charset=utf-8", "", "nt"),
        ("urn:g", "text/turtle", "", "turtle"),
        ("urn:g", "application/x-turtle", "", "turtle"),
        ("urn:g", "application/trig", "", "trig"),
        ("urn:g", "application/rdf+xml", RDFXML, "rdfxml"),
        ("http://x/a.ttl", "application/n-triples", "", "nt"),
        # 2. the suffix of the name
        ("/d/a.nt", None, "", "nt"),
        ("/d/a.NQ", None, "", "nt"),
        ("/d/a.ttl", None, "", "turtle"),
        ("/d/a.turtle", None, "", "turtle"),
        ("http://x/a.trig", "application/octet-stream", "", "trig"),
        ("/d/a.rdf", None, "", "rdfxml"),
        ("/d/a.xrdf", None, "", "rdfxml"),
        ("/d/a.owl", None, "", "rdfxml"),
        ("/d/a.xml", None, RDFXML, "rdfxml"),
        ("/d/a.trix", None, "", "trix"),
        # 3. text/plain is N-Triples, but weak: a suffix beats it
        ("urn:g", "text/plain", "", "nt"),
        ("http://x/a.ttl", "text/plain", "", "turtle"),
        ("urn:g", "text/plain", RDFXML, "nt"),
        # 4. an XML head: a TriX root is TriX, anything else RDF/XML
        ("urn:g", None, RDFXML, "rdfxml"),
        ("urn:g", "", "<!-- c -->\n<rdf:RDF/>", "rdfxml"),
        ("urn:g", "application/octet-stream", TRIX, "trix"),
        ("urn:g", None, "<TriX><graph/></TriX>", "trix"),
        ("/d/dump.xml", None, TRIX, "trix"),
        ("urn:g", "application/rdf+xml", TRIX, "trix"),
        # 5. nothing decides
        ("urn:g", None, "<urn:a> <urn:b> <urn:c> .", None),
        ("urn:g", "application/octet-stream", "", None),
        ("/d/dump", None, "", None),
    ],
)
def test_rdf_syntax_chooser(name, media_type, head, want):
    assert rdf_syntax(name, media_type, head) == want


# ------------------------------------------------------------- httpd
@pytest.fixture(scope="module")
def server(spark):
    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    yield srv
    srv.stop()


def _request(srv, path, method="GET", body=None, ctype=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=None if body is None else body.encode(),
        method=method,
        headers={"Content-Type": ctype} if ctype else {},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.headers.get("Content-Type"), r.read().decode()


def _graph_objects(srv, graph):
    """Sorted (s, p, o) values of every triple in ``graph``."""
    q = f"SELECT ?s ?p ?o WHERE {{ GRAPH <{graph}> {{ ?s ?p ?o }} }}"
    _, _, body = _request(
        srv, "/sparql/?output=tsv&query=" + urllib.parse.quote(q)
    )
    return sorted(body.splitlines()[1:])


def _post_data(srv, graph, body, ctype):
    return _request(
        srv,
        "/data/?graph=" + urllib.parse.quote(graph, safe=""),
        "POST",
        body,
        ctype or "application/octet-stream",
    )[0]


def _put_data(srv, graph, body, ctype):
    return _request(
        srv,
        "/data/" + urllib.parse.quote(graph, safe=":/"),
        "PUT",
        body,
        ctype or "application/octet-stream",
    )[0]


@pytest.mark.parametrize(
    "syntax, ctype, suffix",
    [
        ("nt", "application/n-triples", ""),
        ("nt", None, ".nt"),
        ("turtle", "text/turtle", ""),
        ("turtle", "text/plain", ".ttl"),
        ("trig", "application/trig", ""),
        ("trig", None, ".trig"),
        ("rdfxml", "application/rdf+xml", ""),
        ("rdfxml", None, ".rdf"),
        ("trix", None, ".trix"),
    ],
)
def test_http_data_post_and_put_each_syntax(server, syntax, ctype, suffix):
    for verb, send in (("post", _post_data), ("put", _put_data)):
        graph = f"http://example.org/rr/{syntax}-{verb}-{bool(ctype)}{suffix}"
        value = f"{syntax}-{verb}"
        assert send(server, graph, DOCS[syntax].format(v=value), ctype) in (
            200, 201,
        )
        assert _graph_objects(server, graph) == [
            f'<urn:rr:s>\t<urn:rr:p>\t"{value}"'
        ], (syntax, verb)
    if syntax == "trig":
        assert _graph_objects(server, "urn:rr:named") == [
            '<urn:rr:s>\t<urn:rr:p>\t"named"'
        ]


def test_http_trix_body_without_media_type_is_one_quad(server):
    # sniffed <?xml used to parse TriX as RDF/XML: 8 junk quads
    graph = "urn:rr:trixbody"
    assert _post_data(server, graph, TRIX.format(v="one"), None) == 200
    assert _graph_objects(server, graph) == [
        '<urn:rr:s>\t<urn:rr:p>\t"one"'
    ]


def test_http_data_parses_through_module_global_reader(server, monkeypatch):
    # a tracer wraps rdfio's readers by replacing the module attribute:
    # the /data/ path must look the reader up when it runs
    calls = []
    orig = rdfio.quads_from_nt_text

    def recording(*args, **kwargs):
        calls.append(args[2])
        return orig(*args, **kwargs)

    monkeypatch.setattr(rdfio, "quads_from_nt_text", recording)
    graph = "urn:rr:traced"
    body = '<urn:rr:s> <urn:rr:p> "traced" .\n'
    assert _post_data(server, graph, body, "application/n-triples") == 200
    assert calls == [graph]


def test_http_construct_output_testcase_is_turtle(server):
    _post_data(
        server, "urn:rr:tc", '<urn:rr:s> <urn:rr:p> "tc" .\n',
        "application/n-triples",
    )
    q = "CONSTRUCT { ?s ?p ?o } WHERE { GRAPH <urn:rr:tc> { ?s ?p ?o } }"
    for output, want_ct in (
        ("testcase", "text/turtle"),
        ("turtle", "text/turtle"),
        ("ntriples", "application/n-triples"),
        ("json", "application/n-triples"),
    ):
        st, ct, body = _request(
            server,
            f"/sparql/?output={output}&query=" + urllib.parse.quote(q),
        )
        assert st == 200 and ct.startswith(want_ct), output
        assert '"tc"' in body


@pytest.mark.parametrize(
    "form, asked, written",
    [
        ("CONSTRUCT", "ntriples", "nt"),
        ("CONSTRUCT", "nt", "nt"),
        ("CONSTRUCT", "turtle", "turtle"),
        ("DESCRIBE", "rdfxml", "rdfxml"),
        ("DESCRIBE", "testcase", "turtle"),
        ("CONSTRUCT", "json", "nt"),
        ("CONSTRUCT", "tsv", "nt"),
        ("SELECT", "tsv", "tsv"),
        ("SELECT", "testcase", "testcase"),
        ("ASK", "json", "json"),
    ],
)
def test_output_format_rule(form, asked, written):
    assert SparqlResult(form, None).output_format(asked) == written


# ----------------------------------------------------------- load_rdf
@pytest.mark.parametrize(
    "filename, syntax",
    [
        ("d.nt", "nt"),
        ("d.nq", "nt"),
        ("dump", "nt"),
        ("d.ttl", "turtle"),
        ("d.turtle", "turtle"),
        ("d.trig", "trig"),
        ("d.rdf", "rdfxml"),
        ("d.xrdf", "rdfxml"),
        ("d.owl", "rdfxml"),
        ("d.xml", "rdfxml"),
        ("dump.xml", "trix"),
        ("d.trix", "trix"),
    ],
)
def test_load_rdf_each_suffix(spark, tmp_path, filename, syntax):
    path = tmp_path / filename
    path.write_text(DOCS[syntax].format(v=syntax), encoding="utf-8")
    rows = {
        (r.g, r.s, r.p, r.o_lex)
        for r in load_rdf(spark, str(path), "urn:rr:g").collect()
    }
    want = {("urn:rr:g", "urn:rr:s", "urn:rr:p", syntax)}
    if syntax == "trig":
        want.add(("urn:rr:named", "urn:rr:s", "urn:rr:p", "named"))
    assert rows == want


REL_DOCS = {
    ".ttl": "<a> <urn:rr:p> <b> .\n",
    ".trig": "<a> <urn:rr:p> <b> .\n",
    ".rdf": RDFXML.replace('"urn:rr:s"', '"a"').replace(
        "<r:p>{v}</r:p>", '<r:p rdf:resource="b"/>'),
}


@pytest.mark.parametrize(
    "dirname, suffix",
    [("d", ".ttl"), ("d", ".trig"), ("my dir", ".ttl"), ("my dir", ".rdf")],
)
def test_load_rdf_resolves_relative_iris_against_the_path(
    spark, tmp_path, dirname, suffix
):
    (tmp_path / dirname).mkdir()
    path = tmp_path / dirname / f"rel{suffix}"
    path.write_text(REL_DOCS[suffix], encoding="utf-8")
    (row,) = load_rdf(spark, str(path)).collect()
    # a space cannot stand in an IRI: the base percent-encodes it
    base = str(path.parent).replace(" ", "%20")
    assert (row.s, row.o_lex) == (f"{base}/a", f"{base}/b")


@pytest.mark.parametrize(
    "filename, doc",
    [
        ("abs.ttl", "</abs/s> <urn:rr:p> <//host/o> .\n"),
        ("abs.rdf", RDFXML.replace('"urn:rr:s"', '"/abs/s"').replace(
            "<r:p>{v}</r:p>", '<r:p rdf:resource="//host/o"/>')),
    ],
    ids=["turtle", "rdfxml"],
)
def test_load_rdf_absolute_path_refs_under_a_path_base(
    spark, tmp_path, filename, doc
):
    path = tmp_path / filename
    path.write_text(doc, encoding="utf-8")
    (row,) = load_rdf(spark, str(path)).collect()
    assert (row.s, row.o_lex) == ("/abs/s", "//host/o")


@pytest.mark.parametrize(
    "doc, want",
    [
        # a prefix named base: at a line start is no base directive
        ("@prefix base: <urn:x#> .\nbase:s <urn:rr:p> <rel> .\n",
         "http://g/d/rel"),
        # the document's own relative base resolves against the given one
        ("@base <sub/> .\n<urn:x#s> <urn:rr:p> <rel> .\n",
         "http://g/d/sub/rel"),
    ],
    ids=["prefix-named-base", "relative-own-base"],
)
def test_turtle_parses_against_the_given_base(spark, doc, want):
    (row,) = rdfio.quads_from_turtle(
        spark, doc, "urn:rr:g", base="http://g/d/x"
    ).collect()
    assert row.o_lex == want


@pytest.mark.parametrize("suffix", [".trig", ".ttl"])
def test_cli_restore_reads_every_syntax(spark, tmp_path, suffix):
    from fourstore_spark.cli import main
    from fourstore_spark.store import read_store

    dump = tmp_path / f"dump{suffix}"
    dump.write_text(
        '@prefix r: <urn:rr:> .\nr:a r:p "1" .\nr:b r:p "2" .\n',
        encoding="utf-8",
    )
    store = str(tmp_path / "store")
    assert main(["restore", store, str(dump)]) == 0
    eng = SparqlEngine.from_store(spark, store)
    got = sorted(
        r[0] for r in eng.select("SELECT ?o WHERE { ?s <urn:rr:p> ?o }")
        .collect()
    )
    assert got == ["1", "2"]
    assert read_store(spark, store).count() == 2
