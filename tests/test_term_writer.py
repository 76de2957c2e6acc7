"""The one RDF term writer (model.nt_term / nt_term_col) and the IRI and
language-tag rules: every writer over one edge-case term table reads back
through rdfio's reader for its syntax, the Python and Column forms agree,
and one test per writer or input-path defect the shared writer fixed."""

import json
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from fourstore_spark.model import (
    KIND_BNODE,
    KIND_LITERAL,
    KIND_URI,
    QUADS_SCHEMA,
    RDF,
    TERM_DDL,
    XSD_DOUBLE,
    XSD_INTEGER,
    bnode_row,
    iri_row,
    nt_term,
    nt_term_col,
    quad_term,
    stored_label,
    term_row,
)
from fourstore_spark.sources import rdfio
from fourstore_spark.sparql import results_io as R
from fourstore_spark.sparql.engine import SparqlEngine

G = "urn:g:writer"
S = "http://ex.org/s"

# (subject row, object row); every row gets its own predicate
_OBJECTS = [
    iri_row("http://ex.org/caf\u00e9/\u00fcber#frag"),
    iri_row("http://ex.org/q?a=1&b=2#x"),
    iri_row("urn:x:\U0001f600"),
    term_row(("back\\slash", None, None)),
    term_row(('dq"uote', None, None)),
    term_row(("line\nfeed", None, None)),
    term_row(("carriage\rreturn", None, None)),
    term_row(("tab\there", None, None)),
    term_row(("ctl\x01char", None, None)),
    term_row(("non-BMP \U0001f600 caf\u00e9 & <tag>", None, None)),
    term_row(("", None, None)),
    term_row(("chat", None, "fr")),
    term_row(("colour", None, "en-GB")),
    term_row(("5", XSD_INTEGER, None)),
    term_row(("1E5", XSD_DOUBLE, None)),
    term_row(("x", "http://ex.org/dt#t&u", None)),
    bnode_row("_:o1"),
]
# characters XML 1.0 cannot carry (\x01) or normalizes in text (\r)
_NOT_XML = ("\x01", "\r")


def _table():
    rows = [
        (G, S, KIND_URI, f"http://ex.org/p#p{i}") + o
        for i, o in enumerate(_OBJECTS)
    ]
    rows.append((G, "_:s1", KIND_BNODE, "http://ex.org/p#pb") + iri_row(S))
    rows.append((G, "_:s1", KIND_BNODE, RDF + "type") + bnode_row("_:o1"))
    return rows


def _canonical(rows):
    """Quad rows without the graph, sorted by their (unique) predicate,
    blank nodes relabelled in order of first appearance."""
    labels: dict = {}

    def label(kind, lex):
        if kind != KIND_BNODE:
            return lex
        return labels.setdefault(lex, f"_:B{len(labels)}")

    out = []
    for r in sorted(rows, key=lambda r: r[3]):
        _, s, s_kind, p, o_kind, o_lex, o_dt, o_lang, o_num = r
        out.append((label(s_kind, s), s_kind, p, o_kind,
                    label(o_kind, o_lex), o_dt, o_lang, o_num))
    return out


def _xml_safe(rows):
    return [r for r in rows if not any(c in r[5] for c in _NOT_XML)]


@pytest.fixture(scope="module")
def table(spark):
    return spark.createDataFrame(_table(), QUADS_SCHEMA).coalesce(1)


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize(
    "writer",
    ["graph_ntriples", "graph_turtle", "graph_turtle_abbrev",
     "quads_to_nq_lines"],
)
def test_text_writers_round_trip(spark, table, writer):
    if writer == "quads_to_nq_lines":
        text = "\n".join(
            r["value"] for r in rdfio.quads_to_nq_lines(table).collect()
        )
        back = rdfio.quads_from_nt_text(spark, text)
    elif writer == "graph_ntriples":
        back = rdfio.quads_from_nt_text(spark, R.graph_ntriples(table), G)
    else:
        text = getattr(R, writer)(table)
        back = rdfio.quads_from_turtle(spark, text, G)
    assert _canonical(_rows(back)) == _canonical(_table())


@pytest.mark.parametrize("writer", ["graph_rdfxml", "trix_from_quads"])
def test_xml_writers_round_trip(spark, table, writer):
    want = _xml_safe(_table())
    df = spark.createDataFrame(want, QUADS_SCHEMA)
    if writer == "graph_rdfxml":
        back = rdfio.quads_from_rdfxml(spark, R.graph_rdfxml(df), G)
    else:
        back = rdfio.quads_from_trix(spark, rdfio.trix_from_quads(df))
    assert _canonical(_rows(back)) == _canonical(want)


def _fake_endpoint(monkeypatch, body: bytes):
    class FakeResp:
        status = 200

        def read(self, n=-1):
            return body

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    monkeypatch.setattr(
        urllib.request, "urlopen", lambda req, timeout=None: FakeResp()
    )


def _service_rows(spark, silent=False):
    eng = SparqlEngine(spark, spark.createDataFrame([], QUADS_SCHEMA))
    q = (
        "SELECT ?s ?p ?o WHERE { SERVICE "
        + ("SILENT " if silent else "")
        + "<http://127.0.0.1:9/sparql/> { ?s ?p ?o } }"
    )
    return eng.query(q).df.collect()


def test_select_json_round_trips_through_service_reader(
    spark, table, monkeypatch
):
    sel = table.select(*(quad_term(x).alias(x) for x in "spo"))
    _fake_endpoint(monkeypatch, R.select_json(sel).encode("utf-8"))
    back = [
        (G, r["s"]["lex"], r["s"]["kind"], r["p"]["lex"])
        + tuple(r["o"][f] for f in ("kind", "lex", "dt", "lang", "num"))
        for r in _service_rows(spark)
    ]
    assert _canonical(back) == _canonical(_table())


def test_python_and_column_forms_agree(spark):
    terms = [(o[0], o[1], o[2], o[3]) for o in _OBJECTS] + [
        (KIND_BNODE, "_:a~1", None, None),
        (KIND_BNODE, "svc-0123-b0", None, None),
        (KIND_URI, S, None, None),
    ]
    schema = "kind tinyint, lex string, dt string, lang string"
    df = spark.createDataFrame(terms, schema).coalesce(1)
    got = [
        r["nt"]
        for r in df.select(
            nt_term_col(F.col("kind"), F.col("lex"), F.col("dt"),
                        F.col("lang")).alias("nt")
        ).collect()
    ]
    want = [nt_term(k, lex, dt, lang, stored_label) for k, lex, dt, lang in terms]
    assert got == want
    assert "\\r" in want[6] and "\x01" in want[8]


# ----------------------------------------------------------- regressions
def _terms_df(spark, rows):
    return spark.createDataFrame(rows, f"x {TERM_DDL}").coalesce(1)


def test_select_text_relabels_blank_nodes(spark):
    df = _terms_df(spark, [((KIND_BNODE, "_:b~1", None, None, None),)])
    assert R.select_text(df) == "?x\n_:b0\n"


def test_select_text_doubles_keep_exponent_and_specials(spark):
    lexes = ["1E5", "INF", "-INF", "+INF", "NaN", "1.5e3", "2"]
    df = _terms_df(
        spark, [((KIND_LITERAL, v, XSD_DOUBLE, None, None),) for v in lexes]
    )
    out = R.select_text(df).splitlines()[1:]
    assert out == ["1E5", "INF", "-INF", "+INF", "NaN", "1.5e3", "2e0"]


def test_select_xml_quotes_datatype_and_language_attributes(spark):
    df = _terms_df(spark, [
        ((KIND_LITERAL, "x", 'urn:a"b', None, None),),
        ((KIND_LITERAL, "y", None, 'en"><b>evil</b', None),),
    ])
    root = ET.fromstring(R.select_xml(df))
    lits = root.findall(".//{http://www.w3.org/2005/sparql-results#}literal")
    assert lits[0].get("datatype") == 'urn:a"b'
    assert lits[1].get("{http://www.w3.org/XML/1998/namespace}lang") == (
        'en"><b>evil</b'
    )


def test_graph_rdfxml_quotes_subject_iri(spark):
    row = (G, 'urn:a"b', KIND_URI, "urn:p#q", KIND_LITERAL, "v", None,
           None, None)
    text = R.graph_rdfxml(spark.createDataFrame([row], QUADS_SCHEMA))
    assert rdfio.parse_rdfxml(text) == [
        (("uri", 'urn:a"b'), ("uri", "urn:p#q"), ("lit", "v", None, None))
    ]


def test_hostile_iris_and_tags_are_refused_on_import():
    for line in [
        '<urn:a b> <urn:p> "x" .',
        '<urn:s> <urn:p> "x"^^<urn:a"b> .',
        '<urn:s> <urn:p> "x" <urn:c\\u003E> .',
        '<urn:s> <urn:p> "x"@en-- .',
    ]:
        with pytest.raises(ValueError):
            rdfio.parse_nt_line(line)
    # the injected graph of a /data/ POST: refused as the import's graph
    with pytest.raises(ValueError):
        rdfio.parse_nt_line(
            '<urn:s> <urn:p> "x" .',
            'urn:c> .\n<urn:evil> <urn:p> "injected" <urn:keep',
        )


def test_nt_datatype_iri_is_unescaped():
    q = rdfio.parse_nt_line('<urn:s> <urn:p> "v"^^<urn:caf\\u00E9> .')
    assert q[6] == "urn:caf\u00e9"


def test_iri_and_strlang_constructors_unbind_hostile_values(spark):
    eng = SparqlEngine(spark, spark.createDataFrame([], QUADS_SCHEMA))
    row = eng.query(
        'SELECT (IRI("urn:a>b c") AS ?i) (IRI("urn:ok") AS ?k) '
        '(STRLANG("x", "en\\"><b>evil</b>") AS ?l) '
        '(STRLANG("x", "en-GB") AS ?m) WHERE {}'
    ).df.collect()[0]
    assert row["i"] is None and row["l"] is None
    assert row["k"]["lex"] == "urn:ok" and row["m"]["lang"] == "en-gb"


def test_service_hostile_language_tag_fails_the_call(spark, monkeypatch):
    doc = {
        "head": {"vars": ["s", "p", "o"]},
        "results": {"bindings": [{
            "s": {"type": "uri", "value": "urn:s"},
            "p": {"type": "uri", "value": "urn:p"},
            "o": {"type": "literal", "value": "x",
                  "xml:lang": 'en"><b>evil</b>'},
        }]},
    }
    _fake_endpoint(monkeypatch, json.dumps(doc).encode())
    with pytest.raises(ValueError):
        _service_rows(spark)
    assert len(_service_rows(spark, silent=True)) == 1  # the unit solution


def test_data_endpoint_refuses_hostile_graph(spark):
    from fourstore_spark.httpd import SparqlHttpServer

    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    base = f"http://127.0.0.1:{srv.port}"

    def send(method, path, data=None):
        req = urllib.request.Request(base + path, data=data, method=method)
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, r.read().decode()
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    def count():
        q = urllib.parse.quote("SELECT * WHERE { GRAPH ?g { ?s ?p ?o } }")
        _, body = send("GET", f"/sparql/?query={q}&output=json")
        return len(json.loads(body)["results"]["bindings"])

    try:
        upd = urllib.parse.urlencode({
            "update": 'INSERT DATA { GRAPH <urn:keep> { <urn:a> <urn:p> "v" } }'
        }).encode()
        assert send("POST", "/update/", upd)[0] == 200
        clear = urllib.parse.quote(
            "urn:a> ; CLEAR ALL ; CLEAR SILENT GRAPH <urn:b", safe=""
        )
        assert send("DELETE", f"/data/?graph={clear}")[0] == 400
        assert send("DELETE", f"/data/{clear}")[0] == 400
        inject = urllib.parse.urlencode({
            "graph": 'urn:c> .\n<urn:evil> <urn:p> "injected" <urn:keep',
            "data": "<urn:s> <urn:p> <urn:o> .",
            "mime-type": "application/n-triples",
        }).encode()
        assert send("POST", "/data/", inject)[0] == 400
        assert count() == 1
    finally:
        srv.stop()


def test_cli_bind_reads_terms_like_rid(spark, tmp_path, capsys):
    from fourstore_spark.cli import main

    store = str(tmp_path / "bindstore")
    nq = tmp_path / "b.nq"
    nq.write_text(
        '<urn:caf\u00e9> <urn:p> "v" <urn:g1> .\n<urn:b> <urn:p> "w" .\n',
        encoding="utf-8",
    )
    assert main(["restore", store, str(nq)]) == 0
    capsys.readouterr()
    want = ['<urn:caf\u00e9> <urn:p> "v" <urn:g1> .']
    for args in (["-s", "<urn:caf\\u00E9>"], ["-g", "<urn:g1>"],
                 ["-s", "<urn:caf\u00e9>", "-p", "<urn:p>", "-o", '"v"']):
        assert main(["bind", store, *args]) == 0
        assert capsys.readouterr().out.strip().splitlines() == want, args
