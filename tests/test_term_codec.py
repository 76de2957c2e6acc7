"""The one RDF term codec (model.py): every entry point — import, update,
query constants, VALUES, SERVICE — turns a parsed term into the same
(kind, lex, dt, lang, num), and the Python and Column forms of the num
rule agree."""

import json
import math
import struct
import urllib.request

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fourstore_spark.model import (
    XSD,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    XSD_INTEGER,
    num_col,
    term_num,
)
from fourstore_spark.sources import rdfio
from fourstore_spark.sparql import algebra as A
from fourstore_spark.sparql.engine import SparqlEngine
from fourstore_spark.sparql.expr import ExprContext, compile_expr
from fourstore_spark.sparql.parser import parse_query
from fourstore_spark.sparql.update import UpdateEngine

XSD_PFX = f"PREFIX xsd: <{XSD}>\n"
TERM = ["kind", "lex", "dt", "lang", "num"]


def _num_key(v):
    # bit-level identity, so NaN == NaN and 0.0 != -0.0
    return None if v is None else struct.pack(">d", v)


def _terms(df, col):
    return sorted(
        tuple(r) for r in df.select(*(F.col(col)[f] for f in TERM)).collect()
    )


def _fake_service(monkeypatch, bindings, var="o"):
    """Monkeypatched urlopen answering every SERVICE call with ``bindings``
    (SPARQL results-JSON values for ``?var``)."""
    body = json.dumps(
        {
            "head": {"vars": [var]},
            "results": {"bindings": [{var: b} for b in bindings]},
        }
    ).encode()

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


# ------------------------------------------------------- the num rule
EDGE_LEXES = [
    "7", " 7 ", "+7", "007", "1_000", "abc", "1e5", "0x10", "", "INF",
    "NaN", "1.", ".5", "-INF", "\t7", "1d",
]
EDGE_DTS = [
    XSD_INTEGER, XSD + "int", XSD + "nonNegativeInteger", XSD_DECIMAL,
    XSD_DOUBLE, XSD_FLOAT,
]


def test_num_rule_examples():
    assert [term_num(v, XSD_INTEGER) for v in ("7", " 7 ", "+7", "007")] == [
        7.0
    ] * 4
    for v in ("1_000", "abc", "1e5", "0x10", ""):
        assert term_num(v, XSD_INTEGER) is None, v
    assert term_num("1e5", XSD_DOUBLE) == 1e5
    assert term_num("INF", XSD_DOUBLE) == math.inf
    assert math.isnan(term_num("NaN", XSD_DOUBLE))
    assert term_num("1.", XSD_DECIMAL) == 1.0
    assert term_num(".5", XSD_DECIMAL) == 0.5
    assert term_num("1e5", XSD_DECIMAL) is None
    assert term_num("1d", XSD_DOUBLE) is None
    assert term_num("7", None) is None
    assert term_num("7", XSD + "string") is None


def test_num_rule_python_and_column_forms_agree(spark):
    pairs = [(lex, dt) for lex in EDGE_LEXES for dt in EDGE_DTS]
    pairs.append(("7", None))
    df = spark.createDataFrame(pairs, "lex string, dt string")
    got = df.select(
        "lex", "dt", num_col(F.col("lex"), F.col("dt")).alias("num")
    ).collect()
    assert len(got) == len(pairs)
    for r in got:
        want = term_num(r["lex"], r["dt"])
        assert _num_key(r["num"]) == _num_key(want), (r["lex"], r["dt"])


# ------------------------------------------ one term on every entry path
LITS = [
    ("7", XSD_INTEGER, None),
    ("1_000", XSD_INTEGER, None),
    ("1e5", XSD_DOUBLE, None),
    (".5", XSD_DECIMAL, None),
    ("chat", None, "EN"),
]
WANT = sorted(
    (2, lex, dt, lang.lower() if lang else None, term_num(lex, dt))
    for lex, dt, lang in LITS
)


def _nt(lex, dt, lang):
    return f'"{lex}"' + (f"@{lang}" if lang else f"^^<{dt}>")


def _xml_attrs(dt, lang):
    return f' xml:lang="{lang}"' if lang else f' rdf:datatype="{dt}"'


def _quad_objects(df):
    return sorted(
        tuple(r) for r in df.select("o_kind", "o_lex", "o_dt", "o_lang", "o_num").collect()
    )


def test_same_literals_agree_on_every_entry_path(spark, monkeypatch):
    objs = [_nt(*t) for t in LITS]
    triples = "".join(f"<urn:s> <urn:p{i}> {o} .\n" for i, o in enumerate(objs))
    got = {}
    got["ntriples"] = _quad_objects(rdfio.quads_from_nt_text(spark, triples))
    got["turtle"] = _quad_objects(rdfio.quads_from_turtle(spark, triples))
    got["trig"] = _quad_objects(
        rdfio.quads_from_trig(spark, "<urn:g> {\n" + triples + "}\n")
    )
    props = "".join(
        f"<ex:p{i}{_xml_attrs(dt, lang)}>{lex}</ex:p{i}>"
        for i, (lex, dt, lang) in enumerate(LITS)
    )
    got["rdfxml"] = _quad_objects(
        rdfio.quads_from_rdfxml(
            spark,
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="urn:ex:"><rdf:Description rdf:about="urn:s">'
            f"{props}</rdf:Description></rdf:RDF>",
        )
    )
    trix_triples = "".join(
        f"<triple><uri>urn:s</uri><uri>urn:p{i}</uri>"
        + (
            f'<plainLiteral xml:lang="{lang}">{lex}</plainLiteral>'
            if lang
            else f'<typedLiteral datatype="{dt}">{lex}</typedLiteral>'
        )
        + "</triple>"
        for i, (lex, dt, lang) in enumerate(LITS)
    )
    got["trix"] = _quad_objects(
        rdfio.quads_from_trix(
            spark, f"<TriX><graph><uri>urn:g</uri>{trix_triples}</graph></TriX>"
        )
    )
    ue = UpdateEngine(spark)
    ue.update("INSERT DATA {\n" + triples + "}")
    got["insert_data"] = _quad_objects(ue.quads)

    eng = SparqlEngine(spark, rdfio.quads_from_nt_text(spark, "<urn:a> <urn:b> <urn:c> ."))
    values = eng.query(f"SELECT ?o WHERE {{ VALUES ?o {{ {' '.join(objs)} }} }}")
    got["values"] = _terms(values.df, "o")

    def filter_const(lit):
        f = parse_query(f"SELECT * WHERE {{ FILTER({lit}) }}").pattern
        assert isinstance(f, A.Filter) and isinstance(f.expr, A.EConst)
        return compile_expr(f.expr, ExprContext()).alias("o")

    got["filter_const"] = _terms(
        spark.range(1).select(F.array(*map(filter_const, objs)).alias("a"))
        .select(F.explode("a").alias("o")),
        "o",
    )

    _fake_service(
        monkeypatch,
        [
            {"type": "literal", "value": lex}
            | ({"xml:lang": lang} if lang else {"datatype": dt})
            for lex, dt, lang in LITS
        ],
    )
    svc = eng.query(
        "SELECT ?o WHERE { SERVICE <http://127.0.0.1:9/sparql/> { ?s ?p ?o } }"
    )
    got["service_json"] = _terms(svc.df, "o")

    for path, rows in got.items():
        assert [r[:4] for r in rows] == [w[:4] for w in WANT], path
        assert [_num_key(r[4]) for r in rows] == [
            _num_key(w[4]) for w in WANT
        ], path


# ------------------------------------------------ drift regressions
@pytest.fixture(scope="module")
def ill_typed(spark):
    nt = (
        f'<urn:s> <urn:p> "abc"^^<{XSD_INTEGER}> .\n'
        f'<urn:t> <urn:p> "1_000"^^<{XSD_INTEGER}> .\n'
        "<urn:a> <urn:q> <urn:b> .\n"
        '<urn:a> <urn:label> "chat"@en .\n'
    )
    return SparqlEngine(spark, rdfio.quads_from_nt_text(spark, nt))


def test_values_ill_typed_numeric_compiles(ill_typed):
    res = ill_typed.query(
        XSD_PFX + 'SELECT ?x WHERE { VALUES ?x { "abc"^^xsd:integer } }'
    )
    assert _terms(res.df, "x") == [(2, "abc", XSD_INTEGER, None, None)]


def test_filter_ill_typed_numeric_constant_compiles(ill_typed):
    res = ill_typed.select(
        XSD_PFX
        + 'SELECT ?s WHERE { ?s <urn:p> ?o FILTER(?o = "abc"^^xsd:integer) }'
    )
    assert [r["s"] for r in res.collect()] == ["urn:s"]


def test_strdt_ill_typed_numeric_has_no_value(ill_typed):
    res = ill_typed.query(
        XSD_PFX
        + 'SELECT ?v ?n WHERE { BIND(STRDT("1_000", xsd:integer) AS ?v) '
        "BIND(isNumeric(?v) AS ?n) }"
    )
    assert _terms(res.df, "v") == [(2, "1_000", XSD_INTEGER, None, None)]
    assert res.df.select(F.col("n")["lex"]).head()[0] == "false"


def test_ill_typed_numeric_import_and_insert_have_no_value(spark, ill_typed):
    ue = UpdateEngine(spark)
    ue.update(XSD_PFX + 'INSERT DATA { <urn:t> <urn:p> "1_000"^^xsd:integer }')
    for quads in (ue.quads, ill_typed.quads.where(F.col("s") == "urn:t")):
        assert [r["o_num"] for r in quads.collect()] == [None]
        got = SparqlEngine(spark, quads).select(
            "SELECT ?s WHERE { ?s <urn:p> ?o FILTER(?o > 999) }"
        )
        assert got.collect() == []


def test_zero_length_path_from_numeric_constant_keeps_num(ill_typed):
    res = ill_typed.query(
        "SELECT ?x ?n WHERE { 5 <urn:q>* ?x BIND(isNumeric(?x) AS ?n) }"
    )
    assert _terms(res.df, "x") == [(2, "5", XSD_INTEGER, None, 5.0)]
    assert res.df.select(F.col("n")["lex"]).head()[0] == "true"


def test_service_language_tags_are_lowercased(ill_typed, monkeypatch):
    _fake_service(
        monkeypatch, [{"type": "literal", "value": "chat", "xml:lang": "EN"}],
        var="l",
    )
    res = ill_typed.select(
        "SELECT ?s WHERE { ?s <urn:label> ?l "
        "SERVICE <http://127.0.0.1:9/sparql/> { ?x <urn:label> ?l } }"
    )
    assert [r["s"] for r in res.collect()] == ["urn:a"]


# ------------------------------------------------ dmetaphone memo
def test_dmetaphone_udf_shares_no_mutable_value(spark):
    from fourstore_spark.operators.fulltext import dmetaphone_udf

    fn = dmetaphone_udf().func
    out = list(fn(pd.Series(["smith", "smith", None, "", "knight"])))
    out += list(fn(pd.Series(["smith", None])))
    assert out[0] == out[1] == out[5] and out[0]
    for v in out:
        assert isinstance(v, tuple), v
