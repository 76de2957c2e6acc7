"""Hostile constants: literals and IRIs whose text could break out of a
SQL string literal (``model.sql_str``, the renderer behind
``const_term_col``) — quotes, backslashes, the six-character text
``\\u0041``, ``${...}`` variable references, LF/CR/TAB, an injection
attempt and non-BMP characters — go through INSERT DATA, a star's
constant, a FILTER constant, a CONSTRUCT template and DESCRIBE, and come
back as the stored terms."""

import pytest

from fourstore_spark.model import (
    KIND_URI,
    XSD_INTEGER,
    const_term_col,
    iri_row,
    nt_term,
    sql_str,
    stored_label,
    term_row,
)
from fourstore_spark.sparql.engine import SparqlEngine
from fourstore_spark.sparql.update import UpdateEngine

TEXTS = [
    "it's",
    "back\\slash",
    "\\u0041",
    "${spark.app.name} ${env:HOME} $x",
    "line\nfeed\rcarriage\ttab",
    "'); SELECT 1 --",
    "\\'",
    "'\\",
    "astral \U0001F600 \U00010348",
]
# the IRI rule keeps backslash, braces, controls and space out of IRIs
IRIS = [
    "urn:h:it's",
    "urn:h:$spark.app.name",
    "urn:h:'';'",
    "urn:h:');SELECT+1--",
    "urn:h:\U0001F600",
]
P, N, O, Q, R, COPY = (f"urn:h:{x}" for x in ("p", "n", "o", "q", "r", "copy"))
LITS = [term_row((t, None, None)) for t in TEXTS] + [
    term_row((t, None, "en")) for t in TEXTS[:2]
] + [term_row(("-0", XSD_INTEGER, None))]
SUBJ = [f"urn:h:s{i}" for i in range(len(LITS))]


def _nt(row) -> str:
    return nt_term(row[0], row[1], row[2], row[3], stored_label)


@pytest.fixture(scope="module")
def eng(spark):
    ue = UpdateEngine(spark)
    triples = [f"<{s}> <{P}> {_nt(lit)} ; <{N}> 1 ." for s, lit in zip(SUBJ, LITS)]
    triples += [
        f"<{iri}> <{Q}> <{s}> . <{s}> <{O}> <{iri}> ." for iri, s in zip(IRIS, SUBJ)
    ]
    ue.update("INSERT DATA { " + "\n".join(triples) + " }")
    # the same literals through an update template's constants
    template = " ; ".join(f"<{COPY}> {_nt(lit)}" for lit in LITS)
    ue.update(f"INSERT {{ <urn:h:t> {template} }} WHERE {{}}")
    ue.commit()
    return SparqlEngine(spark, ue.quads)


def _sorted(rows) -> list:
    return sorted(rows, key=repr)


def _terms(res, var):
    return _sorted(
        tuple(r[var][f] for f in ("kind", "lex", "dt", "lang"))
        for r in res.df.collect()
    )


def test_renderer_round_trips_every_text(spark):
    rows = [term_row((t, None, None)) for t in TEXTS] + [iri_row(i) for i in IRIS]
    got = spark.range(1).select(
        *(const_term_col(r).alias(f"t{i}") for i, r in enumerate(rows))
    ).head()
    assert [tuple(got[f"t{i}"]) for i in range(len(rows))] == [
        tuple(r) for r in rows
    ]
    assert sql_str("a'b\\c$") == "'a\\'b\\\\c\\u0024'"


def test_insert_stores_the_terms(eng):
    want = _sorted(tuple(lit[:4]) for lit in LITS)
    assert _terms(eng.query(f"SELECT ?o WHERE {{ ?s <{P}> ?o }}"), "o") == want
    got = eng.query(f"SELECT ?o WHERE {{ <urn:h:t> <{COPY}> ?o }}")
    assert _terms(got, "o") == want
    got = eng.query(f"SELECT ?s WHERE {{ ?s <{Q}> ?o }}")
    assert _terms(got, "s") == _sorted((KIND_URI, i, None, None) for i in IRIS)


@pytest.mark.parametrize("i", range(len(LITS)))
def test_star_literal_constant(eng, i):
    got = eng.query(f"SELECT ?s WHERE {{ ?s <{P}> {_nt(LITS[i])} ; <{N}> ?n }}")
    assert _terms(got, "s") == [(KIND_URI, SUBJ[i], None, None)]


@pytest.mark.parametrize("i", range(len(IRIS)))
def test_star_iri_constant(eng, i):
    got = eng.query(f"SELECT ?s WHERE {{ ?s <{O}> <{IRIS[i]}> ; <{N}> ?n }}")
    assert _terms(got, "s") == [(KIND_URI, SUBJ[i], None, None)]


@pytest.mark.parametrize("i", range(len(LITS)))
def test_filter_constant(eng, i):
    got = eng.query(
        f"SELECT ?s WHERE {{ ?s <{P}> ?v FILTER(sameTerm(?v, {_nt(LITS[i])})) }}"
    )
    assert _terms(got, "s") == [(KIND_URI, SUBJ[i], None, None)]


@pytest.mark.parametrize("i", range(len(IRIS)))
def test_filter_iri_constant(eng, i):
    got = eng.query(f"SELECT ?o WHERE {{ ?x <{Q}> ?o FILTER(?x = <{IRIS[i]}>) }}")
    assert _terms(got, "o") == [(KIND_URI, SUBJ[i], None, None)]


def test_construct_template(eng):
    lits = " ; ".join(f"<{R}> {_nt(lit)}" for lit in LITS)
    iris = " ; ".join(f"<{Q}> <{iri}>" for iri in IRIS)
    res = eng.query(
        f"CONSTRUCT {{ ?s {lits} ; {iris} }} WHERE {{ ?s <{P}> ?v }}"
    )
    rows = res.df.where(res.df.s == SUBJ[0]).collect()
    got = _sorted((r.o_kind, r.o_lex, r.o_dt, r.o_lang) for r in rows)
    assert got == _sorted(
        [tuple(lit[:4]) for lit in LITS]
        + [(KIND_URI, i, None, None) for i in IRIS]
    )


def test_describe(eng):
    res = eng.query("DESCRIBE " + " ".join(f"<{i}>" for i in IRIS))
    got = sorted((r.s, r.p, r.o_lex) for r in res.df.collect())
    assert got == sorted((i, Q, s) for i, s in zip(IRIS, SUBJ))
