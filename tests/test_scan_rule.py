"""The scan rule: constant-term matching (``model.term_eq``) and graph
scoping (``Translator._graph_scope``) agree on every scan path.

One small store — an IRI, plain, language-tagged and integer literals
and a blank-node subject over the default graph and two named graphs,
with a single-valued predicate (a flat property-table column) and a
multi-valued one (an array column) — is queried with each constant in
each graph context through five paths: a single-pattern scan, a
two-pattern star over the quads, the same star over the property table,
a ``+`` path seeded at the constant, and ``cli bind``. Each must equal a
Python oracle over the input quads."""

import pytest

from fourstore_spark.model import (
    DEFAULT_GRAPH,
    QUADS_SCHEMA,
    XSD_INTEGER,
    bnode_row,
    iri_row,
    nt_term,
    stored_label,
    term_row,
)
from fourstore_spark.sparql import algebra as A

ONE = "urn:one"  # at most one object per subject: a flat column
MANY = "urn:many"  # several objects per subject: an array column
G1, G2 = "urn:g1", "urn:g2"

X = iri_row("urn:x")
B = bnode_row("_:b")
S1, S2, S3, S4 = (iri_row(f"urn:s{i}") for i in range(1, 5))
PLAIN = term_row(A.Literal("a"))
TAGGED = term_row(A.Literal("a", lang="en"))
ONE_PLAIN = term_row(A.Literal("1"))
INT01 = term_row(A.Literal("01", dt=XSD_INTEGER))
INT1 = term_row(A.Literal("1", dt=XSD_INTEGER))  # in no quad

# (graph, subject, predicate, object). No triple is in two graphs: a
# star's constant-object pattern counts such a triple once under the
# union default graph where a join counts it once per graph — a
# multiplicity question outside the scan rule, logged in CHANGES.md
QUADS = [
    (DEFAULT_GRAPH, B, ONE, X),
    (DEFAULT_GRAPH, B, MANY, PLAIN),
    (G1, B, MANY, TAGGED),
    (DEFAULT_GRAPH, S1, ONE, PLAIN),
    (DEFAULT_GRAPH, S1, MANY, X),
    (G1, S1, MANY, ONE_PLAIN),
    (G2, S1, MANY, INT01),
    (G1, S2, ONE, TAGGED),
    (G2, S2, MANY, X),
    (G2, S2, MANY, PLAIN),
    (G2, S3, ONE, ONE_PLAIN),
    (G1, S3, MANY, TAGGED),
    (G1, S4, ONE, INT01),
    (DEFAULT_GRAPH, S4, MANY, ONE_PLAIN),
    (G2, S4, MANY, X),
    (G1, X, MANY, PLAIN),  # <urn:x> is also a subject: paths chain
]
CONSTANTS = [X, PLAIN, TAGGED, ONE_PLAIN, INT01, INT1]
ALL_GRAPHS = (DEFAULT_GRAPH, G1, G2)


def nt(row) -> str:
    return nt_term(*row[:4], stored_label)


# graph contexts: name -> (engine options, dataset clause, pattern
# wrapper, scopes). A scope is (graph binding or None, visible graphs).
CONTEXTS = {
    "none": ({}, "", "{}", [(None, ALL_GRAPHS)]),
    "graph_iri": ({}, "", f"GRAPH <{G1}> {{}}", [(None, (G1,))]),
    "graph_var": ({}, "", "GRAPH ?g {}", [(G1, (G1,)), (G2, (G2,))]),
    "graph_var_default": (
        dict(graph_var_includes_default=True), "", "GRAPH ?g {}",
        [(g, (g,)) for g in ALL_GRAPHS],
    ),
    "from": ({}, f"FROM <{G1}>", "{}", [(None, (G1,))]),
    "from_named": ({}, f"FROM NAMED <{G2}>", "GRAPH ?g {}", [(G2, (G2,))]),
    "from_named_default": ({}, f"FROM NAMED <{G2}>", "{}", [(None, ())]),
    "from_named_outside": (
        {}, f"FROM NAMED <{G2}>", f"GRAPH <{G1}> {{}}", [(None, ())]
    ),
    "no_union": (
        dict(union_default_graph=False), "", "{}", [(None, (DEFAULT_GRAPH,))]
    ),
}


def query(ctx: str, branches: list[str], out: str) -> str:
    """One SELECT: the branches as a UNION inside the context's graph
    pattern; ``?g`` joins the projection when the context binds it."""
    _, dataset, wrap, scopes = CONTEXTS[ctx]
    body = "{ " + " UNION ".join("{ " + b + " }" for b in branches) + " }"
    g = " ?g" if scopes[0][0] is not None else ""
    return f"SELECT {out}{g} {dataset} WHERE {{ {wrap.format(body)} }}"


def tag(i: int) -> str:
    return nt(term_row(A.Literal(f"c{i}")))


def rows(eng, text) -> list:
    df = eng.query(text).df
    return sorted(
        tuple(nt((t.kind, t.lex, t.dt, t.lang)) for t in r)
        for r in df.collect()
    )


def with_g(gb, row: tuple) -> tuple:
    return row + ((nt(iri_row(gb)),) if gb is not None else ())


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from fourstore_spark.store import write_store

    path = str(tmp_path_factory.mktemp("scanrule") / "store")
    data = [(g, s[1], s[0], p) + o for g, s, p, o in QUADS]
    write_store(spark.createDataFrame(data, QUADS_SCHEMA), path)
    return path


def engines(spark, store, ctx):
    """The plain engine (stars group the quads) and the store engine
    (stars read the property table) for one context."""
    from fourstore_spark.sparql.engine import SparqlEngine
    from fourstore_spark.store import read_store

    opts = CONTEXTS[ctx][0]
    return {
        "plain": SparqlEngine(spark, read_store(spark, store), **opts),
        "store": SparqlEngine.from_store(spark, store, **opts),
    }


def test_store_has_flat_and_array_columns(spark, store):
    from pyspark.sql.types import ArrayType

    from fourstore_spark.store import read_stats

    stats = read_stats(spark, store)
    types = {f.name: f.dataType for f in stats.subjects.schema.fields}
    assert not isinstance(types[stats.pred_columns[ONE]], ArrayType)
    assert isinstance(types[stats.pred_columns[MANY]], ArrayType)


@pytest.mark.parametrize("ctx", sorted(CONTEXTS))
def test_scan_rule_paths_agree(spark, store, ctx):
    scopes = CONTEXTS[ctx][3]
    engs = engines(spark, store, ctx)

    # a single-pattern scan: ?s ?p C
    scan = query(ctx, [
        f'?s ?p {nt(c)} BIND({tag(i)} AS ?c)' for i, c in enumerate(CONSTANTS)
    ], "?c ?s ?p")
    want = sorted(
        with_g(gb, (tag(i), nt(s), nt(iri_row(p))))
        for gb, gs in scopes
        for i, c in enumerate(CONSTANTS)
        for g, s, p, o in QUADS
        if g in gs and o == c
    )
    for name, eng in engs.items():
        assert rows(eng, scan) == want, name

    # two-pattern stars, the constant once on each predicate
    star = query(ctx, [
        f"?s <{var_p}> ?v ; <{const_p}> {nt(c)} BIND({tag(i)} AS ?c)"
        for i, c in enumerate(CONSTANTS)
        for var_p, const_p in ((ONE, MANY), (MANY, ONE))
    ], "?c ?s ?v")
    want = sorted(
        with_g(gb, (tag(i), nt(s), nt(v)))
        for gb, gs in scopes
        for i, c in enumerate(CONSTANTS)
        for var_p, const_p in ((ONE, MANY), (MANY, ONE))
        for g, s, p, v in QUADS
        if g in gs and p == var_p and any(
            g2 in gs and s2 == s and p2 == const_p and o2 == c
            for g2, s2, p2, o2 in QUADS
        )
    )
    for name, eng in engs.items():
        assert rows(eng, star) == want, name

    # a + path seeded at the constant object: ?s <many>+ C
    path = query(ctx, [
        f"?s <{MANY}>+ {nt(c)} BIND({tag(i)} AS ?c)"
        for i, c in enumerate(CONSTANTS)
    ], "?c ?s")
    want = []
    for gb, gs in scopes:
        edges = {(s, o) for g, s, p, o in QUADS if g in gs and p == MANY}
        for i, c in enumerate(CONSTANTS):
            reach = {s for s, o in edges if o == c}
            while True:
                more = {s for s, o in edges if o in reach} - reach
                if not more:
                    break
                reach |= more
            want += [with_g(gb, (tag(i), nt(s))) for s in reach]
    assert rows(engs["plain"], path) == sorted(want)


@pytest.mark.parametrize("graph", [None, G1, DEFAULT_GRAPH])
def test_cli_bind_matches_the_rule(spark, store, capsys, graph):
    from fourstore_spark.cli import main

    def line(g, s, p, o):
        gt = "" if g == DEFAULT_GRAPH else f" {nt(iri_row(g))}"
        return f"{nt(s)} {nt(iri_row(p))} {nt(o)}{gt} ."

    gargs = [] if graph is None else ["-g", nt(iri_row(graph))]
    slots = [("-o", c, 3) for c in CONSTANTS] + [
        ("-s", B, 1), ("-s", X, 1), ("-p", iri_row(ONE), 2)
    ]
    for flag, term, i in slots:
        capsys.readouterr()
        assert main(["bind", store, flag, nt(term), *gargs]) == 0
        got = sorted(capsys.readouterr().out.splitlines())
        want = sorted(
            line(*q) for q in QUADS
            if (graph is None or q[0] == graph)
            and (iri_row(q[2]) if i == 2 else q[i]) == term
        )
        assert got == want, (flag, term)
