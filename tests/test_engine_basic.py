"""End-to-end SPARQL engine tests over the relational->quads mapping,
cross-checked against DuckDB on the raw parquet (the reference's
golden-output pattern, tests/query/run.pl)."""

import duckdb
import pytest


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def duck_set(duck, sql):
    return {tuple(r) for r in duck.execute(sql).fetchall()}


def test_single_pattern_scan(engine, duck):
    # S1: quad-pattern scan with constant predicate
    df = engine.select(
        "SELECT ?s ?name WHERE { ?s <urn:col:region#r_name> ?name }"
    )
    exp = duck_set(
        duck,
        "SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR), r_name FROM region",
    )
    assert rows_set(df) == exp


def test_two_pattern_join(engine, duck):
    # J1: shared-subject join
    df = engine.select(
        """SELECT ?n ?r WHERE {
             ?nat <urn:col:nation#n_name> ?n .
             ?nat <urn:col:nation#n_regionkey> ?reg .
             ?reg <urn:col:region#r_name> ?r }"""
    )
    exp = duck_set(
        duck,
        "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",
    )
    assert rows_set(df) == exp


def test_filter_numeric(engine, duck):
    df = engine.select(
        """SELECT ?s WHERE {
             ?c <urn:col:customer#c_acctbal> ?b FILTER(?b > 5000)
             . ?c <urn:col:customer#c_name> ?s }"""
    )
    exp = duck_set(
        duck, "SELECT c_name FROM customer WHERE c_acctbal > 5000"
    )
    assert rows_set(df) == exp


def test_optional_left_join(engine, duck, spark, quads):
    # J3: OPTIONAL = left outer join; orders without lineitems survive
    df = engine.select(
        """SELECT ?o ?pk WHERE {
             ?o <urn:col:orders#o_orderstatus> ?st .
             OPTIONAL { ?li <urn:col:lineitem#l_orderkey> ?o ;
                            <urn:col:lineitem#l_partkey> ?pk }
           }"""
    )
    exp = duck_set(
        duck,
        """SELECT 'urn:orders:' || CAST(o.o_orderkey AS VARCHAR),
                  CASE WHEN l.l_partkey IS NULL THEN NULL
                       ELSE 'urn:part:' || CAST(l.l_partkey AS VARCHAR) END
           FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey""",
    )
    assert rows_set(df) == exp


def test_union(engine, duck):
    df = engine.select(
        """SELECT ?name WHERE {
             { ?x <urn:col:nation#n_name> ?name }
             UNION { ?x <urn:col:region#r_name> ?name } }"""
    )
    exp = duck_set(
        duck,
        "SELECT n_name FROM nation UNION ALL SELECT r_name FROM region",
    )
    assert rows_set(df) == exp


def test_distinct_order_limit(engine, duck):
    df = engine.select(
        """SELECT DISTINCT ?seg WHERE {
             ?c <urn:col:customer#c_mktsegment> ?seg }
           ORDER BY ?seg LIMIT 3"""
    )
    exp = duck.execute(
        "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment LIMIT 3"
    ).fetchall()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in exp]


def test_aggregate_group_by(engine, duck):
    df = engine.select(
        """SELECT ?nat (COUNT(?c) AS ?n) (SUM(?bal) AS ?total)
           WHERE { ?c <urn:col:customer#c_nationkey> ?nat ;
                      <urn:col:customer#c_acctbal> ?bal }
           GROUP BY ?nat""",
        n="int", total="num",
    )
    exp = duck_set(
        duck,
        """SELECT 'urn:nation:' || CAST(c_nationkey AS VARCHAR),
                  COUNT(*), SUM(c_acctbal)
           FROM customer GROUP BY c_nationkey""",
    )
    got = {(s, n, round(t, 6)) for s, n, t in rows_set(df)}
    exp = {(s, n, round(t, 6)) for s, n, t in exp}
    assert got == exp


def test_ask(engine):
    assert engine.ask("ASK { ?s <urn:col:region#r_name> ?o }")
    assert not engine.ask('ASK { ?s <urn:col:region#r_name> "NOPE_XYZ" }')


def test_minus(engine, duck):
    # customers with no orders
    df = engine.select(
        """SELECT ?c WHERE {
             ?c <urn:col:customer#c_name> ?n
             MINUS { ?o <urn:col:orders#o_custkey> ?c } }"""
    )
    exp = duck_set(
        duck,
        """SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    )
    assert rows_set(df) == exp


def test_bind_expression(engine, duck):
    df = engine.select(
        """SELECT ?name ?double_bal WHERE {
             ?c <urn:col:customer#c_name> ?name ;
                <urn:col:customer#c_acctbal> ?bal .
             BIND(?bal * 2 AS ?double_bal) }""",
        double_bal="num",
    )
    exp = duck_set(duck, "SELECT c_name, c_acctbal * 2 FROM customer")
    got = {(n, round(v, 6)) for n, v in rows_set(df)}
    assert got == {(n, round(v, 6)) for n, v in exp}


def test_values_inline(engine):
    df = engine.select(
        """SELECT ?r ?name WHERE {
             VALUES ?name { "AFRICA" "EUROPE" }
             ?r <urn:col:region#r_name> ?name }"""
    )
    rows = rows_set(df)
    assert {n for _, n in rows} == {"AFRICA", "EUROPE"}


def test_graph_var_binding(engine):
    df = engine.select(
        "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s <urn:col:region#r_name> ?o } }"
    )
    assert rows_set(df) == {("urn:g:region",)}


def test_construct(engine):
    res = engine.query(
        """CONSTRUCT { ?r <urn:ex:label> ?name }
           WHERE { ?r <urn:col:region#r_name> ?name }"""
    )
    rows = res.df.collect()
    assert len(rows) == 5
    assert all(r["p"] == "urn:ex:label" for r in rows)


def test_exists_not_exists(engine, duck):
    df = engine.select(
        """SELECT ?c WHERE {
             ?c <urn:col:customer#c_name> ?n .
             FILTER NOT EXISTS { ?o <urn:col:orders#o_custkey> ?c } }"""
    )
    exp = duck_set(
        duck,
        """SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) FROM customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
    )
    assert rows_set(df) == exp


def test_decimal_exact_arithmetic(engine):
    # xsd:decimal fidelity (reference decimal.c 20+20 fixed point; here
    # DECIMAL(38,18)): values past double's 15-16 significant digits must
    # compare and add exactly, not through the lossy o_num double
    df = engine.select(
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?sum ?prod ?gt ?eq WHERE {
             ?r <urn:col:region#r_name> "ASIA"
             BIND("12345678901234567890.123456"^^xsd:decimal AS ?a)
             BIND(?a + "0.000001"^^xsd:decimal AS ?sum)
             BIND(?a * 2 AS ?prod)
             BIND(?a > "12345678901234567890.123455"^^xsd:decimal AS ?gt)
             BIND(?a = "12345678901234567890.123455"^^xsd:decimal AS ?eq)
           }""",
        gt="bool",
        eq="bool",
    )
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["sum"] == "12345678901234567890.123457"
    assert r["prod"] == "24691357802469135780.246912"
    assert r["gt"] is True   # differs only at the 26th significant digit
    assert r["eq"] is False  # a double path would call these equal


def test_sum_avg_double_inputs_not_decimal_clipped(engine, spark):
    # ADVICE: doubles >= 1e32 must not be dropped by a decimal cast, and
    # sub-1e-6 magnitudes must not round to zero
    from fourstore_spark.sources.rdfio import quads_from_nt_text
    from fourstore_spark.sparql.engine import SparqlEngine

    nt = """
<urn:a> <urn:v> "1.0E33"^^<http://www.w3.org/2001/XMLSchema#double> .
<urn:b> <urn:v> "1.0E-8"^^<http://www.w3.org/2001/XMLSchema#double> .
"""
    eng = SparqlEngine(spark, quads_from_nt_text(spark, nt))
    row = eng.select(
        "SELECT (SUM(?v) AS ?s) (AVG(?v) AS ?av) WHERE { ?x <urn:v> ?v }",
        s="num",
        av="num",
    ).collect()[0]
    assert row["s"] == pytest.approx(1.0e33)
    assert row["av"] == pytest.approx(0.5e33)


def test_decimal_overflow_falls_back_to_double_string(engine):
    # ADVICE r4: a decimal multiply that overflows DECIMAL(38,18) routes
    # through the double fallback but keeps xsd:decimal dt; rendering that
    # value must not crash under ANSI mode (try_cast, not cast) — the
    # unrepresentable value keeps the double's string form
    df = engine.select(
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
           SELECT ?x WHERE {
             ?r <urn:col:region#r_name> "ASIA"
             BIND("99999999999999999999.9"^^xsd:decimal
                  * "99999999999999999999.9"^^xsd:decimal AS ?x)
           }"""
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["x"] == "1.0E40"


def test_bind_in_scope_var_is_error(engine):
    # spec 10.1: the BIND target must not already be in scope
    import pytest as _p

    from fourstore_spark.sparql.parser import SparqlSyntaxError

    with _p.raises(SparqlSyntaxError, match="already in scope"):
        engine.select(
            "SELECT ?o WHERE { ?s <urn:col:region#r_name> ?o "
            "BIND(1 AS ?o) }"
        )
    # a fresh var after the pattern is fine; so is the same name in a
    # DIFFERENT group
    engine.select(
        "SELECT ?d WHERE { ?s <urn:col:region#r_name> ?o "
        "BIND(1 AS ?d) }"
    )


def test_select_alias_reusing_pattern_var_is_error(engine):
    # spec 18.2.4.4: (expr AS ?v) must not name an in-scope WHERE var;
    # chaining onto EARLIER aliases stays legal
    import pytest as _p

    from fourstore_spark.sparql.parser import SparqlSyntaxError

    with _p.raises(SparqlSyntaxError, match="reuses an in-scope"):
        engine.select(
            "SELECT (1 AS ?o) WHERE { ?s <urn:col:region#r_name> ?o }"
        )
    rows = engine.select(
        "SELECT (STRLEN(?o) AS ?y) (?y + 1 AS ?z) WHERE "
        '{ ?s <urn:col:region#r_name> "ASIA" . '
        "?s <urn:col:region#r_name> ?o }",
        y="int",
        z="num",
    ).collect()
    assert rows[0]["z"] == rows[0]["y"] + 1


def test_iri_base_resolution_rfc3986_targets(engine):
    # IRI(str) resolves against BASE like urljoin/resolve_iri for every
    # RFC 3986 reference target: scheme'd, //authority, /abs-path,
    # ?query-only (keeps base path), #fragment-only, empty
    # (same-document = base minus fragment), and relative-path refs
    rows = engine.select(
        'BASE <http://ex.org/dir/page?old#frag>\n'
        "SELECT (IRI('http://other/x') AS ?abs) (IRI('//host/p') AS ?auth)"
        " (IRI('/root') AS ?apath) (IRI('?x=1') AS ?q)"
        " (IRI('#f2') AS ?frag) (IRI('') AS ?self) (IRI('rel') AS ?rel)"
        ' WHERE { ?s <urn:col:region#r_name> "ASIA" }'
    ).collect()
    r = rows[0]
    assert r["abs"] == "http://other/x"
    assert r["auth"] == "http://host/p"
    assert r["apath"] == "http://ex.org/root"
    assert r["q"] == "http://ex.org/dir/page?x=1"
    assert r["frag"] == "http://ex.org/dir/page?old#f2"
    assert r["self"] == "http://ex.org/dir/page?old"
    assert r["rel"] == "http://ex.org/dir/rel"


def test_flat_escapes_backticks_in_column_names(spark):
    from fourstore_spark.sparql.engine import SparqlResult

    df = spark.createDataFrame(
        [(("a", 1.5),)], "`we``ird` struct<lex:string,num:double>"
    )
    assert df.columns == ["we`ird"]
    rows = SparqlResult("SELECT", df).flat(**{"we`ird": "num"}).collect()
    assert rows[0].asDict() == {"we`ird": 1.5}
