"""One Spark action per result: every results_io writer pulls its rows
with one ``collect()``, so a read of an in-memory store of several
committed parts (``base ∪ part₁ ∪ … ∪ partₖ``) runs the jobs its plan
needs, not one more per partition; and ``DESCRIBE <iri> …`` is one
filtered scan with the semi-join form's answers.

Jobs are counted by job group. Under adaptive execution each shuffle
stage is a job of its own, so a result whose plan has an exchange (a
CONSTRUCT's ``distinct``) is checked against one plain ``collect()`` of
the same query rather than against one."""

import itertools

import pytest

from fourstore_spark.model import DEFAULT_GRAPH, QUADS_SCHEMA
from fourstore_spark.sparql.engine import SparqlEngine
from fourstore_spark.sparql.update import UpdateEngine

P = "urn:oj:p"
G = "urn:oj:g"
_GROUPS = itertools.count()


@pytest.fixture(scope="module")
def ue(spark):
    base = spark.createDataFrame(
        [
            (g, f"urn:oj:s{i}", 0, P, 2, f"v{i}", None, None, None)
            for i in range(8)
            for g in (DEFAULT_GRAPH, G)
        ],
        QUADS_SCHEMA,
    ).localCheckpoint(eager=True)  # the served store after a destructive write
    eng = UpdateEngine(spark, base, fourstore_graphs=True)
    for i in range(3):
        eng.update(
            f'INSERT DATA {{ <urn:oj:s1> <urn:oj:q{i}> "w{i}" . '
            f'<urn:oj:s2> <urn:oj:q{i}> <urn:oj:s{i}> }}'
        )
        eng.commit()
    # union width 4: the base and three parts
    assert eng.quads.rdd.getNumPartitions() >= base.rdd.getNumPartitions() + 3
    return eng


def _jobs(spark, fn):
    """(result of fn(), Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"one-job-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _query(spark, ue, text):
    return SparqlEngine(
        spark, ue.quads, graph_var_includes_default=True
    ).query(text)


@pytest.mark.parametrize("fmt", ["json", "xml", "csv", "tsv", "text"])
def test_lookup_is_one_job(spark, ue, fmt):
    res = _query(spark, ue, "SELECT ?p ?o WHERE { <urn:oj:s1> ?p ?o }")
    body, jobs = _jobs(spark, lambda: res.serialize(fmt))
    assert jobs == 1
    assert all(f"w{i}" in body for i in range(3))  # every part is read


@pytest.mark.parametrize("fmt", ["nt", "turtle", "rdfxml"])
def test_construct_is_one_action(spark, ue, fmt):
    text = "CONSTRUCT { ?o <urn:oj:r> ?s } WHERE { ?s <urn:oj:q1> ?o }"
    _, collect_jobs = _jobs(spark, lambda: _query(spark, ue, text).df.collect())
    res = _query(spark, ue, text)
    body, jobs = _jobs(spark, lambda: res.serialize(fmt))
    assert jobs == collect_jobs
    assert "urn:oj:s2" in body


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_describe_iris_is_one_job_with_semijoin_answers(spark, ue):
    res = _query(spark, ue, "DESCRIBE <urn:oj:s1> <urn:oj:s2>")
    got, jobs = _jobs(spark, lambda: _rows(res.df))
    assert jobs == 1
    want = _query(
        spark, ue,
        "DESCRIBE ?x WHERE { VALUES ?x { <urn:oj:s1> <urn:oj:s2> } }",
    )
    assert got == _rows(want.df)
    assert len(got) == 2 * 2 + 3 * 2  # base in two graphs + three parts


def test_describe_iri_outside_dataset_is_empty(spark, ue):
    res = _query(spark, ue, "DESCRIBE <urn:oj:s1> FROM <urn:oj:nonexistent>")
    assert _rows(res.df) == []
    res = _query(spark, ue, f"DESCRIBE <urn:oj:s1> FROM <{G}>")
    assert _rows(res.df) == [
        ("urn:oj:s1", 0, P, 2, "v1", None, None, None)
    ]


def test_mixed_describe_is_the_union_of_both_forms(spark, ue):
    text = "DESCRIBE <urn:oj:s3> ?y WHERE { <urn:oj:s2> <urn:oj:q1> ?y }"
    got = _rows(_query(spark, ue, text).df)
    want = sorted(
        _rows(_query(spark, ue, "DESCRIBE <urn:oj:s3>").df)
        + _rows(_query(spark, ue, "DESCRIBE <urn:oj:s1>").df)
    )
    assert got == want
