"""One way to open a store and one way to get an engine: the CLI, the
update engine and the HTTP server open stores through ``store.py``
(``SparqlEngine.from_store``, ``store.replace_store``) and the server
gets every engine from one apikey -> visibility -> engine cache."""

import json
import os
import re
import urllib.parse
import urllib.request

import pytest

from fourstore_spark import cli, httpd
from fourstore_spark.httpd import SparqlHttpServer
from fourstore_spark.sources.rdfio import quads_from_nt_text
from fourstore_spark.sparql.engine import SparqlEngine
from fourstore_spark.sparql.update import UpdateEngine
from fourstore_spark.store import MANIFEST, write_store


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, r.read().decode()


def _post(srv, path, data: dict):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=urllib.parse.urlencode(data).encode(),
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, r.read().decode()


def _select(srv, text, **params):
    q = urllib.parse.urlencode({"query": text, "output": "json", **params})
    st, body = _get(srv, f"/sparql/?{q}")
    assert st == 200, body
    return json.loads(body)["results"]["bindings"]


def _cache_stats(srv, apikey):
    st, body = _get(srv, f"/status/cache/?apikey={apikey}")
    assert st == 200
    return {
        k: int(v)
        for k, v in re.findall(r"<td>(cache_\w+)</td><td>(\d+)", body)
    }


def test_save_onto_its_own_store_keeps_old_and_new_quads(spark, tmp_path):
    path = str(tmp_path / "store")
    write_store(quads_from_nt_text(spark, '<urn:a> <urn:p> "old" .'), path)
    ue = UpdateEngine.restore(spark, path)
    ue.update('INSERT DATA { <urn:b> <urn:p> "new" }')
    ue.save(path)
    assert os.path.exists(os.path.join(path, MANIFEST))
    got = UpdateEngine.restore(spark, path).quads.select("o_lex").collect()
    assert sorted(r["o_lex"] for r in got) == ["new", "old"]
    # the engine continues on the saved store
    assert ue.quads.count() == 2


def test_cli_serve_store_deletes_ungraphed_triple_from_every_graph(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "store")
    write_store(
        quads_from_nt_text(spark, '<urn:s> <urn:p> "o" .', "urn:g"), path
    )
    servers = []
    monkeypatch.setattr(
        httpd.SparqlHttpServer, "serve", lambda self: servers.append(self)
    )
    assert cli.main(["serve", path, "--port", "0"]) == 0
    srv = servers[0]
    srv.start()
    try:
        st, _ = _post(
            srv, "/update/", {"update": 'DELETE DATA { <urn:s> <urn:p> "o" }'}
        )
        assert st == 200
        assert _select(srv, "SELECT * WHERE { GRAPH ?g { ?s ?p ?o } }") == []
    finally:
        srv.stop()


@pytest.mark.parametrize(
    "block, anti_joins",
    [('GRAPH <urn:g> { <urn:s> <urn:p> "o" }', 1), ('<urn:s> <urn:p> "o"', 2)],
    ids=["graph-scoped", "un-graphed"],
)
def test_wildcard_delete_joins_only_for_ungraphed_quads(spark, block, anti_joins):
    ue = UpdateEngine(
        spark,
        quads_from_nt_text(spark, '<urn:s> <urn:p> "o" .', "urn:g"),
        fourstore_graphs=True,
    )
    ue.update(f"DELETE DATA {{ {block} }}")
    plan = ue.quads._jdf.queryExecution().analyzed().toString()
    assert plan.count("LeftAnti") == anti_joins
    assert ue.quads.count() == 0


def test_http_update_graph_var_binds_default_graph(spark):
    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    try:
        _post(
            srv,
            "/update/",
            {
                "update": 'INSERT DATA { <urn:s> <urn:p> "d" . '
                'GRAPH <urn:g> { <urn:s> <urn:p> "n" } }'
            },
        )
        read = "SELECT ?g ?o WHERE { GRAPH ?g { <urn:s> <urn:p> ?o } }"
        assert len(_select(srv, read)) == 2
        st, _ = _post(
            srv,
            "/update/",
            {
                "update": "DELETE { GRAPH ?g { <urn:s> <urn:p> ?o } } "
                "WHERE { GRAPH ?g { <urn:s> <urn:p> ?o } }"
            },
        )
        assert st == 200
        assert _select(srv, read) == []
    finally:
        srv.stop()


@pytest.mark.parametrize(
    "acl, key",
    [({"k": ["urn:g"]}, "k"), (True, "4sadminuser")],
    ids=["static", "data-driven"],
)
def test_status_cache_reports_the_keys_engine_under_acl(spark, acl, key):
    srv = SparqlHttpServer(spark, port=0, graph_access_control=acl)
    srv.start()
    try:
        _post(
            srv,
            "/update/",
            {
                "update": 'INSERT DATA { GRAPH <urn:g> { <urn:s> <urn:p> "v" } }',
                "apikey": key,
            },
        )
        q = "SELECT ?o WHERE { GRAPH <urn:g> { <urn:s> <urn:p> ?o } }"
        for _ in range(3):
            assert len(_select(srv, q, apikey=key)) == 1
        stats = _cache_stats(srv, key)
        assert stats["cache_entries"] == 1
        assert stats["cache_hits"] == 2 and stats["cache_fail"] == 1
    finally:
        srv.stop()


def test_static_key_repeated_query_builds_one_engine(spark, monkeypatch):
    built = []
    init = SparqlEngine.__init__

    def counting_init(self, *args, **kwargs):
        built.append(kwargs.get("allowed_graphs"))
        init(self, *args, **kwargs)

    srv = SparqlHttpServer(
        spark, port=0, graph_access_control={"k": ["urn:g"]}
    )
    srv.start()
    try:
        _post(
            srv,
            "/update/",
            {
                "update": 'INSERT DATA { GRAPH <urn:g> { <urn:s> <urn:p> "v" } '
                'GRAPH <urn:h> { <urn:s> <urn:p> "hidden" } }',
                "apikey": "k",
            },
        )
        monkeypatch.setattr(SparqlEngine, "__init__", counting_init)
        q = "SELECT ?o WHERE { <urn:s> <urn:p> ?o }"
        for _ in range(3):
            assert _select(srv, q, apikey="k") == [
                {"o": {"type": "literal", "value": "v"}}
            ]
        # an unknown key reads nothing
        assert _select(srv, q, apikey="mallory") == []
        assert built == [["urn:g"], []]
        assert _cache_stats(srv, "k")["cache_hits"] == 2
    finally:
        srv.stop()


def test_cli_query_plans_star_on_property_table(
    spark, tmp_path, monkeypatch, capsys
):
    nt = tmp_path / "data.nt"
    nt.write_text(
        "".join(
            f'<urn:s{i}> <urn:a> "a{i}" .\n<urn:s{i}> <urn:b> "b{i}" .\n'
            for i in range(3)
        )
    )
    path = str(tmp_path / "store")
    assert cli.main(["import", path, str(nt)]) == 0
    results = []
    query = SparqlEngine.query

    def capturing_query(self, *args, **kwargs):
        results.append(query(self, *args, **kwargs))
        return results[-1]

    monkeypatch.setattr(SparqlEngine, "query", capturing_query)
    capsys.readouterr()
    star = "SELECT ?s ?a ?b WHERE { ?s <urn:a> ?a ; <urn:b> ?b }"
    assert cli.main(["query", path, star]) == 0
    rows = capsys.readouterr().out.strip().splitlines()
    assert sorted(rows[1:]) == [
        f'<urn:s{i}>\t"a{i}"\t"b{i}"' for i in range(3)
    ]
    assert "_subjects" in results[0].explain()


def test_concurrent_queries_share_one_engine(spark, monkeypatch):
    import sys
    import threading

    srv = SparqlHttpServer(spark, port=0)
    srv.start()
    built = []
    init = SparqlEngine.__init__

    def counting_init(self, *args, **kwargs):
        built.append(1)
        init(self, *args, **kwargs)

    interval = sys.getswitchinterval()
    try:
        _post(srv, "/update/", {"update": 'INSERT DATA { <urn:s> <urn:p> "v" }'})
        monkeypatch.setattr(SparqlEngine, "__init__", counting_init)
        sys.setswitchinterval(1e-6)
        got, errors = [], []

        def client():
            try:
                for _ in range(2):
                    got.append(_select(srv, "SELECT ?o WHERE { ?s ?p ?o }"))
            except Exception as exc:  # noqa: BLE001 -- reported below
                errors.append(exc)

        threads = [threading.Thread(target=client) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert got == [[{"o": {"type": "literal", "value": "v"}}]] * 16
        assert len(built) == 1
    finally:
        sys.setswitchinterval(interval)
        srv.stop()
