"""SPARQL protocol HTTP endpoint (stdlib-only).

Mirrors the reference's httpd surface (/root/reference/src/http/httpd.c):

- ``GET/POST /sparql/`` — params ``query``, ``output`` (json|xml|csv|tsv),
  ``soft-limit``, ``restricted``, ``default-graph-uri`` /
  ``named-graph-uri`` (protocol dataset, overrides FROM — the reference
  parses-but-ignores these, httpd.c:1104 "ignored for now"; we honor
  them), ``apikey`` (graph ACLs), JSONP ``callback``
  (httpd.c:1102-1195, :1133-1140, :1150-1152)
- ``POST /update/`` — param ``update`` (httpd.c:1314+)
- ``OPTIONS *`` — CORS preflight (httpd.c:1483-1501); every response
  carries ``Access-Control-Allow-Origin: *`` when the request has an
  Origin header (IS_CORS, httpd.c:56)
- ``PUT /data/<graph-uri>`` — replace graph with request body
  (N-Triples/N-Quads, Turtle, TriG, RDF/XML or TriX, chosen by
  ``sources.rdfio.rdf_syntax``; httpd.c:687-753)
- ``POST /data/`` — append body to graph given by ``graph`` param
  (httpd.c:755-810)
- ``DELETE /data/<graph-uri>`` — drop graph
- ``GET /status/``, ``/status/size/``, ``/status/cache/`` — HTML status
  reports (httpd.c:832-1002); ``GET /test/`` — HTML query form
  (httpd.c:1070-1100); ``GET /description/`` — Turtle service
  description (httpd.c:1003-1069, on the W3C sd vocabulary)

This is a thin driver-side façade: every request builds lazy DataFrames
and streams results; Spark does the heavy lifting exactly as in the
library API. Single-process by design — at scale you put any HTTP tier in
front of a long-lived SparkSession the same way.

Deployment note: a long-lived session serving many UNIQUE query texts
should cap ``spark.sql.ui.retainedExecutions`` (default 1000) — the SQL
status listener retains a plan-description string per execution even
with the UI disabled, which grows driver heap with plan size x query
diversity.
"""

from __future__ import annotations

import html
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from fourstore_spark.model import SYSTEM_CONFIG_GRAPH, check_iri
from fourstore_spark.sources.rdfio import (
    RDF_SYNTAXES,
    quads_from_text,
    rdf_syntax,
)
from fourstore_spark.sparql.engine import GRAPH_FORMATS, SparqlEngine
from fourstore_spark.sparql.update import UpdateEngine

# Version tail line on write-op responses (http_code, httpd.c:291-302:
# every status body ends "This is a 4store SPARQL server <rev>"; the
# reference test harness seds the version token to [VERSION])
SERVER_LINE = "This is a 4store SPARQL server v1.1.6-spark\n"


def _code_body(code_text: str) -> str:
    return f"{code_text}\n{SERVER_LINE}"


# ---------------------------------------------------------------- ACLs
# Data-driven graph access control, the reference's -A mode: ACLs are
# ordinary quads in the system:config graph (rdf-constants.h:52-55)
# loaded into a driver-side map before each bind (query-cache.c:160-225
# fs_acl_load_system_info), reloaded whenever the store changes.
FS_ACL_ADMIN = "http://4store.org/acl#admin"
FS_ACL_ONLY_ACCESS_BY = "http://4store.org/acl#onlyAccessBy"
# used only while system:config holds NO acl#admin quad
# (query-cache.c:214-217 "Added default admin user")
FS_ACL_DEFAULT_ADMIN = "4sadminuser"

# system:config is admin-curated and tiny by construction, but the load
# collects it to the driver — guard like every other driver-side
# materialization in this repo (stream_lm_filter.max_lm_rows etc.)
MAX_ACL_ROWS = 100_000

# A visibility: the graphs one apikey may read. ("deny", graphs) hides
# the listed graphs — EVERYTHING when none are — and ("allow", graphs)
# shows only the listed ones, none at all when empty.
EVERYTHING = ("deny", ())

# the two 403 bodies: a query without an apikey (httpd.c:1157 wording,
# http_error shape: message line + server line), and a status page
# without a known one
_NO_APIKEY = "403 forbidden - apikey parameter has to be included in request."
_BAD_APIKEY = (
    "403 forbidden - valid apikey parameter has to be included in request."
)


class AclInfo:
    """Driver-side image of the store's ACL quads.

    ``admins``: the acl#admin user keys (default-admin fallback when
    empty). ``graph_users``: graph URI -> the set of user keys its
    acl#onlyAccessBy quads name; system:config itself maps to the admin
    set (query-cache.c:219 "only admin users can access system:config").
    Graphs absent from the map are readable by ANY key — so a user's
    visibility filter is the small DENY list of restricted graphs not
    naming them (no_access_for_user, query-cache.c:97-110), never an
    unbounded allow list: at 100 TB with millions of graphs the filter
    stays O(restricted graphs)."""

    def __init__(self, admins: frozenset, graph_users: dict):
        self.admins = admins
        self.graph_users = graph_users

    def is_admin(self, key: str | None) -> bool:
        return key is not None and key in self.admins

    def denied_for(self, key: str) -> tuple:
        return tuple(sorted(
            g for g, users in self.graph_users.items() if key not in users
        ))


def load_acl_info(quads) -> AclInfo:
    """One pruned scan of the system:config graph (the g/p filters reach
    the parquet read) -> AclInfo. Mirrors fs_acl_load_system_info
    (query-cache.c:160-225): the reference binds
    (model=system:config, pred in {acl#admin, acl#onlyAccessBy}) and
    builds the same two maps; keys compare as plain-literal lexical
    forms (httpd.c:499 hashes the apikey with fs_hash_literal(key, 0))."""
    from pyspark.sql import functions as F

    from fourstore_spark.model import KIND_LITERAL

    rows = (
        quads.where(
            (F.col("g") == SYSTEM_CONFIG_GRAPH)
            & F.col("p").isin([FS_ACL_ADMIN, FS_ACL_ONLY_ACCESS_BY])
            # apikeys hash as LITERALS in the reference (httpd.c:499
            # fs_hash_literal), so a URI/bnode object in an ACL quad
            # can never match any key — skip those rows outright
            & (F.col("o_kind") == KIND_LITERAL)
        )
        .select("s", "p", "o_lex")
        .limit(MAX_ACL_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_ACL_ROWS:
        raise ValueError(
            f"system:config holds more than {MAX_ACL_ROWS} ACL quads; "
            "refusing to materialize them driver-side."
        )
    admins = frozenset(r.o_lex for r in rows if r.p == FS_ACL_ADMIN)
    if not admins:
        admins = frozenset([FS_ACL_DEFAULT_ADMIN])
    graph_users: dict = {}
    for r in rows:
        if r.p == FS_ACL_ONLY_ACCESS_BY:
            graph_users.setdefault(r.s, set()).add(r.o_lex)
    graph_users = {g: frozenset(u) for g, u in graph_users.items()}
    graph_users[SYSTEM_CONFIG_GRAPH] = admins
    return AclInfo(admins, graph_users)


# a BASE of the request's own only counts in the PROLOGUE: whitespace,
# comments and PREFIX declarations may precede it, but a line inside a
# string literal that happens to start with "BASE" must not suppress
# the default (r7 advice). The comment alternative must consume its
# newline unconditionally — `#[^\n]*\n?` overlaps `\s` on the newline
# and backtracks exponentially on comment-heavy prologues without a
# BASE (r8 advice), so every comment match ends at `\n` or EOF.
_PROLOGUE_PREFIX = r"(?is)^(?:\s|#[^\n]*(?:\n|$)|PREFIX\s+[^\s<]*\s*<[^>]*>)*"
_PROLOGUE_BASE_RE = re.compile(_PROLOGUE_PREFIX + r"BASE\b")
_PROLOGUE_BASE_IRI_RE = re.compile(_PROLOGUE_PREFIX + r"BASE\s*<([^>]*)>")


def _with_default_base(text: str) -> str:
    """4s-httpd parses queries AND updates against base <local:local>
    (httpd.c:1925), so relative IRIs like <A> resolve to <local:A>
    while fragment-only refs resolve to <local:local#x>. Mirror it by
    prepending that exact base when the request's prologue carries no
    BASE of its own (no-op for absolute IRIs)."""
    if _PROLOGUE_BASE_RE.match(text):
        return text
    return "BASE <local:local>\n" + text


# result format -> media type; graph formats take the first media type
# of their syntax in rdfio's table
_CONTENT_TYPES = {
    "text": "text/plain",
    "json": "application/sparql-results+json",
    "xml": "application/sparql-results+xml",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    **{fmt: RDF_SYNTAXES[fmt][0][0] for fmt in GRAPH_FORMATS},
}

# Accept-header media type -> result format (SPARQL protocol content
# negotiation; the explicit ``output`` parameter wins when present)
_ACCEPT_FORMATS = {
    "text/plain": "text",
    "application/sparql-results+json": "json",
    "application/json": "json",
    "application/sparql-results+xml": "xml",
    "application/xml": "xml",
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    **{RDF_SYNTAXES[fmt][0][0]: fmt for fmt in GRAPH_FORMATS},
}


def _fmt_from_accept(accept: str) -> str | None:
    """First recognized media type in the Accept header's listed order
    (good enough vs full q-value negotiation for the formats we serve)."""
    for part in accept.split(","):
        mt = part.split(";")[0].strip().lower()
        if mt in _ACCEPT_FORMATS:
            return _ACCEPT_FORMATS[mt]
    return None

# restricted mode caps per-pattern results at the reference's default
# soft limit (params.h.in:34: 998 per segment; FS_QUERY_RESTRICTED
# truncation query-datatypes.c:999-1015)
RESTRICTED_SOFT_LIMIT = 998

# JSONP callback must be a plain JS identifier path — anything else is a
# script-injection vector, not a callback
_CALLBACK_RE = re.compile(r"^[A-Za-z_$][A-Za-z0-9_$]*(\.[A-Za-z_$][A-Za-z0-9_$]*)*$")


class SparqlHttpServer:
    """serve() blocks; start()/stop() run it on a thread (for tests)."""

    def __init__(
        self,
        spark: SparkSession,
        update_engine: UpdateEngine | None = None,
        host: str = "127.0.0.1",
        port: int = 8890,
        graph_access_control: dict[str, list[str]] | bool | None = None,
        cors: bool = True,
    ):
        """``graph_access_control`` enables apikey ACL mode
        (httpd.c:1156-1159). Two forms:

        - ``True`` — the reference's -A mode: ACLs are DATA, read from
          acl#admin / acl#onlyAccessBy quads in the system:config graph
          (rdf-constants.h:52-55) and reloaded whenever the store
          changes (fsp_acl_needs_reload). Queries need any apikey;
          destructive ops (update/PUT/DELETE) need an ADMIN key
          (httpd.c:494-500), default admin ``4sadminuser`` until an
          acl#admin quad exists; non-admins cannot see system:config or
          restricted graphs not naming them.
        - a dict apikey -> list of graph URIs that key may see (static
          allow-list; an extension kept for embedders who manage keys
          outside the store). Any known key may write."""
        self.spark = spark
        # 4s-httpd deletes un-GRAPHed triples from every graph
        # (update.c:127 wildcard model) and binds GRAPH ?g to the default
        # graph too — parity for this surface
        self.ue = update_engine or UpdateEngine(spark, fourstore_graphs=True)
        self.host = host
        self.port = port
        self.graph_access_control = graph_access_control
        self.cors = cors
        # ThreadingHTTPServer handles requests concurrently, but every
        # write path is a read-modify-write of ue.quads — serialize them
        # (the reference's backends serialize imports per segment the same
        # way; readers stay lock-free on the immutable DataFrame snapshot)
        self._write_lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # queries against the live store must see updates, BUT rebuilding
        # a SparqlEngine per request throws away its compiled-plan cache
        # (the whole point of fs_query_cache): ONE engine per (quads
        # snapshot, visibility), so keys sharing a visibility share a
        # plan cache. Updates swap ue.quads to a new DataFrame object,
        # which drops the engines and the data-driven AclInfo image by
        # identity — the reference's fsp_acl_needs_reload trigger
        # (query-cache.c:242-243).
        self._snapshot_of: object | None = None
        self._acl_info: AclInfo | None = None
        from collections import OrderedDict

        self._engines: "OrderedDict" = OrderedDict()
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            _head_only = False

            def _send(self, code: int, body: str, ctype: str = "text/plain"):
                data = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype + "; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                # IS_CORS (httpd.c:56): any request carrying an Origin
                # header gets the open-access CORS grant
                if outer.cors and self.headers.get("Origin"):
                    self.send_header("Access-Control-Allow-Origin", "*")
                self.end_headers()
                if not self._head_only:
                    self.wfile.write(data)

            def do_OPTIONS(self):
                # CORS preflight (http_options_request, httpd.c:1483-1501)
                self.send_response(200)
                self.send_header("Access-Control-Allow-Origin", "*")
                # httpd.c:1487 exact header value
                self.send_header(
                    "Access-Control-Allow-Methods", "GET, OPTIONS"
                )
                self.send_header("Access-Control-Max-Age", "3628800")
                want = self.headers.get("Access-Control-Request-Headers")
                if want:
                    self.send_header("Access-Control-Allow-Headers", want)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def _params(self) -> dict:
                url = urllib.parse.urlparse(self.path)
                pairs = urllib.parse.parse_qsl(url.query, keep_blank_values=True)
                length = int(self.headers.get("Content-Length") or 0)
                params: dict = {}
                if length:
                    body = self.rfile.read(length).decode("utf-8")
                    ctype = self.headers.get("Content-Type", "")
                    if "application/x-www-form-urlencoded" in ctype:
                        pairs += urllib.parse.parse_qsl(body, keep_blank_values=True)
                    elif "application/sparql-query" in ctype:
                        params["query"] = body
                    elif "application/sparql-update" in ctype:
                        params["update"] = body
                    else:
                        params["__body"] = body
                params.update(dict(pairs))
                # protocol dataset params repeat (one per graph): keep
                # every occurrence, not just the last
                self._multi = {}
                for k, v in pairs:
                    self._multi.setdefault(k, []).append(v)
                return params

            def _query(self, params: dict, multiparams: dict | None = None):
                text = params.get("query")
                if not text:
                    return self._send(400, "missing query parameter")
                text = _with_default_base(text)
                fmt = params.get("output") or _fmt_from_accept(
                    self.headers.get("Accept", "") or ""
                ) or "json"
                soft = params.get("soft-limit")
                limit = int(soft) if soft else None
                if "restricted" in params:
                    # FS_QUERY_RESTRICTED (httpd.c:1131-1132): cap
                    # per-pattern results at the reference's default
                    limit = (
                        min(limit, RESTRICTED_SOFT_LIMIT)
                        if limit
                        else RESTRICTED_SOFT_LIMIT
                    )
                mp = multiparams or {}
                try:
                    vis, err = outer.visibility(params.get("apikey"))
                    if err:
                        return self._send(403, _code_body(err))
                    res = outer.engine(vis).query(
                        text,
                        soft_limit=limit,
                        default_graph_uri=mp.get("default-graph-uri"),
                        named_graph_uri=mp.get("named-graph-uri"),
                    )
                    if res.form == "DESCRIBE" and fmt == "text":
                        # text output: DESCRIBE streams through the
                        # raptor turtle serializer with the query's
                        # base while CONSTRUCT stays ntriples
                        # (results.c:2037 handle_describe "turtle" vs
                        # :2069 handle_construct "ntriples")
                        from fourstore_spark.sparql.results_io import (
                            graph_turtle_abbrev,
                        )

                        bm = _PROLOGUE_BASE_IRI_RE.match(text)
                        body = graph_turtle_abbrev(
                            res.df, base=bm.group(1) if bm else None
                        )
                    else:
                        fmt = res.output_format(fmt)
                        body = res.serialize(fmt)
                except Exception as exc:  # noqa: BLE001 — 4xx per httpd.c
                    return self._send(400, f"parser error: {exc}")
                cb = params.get("callback")
                if cb and fmt == "json":
                    # JSONP (json_function, httpd.c:1150-1152 /
                    # results.c:2281-2298) — identifier-checked
                    if not _CALLBACK_RE.match(cb):
                        return self._send(400, "invalid callback name")
                    return self._send(
                        200, f"{cb}({body})", "text/javascript"
                    )
                self._send(200, body, _CONTENT_TYPES.get(fmt, "text/plain"))

            def _page(self, title: str, body: str):
                # the reference's status pages are minimal HTML 2.0
                # documents (http_status_report httpd.c:832-881 etc.)
                self._send(
                    200,
                    "<!DOCTYPE html>\n<html><head><title>"
                    f"{title}</title></head>\n<body><h1>{title}</h1>\n"
                    f"{body}</body></html>\n",
                    "text/html",
                )

            def do_GET(self):
                url = urllib.parse.urlparse(self.path)
                path = url.path.rstrip("/") or "/"
                if path == "/sparql":
                    return self._query(self._params(), self._multi)
                if path == "/status":
                    # http_status_report (httpd.c:832-881): server state +
                    # links; no Spark job runs for a status ping
                    return self._page(
                        "SPARQL httpd server status",
                        "<p>4store-spark: running</p>\n"
                        '<p><a href="/status/size/">store size info</a></p>\n'
                        '<p><a href="/status/cache/">cache stats</a></p>\n'
                        '<p><a href="/test/">Execute a test query</a></p>\n',
                    )
                if path in ("/status/size", "/status/cache"):
                    # ADVICE r4: under graph access control these pages
                    # must not leak store shape (predicate IRIs, counts)
                    # to unauthenticated clients nor offer them a free
                    # full-store scan — they need a KNOWN apikey and
                    # report that key's visibility
                    vis, err = outer.visibility(
                        self._params().get("apikey"), status_page=True
                    )
                    if err:
                        return self._send(403, err)
                    eng = outer.engine(vis)
                if path == "/status/size":
                    # http_size_report (httpd.c:959-1002): per-segment
                    # quads/models/resources; here per-predicate quads
                    # (the store's partition unit) + totals
                    quads = eng.quads
                    rows = quads.groupBy("p").count().orderBy("p").collect()
                    models = quads.select("g").distinct().count()
                    body = [
                        "<table><tr><th>predicate</th><th>quads</th></tr>\n"
                    ]
                    total = 0
                    for r in rows:
                        total += r["count"]
                        body.append(
                            f"<tr><td>{html.escape(r['p'])}</td>"
                            f"<td>{r['count']}</td></tr>\n"
                        )
                    body.append(
                        f"<tr><th>Total</th><td>{total}</td></tr></table>\n"
                        f"<p>models: {models}</p>\n"
                    )
                    return self._page(
                        "SPARQL httpd server status - size", "".join(body)
                    )
                if path == "/status/cache":
                    # http_cache_report (httpd.c:882-957): RID-cache hit
                    # stats; here the compiled-plan cache's
                    return self._page(
                        "SPARQL httpd server status - cache",
                        "<table border=1 cellpadding=6>\n"
                        f"<tr><td>cache_entries</td><td>{len(eng._plan_cache)}"
                        "</td></tr>\n"
                        f"<tr><td>cache_limit</td><td>{eng._plan_cache_cap}"
                        "</td></tr>\n"
                        f"<tr><td>cache_hits</td><td>{eng._plan_cache_hits}"
                        "</td></tr>\n"
                        f"<tr><td>cache_fail</td><td>{eng._plan_cache_misses}"
                        "</td></tr>\n</table>\n",
                    )
                if path == "/description":
                    # http_service_description (httpd.c:1003-1069), on the
                    # W3C SPARQL 1.1 Service Description vocabulary
                    fmts = "\n".join(
                        f"  sd:resultFormat <urn:media:{mt}> ;"
                        for mt in sorted(_CONTENT_TYPES.values())
                    )
                    desc = (
                        "@prefix sd: <http://www.w3.org/ns/"
                        "sparql-service-description#> .\n"
                        "@prefix void: <http://rdfs.org/ns/void#> .\n"
                        "[] a sd:Service ;\n"
                        "  sd:supportedLanguage sd:SPARQL11Query, "
                        "sd:SPARQL11Update ;\n"
                        f"{fmts}\n"
                        "  sd:endpoint </sparql/> .\n"
                    )
                    return self._send(200, desc, _CONTENT_TYPES["turtle"])
                if path == "/test":
                    # http_query_widget (httpd.c:1070-1100)
                    opts = "\n".join(
                        f"<option>{f}</option>"
                        for f in ("json", "xml", "csv", "tsv")
                    )
                    return self._page(
                        "SPARQL httpd test query",
                        '<form action="/sparql/" method="post">\n'
                        '<textarea name="query" cols="80" rows="18">\n'
                        "SELECT * WHERE {\n ?s ?p ?o\n} LIMIT 10\n"
                        "</textarea><br>\n"
                        "<em>Soft limit</em> "
                        '<input type="text" name="soft-limit">\n'
                        f'<select name="output">\n{opts}\n</select>\n'
                        '<input type="submit" value="Execute">'
                        '<input type="reset">\n</form>\n',
                    )
                self._send(404, "not found")

            def _write_denied(self, params: dict) -> bool:
                """Destructive ops (update/PUT/DELETE) under graph
                access control. Data-driven mode: ADMIN keys only
                (data_modification_acl_granted, httpd.c:494-500 — a
                missing key and a non-admin key both get the same 403).
                Static dict mode: any known key (legacy extension)."""
                acl = outer.graph_access_control
                if acl is None:
                    return False
                if acl is True:
                    if outer._current_acl_info().is_admin(
                        params.get("apikey")
                    ):
                        return False
                    # httpd.c:724 wording
                    self._send(
                        403,
                        _code_body(
                            "403 forbidden - updates only with admin "
                            "API KEY when ACL is enabled"
                        ),
                    )
                    return True
                if params.get("apikey") in acl:
                    return False
                self._send(403, _BAD_APIKEY)
                return True

            def do_POST(self):
                url = urllib.parse.urlparse(self.path)
                params = self._params()
                path = url.path.rstrip("/")
                if path == "/sparql":
                    return self._query(params, self._multi)
                if path == "/update":
                    if self._write_denied(params):
                        return
                    text = params.get("update")
                    if not text:
                        return self._send(400, "missing update parameter")
                    try:
                        with outer._write_lock:
                            msgs = outer.ue.update(_with_default_base(text))
                            # materialize: a long-lived server otherwise
                            # accumulates unbounded union/filter lineage
                            # across writes — every later query would
                            # replay the whole update history (and the
                            # superseded plans pin JVM heap)
                            outer.ue.commit()
                    except Exception as exc:  # noqa: BLE001
                        return self._send(400, f"update error: {exc}")
                    # body = fs_update messages joined by LF, + final LF
                    # (http_import_start, httpd.c:515-525)
                    return self._send(200, "\n".join(msgs) + "\n")
                if path == "/data":
                    if self._write_denied(params):
                        return
                    graph = params.get("graph")
                    # form POST (http_post_data, httpd.c:635): the RDF
                    # payload is the ``data`` field with ``mime-type``
                    # naming its parser; a raw-body POST falls back to
                    # the request body + Content-Type
                    body = params.get("data") or params.get("__body", "")
                    if not graph:
                        return self._send(400, "missing graph parameter")
                    if self._bad_graph(graph):
                        return
                    return self._load(
                        graph, body, replace=False,
                        ct=params.get("mime-type"),
                    )
                self._send(404, "not found")

            def _load(self, graph: str, body: str, replace: bool,
                      ct: str | None = None):
                try:
                    # http_put_data / http_post_data (httpd.c) pick the
                    # raptor parser from the media type, else the GRAPH
                    # URI's suffix, else the body
                    ct = ct or self.headers.get("Content-Type")
                    quads = quads_from_text(
                        outer.spark, body, graph,
                        rdf_syntax(graph, ct, body), base=graph,
                    )
                    with outer._write_lock:
                        if replace:
                            outer.ue.update(f"CLEAR SILENT GRAPH <{graph}>")
                        outer.ue.add_quads(quads)  # tracked: O(delta) commit
                        # import-time full-text derivation (T1-T3): when
                        # the system:config graph directs indexing, the
                        # INCOMING triples grow fs:token/stem/dmetaphone
                        # quads in their own graph — exactly the
                        # reference's import hook (buffer_tokens/stems/
                        # metaphones, import.c:616-700); pre-existing
                        # triples are not retro-indexed there either
                        from fourstore_spark.operators.fulltext import (
                            derive_fulltext_quads,
                            fulltext_config,
                        )

                        cfg = fulltext_config(outer.ue.quads)
                        if cfg:
                            derived = derive_fulltext_quads(quads, cfg)
                            if derived is not None:
                                outer.ue.add_quads(derived)
                        outer.ue.commit()  # bound lineage (see /update/)
                except Exception as exc:  # noqa: BLE001
                    # http_error("400 RDF parser reported errors") shape,
                    # with the parser detail appended for debuggability
                    return self._send(
                        400,
                        _code_body(f"400 RDF parser reported errors: {exc}"),
                    )
                # "201 imported successfully" (PUT, httpd.c:682) /
                # "200 added successfully" (POST /data/, httpd.c:635)
                self._send(
                    201 if replace else 200,
                    _code_body(
                        "201 imported successfully"
                        if replace
                        else "200 added successfully"
                    ),
                )

            def _bad_graph(self, graph: str) -> bool:
                """Refuse (400) a /data/ graph that breaks the IRI rule
                before anything parses the body or pastes the graph
                into update text."""
                try:
                    check_iri(graph)
                except ValueError as exc:
                    self._send(400, _code_body(f"400 bad graph: {exc}"))
                    return True
                return False

            def _data_graph(self, params: dict) -> str | None:
                """Graph URI for /data/ writes: the SPARQL 1.1 style
                (?graph= param, httpd.c:690) or the pre-1.1 4store way
                (/data/<graph-uri> path, httpd.c:728)."""
                url = urllib.parse.urlparse(self.path)
                if url.path.rstrip("/") in ("", "/data"):
                    return params.get("graph")
                if url.path.startswith("/data/"):
                    return urllib.parse.unquote(url.path[len("/data/"):])
                return None

            def do_PUT(self):
                params = self._params()
                graph = self._data_graph(params)
                if not graph:
                    return self._send(
                        404, "PUT expects /data/<graph-uri> or ?graph="
                    )
                if self._write_denied(params) or self._bad_graph(graph):
                    return
                self._load(graph, params.get("__body", ""), replace=True)

            def do_DELETE(self):
                params = self._params()
                graph = self._data_graph(params)
                if not graph:
                    return self._send(
                        404, "DELETE expects /data/<graph-uri> or ?graph="
                    )
                if self._write_denied(params) or self._bad_graph(graph):
                    return
                try:
                    with outer._write_lock:
                        outer.ue.update(f"CLEAR SILENT GRAPH <{graph}>")
                        outer.ue.commit()  # bound lineage (see /update/)
                except Exception as exc:  # noqa: BLE001
                    return self._send(400, str(exc))
                # "200 deleted successfully" (httpd.c:825)
                self._send(200, _code_body("200 deleted successfully"))

            def do_HEAD(self):
                # the reference answers HEAD with the GET headers and no
                # body (httpd.c:1519-1530); CORS tests probe this
                self._head_only = True
                try:
                    self.do_GET()
                finally:
                    self._head_only = False

        self._handler_cls = Handler

    def _snapshot(self):
        """The live quads snapshot; a new one drops the engines and the
        AclInfo built on the last. Caller holds ``_lock``."""
        quads = self.ue.quads
        if self._snapshot_of is not quads:
            self._snapshot_of = quads
            self._engines.clear()
            self._acl_info = None
        return quads

    def _current_acl_info(self) -> AclInfo:
        """AclInfo for the live quads snapshot: the same contract as
        fsp_acl_needs_reload / fs_acl_load_system_info
        (query-cache.c:242-243), reloading strictly more often (on ANY
        write, not just system:config writes), never less."""
        with self._lock:
            quads = self._snapshot()
            if self._acl_info is None:
                self._acl_info = load_acl_info(quads)
            return self._acl_info

    def visibility(self, key: str | None, status_page: bool = False):
        """apikey -> ``(visibility, None)``, or ``(None, body)`` for a
        403. Without graph access control every request sees
        EVERYTHING. Data-driven mode: any key may read; admins see
        everything (no_access_for_user returns NULL for admins,
        query-cache.c:97-99), everyone else loses the small DENY list of
        restricted graphs not naming them. Static dict mode: a key sees
        its allow-list; an unknown key reads nothing, and a status page
        refuses it."""
        acl = self.graph_access_control
        if acl is None:
            return EVERYTHING, None
        if not key:
            return None, _BAD_APIKEY if status_page else _NO_APIKEY
        if acl is True:
            info = self._current_acl_info()
            if info.is_admin(key):
                return EVERYTHING, None
            return ("deny", info.denied_for(key)), None
        if key in acl:
            return ("allow", tuple(acl[key])), None
        return (None, _BAD_APIKEY) if status_page else (("allow", ()), None)

    def engine(self, visibility: tuple) -> SparqlEngine:
        """The one SparqlEngine per (quads snapshot, visibility). Served
        engines carry no store statistics: every write would invalidate
        them."""
        with self._lock:
            quads = self._snapshot()
            eng = self._engines.get(visibility)
            if eng is None:
                kind, graphs = visibility
                eng = SparqlEngine(
                    self.spark,
                    quads,
                    allowed_graphs=list(graphs) if kind == "allow" else None,
                    denied_graphs=list(graphs) if kind == "deny" else None,
                    # 4store parity: GRAPH ?g also binds default:
                    graph_var_includes_default=True,
                )
                self._engines[visibility] = eng
                # bounded: distinct visibilities are few (one per ACL
                # class), but a hostile key stream shouldn't grow this
                while len(self._engines) > 32:
                    self._engines.popitem(last=False)
            return eng

    def start(self) -> None:
        self._httpd = ThreadingHTTPServer((self.host, self.port), self._handler_cls)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()

    def serve(self) -> None:
        self._httpd = ThreadingHTTPServer((self.host, self.port), self._handler_cls)
        self._httpd.serve_forever()
