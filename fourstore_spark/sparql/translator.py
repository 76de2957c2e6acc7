"""SPARQL algebra -> DataFrame translator.

This module is the engine proper: the reference's block executor + join
machinery (fs_handle_query_triple src/frontend/query.c:1791-1922,
fs_binding_merge/fs_binding_join src/frontend/query-datatypes.c:669-1118,
block combination src/frontend/query.c:916-1024) collapses into a recursive
translation where:

- a solution set is a DataFrame with one term-struct column per variable;
- a quad-pattern scan (fs_bind, src/backend/query-backend.c:155-596) is a
  filter+project of the quads table — constant slots become pushed-down
  parquet predicates, and all the reference's access-path special cases
  are Catalyst's problem;
- every join (sort-merge in the reference) is df.join and Catalyst picks
  broadcast/SMJ/shuffle-hash per side statistics (AQE re-picks at runtime);
- the reference's greedy selectivity ordering (fs_optimise_triple_pattern,
  src/frontend/optimiser.c:212-396) survives only as a constant-count
  heuristic for the *initial* BGP join order — Catalyst/AQE reorders from
  there.

SPARQL *compatible-mapping* semantics (unbound = wildcard; the reference's
binding_row_compare treats NULL this way, src/frontend/query-datatypes.c:476)
are honored by tracking which variables are certainly-bound per node:
certain∩certain join keys stay equi-joins (shuffle-able, broadcast-able);
only maybe-unbound shared variables degrade to a residual OR condition.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fourstore_spark.model import (
    DEFAULT_GRAPH,
    KIND_BNODE,
    KIND_LITERAL,
    KIND_URI,
    TERM_DDL,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_FLOAT,
    bnode_row,
    bnode_term,
    const_term_col,
    iri_row,
    nt_term,
    quad_cols,
    quad_term,
    stored_label,
    term_eq,
    term_of,
    term_order_key,
    term_rid,
    term_row,
    uri_term,
)
from fourstore_spark.sparql import algebra as A
from fourstore_spark.sparql.expr import (
    ExprContext,
    agg_key,
    compile_bool,
    compile_expr,
    const_term,
    ebv,
    make_bool,
    make_num,
    make_string,
    null_term,
)
from fourstore_spark.model import XSD_INTEGER
from fourstore_spark.store import StoreStats

# a side the store statistics estimate at or below this many rows is
# broadcast in a join (see _compat_join)
BROADCAST_ROWS = 200_000

# SERVICE (federated query) driver guards: queries longer than the GET
# limit ship as protocol §2.1.2 POST; the remote answer is driver-
# materialized, so cap its size/rows (a runaway endpoint must not OOM the
# driver). Module-level so deployments can raise them.
SERVICE_MAX_GET_URL = 2000
SERVICE_MAX_BYTES = 256 * 1024 * 1024
SERVICE_MAX_ROWS = 1_000_000
# bind-join (FedX-style): when the local side of a SERVICE join has at
# most this many distinct shared-variable tuples, they ship to the
# remote endpoint as a VALUES clause so it returns only joinable rows
SERVICE_BIND_JOIN_MAX = 1000

# serializes property-path closures: the fixpoint loop toggles a session
# conf (constraintPropagation) around its jobs, which must not interleave
# across threads (the threaded HTTP endpoint can run queries concurrently)
import threading

_CLOSURE_LOCK = threading.Lock()


@dataclass
class Sol:
    """A solution-set DataFrame + the set of certainly-bound variables.

    ``est_rows`` is a leaf-level cardinality estimate from store manifest
    statistics (the analogue of the reference's per-predicate frequency
    histograms, fs_bind_freq optimiser.c:445-524); None = unknown. Only
    scans/stars carry it — joins reset to None, so broadcast hints never
    fire on unestimated intermediates."""

    df: DataFrame
    certain: frozenset
    est_rows: int | None = None
    # var -> predicate URI, for variables bound directly from a
    # constant-predicate object slot (scan/star provenance). Consumed by
    # the aggregate planner for the slim fixed-datatype SUM/AVG path;
    # dropped (None) by any operator that can't preserve it — losing it
    # is always safe, it only disables an optimization.
    var_pred: dict | None = None

    @property
    def variables(self) -> list[str]:
        return self.df.columns


def _expr_contains_exists(e) -> bool:
    """True when an expression tree contains an EXISTS/NOT EXISTS node —
    those compile to semi/anti joins in the translator, never through
    compile_expr/compile_bool."""
    if isinstance(e, A.EExists):
        return True
    if isinstance(e, (A.EAnd, A.EOr, A.ECall)):
        return any(_expr_contains_exists(a) for a in e.args)
    if isinstance(e, A.EUnary):
        return _expr_contains_exists(e.arg)
    if isinstance(e, (A.ECompare, A.EArith)):
        return _expr_contains_exists(e.left) or _expr_contains_exists(e.right)
    if isinstance(e, A.EIn):
        return _expr_contains_exists(e.expr) or any(
            _expr_contains_exists(o) for o in e.options
        )
    return False


def _subst_alias_vars(e, amap: dict):
    """Rewrite EVar(name) -> amap[name] through an expression tree —
    lets HAVING reference SELECT aliases (HAVING(?sum > 0) with
    (SUM(?x) AS ?sum)), a widely-supported convenience; the substituted
    aggregate resolves through agg_map to its already-computed column."""
    s = lambda x: _subst_alias_vars(x, amap)  # noqa: E731
    if isinstance(e, A.EVar):
        return amap.get(e.name, e)
    if isinstance(e, A.EAnd):
        return A.EAnd([s(a) for a in e.args])
    if isinstance(e, A.EOr):
        return A.EOr([s(a) for a in e.args])
    if isinstance(e, A.EUnary):
        return A.EUnary(e.op, s(e.arg))
    if isinstance(e, A.ECompare):
        return A.ECompare(e.op, s(e.left), s(e.right))
    if isinstance(e, A.EArith):
        return A.EArith(e.op, s(e.left), s(e.right))
    if isinstance(e, A.EIn):
        return A.EIn(s(e.expr), [s(o) for o in e.options], e.negated)
    if isinstance(e, A.ECall):
        return A.ECall(e.name, [s(a) for a in e.args])
    return e


def _appearance_order(node) -> list[str]:
    """Variable names in first-textual-appearance order — the SELECT *
    projection order (Rasqal's behavior, mirrored by the reference's
    exemplar headers). May contain duplicates/invisible vars; the caller
    filters against the actual columns."""
    out: list[str] = []
    if node is None:
        return out
    if isinstance(node, A.BGP):
        for t in node.triples:
            for term in (t.s, t.p, t.o):
                if isinstance(term, A.Var):
                    out.append(term.name)
        return out
    if isinstance(node, (A.Join, A.Union, A.Minus)):
        return _appearance_order(node.left) + _appearance_order(node.right)
    if isinstance(node, A.LeftJoin):
        return _appearance_order(node.left) + _appearance_order(node.right)
    if isinstance(node, A.Filter):
        return _appearance_order(node.pattern)
    if isinstance(node, A.Extend):
        return _appearance_order(node.pattern) + [node.var]
    if isinstance(node, A.GraphPattern):
        g = [node.graph.name] if isinstance(node.graph, A.Var) else []
        return g + _appearance_order(node.pattern)
    if isinstance(node, A.ValuesTable):
        return [v if isinstance(v, str) else v.name for v in node.variables]
    if isinstance(node, A.SubSelect):
        q = node.query
        if q.projection:
            return [
                item[1] if item[0] == "var" else item[2]
                for item in q.projection
            ]
        return _appearance_order(q.pattern)
    return out


class Translator:
    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame,
        union_default_graph: bool = True,
        soft_limit: int | None = None,
        stats: StoreStats | None = None,
        graph_var_includes_default: bool = False,
    ):
        self.spark = spark
        self.quads = quads
        # the store's planner statistics (store.read_stats; the
        # reference's fs_bind_freq histograms, optimiser.c:445-524):
        # pred_stats give leaf scans est_rows and _compat_join its
        # F.broadcast() hints, so dimension joins never degrade to a
        # shuffle on Spark's post-filter size guesses (which at 100x data
        # blow past any autoBroadcastJoinThreshold); single_valued_preds
        # let stars aggregate with codegen first(); pred_numeric_dt puts
        # SUM/AVG on the slim fixed-datatype path (2 aggregate buffers
        # instead of 6), bit-identical by the stats guarantee
        # (store._numeric_dt_stats); the property table lets star scans
        # skip the query-time shuffle entirely
        self.stats = stats if stats is not None else StoreStats()
        # 4store's default graph is effectively the union of all models
        # unless restricted (FS_QUERY_DEFAULT_GRAPH,
        # src/backend/query-backend.c:71-80)
        self.union_default_graph = union_default_graph
        self.graph_var_includes_default = graph_var_includes_default
        # per-pattern result cap (soft limit / restricted mode,
        # params.h.in:34, query-datatypes.c:998-1015)
        self.soft_limit = soft_limit
        # pre-cap pattern DataFrames, kept so the engine can check lazily
        # whether a cap actually truncated (the reference warns only then:
        # results.c:2722-2728). Each entry: (df_before_limit, cap).
        self.capped: list = []
        self._uid = 0
        self._last_select_certain: set = set()
        # set by _service: plans that ran a federated call embed a remote
        # snapshot and must not be cached by the engine
        self.saw_service = False

    def _fresh(self, prefix: str) -> str:
        self._uid += 1
        return f"__{prefix}{self._uid}"

    # ---------------------------------------------------------- entry
    def translate_query(self, q: A.Query):
        self.from_graphs = q.from_graphs
        self.from_named = q.from_named
        self.query_base = getattr(q, "base", "")
        sol = self.translate(q.pattern, graph=None) if q.pattern else self._unit()
        if q.values is not None:
            sol = self._join(sol, self._values(q.values), "inner")
        if q.form == "SELECT":
            return self._select(q, sol)
        if q.form == "ASK":
            return sol.df.limit(1)
        if q.form == "CONSTRUCT":
            return self._construct(q, self._slice_solutions(q, sol))
        if q.form == "DESCRIBE":
            return self._describe(q, self._slice_solutions(q, sol))
        raise ValueError(q.form)

    def _slice_solutions(self, q: A.Query, sol: Sol) -> Sol:
        """ORDER BY / OFFSET / LIMIT apply to the SOLUTION SEQUENCE of a
        CONSTRUCT/DESCRIBE before template instantiation (§16.2: the
        modifiers shape the sequence the template maps over — rasqal
        does the same for the reference)."""
        if not (q.order_by or q.offset or q.limit is not None):
            return sol
        df = sol.df
        if q.order_by:
            ctx = self._ctx(sol)
            sort_cols = []
            for expr, asc in q.order_by:
                key = term_order_key(compile_expr(expr, ctx))
                sort_cols.append(key.asc() if asc else key.desc())
            df = df.orderBy(*sort_cols)
        elif q.offset:
            # stable window without ORDER BY (see _select)
            df = df.orderBy(
                *[term_order_key(F.col(c)) for c in df.columns
                  if not c.startswith("__")]
            )
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return Sol(df, sol.certain)

    # -------------------------------------------------------- patterns
    def translate(self, node, graph) -> Sol:
        if isinstance(node, A.Unit):
            return self._unit()
        if isinstance(node, A.BGP):
            return self._bgp(node.triples, graph)
        if isinstance(node, A.Join):
            # SERVICE joined with a local pattern: translate the local
            # side first and pass it as the bind-join restriction
            if isinstance(node.right, A.ServicePattern) and not isinstance(
                node.left, A.ServicePattern
            ):
                left = self.translate(node.left, graph)
                return self._join(
                    left, self._service(node.right, bound=left), "inner"
                )
            if isinstance(node.left, A.ServicePattern) and not isinstance(
                node.right, A.ServicePattern
            ):
                right = self.translate(node.right, graph)
                return self._join(
                    self._service(node.left, bound=right), right, "inner"
                )
            return self._join(
                self.translate(node.left, graph), self.translate(node.right, graph), "inner"
            )
        if isinstance(node, A.LeftJoin):
            left = self.translate(node.left, graph)
            if isinstance(node.right, A.ServicePattern):
                # OPTIONAL { SERVICE ... }: same bind-join restriction as
                # the inner-join case (unmatched left rows null-pad
                # identically either way)
                right = self._service(node.right, bound=left)
            else:
                right = self.translate(node.right, graph)
            if node.expr is not None and _expr_contains_exists(node.expr):
                return self._leftjoin_exists(left, right, node.expr, graph)
            return self._join(left, right, "left", expr=node.expr)
        if isinstance(node, A.Union):
            return self._union(
                self.translate(node.left, graph), self.translate(node.right, graph)
            )
        if isinstance(node, A.Minus):
            return self._minus(
                self.translate(node.left, graph), self.translate(node.right, graph)
            )
        if isinstance(node, A.Filter):
            return self._filter(node, graph)
        if isinstance(node, A.Extend):
            base = self.translate(node.pattern, graph)
            if node.var in base.df.columns:
                # grammar note: the BIND target must NOT already be
                # in-scope in the group up to the BIND (spec 10.1 /
                # grammar rule [60] constraint) — a query error, like
                # the reference's Rasqal raises
                from fourstore_spark.sparql.parser import SparqlSyntaxError

                raise SparqlSyntaxError(
                    f"BIND: variable ?{node.var} is already in scope"
                )
            expr = node.expr
            markers: list[str] = []
            if _expr_contains_exists(expr):
                # EXISTS in value position (BIND(EXISTS{..} AS ?x)):
                # materialize each EXISTS as a boolean marker column first
                base, expr, markers = self._materialize_exists(
                    base, expr, graph
                )
            ctx = self._ctx(base)
            col = compile_expr(expr, ctx)
            out = base.df.withColumn(node.var, col)
            if markers:
                out = out.drop(*markers)
            # BIND adds a derived column: scan provenance of existing
            # vars is untouched (the new var has no predicate)
            vp = base.var_pred
            if vp and node.var in vp:
                vp = {k: v for k, v in vp.items() if k != node.var} or None
            return Sol(out, base.certain, base.est_rows, vp)
        if isinstance(node, A.GraphPattern):
            return self.translate(node.pattern, graph=node.graph)
        if isinstance(node, A.ValuesTable):
            return self._values(node)
        if isinstance(node, A.ServicePattern):
            return self._service(node)
        if isinstance(node, A.SubSelect):
            # translate_query resets the dataset clause to the subquery's
            # (always empty) one — save/restore the outer FROM/FROM NAMED
            saved = (self.from_graphs, self.from_named)
            df = self.translate_query(node.query)
            self.from_graphs, self.from_named = saved
            # certainty computed by _select for the projected columns, so
            # outer joins on subquery vars stay equi-joins
            return Sol(df, frozenset(self._last_select_certain))
        raise TypeError(f"cannot translate {node!r}")

    def _unit(self) -> Sol:
        return Sol(self.spark.range(1).select(), frozenset())

    def _service_bind_clause(
        self, node: A.ServicePattern, prologue: str, bound: Sol
    ) -> str:
        """FedX-style bind join: ship the local side's distinct
        shared-variable tuples as a VALUES clause so the endpoint only
        returns joinable rows (instead of its full group answer).

        Applied ONLY when it is provably exact: every shared variable
        must be certainly bound on the local side (a maybe-unbound or
        bnode value would make the pushed VALUES join duplicate remote
        rows beyond what the plain Join(Remote, Local) produces —
        Join(D, Local) must equal Local for the associativity argument
        to hold), and the distinct tuple count must be small. Any other
        case returns '' and the unrestricted fetch runs."""
        try:
            from fourstore_spark.sparql.parser import parse_query

            inner = parse_query(
                f"{prologue}SELECT * WHERE {node.group_text}"
            )
        except Exception:
            return ""
        rvars: set = set()

        def walk(x):
            if isinstance(x, A.Var):
                rvars.add(x.name)
            elif isinstance(x, A.Extend):
                rvars.add(x.var)
                walk(x.pattern)
                walk(x.expr)
            elif isinstance(x, A.ValuesTable):
                rvars.update(x.variables)
            elif isinstance(x, (list, tuple)):
                for y in x:
                    walk(y)
            elif hasattr(x, "__dataclass_fields__"):
                for f in x.__dataclass_fields__:
                    walk(getattr(x, f))

        walk(inner.pattern)
        shared = sorted(set(bound.df.columns) & rvars)
        if not shared or not set(shared) <= bound.certain:
            return ""
        rows = (
            bound.df.select(*shared)
            .distinct()
            .limit(SERVICE_BIND_JOIN_MAX + 1)
            .collect()
        )
        if not rows or len(rows) > SERVICE_BIND_JOIN_MAX:
            return ""
        out_rows = []
        for r in rows:
            toks = []
            for v in shared:
                t = r[v]
                if t is None or t["kind"] is None:
                    return ""  # certainty contract violated: bail out
                if t["kind"] == KIND_BNODE:
                    return ""  # bnodes can't ship (and can't dedup-join)
                toks.append(
                    nt_term(t["kind"], t["lex"], t["dt"], t["lang"], stored_label)
                )
            out_rows.append("(" + " ".join(toks) + ")")
        head = " ".join("?" + v for v in shared)
        return f"VALUES ({head}) {{ {' '.join(out_rows)} }}"

    def _service(
        self, node: A.ServicePattern, bound: Sol | None = None
    ) -> Sol:
        """SPARQL 1.1 Federated Query (beyond the reference): the inner
        group ships verbatim as ``SELECT *`` to the remote SPARQL-protocol
        endpoint; the results-JSON bindings land in a local DataFrame of
        term structs and join into the surrounding pattern like a VALUES
        table. The remote result set is driver-materialized by design —
        federation pulls a bounded remote answer, the local 100 TB side
        never moves. SILENT maps a transport/remote failure to the empty
        group (single all-unbound solution, spec §18.5). The call happens
        at plan-construction time, so the engine never caches plans that
        contain a SERVICE (saw_service)."""
        self.saw_service = True
        import json as _json
        import urllib.parse
        import urllib.request
        import uuid as _uuid

        prologue = "".join(
            f"PREFIX {p}: <{iri}>\n" for p, iri in node.prefixes.items()
        )
        if getattr(node, "base", ""):
            # re-declare the query-level BASE so relative IRIs inside the
            # shipped group resolve identically at the remote endpoint
            prologue = f"BASE <{node.base}>\n" + prologue
        group = node.group_text
        if bound is not None:
            bind = self._service_bind_clause(node, prologue, bound)
            if bind:
                group = "{ " + group + " " + bind + " }"
        q = f"{prologue}SELECT * WHERE {group}"
        params = urllib.parse.urlencode({"query": q, "output": "json"})
        sep = "&" if "?" in node.endpoint else "?"
        url = node.endpoint + sep + params
        # blank nodes in a SPARQL result set are scoped to that result set
        # (§18.5 / protocol): rewrite labels with a per-call unique prefix
        # so a remote bnode can never RID-unify with a local bnode (or one
        # from another SERVICE call) that happens to share its label
        bnode_ns = "svc-" + _uuid.uuid4().hex[:12] + "-"

        def term(b):
            if b is None:
                return None
            kind, lex = b.get("type"), b.get("value", "")
            if kind == "uri":
                return iri_row(lex)
            if kind == "bnode":
                return bnode_row(bnode_ns + lex)
            return term_row((lex, b.get("datatype"), b.get("xml:lang")))

        try:
            if len(url) > SERVICE_MAX_GET_URL:
                # long queries exceed endpoint URL limits: SPARQL protocol
                # §2.1.2 query-via-POST, application/x-www-form-urlencoded
                req = urllib.request.Request(
                    node.endpoint,
                    data=params.encode("ascii"),
                    headers={
                        "Accept": "application/sparql-results+json",
                        "Content-Type":
                            "application/x-www-form-urlencoded",
                    },
                    method="POST",
                )
            else:
                req = urllib.request.Request(
                    url,
                    headers={"Accept": "application/sparql-results+json"},
                )
            with urllib.request.urlopen(req, timeout=60) as resp:
                # the remote answer lands on the driver: cap its size so a
                # runaway endpoint cannot exhaust driver memory
                body = resp.read(SERVICE_MAX_BYTES + 1)
                if len(body) > SERVICE_MAX_BYTES:
                    raise RuntimeError(
                        f"SERVICE <{node.endpoint}> response exceeds "
                        f"{SERVICE_MAX_BYTES} bytes "
                        "(fourstore_spark.sparql.translator."
                        "SERVICE_MAX_BYTES)"
                    )
                doc = _json.loads(body.decode("utf-8"))
            nbind = len(doc.get("results", {}).get("bindings", []))
            if nbind > SERVICE_MAX_ROWS:
                raise RuntimeError(
                    f"SERVICE <{node.endpoint}> returned {nbind} rows, "
                    f"over the {SERVICE_MAX_ROWS}-row driver guard "
                    "(fourstore_spark.sparql.translator.SERVICE_MAX_ROWS)"
                )
            varnames = list(doc.get("head", {}).get("vars", []))
            # a term breaking the IRI or language-tag rule fails the call
            rows = [
                tuple(term(b.get(v)) for v in varnames)
                for b in doc.get("results", {}).get("bindings", [])
            ]
        except Exception:
            if node.silent:
                return self._unit()
            raise
        if not varnames:
            return self._unit()
        schema = ", ".join(f"`{v}` {TERM_DDL}" for v in varnames)
        df = self.spark.createDataFrame(rows, schema)
        certain = frozenset(
            v
            for i, v in enumerate(varnames)
            if rows and all(r[i] is not None for r in rows)
        )
        return Sol(df, certain)

    def _ctx(self, sol: Sol, agg_map: dict | None = None) -> ExprContext:
        ctx = ExprContext(agg_map=agg_map)
        ctx.columns = set(sol.df.columns)
        ctx.base = getattr(self, "query_base", "")
        return ctx

    # ------------------------------------------------------------- BGP
    def _has_dataset(self) -> bool:
        """True when the query carries a dataset description (FROM /
        FROM NAMED, or the protocol's default/named-graph-uri params):
        per SPARQL §13.2 the description then defines the RDF dataset
        EXACTLY — FROM alone means NO named graphs, FROM NAMED alone
        means an EMPTY default graph."""
        return bool(self.from_graphs or self.from_named)

    def _graph_scope(self, g: Column, graph) -> list[Column]:
        """The graph-scope rule: the conjuncts on graph column ``g`` that
        keep what a pattern sees in graph context ``graph`` (None,
        GRAPH <iri> or GRAPH ?g) of the query's dataset. Every quad,
        path and property-table scan scopes through it; [] sees every
        graph."""
        if graph is None:
            if self._has_dataset():
                return [g.isin(list(self.from_graphs or []))]
            if not self.union_default_graph:
                return [g == DEFAULT_GRAPH]
            return []
        if isinstance(graph, A.Iri):
            if self._has_dataset() and graph.value not in (
                self.from_named or []
            ):
                return [F.lit(False)]  # graph outside the dataset
            return [g == graph.value]
        # GRAPH ?g ranges over *named* graphs only per spec — 4store also
        # exposes <default:> as a matchable graph (its exemplars show
        # GRAPH ?G binding it); the HTTP parity surface opts in
        out = [] if self.graph_var_includes_default else [g != DEFAULT_GRAPH]
        if self._has_dataset():
            out.append(g.isin(list(self.from_named or [])))
        return out

    def _scoped_quads(self, graph) -> DataFrame:
        """The quads a pattern in graph context ``graph`` sees."""
        df = self.quads
        for c in self._graph_scope(F.col("g"), graph):
            df = df.where(c)
        return df

    def _pattern_df(self, tp: A.TriplePattern, graph) -> Sol:
        """One quad-pattern scan: fs_bind (src/backend/query-backend.c:155)
        as filter+project; constant slots push down to the parquet scan."""
        df = self._scoped_quads(graph)

        cond = []
        proj: dict[str, Column] = {}

        if isinstance(tp.s, A.Literal):
            raise ValueError("literal subject")
        slots = [("s", tp.s), ("p", tp.p), ("o", tp.o)]
        if isinstance(graph, A.Var):
            slots.append(("g", graph))  # graph variable binding
        for slot, term in slots:
            if isinstance(term, A.PathNeg):
                # negated property set (forward members only at this
                # level; _path_sol splits inverse members into a swapped
                # scan)
                if term.forward:
                    cond.append(
                        ~F.col("p").isin([i.value for i in term.forward])
                    )
                continue
            name = self._slot_name(term)
            if name is None:
                cond.append(term_eq(quad_term(slot), term_row(term)))
            elif name in proj:
                # repeated variable in one pattern (FS_BIND_SAME_*,
                # src/common/4s-datatypes.h:23-38)
                cond.append(proj[name] == quad_term(slot))
            else:
                proj[name] = quad_term(slot)

        for c in cond:
            df = df.where(c)
        if not proj:
            return Sol(df.limit(1).select(), frozenset())  # all-const pattern
        if self.soft_limit is not None:
            self.capped.append((df, self.soft_limit))
            df = df.limit(self.soft_limit)
        out = df.select(*[c.alias(n) for n, c in proj.items()])
        est = None
        vp = None
        if isinstance(tp.p, A.Iri):
            pred_stats = self.stats.pred_stats
            if tp.p.value in pred_stats:
                est = pred_stats[tp.p.value][0]  # quad count upper bound
            elif pred_stats:
                # stats cover every predicate in the store (write_store /
                # append_quads maintain them) — an absent predicate is a
                # provably-empty scan: est 0 short-circuits join planning
                # (broadcasts trivially, never anchors an SMJ)
                est = 0
            if isinstance(tp.o, A.Var):
                vp = {tp.o.name: tp.p.value}
        return Sol(out, frozenset(proj), est_rows=est, var_pred=vp)

    @staticmethod
    def _pattern_const_count(tp: A.TriplePattern) -> int:
        """Selectivity proxy mirroring the reference's greedy ladder
        (fs_optimise_triple_pattern, src/frontend/optimiser.c:226-347)."""
        score = 0
        for t in (tp.s, tp.p, tp.o):
            if not isinstance(t, (A.Var, A.BNode)):
                score += 1
        return score

    def _bgp(self, triples: list, graph) -> Sol:
        # property-path predicates (beyond the reference: 4store is
        # BGP-only) expand to their own solutions and join in like any
        # other connected piece
        path_triples = [
            tp for tp in triples if not isinstance(tp.p, (A.Var, A.Iri))
        ]
        triples = [tp for tp in triples if isinstance(tp.p, (A.Var, A.Iri))]
        if not triples and not path_triples:
            return self._unit()

        stars, rest = self._find_stars(triples, graph)
        sols = [self._star_scan(sname, pats, graph) for sname, pats in stars]

        def tp_vars(tp):
            return {
                self._slot_name(t) for t in (tp.s, tp.p, tp.o, graph)
            } - {None}

        if rest:
            remaining = sorted(
                rest, key=self._pattern_const_count, reverse=True
            )
            ordered = [remaining.pop(0)]
            bound = tp_vars(ordered[0])
            # greedily keep the join connected (avoid cross products), most
            # constants first
            while remaining:
                pick = None
                for tp in remaining:
                    if tp_vars(tp) & bound:
                        pick = tp
                        break
                if pick is None:
                    pick = remaining[0]
                remaining.remove(pick)
                ordered.append(pick)
                bound |= tp_vars(pick)
            sols.extend(self._pattern_df(tp, graph) for tp in ordered)

        sols.extend(
            self._path_sol(tp.s, tp.p, tp.o, graph) for tp in path_triples
        )

        # fold the per-star / per-pattern solutions, connected pieces first
        sol = sols[0]
        pending = sols[1:]
        while pending:
            have = set(sol.df.columns)
            pick = next(
                (s for s in pending if set(s.df.columns) & have), pending[0]
            )
            pending.remove(pick)
            sol = self._join(sol, pick, "inner")
        # bnodes are scoped to the BGP — drop their columns
        drop = [c for c in sol.df.columns if c.startswith("__bn_")]
        if drop:
            sol = Sol(
                sol.df.drop(*drop),
                sol.certain - set(drop),
                var_pred={
                    k: v
                    for k, v in (sol.var_pred or {}).items()
                    if k not in drop
                }
                or None,
            )
        return sol

    # ------------------------------------------------- property paths
    # SPARQL 1.1 property paths (spec §9 / §18.4) — BEYOND the reference:
    # 4store's Rasqal frontend is BGP-only. Spark-first mapping:
    # sequence -> join chain, alternative -> union, inverse -> endpoint
    # swap, negated set -> NOT-IN scan, * / + -> distributed semi-naive
    # transitive closure (the standard Datalog fixpoint: one RID equi-join
    # + one anti-join per iteration, frontier localCheckpoint'ed so the
    # plan stays O(1) per iteration and shuffles carry 8-byte RIDs).
    def _path_sol(self, s, path, o, graph) -> Sol:
        if isinstance(path, A.Iri):
            return self._pattern_df(A.TriplePattern(s, path, o), graph)
        if isinstance(path, A.PathInverse):
            return self._path_sol(o, path.inner, s, graph)
        if isinstance(path, A.PathSeq):
            mids = [A.Var(self._fresh("path")) for _ in path.steps[1:]]
            ends = [s, *mids, o]
            sol = self._path_sol(ends[0], path.steps[0], ends[1], graph)
            for i, step in enumerate(path.steps[1:], start=1):
                sol = self._join(
                    sol,
                    self._path_sol(ends[i], step, ends[i + 1], graph),
                    "inner",
                )
            drop = [v.name for v in mids]
            return Sol(sol.df.drop(*drop), sol.certain - set(drop))
        if isinstance(path, A.PathAlt):
            sols = [self._path_sol(s, alt, o, graph) for alt in path.alts]
            out = sols[0]
            for nxt in sols[1:]:
                out = self._union(out, nxt)
            return out
        if isinstance(path, A.PathNeg):
            sols = []
            if path.forward or not path.inverse:
                sols.append(
                    self._pattern_df(
                        A.TriplePattern(s, A.PathNeg(path.forward, ()), o),
                        graph,
                    )
                )
            if path.inverse and not isinstance(o, A.Literal):
                # (a literal can never be a triple subject, so an
                # inverse component with a literal object end is empty)
                sols.append(
                    self._pattern_df(
                        A.TriplePattern(o, A.PathNeg(path.inverse, ()), s),
                        graph,
                    )
                )
            if not sols:
                names = [
                    self._slot_name(t)
                    for t in (s, o)
                    if isinstance(t, (A.Var, A.BNode))
                ]
                empty = self.spark.range(0).select(
                    *[
                        F.lit(None).cast(TERM_DDL).alias(n)
                        for n in names
                    ]
                )
                return Sol(empty, frozenset())
            out = sols[0]
            for nxt in sols[1:]:
                out = self._union(out, nxt)
            return out
        if isinstance(path, A.PathMod):
            return self._path_mod_sol(s, path, o, graph)
        raise TypeError(f"cannot translate path {path!r}")

    def _path_mod_sol(self, s, path: A.PathMod, o, graph) -> Sol:
        pa, pb = self._fresh("pa"), self._fresh("pb")
        step_sol = self._path_sol(A.Var(pa), path.inner, A.Var(pb), graph)
        ctx = [graph.name] if isinstance(graph, A.Var) else []
        step = step_sol.df.select(pa, pb, *ctx).distinct()
        s_const = not isinstance(s, (A.Var, A.BNode))
        o_const = not isinstance(o, (A.Var, A.BNode))
        if path.mod == "?":
            pairs = step
        elif s_const:
            # BFS seeded at the bound endpoint — at scale this explores
            # the reachable cone, not the whole graph's closure
            pairs = self._transitive_closure(
                step, pa, pb, ctx, seed=term_eq(F.col(pa), term_row(s))
            )
        elif o_const:
            # bound object: traverse the reversed edges from o, swap back
            rev = step.select(
                F.col(pb).alias(pa), F.col(pa).alias(pb), *ctx
            )
            pairs = self._transitive_closure(
                rev, pa, pb, ctx, seed=term_eq(F.col(pa), term_row(o))
            ).select(F.col(pb).alias(pa), F.col(pa).alias(pb), *ctx)
        else:
            pairs = self._transitive_closure(step, pa, pb, ctx)
        if path.mod in ("?", "*"):
            zero = self._zero_pairs(s, o, pa, pb, ctx, graph)
            pairs = pairs.unionByName(zero).distinct()
        return self._bind_endpoints(pairs, pa, pb, ctx, s, o)

    def _transitive_closure(
        self,
        step: DataFrame,
        pa: str,
        pb: str,
        ctx: list,
        seed: Column | None = None,
        max_iters: int = 256,
    ) -> DataFrame:
        """Distinct pairs connected by 1..n steps: semi-naive fixpoint.

        Each iteration: frontier ⋈ step on the 8-byte term RID (+ graph
        context for GRAPH ?g scoping), minus already-seen pairs
        (anti-join), localCheckpoint to truncate lineage and materialize
        the frontier. The driver loop is inherent to a fixpoint — the one
        place the engine runs jobs at plan time. Iterations equal the
        longest shortest reachable path; ``seed`` starts the BFS from a
        bound endpoint so a 100 TB graph explores one cone instead of the
        global closure."""
        # Constraint propagation is disabled for the loop's jobs: the
        # self-referencing checkpoint/union plans trip Catalyst's cached
        # constraint rewrite ("key not found" in Union.rewriteConstraints
        # — LogicalRDD preserves its origin plan's constraints, whose
        # attribute ids a later DeduplicateRelations rewrites away). With
        # propagation off, checkpointed leaves carry no constraints, and
        # the final checkpoint below returns a flat leaf so downstream
        # optimization never revisits the loop's unions.
        conf_key = "spark.sql.constraintPropagation.enabled"
        _CLOSURE_LOCK.acquire()
        saved = self.spark.conf.get(conf_key)
        self.spark.conf.set(conf_key, "false")
        try:
            step = step.localCheckpoint(eager=True)
            frontier = (
                step.where(seed).localCheckpoint(eager=True)
                if seed is not None
                else step
            )
            acc = frontier
            for _ in range(max_iters):
                f, e = frontier.alias("f"), step.alias("e")
                cond = term_rid(F.col(f"f.{pb}")) == term_rid(
                    F.col(f"e.{pa}")
                )
                for c in ctx:
                    cond = cond & (
                        term_rid(F.col(f"f.{c}")) == term_rid(F.col(f"e.{c}"))
                    )
                nxt = (
                    f.join(e, cond)
                    .select(
                        F.col(f"f.{pa}").alias(pa),
                        F.col(f"e.{pb}").alias(pb),
                        *[F.col(f"f.{c}").alias(c) for c in ctx],
                    )
                    .distinct()
                )
                n, a = nxt.alias("n"), acc.alias("a")
                anti = None
                for c in (pa, pb, *ctx):
                    eq = term_rid(F.col(f"n.{c}")) == term_rid(
                        F.col(f"a.{c}")
                    )
                    anti = eq if anti is None else anti & eq
                nxt = n.join(a, anti, "left_anti").localCheckpoint(eager=True)
                if nxt.isEmpty():
                    return acc.localCheckpoint(eager=True)
                acc = acc.unionByName(nxt).localCheckpoint(eager=True)
                frontier = nxt
            raise RuntimeError(
                f"property-path closure did not converge in {max_iters} steps"
            )
        finally:
            self.spark.conf.set(conf_key, saved)
            _CLOSURE_LOCK.release()

    def _zero_pairs(
        self, s, o, pa: str, pb: str, ctx: list, graph
    ) -> DataFrame:
        """Zero-length path component (spec 18.4 ZeroLengthPath): both
        endpoints unbound -> every node of the scoped graph reaches
        itself; a constant endpoint reaches itself unconditionally (even
        off-graph, per spec); two constants match iff sameTerm."""
        s_const = not isinstance(s, (A.Var, A.BNode))
        o_const = not isinstance(o, (A.Var, A.BNode))
        if s_const or o_const:
            term = s if s_const else o
            node = const_term_col(term_row(term))
            if ctx:
                # one zero-length row per named graph in scope
                g = self._scoped_quads(graph).select(
                    quad_term("g").alias(ctx[0])
                ).distinct()
                out = g.select(node.alias(pa), node.alias(pb), ctx[0])
            else:
                out = self.spark.range(1).select(
                    node.alias(pa), node.alias(pb)
                )
            if s_const and o_const and term_row(s) != term_row(o):
                out = out.where(F.lit(False))
            return out
        nodes = self._graph_nodes(graph, ctx)
        return nodes.select(
            F.col("__node").alias(pa), F.col("__node").alias(pb), *ctx
        )

    def _graph_nodes(self, graph, ctx: list) -> DataFrame:
        """Distinct RDF nodes (subjects ∪ objects) of the scoped graph,
        as a __node term-struct column (+ the graph variable column when
        inside GRAPH ?g)."""
        df = self._scoped_quads(graph)
        g_cols = [quad_term("g").alias(ctx[0])] if ctx else []
        subs = df.select(quad_term("s").alias("__node"), *g_cols)
        objs = df.select(quad_term("o").alias("__node"), *g_cols)
        return subs.unionByName(objs).distinct()

    def _bind_endpoints(
        self, pairs: DataFrame, pa: str, pb: str, ctx: list, s, o
    ) -> Sol:
        """Attach the path's endpoint terms to the (start, end) pair
        columns: variables rename, constants filter, a repeated variable
        adds a sameTerm (RID) equality."""
        df = pairs
        out_names: dict[str, str] = {}
        for col, term in ((pa, s), (pb, o)):
            if isinstance(term, (A.Var, A.BNode)):
                name = self._slot_name(term)
                bound = [c for c, n in out_names.items() if n == name]
                if bound:
                    df = df.where(
                        term_rid(F.col(col)) == term_rid(F.col(bound[0]))
                    )
                elif name in ctx:
                    # endpoint var already bound by the enclosing context
                    # (e.g. GRAPH ?g { ?g <p>+ ?y }): RID-equality filter
                    # against the ctx column instead of emitting a second
                    # column with the same name (AMBIGUOUS_REFERENCE)
                    df = df.where(
                        term_rid(F.col(col)) == term_rid(F.col(name))
                    )
                else:
                    out_names[col] = name
            else:
                df = df.where(term_eq(F.col(col), term_row(term)))
        sel = [F.col(c).alias(n) for c, n in out_names.items()] + [
            F.col(c) for c in ctx
        ]
        if not sel:
            return Sol(df.limit(1).select(), frozenset())
        return Sol(
            df.select(*sel), frozenset(list(out_names.values()) + ctx)
        )

    # ------------------------------------------------- subject-star scan
    @staticmethod
    def _slot_name(t):
        if isinstance(t, A.Var):
            return t.name
        if isinstance(t, A.BNode):
            return "__bn_" + t.label
        return None

    def _find_stars(self, triples: list, graph):
        """Partition a BGP into subject-star groups (>=2 patterns sharing a
        variable subject, constant predicate) and leftover patterns.

        The reference executes these groups with one fs_reverse_bind
        scatter (src/backend/query-backend.c:601-749, detection
        src/frontend/optimiser.c:363-384); here each group becomes a single
        groupBy(subject) aggregation — one shuffle instead of k-1 self-join
        shuffles of the quads table."""
        gname = graph.name if isinstance(graph, A.Var) else None
        groups: dict[str, list] = {}
        rest: list = []
        for tp in triples:
            sname = self._slot_name(tp.s)
            ok = sname is not None and isinstance(tp.p, A.Iri)
            oname = None
            if ok and isinstance(tp.o, (A.Var, A.BNode)):
                oname = self._slot_name(tp.o)
                if oname == sname or oname == gname:
                    ok = False
            if ok and sname == gname:
                ok = False
            if not ok:
                rest.append(tp)
                continue
            groups.setdefault(sname, []).append((tp, oname))
        stars = []
        for sname, plist in groups.items():
            seen: set = set()
            keep = []
            for tp, oname in plist:
                if oname is not None and oname in seen:
                    rest.append(tp)  # same object var twice -> join path
                    continue
                if oname is not None:
                    seen.add(oname)
                keep.append((tp, oname))
            if len(keep) >= 2:
                stars.append((sname, keep))
            else:
                rest.extend(tp for tp, _ in keep)
        return stars, rest

    def _star_scan(self, sname: str, patterns: list, graph) -> Sol:
        """One subject-star as a single grouped scan: filter the quads to
        the star's predicates, group by subject, collect per-predicate
        value lists, then explode them back (per-subject cross product —
        the exact BGP bag semantics over set-semantics quads, which the
        store guarantees by deduplicating at import like the reference's
        import-backend.c:74-118)."""
        if (
            self.stats.subjects is not None
            and self.stats.pred_columns is not None
            and not isinstance(graph, A.Var)
            and self.soft_limit is None
            and all(tp.p.value in self.stats.pred_columns for tp, _ in patterns)
        ):
            return self._star_scan_pt(sname, patterns, graph)
        df = self._scoped_quads(graph)

        df = df.where(F.col("p").isin([tp.p.value for tp, _ in patterns]))
        o_term = quad_term("o")
        # all intermediate columns use internal __-prefixed names and only
        # alias to the SPARQL variable in the final projection: a variable
        # named ?s / ?s_kind / ?g would otherwise clobber the groupBy key
        # columns the subject struct is built from
        aggs = []
        requires = []
        explodes = []
        ovars: list[tuple[str, str]] = []  # (internal col, variable name)
        for i, (tp, oname) in enumerate(patterns):
            m = F.col("p") == tp.p.value
            if oname is None:  # constant object: existence constraint
                m = m & term_eq(o_term, term_row(tp.o))
                name = f"__c{i}"
                aggs.append(F.max(F.when(m, 1)).alias(name))
                requires.append(name)
            elif tp.p.value in self.stats.single_valued_preds:
                # store stats say fan-out <= 1: a codegen-friendly first()
                # replaces collect_list+explode (HashAggregate instead of
                # ObjectHashAggregate, no Generate node)
                name = f"__f{i}"
                aggs.append(F.first(F.when(m, o_term), ignorenulls=True).alias(name))
                requires.append(name)
                ovars.append((name, oname))
            else:
                name = f"__v{i}"
                aggs.append(F.collect_list(F.when(m, o_term)).alias(name))
                explodes.append((name, f"__e{i}"))
                ovars.append((f"__e{i}", oname))

        keys = ["s", "s_kind"] + (["g"] if isinstance(graph, A.Var) else [])
        if self.soft_limit is not None:
            cap = self.soft_limit * max(1, len(patterns))
            self.capped.append((df, cap))
            df = df.limit(cap)
        out = df.groupBy(*keys).agg(*aggs)
        for name in requires:
            out = out.where(F.col(name).isNotNull())
        for name, ename in explodes:
            # explode drops subjects lacking the predicate — inner semantics
            out = out.withColumn(ename, F.explode(F.col(name)))

        proj = [quad_term("s").alias(sname)]
        names = [sname]
        if isinstance(graph, A.Var):
            proj.append(quad_term("g").alias(graph.name))
            names.append(graph.name)
        for col, oname in ovars:
            proj.append(F.col(col).alias(oname))
            names.append(oname)
        return Sol(
            out.select(*proj),
            frozenset(names),
            est_rows=self._star_est(patterns),
            var_pred={
                o: tp.p.value for tp, o in patterns if o is not None
            },
        )

    def _star_scan_pt(self, sname: str, patterns: list, graph) -> Sol:
        """Subject star over the wide property table: ZERO query-time
        shuffle — per-predicate parquet COLUMNS (pruned: only the star's
        predicates are decoded) + array filters per subject row, arrays
        exploded back (or element_at for store-stat functional
        predicates)."""
        df = self.stats.subjects

        def scope_of(x: Column) -> list[Column]:
            # the graph-scope conjuncts on a stored (g, o) value
            return self._graph_scope(x["g"], graph)

        from pyspark.sql.types import ArrayType

        col_type = {f.name: f.dataType for f in df.schema.fields}

        # as in _star_scan: object terms land in internal __-prefixed
        # columns and only alias to the variable name at the end — a
        # variable named ?s / ?s_kind (or matching a property-table column)
        # must not clobber the columns later patterns and the subject
        # struct read
        explodes: list[tuple[str, str]] = []
        ovars: list[tuple[str, str]] = []  # (internal col, variable name)
        for i, (tp, oname) in enumerate(patterns):
            cname = self.stats.pred_columns[tp.p.value]
            if not isinstance(col_type[cname], ArrayType):
                # store-v4 flat struct column (single-valued predicate):
                # ONE (g, o) struct, so graph scoping is a plain
                # condition, not an array filter.
                # Null-check the KIND LEAF, not the struct: a struct-level
                # isNotNull references the whole struct and defeats
                # Catalyst's nested-schema pruning, making the parquet
                # scan decode all 6 leaves (incl. the graph string) for
                # every predicate — measured 3x slower on the TPC-H Q1
                # star at sf0.1, and ~6x the bytes at 100 TB. kind is
                # non-null exactly when the struct is present (write_store
                # always populates it).
                v = F.col(cname)
                keep = reduce(
                    operator.and_, scope_of(v), v["kind"].isNotNull()
                )
                if oname is None:  # constant-object existence constraint
                    df = df.where(keep & term_eq(v, term_row(tp.o)))
                    continue
                df = df.where(keep)
                df = df.withColumn(f"__o{i}", term_of(v))
                ovars.append((f"__o{i}", oname))
                continue
            vals = F.col(cname)
            if scope_of(vals):
                # (an unscoped star reads the column as stored)
                vals = F.filter(
                    vals, lambda x: reduce(operator.and_, scope_of(x))
                )
            if oname is None:
                row = term_row(tp.o)
                df = df.where(
                    vals.isNotNull() & F.exists(vals, lambda x: term_eq(x, row))
                )
                continue
            df = df.where(vals.isNotNull() & (F.size(vals) > 0))
            if tp.p.value in self.stats.single_valued_preds:
                df = df.withColumn(f"__o{i}", term_of(F.element_at(vals, 1)))
            else:
                name = f"__pv{i}"
                df = df.withColumn(name, vals)
                explodes.append((name, f"__o{i}"))
            ovars.append((f"__o{i}", oname))
        for name, ocol in explodes:
            # explode to a temp column first: field extraction can't apply
            # directly to a generator expression
            df = df.withColumn(name + "e", F.explode(F.col(name)))
            df = df.withColumn(ocol, term_of(F.col(name + "e")))

        proj = [quad_term("s").alias(sname)]
        names = [sname]
        for col, oname in ovars:
            proj.append(F.col(col).alias(oname))
            names.append(oname)
        return Sol(
            df.select(*proj),
            frozenset(names),
            est_rows=self._star_est(patterns),
            var_pred={
                o: tp.p.value for tp, o in patterns if o is not None
            },
        )

    def _star_est(self, patterns: list) -> int | None:
        """Star-scan cardinality upper bound: subjects having ALL the
        star's predicates <= min per-predicate distinct-subject count.
        Multi-valued predicates can explode rows beyond the subject count,
        so only functional (single-valued) stars get an estimate."""
        pred_stats = self.stats.pred_stats
        if not pred_stats:
            return None
        est = None
        for tp, oname in patterns:
            stats = pred_stats.get(tp.p.value)
            if stats is None:
                return 0  # absent predicate: the star matches nothing
            if (
                oname is not None
                and tp.p.value not in self.stats.single_valued_preds
            ):
                return None
            est = stats[1] if est is None else min(est, stats[1])
        return est

    # ------------------------------------------------------------ joins
    @staticmethod
    def _powerset(xs: list) -> list:
        out: list = [[]]
        for x in xs:
            out = out + [s + [x] for s in out]
        return out

    def _join(self, left: Sol, right: Sol, how: str, expr=None) -> Sol:
        """Compatible-mapping join (fs_binding_join,
        src/frontend/query-datatypes.c:919-1118). Certain/certain shared
        vars are plain equi-keys. Maybe-unbound shared vars (the
        reference's NULL-is-wildcard binding_row_compare,
        query-datatypes.c:476) are handled by *decomposing* the join into
        a union of equi-joins over bound/unbound row partitions — an OR
        condition (l IS NULL OR r IS NULL OR l=r) would force Catalyst
        into a BroadcastNestedLoopJoin, which dies at scale; every branch
        here stays a shuffle-able hash/SMJ join."""
        lcols, rcols = set(left.df.columns), set(right.df.columns)
        if not lcols and how == "inner" and expr is None:
            return right
        certain = (
            left.certain | right.certain if how == "inner" else left.certain
        )
        # merge provenance; a var claimed by both sides with different
        # predicates loses its entry (values could come from either)
        vp: dict | None = None
        if left.var_pred or right.var_pred:
            vp = dict(left.var_pred or {})
            for k, v in (right.var_pred or {}).items():
                if k in vp:
                    if vp[k] != v:
                        vp.pop(k)
                else:
                    vp[k] = v
        return Sol(
            self._compat_join(left, right, how, expr=expr),
            frozenset(certain),
            var_pred=vp,
        )

    def _compat_join(
        self,
        left: Sol,
        right: Sol,
        how: str,
        expr=None,
        require_overlap: bool = False,
    ) -> DataFrame:
        """how: 'inner' | 'left' | 'semi' | 'anti'.

        require_overlap (MINUS): a right row only counts when it shares at
        least one *bound* variable with the left row."""
        lcols, rcols = set(left.df.columns), set(right.df.columns)
        shared = sorted(lcols & rcols)
        maybe_l = [c for c in shared if c not in left.certain]
        maybe_r = [c for c in shared if c not in right.certain]

        ldf = left.df
        rdf = right.df
        # manifest-statistics broadcast hints: a side whose leaf estimate
        # is small gets F.broadcast() regardless of Spark's size guess
        # (post-filter estimates on a huge quads table exceed any
        # autoBroadcastJoinThreshold at scale, silently degrading every
        # dimension join to a shuffle). Only the build-able side of outer/
        # semi/anti joins is eligible.
        l_est, r_est = left.est_rows, right.est_rows
        r_small = r_est is not None and r_est <= BROADCAST_ROWS
        l_small = l_est is not None and l_est <= BROADCAST_ROWS
        if r_small and not (how == "inner" and l_small and l_est < r_est):
            rdf = F.broadcast(rdf)
        elif l_small and how == "inner":
            ldf = F.broadcast(ldf)
        elif (r_est is not None and r_est > BROADCAST_ROWS) or (
            l_est is not None and l_est > BROADCAST_ROWS
        ):
            # the inverse guard: no side is provably small, and at least
            # one is provably BIG. Spark's planner compares the build
            # side's compressed FILE size against autoBroadcastJoinThreshold
            # — a few-column property-table scan of millions of struct
            # rows can slip under it, and the resulting broadcast (driver
            # collects + every task builds a multi-GB hashed relation) is
            # the one plan shape that collapses at scale (measured: q3 at
            # sf1 went 4.3s -> 31s when the 6M-row lineitem side dipped
            # under the 64m threshold). Force the scale-safe sort-merge
            # join; estimated-small sides above keep their broadcasts.
            rdf = rdf.hint("merge")
        ren = {c: self._fresh("r") for c in shared}
        for c, n in ren.items():
            rdf = rdf.withColumnRenamed(c, n)
        right_out = [ren.get(c, c) for c in right.df.columns]

        def branch_cond(lb, rb, keys):
            # equi-keys compare 64-bit RIDs, not term structs (term_rid):
            # the exchange partitions on a long and SMJ sorts longs
            conds = [term_rid(lb[c]) == term_rid(rb[ren[c]]) for c in keys]
            if expr is not None:
                merged = {c: F.coalesce(lb[c], rb[ren[c]]) for c in shared}
                ctx = ExprContext(
                    resolve_var=lambda v: merged.get(
                        v,
                        lb[v]
                        if v in lcols
                        else (rb[v] if v in rcols else null_term()),
                    )
                )
                ctx.base = getattr(self, "query_base", "")
                conds.append(compile_bool(expr, ctx))
            if not conds:
                return F.lit(True)
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out

        if not maybe_l and not maybe_r:
            # every shared var certainly bound on both sides: one plain
            # equi-join, directly in the requested join mode
            cond = branch_cond(ldf, rdf, shared)
            if how == "inner":
                return self._merge_select(
                    ldf.join(rdf, cond, "inner"), left, right, ren
                )
            if how == "semi":
                return ldf.join(rdf, cond, "left_semi")
            if how == "anti":
                return ldf.join(rdf, cond, "left_anti")
            return self._merge_select(
                ldf.join(rdf, cond, "left_outer"), left, right, ren
            )

        if len(maybe_l) + len(maybe_r) <= 3:
            branches = []
            for null_l in self._powerset(maybe_l):
                lb = ldf
                for v in maybe_l:
                    lb = lb.where(
                        ldf[v].isNull() if v in null_l else ldf[v].isNotNull()
                    )
                for null_r in self._powerset(maybe_r):
                    if require_overlap and all(
                        (v in null_l) or (v in null_r) for v in shared
                    ):
                        continue  # no shared bound var: not a MINUS match
                    rb = rdf
                    for v in maybe_r:
                        rb = rb.where(
                            rdf[ren[v]].isNull()
                            if v in null_r
                            else rdf[ren[v]].isNotNull()
                        )
                    keys = [
                        c for c in shared if c not in null_l and c not in null_r
                    ]
                    branches.append(lb.join(rb, branch_cond(lb, rb, keys), "inner"))
            matched = branches[0]
            for b in branches[1:]:
                matched = matched.unionByName(b)
        else:
            # >3 maybe-unbound shared vars: 2^k branches would explode —
            # accept the nested-loop fallback for this (rare) shape
            conds = []
            for c in shared:
                lc, rc = ldf[c], rdf[ren[c]]
                if c not in maybe_l and c not in maybe_r:
                    conds.append(lc == rc)
                else:
                    conds.append(lc.isNull() | rc.isNull() | (lc == rc))
            if require_overlap and shared:
                ov = F.lit(False)
                for c in shared:
                    ov = ov | (ldf[c].isNotNull() & rdf[ren[c]].isNotNull())
                conds.append(ov)
            cond = branch_cond(ldf, rdf, []) if expr is not None else F.lit(True)
            for c in conds:
                cond = cond & c
            matched = ldf.join(rdf, cond, "inner")

        if how == "inner":
            return self._merge_select(matched, left, right, ren)
        # matched left keys, null-safe on the full left row (duplicate left
        # rows are interchangeable, so content identity is row identity)
        keyed = matched.select(*left.df.columns).distinct()
        kren = {c: self._fresh("k") for c in left.df.columns}
        for c, n in kren.items():
            keyed = keyed.withColumnRenamed(c, n)
        kcond = F.lit(True)
        for c in left.df.columns:
            kcond = kcond & ldf[c].eqNullSafe(keyed[kren[c]])
        if how == "semi":
            return ldf.join(keyed, kcond, "left_semi")
        if how == "anti":
            return ldf.join(keyed, kcond, "left_anti")
        # left outer: matched ∪ (unmatched left, null-padded)
        unmatched = ldf.join(keyed, kcond, "left_anti")
        for c in right.df.columns:
            unmatched = unmatched.withColumn(
                ren.get(c, c), F.lit(None).cast(TERM_DDL)
            )
        both = matched.unionByName(unmatched.select(*matched.columns))
        return self._merge_select(both, left, right, ren)

    @staticmethod
    def _merge_select(joined: DataFrame, left: Sol, right: Sol, ren) -> DataFrame:
        lcols = set(left.df.columns)
        sel = []
        for c in left.df.columns:
            if c in ren:
                sel.append(F.coalesce(joined[c], joined[ren[c]]).alias(c))
            else:
                sel.append(joined[c])
        for c in right.df.columns:
            if c not in ren and c not in lcols:
                sel.append(joined[c])
        return joined.select(*sel)

    def _union(self, left: Sol, right: Sol) -> Sol:
        # fs_binding_union (src/frontend/query-datatypes.c:646-665):
        # missing columns null-padded
        df = left.df.unionByName(right.df, allowMissingColumns=True)
        certain = frozenset(left.certain & right.certain)
        # provenance survives only where BOTH branches agree (a var bound
        # from different predicates per branch loses its entry)
        vp = None
        if left.var_pred and right.var_pred:
            vp = {
                k: v
                for k, v in left.var_pred.items()
                if right.var_pred.get(k) == v
            } or None
        return Sol(df, certain, var_pred=vp)

    def _minus(self, left: Sol, right: Sol) -> Sol:
        """SPARQL MINUS (fs_binding_minus, query-datatypes.c:1120):
        remove left rows having a compatible right row with overlapping
        domain; disjoint domains keep everything."""
        shared = sorted(set(left.df.columns) & set(right.df.columns))
        if not shared:
            return left
        return Sol(
            self._compat_join(left, right, "anti", require_overlap=True),
            left.certain,
            var_pred=left.var_pred,
        )

    def _filter(self, node: A.Filter, graph) -> Sol:
        base = self.translate(node.pattern, graph)
        # split top-level AND into EXISTS parts (semi/anti joins) and
        # ordinary predicates
        parts = node.expr.args if isinstance(node.expr, A.EAnd) else [node.expr]
        plain = []
        for p in parts:
            # !(EXISTS{..}) in unary form is the same anti-join
            if isinstance(p, A.EUnary) and p.op == "!" and isinstance(
                p.arg, A.EExists
            ):
                p = A.EExists(p.arg.pattern, negated=not p.arg.negated)
            if isinstance(p, A.EExists):
                base = self._exists(base, p, graph)
            else:
                plain.append(p)
        if plain:
            e = plain[0] if len(plain) == 1 else A.EAnd(plain)
            markers: list[str] = []
            if _expr_contains_exists(e):
                # EXISTS under ||, IF, etc. (not a bare conjunct):
                # materialize as boolean marker columns, then filter
                base, e, markers = self._materialize_exists(base, e, graph)
            ctx = self._ctx(base)
            # a filter only removes rows: the leaf estimate stays an
            # upper bound, so broadcast eligibility survives (and so does
            # scan provenance, var_pred)
            out = base.df.where(compile_bool(e, ctx))
            if markers:
                out = out.drop(*markers)
            base = Sol(out, base.certain, base.est_rows, base.var_pred)
        return base

    def _exists(self, base: Sol, e: A.EExists, graph) -> Sol:
        # Spec 8.3.2 substitute semantics: FILTERs inside the EXISTS group
        # must see the *outer* row's bindings. Peel top-level FILTER
        # conjuncts off the inner pattern and evaluate them as part of the
        # semi/anti-join condition (where both sides' columns are in
        # scope); conjuncts that themselves contain EXISTS stay inside the
        # translated pattern (they recurse through _filter as before).
        pat = e.pattern
        corr: list = []
        while isinstance(pat, A.Filter):
            parts = (
                pat.expr.args if isinstance(pat.expr, A.EAnd) else [pat.expr]
            )
            keep = [p for p in parts if _expr_contains_exists(p)]
            corr += [p for p in parts if not _expr_contains_exists(p)]
            if keep:
                pat = A.Filter(
                    keep[0] if len(keep) == 1 else A.EAnd(keep), pat.pattern
                )
                break
            pat = pat.pattern
        inner = self.translate(pat, graph)
        expr = None
        if corr:
            expr = corr[0] if len(corr) == 1 else A.EAnd(corr)
        shared = sorted(set(base.df.columns) & set(inner.df.columns))
        if not shared and expr is None:
            # EXISTS {} with no correlation: keep all iff inner nonempty.
            # Stays lazy — a 1-row probe joined cross-wise, instead of a
            # blocking .count() at plan time.
            probe = inner.df.limit(1).select(F.lit(1).alias(self._fresh("ex")))
            how0 = "left_anti" if e.negated else "left_semi"
            return Sol(
                base.df.join(probe, F.lit(True), how0),
                base.certain,
                var_pred=base.var_pred,
            )
        how = "anti" if e.negated else "semi"
        return Sol(
            self._compat_join(base, inner, how, expr=expr),
            base.certain,
            var_pred=base.var_pred,
        )

    def _leftjoin_exists(
        self, left: Sol, right: Sol, expr, graph
    ) -> Sol:
        """LeftJoin whose condition contains EXISTS/NOT EXISTS (a FILTER
        EXISTS written inside an OPTIONAL group). EXISTS can't compile to
        a join-ON Column, so evaluate by decomposition:

          matched   = Join(left+rowid, right, plain-conjuncts)
                      then the EXISTS conjuncts as semi/anti joins
          unmatched = left rows whose rowid never survived
          result    = matched UNION unmatched-padded-with-nulls

        The rowid makes the subtraction duplicate-safe; localCheckpoint
        pins the nondeterministic ids so both branches see one assignment."""
        rowid = self._fresh("ljid")
        ldf = left.df.withColumn(
            rowid, F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        lsol = Sol(ldf, left.certain)
        parts = expr.args if isinstance(expr, A.EAnd) else [expr]
        plain = [p for p in parts if not _expr_contains_exists(p)]
        exist_parts = [p for p in parts if _expr_contains_exists(p)]
        j = self._join(
            lsol,
            right,
            "inner",
            expr=(
                None
                if not plain
                else plain[0] if len(plain) == 1 else A.EAnd(plain)
            ),
        )
        for p in exist_parts:
            if isinstance(p, A.EUnary) and p.op == "!" and isinstance(
                p.arg, A.EExists
            ):
                p = A.EExists(p.arg.pattern, negated=not p.arg.negated)
            if not isinstance(p, A.EExists):
                # EXISTS below a non-conjunct operator: marker columns
                j, p2, marks = self._materialize_exists(j, p, graph)
                j = Sol(
                    j.df.where(compile_bool(p2, self._ctx(j))).drop(*marks),
                    j.certain,
                )
                continue
            j = self._exists(j, p, graph)
        matched = j.df
        unmatched = ldf.join(
            matched.select(rowid), on=rowid, how="left_anti"
        )
        for c in matched.columns:
            if c not in unmatched.columns:
                unmatched = unmatched.withColumn(c, null_term())
        out = matched.unionByName(unmatched.select(*matched.columns)).drop(
            rowid
        )
        return Sol(out, left.certain)

    def _materialize_exists(self, base: Sol, expr, graph):
        """EXISTS in VALUE position (BIND(EXISTS{..} AS ?x), EXISTS under
        || / IF / COALESCE): evaluate each EXISTS group as a boolean
        marker column by partitioning the solution with the same semi/anti
        joins a FILTER-conjunct EXISTS uses — the true side UNION the
        false side puts every input row on exactly one side with
        duplicates preserved — then substitute a fresh variable for the
        EExists node. Returns (new base, rewritten expr, marker columns
        for the caller to drop once consumed)."""
        markers: list[str] = []

        def walk(e):
            nonlocal base
            if isinstance(e, A.EExists):
                name = self._fresh("exv")
                pos = self._exists(
                    base, A.EExists(e.pattern, False), graph
                ).df
                neg = self._exists(
                    base, A.EExists(e.pattern, True), graph
                ).df
                tv, fv = (False, True) if e.negated else (True, False)
                base = Sol(
                    pos.withColumn(name, make_bool(F.lit(tv))).unionByName(
                        neg.withColumn(name, make_bool(F.lit(fv)))
                    ),
                    base.certain,
                )
                markers.append(name)
                return A.EVar(name)
            if isinstance(e, (A.EAnd, A.EOr)):
                return type(e)([walk(a) for a in e.args])
            if isinstance(e, A.EUnary):
                return A.EUnary(e.op, walk(e.arg))
            if isinstance(e, (A.ECompare, A.EArith)):
                return type(e)(e.op, walk(e.left), walk(e.right))
            if isinstance(e, A.EIn):
                return A.EIn(
                    walk(e.expr), [walk(o) for o in e.options], e.negated
                )
            if isinstance(e, A.ECall):
                return A.ECall(e.name, [walk(a) for a in e.args])
            return e

        # walk() rebinds `base` via nonlocal — run it BEFORE building the
        # return tuple (tuple elements evaluate left-to-right)
        new_expr = walk(expr)
        return base, new_expr, markers

    def _values(self, v: A.ValuesTable) -> Sol:
        rows = []
        for row in v.rows:
            rows.append(tuple(None if t is None else term_row(t) for t in row))
        ddl = ", ".join(f"`{name}` {TERM_DDL}" for name in v.variables)
        df = self.spark.createDataFrame(rows, ddl)
        certain = frozenset(
            v.variables[i]
            for i in range(len(v.variables))
            if all(r[i] is not None for r in v.rows)
        )
        return Sol(df, certain)

    # --------------------------------------------------------- SELECT
    def _select(self, q: A.Query, sol: Sol) -> DataFrame:
        df = sol.df
        proj = q.projection

        aggs = self._collect_aggregates(q)
        grouped = bool(q.group_by) or bool(aggs)

        if grouped:
            df, agg_map, group_names = self._aggregate(q, sol, aggs)
            ctx = ExprContext(agg_map=agg_map)
            ctx.base = getattr(self, "query_base", "")
            ctx.columns = set(df.columns) | set(agg_map)
        else:
            agg_map = {}
            ctx = self._ctx(Sol(df, sol.certain))

        # HAVING (src/frontend/results.c:2681-2704)
        alias_map = {
            item[2]: item[1]
            for item in proj
            if item[0] == "expr" and item[2] not in df.columns
        }
        for h in q.having:
            if alias_map:
                h = _subst_alias_vars(h, alias_map)
            df = df.where(compile_bool(h, ctx))
            ctx.columns = set(df.columns) | set(agg_map)

        # SELECT expressions (query.c:551-562). Projection validation
        # (spec 18.2.4.4): an (expr AS ?v) alias must not name a var
        # already in scope from the WHERE pattern, nor repeat an earlier
        # projection name — both are query errors (it MAY be referenced
        # by LATER select expressions, which is why the withColumn chain
        # below feeds ctx incrementally)
        from fourstore_spark.sparql.parser import SparqlSyntaxError

        seen_names: set[str] = set()
        pattern_vars = set(sol.df.columns)
        for item in proj:
            name = item[1] if item[0] == "var" else item[2]
            if name in seen_names:
                raise SparqlSyntaxError(
                    f"SELECT: duplicate projection of ?{name}"
                )
            seen_names.add(name)
            if item[0] == "expr" and name in pattern_vars:
                raise SparqlSyntaxError(
                    f"SELECT: (expr AS ?{name}) reuses an in-scope "
                    "variable"
                )
        out_cols: list[str] = []
        for item in proj:
            if item[0] == "var":
                name = item[1]
                if name not in df.columns:
                    df = df.withColumn(name, null_term())
                out_cols.append(name)
            else:
                _, expr, name = item
                val = compile_expr(expr, ctx)
                # a computed-numeric SELECT expression reaches the output
                # with fs_value.lex == NULL in the reference, so its
                # float/double lexical renders as C %g there
                # (fs_value_to_row, results.c:2941) — BIND-bound values
                # instead get "%f" at bind time (fill_lexical). Mirror it.
                from fourstore_spark.sparql.expr import (
                    is_computed_numeric,
                    reg_lex_term,
                )

                if is_computed_numeric(expr):
                    val = reg_lex_term(val)
                df = df.withColumn(name, val)
                ctx.columns = set(df.columns) | set(agg_map)
                out_cols.append(name)
        if not proj:  # SELECT *
            # project in first-appearance order (the reference's Rasqal
            # does the same: tests/query/exemplar/foaf-graph-pred headers
            # ?g ?x ?z for `GRAPH ?g { ?x ... ?z }`), unknown columns
            # (e.g. SERVICE-returned vars) keep translation order after
            visible = [c for c in df.columns if not c.startswith("__")]
            order = _appearance_order(q.pattern)
            if q.values is not None:
                order += [
                    v if isinstance(v, str) else v.name
                    for v in q.values.variables
                ]
            seen: list[str] = []
            for c in order:
                if c in visible and c not in seen:
                    seen.append(c)
            out_cols = seen + [c for c in visible if c not in seen]

        # ORDER BY before projection so order exprs see all vars
        # (fs_query_order, src/frontend/order.c:194-269)
        if q.order_by:
            sort_cols = []
            for expr, asc in q.order_by:
                key = term_order_key(compile_expr(expr, ctx))
                sort_cols.append(key.asc() if asc else key.desc())
            df = df.orderBy(*sort_cols)

        # certainty of projected columns (for enclosing sub-SELECT joins):
        # plain vars keep their certainty; group keys stay certain; COUNT
        # aggregates always bind
        certain_out = set()
        for item in proj:
            if item[0] == "var" and item[1] in sol.certain:
                certain_out.add(item[1])
            elif item[0] == "expr" and isinstance(item[1], A.EAggregate) and item[1].name == "COUNT":
                certain_out.add(item[2])
        self._last_select_certain = certain_out

        df = df.select(*out_cols)
        if q.distinct or q.reduced:
            df = df.distinct()
            if q.order_by:
                # distinct loses ordering; reapply on projected columns
                sort_cols = []
                ctx2 = ExprContext()
                ctx2.base = getattr(self, "query_base", "")
                ctx2.columns = set(df.columns)
                for expr, asc in q.order_by:
                    try:
                        key = term_order_key(compile_expr(expr, ctx2))
                    except ValueError:
                        # aggregate ref not visible post-projection; the
                        # pre-distinct sort already applied it
                        continue
                    sort_cols.append(key.asc() if asc else key.desc())
                if sort_cols:
                    df = df.orderBy(*sort_cols)
        if q.offset and not q.order_by:
            # OFFSET without ORDER BY: row order is implementation-
            # defined, but an arbitrary partition order makes the result
            # nondeterministic run-to-run — sort by the projected terms
            # (total term order) so the window is stable. LIMIT-only
            # queries skip this (no sort: they stay CollectLimit).
            df = df.orderBy(
                *[term_order_key(F.col(c)) for c in df.columns]
            )
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _collect_aggregates(self, q: A.Query) -> list[A.EAggregate]:
        found: dict[str, A.EAggregate] = {}

        def walk(e):
            if isinstance(e, A.EAggregate):
                found.setdefault(agg_key(e), e)
                return
            for attr in ("args", "options"):
                for sub in getattr(e, attr, []) or []:
                    walk(sub)
            for attr in ("left", "right", "arg", "expr"):
                sub = getattr(e, attr, None)
                if sub is not None and not isinstance(sub, str):
                    walk(sub)

        for item in q.projection:
            if item[0] == "expr":
                walk(item[1])
        for h in q.having:
            walk(h)
        for e, _ in q.order_by:
            walk(e)
        return list(found.values())

    def _aggregate(self, q: A.Query, sol: Sol, aggs: list):
        """GROUP BY + aggregates (src/frontend/group.c:25-60 synthetic
        _group column; per-group evaluation src/frontend/results.c:524-901).
        Spark's hash aggregate replaces the sort-by-XOR-of-RIDs trick —
        and unlike group.c:47-48 it has no hash-collision caveat."""
        df = sol.df
        ctx = self._ctx(sol)
        group_cols: list[str] = []
        for g in q.group_by:
            if isinstance(g, tuple) and g[0] == "as":
                df = df.withColumn(g[2], compile_expr(g[1], ctx))
                group_cols.append(g[2])
            elif isinstance(g, A.EVar):
                group_cols.append(g.name)
            else:
                name = self._fresh("grp")
                df = df.withColumn(name, compile_expr(g, ctx))
                group_cols.append(name)
            ctx.columns = set(df.columns)

        # store-proven uniform numeric datatypes for scan-provenanced vars
        var_dt: dict = {}
        if self.stats.pred_numeric_dt and sol.var_pred:
            for v, p in sol.var_pred.items():
                known = self.stats.pred_numeric_dt.get(p)
                if known:
                    var_dt[v] = known

        agg_exprs: list[Column] = []
        agg_names: list[str] = []
        for a in aggs:
            name = self._fresh("agg")
            agg_names.append(name)
            agg_exprs.append(self._agg_column(a, ctx, var_dt).alias(name))

        if group_cols:
            out = df.groupBy(*group_cols).agg(*agg_exprs) if agg_exprs else df.groupBy(
                *group_cols
            ).agg(F.count(F.lit(1)).alias(self._fresh("dummy")))
            if not agg_exprs:
                out = out.select(*group_cols)
        else:
            out = df.agg(*agg_exprs)

        agg_map = {agg_key(a): F.col(n) for a, n in zip(aggs, agg_names)}
        return out, agg_map, group_cols

    def _agg_column(
        self, a: A.EAggregate, ctx: ExprContext, var_dt: dict | None = None
    ) -> Column:
        """One aggregate -> a term-struct aggregate Column
        (src/frontend/results.c:524-901)."""
        if a.name == "COUNT" and a.expr is None:
            cnt = F.count_distinct(F.struct(*[F.col(c) for c in sorted(ctx.columns)])) if a.distinct and ctx.columns else F.count(F.lit(1))
            return make_num(cnt.cast("double"), F.lit(XSD_INTEGER))
        val = compile_expr(a.expr, ctx)
        if a.name == "COUNT":
            cnt = F.count_distinct(val) if a.distinct else F.count(val)
            return make_num(cnt.cast("double"), F.lit(XSD_INTEGER))
        if a.name in ("SUM", "AVG"):
            num = val["num"]
            # slim fixed-datatype path: the store proved every value of
            # this scan-provenanced variable is ONE exact numeric
            # datatype, all representable in DECIMAL(38,6) — so the
            # promotion ladder, representability probe and error check
            # below are statically decided: 2 aggregate buffers instead
            # of 6 and no per-row type machinery, bit-identical results
            known = (
                var_dt.get(a.expr.name)
                if var_dt and isinstance(a.expr, A.EVar)
                else None
            )
            if known:
                # accumulation is ALWAYS decimal (like the general path:
                # exact + order-independent; stats guarantee every value
                # is representable); only the result datatype varies
                dec = num.cast("decimal(38,6)")
                if a.distinct:
                    sum_ = F.sum_distinct(dec)
                    cnt_k = F.count_distinct(dec)
                else:
                    sum_ = F.sum(dec)
                    cnt_k = F.count(num)
                agg_k = sum_.cast("double")
                ladder = (XSD_DECIMAL, XSD_DOUBLE, XSD_FLOAT)
                if a.name == "AVG":
                    agg_k = agg_k / cnt_k
                    out_dt = known if known in ladder else XSD_DECIMAL
                else:
                    out_dt = known if known in ladder else XSD_INTEGER
                zero = make_num(F.lit(0.0), F.lit(XSD_INTEGER))
                return (
                    F.when(cnt_k == 0, zero)
                    .when(agg_k.isNotNull(), make_num(agg_k, F.lit(out_dt)))
                    .otherwise(null_term())
                )
            # exact, order-independent accumulation: sum fixed-point
            # decimals, not doubles (the reference's fn_numeric_add keeps
            # int64/fs_decimal exact too, filter.c:420-523). decimal(38,6)
            # covers xsd:integer exactly to 1e31 and 2-dp money columns.
            # A value decimal(38,6) CANNOT represent — |x| >= 1e32
            # overflows to NULL (the row would silently drop from the
            # sum), |x| < 1e-6 rounds to zero — flips the whole group to
            # the plain double path: deterministic per data, and the
            # distinct count always uses the same representation as the
            # distinct sum, so AVG DISTINCT divides matched num/denom.
            # try_cast: out-of-range doubles become NULL here (and flip
            # the group to the double path below) instead of raising
            # under ANSI mode
            dec = num.try_cast("decimal(38,6)")
            unrep = num.isNotNull() & (
                dec.isNull() | ((num != 0.0) & (dec == F.lit(0).cast("decimal(38,6)")))
            )
            any_unrep = F.max(unrep.cast("int")) == 1
            if a.distinct:
                sum_dec_ = F.sum_distinct(dec).cast("double")
                sum_dbl_ = F.sum_distinct(num)
                cnt = F.when(
                    any_unrep, F.count_distinct(num)
                ).otherwise(F.count_distinct(dec))
            else:
                sum_dec_ = F.sum(dec).cast("double")
                sum_dbl_ = F.sum(num)
                cnt = F.count(num)
            sum_dec = F.when(any_unrep, sum_dbl_).otherwise(sum_dec_)
            # result dt via the promotion ladder rank, NOT lexicographic
            # max over IRI strings (fn_numeric_add, filter.c:420)
            rank = (
                F.when(val["dt"] == XSD_DOUBLE, 3)
                .when(val["dt"] == XSD_FLOAT, 2)
                .when(val["dt"] == XSD_DECIMAL, 1)
                .when(num.isNotNull(), 0)
            )
            max_rank = F.max(rank)
            dt = (
                F.when(max_rank == 3, XSD_DOUBLE)
                .when(max_rank == 2, XSD_FLOAT)
                .when(max_rank == 1, XSD_DECIMAL)
                .otherwise(XSD_INTEGER)
            )
            if a.name == "SUM":
                agg = sum_dec.cast("double")
            else:
                # one double division of the exact sum — deterministic
                agg = sum_dec.cast("double") / cnt
                dt = F.when(dt == XSD_INTEGER, F.lit(XSD_DECIMAL)).otherwise(dt)
            # Spec 18.5 error propagation: a bound non-numeric value makes
            # the whole aggregate error -> unbound (the reference's
            # fn_numeric_add returns FS_ERROR_INVALID_TYPE likewise,
            # filter.c:420). An EMPTY value multiset is NOT an error:
            # Sum({}) = 0 and Avg({}) = 0 per the spec's definitions.
            any_err = F.max((val.isNotNull() & num.isNull()).cast("int")) == 1
            zero = make_num(F.lit(0.0), F.lit(XSD_INTEGER))
            return (
                F.when(any_err, null_term())
                .when(cnt == 0, zero)
                .when(agg.isNotNull(), make_num(agg, dt))
                .otherwise(null_term())
            )
        if a.name in ("MIN", "MAX"):
            # SPARQL term order, not numeric order (results.c:820-872 uses
            # the ORDER BY comparator, src/frontend/order.c:66-126)
            key = term_order_key(val)
            picked = F.min_by(val, key) if a.name == "MIN" else F.max_by(val, key)
            return picked
        if a.name == "SAMPLE":
            return F.first(val, ignorenulls=True)
        if a.name == "GROUP_CONCAT":
            lexes = F.collect_list(val["lex"])
            if a.distinct:
                lexes = F.array_distinct(lexes)
            return make_string(F.array_join(lexes, a.separator))
        raise NotImplementedError(f"aggregate {a.name}")

    # ----------------------------------------------- CONSTRUCT/DESCRIBE
    def _construct(self, q: A.Query, sol: Sol) -> DataFrame:
        """Template instantiation (handle_construct,
        src/frontend/results.c:1765-1898): per-solution bnode renumbering,
        invalid triples dropped, result de-duplicated."""
        df = sol.df
        row_id = F.monotonically_increasing_id()
        df = df.withColumn("__row", row_id)
        parts = []
        for i, tp in enumerate(q.construct_template):
            def term_col(t, allow_literal):
                if isinstance(t, A.Var):
                    return F.col(t.name) if t.name in sol.df.columns else null_term()
                if isinstance(t, A.BNode):
                    return bnode_term(
                        F.concat(F.lit(f"_:c{t.label}_"), F.col("__row").cast("string"))
                    )
                return const_term(t)

            s = term_col(tp.s, False)
            p = term_col(tp.p, False)
            o = term_col(tp.o, True)
            part = df.select(s.alias("st"), p.alias("pt"), o.alias("ot")).where(
                F.col("st").isNotNull()
                & F.col("pt").isNotNull()
                & F.col("ot").isNotNull()
                & (F.col("st")["kind"] != KIND_LITERAL)
                & (F.col("pt")["kind"] == KIND_URI)
            )
            parts.append(part)
        if not parts:
            return self.spark.createDataFrame(
                [], "s string, s_kind tinyint, p string, o_kind tinyint, "
                "o_lex string, o_dt string, o_lang string, o_num double"
            )
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        flat = out.select(*quad_cols(F.col("st"), F.col("pt"), F.col("ot")))
        return flat.distinct()

    def _describe(self, q: A.Query, sol: Sol) -> DataFrame:
        """DESCRIBE (describe_uri, src/frontend/results.c:1659-1710): all
        quads whose subject is a described resource. Described IRIs alone
        are one filtered scan; variables or ``*`` make it a semi-join."""
        src = self.quads
        if self._has_dataset():
            # §13.2: FROM/FROM NAMED define the dataset exactly — the
            # description draws only from it (DESCRIBE <x> FROM
            # <nonexistent> is empty; reference httpd golden 'describe')
            gs = list(self.from_graphs or []) + list(self.from_named or [])
            src = src.where(F.col("g").isin(gs))
        if all(isinstance(t, A.Iri) for t in q.describe_terms):
            iris = [t.value for t in q.describe_terms]
            return src.where(F.col("s").isin(iris)).drop("g")
        nodes = []
        for t in q.describe_terms:
            if t == "*":
                for c in sol.df.columns:
                    nodes.append(sol.df.select(F.col(c).alias("t")))
            elif isinstance(t, A.Var):
                if t.name in sol.df.columns:
                    nodes.append(sol.df.select(F.col(t.name).alias("t")))
            else:
                nodes.append(
                    self.spark.createDataFrame([(t.value,)], "lex string").select(
                        uri_term(F.col("lex")).alias("t")
                    )
                )
        if not nodes:
            return self.quads.where(F.lit(False)).drop("g")
        terms = nodes[0]
        for n in nodes[1:]:
            terms = terms.unionByName(n)
        subjects = terms.where(
            F.col("t")["kind"] != KIND_LITERAL
        ).select(F.col("t")["lex"].alias("__subj")).distinct()
        return src.join(
            subjects, src["s"] == subjects["__subj"], "left_semi"
        ).drop("g")
