"""Public query API.

Mirrors the reference's entry point fs_query_execute
(src/frontend/query.c:337): parse -> plan -> execute, returning a lazy
DataFrame instead of a pull-model row fetcher (fs_query_fetch_row,
src/frontend/results.c:2598) — Spark's actions are the pull model.
"""

from __future__ import annotations

import dataclasses
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fourstore_spark import store
from fourstore_spark.sparql.parser import parse_query
from fourstore_spark.sparql.translator import Translator

# Refcounted, scoped analyzer-conf override (see SparqlEngine.query).
# The lock guards ONLY the counter inc/dec + conf set/restore — never the
# compile itself: a SERVICE clause translates by calling a remote
# endpoint, and when that endpoint lives in the same process its handler
# thread must be able to compile concurrently (holding a lock across the
# whole compile deadlocks that loopback). The refcount makes nested /
# concurrent compiles share one save/restore pair, so the conf always
# returns to its pre-override value when the last compile finishes.
_ANALYZER_CONF_LOCK = threading.Lock()
_ANALYZER_OVERRIDE = {"count": 0, "saved": None}


class _analyzer_headroom:
    """Context manager raising spark.sql.analyzer.maxIterations to 1000
    for the duration of a plan compile (deeply nested expr._let towers
    cost one Resolution iteration per lambda level; default cap 100)."""

    _KEY = "spark.sql.analyzer.maxIterations"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        with _ANALYZER_CONF_LOCK:
            if _ANALYZER_OVERRIDE["count"] == 0:
                try:
                    _ANALYZER_OVERRIDE["saved"] = self.spark.conf.get(
                        self._KEY, None
                    )
                    self.spark.conf.set(self._KEY, "1000")
                except Exception:  # noqa: BLE001 — conf may be restricted
                    _ANALYZER_OVERRIDE["saved"] = None
            _ANALYZER_OVERRIDE["count"] += 1
        return self

    def __exit__(self, *exc):
        with _ANALYZER_CONF_LOCK:
            _ANALYZER_OVERRIDE["count"] -= 1
            if _ANALYZER_OVERRIDE["count"] == 0:
                try:
                    saved = _ANALYZER_OVERRIDE["saved"]
                    if saved is None:
                        self.spark.conf.unset(self._KEY)
                    else:
                        self.spark.conf.set(self._KEY, saved)
                except Exception:  # noqa: BLE001
                    pass
        return False


# the formats a graph result (CONSTRUCT/DESCRIBE) is written in: keys
# of sources.rdfio.RDF_SYNTAXES
GRAPH_FORMATS = ("nt", "turtle", "rdfxml")


class SparqlResult:
    def __init__(self, form: str, df: DataFrame):
        self.form = form
        self.df = df
        self._soft_limited = False

    @property
    def soft_limited(self):
        """True iff a requested soft limit actually truncated a pattern
        (results.c:2722-2728 warns only then). Lazily counts the capped
        patterns the first time it's read."""
        if callable(self._soft_limited):
            self._soft_limited = self._soft_limited()
        return self._soft_limited

    @soft_limited.setter
    def soft_limited(self, value):
        self._soft_limited = value

    def ask(self) -> bool:
        assert self.form == "ASK"
        return len(self.df.take(1)) > 0

    # -- serializers (fs_query_results_output dispatch, results.c:2900) --
    def output_format(self, fmt: str) -> str:
        """The format ``serialize`` is asked for when ``fmt`` is
        requested. A graph result (CONSTRUCT/DESCRIBE) keeps a format of
        ``GRAPH_FORMATS``, writes ``testcase`` as Turtle (the
        reference's output_testcase, results.c:2413-2421) and anything
        else as N-Triples; other forms keep ``fmt``."""
        if self.form not in ("CONSTRUCT", "DESCRIBE") or fmt in GRAPH_FORMATS:
            return fmt
        return "turtle" if fmt == "testcase" else "nt"

    def serialize(self, fmt: str = "json") -> str:
        """fmt: 'json' | 'xml' | 'csv' | 'tsv' (SELECT/ASK), or
        'ntriples' (CONSTRUCT/DESCRIBE)."""
        from fourstore_spark.sparql import results_io as R

        if self.form in ("CONSTRUCT", "DESCRIBE"):
            if fmt in ("rdfxml", "rdf+xml", "rdf-xml"):
                return R.graph_rdfxml(self.df)
            if fmt in ("turtle", "ttl", "testcase"):
                # the reference's -f testcase emits Turtle for graph
                # results (output_testcase, results.c:2413-2421)
                return R.graph_turtle(self.df)
            if fmt not in ("ntriples", "nt", "text", "ascii"):
                raise ValueError(
                    "graph results serialize to ntriples/turtle/rdfxml, "
                    f"not {fmt}"
                )
            return R.graph_ntriples(self.df)
        ask = self.ask() if self.form == "ASK" else None
        if fmt == "json":
            return R.select_json(self.df, ask=ask)
        if fmt == "xml":
            return R.select_xml(self.df, ask=ask)
        if fmt == "testcase":
            return R.select_testcase(self.df, ask=ask)
        if fmt in ("text", "ascii"):
            # output_text (results.c:2014): the reference's default
            return R.select_text(self.df, ask=ask)
        if self.form == "ASK":
            raise ValueError(f"ASK results serialize to json/xml, not {fmt}")
        if fmt == "csv":
            return R.select_csv(self.df)
        if fmt == "tsv":
            return R.select_tsv(self.df)
        raise ValueError(f"unknown result format {fmt!r}")

    def explain(self, mode: str = "formatted") -> str:
        """Physical/logical plan text (FS_QUERY_EXPLAIN parity,
        query.c:800-829 — there it logs bind decisions; here Catalyst's
        plan is the ground truth)."""
        jdf = self.df._jdf
        jvm = self.df.sparkSession._jvm
        em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return jdf.queryExecution().explainString(em)

    # -- flat projections for oracle comparison / serialization ----------
    def lex(self, var: str) -> Column:
        return self.df[var]["lex"]

    def num(self, var: str) -> Column:
        return self.df[var]["num"]

    def flat(self, **types: str) -> DataFrame:
        """Project term-struct vars to plain columns.

        types: var -> 'lex' | 'num' | 'int' | 'ts' | 'date' | 'bool'
        Unlisted vars default to 'lex'.

        Built as ONE selectExpr over SQL expression strings (r13, the
        88abff0 expr-string treatment applied to the hot constructor of
        the bench path: the compiled SPARQL plan is cached, so flat()
        IS the per-run build phase — the old per-Column form made ~250
        py4j round trips per call, ~0.05 s of the flagship's 0.40 s
        wall). The parsed expressions are identical to the old Column
        trees; per-type semantics:

        - num0: canonicalizes IEEE signed zero (-0.0 + 0.0 == +0.0) for
          oracles on engines that render/hash the two zeros differently.
        - dec: exact decimal results — parse the full-precision lexical
          form, normalized to scale 6 for oracle comparison.
        - dec6: double quantized to DECIMAL(38,6) — removes double-
          RENDERING freedom from the contract hash while verifying the
          value to 6 places (oracle mirrors the CAST).
        - long6: round(x * 1e6) as BIGINT — integers hash identically
          on every engine build (decimal object shape does not); oracle
          mirrors CAST(ROUND(x * 1000000) AS BIGINT).
        - decstr: exact-decimal compared as STRINGS at scale 6 (the
          oracle emits expected constants as string literals — no
          decimal arithmetic on its side).
        """
        exprs = []
        for var in self.df.columns:
            t = types.get(var, "lex")
            q = "`" + var.replace("`", "``") + "`"
            if t == "lex":
                e = f"{q}.lex"
            elif t == "num":
                e = f"{q}.num"
            elif t == "num0":
                e = f"({q}.num + 0.0D)"
            elif t == "int":
                e = f"CAST({q}.num AS BIGINT)"
            elif t == "dec":
                e = f"CAST({q}.lex AS DECIMAL(38,6))"
            elif t == "dec6":
                e = f"CAST({q}.num AS DECIMAL(38,6))"
            elif t == "long6":
                e = f"CAST(round({q}.num * 1000000.0D, 0) AS BIGINT)"
            elif t == "decstr":
                e = f"CAST(CAST({q}.lex AS DECIMAL(38,6)) AS STRING)"
            elif t == "ts":
                e = f"to_timestamp({q}.lex)"
            elif t == "date":
                e = f"to_date({q}.lex)"
            elif t == "bool":
                e = f"({q}.lex = 'true')"
            else:
                raise ValueError(t)
            exprs.append(f"{e} AS {q}")
        return self.df.selectExpr(*exprs)


class SparqlEngine:
    """SPARQL engine over a quads DataFrame.

    quads schema: model.QUADS_SCHEMA — (g, s, s_kind, p, o_kind, o_lex,
    o_dt, o_lang, o_num).
    """

    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame,
        union_default_graph: bool = True,
        soft_limit: int | None = None,
        allowed_graphs: list[str] | None = None,
        denied_graphs: list[str] | None = None,
        stats: store.StoreStats | None = None,
        graph_var_includes_default: bool = False,
    ):
        """``stats``: the store's planner statistics (``store.read_stats``,
        as ``from_store`` passes them); None plans without any."""
        self.spark = spark
        stats = stats if stats is not None else store.StoreStats()
        # graph ACLs (query-cache.c:96-140 no_access_for_user /
        # fs_mark_discard_rows): a per-session visibility filter injected
        # ahead of every scan — Catalyst pushes it into the parquet read
        if denied_graphs:
            quads = quads.where(~F.col("g").isin(denied_graphs))
        if allowed_graphs is not None:
            quads = quads.where(F.col("g").isin(allowed_graphs))
        if denied_graphs or allowed_graphs is not None:
            # the property table holds every graph's values and does not
            # express the per-value graph check cheaply: filtered engines
            # plan stars on the quads. `is not None`: an EMPTY allow-list
            # means deny-all and must not reach the unfiltered table.
            stats = dataclasses.replace(stats, subjects=None, pred_columns=None)
        self.quads = quads
        self.stats = stats
        self.union_default_graph = union_default_graph
        self.graph_var_includes_default = graph_var_includes_default
        # restricted mode: per-pattern result cap (soft limit,
        # params.h.in:34 default 998/segment; truncation warning
        # results.c:2722-2728). None = exact results.
        self.soft_limit = soft_limit
        # bounded LRU: each entry pins a DataFrame lineage (~0.5 s to
        # rebuild), so an unbounded dict is a slow driver-memory leak for
        # a long-lived server issuing many unique query texts
        from collections import OrderedDict

        self._plan_cache: "OrderedDict" = OrderedDict()
        self._plan_cache_cap = 256
        # flattened-projection cache for select(): a Dataset object
        # memoizes its own analyzed/optimized/codegen'd physical plan, so
        # re-collecting a CACHED DataFrame skips ~0.4 s of driver-side
        # Catalyst work that a freshly-built flat() projection over the
        # same cached plan would redo (measured on the flagship: 0.09 s
        # vs 0.48 s per run). Same keying discipline as _plan_cache.
        self._flat_cache: "OrderedDict" = OrderedDict()
        # stats for /status/cache/ (the reference tracks cache_hits /
        # cache_fail per bind cache, query-cache.c + httpd.c:882-957)
        self._plan_cache_hits = 0
        self._plan_cache_misses = 0
        self._plan_cache_lock = threading.Lock()

    def clear_plan_cache(self) -> None:
        """Drop every cached compiled plan (query-form AND flattened):
        each entry pins a JVM plan tree, so long sessions issuing many
        UNIQUE query texts (fuzzers, ad-hoc analytics) call this to
        release driver heap. Normal repeated-query workloads never
        need it — both caches are LRU-bounded."""
        with self._plan_cache_lock:
            self._plan_cache.clear()
            self._flat_cache.clear()

    @classmethod
    def from_store(cls, spark: SparkSession, path: str, **kwargs) -> "SparqlEngine":
        """Open a materialized quad store (store.write_store) with its
        planner statistics and property table."""
        return cls(
            spark,
            store.read_store(spark, path),
            stats=store.read_stats(spark, path),
            **kwargs,
        )

    # views of the one statistics value
    @property
    def subjects(self) -> DataFrame | None:
        return self.stats.subjects

    @property
    def pred_stats(self) -> dict:
        return self.stats.pred_stats

    def query(
        self,
        text: str,
        soft_limit: int | None = None,
        default_graph_uri: list[str] | None = None,
        named_graph_uri: list[str] | None = None,
    ) -> SparqlResult:
        """``default_graph_uri`` / ``named_graph_uri`` are the SPARQL
        protocol dataset parameters: when given they OVERRIDE the query's
        own FROM / FROM NAMED clauses (protocol §2.1.4)."""
        limit = soft_limit if soft_limit is not None else self.soft_limit
        key = (
            text,
            limit,
            tuple(default_graph_uri) if default_graph_uri else None,
            tuple(named_graph_uri) if named_graph_uri else None,
        )
        # compiled-plan cache (fs_query_cache, query-cache.c:36-94): the
        # translated DataFrame is immutable, so re-running the same text
        # skips ~3000 py4j round-trips of plan construction (~0.5 s/query
        # driver-side).  Keyed per (text, limit, protocol dataset);
        # invalidated only by constructing a new engine (mutation swaps
        # the quads DataFrame).
        with self._plan_cache_lock:
            cached = self._plan_cache.get(key)
            if cached is not None:
                self._plan_cache.move_to_end(key)
                self._plan_cache_hits += 1
            else:
                self._plan_cache_misses += 1
        if cached is not None:
            form, df, limited = cached
            res = SparqlResult(form, df)
            res.soft_limited = limited
            return res
        q = parse_query(text)
        if default_graph_uri:
            q.from_graphs = list(default_graph_uri)
        if named_graph_uri:
            q.from_named = list(named_graph_uri)
        tr = Translator(
            self.spark,
            self.quads,
            self.union_default_graph,
            soft_limit=limit,
            stats=self.stats,
            graph_var_includes_default=self.graph_var_includes_default,
        )
        # raise the analyzer iteration cap for the duration of THIS
        # compile only (PySpark DataFrame creation analyzes eagerly, so
        # the analyzer runs inside translate_query), then restore: a
        # session-wide override would mask genuinely non-converging
        # plans in co-tenant workloads (ADVICE r4). Refcounted so
        # concurrent compiles — including a SERVICE loopback to an
        # in-process endpoint — never deadlock or tear the restore.
        with _analyzer_headroom(self.spark):
            df = tr.translate_query(q)
        # truncation warning: deferred count over the capped patterns'
        # pre-limit frames — evaluated only if soft_limited is read
        capped = list(tr.capped)

        def limited():
            return any(
                d.limit(cap + 1).count() > cap for d, cap in capped
            )

        if not capped:
            limited = False
        # SERVICE runs the federated call at plan-construction time, so a
        # cached plan would pin that remote snapshot forever — a long-
        # lived server must re-contact the endpoint per execution. Never
        # cache plans that touched a SERVICE.
        if not tr.saw_service:
            with self._plan_cache_lock:
                self._plan_cache[key] = (q.form, df, limited)
                if len(self._plan_cache) > self._plan_cache_cap:
                    self._plan_cache.popitem(last=False)
        res = SparqlResult(q.form, df)
        res.soft_limited = limited
        res.cacheable = not tr.saw_service
        return res

    def select(self, text: str, **types: str) -> DataFrame:
        """Run a SELECT and flatten term structs to plain columns.

        The flattened DataFrame is memoized per (text, types): Datasets
        cache their own physical plan, so handing back the same object
        avoids re-running analysis/optimization/codegen on every
        invocation of a repeated query (SERVICE plans stay uncached,
        mirroring query())."""
        key = (text, tuple(sorted(types.items())))
        with self._plan_cache_lock:
            cached = self._flat_cache.get(key)
            if cached is not None:
                self._flat_cache.move_to_end(key)
        if cached is not None:
            return cached
        res = self.query(text)
        assert res.form == "SELECT", res.form
        df = res.flat(**types)
        if getattr(res, "cacheable", True):
            with self._plan_cache_lock:
                self._flat_cache[key] = df
                if len(self._flat_cache) > self._plan_cache_cap:
                    self._flat_cache.popitem(last=False)
        return df

    def ask(self, text: str) -> bool:
        return self.query(text).ask()
