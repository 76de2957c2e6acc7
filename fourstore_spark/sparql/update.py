"""SPARQL 1.1 Update over a mutable quads DataFrame.

Re-expresses the reference's write path (fs_update dispatch,
/root/reference/src/frontend/update.c:215-423) in DataFrame algebra:

- the store is a *set* of quads (the reference dedups at import,
  import-backend.c:74-118), so INSERT = union + anti-join-dedup and
  DELETE = anti-join, both null-safe equi-joins on the full quad —
  shuffle-able, broadcast-able when the delta is small (Catalyst
  broadcasts the constant-quads side automatically);
- DELETE/INSERT ... WHERE evaluates the WHERE clause through the normal
  query translator and instantiates the templates per solution, exactly
  like the reference runs fs_query_process_pattern inside the update
  (update.c:342);
- each op produces a new immutable DataFrame (chained lineage); commit()
  optionally truncates lineage. At warehouse scale the same plan maps
  onto Delta/Iceberg MERGE — the op algebra here is storage-agnostic.

Transactions: the reference brackets ops per segment
(fs_start_import/fs_stop_import, 4store.h:55-58); here every update()
call is atomic by construction — the new DataFrame only replaces the
store when every op in the request translated successfully.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fourstore_spark.model import (
    DEFAULT_GRAPH,
    KIND_LITERAL,
    QUADS_SCHEMA,
    TERM_DDL,
    bnode_row,
    bnode_term,
    const_term_col,
    quad_cols,
    term_row,
)
from fourstore_spark.sparql import algebra as A
from fourstore_spark.sparql.parser import parse_update
from fourstore_spark.sparql.translator import Translator

QCOLS = [f.name for f in QUADS_SCHEMA.fields]

# commit() folds the checkpointed delta parts into one materialized base
# once this many have piled up (the compact_store analogue)
COMPACT_EVERY = 64


def empty_quads(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], QUADS_SCHEMA)


# sentinel graph meaning "delete this triple from EVERY graph" — 4store's
# wildcard model for un-GRAPHed delete templates (update.c:127 "m can be
# wildcard in the absence of GRAPH, WITH etc."). \x00 cannot appear in an
# IRI, so no real graph collides.
WILDCARD_GRAPH = "\x00wildcard"


def _aliased_null_safe_eq(left: str, right: str) -> Column:
    # both sides carry explicit plan aliases so a delta *derived from the
    # store itself* (ADD <g1> TO <g2>, DELETE..WHERE over the same table)
    # can never resolve to a trivially-true self-comparison — Spark's
    # "Constructing trivially true equals predicate" hazard on ambiguous
    # self-joins.
    return reduce(
        lambda x, y: x & y,
        [
            F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
            for c in QCOLS
        ],
    )


def quads_minus(store: DataFrame, removed: DataFrame) -> DataFrame:
    """Set difference on full quads (null-safe equi anti-join)."""
    return store.alias("__store").join(
        removed.alias("__delta"),
        _aliased_null_safe_eq("__store", "__delta"),
        "left_anti",
    )


def quads_minus_any_graph(store: DataFrame, removed: DataFrame) -> DataFrame:
    """Delete matching TRIPLES from every graph (null-safe anti-join on
    the 8 non-graph columns) — fsp_delete_quads_all with a wildcard
    model RID (update.c:127,402)."""
    cond = reduce(
        lambda x, y: x & y,
        [
            F.col(f"__store.{c}").eqNullSafe(F.col(f"__delta.{c}"))
            for c in QCOLS
            if c != "g"
        ],
    )
    return store.alias("__store").join(
        removed.alias("__delta"), cond, "left_anti"
    )


def quads_add(store: DataFrame, added: DataFrame) -> DataFrame:
    """Set union: only quads not already present are appended."""
    return quads_add_parts(store, added)[0]


def quads_add_parts(store: DataFrame, added: DataFrame):
    """``quads_add`` exposing the deduplicated delta: returns
    ``(store ∪ fresh, fresh)`` so an incremental commit can checkpoint
    only ``fresh`` instead of the whole union (the in-memory analogue
    of store.py append_quads writing one delta file)."""
    fresh = (
        added.dropDuplicates(QCOLS)
        .alias("__delta")
        .join(
            store.alias("__store"),
            _aliased_null_safe_eq("__delta", "__store"),
            "left_anti",
        )
    )
    return store.unionByName(fresh), fresh


class UpdateEngine:
    """Mutable quad store + SPARQL Update executor.

    ``quads`` is the current store DataFrame; query it through
    :class:`fourstore_spark.sparql.engine.SparqlEngine` at any time.
    """

    def __init__(
        self,
        spark: SparkSession,
        quads: DataFrame | None = None,
        union_default_graph: bool = True,
        fourstore_graphs: bool = False,
    ):
        """``fourstore_graphs`` switches updates to the reference's graph
        semantics: an un-GRAPHed DELETE template (no GRAPH in the data
        block, no WITH) removes the triple from EVERY graph (update.c:127
        wildcard model), and ``GRAPH ?g`` in a WHERE clause also binds
        the default graph, as the server's queries do. Default False =
        SPARQL 1.1; the HTTP server — the 4store-parity surface — turns
        it on."""
        self.spark = spark
        self._quads = quads if quads is not None else empty_quads(spark)
        self.union_default_graph = union_default_graph
        self.fourstore_graphs = fourstore_graphs
        self._bnode_seq = 0
        # incremental-commit bookkeeping (r8 verdict: commit() was
        # O(store) per HTTP write): _base is the last fully materialized
        # store, _parts the checkpointed deltas since, _pending the
        # not-yet-committed delta frames of purely-additive updates, and
        # _dirty forces the full-materialization path after any
        # destructive or untracked mutation
        self._base = self._quads
        self._parts: list[DataFrame] = []
        self._pending: list[DataFrame] = []
        self._dirty = False

    @property
    def quads(self) -> DataFrame:
        return self._quads

    @quads.setter
    def quads(self, df: DataFrame) -> None:
        # external replacement: nothing is known about the new frame, so
        # the next commit() takes the full-materialization path
        self._quads = df
        self._pending = []
        self._dirty = True

    # ------------------------------------------------------------ public
    def update(self, text: str) -> list[str]:
        """Execute the update; returns fs_update-style status messages
        (update.c add_message) — ADD/MOVE/COPY report
        "<Verb> <from> to <to>" plus a triple-count line; other ops are
        silent. The HTTP endpoint serves the joined messages as the
        response body (http_import_start, httpd.c:512-525)."""
        ops = parse_update(text)
        new = self._quads
        messages: list[str] = []
        pending: list[DataFrame] = []
        dirty = False
        for op in ops:
            if isinstance(op, A.GraphCopyOp):
                # materialize the pre-op state ONCE so the message
                # count() and the op itself share it — counting on the
                # raw lineage re-executed every prior op in this update
                # per ADD/MOVE/COPY (r7 advice). SILENT does not
                # suppress these lines: the reference's fs_add/fs_move/
                # fs_copy call add_message unconditionally
                # (update.c:732, :812, :910).
                new = new.localCheckpoint(eager=True)
                messages += self._graph_copy_messages(new, op)
            # purely-additive ops record their deduplicated delta so
            # commit() can checkpoint O(delta) instead of O(store)
            if isinstance(op, A.InsertDataOp):
                new, fresh = quads_add_parts(new, self._const_quads(op.quads))
                pending.append(fresh)
            elif isinstance(op, A.LoadOp):
                try:
                    loaded = self._load(op.source, op.graph or DEFAULT_GRAPH)
                except Exception:
                    if op.silent:
                        continue
                    raise
                new, fresh = quads_add_parts(new, loaded)
                pending.append(fresh)
            elif isinstance(op, A.CreateOp):
                pass  # graphs exist implicitly (update.c:225-226)
            else:
                new = self._apply(new, op)
                dirty = True
        self._quads = new
        if dirty:
            self._dirty = True
            self._pending = []
        else:
            self._pending += pending
        return messages

    def add_quads(self, added: DataFrame) -> None:
        """Tracked additive write (the HTTP PUT/POST /data/ path): the
        deduplicated delta is recorded so the next :meth:`commit` stays
        proportional to it."""
        new, fresh = quads_add_parts(self._quads, added)
        self._quads = new
        self._pending.append(fresh)

    @staticmethod
    def _graph_copy_messages(store: DataFrame, op) -> list[str]:
        """The reference's ADD/MOVE/COPY report lines (update.c:732-777
        fs_add, :812-875 fs_move, :910-972 fs_copy): verb line, then
        "<n> triples added, 0 removed" for ADD / literally "?? removed"
        for MOVE and COPY, degrading to "0 triples added, 0 removed"
        when the source graph is empty or equals the target."""
        verb = {"add": "Added", "copy": "Copied", "move": "Moved"}[op.kind]
        src = op.src or DEFAULT_GRAPH
        dst = op.dst or DEFAULT_GRAPH
        n = 0
        if src != dst:
            n = store.where(F.col("g") == src).count()
        head = f"{verb} <{src}> to <{dst}>"
        if n == 0:
            return [head, "0 triples added, 0 removed"]
        removed = "0" if op.kind == "add" else "??"
        return [head, f"{n} triples added, {removed} removed"]

    def commit(self) -> None:
        """Cut the op lineage (the in-memory analogue of a Delta/Iceberg
        commit).

        Additive-only windows (INSERT DATA / LOAD / :meth:`add_quads`,
        the common HTTP write traffic) checkpoint ONLY their
        deduplicated deltas and keep the store as a lazy
        ``base ∪ delta₁ ∪ … ∪ deltaₖ`` — per-write materialization is
        proportional to the delta, mirroring store.py append_quads'
        one-delta-file discipline. Every ``COMPACT_EVERY`` delta parts
        (or after any destructive/untracked mutation) the whole union
        folds into one full materialization, bounding both lineage
        depth and read-side union width — the compact_store analogue."""
        if self._dirty:
            self._quads = self._quads.localCheckpoint(eager=True)
            self._base, self._parts = self._quads, []
            self._dirty = False
        elif self._pending:
            for f in self._pending:
                self._parts.append(f.localCheckpoint(eager=True))
            q = self._base
            for d in self._parts:
                q = q.unionByName(d)
            self._quads = q
            if len(self._parts) >= COMPACT_EVERY:
                self._quads = self._quads.localCheckpoint(eager=True)
                self._base, self._parts = self._quads, []
        self._pending = []
        self._txn_base = None

    # ---- transactions (4store.h:55-58 begin/pre-commit/commit/rollback;
    # fs_backend_transaction, backend.c).  Updates build lazy lineage over
    # the snapshot taken at begin(), so rollback is O(1) pointer restore
    # and commit materializes once — the single-table ACID pattern that
    # maps to a Delta/Iceberg transactional commit on a real cluster.
    def begin(self) -> None:
        if getattr(self, "_txn_base", None) is not None:
            raise RuntimeError("transaction already in progress")
        self._txn_base = self._quads

    def rollback(self) -> None:
        if getattr(self, "_txn_base", None) is None:
            raise RuntimeError("no transaction in progress")
        # O(1) pointer restore; the delta bookkeeping may reference the
        # discarded lineage, so the next commit takes the full path
        self._quads = self._txn_base
        self._pending = []
        self._dirty = True
        self._txn_base = None

    def transaction(self):
        """Context manager: commit on clean exit, rollback on exception."""
        import contextlib

        @contextlib.contextmanager
        def _txn():
            self.begin()
            try:
                yield self
            except BaseException:
                self.rollback()
                raise
            else:
                self.commit()

        return _txn()

    def save(self, path: str) -> None:
        """Write the store to ``path`` (dump.c parity; see also
        sources.rdfio.quads_to_nq_lines for the N-Quads dump) through
        ``store.replace_store``, then continue on the saved store — so
        saving onto the store this engine was restored from is safe."""
        from fourstore_spark import store

        store.replace_store(self.quads, path)
        self.quads = store.read_store(self.spark, path)

    @classmethod
    def restore(cls, spark: SparkSession, path: str, **options) -> "UpdateEngine":
        """Reopen a saved store (``store.read_store``); ``options`` are
        the constructor's."""
        from fourstore_spark import store

        return cls(spark, store.read_store(spark, path), **options)

    # ------------------------------------------------------------ ops
    def _apply(self, store: DataFrame, op) -> DataFrame:
        """Destructive / store-rewriting ops. The additive ops
        (INSERT DATA, LOAD, CREATE) are handled inline in :meth:`update`
        so their deltas feed the O(delta) commit tracking."""
        if isinstance(op, A.DeleteDataOp):
            wild = self._wildcard(op.quads)
            bare_g = WILDCARD_GRAPH if wild else DEFAULT_GRAPH
            return self._minus_split(
                store, self._const_quads(op.quads, bare_g=bare_g), wild
            )
        if isinstance(op, A.ModifyOp):
            return self._modify(store, op)
        if isinstance(op, A.ClearOp):
            return self._clear(store, op)
        if isinstance(op, A.GraphCopyOp):
            return self._graph_copy(store, op)
        raise TypeError(f"unknown update op {op!r}")

    def _load(self, source: str, graph: str) -> DataFrame:
        """LOAD's resolver: a local path or file:// URI -> quads."""
        from fourstore_spark.sources.rdfio import load_rdf

        path = source[7:] if source.startswith("file://") else source
        return load_rdf(self.spark, path, graph)

    # ---- constant quad blocks (insert_rasqal_triple, update.c:117-156)
    def _wildcard(self, quads: list) -> bool:
        """Whether a delete block takes the reference's wildcard model:
        4store graph semantics and at least one quad without a graph."""
        return self.fourstore_graphs and any(
            not isinstance(q.g, (A.Iri, A.Var)) for q in quads
        )

    def _minus_split(
        self, store: DataFrame, removed: DataFrame, wildcard: bool
    ) -> DataFrame:
        """quads_minus; with ``wildcard``, WILDCARD_GRAPH rows go through
        the any-graph triple delete (reference wildcard model). A delete
        without such rows skips that anti-join, which would add a join
        and a shuffle to its plan."""
        if not wildcard:
            return quads_minus(store, removed)
        store = quads_minus_any_graph(
            store, removed.where(F.col("g") == WILDCARD_GRAPH)
        )
        return quads_minus(store, removed.where(F.col("g") != WILDCARD_GRAPH))

    def _const_quads(self, quads: list, bare_g: str = DEFAULT_GRAPH) -> DataFrame:
        rows = []
        for q in quads:
            g = q.g.value if isinstance(q.g, A.Iri) else bare_g
            if not isinstance(q.s, (A.Iri, A.BNode)):
                raise ValueError("literal/var subject in data block")
            s_kind, s = self._const_row(q.s)[:2]
            rows.append((g, s, s_kind, q.p.value) + self._const_row(q.o))
        return self.spark.createDataFrame(rows, QUADS_SCHEMA)

    def _const_row(self, t) -> tuple:
        if isinstance(t, A.BNode):
            return bnode_row(self._fresh_bnode(t.label))
        return term_row(t)

    def _fresh_bnode(self, label: str) -> str:
        # bnode ids are scoped per update request (the reference allocates
        # from a cluster-wide counter, import.c:546-586)
        self._bnode_seq += 1
        return f"_:u{self._bnode_seq}_{label}"

    # ---- DELETE/INSERT WHERE (update.c:277-381)
    def _modify(self, store: DataFrame, op: A.ModifyOp) -> DataFrame:
        tr = Translator(
            self.spark,
            store,
            self.union_default_graph,
            graph_var_includes_default=self.fourstore_graphs,
        )
        tr.from_graphs = list(op.using)
        tr.from_named = list(op.using_named)
        graph_ctx = A.Iri(op.with_graph) if op.with_graph and not op.using else None
        sol = tr.translate(op.where, graph=graph_ctx)
        default_g = op.with_graph or DEFAULT_GRAPH
        if op.delete:
            # an un-GRAPHed template without WITH deletes from every graph
            wild = not op.with_graph and self._wildcard(op.delete)
            del_g = WILDCARD_GRAPH if wild else default_g
            deletes = self._instantiate(op.delete, sol, del_g, bnodes_error=True)
            store = self._minus_split(store, deletes, wild)
        if op.insert:
            inserts = self._instantiate(op.insert, sol, default_g, bnodes_error=False)
            store = quads_add(store, inserts)
        return store

    def _instantiate(
        self, templates: list, sol, default_g: str, bnodes_error: bool
    ) -> DataFrame:
        """Template quads x WHERE solutions -> quads DataFrame. Solutions
        leaving a template slot unbound (or ill-typed) drop that
        instantiation, per spec and reference behavior."""
        df = sol.df
        cols = set(df.columns)
        row_id = F.monotonically_increasing_id().cast("string")
        df = df.withColumn("__row", row_id)
        parts = []

        def term(t, bnode_tag):
            if isinstance(t, A.Var):
                return F.col(t.name) if t.name in cols else F.lit(None).cast(
                    TERM_DDL
                )
            if isinstance(t, A.BNode):
                if bnodes_error:
                    raise ValueError("blank nodes not allowed in DELETE template")
                return bnode_term(
                    F.concat(F.lit(f"_:t{bnode_tag}_{t.label}_"), F.col("__row"))
                )
            return const_term_col(term_row(t))

        for i, q in enumerate(templates):
            if isinstance(q.g, A.Var):
                gcol = (
                    F.col(q.g.name)["lex"]
                    if q.g.name in cols
                    else F.lit(None).cast("string")
                )
            elif isinstance(q.g, A.Iri):
                gcol = F.lit(q.g.value)
            else:
                gcol = F.lit(default_g)
            part = df.select(
                gcol.alias("g"), *quad_cols(term(q.s, i), term(q.p, i), term(q.o, i))
            ).where(
                F.col("g").isNotNull()
                & F.col("s").isNotNull()
                & (F.col("s_kind") != KIND_LITERAL)
                & F.col("p").isNotNull()
                & F.col("o_lex").isNotNull()
            )
            parts.append(part)
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        return out.dropDuplicates(QCOLS)

    # ---- CLEAR / DROP (fs_clear, update.c:632)
    def _clear(self, store: DataFrame, op: A.ClearOp) -> DataFrame:
        if op.target == "all":
            return empty_quads(self.spark)
        if op.target == "default":
            return store.where(F.col("g") != DEFAULT_GRAPH)
        if op.target == "named":
            return store.where(F.col("g") == DEFAULT_GRAPH)
        _, g = op.target
        return store.where(F.col("g") != g)

    # ---- ADD / MOVE / COPY (update.c:709-885)
    def _graph_copy(self, store: DataFrame, op: A.GraphCopyOp) -> DataFrame:
        src = op.src or DEFAULT_GRAPH
        dst = op.dst or DEFAULT_GRAPH
        if src == dst:
            return store
        moved = store.where(F.col("g") == src).withColumn("g", F.lit(dst))
        if op.kind == "copy":
            store = store.where(F.col("g") != dst)
            return store.unionByName(moved)
        if op.kind == "move":
            store = store.where((F.col("g") != dst) & (F.col("g") != src))
            return store.unionByName(moved)
        return quads_add(store, moved)  # add
