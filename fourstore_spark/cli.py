"""Command-line drivers, parity with the reference's CLI tools:

    python -m fourstore_spark.cli query  STORE 'SELECT ...' [-f FMT]
    python -m fourstore_spark.cli import STORE FILE... [--graph G]
    python -m fourstore_spark.cli update STORE 'INSERT DATA {...}'
    python -m fourstore_spark.cli serve  STORE [--port N]
    python -m fourstore_spark.cli dump   STORE OUT.nq

query  == 4s-query  (/root/reference/src/frontend/4s-query.c:459;
                     -f text|sparql|json|testcase -> tsv|xml|json|testcase,
                     testcase = DAWG result-set Turtle, results.c:2397)
import == 4s-import (src/frontend/import.c:333)
dump   == 4s-dump/4s-backup (src/frontend/dump.c)
serve  == 4s-httpd  (src/http/httpd.c)

STORE is a parquet quad-store directory (created on first import).
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("fourstore-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _swap_store(spark, quads, store: str) -> None:
    """Write-new-then-swap: a store can't be overwritten while its own
    parquet files feed the plan."""
    from fourstore_spark import layout
    from fourstore_spark.store import write_store

    staged = layout.staging(store)
    write_store(quads, staged)
    layout.replace(store, staged)


def _engine(spark, store: str):
    from fourstore_spark.sparql.engine import SparqlEngine
    from fourstore_spark.store import read_store

    return SparqlEngine(spark, read_store(spark, store))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="fourstore-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query")
    q.add_argument("store")
    q.add_argument("query", help="SPARQL text, or - for stdin")
    q.add_argument("-f", "--format", default="tsv",
                   choices=["json", "xml", "csv", "tsv", "ntriples",
                            "turtle", "rdfxml", "testcase"])
    q.add_argument("--soft-limit", type=int, default=None)

    imp = sub.add_parser("import")
    imp.add_argument("store")
    imp.add_argument("files", nargs="+")
    imp.add_argument("--graph", default=None)
    imp.add_argument(
        "--append",
        action="store_true",
        help="incremental append into an existing store (no rebuild; "
        "property table marked stale unless --rebuild-subjects)",
    )
    imp.add_argument("--rebuild-subjects", action="store_true")

    up = sub.add_parser("update")
    up.add_argument("store")
    up.add_argument("update", help="SPARQL Update text, or - for stdin")

    srv = sub.add_parser("serve")
    srv.add_argument("store", nargs="?")
    srv.add_argument("--port", type=int, default=8890)
    # 4s-httpd -A (httpd.c:1913-1924): data-driven graph access control
    # from acl#admin / acl#onlyAccessBy quads in system:config
    srv.add_argument(
        "-A", "--acl", action="store_true",
        help="enable data-driven graph ACLs (4s-httpd -A): apikey "
        "required on queries, admin key on writes, ACLs read from "
        "the system:config graph",
    )

    dmp = sub.add_parser("dump")
    dmp.add_argument("store")
    dmp.add_argument("out")

    inf = sub.add_parser(
        "info", help="store layout + statistics (== 4s-info / backend-info)"
    )
    inf.add_argument("store")

    cmp_ = sub.add_parser(
        "compact",
        help="rewrite fragmented predicate dirs, refresh property table",
    )
    cmp_.add_argument("store")
    cmp_.add_argument("--predicate", action="append", default=None,
                      help="force-compact this predicate (repeatable)")
    cmp_.add_argument("--no-rebuild-subjects", action="store_true")

    rid = sub.add_parser(
        "rid", help="print the 64-bit RID of an RDF term (== 4s-rid)"
    )
    rid.add_argument(
        "term",
        help="N-Triples term: <iri>, _:label, \"lit\", \"lit\"@lang, "
        "\"lit\"^^<dt>",
    )

    res = sub.add_parser(
        "resolve",
        help="RID -> the store term(s) hashing to it (== 4s-resolve)",
    )
    res.add_argument("store")
    res.add_argument("rids", nargs="+", type=int)

    dm = sub.add_parser(
        "delete-model",
        help="drop graphs from a store (== 4s-delete-model)",
    )
    dm.add_argument("store")
    dm.add_argument("models", nargs="*", help="graph URIs to drop")
    dm.add_argument("--all", action="store_true",
                    help="drop every graph (CLEAR ALL)")

    rst = sub.add_parser(
        "restore",
        help="rebuild a store from N-Quads dump file(s) (== 4s-restore)",
    )
    rst.add_argument("store")
    rst.add_argument("dumps", nargs="+")

    bnd = sub.add_parser(
        "bind",
        help="low-level quad-pattern scan, prints N-Quads (== 4s-bind)",
    )
    bnd.add_argument("store")
    bnd.add_argument("-s", default=None, help="subject IRI/bnode")
    bnd.add_argument("-p", default=None, help="predicate IRI")
    bnd.add_argument("-o", default=None, help="object N-Triples term")
    bnd.add_argument("-g", default=None, help="graph IRI")
    bnd.add_argument("--limit", type=int, default=0, help="0 = all")

    txn = sub.add_parser(
        "transaction",
        help="apply SPARQL Update file(s) atomically "
        "(== 4s-transaction begin..commit; any failure rolls back all)",
    )
    txn.add_argument("store")
    txn.add_argument("files", nargs="+")

    args = ap.parse_args(argv)

    if args.cmd in ("import", "update", "delete-model", "restore",
                    "transaction"):
        # a store swap a crash interrupted is finished before the store
        # is read: an import must not rebuild from a missing store
        from fourstore_spark import layout

        layout.recover(args.store)

    if args.cmd == "info":
        # 4s-info / backend-info (src/frontend/4s-info.c,
        # src/utilities/backend-info.c): store layout + stats straight
        # from the manifest — no Spark session needed
        import json as _json

        from fourstore_spark.store import pred_dir_map, read_manifest

        man = read_manifest(args.store)
        if not man:
            print(f"no store manifest at {args.store}", file=sys.stderr)
            return 1
        dirs = pred_dir_map(args.store)
        out = {
            "format": man.get("format"),
            "rows": man.get("rows"),
            "partitions": man.get("partitions"),
            "predicates": len(dirs),
            "property_table": not man.get("subjects_stale"),
            "single_valued_preds": len(man.get("single_valued_preds") or []),
            "pred_stats": man.get("pred_stats"),
        }
        print(_json.dumps(out, indent=2))
        return 0

    spark = _spark()

    if args.cmd == "compact":
        import json as _json

        from fourstore_spark.store import compact_store

        man = compact_store(
            spark,
            args.store,
            predicates=args.predicate,
            rebuild_subjects=not args.no_rebuild_subjects,
        )
        print(_json.dumps(man.get("last_compaction", {})))
        return 0

    if args.cmd == "rid":
        # 4s-rid (src/utilities/4s-rid.c): prints the RID a term hashes
        # to; here the engine's 64-bit term key (translator.term_rid)
        from pyspark.sql import functions as F

        from fourstore_spark.model import KIND_BNODE, KIND_LITERAL, KIND_URI
        from fourstore_spark.sources.rdfio import _TERM_RE, _unescape

        m = _TERM_RE.match(args.term)
        if not m or m.group("dot") is not None:
            print(f"unparsable term: {args.term!r}", file=sys.stderr)
            return 1
        if m.group("iri") is not None:
            kind, lex, dt, lang = KIND_URI, _unescape(m.group("iri")), None, None
        elif m.group("bnode") is not None:
            kind, lex, dt, lang = KIND_BNODE, m.group("bnode"), None, None
        else:
            kind, lex = KIND_LITERAL, _unescape(m.group("lit"))
            dt = m.group("dt")
            lang = m.group("lang").lower() if m.group("lang") else None
        row = spark.range(1).select(
            F.xxhash64(
                F.lit(kind).cast("tinyint"), F.lit(lex), F.lit(dt), F.lit(lang)
            ).alias("rid")
        ).head()
        print(row["rid"])
        return 0

    if args.cmd == "resolve":
        # 4s-resolve (src/frontend/4s-resolve.c): the reference asks the
        # rhash for RID -> lexical form; without a resource table we scan
        # the store's four term positions for matching hashes (one pruned
        # pass, distinct terms)
        from functools import reduce

        from pyspark.sql import functions as F

        from fourstore_spark.model import KIND_BNODE, KIND_URI
        from fourstore_spark.store import read_store

        q = read_store(spark, args.store)
        n = F.lit(None).cast("string")

        def part(kind, lex, dt, lang):
            return q.select(
                F.xxhash64(kind.cast("tinyint"), lex, dt, lang).alias("rid"),
                kind.cast("tinyint").alias("kind"),
                lex.alias("lex"),
                dt.alias("dt"),
                lang.alias("lang"),
            )

        allt = reduce(
            lambda a, b: a.unionByName(b),
            [
                part(F.col("s_kind"), F.col("s"), n, n),
                part(F.lit(KIND_URI), F.col("p"), n, n),
                part(F.lit(KIND_URI), F.col("g"), n, n),
                part(
                    F.col("o_kind"), F.col("o_lex"), F.col("o_dt"),
                    F.col("o_lang"),
                ),
            ],
        )
        hits = (
            allt.where(F.col("rid").isin(args.rids))
            .dropDuplicates(["rid", "kind", "lex", "dt", "lang"])
            .collect()
        )
        found: dict = {}
        for r in hits:
            found.setdefault(r["rid"], []).append(r)

        def nt(r):
            if r["kind"] == KIND_URI:
                return f"<{r['lex']}>"
            if r["kind"] == KIND_BNODE:
                return r["lex"]
            import json as _json

            s = _json.dumps(r["lex"])
            if r["lang"]:
                return f"{s}@{r['lang']}"
            if r["dt"]:
                return f"{s}^^<{r['dt']}>"
            return s

        status = 0
        for rid_v in args.rids:
            if rid_v in found:
                for r in found[rid_v]:
                    print(f"{rid_v}\t{nt(r)}")
            else:
                # 4s-resolve prints an error marker for unknown RIDs
                print(f"{rid_v}\t#unknown#")
                status = 1
        return status

    if args.cmd == "query":
        text = sys.stdin.read() if args.query == "-" else args.query
        res = _engine(spark, args.store).query(text, soft_limit=args.soft_limit)
        fmt = args.format
        if res.form in ("CONSTRUCT", "DESCRIBE") and fmt not in (
            "turtle", "rdfxml", "testcase"
        ):
            fmt = "ntriples"
        sys.stdout.write(res.serialize(fmt))
        return 0

    if args.cmd == "import":
        from fourstore_spark.model import DEFAULT_GRAPH
        from fourstore_spark.sources.rdfio import load_rdf
        from fourstore_spark.sparql.update import UpdateEngine, quads_add
        from fourstore_spark.store import read_manifest, read_store, write_store

        from fourstore_spark.sources.rdfio import report_skips

        if args.append:
            from fourstore_spark.store import append_quads

            for f in args.files:
                df = load_rdf(spark, f, args.graph or DEFAULT_GRAPH)
                append_quads(
                    df,
                    args.store,
                    rebuild_subjects=args.rebuild_subjects,
                )
                # the append's write consumed df: the malformed-line
                # accumulator is populated now (ADVICE r4: skips are
                # reported, never silent — reference import.c keeps
                # going but prints each parser error)
                report_skips(df, f)
            print(f"appended {len(args.files)} file(s)", file=sys.stderr)
            return 0
        if read_manifest(args.store):
            quads = read_store(spark, args.store)
        else:
            from fourstore_spark.sparql.update import empty_quads

            quads = empty_quads(spark)
        loaded = []
        for f in args.files:
            df = load_rdf(spark, f, args.graph or DEFAULT_GRAPH)
            loaded.append((f, df))
            quads = quads_add(quads, df)
        _swap_store(spark, quads, args.store)
        for f, df in loaded:
            report_skips(df, f)
        print(f"imported {len(args.files)} file(s)", file=sys.stderr)
        return 0

    if args.cmd == "update":
        from fourstore_spark.sparql.update import UpdateEngine
        from fourstore_spark.store import write_store

        ue = UpdateEngine.restore(spark, args.store)
        text = sys.stdin.read() if args.update == "-" else args.update
        ue.update(text)
        _swap_store(spark, ue.quads, args.store)
        return 0

    if args.cmd == "delete-model":
        # 4s-delete-model (src/frontend/delete-model.c:41): drop the
        # named graphs (or everything with --all)
        from fourstore_spark.sparql.update import UpdateEngine

        if not args.all and not args.models:
            print("delete-model: need --all or at least one model URI",
                  file=sys.stderr)
            return 1
        ue = UpdateEngine.restore(spark, args.store)
        if args.all:
            ue.update("CLEAR ALL")
        else:
            for m in args.models:
                ue.update(f"DROP SILENT GRAPH <{m}>")
        _swap_store(spark, ue.quads, args.store)
        print(f"deleted {'ALL' if args.all else len(args.models)} model(s)",
              file=sys.stderr)
        return 0

    if args.cmd == "restore":
        # 4s-restore (src/utilities/4s-restore): rebuild a store from
        # N-Quads dump files (graph terms preserved); .trix/.xml dumps
        # route through the TriX reader (== 4s-restore-trix,
        # src/frontend/restore-trix.c)
        from fourstore_spark.sources.rdfio import (
            load_rdf,
            quads_from_nt,
            report_skips,
        )
        from fourstore_spark.sparql.update import empty_quads, quads_add

        quads = empty_quads(spark)
        loaded = []
        for f in args.dumps:
            if f.lower().endswith((".trix", ".xml")):
                df = load_rdf(spark, f)
            else:
                df = quads_from_nt(spark, f)
            loaded.append((f, df))
            quads = quads_add(quads, df)
        _swap_store(spark, quads, args.store)
        for f, df in loaded:
            report_skips(df, f)
        print(f"restored from {len(args.dumps)} dump(s)", file=sys.stderr)
        return 0

    if args.cmd == "bind":
        # 4s-bind (src/frontend/4s-bind.c): the raw quad-pattern scan,
        # constant slots pushed down to the parquet scan
        from pyspark.sql import functions as F

        from fourstore_spark.sources.rdfio import (
            _TERM_RE,
            parse_nt_line,
        )
        from fourstore_spark.sources.rdfio import quads_to_nq_lines
        from fourstore_spark.store import read_store

        df = read_store(spark, args.store)
        if args.g is not None:
            df = df.where(F.col("g") == args.g)
        if args.s is not None:
            s = args.s[1:-1] if args.s.startswith("<") else args.s
            df = df.where(F.col("s") == s)
        if args.p is not None:
            p = args.p[1:-1] if args.p.startswith("<") else args.p
            df = df.where(F.col("p") == p)
        if args.o is not None:
            # reuse the N-Triples term grammar for the object constant
            q = parse_nt_line(f"<urn:x> <urn:x> {args.o} .")
            df = df.where(
                (F.col("o_kind") == q[4])
                & (F.col("o_lex") == q[5])
                & (F.col("o_dt").eqNullSafe(F.lit(q[6])))
                & (F.col("o_lang").eqNullSafe(F.lit(q[7])))
            )
        lines = quads_to_nq_lines(df)
        if args.limit:
            lines = lines.limit(args.limit)
        for r in lines.toLocalIterator():
            print(r["value"])
        return 0

    if args.cmd == "transaction":
        # 4s-transaction begin..commit (src/frontend/4s-transaction.c:41)
        # collapsed to one atomic CLI call: every file's updates apply in
        # ONE transaction; any failure rolls the whole batch back and
        # leaves the on-disk store untouched
        from fourstore_spark.sparql.update import UpdateEngine

        ue = UpdateEngine.restore(spark, args.store)
        try:
            with ue.transaction():
                for f in args.files:
                    with open(f, encoding="utf-8") as fh:
                        ue.update(fh.read())
        except Exception as exc:  # noqa: BLE001
            print(f"transaction rolled back: {exc}", file=sys.stderr)
            return 1
        _swap_store(spark, ue.quads, args.store)
        print(f"committed {len(args.files)} file(s)", file=sys.stderr)
        return 0

    if args.cmd == "serve":
        from fourstore_spark.httpd import SparqlHttpServer
        from fourstore_spark.sparql.update import UpdateEngine

        ue = (
            UpdateEngine.restore(spark, args.store)
            if args.store
            else UpdateEngine(spark)
        )
        print(f"serving on :{args.port}", file=sys.stderr)
        SparqlHttpServer(
            spark, ue, port=args.port,
            graph_access_control=True if args.acl else None,
        ).serve()
        return 0

    if args.cmd == "dump":
        from fourstore_spark.sources.rdfio import (
            quads_to_nq_lines,
            trix_from_quads,
        )
        from fourstore_spark.store import read_store

        if args.out.lower().endswith(".trix"):
            # == 4s-dump's TriX writer (src/frontend/dump.c:243-249):
            # driver-side single file; N-Quads stays the scale path
            with open(args.out, "w", encoding="utf-8") as fh:
                fh.write(trix_from_quads(read_store(spark, args.store)))
            return 0
        quads_to_nq_lines(read_store(spark, args.store)).write.mode(
            "overwrite"
        ).text(args.out)
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
