"""Persistent quad-store layout.

Replaces the reference's per-predicate radix-tree files (ptree.c:46-70,
selection query-backend.c:48-69) with a columnar layout tuned for the two
access paths that dominate SPARQL plans:

- **predicate-constant scans** (every BGP pattern with a known p): one
  parquet DIRECTORY per predicate (write.partitionBy(p)) — pruned at
  planning time, exactly the reference's one-ptree-per-predicate design;
  files inside are s-sorted so subject-constant patterns also prune by
  row-group min/max stats;
- **subject joins / star groups**: within each predicate directory rows
  are hash-bucketed by ``s`` into evenly-sized files (per-predicate
  bucket counts proportional to row share, so hot rdf:type-style
  predicates spread instead of forming one giant partition).

A manifest records counts + layout for dump/restore parity
(src/frontend/dump.c, restore.c). Manifest writes and directory swaps
go through ``layout``."""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fourstore_spark import layout

MANIFEST = "_fourstore_manifest.json"


def write_store(
    quads: DataFrame,
    path: str,
    partitions: int | None = None,
    compute_stats: bool = True,
) -> dict:
    """Materialize a quads DataFrame at ``path``: one directory per
    predicate, hash(s)-bucketed and s-sorted files within.

    With compute_stats, the manifest records which predicates are
    *functional* (at most one object per (g,s)) — the stats analogue of
    the reference's per-predicate frequency histograms (fs_bind_freq,
    optimiser.c:445-524). The star-scan planner uses them to aggregate
    with codegen first() instead of collect_list+explode."""
    spark = quads.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # one DIRECTORY per predicate (write.partitionBy) — the analogue of the
    # reference's one-ptree-file-per-predicate (ptree.c:46-70): a
    # predicate-constant scan prunes to its directory at PLANNING time,
    # touching no other file's footer (at 100 TB: partition pruning beats
    # per-file row-group stats, which still open every footer). Skew is
    # handled below the directory: each predicate is sub-bucketed by
    # hash(s) into ceil(share-of-rows x partitions) files, so rdf:type-
    # style hot predicates spread over many evenly-sized files instead of
    # one giant partition (the SURVEY §4 skew warning applies to shuffle
    # partitioning by p, not to directory layout with per-predicate
    # bucketing).
    # ONE stats pass over the source, two-level so it also yields the
    # per-(p,s) fan-out: row count n (bucket sizing below), EXACT distinct
    # subjects ns, and max objects per subject (the fs_bind_freq-style
    # planner stats, optimiser.c:445-524). fanout == 1 predicates get a
    # FLAT struct column in the property table below instead of
    # array<struct> — reading a flat struct column skips parquet
    # repetition levels and the per-row element_at, which measured ~2.5x
    # on the flagship star scan. The source is cached across this pass +
    # the layout write.
    quads = quads.persist()
    stats_rows = _stats_pass(quads)
    counts = {r["p"]: r["n"] for r in stats_rows}
    total = sum(counts.values()) or 1
    buckets = {
        p: max(1, round(n * partitions / total)) for p, n in counts.items()
    }
    _write_quads(
        quads,
        path,
        "overwrite",
        buckets,
        max(2 * partitions, 2 * sum(buckets.values())),
        int(total) // max(1, sum(buckets.values())),
    )
    quads.unpersist()
    if counts:
        stored = spark.read.parquet(path)
    else:
        # empty store (e.g. CLEAR ALL): the write produced no parquet
        # files, so schema inference would fail — keep the quads schema
        from fourstore_spark.model import QUADS_SCHEMA

        stored = spark.createDataFrame([], QUADS_SCHEMA)
    n = int(total) if counts else 0
    # property table: the quads pre-grouped by subject, ONE PHYSICAL
    # PARQUET COLUMN PER PREDICATE (array<struct<g, kind, lex, dt, lang,
    # num>>). Star scans read it with ZERO query-time shuffle (the
    # groupBy(s) the quads path would do per query happens once, here, at
    # import), and — unlike a map<p, array<...>> column, which parquet
    # must materialize wholesale — column pruning means a 5-predicate
    # star over a 17-predicate subject decodes 5 columns, not 17. The
    # classic RDF property-table layout (SW-Store / Jena property
    # tables), replacing the reference's per-predicate ptree files
    # (ptree.c:46-70) with per-predicate parquet columns.
    pred_columns, single_valued = _write_subjects(
        stored, path, partitions, stats_rows
    )
    pred_stats: dict = {}
    if compute_stats:
        # per-predicate cardinalities — the reference's frequency
        # histograms (fs_bind_freq, optimiser.c:445-524; backend message
        # FS_GET_QUAD_FREQ 4store.h:68). quads = scan estimate for a
        # constant-p pattern; subjects (exact) = star-scan row estimate.
        # The planner turns these into F.broadcast() hints, so dimension
        # joins stay broadcast at ANY autoBroadcastJoinThreshold instead
        # of depending on Spark's (hopeless, post-filter) size guesses.
        pred_stats = {r["p"]: [int(r["n"]), int(r["ns"])] for r in stats_rows}
    manifest = {
        "format": "fourstore-quads-parquet-v4",
        "rows": n,
        "partitions": partitions,
        "distribute": "dir(p) / hash(s)",
        "sort_within": ["s"],
        "single_valued_preds": single_valued,
        "pred_stats": pred_stats,
        # predicate -> proven-uniform numeric datatype (slim aggregates)
        "pred_numeric_dt": _numeric_dt_stats(stats_rows)
        if compute_stats
        else {},
        # predicate -> physical column name in _subjects
        "pred_columns": pred_columns,
    }
    layout.write_json(os.path.join(path, MANIFEST), manifest)
    return manifest


def _write_quads(
    quads: DataFrame,
    path: str,
    mode: str,
    buckets: dict,
    tasks: int | None,
    rows_per_file: int,
) -> None:
    """The quad layout's one write: rows of predicate ``p`` hash(s)-
    bucketed into ``buckets[p]`` files inside directory ``p=...``.
    ``tasks`` is the shuffle width (None: Spark's default, coalescable),
    ``rows_per_file`` sizes each file's bloom filter."""
    if buckets:
        bucket_of = F.element_at(
            F.create_map(
                *[x for p, b in buckets.items() for x in (F.lit(p), F.lit(b))]
            ),
            F.col("p"),
        )
        keys = (F.col("p"), F.pmod(F.xxhash64(F.col("s")), bucket_of))
        quads = quads.repartition(*((tasks,) if tasks else ()), *keys)
    else:  # empty store
        quads = quads.repartition(1)
    (
        # sortWithinPartitions(p, s): the writer sees output already
        # sorted by its partition column so it keeps row order — each
        # per-predicate file stays s-sorted for row-group min/max pruning
        # on subject-constant patterns. The parquet bloom filter on s
        # adds sub-row-group pruning for subject POINT lookups (the
        # hash(s) bucketing narrows them to one file; min/max stats then
        # bound the row groups; the bloom filter rejects the false
        # positives min/max can't — ptree-lookup parity for the
        # dominant `<s> ?p ?o` access path)
        quads.sortWithinPartitions("p", "s")
        .write.mode(mode)
        .option("parquet.bloom.filter.enabled#s", "true")
        # size the filter to the real per-file subject count — the
        # default expects 1M NDV and writes ~1 MB per file regardless
        .option(
            "parquet.bloom.filter.expected.ndv#s",
            str(max(1024, rows_per_file)),
        )
        .partitionBy("p")
        .parquet(path)
    )


def _stats_pass(quads: DataFrame) -> list:
    """Two-level aggregation: per-predicate row count ``n``, exact
    distinct subjects ``ns``, max objects per subject ``fanout``, plus
    object-datatype uniformity signals (dt min/max + null flags + num
    bounds) — they let the manifest prove a predicate's values are all
    one numeric datatype and exactly DECIMAL(38,6)-representable, which
    the translator's aggregates use to skip the per-row type machinery
    (see ``_numeric_dt_stats``)."""
    return (
        quads.groupBy("p", "s")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("o_dt").alias("md"),
            F.max("o_dt").alias("xd"),
            F.max(F.col("o_dt").isNull().cast("int")).alias("nulldt"),
            F.max(F.col("o_num").isNull().cast("int")).alias("nullnum"),
            F.max(F.abs("o_num")).alias("absmax"),
            F.min(F.when(F.col("o_num") != 0, F.abs("o_num"))).alias(
                "absminnz"
            ),
        )
        .groupBy("p")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("ns"),
            F.max("c").alias("fanout"),
            F.min("md").alias("md"),
            F.max("xd").alias("xd"),
            F.max("nulldt").alias("nulldt"),
            F.max("nullnum").alias("nullnum"),
            F.max("absmax").alias("absmax"),
            F.min("absminnz").alias("absminnz"),
        )
        .collect()
    )


def _numeric_dt_stats(stats_rows: list) -> dict:
    """predicate -> its single numeric datatype, ONLY when the stats
    prove: one non-null datatype across all values, every value parsed
    numeric, and magnitudes inside DECIMAL(38,6)'s exact range (so the
    slim aggregate path is bit-identical to the general exact path)."""
    from fourstore_spark.model import NUMERIC_DATATYPES

    out: dict = {}
    for r in stats_rows:
        if (
            r["nulldt"] == 0
            and r["nullnum"] == 0
            and r["md"] is not None
            and r["md"] == r["xd"]
            and r["md"] in NUMERIC_DATATYPES
            and r["absmax"] is not None
            and r["absmax"] < 1e31
            and (r["absminnz"] is None or r["absminnz"] >= 1e-6)
        ):
            out[r["p"]] = r["md"]
    return out


def _write_subjects(
    stored: DataFrame, path: str, partitions: int, stats_rows: list
) -> tuple:
    """Materialize the wide property table from the stored quads: one
    physical column per predicate — FLAT struct for fan-out-1 predicates,
    array<struct> otherwise."""
    preds = sorted(r["p"] for r in stats_rows)
    if not preds:  # empty store: nothing to pivot, no property table
        return {}, []
    pred_columns = {p: f"p{i}" for i, p in enumerate(preds)}
    # fan-out 1 across ALL graphs (safe for every graph scoping a star
    # scan can group under) -> flat struct column; else array<struct>
    single_valued = sorted(r["p"] for r in stats_rows if r["fanout"] == 1)
    sv = set(single_valued)
    val = F.struct(
        F.col("g"),
        F.col("o_kind").alias("kind"),
        F.col("o_lex").alias("lex"),
        F.col("o_dt").alias("dt"),
        F.col("o_lang").alias("lang"),
        F.col("o_num").alias("num"),
    )
    subj = (
        stored.groupBy("s", "s_kind")
        .agg(
            *[
                (
                    F.first(F.when(F.col("p") == p, val), ignorenulls=True)
                    if p in sv
                    else F.collect_list(F.when(F.col("p") == p, val))
                ).alias(c)
                for p, c in pred_columns.items()
            ]
        )
        .select(
            "s",
            "s_kind",
            *[
                (
                    F.col(c)
                    if p in sv
                    else F.when(F.size(F.col(c)) > 0, F.col(c)).alias(c)
                )
                for p, c in pred_columns.items()
            ],
        )
    )
    subj = subj.repartition(partitions, F.col("s"))
    subj.write.mode("overwrite").parquet(os.path.join(path, "_subjects"))
    return pred_columns, single_valued


# full quad identity — s_kind included so a bnode subject whose label
# equals an existing URI subject's lexical form is NOT deduped against it
QUAD_KEY = ["g", "s", "s_kind", "p", "o_kind", "o_lex", "o_dt", "o_lang"]


def append_quads(
    delta: DataFrame, path: str, rebuild_subjects: bool = False
) -> dict:
    """Incremental import into a persisted store — the reference's live
    4s-import path (fs_import buffers + backend insert into a running KB,
    import.c:333-423) without a store rebuild.

    Set semantics: quads already present are dropped, like the
    reference's resource/quad dedup on import (import-backend.c:74-118).
    The anti-join against the existing store is PRUNED to the delta's
    predicate directories, so a small delta reads a small slice of a
    100 TB store, and new rows append as new files inside the same
    per-predicate layout.

    The property table is NOT rewritten by default (rebuilding it is a
    full groupBy over the store): the manifest is marked
    ``subjects_stale`` and engines opened afterwards fall back to plain
    quad scans for stars — always correct, just without the
    property-table fast path — until ``rebuild_subjects=True`` (or the
    next ``write_store``) refreshes it. Affected predicates also drop out
    of ``single_valued_preds`` conservatively (the delta may raise their
    fan-out; the stats refresh on rebuild restores them)."""
    spark = delta.sparkSession
    manifest = read_manifest(path)
    if not manifest:
        raise ValueError(f"no store manifest at {path}")
    partitions = int(manifest.get("partitions") or 32)
    delta = delta.dropDuplicates(QUAD_KEY)
    preds = [r[0] for r in delta.select("p").distinct().collect()]
    existing = spark.read.parquet(path).where(F.col("p").isin(preds))
    d, s = delta.alias("__d"), existing.alias("__s")
    cond = None
    for k in QUAD_KEY:
        eq = F.col(f"__d.{k}").eqNullSafe(F.col(f"__s.{k}"))
        cond = eq if cond is None else cond & eq
    new = d.join(s, cond, "left_anti").persist()
    n_new = new.count()
    if n_new:
        _write_quads(
            new,
            path,
            "append",
            {p: partitions for p in preds},
            None,
            n_new // partitions,
        )
        manifest["rows"] = int(manifest.get("rows") or 0) + n_new
        # refresh per-predicate stats for the touched predicates only
        # (pruned read of their directories, post-append)
        touched = spark.read.parquet(path).where(F.col("p").isin(preds))
        touched_rows = _stats_pass(touched)
        for r in touched_rows:
            manifest.setdefault("pred_stats", {})[r["p"]] = [
                int(r["n"]),
                int(r["ns"]),
            ]
        # the delta may break a predicate's datatype uniformity: recompute
        # its slim-aggregate eligibility from the refreshed stats
        ndt = manifest.setdefault("pred_numeric_dt", {})
        for p in preds:
            ndt.pop(p, None)
        ndt.update(_numeric_dt_stats(touched_rows))
        sv = set(manifest.get("single_valued_preds") or [])
        manifest["single_valued_preds"] = sorted(sv - set(preds))
        manifest["subjects_stale"] = True
    new.unpersist()
    if rebuild_subjects and manifest.get("subjects_stale"):
        _rebuild_subjects(spark, path, manifest, partitions)
    layout.write_json(os.path.join(path, MANIFEST), manifest)
    return manifest


def _rebuild_subjects(
    spark: SparkSession, path: str, manifest: dict, partitions: int
) -> None:
    """Full property-table + stats refresh (one groupBy over the store);
    mutates ``manifest`` in place, caller persists it."""
    stored = spark.read.parquet(path)
    stats_rows = _stats_pass(stored)
    pred_columns, single_valued = _write_subjects(
        stored, path, partitions, stats_rows
    )
    manifest["pred_columns"] = pred_columns
    manifest["single_valued_preds"] = single_valued
    manifest["pred_stats"] = {
        r["p"]: [int(r["n"]), int(r["ns"])] for r in stats_rows
    }
    manifest["pred_numeric_dt"] = _numeric_dt_stats(stats_rows)
    manifest["subjects_stale"] = False


def _parquet_file_count(d: str) -> int:
    try:
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    except FileNotFoundError:
        return 0


def pred_dir_map(path: str) -> dict:
    """predicate value -> its partition directory inside the store.

    Partition directory names carry Hadoop's %xx path escaping of the
    predicate IRI; ``unquote`` inverts it (Hadoop escapes a superset of
    URL-reserved chars, always as %-hex, so generic unquoting is exact).
    """
    out = {}
    for name in os.listdir(path):
        if name.startswith("p=") and os.path.isdir(os.path.join(path, name)):
            out[urllib.parse.unquote(name[2:])] = os.path.join(path, name)
    return out


def compact_store(
    spark: SparkSession,
    path: str,
    predicates: list | None = None,
    rebuild_subjects: bool = True,
) -> dict:
    """Rewrite fragmented predicate directories back into the bucketed,
    s-sorted layout, and refresh a stale property table.

    Every ``append_quads`` (or engine INSERT) adds at least one new file
    per touched predicate directory and leaves the directory's files
    unsorted relative to each other — at 100 TB a long-lived appending
    store degrades into the classic small-files problem: scan task counts
    grow with append count, not data size, and per-file s-sort row-group
    pruning stops helping. The reference never faces this because its
    ptree indexes are updated in place (src/backend/ptree.c); a
    parquet-immutable layout needs periodic compaction instead.

    Fragmentation is detected from the manifest's per-predicate row
    shares: a directory whose file count exceeds its bucket target
    (same formula as write_store) is rewritten. Only fragmented
    directories are read or written — one pruned read, one bucketed
    sorted write into a hidden staging dir, then ``layout``'s crash-safe
    per-directory swap, so untouched predicates (the bulk of a 100 TB
    store) move zero bytes. Pass ``predicates`` to force-compact a
    specific set.
    """
    layout.recover(path)
    manifest = read_manifest(path)
    if not manifest:
        raise ValueError(f"no store manifest at {path}")
    partitions = int(manifest.get("partitions") or 32)
    pred_stats = manifest.get("pred_stats") or {}
    total = sum(n for n, _ in pred_stats.values()) or 1
    targets = {
        p: max(1, round(n * partitions / total))
        for p, (n, _) in pred_stats.items()
    }
    dirs = pred_dir_map(path)
    if predicates is None:
        touched = [
            p
            for p, d in dirs.items()
            if _parquet_file_count(d) > targets.get(p, partitions)
        ]
    else:
        touched = [p for p in predicates if p in dirs]
    compacted = {}
    if touched:
        buckets = {p: targets.get(p, partitions) for p in touched}
        before = {p: _parquet_file_count(dirs[p]) for p in touched}
        # staged inside the store, so every swap renames within one
        # filesystem
        tmp = os.path.join(path, "_compact_tmp")
        _write_quads(
            spark.read.parquet(path).where(F.col("p").isin(touched)),
            tmp,
            "overwrite",
            buckets,
            max(2, 2 * sum(buckets.values())),
            sum(pred_stats.get(p, (0, 0))[0] for p in touched)
            // max(1, sum(buckets.values())),
        )
        for name in layout.replace_partitions(path, tmp):
            p = urllib.parse.unquote(name[2:])
            compacted[p] = [before[p], _parquet_file_count(dirs[p])]
    if rebuild_subjects and manifest.get("subjects_stale"):
        _rebuild_subjects(spark, path, manifest, partitions)
    manifest["last_compaction"] = {p: c for p, c in sorted(compacted.items())}
    layout.write_json(os.path.join(path, MANIFEST), manifest)
    return manifest


def read_store(spark: SparkSession, path: str) -> DataFrame:
    # an empty store (e.g. after CLEAR ALL) has a manifest but no
    # predicate dirs: parquet schema inference would fail — hand back an
    # empty frame on the quads schema instead
    if not pred_dir_map(path) and read_manifest(path) is not None:
        from fourstore_spark.model import QUADS_SCHEMA

        return spark.createDataFrame([], QUADS_SCHEMA)
    return spark.read.parquet(path)


def read_subjects(spark: SparkSession, path: str) -> DataFrame | None:
    """The store's property table, if materialized."""
    sub = os.path.join(path, "_subjects")
    if not os.path.isdir(sub):
        return None
    return spark.read.parquet(sub)


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    return layout.read_json(p)

