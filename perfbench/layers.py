"""Per-layer metrics of a traced run, folded from its spans, its Spark
event log and the client-side latencies. See README.md for each metric's
meaning; times named ``*_ms`` are per measured operation."""

from __future__ import annotations

from perfbench import stats, trace

BATCH_QUERIES = ("q1_agg", "q2_join", "q3_optional", "q4_topk", "q5_groupjoin",
                 "q6_minhash", "q7_cosine", "q8_textstats")

# name -> unit, in report order
PER_LAYER = {
    "parser.parse_ms": "ms", "parser.calls": "count",
    "translator.translate_ms": "ms", "translator.calls": "count",
    "translator.py4j_calls": "count",
    "engine.query_ms": "ms", "engine.flat_ms": "ms",
    "engine.plan_cache_hit_ratio": "ratio", "engine.plan_cache_hits": "count",
    "engine.plan_cache_misses": "count", "engine.engines_built": "count",
    "spark.action_ms": "ms", "spark.exec_ms": "ms", "spark.jobs": "count",
    "spark.tasks": "count", "spark.input_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_ms": "ms",
    "spark.peak_exec_mem_mb": "MB",
    "results_io.serialize_self_ms": "ms", "results_io.bytes_out": "bytes",
    "httpd.request_ms": "ms", "httpd.self_ms": "ms",
    "update.apply_ms": "ms", "update.commit_ms": "ms",
    "update.full_materializations": "count", "update.parts_depth": "count",
    "rdfio.parse_ms": "ms", "fulltext.config_ms": "ms",
    "operators.minhash_ms": "ms", "operators.cosine_topk_ms": "ms",
    "operators.text_stats_ms": "ms",
    "store.import_s": "s", "store.restore_s": "s",
    **{f"batch.{q}_s": "s" for q in BATCH_QUERIES},
    "trace.root_coverage": "ratio", "trace.self_sum_ratio": "ratio",
    "trace.p50_ms": "ms", "trace.spans": "count",
}

# per-op inclusive time of these spans
_SPAN_MS = {
    "parser.parse_ms": "parser.parse",
    "translator.translate_ms": "translator.translate",
    "engine.query_ms": "engine.query",
    "engine.flat_ms": "engine.flat",
    "spark.action_ms": trace.SPARK_ACTION,
    "update.apply_ms": "update.apply",
    "update.commit_ms": "update.commit",
    "rdfio.parse_ms": "rdfio.parse",
    "fulltext.config_ms": "fulltext.config",
    "operators.minhash_ms": "operators.minhash",
    "operators.cosine_topk_ms": "operators.cosine_topk",
    "operators.text_stats_ms": "operators.text_stats",
}
_MB = 1e6


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def fold(spans: list[dict], root_name: str, latency_s: dict[str, float],
         eventlog: dict[str, dict], extra: dict[str, float]) -> dict[str, float]:
    """spans: every span of the run; root_name: the span that is one
    operation; latency_s: measured request id -> client-side seconds;
    eventlog: trace.fold_eventlog output; extra: values measured
    elsewhere (store.*, batch.*)."""
    measured = [sp for sp in spans if sp["rid"] in latency_s]
    ops = max(1, len(latency_s))
    selfs = trace.self_times(measured)
    named: dict[str, list[dict]] = {}
    for sp in measured:
        named.setdefault(sp["name"], []).append(sp)
    roots = named.get(root_name, [])
    m = {k: 0.0 for k in PER_LAYER}

    for metric, name in _SPAN_MS.items():
        m[metric] = 1e3 * sum(_dur(sp) for sp in named.get(name, [])) / ops
    m["parser.calls"] = len(named.get("parser.parse", []))
    tr = named.get("translator.translate", [])
    m["translator.calls"] = len(tr)
    m["translator.py4j_calls"] = sum(sp["py4j"] for sp in tr) / len(tr) if tr else 0.0
    parsed_under = {sp["parent"] for sp in named.get("parser.parse", [])}
    queries = named.get("engine.query", [])
    misses = sum(1 for sp in queries if sp["id"] in parsed_under)
    m["engine.plan_cache_misses"] = misses
    m["engine.plan_cache_hits"] = len(queries) - misses
    m["engine.plan_cache_hit_ratio"] = (len(queries) - misses) / len(queries) if queries else 0.0
    m["engine.engines_built"] = len(named.get("engine.init", []))

    groups = [g for rid, g in
              ((rid, eventlog.get(trace.JOB_GROUP_PREFIX + rid)) for rid in latency_s) if g]
    m["spark.exec_ms"] = sum(g["job_ms"] for g in groups) / ops
    m["spark.jobs"] = sum(g["jobs"] for g in groups)
    m["spark.tasks"] = sum(g["tasks"] for g in groups)
    m["spark.input_mb"] = sum(g["input_bytes"] for g in groups) / _MB
    m["spark.shuffle_read_mb"] = sum(g["shuffle_read_bytes"] for g in groups) / _MB
    m["spark.shuffle_write_mb"] = sum(g["shuffle_write_bytes"] for g in groups) / _MB
    m["spark.spill_mb"] = sum(g["spill_bytes"] for g in groups) / _MB
    m["spark.gc_ms"] = sum(g["gc_ms"] for g in groups)
    m["spark.peak_exec_mem_mb"] = max((g["peak_exec_mem"] for g in groups), default=0) / _MB

    ser = named.get("results_io.serialize", [])
    m["results_io.serialize_self_ms"] = 1e3 * sum(selfs[sp["id"]] for sp in ser) / ops
    m["results_io.bytes_out"] = sum(sp.get("bytes", 0) for sp in ser) / ops
    if root_name == trace.ROOT:
        m["httpd.request_ms"] = 1e3 * sum(_dur(sp) for sp in roots) / ops
        m["httpd.self_ms"] = 1e3 * sum(selfs[sp["id"]] for sp in roots) / ops
        widths = [sp["union_width"] for sp in roots if sp.get("path", "").startswith("/sparql")]
        m["update.parts_depth"] = sum(widths) / len(widths) if widths else 0.0
    m["update.full_materializations"] = sum(
        1 for sp in named.get("update.commit", []) if sp.get("full"))

    root_of = {sp["rid"]: sp for sp in roots}
    cover = [_dur(root_of[rid]) / lat for rid, lat in latency_s.items()
             if rid in root_of and lat > 0]
    m["trace.root_coverage"] = stats.median(cover) if cover else 0.0
    root_total = sum(_dur(sp) for sp in roots)
    m["trace.self_sum_ratio"] = sum(selfs.values()) / root_total if root_total else 0.0
    m["trace.p50_ms"] = 1e3 * stats.median(list(latency_s.values())) if latency_s else 0.0
    m["trace.spans"] = len(measured)
    m.update(extra)
    return m


def write_findings(spans: list[dict], latency_s: dict[str, float],
                   eventlog: dict[str, dict]) -> list[str]:
    """Human-readable lines for the endpoint: read latency and Spark input
    by the union width each read saw, and the cost of each commit."""
    lines = []
    by_width: dict[int, list] = {}
    for sp in spans:
        if sp["name"] == trace.ROOT and sp["rid"] in latency_s and \
                sp.get("path", "").startswith("/sparql"):
            grp = eventlog.get(trace.JOB_GROUP_PREFIX + sp["rid"], {})
            by_width.setdefault(sp["union_width"], []).append(
                (latency_s[sp["rid"]], grp.get("input_bytes", 0)))
    for width, xs in sorted(by_width.items()):
        lines.append(
            f"  reads at union width {width:2d}: n={len(xs):3d} "
            f"p50={1e3 * stats.median([x[0] for x in xs]):8.1f} ms "
            f"input p50={stats.median([x[1] for x in xs]) / _MB:8.2f} MB")
    for sp in spans:
        if sp["name"] == "update.commit" and sp["rid"] in latency_s:
            lines.append(f"  commit in {sp['rid']:8s} {1e3 * _dur(sp):8.1f} ms "
                         f"full={sp.get('full')} parts after={sp.get('parts')}")
    return lines
