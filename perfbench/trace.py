"""Runtime tracing for traced benchmark runs.

Nothing here changes the program under test on disk: ``install_*``
replaces public entry points of ``fourstore_spark`` modules in the running
process with wrappers that record one span per call. A span is a dict
with ``id``, ``parent``, ``rid`` (request id), ``name``, ``start``,
``end`` (``time.perf_counter`` seconds), ``py4j`` (py4j commands the
calling thread sent inside the span) and optional attributes. Spans nest
per thread, so each request's spans form one tree under its root. Spans
stay in memory until :meth:`Tracer.dump`.

The fold helpers turn spans and a Spark event log into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time

ROOT = "httpd.request"
SPARK_ACTION = "spark.action"
JOB_GROUP_PREFIX = "perfbench:"
REQUEST_HEADER = "X-Bench-Request"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.server = None  # the SparqlHttpServer, once constructed
        self._local = threading.local()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def py4j_sent(self) -> int:
        return getattr(self._local, "py4j", 0)

    def count_py4j(self) -> None:
        self._local.py4j = self.py4j_sent() + 1

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        """Record a span; a call nested inside a span of the same name
        (recursion, or one Spark action calling another) records none."""
        stack = self._stack()
        if any(s["name"] == name for s in stack):
            yield None
            return
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "name": name,
            **attrs,
        }
        py4j0 = self.py4j_sent()
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            sp["py4j"] = self.py4j_sent() - py4j0
            self.spans.append(sp)

    def wrap(self, fn, name: str, after=None):
        """``fn`` recorded as span ``name``; ``after(span, args, result)``
        may add attributes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None and sp is not None:
                    after(sp, args, out)
                return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------------- installing
def _replace_everywhere(orig, new) -> None:
    """Point every loaded fourstore_spark module attribute bound to orig
    at new (``from x import f`` copies the binding into the importer)."""
    for name, mod in list(sys.modules.items()):
        if not (name == "fourstore_spark" or name.startswith("fourstore_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def patch_function(tracer: Tracer, module, attr: str, name: str, after=None):
    orig = getattr(module, attr)
    _replace_everywhere(orig, tracer.wrap(orig, name, after))


def patch_method(tracer: Tracer, cls, attr: str, name: str, after=None):
    raw = cls.__dict__[attr]
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(tracer.wrap(raw.__func__, name, after)))
    else:
        setattr(cls, attr, tracer.wrap(raw, name, after))


def _count_py4j(tracer: Tracer) -> None:
    from py4j.java_gateway import GatewayClient

    orig = GatewayClient.send_command

    def send_command(self, *args, **kwargs):
        tracer.count_py4j()
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = send_command


def _traced_local_iterator(tracer: Tracer, orig):
    """toLocalIterator pulls rows lazily, interleaving Spark jobs with the
    caller's per-row work. Traced, the rows are fetched inside one
    spark.action span up front so the serializer's own time is separable."""

    @functools.wraps(orig)
    def to_local_iterator(self, *args, **kwargs):
        with tracer.span(SPARK_ACTION):
            rows = list(orig(self, *args, **kwargs))
        return iter(rows)

    return to_local_iterator


def _bytes_out(span, args, out) -> None:
    if isinstance(out, str):
        span["bytes"] = len(out.encode("utf-8"))


def install_common(tracer: Tracer) -> None:
    """Wrap the layers shared by the endpoint and in-process workloads."""
    try:  # PySpark 4 runs the classic (non-Connect) subclass
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from fourstore_spark import store
    from fourstore_spark.operators import fulltext
    from fourstore_spark.sources import rdfio
    from fourstore_spark.sparql import engine, parser, results_io, translator, update

    _count_py4j(tracer)
    for attr in ("parse_query", "parse_update"):
        patch_function(tracer, parser, attr, "parser.parse")
    patch_method(tracer, translator.Translator, "translate_query",
                 "translator.translate")
    patch_method(tracer, engine.SparqlEngine, "query", "engine.query")
    patch_method(tracer, engine.SparqlEngine, "__init__", "engine.init")
    patch_method(tracer, engine.SparqlResult, "flat", "engine.flat")
    for attr in ("select_json", "select_xml", "select_csv", "select_tsv",
                 "select_text", "select_testcase", "graph_ntriples",
                 "graph_rdfxml", "graph_turtle", "graph_turtle_abbrev"):
        patch_function(tracer, results_io, attr, "results_io.serialize", _bytes_out)
    patch_method(tracer, update.UpdateEngine, "update", "update.apply")
    patch_method(tracer, update.UpdateEngine, "add_quads", "update.add_quads")
    patch_method(tracer, update.UpdateEngine, "restore", "store.restore")
    orig_commit = update.UpdateEngine.commit

    def commit(self, *args, **kwargs):
        # a commit is a full materialization when it leaves no delta
        # parts behind although it had something to fold
        with tracer.span("update.commit") as sp:
            had_work = bool(self._dirty or self._pending)
            out = orig_commit(self, *args, **kwargs)
            if sp is not None:
                sp["full"] = had_work and not self._parts
                sp["parts"] = len(self._parts)
            return out

    update.UpdateEngine.commit = commit
    for attr in ("quads_from_nt_text", "quads_from_turtle", "quads_from_rdfxml",
                 "quads_from_trig"):
        patch_function(tracer, rdfio, attr, "rdfio.parse")
    patch_function(tracer, fulltext, "fulltext_config", "fulltext.config")
    patch_function(tracer, store, "write_store", "store.write")
    patch_function(tracer, store, "read_store", "store.read")
    for attr in ("collect", "count", "take", "toPandas", "localCheckpoint",
                 "checkpoint"):
        setattr(DataFrame, attr, tracer.wrap(getattr(DataFrame, attr), SPARK_ACTION))
    DataFrame.toLocalIterator = _traced_local_iterator(tracer, DataFrame.toLocalIterator)


def set_job_group(rid: str) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobGroup(JOB_GROUP_PREFIX + rid, rid)


def install_server(tracer: Tracer) -> None:
    """install_common plus the HTTP handler's root span: one per request,
    keyed by the client's request-id header, under its own Spark job
    group, recording the update-store union width the request saw."""
    import urllib.parse

    from fourstore_spark import httpd

    install_common(tracer)
    orig_init = httpd.SparqlHttpServer.__init__

    def root(handler_fn):
        @functools.wraps(handler_fn)
        def handle(h):
            rid = h.headers.get(REQUEST_HEADER) or "-"
            set_job_group(rid)
            srv = tracer.server
            with tracer.span(
                ROOT, rid=rid,
                path=urllib.parse.urlparse(h.path).path,
                union_width=len(srv.ue._parts) + 1,
            ):
                return handler_fn(h)

        return handle

    @functools.wraps(orig_init)
    def init(self, *args, **kwargs):
        orig_init(self, *args, **kwargs)
        tracer.server = self
        for attr in ("do_GET", "do_POST", "do_PUT", "do_DELETE"):
            setattr(self._handler_cls, attr, root(getattr(self._handler_cls, attr)))

    httpd.SparqlHttpServer.__init__ = init


def install_batch(tracer: Tracer) -> None:
    """install_common plus the data-curation operators the batch uses."""
    from fourstore_spark.operators import dedup, similarity, textstats

    install_common(tracer)
    patch_function(tracer, dedup, "minhash_lsh_candidates", "operators.minhash")
    patch_function(tracer, similarity, "cosine_topk", "operators.cosine_topk")
    patch_function(tracer, textstats, "text_stats", "operators.text_stats")


# ------------------------------------------------------------------ folds
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children cover.
    Children nest inside their parent on one thread, so they never
    overlap and their durations add."""
    covered: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            covered[sp["parent"]] = covered.get(sp["parent"], 0.0) + (
                sp["end"] - sp["start"]
            )
    return {
        sp["id"]: (sp["end"] - sp["start"]) - covered.get(sp["id"], 0.0)
        for sp in spans
    }


def by_request(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for sp in spans:
        out.setdefault(sp["rid"], []).append(sp)
    return out


def fold_eventlog(path: str) -> dict[str, dict]:
    """Fold one Spark event log into {job group: totals}: jobs, job wall
    (submission to completion), stages, tasks, executor run and GC time,
    input, shuffle read/write and spill bytes, peak execution memory.
    Stages skipped because their map output was reused count nothing."""
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    task_sums: dict[int, dict] = {}
    prof: dict[str, dict] = {}

    def group(grp: str) -> dict:
        return prof.setdefault(grp, {
            "jobs": 0, "job_ms": 0, "stages": 0, "tasks": 0, "run_ms": 0,
            "gc_ms": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_mem": 0,
        })

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp:
                    job_group[ev["Job ID"]] = grp
                    job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
            elif kind == "SparkListenerJobEnd":
                grp = job_group.get(ev.get("Job ID"))
                if grp:
                    g = group(grp)
                    g["jobs"] += 1
                    g["job_ms"] += max(
                        0, ev.get("Completion Time", 0) - job_start[ev["Job ID"]]
                    )
            elif kind == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                stage_tasks[si.get("Stage ID")] = si.get("Number of Tasks", 0)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                agg = task_sums.setdefault(ev.get("Stage ID"), {
                    "run_ms": 0, "gc_ms": 0, "input_bytes": 0,
                    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                    "spill_bytes": 0, "peak_exec_mem": 0,
                })
                agg["run_ms"] += tm.get("Executor Run Time", 0)
                agg["gc_ms"] += tm.get("JVM GC Time", 0)
                agg["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                agg["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                agg["shuffle_write_bytes"] += (
                    tm.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                agg["spill_bytes"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                )
                agg["peak_exec_mem"] = max(
                    agg["peak_exec_mem"], tm.get("Peak Execution Memory", 0)
                )
    for sid, grp in stage_group.items():
        if sid not in stage_tasks:  # skipped stage
            continue
        g = group(grp)
        g["stages"] += 1
        g["tasks"] += stage_tasks[sid]
        for k, v in task_sums.get(sid, {}).items():
            g[k] = max(g[k], v) if k == "peak_exec_mem" else g[k] + v
    return prof


def find_eventlog(log_dir: str) -> str | None:
    logs = [os.path.join(log_dir, p) for p in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    logs = [p for p in logs if os.path.isfile(p)]
    return max(logs, key=os.path.getmtime) if logs else None


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
