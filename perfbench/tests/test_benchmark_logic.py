"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import threading

import pytest

from perfbench import layers, mix, stats, trace


# ------------------------------------------------------------ percentiles
def test_nearest_rank_percentile():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 95) == 95
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0
    assert stats.median([3, 1, 2]) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_keeps_ten_samples_beyond():
    assert stats.beyond(200, 95) == 10
    assert stats.supported_tail(200) == 95
    assert stats.supported_tail(199) == 90  # p95 would leave only 9
    assert stats.supported_tail(100) == 90
    assert stats.supported_tail(40) == 75
    assert stats.supported_tail(20) == 50
    assert stats.supported_tail(19) is None


# ----------------------------------------------------------------- spans
def _span(id_, parent, start, end, name="x", rid="r"):
    return {"id": id_, "parent": parent, "start": start, "end": end,
            "name": name, "rid": rid, "py4j": 0}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, 0.0, 10.0),   # root
        _span(2, 1, 1.0, 4.0),       # child
        _span(3, 2, 2.0, 3.5),       # grandchild
        _span(4, 1, 5.0, 9.0),       # child
    ]
    self_t = trace.self_times(spans)
    assert self_t == {1: 3.0, 2: 1.5, 3: 1.5, 4: 4.0}
    assert sum(self_t.values()) == pytest.approx(10.0)  # sums to the root


def test_tracer_nests_per_thread_and_skips_same_name_reentry():
    tr = trace.Tracer()
    with tr.span("root", rid="a"):
        with tr.span("child"):
            with tr.span("child"):  # re-entry: not recorded
                pass

    def other():
        with tr.span("root", rid="b"):
            pass

    t = threading.Thread(target=other)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    by_name = {(s["name"], s["rid"]): s for s in tr.spans}
    assert len(tr.spans) == 3
    root_a, child = by_name[("root", "a")], by_name[("child", "a")]
    assert child["parent"] == root_a["id"]
    assert by_name[("root", "b")]["parent"] is None
    assert root_a["start"] <= child["start"] <= child["end"] <= root_a["end"]


def test_py4j_count_is_per_thread_and_per_span():
    tr = trace.Tracer()
    with tr.span("outer"):
        tr.count_py4j()
        with tr.span("inner"):
            tr.count_py4j()
            tr.count_py4j()
    got = {s["name"]: s["py4j"] for s in tr.spans}
    assert got == {"inner": 2, "outer": 3}


def test_fold_counts_plan_cache_hits_by_parse_children():
    spans = [
        _span(1, None, 0.0, 1.0, trace.ROOT, "m0.0"),
        _span(2, 1, 0.1, 0.9, "engine.query", "m0.0"),
        _span(3, 2, 0.1, 0.2, "parser.parse", "m0.0"),  # miss
        _span(4, None, 2.0, 2.5, trace.ROOT, "m0.1"),
        _span(5, 4, 2.1, 2.2, "engine.query", "m0.1"),  # hit
        _span(6, None, 3.0, 3.1, trace.ROOT, "w0"),      # warm-up: ignored
    ]
    for sp in spans:
        sp.update(path="/sparql/", union_width=1)
    m = layers.fold(spans, trace.ROOT, {"m0.0": 1.0, "m0.1": 0.5}, {}, {})
    assert m["engine.plan_cache_hits"] == 1
    assert m["engine.plan_cache_misses"] == 1
    assert m["engine.plan_cache_hit_ratio"] == 0.5
    assert m["parser.calls"] == 1
    assert m["httpd.request_ms"] == pytest.approx(750.0)  # (1.0 + 0.5) s / 2 ops
    assert m["trace.root_coverage"] == pytest.approx(1.0)
    assert m["trace.self_sum_ratio"] == pytest.approx(1.0)
    assert set(m) == set(layers.PER_LAYER)


# -------------------------------------------------------- event-log fold
def test_eventlog_fold_on_fixture(tmp_path):
    grp = {"spark.jobGroup.id": "perfbench:m0.1"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1, 2], "Properties": grp},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 30, "JVM GC Time": 5, "Peak Execution Memory": 2_000_000,
            "Input Metrics": {"Bytes Read": 1_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 500_000},
            "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 20}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 20, "JVM GC Time": 1, "Peak Execution Memory": 3_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 100, "Local Bytes Read": 400_000}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 4}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 2}},
        # stage 2 was skipped: no completion event, nothing counted
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5, "Stage IDs": [3]},
    ]
    path = tmp_path / "eventlog"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\nnot json\n")
    prof = trace.fold_eventlog(str(path))
    assert list(prof) == ["perfbench:m0.1"]
    g = prof["perfbench:m0.1"]
    assert g["jobs"] == 1 and g["job_ms"] == 250
    assert g["stages"] == 2 and g["tasks"] == 6
    assert g["run_ms"] == 50 and g["gc_ms"] == 6
    assert g["input_bytes"] == 1_000_000
    assert g["shuffle_read_bytes"] == 400_100
    assert g["shuffle_write_bytes"] == 500_000
    assert g["spill_bytes"] == 30
    assert g["peak_exec_mem"] == 3_000_000


# -------------------------------------------------------------- generator
def test_same_seed_gives_byte_identical_streams():
    def render(seed):
        m = mix.Mix(seed, 0.001)
        reqs = m.warmup() + [r for c in range(4) for r in m.stream(c, 300)]
        return "\n".join(r.to_json() for r in reqs).encode()

    assert render(7) == render(7)
    assert render(7) != render(8)


def test_write_stream_tracks_what_each_client_must_see():
    reqs = mix.Mix(3, 0.001).stream(1, 2000)
    kinds = {r.kind for r in reqs}
    assert {"read", "ryw", "insert", "data", "delete"} <= kinds
    share = sum(r.kind in ("insert", "data", "delete") for r in reqs) / len(reqs)
    assert 0.15 < share < 0.25
    # replay the stream's writes; every read of an own subject expects
    # exactly the triples written and not yet deleted before it
    state: dict[str, set] = {}
    import urllib.parse

    for r in reqs:
        if r.kind == "insert":
            text = urllib.parse.parse_qs(r.body)["update"][0]
            for s, p, o in _triples(text):
                state.setdefault(s, set()).add((p, o))
        elif r.kind == "delete":
            text = urllib.parse.parse_qs(r.body)["update"][0]
            for s, p, o in _triples(text):
                state[s].discard((p, o))
        elif r.kind == "data":
            for s, p, o in mix.parse_ntriples(r.body):
                state.setdefault(s, set()).add((p, o))
        elif r.kind == "ryw":
            q = urllib.parse.parse_qs(r.path.split("?", 1)[1] if "?" in r.path else r.body)
            s = q["query"][0].split("<", 1)[1].split(">", 1)[0]
            assert sorted(map(list, state[s])) == r.oracle[1]
    assert state and all(s.startswith("urn:perfbench:c1:") for s in state)


def _triples(update_text):
    body = update_text.split("{", 2)[2].rsplit("}", 2)[0]
    return [t for t in mix.parse_ntriples(body.replace(" . ", " .\n"))]


def test_result_formats_parse_to_the_same_rows():
    rows_json = json.dumps({"head": {"vars": ["c", "bal"]}, "results": {"bindings": [
        {"c": {"type": "uri", "value": "urn:customer:2"},
         "bal": {"type": "literal", "value": "1.0E7",
                 "datatype": "http://www.w3.org/2001/XMLSchema#double"}}]}})
    xml = ('<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">'
           '<head><variable name="c"/><variable name="bal"/></head><results><result>'
           '<binding name="c"><uri>urn:customer:2</uri></binding>'
           '<binding name="bal"><literal>10000000.0</literal></binding>'
           '</result></results></sparql>')
    csv_body = "c,bal\r\nurn:customer:2,1.0E7\r\n"
    tsv = '?c\t?bal\n<urn:customer:2>\t"1.0E7"^^<http://www.w3.org/2001/XMLSchema#double>\n'
    want = [("urn:customer:2", 1e7)]
    for fmt, body in (("json", rows_json), ("xml", xml), ("csv", csv_body), ("tsv", tsv)):
        req = mix.Request("r", "read", "GET", "/sparql/", form="SELECT", fmt=fmt)
        assert mix.parse_body(req, body) == want, fmt
    ask = mix.Request("r", "read", "GET", "/sparql/", form="ASK", fmt="json")
    assert mix.parse_body(ask, '{"head": {}, "boolean": true}') is True


def test_reported_metrics_match_benchmark_json():
    import os

    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
