"""The endpoint-write workload: a closed-loop HTTP client against the
SPARQL endpoint running in its own process."""

from __future__ import annotations

import http.client
import json
import os
import socket
import threading
import time

from perfbench import layers, mix, procs, trace

REQUEST_TIMEOUT_S = 60.0
# measured load: one closed-loop client, like 4store's sequential
# tests/benchmark/run.pl. With four, the same seed's p50 varied by 65%
# from run to run (interleavings decide which requests share a compile).
CLIENTS = 1
WARMUP_THREADS = min(4, os.cpu_count() or 1)
READY_TIMEOUT_S = 150.0


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def send(port: int, req: mix.Request) -> tuple[int, str]:
    """One request on its own connection; returns (status, body). Raises
    OSError (timeouts included) when no complete reply arrives."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
    try:
        headers = {trace.REQUEST_HEADER: req.rid}
        if req.content_type:
            headers["Content-Type"] = req.content_type
        body = req.body.encode("utf-8") if req.body is not None else None
        conn.request(req.method, req.path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read().decode("utf-8")
    finally:
        conn.close()


def wait_ready(port: int, proc) -> None:
    deadline = time.monotonic() + READY_TIMEOUT_S
    probe = mix.Request("ready", "status", "GET", "/status/")
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with code {proc.returncode}")
        try:
            if send(port, probe)[0] == 200:
                return
        except OSError:
            time.sleep(0.05)
    raise RuntimeError("server did not answer in time")


def run_clients(port: int, streams: list[list[mix.Request]], seconds: float) -> list[dict]:
    """Each client sends its stream's next request when the previous
    reply has fully arrived, until the run's time is up."""
    records: list[dict] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client(stream):
        for req in stream:
            t0 = time.perf_counter()
            if t0 >= deadline:
                return
            try:
                status, body, err = *send(port, req), None
            except OSError as exc:
                status, body, err = 0, "", repr(exc)
            records.append({"req": req, "t0": t0, "t1": time.perf_counter(),
                            "status": status, "body": body, "error": err})

    threads = [threading.Thread(target=client, args=(s,)) for s in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def check(records: list[dict], oracle: mix.Oracle) -> list[str]:
    """Mark each record ok or not; return one line per failure."""
    failures = []
    for rec in records:
        req, problem = rec["req"], None
        if rec["error"]:
            problem = rec["error"]
        elif rec["status"] != 200:
            problem = f"HTTP {rec['status']}: {rec['body'][:200]}"
        elif req.kind in ("read", "ryw"):
            try:
                got = mix.parse_body(req, rec["body"])
            except (ValueError, KeyError, IndexError, AttributeError) as exc:
                problem = f"unparsable {req.fmt or req.form} body: {exc!r}"
            else:
                if got != oracle.expected(req):
                    problem = f"wrong answer to {req.path[:160]}"
        rec["ok"] = problem is None
        if problem:
            failures.append(f"{req.rid} {req.kind}: {problem}")
    return failures


def run(ctx, sf: str, seed: int, seconds: float, traced: bool) -> dict:
    """ctx: run.Context; sf: the store's scale, e.g. "sf0.01". Returns
    the run's samples and metrics."""
    port = free_port()
    run_dir = ctx.run_dir("endpoint-write", seed, traced)
    args = ["perfbench/serve.py", ctx.store(sf), str(port)]
    if traced:
        args += ["--trace", run_dir]
    m = mix.Mix(seed, float(sf[2:]))
    t0 = time.perf_counter()
    server = procs.spawn(args, ctx.env(), os.path.join(run_dir, "server.log"))
    try:
        wait_ready(port, server)
        warm = m.warmup()
        reads = [r for r in warm if r.kind == "read"]
        writes = [r for r in warm if r.kind != "read"]
        warm_records = run_clients(
            port, [reads[i::WARMUP_THREADS] for i in range(WARMUP_THREADS)], 1e9
        ) + run_clients(port, [writes], 1e9)
        for rec in warm_records:
            if rec["status"] != 200:
                raise RuntimeError(f"warm-up {rec['req'].rid} failed: {rec['status']} "
                                   f"{rec['error'] or rec['body'][:300]}")
        setup_s = time.perf_counter() - t0
        streams = [m.stream(c) for c in range(CLIENTS)]
        records = run_clients(port, streams, seconds)
        rss_mb = procs.group_peak_rss_mb(server.pid)
    finally:
        procs.stop_group(server)
    failures = check(records, mix.Oracle(ctx.data(sf)))
    out = {
        "records": records, "failures": failures, "setup_s": setup_s,
        "peak_rss_mb": rss_mb, "store_bytes_ratio": ctx.store_bytes_ratio(sf),
    }
    if traced:
        with open(os.path.join(run_dir, "spans.json"), encoding="utf-8") as fh:
            spans = json.load(fh)
        log = trace.find_eventlog(os.path.join(run_dir, "eventlog"))
        restore = [sp for sp in spans if sp["name"] == "store.restore"]
        extra = {"store.restore_s": sum(sp["end"] - sp["start"] for sp in restore)}
        latency = {r["req"].rid: r["t1"] - r["t0"] for r in records}
        groups = trace.fold_eventlog(log) if log else {}
        out["layers"] = layers.fold(spans, trace.ROOT, latency, groups, extra)
        out["findings"] = layers.write_findings(spans, latency, groups)
    return out
