"""The repository's benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout generates the
tables and imports the stores (see build.py); later runs reuse them. The
last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Lines before it describe the run for a human reader.
Exits non-zero without a result if the run cannot be made.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import endpoint, layers, procs, stats  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench-work")
# traced runs time a fresh import of these tables (store.import_s)
IMPORT_SCALE = "sf0.001"
# inputs whose change invalidates the generated tables and stores
BUILD_INPUTS = ("perfbench/datagen.py", "perfbench/build.py",
                "fourstore_spark/store.py", "fourstore_spark/sources/relational.py")

# workload -> the scale of its store
WORKLOADS = {"endpoint-write": "sf0.001", "batch-analytics": "sf0.01"}
END_TO_END = {
    "p50_ms": "ms", "ops_per_s": "1/s", "setup_s": "s",
    "peak_rss_mb": "MB", "store_bytes_ratio": "ratio",
}


class Context:
    @staticmethod
    def data(sf: str) -> str:
        return os.path.join(WORK, "data", sf)

    @staticmethod
    def store(sf: str) -> str:
        return os.path.join(WORK, "store", sf)

    @staticmethod
    def run_dir(workload: str, seed: int, traced: bool) -> str:
        path = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{int(traced)}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    @staticmethod
    def env() -> dict:
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return dict(
            os.environ,
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
            SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )

    def build_record(self) -> dict:
        with open(os.path.join(WORK, "build.json"), encoding="utf-8") as fh:
            return json.load(fh)

    def store_bytes_ratio(self, sf: str) -> float:
        rec = self.build_record()["scales"][sf]
        return rec["store_bytes"] / rec["source_bytes"]

    def time_import(self, sf: str) -> float:
        """Import the tables again into a scratch store, in a process of
        its own; returns the import's wall seconds."""
        log = os.path.join(WORK, "import.log")
        proc = procs.spawn(["perfbench/build.py", "import", self.data(sf),
                            os.path.join(WORK, "tmp", "import-store")],
                           self.env(), log, stdout=subprocess.PIPE)
        try:
            out, _ = proc.communicate(timeout=150)
        finally:
            procs.stop_group(proc)
        if proc.returncode != 0:
            raise RuntimeError(f"import failed, see {log}")
        return json.loads(out.decode().strip().splitlines()[-1])["import_s"]


def build_key() -> str:
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build(ctx: Context) -> None:
    key = build_key()
    try:
        if ctx.build_record().get("key") == key:
            return
    except (OSError, ValueError):
        pass
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    proc = procs.spawn(["perfbench/build.py", "build", WORK, key], ctx.env(), log)
    try:
        code = proc.wait(timeout=800)
    finally:
        procs.stop_group(proc)
    if code != 0:
        raise RuntimeError(f"build failed, see {log}")


def run_batch(ctx: Context, sf: str, seed: int, seconds: float, traced: bool) -> dict:
    run_dir = ctx.run_dir("batch-analytics", seed, traced)
    out_path = os.path.join(run_dir, "result.json")
    args = ["perfbench/batch.py", ctx.store(sf), ctx.data(sf), str(seed),
            str(seconds), out_path]
    if traced:
        args += ["--trace", run_dir]
    proc = procs.spawn(args, ctx.env(), os.path.join(run_dir, "batch.log"))
    try:
        code = proc.wait(timeout=170)
    finally:
        procs.stop_group(proc)
    if code != 0:
        raise RuntimeError(f"batch worker failed, see {run_dir}/batch.log")
    with open(out_path, encoding="utf-8") as fh:
        res = json.load(fh)
    res["store_bytes_ratio"] = ctx.store_bytes_ratio(sf)
    return res


def describe(workload: str, lat: list[float], res: dict) -> list[str]:
    """Human-readable lines: sample counts and the tail they support."""
    n = len(lat)
    tail = stats.supported_tail(n)
    lines = [f"workload {workload}: {n} operations, {len(res['failures'])} failed"]
    lines.append(f"  highest percentile with >=10 samples beyond it: "
                 f"{'p%g' % tail if tail else 'none'}")
    lines.append(f"  all operations: p50={1e3 * stats.median(lat):9.1f} ms "
                 f"p75={1e3 * stats.percentile(lat, 75):9.1f} ms "
                 f"p90={1e3 * stats.percentile(lat, 90):9.1f} ms")
    if "records" in res:
        for kind in ("read", "ryw", "insert", "data", "delete"):
            xs = [1e3 * (r["t1"] - r["t0"]) for r in res["records"] if r["req"].kind == kind]
            if xs:
                lines.append(f"  {kind:6s} n={len(xs):4d} p50={stats.median(xs):9.1f} ms "
                             f"p90={stats.percentile(xs, 90):9.1f} ms "
                             f"max={max(xs):9.1f} ms")
    if "passes" in res:
        lines.append("  passes: " + " ".join(f"{p:.2f}s" for p in res["passes"]))
        for q in layers.BATCH_QUERIES:
            xs = [1e3 * o["latency"] for o in res["ops"] if o["query"] == q]
            lines.append(f"  {q:13s} n={len(xs):2d} p50={stats.median(xs):8.1f} ms "
                         f"max={max(xs):8.1f} ms")
    lines += res.get("findings", [])
    if "layers" in res:
        lines += [f"  {k:30s} {res['layers'][k]:14.3f} {u}" for k, u in layers.PER_LAYER.items()]
    lines += [f"  FAIL {f}" for f in res["failures"][:10]]
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the processes it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        import fourstore_spark.store  # noqa: F401 -- the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    ctx = Context()
    traced = bool(args.trace)
    try:
        ensure_build(ctx)
        # timed before the workload starts, in a process of its own
        import_s = ctx.time_import(IMPORT_SCALE) if traced else None
        if args.workload == "batch-analytics":
            # an operation is one pass; single queries of eight different
            # shapes make a lumpy distribution whose median jumps between them
            res = run_batch(ctx, WORKLOADS[args.workload], args.seed, args.seconds, traced)
            lat = res["passes"]
            checked = len(res["ops"])
            bad_passes = {o["pass"] for o in res["ops"] if not o["ok"]}
            ok = len(lat) - len(bad_passes)
            span = sum(lat)
        else:
            res = endpoint.run(ctx, WORKLOADS[args.workload], args.seed, args.seconds, traced)
            recs = res["records"]
            lat = [r["t1"] - r["t0"] for r in recs]
            checked = len(recs)
            ok = sum(1 for r in recs if r["ok"])
            span = max(r["t1"] for r in recs) - min(r["t0"] for r in recs)
    except (RuntimeError, OSError, subprocess.SubprocessError) as exc:
        print(f"perfbench: run failed: {exc}", file=sys.stderr)
        return 1
    if not lat:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    if traced:
        res["layers"]["store.import_s"] = import_s
    for line in describe(args.workload, lat, res):
        print(line)
    if traced:
        metrics = {k: {"value": res["layers"][k], "unit": u}
                   for k, u in layers.PER_LAYER.items()}
    else:
        values = {
            "p50_ms": 1e3 * stats.median(lat),
            "ops_per_s": ok / span,
            "setup_s": res["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "store_bytes_ratio": res["store_bytes_ratio"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    # batch failures also list first-pass disagreements with DuckDB
    failed = min(checked, len(res["failures"]))
    print(json.dumps({"correct": not res["failures"], "attempted": checked,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
