"""Starts the SPARQL endpoint the way ``cli serve STORE`` does.

    python3 perfbench/serve.py STORE PORT [--trace RUN_DIR]

Runs ``fourstore_spark.cli.main(["serve", STORE, "--port", PORT])`` and
shuts Spark down on SIGTERM. With --trace, the tracing wrappers are
installed first, the Spark session gets an event log under RUN_DIR, and on
shutdown the spans are written to RUN_DIR/spans.json before Spark stops.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _interrupt(signum, frame):
    raise KeyboardInterrupt


def main(argv: list[str]) -> int:
    store, port = argv[0], argv[1]
    run_dir = argv[3] if argv[2:3] == ["--trace"] else None
    signal.signal(signal.SIGTERM, _interrupt)
    tracer = None
    if run_dir:
        from pyspark.sql import SparkSession

        from perfbench import trace

        tracer = trace.Tracer()
        trace.install_server(tracer)
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        # the same settings cli._spark() asks for, plus the event log;
        # cli's getOrCreate() then returns this session
        builder = (
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
            .appName("fourstore-cli")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
        )
        for k, v in trace.eventlog_conf(log_dir).items():
            builder = builder.config(k, v)
        builder.getOrCreate()

    from fourstore_spark import cli

    try:
        cli.main(["serve", store, "--port", str(port)])
    except KeyboardInterrupt:
        pass
    finally:
        if tracer is not None:
            tracer.dump(os.path.join(run_dir, "spans.json"))
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
