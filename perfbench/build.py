"""Builds the benchmark's inputs: generated tables and imported stores.

    python3 perfbench/build.py build WORK_DIR
        writes WORK_DIR/data/<sf>/*.parquet for every scale factor the
        workloads use, imports each through the public path
        (``quads_from_sf_dir`` + ``write_store``) into WORK_DIR/store/<sf>,
        and records timings and sizes in WORK_DIR/build.json
    python3 perfbench/build.py import SF_DIR OUT_STORE
        re-imports one table directory into a fresh store and prints
        {"import_s": ...}; traced runs use it to time the import layer

Both run in their own process so the JVM they start ends with them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402

# the tables are a fixed fixture (built once per checkout); --seed varies
# the request stream, not the data
DATA_SEED = 42
SCALES = ("sf0.001", "sf0.01")


def spark_session(app: str, extra: dict | None = None):
    from pyspark.sql import SparkSession

    cpus = str(os.cpu_count() or 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def import_store(spark, sf_dir: str, out: str) -> float:
    from fourstore_spark.sources.relational import quads_from_sf_dir
    from fourstore_spark.store import write_store

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    write_store(quads_from_sf_dir(spark, sf_dir), out)
    return time.perf_counter() - t0


def build(work: str, key: str) -> None:
    record = {"key": key, "data_seed": DATA_SEED, "scales": {}}
    for sf in SCALES:
        datagen.write_tables(os.path.join(work, "data", sf), float(sf[2:]), DATA_SEED)
    spark = spark_session("perfbench-build")
    try:
        for sf in SCALES:
            data, store = (os.path.join(work, d, sf) for d in ("data", "store"))
            secs = import_store(spark, data, store)
            record["scales"][sf] = {
                "import_s": secs,
                "source_bytes": dir_bytes(data),
                "store_bytes": dir_bytes(store),
            }
    finally:
        spark.stop()
    with open(os.path.join(work, "build.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)


def main(argv: list[str]) -> int:
    if argv[:1] == ["build"] and len(argv) == 3:
        build(argv[1], argv[2])
        return 0
    if argv[:1] == ["import"] and len(argv) == 3:
        spark = spark_session("perfbench-import")
        try:
            secs = import_store(spark, argv[1], argv[2])
        finally:
            spark.stop()
        shutil.rmtree(argv[2], ignore_errors=True)
        print(json.dumps({"import_s": secs}))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
