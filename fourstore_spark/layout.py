"""Written layout: how the quad store, the MinHash-LSH, IVF and BM25
indexes, the sketch store and the whole-store replace write, describe
and replace their parquet directories. The reference keeps one storage
layer for its index files and updates them in place (src/backend/
ptree.c); parquet is immutable, so here every layout shares these three
decisions:

- **Partitioned write:** ``repartition(key)`` then ``partitionBy(key)``
  — one directory per key value, one file set per directory, so a probe
  prunes to its key values' directories at planning time.
- **JSON sidecars** (manifests, hyperparameters, statistics) are
  written to a hidden temp file in the same directory and renamed over
  the old one: a failed write leaves the previous sidecar intact.
- **Directory replacement:** the new directory is written beside the
  live one; the live one is renamed aside under a ``_old_`` name, the
  new one renamed in, the aside copy deleted. A crash between any two
  steps leaves the live or the aside copy intact, and ``recover`` (run
  before every replacement and compaction) moves an orphaned aside
  copy back or deletes a stale one. Both renames stay on one
  filesystem. Single writer: quiesce other writers first. On an object
  store, where rename is a copy, stage a generation directory behind a
  manifest pointer swap instead.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# "_"-prefixed names are hidden from Spark's partition discovery and from
# store.pred_dir_map; a partition directory's "=" is spelled "~" in them,
# because Spark's hidden-path filter exempts "_..=.." names
_ASIDE = "_old_"


def _hidden(prefix: str, live: str) -> str:
    head, name = os.path.split(live.rstrip("/"))
    return os.path.join(head, prefix + name.replace("=", "~", 1))


def write_partitioned(
    df: DataFrame, path: str, key: str, mode: str = "overwrite"
) -> None:
    df.repartition(key).write.mode(mode).partitionBy(key).parquet(path)


def write_partition(df: DataFrame, path: str, key: str, value) -> None:
    """(Re)write the one partition ``key=value`` of the table at ``path``;
    rewriting it with the same rows is idempotent."""
    df.write.mode("overwrite").parquet(os.path.join(path, f"{key}={value}"))


def read_json(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def write_json(path: str, obj: dict) -> None:
    head, name = os.path.split(path)
    tmp = os.path.join(head, "." + name + ".tmp")
    try:
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(obj, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def staging(live: str) -> str:
    """An empty path beside ``live`` to write its replacement into."""
    staged = _hidden("_new_", live)
    shutil.rmtree(staged, ignore_errors=True)
    return staged


def recover(path: str) -> None:
    """Finish every replacement of ``path``, or of a directory directly
    inside it, that a crash interrupted."""
    pending = [(path, _hidden(_ASIDE, path))]
    if os.path.isdir(path):
        pending += [
            (
                os.path.join(path, name[len(_ASIDE):].replace("~", "=", 1)),
                os.path.join(path, name),
            )
            for name in sorted(os.listdir(path))
            if name.startswith(_ASIDE)
        ]
    for live, aside in pending:
        if not os.path.isdir(aside):
            continue
        if os.path.exists(live):  # crashed after the rename-in
            shutil.rmtree(aside)
        else:  # crashed between the two renames
            os.rename(aside, live)


def replace(live: str, new: str) -> None:
    """Swap directory ``new`` in as ``live``. A failed rename-in moves the
    live copy back before the error propagates."""
    recover(live)
    aside = _hidden(_ASIDE, live)
    moved = os.path.exists(live)
    if moved:
        os.rename(live, aside)
    try:
        os.rename(new, live)
    except BaseException:
        if moved:
            os.rename(aside, live)
        raise
    shutil.rmtree(aside, ignore_errors=True)


def replace_partitions(root: str, staged: str) -> list[str]:
    """Swap each ``key=value`` directory of ``staged`` in for its
    namesake in ``root``, then delete ``staged``; returns their names."""
    names = sorted(n for n in os.listdir(staged) if "=" in n)
    for name in names:
        replace(os.path.join(root, name), os.path.join(staged, name))
    shutil.rmtree(staged)
    return names


def rewrite(
    spark: SparkSession,
    path: str,
    key: str,
    transform: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> None:
    """Compact the table at ``path``: write ``transform`` of it to one
    file set per ``key`` partition, carry its ``_*.json`` sidecars over,
    and replace it."""
    recover(path)
    staged = staging(path)
    write_partitioned(transform(spark.read.parquet(path)), staged, key)
    for name in os.listdir(path):
        if name.startswith("_") and name.endswith(".json"):
            shutil.copy(os.path.join(path, name), staged)
    replace(path, staged)
