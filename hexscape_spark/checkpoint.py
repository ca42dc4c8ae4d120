"""Materialisation: durable parquet checkpoints and in-run helpers.

`checkpoint` writes a pipeline stage as a Parquet table keyed by (name,
params, engine_version).  A manifest JSON records the parameter
fingerprint, row/byte metrics and per-partition row counts, so a re-run
resumes from the last valid checkpoint instead of recomputing — the
Spark-native equivalent of the reference's qs cache with version check
(R/load_corine.R:171-199, R/read_corine.R:39-42).  In-run
materialisation goes only through `materialise` and `cached` below, and
a shuffle that must spread a Python stage over every core through
`spread`.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import __version__

ENGINE_VERSION = __version__


def _fingerprint(params: dict) -> str:
    blob = json.dumps(params, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def checkpoint(df: DataFrame, root: str, name: str, params: dict | None = None,
               mode: str = "reuse") -> DataFrame:
    """Write-or-reuse a checkpoint of `df`.

    mode="reuse": if a manifest with matching fingerprint+version exists,
    read the parquet back (resume path) — otherwise compute, write, and
    record lineage.  mode="overwrite": always recompute.
    """
    params = params or {}
    fp = _fingerprint({**params, "engine_version": ENGINE_VERSION})
    path = os.path.join(root, name)
    manifest_path = os.path.join(path, "_lineage.json")
    spark = df.sparkSession

    if mode == "reuse" and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        data_path_r = os.path.join(path, "data")
        # validate the data actually backs the manifest before reusing: a
        # half-deleted checkpoint (or one from a crashed run) must fall
        # through to recompute, not fail late / read stale data
        if (manifest.get("fingerprint") == fp
                and os.path.isdir(data_path_r)
                and os.path.exists(os.path.join(data_path_r, "_SUCCESS"))):
            reused = spark.read.parquet(data_path_r)
            if reused.count() == manifest.get("rows"):
                return reused

    t0 = time.time()
    data_path = os.path.join(path, "data")
    df.write.mode("overwrite").parquet(data_path)
    out = spark.read.parquet(data_path)
    per_part = (out.withColumn("__pid", F.spark_partition_id())
                .groupBy("__pid").count().collect())
    n_rows = sum(r["count"] for r in per_part)
    n_bytes = sum(os.path.getsize(os.path.join(data_path, f))
                  for f in os.listdir(data_path) if f.endswith(".parquet"))
    manifest = {
        "name": name,
        "engine_version": ENGINE_VERSION,
        "fingerprint": fp,
        "params": {k: str(v) for k, v in params.items()},
        "rows": n_rows,
        "bytes": n_bytes,
        "partitions": {str(r["__pid"]): r["count"] for r in per_part},
        "wall_seconds": round(time.time() - t0, 3),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(path, exist_ok=True)
    # atomic manifest publish (temp + rename): readers never observe a
    # partially-written lineage file, and the manifest only ever points at
    # fully-written data (it is created strictly after the parquet commit)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return out


def materialise(df: DataFrame) -> DataFrame:
    """Compute `df` now (eager localCheckpoint); the returned plan reads
    the stored blocks and its lineage is cut.  Every call costs a job, so
    a call site names one reason in a comment: a shared subtree (Catalyst
    re-runs a subtree per consumer), a plan barrier (downstream must not
    re-inline the upstream plan, or the rows must outlive their source),
    a loop boundary (round k must not replay rounds 1..k-1), or a Python
    stage that must not run twice.

    Durability: the blocks live on the executors that computed them and
    are freed when the DataFrame is garbage-collected.  A lost executor
    loses its blocks for good and jobs reading them fail; what must
    survive that, or a restart, goes through `checkpoint` (parquet).
    """
    return df.localCheckpoint(eager=True)


def spread(df: DataFrame, *cols) -> DataFrame:
    """Hash-partition `df` on `cols` into spark.sql.shuffle.partitions
    partitions that AQE keeps.  AQE coalesces a column repartition or a
    groupBy shuffle by bytes, so the small inputs of a Python stage
    behind one land in ONE task; a shuffle with a partition count is
    never coalesced.  Use it where a shuffle already is, on the keys the
    next groupBy or join clusters by, so it replaces that shuffle instead
    of adding one."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


@contextmanager
def cached(df: DataFrame):
    """Persist `df` for a `with` block; unpersist on exit, also on error."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def read_manifest(root: str, name: str) -> dict | None:
    p = os.path.join(root, name, "_lineage.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)
